package graft

import org.apache.spark.sql.functions._
import graft.frontier.Politeness
import graft.model.CrawlJob
import graft.ops.RelationalQueries

/** Physical-plan shape assertions — the scale properties that make these
  * operators survive a 100× data increase, pinned as tests so a regression
  * in plan quality fails CI, not a cluster run.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("small-dim lookup joins broadcast (no shuffle of the fact side)") {
    val p = planOf(RelationalQueries.q06BroadcastLookup(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("star join broadcasts both dimensions") {
    val p = planOf(RelationalQueries.q18StarJoin(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("filters reach the parquet scan (predicate pushdown)") {
    val p = planOf(RelationalQueries.q03EligibilityFilter(spark, dir))
    // plan text truncates filter lists at 100 chars — match the prefix
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus)"), p.take(1200))
  }

  test("projection prunes the scan (ReadSchema carries only used columns)") {
    val p = planOf(RelationalQueries.q01StatsAgg(spark, dir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("aggregations combine map-side (partial HashAggregate before exchange)") {
    val p = planOf(RelationalQueries.q01StatsAgg(spark, dir))
    assert(p.contains("HashAggregate") && p.contains("Exchange"), p.take(800))
    // partial agg appears below the exchange: two HashAggregate levels
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("politeness wave costs exactly two exchanges (salted rank + host pass)") {
    import spark.implicits._
    val frontier = spark.createDataset(
      (0L until 100L).map(i => CrawlJob(i, s"http://h${i % 5}.test/img/$i",
        s"h${i % 5}.test", "detail")))
    val wave = Politeness.wave(frontier, 0, 2, Map("detail" -> -1))
    val p = wave.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"politeness grew a shuffle: $exchanges exchanges\n${p.take(1200)}")
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // AQE prints codegen spans only in the final (executed) plan
    val df = RelationalQueries.q01StatsAgg(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print with a "*(n) " stage prefix
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("bloom-positive archive probe prunes to the positive keys' bucket partitions") {
    // The finished-job archive is the all-jobs-ever table: at 10^10 URLs a
    // per-step full scan of its key column is a driver-cost cliff. It is
    // written bucketed by pmod(urlKey, ArchiveBuckets); the exact-seen
    // probe must touch ONLY the bucket dirs its positive keys hash to.
    import graft.corpus._
    import graft.engine.{CrawlEngine, EngineConfig}
    import graft.fetch.CorpusFetcher
    val spec = CorpusSpec(hosts = 1, listPages = 2, detailsPerList = 3)
    // A driver-array frontier archives its finished jobs only when it
    // outgrows driverCollectMaxRows / 1024 rows: at 4096 (a 4-row bound)
    // this 8-job crawl flushes; at 0 every step archives.
    for (driverCollectMaxRows <- Seq(4096L, 0L)) {
      val stateDir = tmpDir("plan-archive")
      val buckets = CrawlEngine.ArchiveBuckets
      val eng = new CrawlEngine(spark, SiteRoutes.registry(spec),
        new CorpusFetcher(SyntheticCorpus.buildLocal(spec)), Nil,
        EngineConfig(statePath = stateDir, hostBudget = 4,
          bloomPartitions = 4, bloomCapacityPerShard = 1 << 16,
          driverCollectMaxRows = driverCollectMaxRows))
      eng.seed(SyntheticCorpus.seeds(spec))
      eng.run()
      val archived = spark.read.parquet(s"$stateDir/jobs_done")
        .select(col("urlKey")).collect().map(_.getLong(0))
      assert(archived.length >= 2, "crawl archived too few jobs for the assert")
      val probeKeys = archived.sorted.take(2)
      val expectedBuckets = probeKeys
        .map(k => (((k % buckets) + buckets) % buckets).toInt).toSet
      val plan = eng.archiveProbePlan(probeKeys, Int.MaxValue)
        .getOrElse(fail("no archive probe plan"))
      // every file the pruned scan selects lives in a positive key's bucket dir
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val exec = plan.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = exec.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, exec.toString.take(800))
      val files = scans.flatMap(_.selectedPartitions.toPartitionArray)
        .map(_.filePath.toString)
      assert(files.nonEmpty, "probe scan selected no files")
      files.foreach { f =>
        assert(expectedBuckets.exists(b => f.contains(s"bucket=$b/")),
          s"probe scanned a non-matching bucket file: $f (expected buckets $expectedBuckets)")
      }
      // and the probe still finds exactly the probed keys
      assert(plan.as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.sameElements(probeKeys))
    }
  }

  test("text sketches (shingles, minhash sig, simhash) are shuffle-free maps") {
    // The per-doc sketch work must ride the ingest scan: at 100 TB an
    // explode + groupBy(doc_id) here shuffles every (doc, token/shingle)
    // row of the corpus just to fold values that never leave their doc.
    // The native TextHash expressions make the whole sketch stage a single
    // codegen'd projection — zero exchanges until the banding join.
    import graft.functions.TextHashExprs._
    val sketch = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), text_shingles(col("text")).as("sharr"),
        simhash64(col("text")).as("sim"))
      .filter(size(col("sharr")) > 0)
      .select(col("doc_id"), minhash_sigs(col("sharr"), 128).as("mh"), col("sim"))
    val p = planOf(sketch)
    assert(!p.contains("Exchange"), s"sketch stage grew a shuffle:\n${p.take(1200)}")
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined,
      p.take(1200))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("source"), readSchema)
  }

  test("item-meta scans of the raw outcome table never read the payload column") {
    // The engine's planning passes over the landed raw outcomes must stay
    // byte-free: StepOutcome splits payloads into the top-level `itemBytes`
    // column exactly so parquet column pruning drops it. A regression here
    // (e.g. a scan that touches the payload) re-reads the wave's gigabytes
    // once per planning pass at scale.
    import spark.implicits._
    import graft.fetch.StepOutcome
    import graft.model.ImageItem
    val item = ImageItem("k", "n", "content", "l", "detail", 1, 0, "0",
      Array[Byte](1, 2, 3), 1, 1, "png", "c", 42L)
    val out = StepOutcome.split(
      CrawlJob(1L, "http://h.test/", "h.test", "detail"),
      200, "ok", Seq(item), Nil, hasNextPage = false, Map.empty)
    val raw = tmpDir("rawscan")
    spark.createDataset(Seq(out)).write.mode("overwrite").parquet(raw)
    // the engine's item-meta projection shape (CrawlEngine.itemMetaDf)
    val meta = spark.read.parquet(raw)
      .select(col("job.urlKey").as("srcJob"), explode(expr(
        "transform(items, it -> named_struct('key', it.key, 'phash', it.phash))"))
        .as("it"))
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = meta.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, plan.toString.take(800))
    scans.foreach { s =>
      assert(!s.requiredSchema.fieldNames.contains("itemBytes"),
        s"payload column read by item-meta scan: ${s.requiredSchema.treeString}")
    }
  }

  test("the distributed spawn scan of the raw outcome table reads no items and no payloads") {
    // the distributed tier's spawn candidates need each outcome's source
    // job, action and spawns; its items and their payload bytes stay on disk
    import spark.implicits._
    import graft.corpus._
    import graft.engine.{CrawlEngine, EngineConfig}
    import graft.fetch.{CorpusFetcher, StepOutcome}
    import graft.model.{ImageItem, SpawnedJob}
    val spec = CorpusSpec(hosts = 1, listPages = 1, detailsPerList = 1)
    val eng = new CrawlEngine(spark, SiteRoutes.registry(spec),
      new CorpusFetcher(SyntheticCorpus.buildLocal(spec)), Nil,
      EngineConfig(statePath = tmpDir("plan-spawn-state"), bloomPartitions = 4,
        bloomCapacityPerShard = 1 << 16))
    val item = ImageItem("k", "n", "content", "l", "detail", 1, 0, "0",
      Array[Byte](1, 2, 3), 1, 1, "png", "c", 42L)
    val out = StepOutcome.split(
      CrawlJob(1L, "http://h.test/", "h.test", SyntheticCorpus.LISTING),
      200, "ok", Seq(item), Seq(SpawnedJob(SyntheticCorpus.DETAIL, "http://h.test/d")),
      hasNextPage = false, Map.empty)
    val raw = tmpDir("spawnscan")
    spark.createDataset(Seq(out)).write.mode("overwrite").parquet(raw)
    val cands = eng.spawnCandidates(spark.read.parquet(raw))
    assert(cands.collect().map(_._3.url).toSeq == Seq("http://h.test/d"))
    // the scan's ReadSchema, unabridged (the plan string cuts it at 100 chars)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val exec = cands.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = exec.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, exec.toString.take(800))
    val readSchema = scans.head.requiredSchema
    assert(readSchema.fieldNames.toSeq == Seq("job", "action", "spawned"), readSchema.treeString)
    // nested pruning drops the job's own counters too (`job.stats.items`)
    assert(!readSchema.catalogString.contains("items"), readSchema.treeString)
  }

  test("q49 prefix scan: the only unpartitioned window sits above the g2 aggregate") {
    // The scale hazard of a distributed prefix sum is a Window with no
    // partitionSpec over the FULL doc relation (one task, n rows). The
    // three-level scan is allowed exactly ONE unpartitioned window, and it
    // must consume the g2-level aggregate (n/W² rows — ~37 at 10^10 docs),
    // never the raw documents scan.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = graft.ops.TextOps.q49SequencePack(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    val unpart = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(unpart.size == 1,
      s"expected exactly one unpartitioned window, got ${unpart.size}\n$plan")
    val aggsBelow = unpart.head.child.collect { case a: Aggregate => a }
    assert(aggsBelow.nonEmpty,
      s"unpartitioned window reads an unaggregated input:\n${unpart.head}")
    assert(aggsBelow.head.groupingExpressions.size == 1,
      s"top window input not reduced to g2 granularity:\n${aggsBelow.head}")
    // result sanity on the same plan object: packing offsets are in-range
    val bad = df.filter("offset < 0 OR offset >= 256 OR seq_id > end_seq").count()
    assert(bad == 0)
  }

  test("q57 reads documents.parquet at most twice (shared base materialized once)") {
    // The composed pipeline's six stage subtrees all derive from the same
    // base relation; before the shared localCheckpoint each re-scanned the
    // corpus from parquet — ~7 full scans at 100 TB where 1-2 pay.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = graft.ops.TextOps.q57ReleasePipeline(spark, dir)
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val docScans = exec.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("documents")) => s
    }
    assert(docScans.size <= 2,
      s"q57 re-scans documents.parquet ${docScans.size} times\n${exec.toString.take(1200)}")
  }

  test("q54/q56 centroid assignment is the native argmin kernel, no interpreted lambdas") {
    // The k-as-plan-literals argmin (array_min over k struct literals with
    // zip_with/aggregate lambdas) breaks at production IVF k: plan/codegen
    // size grew linearly in k·d and the lambdas were CodegenFallback. The
    // assignment must be ONE vec_argmin_d2 kernel whose centroid matrix is
    // a constant reference object.
    for (df <- Seq(graft.ops.VectorOps.q54KmeansLloyd(spark, dir),
                   graft.ops.VectorOps.q56IvfTrainedSearch(spark, dir),
                   graft.ops.VectorOps.q34IvfSearch(spark, dir))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("vec_argmin_d2"), p.take(1200)) // matches _d2d too
      assert(!p.contains("ArrayAggregate") && !p.contains("ArrayTransform"),
        s"interpreted higher-order lambdas back in the assignment path\n${p.take(1200)}")
    }
  }

  test("q62 verify touches no exploded shingle rows (candidate-pruned array fetch only)") {
    // The scale claim of incremental dedup is "no old-side recompute": the
    // epoch-1 corpus may be touched ONLY through its banded signature table
    // and an id-keyed fetch of candidate docs' stored shingle arrays. The
    // round-5 plan exploded the FULL epoch-1 shingle sets into (doc_old,
    // shh) rows and shuffled them through the verify join — at a 10^10-doc
    // old epoch that explode dominates the query. The rewritten verify is
    // array_intersect over id-joined arrays: the ONLY Generate (explode)
    // nodes allowed are the two banding posexplodes, and no shingle-row
    // attribute may appear anywhere in the plan.
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val df = graft.ops.TextOps.q62IncrementalDedup(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    val gens = plan.collect { case g: Generate => g }
    assert(gens.size == 2, s"expected only the 2 banding posexplodes, got ${gens.size}\n$plan")
    gens.foreach { g =>
      val outs = g.generatorOutput.map(_.name).mkString(",")
      assert(outs.contains("band") && outs.contains("sig"),
        s"non-banding explode in q62: $outs")
    }
    assert(!plan.toString.contains("shh"),
      s"exploded shingle rows back in the q62 verify path:\n${plan.toString.take(1200)}")
  }

  test("q02/q07/q13 are windowless map-side-combinable aggregates") {
    // top-1-per-key and group-total queries must not pay a full shuffle +
    // sort of every row: the argmax/sum folds partially before the
    // exchange. Pin: no Window operator, and two HashAggregate levels
    // (partial below the exchange, final above).
    for (df <- Seq(RelationalQueries.q02PriorityTopk(spark, dir),
                   RelationalQueries.q07UpsertMerge(spark, dir),
                   RelationalQueries.q13RunningTotal(spark, dir))) {
      val p = planOf(df)
      assert(!p.contains("Window"), s"window back in a top-1/total query\n${p.take(1200)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2 ||
        "SortAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    }
  }

  test("q47 quantization is a shuffle-free codegen'd map (native kernel, one sort exchange only)") {
    // the per-vector summary must ride the scan: no aggregation shuffle, no
    // CodegenFallback higher-order lambdas — the only Exchange allowed is
    // the final presentation orderBy's range partitioning
    val df = graft.ops.VectorOps.q47QuantizeInt8(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"q47 grew a shuffle: $exchanges exchanges\n${p.take(1200)}")
    assert(p.contains("vec_quantize_int8"), p.take(1200))
    assert(!p.contains("ArrayAggregate") && !p.contains("ArrayTransform"),
      s"interpreted higher-order lambdas back in the q47 hot path\n${p.take(1200)}")
  }
}
