package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, xxhash64}
import graft.canon.UrlCanon
import graft.corpus.{CorpusSpec, SiteRoutes, SynthFetcher, SyntheticCorpus}
import graft.engine.{CrawlEngine, EngineConfig}
import graft.fetch.Fetcher
import graft.model.{FetchedPage, RouteSpec}

/** A crawl workload: the synthetic site, the politeness budget and the
  * fetch fan-out. Everything else is the engine's default.
  */
final case class CrawlShape(spec: CorpusSpec, budget: Int, fetchSplits: Int) {
  def routes: Map[String, RouteSpec] = SiteRoutes.registry(spec, detailConcurrency = budget)
  def config(statePath: String): EngineConfig = EngineConfig(
    statePath = statePath, hostBudget = budget, retryBackoffSteps = 0,
    bloomPartitions = 4, bloomCapacityPerShard = 1 << 18, fetchSplits = fetchSplits)
  def describe: Map[String, Any] = Map("hosts" -> spec.hosts, "listPages" -> spec.listPages,
    "detailsPerList" -> spec.detailsPerList, "img" -> spec.imgW, "budget" -> budget,
    "fetchSplits" -> fetchSplits, "pages" -> (spec.totalDetails + spec.hosts * spec.listPages))
}

object CrawlShapes {
  val all: Map[String, CrawlShape] = Map(
    // fetch+extract bound: every detail page of a host fits one superstep
    "crawl_wide" -> CrawlShape(CorpusSpec(hosts = 8, listPages = 1, detailsPerList = 96,
      imgW = 128, imgH = 128), budget = 128, fetchSplits = 8),
    // driver bound: many supersteps of at most hosts × budget tiny fetches
    "crawl_deep" -> CrawlShape(CorpusSpec(hosts = 8, listPages = 3, detailsPerList = 8,
      imgW = 32, imgH = 32), budget = 8, fetchSplits = 8),
    "smoke_wide" -> CrawlShape(CorpusSpec(hosts = 2, listPages = 1, detailsPerList = 16,
      imgW = 64, imgH = 64), budget = 16, fetchSplits = 2),
    "smoke_deep" -> CrawlShape(CorpusSpec(hosts = 2, listPages = 3, detailsPerList = 4,
      imgW = 32, imgH = 32), budget = 4, fetchSplits = 2))

  /** Three supersteps (listing, details, one retry) with a near-dup pair:
    * every engine path the measured crawls take.
    */
  val warmUp = CrawlShape(CorpusSpec(hosts = 1, listPages = 1, detailsPerList = 6,
    imgW = 32, imgH = 32), budget = 6, fetchSplits = 2)
}

/** Reference outcome of a crawl, set once with the single-threaded NestOracle
  * (see Refs). `digest` sums xxhash64(key, bytes) over every item the oracle
  * lands; the engine additionally suppresses one member of each planted
  * near-duplicate pair (`pairs` of them), which the check adds back.
  */
final case class CrawlRef(fetched: Long, oracleItems: Long, pairs: Long, dead: Long,
    digest: Long, payloadBytes: Long) {
  def items: Long = oracleItems - pairs
}

object CrawlRef {
  def load(refs: String, name: String, shape: CrawlShape): CrawlRef = {
    val n = Json.read(s"$refs/crawl.json").get(name)
    require(n != null, s"no crawl reference for $name")
    // compared as parsed trees: key order and Int/Long do not matter
    require(n.get("shape") == Json.parse(Json(shape.describe)),
      s"the crawl reference of $name is for another shape; regenerate it (--workload refs)")
    CrawlRef(n.get("fetched").asLong, n.get("oracle_items").asLong, n.get("pairs").asLong,
      n.get("dead").asLong, n.get("digest").asText.toLong, n.get("payload_bytes").asLong)
  }

  /** Planted near-dup pairs whose two members both land (neither is a 404). */
  def pairs(spec: CorpusSpec): Seq[(Long, Long)] =
    (1L until spec.totalDetails)
      .filter(id => id % spec.nearDupMod == 3)
      .map(id => (id - 1, id))
      .filter { case (a, b) => a % spec.deadMod != 7 && b % spec.deadMod != 7 }

  def key(spec: CorpusSpec, id: Long): String =
    UrlCanon.canonicalize(spec.detailUrl(spec.hostOf(id), id)).toLowerCase.trim

  /** xxhash64(key, bytes) per item, as the items read computes it. */
  def itemHashes(spark: SparkSession, items: Seq[(String, Array[Byte])]): Map[String, Long] = {
    import spark.implicits._
    items.toDF("key", "bytes").select(col("key"), xxhash64(col("key"), col("bytes")))
      .as[(String, Long)].collect().toMap
  }
}

/** Fetcher wrapper of the traced run: per-call busy time, retries, outcomes. */
final class TracedFetcher(inner: Fetcher) extends Fetcher {
  override def fetch(url: String, attempt: Int): FetchedPage = {
    val t0 = System.nanoTime()
    val p = inner.fetch(url, attempt)
    val t1 = System.nanoTime()
    LayerCounters.fetchCalls.increment()
    LayerCounters.fetchBusyNs.add(t1 - t0)
    if (attempt > 0) LayerCounters.fetchRetries.increment()
    if (p.status == 200) LayerCounters.fetchOk.increment()
    val tr = LayerCounters.tracer
    if (tr != null && tr.detailed)
      tr.add(Span(tr.nextId(), tr.current, "fetch", t0, t1,
        Map("status" -> p.status, "attempt" -> attempt)))
    p
  }
}

/** Deliberately wrong fetcher for the self-check: one live page answers 404. */
final class DroppingFetcher(inner: Fetcher, dropUrl: String) extends Fetcher {
  override def fetch(url: String, attempt: Int): FetchedPage =
    if (url == dropUrl) FetchedPage(url, UrlCanon.host(url), 404, "text/plain", Array.emptyByteArray)
    else inner.fetch(url, attempt)
}

object Crawl {

  /** The routes with each scraper wrapped for busy time and items out. */
  def tracedRoutes(routes: Map[String, RouteSpec]): Map[String, RouteSpec] =
    routes.map { case (k, r) =>
      val inner = r.scraper
      k -> r.copy(scraper = (page: FetchedPage) => {
        val t0 = System.nanoTime()
        val out = inner(page)
        val t1 = System.nanoTime()
        LayerCounters.scrapeBusyNs.add(t1 - t0)
        LayerCounters.scrapeItems.add(out.items.size)
        val tr = LayerCounters.tracer
        if (tr != null && tr.detailed)
          tr.add(Span(tr.nextId(), tr.current, "scrape", t0, t1, Map("items" -> out.items.size)))
        out
      })
    }

  /** One row of the items read: the byte-free columns plus length and hash of the payload. */
  final case class ItemRow(key: String, link: String, imageId: String, caption: String,
      len: Long, hash: Long)

  /** Outcome of one crawl pass (seed → run → items read → resume). */
  final case class Pass(crawlS: Double, stepS: Seq[Double], readS: Double, resumeS: Double,
      fetched: Long, items: Long, payloadBytes: Long, stateBytes: Long, stateFiles: Long,
      statePath: String)

  def dirStats(path: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      var bytes = 0L
      var n = 0L
      files.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
        bytes += java.nio.file.Files.size(p); n += 1
      }
      (bytes, n)
    } finally files.close()
  }

  /** The fidelity check of the items read: count and exact captions. */
  def checkCaptions(ref: CrawlRef, rows: Seq[ItemRow]): Either[String, Unit] = {
    if (rows.size != ref.items) return Left(s"items ${rows.size} != reference ${ref.items}")
    rows.find(r => r.caption != SyntheticCorpus.caption(r.imageId.toLong, UrlCanon.host(r.link)))
      .map(r => Left(s"caption mismatch for ${r.link}")).getOrElse(Right(()))
  }

  /** Check the item keys and payloads against the oracle's digest, with the
    * one suppressed member of each planted near-dup pair added back.
    * `suppressedHash` caches the hashes of those members by item key; it
    * must belong to one crawl shape, since every shape uses the same keys.
    */
  def checkDigest(spark: SparkSession, spec: CorpusSpec, ref: CrawlRef, fetcher: Fetcher,
      rows: Seq[ItemRow], suppressedHash: mutable.Map[String, Long]): Either[String, Unit] = {
    val keys = rows.map(_.key).toSet
    if (keys.size != rows.size) return Left("duplicate item keys")
    val missing = mutable.ArrayBuffer.empty[(String, Long)]
    for ((a, b) <- CrawlRef.pairs(spec)) {
      val (ka, kb) = (CrawlRef.key(spec, a), CrawlRef.key(spec, b))
      (keys.contains(ka), keys.contains(kb)) match {
        case (true, false) => missing += kb -> b
        case (false, true) => missing += ka -> a
        case (x, y) => return Left(s"near-dup pair ($a,$b) present=($x,$y), expected exactly one")
      }
    }
    val todo = missing.filterNot(m => suppressedHash.contains(m._1)).map { case (k, id) =>
      k -> fetcher.fetch(spec.detailUrl(spec.hostOf(id), id), 99).body }
    suppressedHash ++= CrawlRef.itemHashes(spark, todo.toSeq)
    val digest = rows.map(_.hash).sum + missing.map(m => suppressedHash(m._1)).sum
    if (digest != ref.digest) Left(f"item digest $digest%x != reference ${ref.digest}%x")
    else Right(())
  }

  def run(spark: SparkSession, o: Opts, tracer: Tracer, listener: Option[JobListener],
      res: Result, shapeName: String, fetcherOverride: Option[Fetcher] = None): Unit = {
    val shape = CrawlShapes.all(shapeName)
    val ref = CrawlRef.load(o.refs, shapeName, shape)
    val plainFetcher: Fetcher = fetcherOverride.getOrElse(new SynthFetcher(shape.spec))
    val fetcher: Fetcher = if (o.trace) new TracedFetcher(plainFetcher) else plainFetcher
    val routes = if (o.trace) tracedRoutes(shape.routes) else shape.routes
    val seeds = new scala.util.Random(o.seed).shuffle(SyntheticCorpus.seeds(shape.spec))
    LayerCounters.reset()
    LayerCounters.tracer = tracer

    val w0 = System.nanoTime()
    warmUp(spark, o)
    res.detail("warmup_s") = (System.nanoTime() - w0) / 1e9
    val passes = mutable.ArrayBuffer.empty[Pass]
    // hashes of this shape's suppressed near-dup members, kept across its passes
    val suppressedHash = mutable.Map.empty[String, Long]
    // closed loop: the next pass starts only after the previous one returned
    while (passes.size < o.passes(perTenSeconds = 2)) {
      val statePath = s"${o.work}/state/$shapeName-${passes.size}"
      Files.deleteRec(statePath)
      res.op(s"crawl pass ${passes.size}")(onePass(spark, shape, ref, routes, fetcher,
        plainFetcher, seeds, statePath, tracer, suppressedHash)).foreach(passes += _)
      if (res.failed > 0) return
    }

    val steps = passes.flatMap(_.stepS)
    val pass = Stats.median(passes.map(p => p.crawlS + p.readS + p.resumeS).toSeq)
    res.e2e("pass_s") = pass
    res.e2e("op_p50_s") = Stats.median(steps.toSeq)
    val last = passes.last
    res.detail ++= Seq(
      "passes" -> passes.size,
      "crawl_s" -> Stats.median(passes.map(_.crawlS).toSeq),
      "urls_per_s" -> Stats.median(passes.map(p => p.fetched / p.crawlS).toSeq),
      "step_p50_s" -> Stats.median(steps.toSeq),
      "steps_per_crawl" -> last.stepS.size,
      "items_read_s" -> Stats.median(passes.map(_.readS).toSeq),
      "resume_s" -> Stats.median(passes.map(_.resumeS).toSeq),
      "state_bytes_per_item_byte" -> last.stateBytes.toDouble / last.payloadBytes,
      "crawl" -> shape.describe)

    if (o.trace) layerMetrics(spark, o, tracer, listener.get, res, shape, passes.toSeq)
  }

  /** An untimed small crawl before the measured passes, so that they time
    * the engine rather than the JIT compiling it: without it the first
    * crawl_deep pass took ~24 s instead of ~15 s (4 cores).
    */
  private def warmUp(spark: SparkSession, o: Opts): Unit = {
    val shape = CrawlShapes.warmUp
    val dir = s"${o.work}/state/warmup"
    Files.deleteRec(dir)
    val eng = new CrawlEngine(spark, shape.routes, new SynthFetcher(shape.spec), Nil, shape.config(dir))
    eng.seed(SyntheticCorpus.seeds(shape.spec))
    eng.run()
    eng.items.count()
    new CrawlEngine(spark, shape.routes, new SynthFetcher(shape.spec), Nil, shape.config(dir)).resume()
  }

  private def onePass(spark: SparkSession, shape: CrawlShape, ref: CrawlRef,
      routes: Map[String, RouteSpec], fetcher: Fetcher, plainFetcher: Fetcher,
      seeds: Seq[(String, String)], statePath: String, tracer: Tracer,
      suppressedHash: mutable.Map[String, Long]): Either[String, Pass] = {
    val eng = new CrawlEngine(spark, routes, fetcher, Nil, shape.config(statePath))
    val stepS = mutable.ArrayBuffer.empty[Double]
    val (sum, crawlSpan) = tracer.phase("crawl") {
      tracer.phase("seed")(eng.seed(seeds))
      var going = true
      while (going) {
        val (more, s) = tracer.phase("step", Map("index" -> stepS.size))(eng.step())
        going = more
        if (more) stepS += s.seconds
      }
      // run() lands the last pipelined commit and returns the roll-up
      tracer.phase("run")(eng.run())._1
    }
    if (sum.fetched != ref.fetched) return Left(s"fetched ${sum.fetched} != reference ${ref.fetched}")
    if (sum.deadLettered != ref.dead) return Left(s"dead letters ${sum.deadLettered} != reference ${ref.dead}")
    if (sum.items != ref.items) return Left(s"summary items ${sum.items} != reference ${ref.items}")

    import spark.implicits._
    val (checked, readSpan) = tracer.phase("items_read") {
      val rows = eng.items.select(col("key"), col("link"), col("image_id"), col("caption"),
          length(col("bytes")).cast("long"), xxhash64(col("key"), col("bytes")))
        .as[(String, String, String, String, Long, Long)].collect()
        .map { case (k, l, i, c, n, h) => ItemRow(k, l, i, c, n, h) }
      (rows.toSeq, checkCaptions(ref, rows.toSeq))
    }
    val (rows, fidelity) = checked
    val check = fidelity.flatMap(_ => checkDigest(spark, shape.spec, ref, plainFetcher, rows,
      suppressedHash))
    if (check.isLeft) return check.map(_ => null)
    val payloadBytes = rows.map(_.len).sum

    val (resumed, resumeSpan) = tracer.phase("resume") {
      new CrawlEngine(spark, routes, fetcher, Nil, shape.config(statePath)).resume()
    }
    if (resumed.steps != 0 || resumed.fetched != ref.fetched || resumed.items != ref.items)
      return Left(s"resume summary $resumed does not match the crawl")
    val (bytes, files) = dirStats(statePath)
    Right(Pass(crawlSpan.seconds, stepS.toSeq, readSpan.seconds, resumeSpan.seconds,
      sum.fetched, rows.size, payloadBytes, bytes, files, statePath))
  }

  /** Per-layer numbers of the traced run, from the spans, the wrapper
    * counters and the listener's job and task records.
    */
  private def layerMetrics(spark: SparkSession, o: Opts, tracer: Tracer, l: JobListener,
      res: Result, shape: CrawlShape, passes: Seq[Pass]): Unit = {
    // state: compaction and the read after it, on the last pass's state
    val last = passes.last
    val eng = new CrawlEngine(spark, shape.routes, new SynthFetcher(shape.spec), Nil,
      shape.config(last.statePath))
    val (_, compact) = tracer.phase("compact")(eng.compactItems())
    val (_, reread) = tracer.phase("items_read_after_compact")(eng.items.select(
      length(col("bytes"))).collect())
    Bus.drain(spark.sparkContext)

    val crawls = tracer.named("crawl")
    val allSteps = tracer.named("step")
    def within(c: Span) = allSteps.filter(s => s.startNs >= c.startNs && s.endNs <= c.endNs)
    // the last step() of each crawl returned false: it ran no superstep
    val stepsTrue = crawls.flatMap(c => within(c).dropRight(1))
    val crawlWall = crawls.map(_.seconds).sum
    def jobsOf(s: Span) = l.jobsIn(s.startNs, s.endNs)
    def tasksOf(s: Span) = l.tasksIn(s.startNs, s.endNs)
    val lastSteps = within(crawls.last).dropRight(1)
    val allJobs = l.jobs.toArray(Array.empty[JobRec]).toSeq
    val jobIv = allJobs.map(j => (j.startNs, j.endNs))
    val driverOnly = stepsTrue.map(s => s.endNs - s.startNs - Intervals.covered(jobIv, s.startNs, s.endNs)).sum
    val crawlTasks = crawls.flatMap(tasksOf)
    val commitIv = allJobs.filter(_.pool == "graft-commit").map(j => (j.startNs, j.endNs))
    val commitS = crawls.map(c => Intervals.covered(commitIv, c.startNs, c.endNs)).sum / 1e9
    val stepIv = stepsTrue.map(s => (s.startNs, s.endNs))
    val commitOverlap = commitIv.map { case (a, b) => Intervals.covered(stepIv, a, b) }.sum / 1e9
    val commitTotal = commitIv.map { case (a, b) => b - a }.sum / 1e9
    val seedSpans = tracer.named("seed")
    val seedS = Stats.median(seedSpans.map(_.seconds))
    // reconciliation: seed + every step() call against the seed→run() wall;
    // the rest is the final run(), which lands the last pipelined commit
    val runSpans = tracer.named("run")
    def share(spans: Seq[Span]) = crawls.map { c =>
      spans.filter(s => s.startNs >= c.startNs && s.endNs <= c.endNs).map(_.seconds).sum / c.seconds
    }
    val reconcile = share(seedSpans ++ allSteps)
    val reads = tracer.named("items_read")
    val readTasks = reads.map(s => tasksOf(s).size.toDouble)
    val readShuffle = reads.zip(passes).map { case (s, p) =>
      tasksOf(s).map(_.shuffleWrite).sum.toDouble / p.payloadBytes }
    val execRunS = crawlTasks.map(_.runNs).sum / 1e9
    val calls = LayerCounters.fetchCalls.sum.toDouble
    val busyS = (LayerCounters.fetchBusyNs.sum + LayerCounters.scrapeBusyNs.sum) / 1e9
    res.detail("reconcile") = Map(
      "step_span_share_per_crawl" -> reconcile,
      "within_5pct" -> reconcile.forall(r => math.abs(1 - r) <= 0.05),
      "with_final_run_share_per_crawl" -> share(seedSpans ++ allSteps ++ runSpans),
      "fetch_plus_scrape_busy_s" -> busyS, "executor_run_s" -> execRunS,
      "busy_within_executor_time" -> (busyS <= execRunS))
    val L = res.layers
    L("engine.seed_s") = seedS
    L("engine.step_max_s") = stepsTrue.map(_.seconds).max
    L("engine.jobs_per_step") = stepsTrue.map(s => jobsOf(s).size).sum.toDouble / stepsTrue.size
    L("engine.tasks_first_step") = tasksOf(lastSteps.head).size.toDouble
    L("engine.tasks_last_step") = tasksOf(lastSteps.last).size.toDouble
    L("engine.driver_only_s") = driverOnly / 1e9 / crawls.size
    L("engine.executor_busy_share") = execRunS / (crawlWall * o.cores)
    L("engine.commit_pool_s") = commitS / crawls.size
    L("engine.commit_overlap_share") = if (commitTotal > 0) commitOverlap / commitTotal else 0.0
    L("engine.shuffle_write_bytes") = crawlTasks.map(_.shuffleWrite).sum.toDouble / crawls.size
    L("engine.step_span_share") = Stats.median(reconcile)
    L("engine.final_run_s") = Stats.median(runSpans.map(_.seconds))
    L("fetch.calls") = calls / crawls.size
    L("fetch.busy_s") = LayerCounters.fetchBusyNs.sum / 1e9 / crawls.size
    L("fetch.retry_ratio") = LayerCounters.fetchRetries.sum / calls
    L("fetch.ok_ratio") = LayerCounters.fetchOk.sum / calls
    L("scrape.busy_s") = LayerCounters.scrapeBusyNs.sum / 1e9 / crawls.size
    L("scrape.items_out") = LayerCounters.scrapeItems.sum.toDouble / crawls.size
    L("crawl.executor_run_s") = execRunS / crawls.size
    L("items.rows") = passes.last.items.toDouble
    L("items.read_tasks") = Stats.median(readTasks)
    L("items.read_shuffle_bytes_per_payload_byte") = Stats.median(readShuffle)
    L("state.bytes_on_disk") = last.stateBytes.toDouble
    L("state.files") = last.stateFiles.toDouble
    L("state.compact_s") = compact.seconds
    L("state.read_after_compact_s") = reread.seconds
    L("state.resume_s") = Stats.median(passes.map(_.resumeS))
  }
}
