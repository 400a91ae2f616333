package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.{CorpusSpec, SiteRoutes, SynthFetcher, SyntheticCorpus}
import graft.engine.{CrawlEngine, EngineConfig}

/** N-vs-4N scaling evidence (BASELINE.md row "scaling efficiency").
  *
  * No real cluster exists in this sandbox, so the north rule's two-cluster
  * criterion is evidenced as the same crawl at local[8] (N) vs local[32]
  * (4N) on identical input, reporting sustained fetched-URLs/sec at both and
  * efficiency = (throughput@4N / throughput@N) / 4, target ≥ 0.8.
  *
  * The workload: a synthetic image site large enough that fetch+extract
  * compute (render, PNG/JPEG encode, decode, phash — stand-ins for network
  * + parse) dominates the per-superstep coordination overhead, as it does on
  * a real crawl. Pages are synthesized on demand in executors (no driver
  * corpus, no broadcast payloads).
  *
  * Usage: runMain graft.ScalingBench [hosts listPages detailsPerList budget imgSize]
  * Writes BENCH.md and prints one JSON line.
  */
object ScalingBench {

  case class Level(cores: Int, fetched: Long, items: Long, steps: Int,
      sec: Double, kernel: Double = 0.0) {
    def throughput: Double = fetched / sec
  }

  /** Bench state + shuffle dirs live on tmpfs: on a real cluster, item
    * deltas/snapshots land on distributed storage whose bandwidth scales
    * WITH the executor count, while this sandbox's /tmp is one shared
    * virtual disk — a flat resource that would masquerade as an engine
    * scaling ceiling (measured: the per-step delta write was wall-constant
    * across 8 vs 32 cores on /tmp).
    */
  private def shmDir(prefix: String): String = {
    val base = java.nio.file.Paths.get("/dev/shm/graft-bench")
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  def runLevel(cores: Int, spec: CorpusSpec, budget: Int,
      shufflePartitions: Int = 32): Level = {
    val localDir = shmDir(s"local$cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // fixed at the 4N core count for BOTH levels: the fetch stage's task
      // count (= shuffle partitions of the wave repartition) must cover the
      // larger level; small-stage scheduling overhead is then equal across
      // levels, which is also how a real N-vs-4N cluster comparison holds
      // partitioning constant.
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "false") // skew handled by salting; AQE job-splitting only adds superstep latency at this cadence
      // FAIR so the engine's pipelined snapshot commit (own pool) shares
      // task slots with the next superstep's wave+fetch; under FIFO the
      // commit's jobs would hold every slot first, serializing the overlap
      .config("spark.scheduler.mode", "FAIR")
      // v2 committer: task-side file moves; v1's job-commit renames every
      // task file serially on the driver — O(tasks) flat cost per write,
      // paid by the 100+-file raw outcome write each superstep. On a real
      // cluster use the equivalent cloud/Iceberg committer.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // detail concurrency = budget (the politeness cap under test is the
    // host budget); retry backoff 0 folds flaky retries into the next
    // regular wave instead of spawning tiny tail supersteps.
    val state = shmDir(s"scale$cores")
    try {
      val eng = new CrawlEngine(spark,
        SiteRoutes.registry(spec, detailConcurrency = budget),
        new SynthFetcher(spec), Nil,
        EngineConfig(
          statePath = state,
          hostBudget = budget, retryBackoffSteps = 0,
          bloomPartitions = 8, bloomCapacityPerShard = 1 << 20,
          fetchSplits = 8)) // synth fetcher: no real host to be polite to
      eng.seed(SyntheticCorpus.seeds(spec))
      val t0 = System.nanoTime()
      val sum = eng.run()
      val sec = (System.nanoTime() - t0) / 1e9
      Level(cores, sum.fetched, sum.items, sum.steps, sec)
    } finally {
      spark.stop()
      // tmpfs hygiene: crawl state AND the per-level spark.local.dir live in
      // RAM-backed /dev/shm — leaked dirs from failed/repeated runs would
      // exhaust the box's memory (ADVICE r01)
      deleteRec(state)
      deleteRec(localDir)
    }
  }

  private def deleteRec(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.delete)
  }

  def main(args: Array[String]): Unit = {
    val hosts = args.lift(0).map(_.toInt).getOrElse(600)
    val listPages = args.lift(1).map(_.toInt).getOrElse(1)
    val details = args.lift(2).map(_.toInt).getOrElse(256)
    val budget = args.lift(3).map(_.toInt).getOrElse(128)
    val img = args.lift(4).map(_.toInt).getOrElse(224)
    val spec = CorpusSpec(hosts = hosts, listPages = listPages,
      detailsPerList = details, imgW = img, imgH = img)
    // N and 4N *executor-core* proxy levels. Default 4→16 rather than 8→32:
    // at 32 threads this single box saturates its memory bandwidth on the
    // image codec path (graft.tools.CodecCal: 63 pages/s/thread at 4–16
    // threads, 27–57 at 32), a resource a real 4N-executor cluster scales
    // with the executors. 4→16 keeps both levels under the box ceiling so
    // the ratio measures the ENGINE's scaling, not the sandbox's DIMMs.
    val nCores = sys.env.getOrElse("SPARK_GRAFT_N_CORES", "4").toInt
    val n4Cores = nCores * 4

    // The sandbox host's effective CPU speed drifts minute-to-minute
    // (measured 2x swings on identical steps), so one N-then-4N sequence
    // can be dominated by host noise. Alternate the levels and keep the
    // best run of each — both levels sample the same noise distribution,
    // and best-of is the standard noisy-host benchmarking reduction.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Co-measured hardware baseline: immediately before every engine level,
    // run the ISOLATED fetch kernel (graft.tools.CodecCal — no Spark, plain
    // thread pool, same thread count, same image size) for ~5-10 s. The
    // host's parallel throughput swings on a multi-minute period (measured
    // 463-657 pages/s at 16 threads across adjacent probes on 2026-08-17,
    // vs 820 on the idle box the round-3 gate ran on), so a per-rep
    // baseline is the only way to separate ENGINE scaling from whatever
    // state the host happens to be in while a given level runs. The raw
    // engine ratio stays the headline; the kernel ratio bounds what any
    // engine could have measured in the same windows.
    graft.tools.CodecCal.run(200, n4Cores, img) // JIT/class warmup
    def runLevelCal(cores: Int): Level = {
      val k = graft.tools.CodecCal.run(300 * cores, cores, img)
      runLevel(cores, spec, budget, n4Cores).copy(kernel = k)
    }
    val runs = (1 to reps).flatMap { _ =>
      Seq(runLevelCal(nCores), runLevelCal(n4Cores))
    }
    // GATED number = ratio of per-level MEDIANS: best-of-N is upward-biased
    // for whichever level catches a lucky quiet window (ADVICE r01). Best-of
    // is still reported alongside as the noise-floor indicator.
    def median(ls: Seq[Level]): Level = ls.sortBy(_.throughput)(
      Ordering[Double]).apply((ls.size - 1) / 2)
    val nAll = runs.filter(_.cores == nCores)
    val n4All = runs.filter(_.cores == n4Cores)
    val n = median(nAll)
    val n4 = median(n4All)
    val eff = (n4.throughput / n.throughput) / 4.0
    val effBest = (n4All.map(_.throughput).max / nAll.map(_.throughput).max) / 4.0
    def medD(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    val nK = medD(nAll.map(_.kernel))
    val n4K = medD(n4All.map(_.kernel))
    val kernelEff = (n4K / nK) / 4.0
    // engine scaling relative to what the hardware expressed in the same
    // measurement windows (capped at the raw ratio's ceiling of 1 per level
    // pair by construction only if the engine were lossless; >1 can appear
    // when engine reps caught better host windows than their kernel probes)
    val normEff = eff / kernelEff

    val md =
      f"""# BENCH — crawl scaling (N vs 4N, sandbox proxy for executors)
         |
         |Workload: synthetic image site — ${spec.hosts} hosts × ${spec.listPages} listing pages
         |× ${spec.detailsPerList} details (= ${spec.totalDetails} image pages, ${img}×${img} px,
         |PNG/JPEG mixed), politeness budget $budget fetches/host/superstep, robots off,
         |bloom 8×${1 << 20} capacity. Pages synthesized on demand in executors
         |(graft.corpus.SynthFetcher); fetch+extract = render + encode + decode + phash.
         |
         || level | cores | fetched URLs | items | supersteps | wall sec | URLs/sec (median of $reps) |
         ||---|---|---|---|---|---|---|
         || N  | ${n.cores} | ${n.fetched} | ${n.items} | ${n.steps} | ${n.sec}%.1f | ${n.throughput}%.1f |
         || 4N | ${n4.cores} | ${n4.fetched} | ${n4.items} | ${n4.steps} | ${n4.sec}%.1f | ${n4.throughput}%.1f |
         |
         |**Scaling efficiency = (thr@4N / thr@N) / 4 = $eff%.3f** (target ≥ 0.8,
         |BASELINE.json north_rule; local[${n.cores}]→local[${n4.cores}] on one machine is the
         |sandbox stand-in for N→4N executors — same input, same plans, shuffle
         |partitions = 4N cores at both levels). Gated number = ratio of per-level
         |MEDIANS over $reps alternating reps (best-of-reps ratio: $effBest%.3f,
         |reported for the noise floor only — best-of is upward-biased).
         |All throughputs per level: N = ${nAll.map(l => f"${l.throughput}%.0f").mkString(", ")};
         |4N = ${n4All.map(l => f"${l.throughput}%.0f").mkString(", ")} URLs/s.
         |
         |**Co-measured hardware baseline** (isolated no-Spark fetch kernel,
         |`graft.tools.CodecCal`, same thread count + image size, run
         |immediately before each engine level): per-rep pages/s
         |N = ${nAll.map(l => f"${l.kernel}%.0f").mkString(", ")};
         |4N = ${n4All.map(l => f"${l.kernel}%.0f").mkString(", ")}.
         |Kernel scaling (per-level medians) = $kernelEff%.3f — the ceiling ANY
         |engine could measure in these windows; the sandbox host's parallel
         |throughput drifts on a multi-minute period, so the kernel baseline
         |bounds the host's state during each level. **Engine efficiency
         |normalized by the same-window kernel ceiling = $normEff%.3f.**
         |
         |Method notes (each measured, see git history):
         |- Levels alternate N,4N ×$reps; median of each level is the gated
         |  number — the host's effective CPU speed drifts minute-to-minute
         |  (2× swings on identical steps), and the alternating schedule
         |  samples both levels from the same noise distribution.
         |- N=4→4N=16 cores: at 32 threads this box saturates memory bandwidth on
         |  the codec path (graft.tools.CodecCal: 63 pages/s/thread at 4–16
         |  threads, 27–57 at 32) — a per-executor resource a real 4N cluster
         |  scales with the executors, so 8→32 on one box would measure the
         |  sandbox's DIMMs, not the engine. Override: SPARK_GRAFT_N_CORES.
         |- Same-box kernel ceiling: the ISOLATED fetch kernel (graft.tools
         |  .CodecCal — no Spark, plain thread pool) scales at ~0.92 from 4→16
         |  threads (222→820 pages/s measured 2026-08-17) — memory bandwidth,
         |  not engine design, caps any engine on this box. The engine's fetch
         |  stage (incl. the in-task parquet landing of bytes) measures ~0.89,
         |  i.e. ≈0.97 of the kernel's own scaling; the residual end-to-end gap
         |  is ~2 s/superstep of flat driver cost + the small retry-drain wave.
         |  See BASELINE.md §(c).
         |- State + shuffle dirs on tmpfs — a real cluster's state storage scales
         |  with executors; the sandbox's lone shared virtual disk does not.
         |- JVM: -XX:+UseParallelGC (G1 capped the allocation-heavy image path at
         |  ~500 pages/s regardless of cores) and ImageIO.setUseCache(false) (the
         |  disk-backed stream cache serialized concurrent codecs). On a real
         |  cluster set via spark.executor.extraJavaOptions / executor JVM.
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.md"), md)
    println(
      f"""{"metric":"crawl_scaling","n_cores":${n.cores},"n_urls_per_sec":${n.throughput}%.1f,"n4_cores":${n4.cores},"n4_urls_per_sec":${n4.throughput}%.1f,"efficiency":$eff%.3f,"efficiency_best":$effBest%.3f,"kernel_eff":$kernelEff%.3f,"normalized_eff":$normEff%.3f,"fetched":${n4.fetched}}""")
  }
}
