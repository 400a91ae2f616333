package graftbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM; perfbench/run.py builds and launches it.
  * Workloads: crawl_deep, query_pack and crawl_wide (measured), smoke
  * (self-check) and refs (regenerate the stored references).
  */
object Main {
  /** Scale of the generated query-pack tables (lineitem = 60,000 rows). */
  val DataSf = 0.01

  val E2e: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "op_p50_s" -> "s", "heap_live_mb" -> "MB")

  /** Every per-layer metric, printed on every workload of the traced run; a
    * layer the workload does not exercise (see `exercised`) reads 0.
    */
  def layerCatalog: Seq[(String, String)] = Seq(
    "host.codec_pages_per_s" -> "1/s",
    "engine.seed_s" -> "s", "engine.step_max_s" -> "s", "engine.jobs_per_step" -> "count",
    "engine.tasks_first_step" -> "count", "engine.tasks_last_step" -> "count",
    "engine.driver_only_s" -> "s", "engine.executor_busy_share" -> "ratio",
    "engine.commit_pool_s" -> "s", "engine.commit_overlap_share" -> "ratio",
    "engine.shuffle_write_bytes" -> "bytes", "engine.step_span_share" -> "ratio",
    "engine.final_run_s" -> "s",
    "fetch.calls" -> "count", "fetch.busy_s" -> "s", "fetch.retry_ratio" -> "ratio",
    "fetch.ok_ratio" -> "ratio", "scrape.busy_s" -> "s", "scrape.items_out" -> "count",
    "crawl.executor_run_s" -> "s",
    "items.rows" -> "count", "items.read_tasks" -> "count",
    "items.read_shuffle_bytes_per_payload_byte" -> "ratio",
    "state.bytes_on_disk" -> "bytes", "state.files" -> "count", "state.compact_s" -> "s",
    "state.read_after_compact_s" -> "s", "state.resume_s" -> "s",
    "ops.plan_s" -> "s", "ops.exec_s" -> "s", "ops.jobs" -> "count", "ops.tasks" -> "count",
    "ops.shuffle_bytes" -> "bytes", "ops.spill_bytes" -> "bytes", "ops.gc_s" -> "s",
    "ops.executor_run_s" -> "s") ++
    Queries.panel.map(q => s"ops.$q.wall_s" -> "s")

  /** The per-layer metrics a workload measures: the host probe, and the
    * crawl layers on a crawl or the `ops` layer of the queries it ran.
    */
  def exercised(crawl: Boolean, queries: Seq[String]): Seq[String] = {
    val walls = queries.map(q => s"ops.$q.wall_s").toSet
    layerCatalog.map(_._1).filter { n =>
      n.startsWith("host.") ||
        (if (crawl) !n.startsWith("ops.") else n.startsWith("ops.") && (!n.endsWith(".wall_s") || walls(n)))
    }
  }

  def dataDir(o: Opts): String = s"${o.work}/data-${DataGen.Version}-sf$DataSf"

  /** Generate the query tables once per work dir; a marker file makes a
    * half-written set regenerate.
    */
  def ensureData(spark: => SparkSession, o: Opts): String = {
    val dir = dataDir(o)
    val done = new java.io.File(s"$dir/_COMPLETE")
    if (!done.exists()) {
      Files.deleteRec(dir)
      DataGen.generate(spark, dir, DataSf)
      java.nio.file.Files.createFile(done.toPath)
    }
    dir
  }

  /** Set-up of one session: start it and warm it as graft.Bench does (a
    * trivial job; the query pack also reads its smallest table).
    */
  def setupOnce(o: Opts, crawl: Boolean, dataDir: String): SparkSession = {
    val spark = Session.start(o)
    spark.range(1000).selectExpr("sum(id)").collect()
    if (!crawl) spark.read.parquet(s"$dataDir/region.parquet").count()
    spark
  }

  def provenance(o: Opts, spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> o.cores,
    "master" -> spark.sparkContext.master,
    "spark_version" -> spark.version,
    "confs" -> Session.confs(spark),
    "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(a => a.startsWith("-XX") || a.startsWith("-Xm")),
    "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
    "data_sf" -> DataSf, "seed" -> o.seed, "seconds" -> o.seconds) ++ o.prov

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val code = try o.workload match {
      case "refs" => Refs.run(o); 0
      case "smoke" => Smoke.run(o)
      case w => measure(o, w); 0
    } catch {
      case e: Throwable =>
        System.err.println(s"graftbench: ${o.workload} failed: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  final case class Measured(res: Result, spark: SparkSession)

  /** Set up, run one workload and return what it measured. */
  def runWorkload(o: Opts, workload: String, fetcher: Option[graft.fetch.Fetcher] = None,
      queries: Option[Seq[String]] = None): Measured = {
    val crawl = CrawlShapes.all.contains(workload)
    if (!crawl && workload != "query_pack")
      throw new IllegalArgumentException(s"unknown workload $workload")
    val panel = queries.getOrElse(Queries.panel)
    // where a run's wall time goes, for sizing runs against their budget
    val harness = scala.collection.mutable.LinkedHashMap[String, Any]("jvm_start_to_main_s" ->
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean
        .getStartTime) / 1e3)
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally harness(name) = (System.nanoTime() - t0) / 1e9
    }
    // host-drift probe: the image codec kernel at nproc threads, untimed
    val codec = timed("codec_probe_s") {
      graft.tools.CodecCal.run(32, o.cores, 128)
      graft.tools.CodecCal.run(128, o.cores, 128)
    }

    // the tables are generated once per work dir, in a session of their own
    val data = if (crawl) "" else {
      val dir = ensureData(Session.start(o), o)
      SparkSession.getActiveSession.foreach(_.stop())
      dir
    }
    // set up three times and keep the median; the last session is measured
    val setupS = timed("setups_s")((0 until 3).map { i =>
      val t0 = System.nanoTime()
      val s = setupOnce(o, crawl, data)
      val sec = (System.nanoTime() - t0) / 1e9
      if (i < 2) s.stop()
      sec
    })
    val spark = SparkSession.active
    val tracer = new Tracer(o.trace)
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val res = new Result
    timed("workload_s") {
      if (crawl) Crawl.run(spark, o, tracer, listener, res, workload, fetcher)
      else Queries.run(spark, o, tracer, listener, res, data, panel)
    }
    res.exercised = exercised(crawl, panel)

    res.e2e("setup_s") = Stats.median(setupS)
    res.e2e("heap_live_mb") = timed("heap_gc_s")(HeapLive.mb())
    res.detail("harness") = harness
    res.layers("host.codec_pages_per_s") = codec
    res.detail("host.codec_pages_per_s") = codec
    res.detail("setup_samples_s") = setupS
    res.detail("provenance") = provenance(o, spark)
    if (crawl) res.detail("crawl_shape") = CrawlShapes.all(workload).describe
    if (res.failures.nonEmpty) res.detail("failures") = res.failures.toSeq
    if (o.trace) {
      listener.foreach(_ => Bus.drain(spark.sparkContext))
      res.detail("trace_file") = writeTrace(o, workload, tracer, listener)
    }
    Measured(res, spark)
  }

  def writeTrace(o: Opts, workload: String, tracer: Tracer, l: Option[JobListener]): String = {
    val dir = new java.io.File(s"${o.work}/traces")
    dir.mkdirs()
    val f = new java.io.File(dir, s"$workload-seed${o.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      val t0 = tracer.all.headOption.map(_.startNs).getOrElse(0L)
      def us(ns: Long) = (ns - t0) / 1000
      tracer.all.foreach { s =>
        w.println(Json(Map("kind" -> "span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_us" -> us(s.startNs), "dur_us" -> (s.endNs - s.startNs) / 1000, "attrs" -> s.attrs)))
      }
      l.foreach(_.jobs.asScala.toSeq.sortBy(_.startNs).foreach { j =>
        w.println(Json(Map("kind" -> "job", "id" -> j.id, "pool" -> j.pool, "call_site" -> j.callSite,
          "start_us" -> us(j.startNs), "dur_us" -> (j.endNs - j.startNs) / 1000,
          "stages" -> j.stages)))
      })
    } finally w.close()
    f.getPath
  }

  /** Metrics the run should have measured and did not: every end-to-end
    * one (untraced), or every per-layer one the workload exercises (traced).
    */
  def missing(o: Opts, res: Result): Seq[String] =
    if (o.trace) res.exercised.filterNot(res.layers.contains)
    else E2e.map(_._1).filterNot(res.e2e.contains)

  /** The result line: every end-to-end metric (untraced) or every per-layer
    * metric (traced), by name with its unit. A metric the run should have
    * measured and did not reads 0 and makes the result incorrect.
    */
  def resultLine(o: Opts, res: Result): String = {
    val wanted = if (o.trace) layerCatalog else E2e
    val src = if (o.trace) res.layers else res.e2e
    val metrics = wanted.map { case (name, unit) =>
      name -> Map("value" -> src.getOrElse(name, 0.0), "unit" -> unit)
    }
    val complete = missing(o, res).isEmpty
    val m = scala.collection.mutable.LinkedHashMap[String, Any](metrics: _*)
    Json(scala.collection.mutable.LinkedHashMap[String, Any](
      "correct" -> (res.failed == 0 && complete), "attempted" -> math.max(1L, res.attempted),
      "failed" -> (if (res.attempted == 0) 1L else res.failed), "metrics" -> m))
  }

  def measure(o: Opts, workload: String): Unit = {
    val m = runWorkload(o, workload)
    // a line for people; the result is the last line
    println("graftbench detail " + Json(m.res.detail ++ m.res.e2e))
    m.spark.stop()
    println(resultLine(o, m.res))
  }
}
