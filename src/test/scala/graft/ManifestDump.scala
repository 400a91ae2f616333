package graft

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import graft.corpus.{SiteRoutes, SyntheticCorpus}
import graft.engine.{CrawlEngine, EngineConfig, FetchLog}
import graft.fetch.CorpusFetcher

/** Crawls the `CrawlEngineSpec` corpus seven ways, keeping every snapshot
  * version (`retainSnapshots = 1000`), each into `<outDir>/<run>`:
  *
  *  - `default`, `distributed` (`driverCollectMaxRows = 0`), `crossing`
  *    (4096: the frontier crosses the driver bound both ways) and `flushing`
  *    (24 × 1024: the driver array flushes its finished jobs);
  *  - `listener`: the default run with a [[CrawlEngine.StepListener]], so
  *    every commit is synchronous;
  *  - `resumed-default` and `resumed-distributed`: stopped after 3 steps,
  *    then `resume()`d by a fresh engine.
  *
  * Then it writes `<outDir>/rows/<run>.txt` for each run: every row of the
  * run's state tables — each version's frontier and bloom shards, and every
  * step dir of the raw outcome table (`items_raw`), the fetch log, the
  * equality deletes and the archive — as one line `<table dir> <row>`,
  * sorted, with map entries sorted and binary values (the bloom sketches,
  * the item payloads) as their SHA-256.
  *
  * Two builds that crawl alike leave byte-identical `_snapshot.json` files
  * and row dumps, so comparing the trees of two builds checks that a change
  * keeps the engine's behaviour and its state tables' contents, whatever
  * writes their files. It crawls through the engine's public API only and
  * reads the state tables as plain parquet.
  *
  * Usage: `sbt "Test/runMain graft.ManifestDump <outDir>"`, into an
  * `<outDir>` that does not exist yet: `seed()` refuses a state path that
  * already holds a crawl.
  */
object ManifestDump {
  /** A value as a line fragment that does not depend on map order. */
  private def show(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${show(k)}->${show(x)}" }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => "sha256:" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(b).map(x => f"$x%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(show).mkString("[", ",", "]")
    case x => x.toString
  }

  private def dumpRows(spark: SparkSession, runDir: String, out: String): Unit = {
    val root = new java.io.File(runDir)
    def tableDirs(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).toSeq.flatten
      (if (kids.exists(_.getName.endsWith(".parquet"))) Seq(d) else Nil) ++
        kids.filter(_.isDirectory).flatMap(tableDirs)
    }
    val lines = tableDirs(root).flatMap { d =>
      val table = root.toPath.relativize(d.toPath).toString
      spark.read.parquet(d.getPath).collect().map(r => s"$table ${show(r)}")
    }.sorted
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir) = args
    val spark = SparkTestSession.spark
    val spec = CrawlEngineSpec.corpus
    val routes = SiteRoutes.registry(spec)
    val fetcher = new CorpusFetcher(SyntheticCorpus.buildLocal(spec))
    def engine(cfg: EngineConfig, listeners: Seq[CrawlEngine.StepListener] = Nil) =
      new CrawlEngine(spark, routes, fetcher, Nil, cfg, listeners = listeners)
    def crawl(run: String, tweak: EngineConfig => EngineConfig,
        listeners: Seq[CrawlEngine.StepListener] = Nil): Unit = {
      val e = engine(tweak(CrawlEngineSpec.retainAll(s"$outDir/$run")), listeners)
      e.seed(SyntheticCorpus.seeds(spec))
      e.run()
    }
    def killAndResume(run: String, tweak: EngineConfig => EngineConfig): Unit = {
      crawl(run, c => tweak(c).copy(maxSteps = 3))
      engine(tweak(CrawlEngineSpec.retainAll(s"$outDir/$run"))).resume()
    }
    val counter = new CrawlEngine.StepListener {
      def onStepCommitted(step: Int, stepLog: Dataset[FetchLog]): Unit = stepLog.count()
    }
    try {
      crawl("default", identity)
      crawl("distributed", _.copy(driverCollectMaxRows = 0L))
      crawl("crossing", _.copy(driverCollectMaxRows = 4096L))
      crawl("flushing", _.copy(driverCollectMaxRows = 24L * 1024))
      crawl("listener", identity, Seq(counter))
      killAndResume("resumed-default", identity)
      killAndResume("resumed-distributed", _.copy(driverCollectMaxRows = 0L))
      for (run <- Seq("default", "distributed", "crossing", "flushing", "listener",
          "resumed-default", "resumed-distributed"))
        dumpRows(spark, s"$outDir/$run", s"$outDir/rows/$run.txt")
    } finally spark.stop()
  }
}
