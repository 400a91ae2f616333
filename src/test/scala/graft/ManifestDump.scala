package graft

import org.apache.spark.sql.Dataset
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
  * Two builds that crawl alike leave byte-identical `_snapshot.json` files,
  * so comparing the trees of two builds checks that a change keeps the
  * engine's behaviour. Uses the engine's public API only.
  *
  * Usage: `sbt "Test/runMain graft.ManifestDump <outDir>"`.
  */
object ManifestDump {
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
    } finally spark.stop()
  }
}
