package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import graft.corpus.{SiteRoutes, SyntheticCorpus}
import graft.engine.CrawlEngine
import graft.fetch.{CorpusFetcher, Fetcher}
import graft.model.FetchedPage

/** Fetch-task failures injected on the first attempt. */
object FlakyFetcher {
  val thrown = new java.util.concurrent.atomic.AtomicInteger()
}

/** A fetcher whose tasks in even fetch partitions throw on their first
  * attempt. The exception escapes the fetch stage's task, so Spark retries
  * it (a `local[N,F]` master allows F attempts); the retry fetches normally.
  */
final class FlakyFetcher(inner: Fetcher) extends Fetcher {
  override def fetch(url: String, attempt: Int): FetchedPage = {
    val ctx = TaskContext.get()
    if (ctx.attemptNumber() == 0 && ctx.partitionId() % 2 == 0) {
      FlakyFetcher.thrown.incrementAndGet()
      throw new RuntimeException(s"injected failure of fetch task ${ctx.partitionId()}")
    }
    inner.fetch(url, attempt)
  }
}

/** Crawls the `CrawlEngineSpec` corpus through [[FlakyFetcher]] on a
  * `local[4,3]` master (task retries need a local master with a failure
  * count, so this runs in its own JVM).
  *
  * Usage: `TaskRetryCrawl <statePath> <outFile>`. Writes the run's
  * `RunSummary` fields and the number of injected failures to `outFile` as
  * "steps fetched items deadLettered thrown".
  */
object TaskRetryCrawl {
  def main(args: Array[String]): Unit = {
    val Array(statePath, outFile) = args
    val spark = SparkSession.builder()
      .master("local[4,3]")
      .appName("graft-task-retry")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val spec = CrawlEngineSpec.corpus
      val e = new CrawlEngine(spark, SiteRoutes.registry(spec),
        new FlakyFetcher(new CorpusFetcher(SyntheticCorpus.buildLocal(spec))), Nil,
        CrawlEngineSpec.retainAll(statePath))
      e.seed(SyntheticCorpus.seeds(spec))
      val s = e.run()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
        Seq(s.steps, s.fetched, s.items, s.deadLettered, FlakyFetcher.thrown.get).mkString(" "))
    } finally spark.stop()
  }
}
