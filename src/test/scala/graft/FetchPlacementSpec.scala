package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.fetch.FetchStage
import graft.model.CrawlJob

/** The driver tier's fetch input: the driver places a wave's jobs in the
  * fetch partitions the distributed tier's repartition sends them to, so
  * each (host, split) group still lands in exactly one fetch task (the
  * politeness contract `hostMinDelayMs` pacing rests on).
  */
class FetchPlacementSpec extends SparkSpec with PropHelper {

  /** One generated fetch wave. */
  final case class Case(jobs: Seq[CrawlJob], parts: Int, splits: Int)

  val hosts = Seq("", null, "a.test", "h1.test", "HOST.test", "bücher.example",
    "例え.テスト", "xn--bcher-kva.example", "ü")

  val caseGen: Gen[Case] = for {
    n <- Gen.choose(0, 80)
    keys <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue)).map(_.distinct)
    jobs <- Gen.sequence[List[CrawlJob], CrawlJob](keys.map(k =>
      Gen.oneOf(hosts).map(h => CrawlJob(k, s"http://$h/$k", h, "r0"))))
    parts <- Gen.choose(1, 64)
    splits <- Gen.oneOf(1, 2, 8)
  } yield Case(jobs, parts, splits)

  test("the driver places every wave job in the partition the fetch exchange sends it to") {
    import spark.implicits._
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false") // as inside a superstep
    var multiTask = 0
    try forAllN(caseGen, n = 40, seed = 11L) { c =>
      val placed = FetchStage.placed(spark.sparkContext, c.jobs.toArray, c.parts, c.splits)
      assert(placed.getNumPartitions == c.parts)
      val driver = placed.mapPartitionsWithIndex((i, it) => it.map(j => j.urlKey -> i))
        .collect()
      val exchanged = c.jobs.toDS()
        .repartition(c.parts, col("host"), pmod(col("urlKey"), lit(c.splits)))
        .select(col("urlKey"), spark_partition_id()).as[(Long, Int)].collect()
      assert(driver.length == c.jobs.length)
      assert(driver.toMap == exchanged.toMap, s"parts ${c.parts} splits ${c.splits}")
      if (driver.map(_._2).distinct.length > 1) multiTask += 1
    } finally spark.conf.set(aqe, prev)
    assert(multiTask > 10, s"only $multiTask waves spread over several fetch tasks")
  }
}
