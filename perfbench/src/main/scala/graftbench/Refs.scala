package graftbench

import scala.collection.mutable
import graft.corpus.{SynthFetcher, SyntheticCorpus}
import graft.engine.CrawlEngine
import graft.fetch.Fetcher
import graft.model.FetchedPage
import graft.oracle.NestOracle

/** Regenerates the stored references under perfbench/refs:
  *  - crawl.json from the single-threaded NestOracle on each crawl shape,
  *    cross-checked against one engine crawl;
  *  - queries.json with each query's rows and output hash on the generated
  *    tables (run twice; a hash that differs between the runs is dropped and
  *    only rows are checked), plus each output as parquet and the oracle SQL
  *    so that tools/verify_refs.py can compare them with DuckDB.
  */
object Refs {
  def run(o: Opts): Unit = {
    val spark = Session.start(o)
    new java.io.File(o.refs).mkdirs()
    val crawl = mutable.LinkedHashMap.empty[String, Any]
    for ((name, shape) <- CrawlShapes.all.toSeq.sortBy(_._1)) {
      val fetcher = new SynthFetcher(shape.spec)
      var dead = 0L
      val counting = new Fetcher {
        override def fetch(url: String, attempt: Int): FetchedPage = {
          val p = fetcher.fetch(url, attempt)
          if (p.status >= 400 && p.status < 500) dead += 1
          p
        }
      }
      val oracle = new NestOracle(shape.routes, counting, Nil, shape.budget, retryBackoffSteps = 0)
      oracle.seed(SyntheticCorpus.seeds(shape.spec))
      oracle.run()
      val keys = oracle.finalItemKeys.toSeq.sorted
      val payloads = keys.map { k =>
        val p = fetcher.fetch(k, 99)
        require(p.status == 200, s"item key $k is not a live page")
        k -> p.body
      }
      val digest = CrawlRef.itemHashes(spark, payloads).values.sum
      val ref = CrawlRef(oracle.hostSequences.values.map(_.size.toLong).sum, keys.size.toLong,
        CrawlRef.pairs(shape.spec).size.toLong, dead, digest, payloads.map(_._2.length.toLong).sum)
      // cross-check: one engine crawl of the same shape agrees on the counts
      val dir = s"${o.work}/state/refs-$name"
      Files.deleteRec(dir)
      val eng = new CrawlEngine(spark, shape.routes, fetcher, Nil, shape.config(dir))
      eng.seed(SyntheticCorpus.seeds(shape.spec))
      val sum = eng.run()
      println(s"refs $name: oracle $ref; engine $sum")
      require(sum.fetched == ref.fetched && sum.deadLettered == ref.dead && sum.items == ref.items,
        s"engine and oracle disagree on $name")
      crawl(name) = Map("fetched" -> ref.fetched, "oracle_items" -> ref.oracleItems,
        "pairs" -> ref.pairs, "dead" -> ref.dead, "digest" -> ref.digest.toString,
        "payload_bytes" -> ref.payloadBytes, "shape" -> shape.describe)
    }
    write(s"${o.refs}/crawl.json", crawl)
    queryRefs(spark, o)
    spark.stop()
  }

  private def queryRefs(spark: org.apache.spark.sql.SparkSession, o: Opts): Unit = {
    val data = Main.ensureData(spark, o)
    val out = s"${o.work}/refs-out"
    Files.deleteRec(out)
    val queries = mutable.LinkedHashMap.empty[String, Any]
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val (rows, h1) = OutputHash(fn(spark, data))
      val (_, h2) = OutputHash(fn(spark, data))
      fn(spark, data).write.parquet(s"$out/$name")
      println(s"refs $name: rows=$rows stable=${h1 == h2}")
      queries(name) = Map("rows" -> rows, "hash" -> (if (h1 == h2) Some(h1.toString) else None))
    }
    write(s"${o.refs}/queries.json", queries)
    write(s"$out/oracle_sql.json", graft.SparkEntry.oracleSql)
  }

  /** One top-level entry per line, so that a changed reference diffs as one line. */
  private def write(path: String, m: scala.collection.Map[String, _]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(m.toSeq.sortBy(_._1).map { case (k, v) => s"  ${Json(k)}: ${Json(v)}" }
      .mkString("{\n", ",\n", "\n}"))
    finally w.close()
  }
}
