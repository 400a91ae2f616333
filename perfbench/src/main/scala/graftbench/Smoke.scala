package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.corpus.SynthFetcher

/** Self-check: tiny versions of the three workloads, untraced and traced,
  * must each print every named metric with its unit and measure every
  * per-layer metric they exercise; and a fetcher that drops one live page
  * must fail the crawl check.
  */
object Smoke {
  def run(o: Opts): Int = {
    val problems = mutable.ArrayBuffer.empty[String]
    for (trace <- Seq(false, true); w <- Seq("smoke_wide", "smoke_deep", "query_pack")) {
      val oo = o.copy(trace = trace, seconds = 1)
      val m = Main.runWorkload(oo, w, queries =
        if (w == "query_pack") Some(Queries.panel.take(4)) else None)
      m.spark.stop()
      val line = Json.parse(Main.resultLine(oo, m.res))
      val want = if (trace) Main.layerCatalog else Main.E2e
      val got = line.get("metrics")
      if (!line.get("correct").asBoolean) problems += s"$w trace=$trace: not correct ${m.res.failures}"
      if (got.size != want.size) problems += s"$w trace=$trace: ${got.size} metrics, want ${want.size}"
      // an exercised metric the run did not compute would print as 0
      Main.missing(oo, m.res).foreach(n => problems += s"$w trace=$trace: $n not measured")
      if (m.res.exercised.isEmpty) problems += s"$w trace=$trace: no exercised layers"
      want.foreach { case (name, unit) =>
        val v = got.get(name)
        if (v == null) problems += s"$w trace=$trace: $name missing"
        else if (v.get("unit").asText != unit) problems += s"$w trace=$trace: $name unit ${v.get("unit")}"
        else if (!v.get("value").isNumber) problems += s"$w trace=$trace: $name is ${v.get("value")}"
        else if (!trace && !(v.get("value").asDouble > 0)) problems += s"$w: $name is ${v.get("value")}"
      }
      println(s"smoke $w trace=$trace: ${got.fieldNames.asScala.size} metrics, " +
        s"attempted=${m.res.attempted} failed=${m.res.failed}")
    }
    // a fetcher that answers 404 for one live detail page must trip the check
    val spec = CrawlShapes.all("smoke_wide").spec
    val dropped = new DroppingFetcher(new SynthFetcher(spec), spec.detailUrl(0, 1))
    val bad = Main.runWorkload(o.copy(trace = false, seconds = 1), "smoke_wide", Some(dropped))
    bad.spark.stop()
    if (bad.res.failed == 0) problems += "a dropped page was not detected by the crawl check"
    else println(s"smoke dropped page detected: ${bad.res.failures.mkString("; ")}")
    problems.foreach(p => println(s"SMOKE FAIL $p"))
    if (problems.isEmpty) { println("SMOKE OK"); 0 } else 1
  }
}
