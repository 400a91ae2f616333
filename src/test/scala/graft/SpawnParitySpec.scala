package graft

import org.apache.spark.sql.Row
import graft.engine.CrawlEngine
import graft.fetch.StepOutcome
import graft.model.{CrawlJob, FetchedPage, RouteSpec, ScrapeResult, SpawnedJob}

/** The two spawn resolvers agree: [[CrawlEngine.spawnsOf]], which the driver
  * tier's fetch tasks run in Scala, yields the same candidates in the same
  * order as the [[CrawlEngine.spawnCands]] column the distributed tier
  * explodes — over hostile spawns: unknown and null routes, templates that
  * throw or return null or "", redirects, empty and query-only spawns,
  * non-ASCII and malformed URLs.
  */
class SpawnParitySpec extends SparkSpec {
  import spark.implicits._

  private def route(key: String, template: Map[String, String] => String) =
    RouteSpec(key, template, (_: FetchedPage) => ScrapeResult())

  private val routes = Map(
    "detail" -> route("detail", q => s"https://Shop.Example:443/d/${q.getOrElse("id", "")}"),
    "listing" -> route("listing", q => s"http://a.test/list?page=${q("page")}&b=2&a=1"),
    "throws" -> route("throws", _ => throw new IllegalArgumentException("no template")),
    "null" -> route("null", _ => null),
    "empty" -> route("empty", _ => ""))

  private val hostile = Seq(
    SpawnedJob("detail", "http://EXAMPLE.com:80/a/./b/../c?z=1&y=%7e"),
    SpawnedJob("nope", "http://unknown.route/x"),
    SpawnedJob(null, "http://null.route/x"),
    SpawnedJob("throws", null, Map("id" -> "1")),
    SpawnedJob("throws", "http://given.url/wins"),
    SpawnedJob("null", "", Map("q" -> "x")),
    SpawnedJob("empty", null),
    SpawnedJob("detail", "", Map("id" -> "7")),
    SpawnedJob("detail", null, Map.empty),
    SpawnedJob("listing", null, Map("page" -> "3")),
    SpawnedJob("listing", "", Map("nopage" -> "3")),
    SpawnedJob("detail", null, null),
    SpawnedJob("detail", "http://bücher.example/straße?ü=1&a=ö"),
    SpawnedJob("detail", "https://例え.テスト/パス#frag"),
    SpawnedJob("detail", "http//missing-colon/x"),
    SpawnedJob("detail", "://no-scheme"),
    SpawnedJob("detail", "http://[::1]:8080/v6"),
    SpawnedJob("detail", "http://[::1"),
    SpawnedJob("detail", "   "),
    SpawnedJob("detail", " http://Padded.Example/p "),
    SpawnedJob("detail", "mailto:someone@example.com"),
    SpawnedJob("detail", "http://user:pw@Host.Example:8080/%41%2f?b&a="),
    SpawnedJob("listing", "http://a.test/list?page=3&b=2&a=1"))

  private def job(routeId: String) = CrawlJob(1L, "http://from.test/", "from.test", routeId)

  private val outcomes = Seq(
    StepOutcome(job("listing"), 200, "ok", Nil, Nil, hostile, hasNextPage = false, Map.empty),
    StepOutcome(job("detail"), 301, "redirect:http://Moved.Example/../to?b=1&a=2", Nil, Nil,
      hostile.take(2), hasNextPage = false, Map.empty),
    StepOutcome(job("detail"), 301, "redirect:", Nil, Nil, Nil, hasNextPage = false, Map.empty),
    StepOutcome(job("nope"), 301, "redirect:http://unknown.route/", Nil, Nil, Nil,
      hasNextPage = false, Map.empty),
    StepOutcome(job("detail"), 302, "redirect:  ", Nil, Nil, Nil, hasNextPage = false, Map.empty),
    StepOutcome(job("listing"), 500, "retry", Nil, Nil, Nil, hasNextPage = false, Map.empty),
    StepOutcome(job("detail"), 200, "ok", Nil, Nil, Nil, hasNextPage = true, Map("k" -> "v")))

  test("the Scala spawn resolver equals the spawnCands column, in order") {
    val bc = spark.sparkContext.broadcast(routes)
    val viaColumn = outcomes.toDS().coalesce(1).select(CrawlEngine.spawnCands(bc))
      .collect().toSeq.map(_.getSeq[Row](0).map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          Option(r.getMap[String, String](4)).map(_.toMap).orNull)))
    val viaScala = outcomes.map(o => CrawlEngine.spawnsOf(routes, o)
      .map(c => (c.urlKey, c.url, c.host, c.routeId, c.query)))
    assert(viaScala == viaColumn)
    // the hostile set reaches every branch: kept, dropped and templated
    val kept = viaScala.head
    assert(kept.nonEmpty && kept.size < hostile.size, kept)
    assert(kept.exists(_._2 == "https://shop.example/d/7"), kept)
    assert(kept.exists(_._2 == "http://given.url/wins"), kept)
    assert(viaScala(1).last._2 == "http://moved.example/to?a=2&b=1", viaScala(1))
    // an empty redirect target goes through the route's template; an
    // unknown route's redirect is dropped
    assert(viaScala(2).map(_._2) == Seq("https://shop.example/d/"), viaScala(2))
    assert(viaScala(3).isEmpty, viaScala(3))
  }
}
