package graft

import org.apache.spark.sql.functions.{col, xxhash64}
import graft.canon.CanonUdfs.{canon_url, url_host}
import graft.engine.CrawlEngine
import graft.fetch.StepOutcome
import graft.model.{CrawlJob, FetchedPage, RouteSpec, ScrapeResult, SpawnedJob}

/** The spawn resolver keys as Spark does: [[CrawlEngine.spawnsOf]], which
  * both tiers run in Scala, yields the candidates of the spawns it resolves,
  * in order, with the url, urlKey and host that Spark's native
  * `canon_url(u)`, `xxhash64(canon_url(u))` and `url_host(canon_url(u))`
  * give the same resolved URLs — over hostile spawns: unknown and null
  * routes, templates that throw or return null or "", redirects, empty and
  * query-only spawns, non-ASCII and malformed URLs.
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

  /** One outcome's resolved spawns as (routeId, URL, query) before
    * canonicalization: its spawned jobs, then a redirect target, on a known
    * route; an empty or null URL is built by the route's template, and a
    * spawn whose URL stays empty or null (the template threw or returned
    * null or "") is dropped. */
  private def resolved(o: StepOutcome): Seq[(String, String, Map[String, String])] = {
    val redirect = Option(o.action).filter(_.startsWith("redirect:"))
      .map(a => SpawnedJob(o.job.routeId, a.stripPrefix("redirect:")))
    (o.spawned ++ redirect).filter(s => s.routeId != null && routes.contains(s.routeId))
      .map { s =>
        val u =
          if (s.url != null && s.url.nonEmpty) s.url
          else try routes(s.routeId).urlTemplate(Option(s.query).getOrElse(Map.empty))
          catch { case _: Exception => "" }
        (s.routeId, u, s.query)
      }
      .filter(s => s._2 != null && s._2.nonEmpty)
  }

  test("spawnsOf equals Spark's native canon_url, xxhash64 and url_host, in order") {
    val raw = outcomes.map(resolved)
    // (outcome, spawn) → (urlKey, url, host) by the native expressions
    val native = raw.zipWithIndex
      .flatMap { case (rs, i) => rs.zipWithIndex.map { case (s, j) => (i, j, s._2) } }
      .toDF("o", "s", "u").select(col("o"), col("s"), canon_url(col("u")).as("url"))
      .select(col("o"), col("s"), xxhash64(col("url")), col("url"), url_host(col("url")))
      .as[(Int, Int, Long, String, String)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4, t._5)).toMap
    val viaNative = raw.zipWithIndex.map { case (rs, i) =>
      rs.zipWithIndex.map { case ((rid, _, q), j) =>
        val (k, url, host) = native((i, j))
        (k, url, host, rid, q)
      }
    }
    val viaScala = outcomes.map(o => CrawlEngine.spawnsOf(routes, o.job.routeId, o.action,
        o.spawned).map(c => (c.urlKey, c.url, c.host, c.routeId, c.query)))
    assert(viaScala == viaNative)
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

  test("the admission kernel picks the lowest (route, source, position) in any order") {
    // the distributed tier reduces a key's candidates in shuffle order
    def cand(rid: String, src: Long, pos: Int) = (src, pos,
      CrawlEngine.SpawnCand(1L, "http://a.test/", "a.test", rid, Map("from" -> s"$rid/$src/$pos")))
    val cands = Seq(cand("b", 1L, 0), cand("a", 5L, 2), cand("a", 3L, 7), cand("a", 3L, 4),
      cand("a", 3L, 9), cand("c", -9L, 0))
    val best = cand("a", 3L, 4)
    for (order <- cands.permutations) {
      assert(order.reduce(CrawlEngine.firstSpawn) == best, order)
      assert(order.reduceRight(CrawlEngine.firstSpawn) == best, order)
      val Array(j) = CrawlEngine.admitted(order.iterator, Map.empty, Map.empty, createdStep = 2)
      assert(j.routeId == "a" && j.query == best._3.query, j)
    }
  }
}
