package graft

import graft.corpus._
import graft.engine.{CrawlEngine, EngineConfig}
import graft.canon.UrlCanon
import graft.fetch.{CorpusFetcher, Fetcher}
import graft.model.{ErrorAction, FetchedPage, RobotsRule, RouteSpec}
import graft.oracle.NestOracle

/** Serves the page at `source` under the URL `moved` (canonical form). */
final class MovedPageFetcher(inner: Fetcher, moved: String, source: String) extends Fetcher {
  override def fetch(url: String, attempt: Int): FetchedPage =
    if (url == moved) inner.fetch(source, attempt).copy(url = moved)
    else inner.fetch(url, attempt)
}

/** North-rule parity: the distributed engine must reproduce the
  * single-threaded nest-semantics oracle's crawl ordering, final URL-seen
  * set, item keys, and per-job stats on the same seed list + politeness
  * budget (BASELINE.md rows "crawl-ordering parity" / "URL-seen-set parity").
  */
class OracleParitySpec extends SparkSpec {

  val spec = CorpusSpec(hosts = 3, listPages = 3, detailsPerList = 5)
  val budget = 2
  lazy val fetcher = new CorpusFetcher(SyntheticCorpus.buildLocal(spec))
  lazy val routes = SiteRoutes.registry(spec)

  def runBoth(robots: Seq[RobotsRule],
      tweak: EngineConfig => EngineConfig = identity,
      routes: Map[String, RouteSpec] = this.routes,
      fetcher: Fetcher = this.fetcher): (CrawlEngine, NestOracle) = {
    val eng = new CrawlEngine(spark, routes, fetcher, robots,
      tweak(EngineConfig(statePath = tmpDir("parity"), hostBudget = budget,
        phashThreshold = -1, bloomPartitions = 4,
        bloomCapacityPerShard = 1 << 16)))
    eng.seed(SyntheticCorpus.seeds(spec))
    eng.run()
    val oracle = new NestOracle(routes, fetcher, robots, budget)
    oracle.seed(SyntheticCorpus.seeds(spec))
    oracle.run()
    (eng, oracle)
  }

  def engineSequences(eng: CrawlEngine): Map[String, Seq[(Int, String, Int)]] =
    eng.fetchLog.collect()
      .groupBy(_.host)
      .map { case (h, rows) =>
        h -> rows.sortBy(r => (r.step, -r.priority, r.createdStep, r.urlKey))
          .map(r => (r.step, r.url, r.page)).toSeq
      }

  def assertParity(eng: CrawlEngine, oracle: NestOracle): Unit = {
    // URL-seen-set parity
    val engSeen = eng.frontier.collect().map(_.url).toSet
    assert(engSeen == oracle.seenUrls,
      s"seen-set diff: engine-only=${engSeen -- oracle.seenUrls} oracle-only=${oracle.seenUrls -- engSeen}")

    // per-host dequeue-sequence parity (crawl ordering)
    val engSeq = engineSequences(eng)
    val oSeq = oracle.hostSequences
    assert(engSeq.keySet == oSeq.keySet, "hosts fetched differ")
    engSeq.keySet.foreach { h =>
      assert(engSeq(h) == oSeq(h),
        s"dequeue sequence diff on $h:\n engine=${engSeq(h)}\n oracle=${oSeq(h)}")
    }

    // item-key parity
    val engKeys = eng.items.collect().map(_.key).toSet
    assert(engKeys == oracle.finalItemKeys,
      s"item keys diff: engine-only=${engKeys -- oracle.finalItemKeys} oracle-only=${oracle.finalItemKeys -- engKeys}")

    // per-job stats parity (pages crawled, jobs spawned, finished)
    val engStats = eng.frontier.collect()
      .map(j => j.urlKey -> ((j.stats.pages, j.stats.spawned, j.state.finished))).toMap
    assert(engStats == oracle.jobStats, {
      val diffs = (engStats.keySet ++ oracle.jobStats.keySet).flatMap { k =>
        val a = engStats.get(k); val b = oracle.jobStats.get(k)
        if (a != b) Some(s"$k: engine=$a oracle=$b") else None
      }
      s"job stats diff:\n${diffs.mkString("\n")}"
    })
  }

  test("ordering + seen-set + items + stats parity, no robots") {
    val (eng, oracle) = runBoth(Nil)
    assertParity(eng, oracle)
  }

  test("parity holds on the forced fully-distributed superstep plans") {
    // driverCollectMaxRows = 0 forces every size-switched path (wave rewrite,
    // item suppression/flags/delta, spawn dedup) onto the distributed twin —
    // the plans a 10^6-host wave would take. Identical results required.
    val (eng, oracle) = runBoth(Nil, _.copy(driverCollectMaxRows = 0L))
    assertParity(eng, oracle)
  }

  test("parity holds under robots block + crawl delay, distributed plans") {
    val robots = Seq(
      RobotsRule("h0.test", "/img/", allow = false, 0),
      RobotsRule("h1.test", "/", allow = true, 2),
      RobotsRule("h2.test", "/img/1", allow = false, 0))
    val (eng, oracle) = runBoth(robots, _.copy(driverCollectMaxRows = 0L))
    assertParity(eng, oracle)
  }

  test("parity holds under robots block + crawl delay") {
    val robots = Seq(
      RobotsRule("h0.test", "/img/", allow = false, 0),
      RobotsRule("h1.test", "/", allow = true, 2),
      RobotsRule("h2.test", "/img/1", allow = false, 0))
    val (eng, oracle) = runBoth(robots)
    assertParity(eng, oracle)
  }

  test("parity holds with a disabled route") {
    val robots = Nil
    val eng = new CrawlEngine(spark, routes, fetcher, robots,
      EngineConfig(statePath = tmpDir("parity-dis"), hostBudget = budget,
        phashThreshold = -1, disabledRoutes = Set(SyntheticCorpus.DETAIL),
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    eng.seed(SyntheticCorpus.seeds(spec))
    eng.run()
    val oracle = new NestOracle(routes, fetcher, robots, budget,
      disabledRoutes = Set(SyntheticCorpus.DETAIL))
    oracle.seed(SyntheticCorpus.seeds(spec))
    oracle.run()
    assertParity(eng, oracle)
  }

  test("parity holds when onError redirects: the target is enqueued and crawled") {
    // every planted 404 redirects to one non-canonical URL: the first
    // redirect enqueues it (canonicalized), later ones dedup against it
    val target = "HTTP://H0.test:80/img/../moved"
    val moved = UrlCanon.canonicalize(target)
    val detail = routes(SyntheticCorpus.DETAIL)
    val redirecting = routes.updated(SyntheticCorpus.DETAIL, detail.copy(onError =
      (status, _) => if (status >= 500) ErrorAction.Retry else ErrorAction.Redirect(target)))
    val movedFetcher = new MovedPageFetcher(fetcher, moved, spec.detailUrl(0, 0))
    for (tweak <- Seq[EngineConfig => EngineConfig](identity, _.copy(driverCollectMaxRows = 0L))) {
      val (eng, oracle) = runBoth(Nil, tweak, redirecting, movedFetcher)
      assertParity(eng, oracle)
      val log = eng.fetchLog.collect()
      assert(log.count(_.action == s"redirect:$target") > 1, "no redirects to dedup")
      assert(log.count(l => l.url == moved && l.action == "ok") == 1,
        "the redirect target was not crawled exactly once")
    }
  }
}
