package graft

import graft.corpus._
import graft.engine.{CrawlEngine, EngineConfig}
import graft.fetch.CorpusFetcher
import graft.model.SpawnedJob
import graft.oracle.NestOracle
import graft.testkit.RouteHarness

/** O15 (query-templated enqueue) + E3 (route test harness).
  *
  * The reference's primary API is `nest.queue(routeKey, {query})` with the
  * URL built from the route template (reference: src/nest.js:86-97,
  * src/route.js:31-37), and spawned ops carry `{routeId, query}`
  * (src/worker.js:281-292). A query-driven crawl must land exactly what the
  * equivalent URL-driven crawl lands, and must match the oracle.
  */
class TemplatedEnqueueSpec extends SparkSpec {

  val spec = CorpusSpec(hosts = 2, listPages = 2, detailsPerList = 5)
  lazy val fetcher = new CorpusFetcher(SyntheticCorpus.buildLocal(spec))

  def run(routes: Map[String, graft.model.RouteSpec], dir: String,
      byQuery: Boolean, tweak: EngineConfig => EngineConfig = identity): CrawlEngine = {
    val eng = new CrawlEngine(spark, routes, fetcher, Nil,
      tweak(EngineConfig(statePath = tmpDir(dir), hostBudget = 2,
        phashThreshold = -1, bloomPartitions = 4,
        bloomCapacityPerShard = 1 << 16)))
    if (byQuery) eng.seedQueries(SyntheticCorpus.seedQueries(spec))
    else eng.seed(SyntheticCorpus.seeds(spec))
    eng.run()
    eng
  }

  test("seedQueries(routeKey, query) == seed(routeKey, url): same frontier, same items") {
    val a = run(SiteRoutes.registry(spec), "tmpl-q", byQuery = true)
    val b = run(SiteRoutes.registry(spec), "tmpl-u", byQuery = false)
    assert(a.frontier.collect().map(_.url).sorted
      .sameElements(b.frontier.collect().map(_.url).sorted))
    assert(a.items.collect().map(_.key).sorted
      .sameElements(b.items.collect().map(_.key).sorted))
    // the query params persisted onto the seeded jobs (reference job.query)
    val seeded = a.frontier.collect().filter(_.routeId == SyntheticCorpus.LISTING)
    assert(seeded.nonEmpty && seeded.forall(j => j.query.get("host").contains(j.host)))
  }

  test("query-templated SPAWNS: crawl equals the URL-driven crawl and the oracle") {
    val u = run(SiteRoutes.registry(spec), "tmpl-spawn-u", byQuery = false)
    // a listing that also spawns one job per page whose URL template throws
    // (no "id" param): the job is dropped, yet counts in the spawned stat
    val base = SiteRoutes.queryRegistry(spec)
    val listing = base(SyntheticCorpus.LISTING)
    val throwing = base.updated(SyntheticCorpus.LISTING, listing.copy(scraper = page => {
      val r = listing.scraper(page)
      if (page.status != 200) r
      else r.copy(jobs = r.jobs :+ SpawnedJob(SyntheticCorpus.DETAIL, url = "",
        query = Map("host" -> page.host)))
    }))
    for ((routes, extra) <- Seq((base, 0), (throwing, 1));
         (tweak, tier) <- Seq[(EngineConfig => EngineConfig, String)](
           (identity, "driver"), (_.copy(driverCollectMaxRows = 0L), "distributed"))) {
      val clue = s"${tier} tier, ${extra} throwing spawn(s) per listing page"
      val q = run(routes, "tmpl-spawn-q", byQuery = true, tweak)
      assert(q.frontier.collect().map(_.url).sorted
        .sameElements(u.frontier.collect().map(_.url).sorted),
        s"query-spawned frontier differs from URL-spawned ($clue)")
      assert(q.items.collect().map(i => (i.key, i.caption, i.phash)).sortBy(_._1)
        .sameElements(u.items.collect().map(i => (i.key, i.caption, i.phash)).sortBy(_._1)),
        clue)
      // spawned detail jobs carry their query params
      val jobs = q.frontier.collect()
      val details = jobs.filter(_.routeId == SyntheticCorpus.DETAIL)
      assert(details.nonEmpty && details.forall(_.query.contains("id")), clue)
      assert(jobs.filter(_.routeId == SyntheticCorpus.LISTING)
        .forall(_.stats.spawned == spec.listPages * (spec.detailsPerList + extra)), clue)

      val oracle = new NestOracle(routes, fetcher, Nil, 2)
      oracle.seedQueries(SyntheticCorpus.seedQueries(spec))
      oracle.run()
      assert(q.frontier.collect().map(_.url).toSet == oracle.seenUrls, clue)
      assert(q.items.collect().map(_.key).toSet == oracle.finalItemKeys, clue)
      assert(jobs.map(j => j.urlKey -> ((j.stats.pages, j.stats.spawned,
        j.state.finished))).toMap == oracle.jobStats, clue)
    }
  }

  test("RouteHarness: both synthetic routes pass their declared self-tests") {
    val fails = RouteHarness.checkAll(SiteRoutes.registry(spec), fetcher)
    assert(fails.isEmpty, s"route self-tests failed: $fails")
  }

  test("RouteHarness: failing expectations are reported") {
    val broken = SiteRoutes.detail(spec).copy(
      test = Some(graft.model.RouteTest(
        query = Map("url" -> "http://h0.test/img/7"), // planted 404 (id%13==7)
        shouldCreateItems = true)))
    assert(RouteHarness.check(broken, fetcher).isLeft)
    val noTest = SiteRoutes.detail(spec).copy(test = None)
    assert(RouteHarness.check(noTest, fetcher).isLeft)
  }
}
