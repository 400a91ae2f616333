package graft.oracle

import scala.collection.mutable
import graft.canon.{CanonUdfs, UrlCanon}
import graft.fetch.Fetcher
import graft.model._

/** Single-threaded reference simulator of the crawl's deterministic contract
  * — the parity oracle the north rule names.
  *
  * Replicates, in plain sequential Scala with zero Spark, exactly the
  * semantics the engine distributes: priority dequeue (reference:
  * src/nest.js:170-173), dedup-on-enqueue (src/db/queue.js:63-83),
  * per-route concurrency / per-host budget (src/nest.js:238-261), pagination
  * (src/worker.js:223-229), scraper-state carry (right-wins merge,
  * src/worker.js:230-233), retry policy (src/spider.js:213-260), robots
  * allow + crawl-delay, and last-writer-wins item upsert (src/db/item.js:86-99).
  * The engine must reproduce this oracle's per-host dequeue sequence, final
  * URL-seen set, and final item-key set on the same seeds + budget.
  *
  * phash near-dup suppression is intentionally absent here — parity runs
  * compare with suppression disabled; suppression has its own spec.
  */
final class NestOracle(
    routes: Map[String, RouteSpec],
    fetcher: Fetcher,
    robotsRules: Seq[RobotsRule],
    hostBudget: Int,
    retryBackoffSteps: Int = 1,
    disabledRoutes: Set[String] = Set.empty,
    hooks: WorkerHooks = WorkerHooks()) {

  private case class OJob(
      urlKey: Long, url: String, host: String, routeId: String, priority: Int,
      createdStep: Int, var errorCount: Int = 0, var notBeforeStep: Int = 0,
      var currentPage: Int = 1, var finished: Boolean = false,
      var pages: Int = 0, var spawned: Int = 0,
      query: Map[String, String] = Map.empty,
      var data: Map[String, String] = Map.empty)

  /** Snapshot of an OJob in the engine's job shape — what user hooks see. */
  private def toCrawlJob(j: OJob): CrawlJob =
    CrawlJob(j.urlKey, j.url, j.host, j.routeId, priority = j.priority,
      createdStep = j.createdStep, errorCount = j.errorCount,
      notBeforeStep = j.notBeforeStep,
      stats = JobStats(pages = j.pages, spawned = j.spawned),
      state = JobState(currentPage = j.currentPage, finished = j.finished,
        data = j.data),
      query = j.query)

  private val frontier = mutable.LinkedHashMap.empty[Long, OJob]
  private val itemKeys = mutable.LinkedHashSet.empty[String]
  /** per-host ordered dequeue log: (step, url, page) */
  val dequeueLog: mutable.Map[String, mutable.ArrayBuffer[(Int, String, Int)]] =
    mutable.Map.empty
  private val hostNotBefore = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val hostDelay: Map[String, Int] = graft.robots.Robots.delayByHost(robotsRules)

  private def robotsAllowed(url: String, host: String): Boolean = {
    val path = url.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    val matches = robotsRules.filter(r => r.host == host && path.startsWith(r.pathPrefix))
    if (matches.isEmpty) true
    else {
      // longest prefix wins; disallow wins length ties (as Robots.allowedLocal)
      val best = matches.minBy(r => (-r.pathPrefix.length, r.allow))
      best.allow
    }
  }

  private def enqueue(routeId: String, rawUrl: String, step: Int,
      query: Map[String, String] = Map.empty): Unit = {
    if (!routes.contains(routeId)) return
    val url = UrlCanon.canonicalize(rawUrl)
    val key = CanonUdfs.urlKeyScala(url)
    if (frontier.contains(key)) return // dedup-on-enqueue (queue.js:69-77)
    val host = UrlCanon.host(url)
    if (!robotsAllowed(url, host)) return
    frontier(key) = OJob(key, url, host, routeId, routes(routeId).priority,
      createdStep = step, notBeforeStep = math.max(step, 0), query = query)
  }

  def seed(seeds: Seq[(String, String)]): Unit =
    seeds.foreach { case (r, u) => enqueue(r, u, 0) }

  /** Query-parameterized enqueue — mirrors [[graft.engine.CrawlEngine.seedQueries]]
    * (reference: nest.queue(routeKey, {query}), src/nest.js:86-97).
    */
  def seedQueries(seeds: Seq[(String, Map[String, String])]): Unit =
    seeds.foreach { case (r, q) =>
      routes.get(r).foreach(rt => enqueue(r, rt.urlTemplate(q), 0, q))
    }

  /** URL of a spawned job: concrete url, or the route template over query. */
  private def resolveSpawn(sj: SpawnedJob): Option[String] =
    if (sj.url != null && sj.url.nonEmpty) Some(sj.url)
    else routes.get(sj.routeId).flatMap(rt =>
      try Some(rt.urlTemplate(sj.query)) catch { case _: Exception => None })

  /** Run to completion (or maxSteps); superstep semantics identical to
    * [[graft.engine.CrawlEngine.step]].
    */
  def run(maxSteps: Int = 10000): Unit = {
    var s = 0
    var iter = 0
    var done = false
    while (iter < maxSteps && !done) {
      if (runStep(s)) s += 1
      else {
        // idle-jump to the earliest future-eligible step (mirrors the engine)
        val pend = frontier.values.filter(j => !j.finished && !disabledRoutes(j.routeId))
        if (pend.isEmpty) done = true
        else {
          val nxt = pend.map(_.notBeforeStep).min
          if (nxt <= s) done = true else s = nxt
        }
      }
      iter += 1
    }
  }

  private def runStep(s: Int): Boolean = {
    val eligible = frontier.values
      .filter(j => !j.finished && j.notBeforeStep <= s && !disabledRoutes(j.routeId))
      .filter(j => hooks.jobFilter.forall(_(toCrawlJob(j))))
      .toSeq
    if (eligible.isEmpty) return false

    val byHost = eligible.groupBy(_.host)
    var any = false
    // host iteration order is irrelevant — hosts are independent
    byHost.toSeq.sortBy(_._1).foreach { case (host, jobs) =>
      val ordered = jobs.sortBy(j => (-j.priority, j.createdStep, j.urlKey))
      val routeCount = mutable.Map.empty[String, Int].withDefaultValue(0)
      var taken = 0
      val wave = ordered.filter { j =>
        val cap = routes(j.routeId).concurrency
        if (taken < hostBudget && (cap < 0 || routeCount(j.routeId) < cap)) {
          taken += 1; routeCount(j.routeId) += 1; true
        } else false
      }
      if (wave.nonEmpty) any = true
      wave.foreach { j => execute(j, s) }
      if (wave.nonEmpty && hostDelay.contains(host))
        hostNotBefore(host) = s + hostDelay(host)
    }
    // apply crawl-delay bumps host-wide (engine bumps every pending job)
    frontier.values.foreach { j =>
      if (!j.finished)
        j.notBeforeStep = math.max(j.notBeforeStep, hostNotBefore(j.host))
    }
    any
  }

  private def execute(j: OJob, s: Int): Unit = {
    dequeueLog.getOrElseUpdate(j.host, mutable.ArrayBuffer.empty) +=
      ((s, j.url, j.currentPage))
    val route = routes(j.routeId)
    // custom worker.process bypass (reference: src/worker.js:195-199)
    hooks.process.flatMap(p => p(toCrawlJob(j))) match {
      case Some(res) =>
        val scraped = graft.fetch.FetchStage.sanitize(res, j.routeId)
        j.pages += 1
        j.spawned += scraped.jobs.size
        j.data = j.data ++ scraped.state // right-wins carry (worker.js:230-233)
        scraped.items.foreach(it => itemKeys += it.key)
        scraped.jobs.foreach(sj =>
          resolveSpawn(sj).foreach(u => enqueue(sj.routeId, u, s + 1, sj.query)))
        if (scraped.hasNextPage) {
          j.currentPage += 1
          j.notBeforeStep = s + 1 + route.transitionDelay
        } else j.finished = true
        return
      case None =>
    }
    val effUrl = route.paginate(j.url, j.currentPage)
    val page = fetcher.fetch(effUrl, j.errorCount)
    val status = route.checkStatus(page)
    if (status >= 400) {
      route.onError(status, j.errorCount) match {
        case ErrorAction.Retry if j.errorCount < route.retryCount =>
          j.errorCount += 1
          j.notBeforeStep = s + 1 + retryBackoffSteps
        case ErrorAction.Redirect(u) =>
          j.finished = true; enqueue(j.routeId, u, s + 1)
        case _ => j.finished = true // dead-letter
      }
    } else {
      val scraped = graft.fetch.FetchStage.sanitize(route.scraper(page), j.routeId)
      j.pages += 1
      j.spawned += scraped.jobs.size
      j.data = j.data ++ scraped.state // right-wins carry (worker.js:230-233)
      scraped.items.foreach(it => itemKeys += it.key)
      scraped.jobs.foreach(sj =>
        resolveSpawn(sj).foreach(u => enqueue(sj.routeId, u, s + 1, sj.query)))
      if (scraped.hasNextPage) {
        j.currentPage += 1
        j.notBeforeStep = s + 1 + route.transitionDelay
      } else j.finished = true
    }
  }

  def seenUrls: Set[String] = frontier.values.map(_.url).toSet
  def finalItemKeys: Set[String] = itemKeys.toSet
  /** Final scraper-state carry per job (O17 — state.data right-wins merge). */
  def jobData: Map[Long, Map[String, String]] =
    frontier.values.map(j => j.urlKey -> j.data).toMap
  def jobStats: Map[Long, (Int, Int, Boolean)] =
    frontier.values.map(j => j.urlKey -> ((j.pages, j.spawned, j.finished))).toMap
  /** Per-host dequeue sequence as (step, url, page) triples in dequeue order. */
  def hostSequences: Map[String, Seq[(Int, String, Int)]] =
    dequeueLog.map { case (h, b) => h -> b.toSeq }.toMap
}
