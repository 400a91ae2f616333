package graft.fetch

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Pmod}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.model._

/** Outcome of one job's fetch+extract in a superstep. `action` encodes the
  * error policy verdict: "ok" | "retry" | "stop" | "redirect:<url>"
  * (reference: src/spider.js:213-260).
  *
  * Item payloads are SPLIT out of the item structs: `items(i)` carries the
  * byte-free metadata (bytes = empty) and `itemBytes(i)` the payload. The
  * engine lands the whole outcome to parquet in the same job that fetches
  * it, and every later pass over the outcome table reads only the columns
  * it needs — the top-level split makes "everything but the payload" a
  * trivially prunable scan (no reliance on nested-schema pruning), so a
  * wave's image bytes never sit in executor memory past their own task and
  * cross the scan boundary exactly once, at item read time.
  */
case class StepOutcome(
    job: CrawlJob,
    status: Int,
    action: String,
    items: Seq[ImageItem],
    itemBytes: Seq[Array[Byte]],
    spawned: Seq[SpawnedJob],
    hasNextPage: Boolean,
    newState: Map[String, String])

object StepOutcome {
  /** Build an outcome from scraper-produced items (bytes inline), splitting
    * payloads into the parallel `itemBytes` column.
    */
  def split(job: CrawlJob, status: Int, action: String, items: Seq[ImageItem],
      spawned: Seq[SpawnedJob], hasNextPage: Boolean,
      newState: Map[String, String]): StepOutcome =
    StepOutcome(job, status, action,
      items.map(_.copy(bytes = Array.emptyByteArray)),
      items.map(it => Option(it.bytes).getOrElse(Array.emptyByteArray)),
      spawned, hasNextPage, newState)
}

/** The fetch+extract superstep stage — the engine's only imperative kernel.
  *
  * One per-partition function ([[kernel]]) over the politeness-scheduled
  * wave, placed by (host, urlKey % fetchSplits) first (see
  * [[graft.engine.EngineConfig.fetchSplits]]): a driver-sized wave is
  * placed on the driver ([[placed]]) and fetched by the tasks of one
  * `runJob`, which write their outcomes themselves; a larger one is
  * repartitioned and fetched in `mapPartitions`. At the default
  * splits=1 each host's fetches land in one task (serialized — strongest
  * politeness); at splits=k a host spans up to k concurrent tasks (benches
  * opt in). Each
  * task fetches its partition's URLs (per-partition client in production;
  * corpus lookup here) and applies the route's scraper (the reference's
  * UDTF-like user surface: one page → many items + many jobs,
  * src/spider.js:290-334).
  * Sanitization replicates spider.js:290-334 including the documented
  * `pickBy(identity)` quirk (falsy-valued open-schema fields dropped).
  */
object FetchStage {

  /** The wave as an RDD of `parts` fetch partitions, each job in the
    * partition `wave.repartition(parts, col("host"), pmod(col("urlKey"),
    * lit(splits)))` sends it to: Spark's `HashPartitioning` id (Murmur3 with
    * seed 42 over host and `pmod(urlKey, splits)`, then `pmod` by `parts`),
    * evaluated on the driver, so the fetch runs with no exchange. Each
    * (host, split) group lands in exactly one fetch task, as it does after
    * the repartition; `FetchPlacementSpec` pins the two equal.
    */
  def placed(sc: SparkContext, wave: Array[CrawlJob], parts: Int, splits: Int)
      : RDD[CrawlJob] = {
    val pid = HashPartitioning(Seq(BoundReference(0, StringType, nullable = true),
      Pmod(BoundReference(1, LongType, nullable = false), Literal(splits.toLong))), parts)
      .partitionIdExpression
    val groups = wave.groupBy(j =>
      pid.eval(InternalRow(UTF8String.fromString(j.host), j.urlKey)).asInstanceOf[Int])
    // one element per slice: partition i holds exactly group i
    sc.parallelize(Seq.tabulate(parts)(groups.getOrElse(_, Array.empty[CrawlJob])), parts)
      .flatMap(_.iterator)
  }

  /** One fetch task's work over its partition of the wave: each job's
    * outcome, in wave order. Both tiers run it — the distributed tier in
    * `mapPartitions`, the driver tier's tasks directly — so the fetch is
    * written once.
    */
  def kernel(
      routes: Broadcast[Map[String, RouteSpec]],
      fetcher: Broadcast[Fetcher],
      hooks: Broadcast[WorkerHooks],
      forceDynamic: Boolean,
      /** per-TASK min-gap (ms) between fetch starts to one host — the
        * engine passes hostMinDelayMs × fetchSplits so the aggregate
        * host rate stays bounded when a host spans several tasks (see
        * [[graft.engine.EngineConfig.hostMinDelayMs]]). 0 = off. */
      perTaskHostGapMs: Long): Iterator[CrawlJob] => Iterator[StepOutcome] = { jobs =>
    val reg = routes.value
    val f = fetcher.value
    val hk = hooks.value
    // worker.initialize: once per fetch task, before its first job
    // (reference: src/worker.js:57-65); lazily so empty partitions skip it
    lazy val initialized = { hk.initialize.foreach(_.apply()); true }
    // per-task token bucket: last fetch-start nanos per host. Bounded by
    // the distinct hosts in this task's slice of the wave (politeness-
    // bounded), cleared with the task.
    val lastStart = scala.collection.mutable.HashMap.empty[String, Long]
    def paceHost(host: String): Unit = if (perTaskHostGapMs > 0) {
      val gapNs = perTaskHostGapMs * 1000000L
      lastStart.get(host).foreach { last =>
        val waitNs = last + gapNs - System.nanoTime()
        if (waitNs > 0)
          Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
      }
      lastStart(host) = System.nanoTime()
    }
    jobs.map { job =>
      require(initialized)
      reg.get(job.routeId) match {
        case None =>
          // unknown route: reference warns + skips (worker.js:284-287)
          StepOutcome(job, -1, "stop", Nil, Nil, Nil, hasNextPage = false, Map.empty)
        case Some(route) =>
          // custom process bypasses fetch+scrape (worker.js:195-199)
          hk.process.flatMap(p => p(job)) match {
            case Some(res) =>
              val scraped = sanitize(res, job.routeId)
              StepOutcome.split(job, 200, "ok", scraped.items, scraped.jobs,
                scraped.hasNextPage, scraped.state)
            case None =>
              val effUrl = route.paginate(job.url, job.state.currentPage)
              paceHost(job.host)
              // static vs dynamic dispatch (reference spider.js:52,185)
              val page =
                if (route.dynamic || forceDynamic) f.fetchDynamic(effUrl, job.errorCount)
                else f.fetch(effUrl, job.errorCount)
              val status = route.checkStatus(page)
              if (status >= 400) {
                val action = route.onError(status, job.errorCount) match {
                  case ErrorAction.Retry if job.errorCount < route.retryCount => "retry"
                  case ErrorAction.Redirect(u) => s"redirect:$u"
                  case _ => "stop"
                }
                StepOutcome(job, status, action, Nil, Nil, Nil, hasNextPage = false, Map.empty)
              } else {
                val scraped = sanitize(route.scraper(page), job.routeId)
                StepOutcome.split(job, status, "ok", scraped.items, scraped.jobs,
                  scraped.hasNextPage, scraped.state)
              }
          }
      }
    }
  }

  /** Reference sanitize semantics (src/spider.js:290-334): assert shapes,
    * drop spawned jobs without a routeId (311-316), trim every string field
    * (324-328), and drop falsy-valued open-schema fields — lodash
    * `pickBy(identity)` also removes "0"/"false"/empty (322); replicated
    * deliberately for item parity with the reference.
    */
  def sanitize(r: ScrapeResult, routeId: String): ScrapeResult = {
    val jobs = r.jobs.filter(j => j.routeId != null && j.routeId.nonEmpty &&
      ((j.url != null && j.url.nonEmpty) || j.query.nonEmpty))
    val items = r.items.map { it =>
      it.copy(
        key = Option(it.key).map(_.trim.toLowerCase).getOrElse(""),
        name = trimOrEmpty(it.name),
        itemType = if (it.itemType == null || it.itemType.isEmpty) "content" else it.itemType.trim,
        link = trimOrEmpty(it.link),
        route = if (it.route == null || it.route.isEmpty) routeId else it.route,
        caption = trimOrEmpty(it.caption),
        props = it.props.collect {
          case (k, v) if v != null && v.trim.nonEmpty && v.trim != "0" && v.trim != "false" =>
            k -> v.trim
        })
    }.filter(_.key.nonEmpty)
    r.copy(items = items, jobs = jobs)
  }

  private def trimOrEmpty(s: String): String = if (s == null) "" else s.trim
}
