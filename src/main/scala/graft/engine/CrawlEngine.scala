package graft.engine

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.corpus.CorpusRow
import graft.fetch.{CorpusFetcher, FetchStage, Fetcher, StepOutcome}
import graft.frontier.{BloomSeen, BloomShard, Politeness}
import graft.items.Items
import graft.model._
import graft.robots.Robots
import graft.state.{SnapshotStore, StateIO}

/** A permanently-failed fetch (retries exhausted or a 4xx "stop") — the
  * reference throws and abandons the job (src/spider.js:239-244); we land it
  * in a queryable dead-letter table instead.
  */
case class DeadLetter(urlKey: Long, url: String, host: String, routeId: String,
    status: Int, errorCount: Int, step: Int)

/** One row per fetch — the engine's dequeue/crawl-ordering record AND the
  * source of all observability: metrics and dead letters are aggregations /
  * filters over this log at READ time, so supersteps pay exactly one
  * narrow log write (north rule: per-partition lineage + fetch metrics;
  * ordering parity vs the oracle is asserted on this log — within a
  * (step, host) wave rows are unordered parallel fetches, compared after
  * sorting by the scheduler's own (priority, createdStep, urlKey) order).
  */
case class FetchLog(step: Int, host: String, urlKey: Long, url: String,
    routeId: String, page: Int, status: Int, priority: Int, createdStep: Int,
    action: String, errorCount: Int, spawnCount: Int,
    itemsCreated: Long, itemsUpdated: Long,
    /** job terminated this fetch (last page, dead-letter, or redirect) —
      * the reference's `job:finish` event bit (worker.js:137-142). */
    finished: Boolean)

object CrawlEngine {
  /** Event fan-out surface — the reference's emitter chain
    * (src/emitter.js:53-63; worker events `job:start/finish` etc.,
    * src/worker.js:95-161) re-expressed batch-wise: after every committed
    * superstep, listeners receive that step's fetch log as a typed Dataset
    * (filter `finished`/`action`/`itemsCreated` for the per-job events).
    * Runs on the driver between supersteps; a throwing listener fails the
    * crawl like a throwing reference handler. On the distributed tier the
    * Dataset scans the step's landed raw-outcome table, so it should be
    * consumed INSIDE the callback (collect/write/aggregate). With listeners
    * attached the commit runs synchronously (fan-out is contractually
    * after-commit), trading the pipelined overlap for the event ordering
    * guarantee.
    */
  trait StepListener {
    def onStepCommitted(step: Int, stepLog: Dataset[FetchLog]): Unit
  }

  /** A spawned job (or redirect target) after URL resolution and
    * canonicalization (see [[spawnsOf]]). */
  private[graft] case class SpawnCand(urlKey: Long, url: String, host: String,
      routeId: String, query: Map[String, String])

  /** Byte-free per-outcome metadata — the driver tier's envelope, built by
    * the fetch task that lands the outcome ([[metaOf]]) and returned as the
    * task's result (see `fetchPhase`); it feeds the item decisions, spawn
    * dedup, job-state updates, fetch log, archive rows and frontier, so the
    * driver tier never reads the landed raw table back. `nSpawned` is the
    * scraper's raw spawn count (the job stat), `spawns` its canonical
    * candidates; `itemMeta` rows are (pos, key, image_id, phash).
    */
  private[engine] case class OutcomeMeta(
      job: CrawlJob, status: Int, action: String, hasNextPage: Boolean,
      newState: Map[String, String], nSpawned: Int, spawns: Seq[SpawnCand],
      itemMeta: Seq[(Int, String, String, Long)])

  /** The superstep body a wave runs, chosen once per step from its wave
    * size (see [[EngineConfig.driverCollectMaxRows]]): `wavePhase` holds a
    * driver-sized wave as a driver array and a larger one as a Dataset, and
    * `fetchPhase` returns the tier, on which the superstep forks once, into
    * `driverStep` or `distributedStep`. */
  private[engine] sealed trait Tier
  /** A driver-sized wave, with the outcome metadata its fetch tasks
    * returned — the step's one foreground Spark job, one stage: a `runJob`
    * over the wave as the driver placed it, whose tasks land their own
    * outcome files (see `fetchPhase`): `driverStep` decides items, spawns,
    * job state and the next frontier in driver passes over arrays, maps and
    * sets. */
  private[engine] final case class DriverTier(meta: Array[OutcomeMeta]) extends Tier
  /** A larger wave (its checkpointed Dataset): `distributedStep` runs Dataset
    * plans over the landed raw `outcomes` table, with no per-step driver
    * state. Its frontier is always a Dataset: a driver array holds at most
    * the driver bound's rows, so every wave off one is driver-sized. */
  private[engine] final case class DistributedTier(wave: Dataset[CrawlJob], outcomes: DataFrame)
      extends Tier

  /** A pending frontier or a politeness wave: a driver array while it fits
    * the driver bound, else a Dataset. */
  private[engine] type Frontier = Either[Array[CrawlJob], Dataset[CrawlJob]]

  /** The engine's in-memory state at its latest issued version (the commit
    * may still be in flight): the version's manifest plus what the next
    * superstep would otherwise read back from disk. `None` means "read it
    * from the snapshot" — a resumed engine starts from the manifest alone.
    *
    *  - `manifest.pending`/`totals`: the exact unfinished-frontier count
    *    and run totals while every step since seed() counted them (driver
    *    tier). They let run() stop without an empty-wave probe (wave build +
    *    count + pending-min agg, ~1 s of flat cost) and summary() answer
    *    with zero Spark jobs; without them the log-based paths take over.
    *  - `frontier`: the pending frontier, as a driver array while it has ≤
    *    `driverRows` rows — its pending jobs plus the finished ones it
    *    carries until a flush (see `archiveDir`) — else the eagerly
    *    checkpointed Dataset. On the array the wave, the empty-wave clock
    *    jump, the exact-seen probe of the active frontier and the frontier
    *    rewrite run with ZERO Spark jobs: on an 8-host crawl the Dataset
    *    wave alone (salted window + host exchange + sort, one 3-stage
    *    collect) cost 0.3–0.7 s of a 1.1–1.9 s superstep over ≤ 216 rows,
    *    and the frontier checkpoint one more job per step.
    *  - `itemMeta`: (key, phash) of every item row up to the step, feeding
    *    near-dup suppression and created/updated flags; a driver array while
    *    it has ≤ driverCollectMaxRows rows (the driver tier's suppression
    *    probe then runs with ZERO Spark jobs — the per-step existing-meta
    *    scan was the largest remaining flat cost of a toy-scale superstep),
    *    else a checkpointed DataFrame. [[compactItems]] drops it (live-set
    *    semantics from then on).
    *  - `shards`: the bloom shards of the version, kept while the driver
    *    tier probes them: the shards written at step s are exactly the ones
    *    probed at s+1, so no superstep re-reads and collects them.
    */
  private[engine] final case class Issued(manifest: SnapshotStore.Manifest,
      frontier: Option[Frontier],
      itemMeta: Option[Either[Array[(String, Long)], DataFrame]],
      shards: Option[Array[BloomShard]])

  /** Job-state transition for one fetched job — the reference worker's
    * post-job bookkeeping (pagination worker.js:223-233, finish 137-142,
    * retry spider.js:226-248), shared verbatim by the driver tier's loop
    * and the distributed Dataset map so the two tiers cannot drift.
    */
  private[engine] def advance(job: CrawlJob, action: String,
      hasNextPage: Boolean, newState: Map[String, String], nSpawned: Int,
      created: Long, updated: Long, stepNow: Int, transitionDelay: Int,
      backoffSteps: Int): CrawlJob = {
    val stats2 = job.stats.copy(
      pages = job.stats.pages + (if (action == "ok") 1 else 0),
      items = job.stats.items + created.toInt,
      updated = job.stats.updated + updated.toInt,
      spawned = job.stats.spawned + nSpawned)
    val started = if (job.state.startedStep < 0) stepNow else job.state.startedStep
    action match {
      case "ok" if hasNextPage =>
        job.copy(stats = stats2,
          notBeforeStep = stepNow + 1 + transitionDelay,
          state = job.state.copy(currentPage = job.state.currentPage + 1,
            startedStep = started,
            data = job.state.data ++ newState))
      case "ok" =>
        job.copy(stats = stats2,
          state = job.state.copy(finished = true, startedStep = started,
            finishedStep = stepNow, data = job.state.data ++ newState))
      case "retry" =>
        job.copy(errorCount = job.errorCount + 1,
          notBeforeStep = stepNow + 1 + backoffSteps,
          stats = stats2,
          state = job.state.copy(startedStep = started))
      case _ => // stop or redirect: this job terminates
        job.copy(stats = stats2,
          state = job.state.copy(finished = true, startedStep = started,
            finishedStep = stepNow))
    }
  }

  /** The step's [[FetchLog]] row for one fetched job — shared by both tiers. */
  private[engine] def logRow(stepNow: Int, job: CrawlJob, status: Int,
      action: String, hasNextPage: Boolean, nSpawned: Int,
      created: Long, updated: Long): FetchLog =
    FetchLog(stepNow, job.host, job.urlKey, job.url, job.routeId,
      job.state.currentPage, status, job.priority, job.createdStep,
      action, job.errorCount, nSpawned, created, updated,
      finished = action != "retry" && !(action == "ok" && hasNextPage))

  /** AQE stays off inside supersteps: it materializes every query stage as
    * its own job, which at superstep cadence multiplied scheduler+planning
    * overhead ~2× (measured); skew is already handled structurally by
    * salting (Politeness phase 1).
    */
  private val AqeInSteps = false
  /** The bloom shards are probed and merged driver-side while their total
    * size fits this budget (i.e. until the frontier reaches billions of
    * keys); a larger sketch zeroes the driver bound, so every step runs the
    * distributed tier and its cogroup probe. */
  private val BloomBroadcastMaxBytes = 256L << 20
  /** False-positive rate of the URL-seen bloom filter. Only positives pay
    * the exact seen check, so 1% keeps that sliver small at ~9.6 bits per
    * key (a 10^10-key sketch is ~12 GB across its shards). */
  private val BloomFpp = 0.01
  /** Salt buckets of the politeness wave's first ranking (see
    * [[graft.frontier.Politeness]]): a hot host is ranked over this many
    * partitions, bounding its survivors at salts × routes × hostBudget. */
  private val SaltBuckets = 16
  /** Hash buckets (`pmod(urlKey, N)` partition dirs) of the finished-job
    * archive. The bloom-positive exact-seen probe prunes its archive scan
    * to the buckets of the positive keys instead of column-scanning every
    * archived key — at 10^10 finished URLs a per-step full scan of the
    * archive is a driver-cost cliff. 64 buckets ⇒ a probe of k keys reads
    * ≤ min(k, 64)/64 of the archive's files. PlanSpec asserts the pruning.
    */
  private[graft] val ArchiveBuckets = 64
  /** Fetch-stage task count: ~[[FetchPagesPerTask]] pages per task, floored
    * at min(shuffle partitions, wave size) and capped at partitions × this
    * factor. Page costs are heavy-tailed (encode/decode varies with format
    * and content) and big waves otherwise run as few multi-second tasks
    * whose last scheduling round idles most cores — measured ~20% of fetch
    * wall at 51k pages on 64 tasks/16 cores. The exchanged rows are
    * byte-free, so fine tasks cost only launches.
    */
  private val FetchTaskFactor = 32
  private val FetchPagesPerTask = 128

  private val Redirect = "redirect:"

  /** A spawn's URL: its own when it has one, else its route's template over
    * its query; "" when the template throws. */
  private def resolveUrlOf(routes: Map[String, RouteSpec], rid: String, u: String,
      q: Map[String, String]): String =
    if (u != null && u.nonEmpty) u
    else try routes(rid).urlTemplate(Option(q).getOrElse(Map.empty))
    catch { case _: Exception => "" }

  /** One outcome's spawn candidates — its spawned jobs plus a redirect
    * target, from the outcome's route id, action and spawns alone (never its
    * items or payloads): unknown routes dropped, query-templated URLs built
    * through the route's template (reference `route.getUrl(job)` over the
    * spawned op's query, worker.js:281-292, route.js:31-37; a throwing
    * template drops the job, where the reference fails it), then
    * canonicalized, host-split and keyed by the functions the native
    * `canon_url`, `url_host` and `xxhash64` expressions call. The driver
    * tier's fetch tasks and the distributed tier's candidate scan
    * ([[CrawlEngine#spawnCandidates]]) both resolve with it.
    */
  private[graft] def spawnsOf(routes: Map[String, RouteSpec], routeId: String,
      action: String, spawned: Seq[SpawnedJob]): Seq[SpawnCand] = {
    val redirect =
      if (action != null && action.startsWith(Redirect))
        Iterator((routeId, action.substring(Redirect.length), Map.empty[String, String]))
      else Iterator.empty
    (spawned.iterator.map(s => (s.routeId, s.url, s.query)) ++ redirect)
      .filter { case (rid, _, _) => rid != null && routes.contains(rid) }
      .map { case (rid, u, q) => (rid, resolveUrlOf(routes, rid, u, q), q) }
      .collect { case (rid, u, q) if u != null && u.nonEmpty =>
        val url = graft.canon.UrlCanon.canonicalize(u)
        SpawnCand(graft.canon.CanonUdfs.urlKeyScala(url), url, graft.canon.UrlCanon.host(url),
          rid, q)
      }.toSeq
  }

  /** Spawn admission, the one kernel both tiers run: per urlKey the
    * candidate of the lowest (routeId, source, position) ([[firstSpawn]]) —
    * `source` the spawning job's urlKey and `position` the spawn's index
    * among that job's candidates, so a tie on the route (the same URL
    * spawned by two pages with different query maps) admits the same
    * `query` on either tier and in every run — kept when robots allow it,
    * as a job entering at `createdStep` with its route's priority
    * ([[spawnJob]]). `rules` are the robots rules by host. The seen check is
    * the caller's: the driver tier runs this over its outcomes and probes
    * its driver-held bloom shards; the distributed tier reduces its
    * candidates with [[firstSpawn]] per urlKey, then runs [[spawnJob]] and
    * the probe in the cogroup of each bloom shard with the keys it owns
    * (`BloomSeen.pidOf`).
    */
  private[graft] def admitted(cands: Iterator[(Long, Int, SpawnCand)],
      routes: Map[String, RouteSpec], rules: Map[String, Seq[RobotsRule]], createdStep: Int)
      : Array[CrawlJob] = {
    val first = scala.collection.mutable.HashMap.empty[Long, (Long, Int, SpawnCand)]
    cands.foreach(c => first.updateWith(c._3.urlKey)(b => Some(b.fold(c)(firstSpawn(_, c)))))
    // an immutable HashMap iterates in key-hash order, whatever the order of the candidates
    scala.collection.immutable.HashMap.from(first).valuesIterator
      .flatMap(c => spawnJob(c._3, routes, rules, createdStep)).toArray
  }

  /** The admission kernel's pick of two candidates of one urlKey: the lower
    * (routeId, source, position), `a` on a tie. */
  private[graft] def firstSpawn(a: (Long, Int, SpawnCand), b: (Long, Int, SpawnCand))
      : (Long, Int, SpawnCand) = {
    val r = a._3.routeId.compareTo(b._3.routeId)
    if (r < 0 || r == 0 && (a._1 < b._1 || a._1 == b._1 && a._2 <= b._2)) a else b
  }

  /** A picked candidate's job, when its host's robots rules allow it. */
  private[graft] def spawnJob(c: SpawnCand, routes: Map[String, RouteSpec],
      rules: Map[String, Seq[RobotsRule]], createdStep: Int): Option[CrawlJob] =
    Option.when(Robots.allowedLocal(c.url, c.host, rules.getOrElse(c.host, Nil)))(
      CrawlJob(c.urlKey, c.url, c.host, c.routeId,
        priority = routes.get(c.routeId).map(_.priority).getOrElse(50),
        query = c.query, createdStep = createdStep, notBeforeStep = createdStep))

  /** One fetched outcome's [[OutcomeMeta]]. */
  private def metaOf(routes: Map[String, RouteSpec], o: StepOutcome): OutcomeMeta =
    OutcomeMeta(o.job, o.status, o.action, o.hasNextPage, o.newState, o.spawned.size,
      spawnsOf(routes, o.job.routeId, o.action, o.spawned),
      o.items.iterator.zipWithIndex.map { case (it, i) =>
        (i, it.key, Option(it.image_id).getOrElse(""), it.phash)
      }.toSeq)

  /** One driver-tier fetch task: it fetches its partition of the wave
    * (`fetch`, [[FetchStage.kernel]]), writes the outcomes as one
    * uncompressed parquet file under `staging/<task attempt id>/`, named as
    * Spark names part `partitionId` of a write whose job id is `uuid`, and
    * returns that file with its outcomes' [[OutcomeMeta]]. As in Spark's
    * file writes, an empty partition other than partition 0 writes no file,
    * and partition 0 always writes one (carrying the schema when empty).
    * `sink` is the raw table's write spec and row encoder, broadcast once
    * per engine.
    */
  private def landTask(fetch: Iterator[CrawlJob] => Iterator[StepOutcome],
      routes: Broadcast[Map[String, RouteSpec]],
      sink: Broadcast[(StateIO.WriteSpec, ExpressionEncoder[StepOutcome])],
      staging: String, uuid: String)
      : (TaskContext, Iterator[CrawlJob]) => (Option[String], Array[OutcomeMeta]) = {
    (ctx, jobs) =>
      val outcomes = fetch(jobs)
      if (ctx.partitionId() != 0 && !outcomes.hasNext) (None, Array.empty)
      else {
        val (spec, enc) = sink.value
        val reg = routes.value
        val toRow = enc.createSerializer()
        val meta = Array.newBuilder[OutcomeMeta]
        val file = s"$staging/${ctx.taskAttemptId()}/${spec.fileName(ctx.partitionId(), uuid)}"
        StateIO.writeFile(spec, outcomes.map { o => meta += metaOf(reg, o); toRow(o) }, file)
        (Some(file), meta.result())
      }
  }
}

case class EngineConfig(
    statePath: String,
    /** max fetches per host per superstep — the politeness budget. */
    hostBudget: Int = 2,
    maxSteps: Int = 10000,
    disabledRoutes: Set[String] = Set.empty,
    /** phash hamming threshold for near-dup suppression; -1 disables. */
    phashThreshold: Int = 6,
    /** extra supersteps of backoff before retrying a 5xx (reference: fixed
      * 3500 ms vs 1 s poll ≈ a few polls, spider.js:248). */
    retryBackoffSteps: Int = 1,
    bloomPartitions: Int = 8,
    bloomCapacityPerShard: Long = 1L << 20,
    /** snapshots older than latest-N are expired after each commit. */
    retainSnapshots: Int = 4,
    /** Sub-partitions per host when rebalancing the selected wave for the
      * fetch stage. Politeness SELECTION keys whole hosts to partitions
      * (required for the sequential budget take), but leaving the FETCH on
      * that placement makes stage wall = the unluckiest partition's host
      * count (measured ~1.7× mean at 450 hosts / 32 partitions). The wave is
      * byte-free metadata, so placing each host's jobs in `fetchSplits`
      * chunks is ~free and caps the tail: the driver places a driver-sized
      * wave itself, a larger one takes one exchange.
      *
      * DEFAULT 1: splitting a host across k tasks means up to k simultaneous
      * connections to that host with no inter-request delay — a weaker
      * politeness posture than the reference's per-route concurrency gate
      * (nest.js:238-261). Synthetic-fetcher benches opt into 8 explicitly;
      * real fetchers should raise it only together with [[hostMinDelayMs]].
      */
    fetchSplits: Int = 1,
    /** Engine-wide target minimum milliseconds between successive fetch
      * STARTS to one host (0 = off). Enforced as a per-task token-bucket
      * min-gap of `hostMinDelayMs × fetchSplits`: a host spans at most
      * `fetchSplits` concurrent tasks, so the aggregate host rate is
      * bounded at ~1/hostMinDelayMs even when fetchSplits > 1 — the wall-
      * clock politeness floor the reference's `transitionDelay`
      * (src/route.js:59) paces only same-job pages for. Logical (step-
      * count) politeness — hostBudget, crawl-delay — is unchanged; this is
      * the real-time complement for production fetchers.
      */
    hostMinDelayMs: Int = 0,
    /** route every fetch through the dynamic fetcher — the reference's
      * FORCE_DYNAMIC env switch (spider.js:21,52). */
    forceDynamic: Boolean = false,
    /** Max rows the engine holds on the driver, and the ONE bound between
      * its two superstep tiers.
      *
      * A wave of at most `driverCollectMaxRows / 1024` rows runs the DRIVER
      * tier: its fetch tasks land their outcome files and return the wave's
      * byte-free outcome metadata (item keys, job state, and the spawn
      * candidates, canonicalized inside the fetch tasks) as their results,
      * which feed driver passes for the item decisions, spawn dedup, job
      * state, fetch log and frontier — one foreground Spark job per
      * superstep, and the driver writes the tables it holds at the commit.
      * That job is a plain `runJob` of one stage over the wave as the driver
      * placed it in its fetch partitions (no exchange, no SQL plan; on a
      * traced crawl_deep, 4 vCPUs, a steady step's time before the job went
      * ~260 ms → ~140 ms when the driver placed the wave and rebound one
      * analyzed plan, and ~120 ms → ~9 ms when the SQL write path went).
      * The 1024× headroom
      * covers what a page emits: breaching the bound from there needs more
      * than 1024 items or links per page on average. A pending frontier of
      * at most the same row count is a driver array, so the politeness
      * wave, the empty-wave clock jump, the active-frontier seen probe and
      * the frontier rewrite run with zero Spark jobs (measured on
      * crawl_deep, 8 hosts × 3 listings × 8 pages, 4 vCPUs: foreground jobs
      * per superstep 5 → 2, before the metadata collect was folded into the
      * fetch write; the Dataset wave alone had been a 3-stage
      * collect of 0.3–0.7 s per 1.1–1.9 s superstep). The same row bound
      * narrows a step's shuffle width to its pending count, and keeps a v0
      * frontier that fits as the seed's driver array.
      *
      * Larger waves run the DISTRIBUTED tier: anti-joins, banded
      * suppression, windowed winners, flag joins and the cogroup bloom
      * probe — same results, no per-step driver state, so a 10^6-host
      * frontier degrades to slower supersteps instead of a driver OOM.
      * The item-meta mirror stays on the driver while it has at most
      * `driverCollectMaxRows` rows. Tests force 0 to pin the distributed
      * tier against the driver tier and the oracle.
      *
      * The driver tier probes and merges the bloom shards on the driver, so
      * a sketch (`bloomPartitions` × the shard size at
      * `bloomCapacityPerShard`) above the 256 MB broadcast budget zeroes the
      * bound: every step then runs the distributed tier.
      */
    driverCollectMaxRows: Long = 2000000L)

/** Per-run roll-up returned by [[CrawlEngine.run]]. */
case class RunSummary(steps: Int, fetched: Long, items: Long, deadLettered: Long)

/** The BSP superstep crawl driver — the engine's analogue of the reference's
  * worker pool + poll loop (reference: src/nest.js:47-61, src/worker.js:86-162).
  *
  * Each superstep (one call to [[step]]) runs the shared phases
  *
  *  1. clean: stale step dirs of an uncommitted step are swept
  *  2. wave: the politeness-scheduled wave off the frontier (a driver-array
  *     sort while the frontier is driver-sized, else shuffle 1: by salted
  *     host), jumping the clock past an empty one
  *  3. poison check: a background commit that has already failed stops the
  *     step before it fetches
  *  4. fetch: fetch+extract tasks (`FetchStage.kernel`) that WRITE their own outcomes
  *     (items + payload bytes) to the raw step table as it fetches —
  *     narrow, embarrassingly parallel, and the only pass that ever touches
  *     bytes — and picks the step's tier from the wave size alone
  *     ([[EngineConfig.driverCollectMaxRows]] / 1024 rows)
  *
  * and then ONE straight-line body for that tier:
  *
  *  - `driverStep` (a driver-sized wave): the fetch — one `runJob` of one
  *    stage over the wave as the driver placed it, whose tasks write their
  *    own outcome files — returns the wave's byte-free outcome metadata as
  *    the tasks' results, and the item
  *    decisions (winner pick, created/updated flags, phash near-dup
  *    suppression), spawn dedup (driver bloom probe → exact check of the
  *    positives), job state, fetch log and next frontier are driver passes
  *    over arrays, maps and sets, and the driver writes the state tables it
  *    holds at the commit — one Spark job per superstep, commit included,
  *    while the frontier is a driver array (it is while it fits the same
  *    bound);
  *  - `distributedStep` (a larger wave): the same decisions as Dataset plans
  *    over byte-free scans of the landed outcomes — winner pick + flags
  *    (shuffle 2: by item key), banded suppression, spawn admission as the
  *    kernel's pick reduced per urlKey, then a cogroup of each bloom shard
  *    with the candidates it owns (shuffle 3: by shard) → exact anti-join
  *    of the bloom positives — with no per-step driver state.
  *
  * Both bodies share the spawn resolution and admission
  * ([[CrawlEngine.spawnsOf]], [[CrawlEngine.admitted]]; seeds are admitted
  * by the same kernel), the job-state transition ([[CrawlEngine.advance]]),
  * the fetch-log row ([[CrawlEngine.logRow]]), the item-meta reads, the
  * crawl-delay bump and the Dataset-frontier rewrite, and both end in
  * [[commitPhase]]: the atomic snapshot commit of the next version,
  * pipelined so it overlaps the next superstep's wave + fetch. No shuffle
  * carries image bytes: payloads go scraper → parquet inside the fetch task
  * and are only re-read by item consumers (merge-on-read). Every commit is
  * a resume point: [[resume]] continues from the latest snapshot with
  * identical results (kill-safe via the store's atomic rename).
  *
  * A driver-array frontier also carries its finished jobs, so a step whose
  * frontier fits the bound writes no archive; they are flushed in one batch
  * when it would outgrow the bound (see `archiveDir`). A frontier that
  * leaves the driver array (it outgrew the bound, or the engine resumed
  * mid-crawl) stays a Dataset for the rest of the run and archives its
  * finished jobs every step; its driver-sized waves still run
  * `driverStep`. Each manifest records the exact pending count and run
  * totals while the driver tier keeps them, so resuming a drained crawl
  * runs no Spark job.
  *
  * The engine's in-memory state is ONE immutable value per issued version
  * (`Issued`: the manifest, plus the frontier, item meta and bloom shards
  * the next step would otherwise read back from the snapshot). A tier body
  * reads the committed value and assembles the next one, which
  * [[commitPhase]] assigns once — when its background commit is issued, or
  * after its synchronous commit has landed.
  */
final class CrawlEngine(
    spark: SparkSession,
    routes: Map[String, RouteSpec],
    fetcher: Fetcher,
    robotsRules: Seq[RobotsRule],
    cfg: EngineConfig,
    hooks: WorkerHooks = WorkerHooks(),
    listeners: Seq[CrawlEngine.StepListener] = Nil) {

  import spark.implicits._
  import CrawlEngine._

  private val store = new SnapshotStore(cfg.statePath)

  /** Run independent writes (Spark actions or driver writes) on concurrent
    * threads and await them all (failures propagate). Superstep writes have
    * no mutual dependencies, so their planning/scheduling/IO latencies
    * overlap instead of chaining.
    */
  private def inParallel(fs: (() => Unit)*): Unit = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    // propagate the calling thread's scheduler pool: jobs submitted from EC
    // worker threads otherwise land in the default pool, where (FIFO) they
    // would serialize against foreground superstep jobs
    val pool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
    fs.map(f => Future {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      f()
    }).foreach(Await.result(_, Duration.Inf))
  }

  /** Per-superstep phase timing (env GRAFT_STEP_TIMING=1) — tuning aid for
    * the flat driver cost that bounds N→4N scaling efficiency. Off by
    * default; zero overhead beyond one branch when off.
    */
  private val stepTiming = sys.env.get("GRAFT_STEP_TIMING").contains("1")
  private def timed[T](name: String)(f: => T): T =
    if (!stepTiming) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stepTiming] $name%-14s ${(System.nanoTime() - t0) / 1e6}%7.0f ms")
      r
    }

  // ---- pipelined commit ------------------------------------------------
  // The snapshot commit is crash-resume IO, not a dataflow dependency: the
  // next superstep plans entirely off the issued value (frontier, item meta,
  // bloom shards), so step s+1's wave+fetch overlaps step s's parquet
  // writes instead of waiting on them. On a real cluster this hides the
  // object-store commit latency behind the next wave. At most ONE commit is
  // in flight; every DISK read of engine state awaits it first, so public
  // accessors and the parts the issued value lacks (resume, distributed
  // fallbacks) always see the committed view. A failed commit surfaces at
  // the next await (step, accessor, or run() end) and fails the crawl.

  /** The latest issued version's state (see [[CrawlEngine.Issued]]); None
    * before seed(), and on a resumed engine before its first step. */
  private var issued: Option[Issued] = None
  /** The previous superstep's commit, if still being written. */
  private var commitInFlight: Option[scala.concurrent.Future[Unit]] = None
  /** A failed commit POISONS the engine. A background commit fails after
    * its version v+1 was issued, with v+1's step dirs never written, so
    * continuing would commit v+2 over a hole (suppressed items resurrecting,
    * a silently lost fetch-log step); a failed synchronous commit is
    * latched the same way, so both commit modes recover alike. The failure
    * is rethrown from EVERY later step() and await — a caller that catches
    * the first throw cannot step() past it. Recovery = a fresh engine
    * resume()d from the last committed snapshot.
    */
  private var commitFailed: Option[Throwable] = None

  private def checkNotPoisoned(): Unit = commitFailed.foreach(e =>
    throw new IllegalStateException("engine poisoned by an earlier commit failure; " +
      "resume() a fresh engine from the last committed snapshot", e))

  private def latchFailure[T](commit: => T): T =
    try commit catch { case e: Throwable => commitFailed = Some(e); throw e }

  private def awaitCommit(): Unit = {
    checkNotPoisoned()
    commitInFlight.foreach { f =>
      try latchFailure(Await.result(f, Duration.Inf))
      finally commitInFlight = None
    }
  }

  /** Test seam: blocks until the in-flight commit, if any, has finished,
    * leaving its outcome for the next step or await to consume. */
  private[graft] def commitSettled(): Unit =
    commitInFlight.foreach(Await.ready(_, Duration.Inf))

  /** Row bound of the driver tier and of the driver-resident frontier (see
    * [[EngineConfig.driverCollectMaxRows]]); 0 forces the distributed tier.
    * The driver tier holds the bloom shards, so a sketch above the
    * broadcast budget forces it too. */
  private val driverRows: Long = {
    val sketchBytes = cfg.bloomPartitions *
      BloomSeen.estimatedShardBytes(cfg.bloomCapacityPerShard, BloomFpp)
    if (sketchBytes <= BloomBroadcastMaxBytes) cfg.driverCollectMaxRows / 1024 else 0L
  }

  /** Superstep-scoped session conf (restored after): see [[AqeInSteps]].
    * The fetch stage's parallelism is pinned by an explicit repartition
    * count (Politeness.wave) either way. `shuffleParts`, when set, also
    * narrows `spark.sql.shuffle.partitions` for the step — a tiny pending
    * frontier otherwise pays full-width exchanges (32 near-empty tasks per
    * politeness window) purely in scheduler latency.
    */
  private def withStepConf[T](shuffleParts: Option[Int])(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val prevA = spark.conf.getOption(aqeKey)
    val prevS = spark.conf.getOption(spKey)
    spark.conf.set(aqeKey, AqeInSteps.toString)
    shuffleParts.foreach(p => spark.conf.set(spKey, p.toString))
    def restore(k: String, prev: Option[String]): Unit = prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
    try body
    finally { restore(aqeKey, prevA); restore(spKey, prevS) }
  }

  private val routesBc = spark.sparkContext.broadcast(routes)
  private val fetcherBc = spark.sparkContext.broadcast(fetcher)
  private val hooksBc = spark.sparkContext.broadcast(hooks)
  /** The robots rules by host, driver-sized by design (`delayByHost` holds
    * them too): the spawn kernel filters each candidate against its own
    * host's rules, and the distributed tier's groups read them broadcast
    * where they are, so no candidate is shuffled for robots. */
  private val rulesByHost = robotsRules.groupBy(_.host)
  private val rulesBc = spark.sparkContext.broadcast(rulesByHost)
  /** Per-task min-gap between fetch starts to one host: the engine-wide
    * [[EngineConfig.hostMinDelayMs]] × the tasks a host spans. */
  private val perTaskHostGapMs = cfg.hostMinDelayMs.toLong * math.max(1, cfg.fetchSplits)
  /** The fetch of one task's partition of a placed wave, as both tiers run it. */
  private val fetchKernel =
    FetchStage.kernel(routesBc, fetcherBc, hooksBc, cfg.forceDynamic, perTaskHostGapMs)
  /** When the engine's last fetch job ended (`System.nanoTime`); see [[paced]]. */
  private var lastFetchEnd: Option[Long] = None

  /** Run a fetch job no sooner than [[perTaskHostGapMs]] after the previous
    * one ended. Each fetch task's token bucket starts empty, so this carries
    * the host pacing across supersteps: without it, two fetches of one host
    * in fetch partition 0 of successive driver-tier steps started 73.5 ms
    * apart under an 80 ms per-task gap (`CrawlEngineSpec`'s pacing test,
    * 4 vCPUs). With pacing off (the default) it never waits.
    */
  private def paced[T](fetch: => T): T = {
    if (perTaskHostGapMs > 0) lastFetchEnd.foreach { end =>
      val waitNs = end + perTaskHostGapMs * 1000000L - System.nanoTime()
      if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
    }
    try fetch finally lastFetchEnd = Some(System.nanoTime())
  }
  private val routeCaps: Map[String, Int] = routes.map { case (k, r) => k -> r.concurrency }
  private val hostDelay: Map[String, Int] = Robots.delayByHost(robotsRules)

  // ---- state table IO -------------------------------------------------

  private val jobEnc = ExpressionEncoder[CrawlJob]()
  private val shardEnc = ExpressionEncoder[BloomShard]()
  private val logEnc = ExpressionEncoder[FetchLog]()

  // explicit schemas skip per-read footer-inference jobs (one driver-side
  // Spark job per read.parquet call otherwise — material at superstep rate)
  private val jobSchema = jobEnc.schema
  private val shardSchema = shardEnc.schema
  private val itemSchema = org.apache.spark.sql.Encoders.product[ImageItem].schema
  private val fetchLogSchema = logEnc.schema
  private def dropStep(t: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(t.filterNot(_.name == "step"))

  // every state read off DISK awaits the in-flight commit (see "pipelined
  // commit" above) — files of the issued version may still be being written
  private def readFrontier(v: Int): Dataset[CrawlJob] = {
    awaitCommit()
    spark.read.schema(jobSchema).parquet(store.tablePath(v, "frontier")).as[CrawlJob]
  }
  private def readBloom(v: Int): Dataset[BloomShard] = {
    awaitCommit()
    spark.read.schema(shardSchema).parquet(store.tablePath(v, "bloom")).as[BloomShard]
  }

  // Raw step outcomes and observability logs are APPEND-ONLY side tables,
  // written once per superstep into step=N partition dirs and never
  // rewritten (Iceberg merge-on-read shape: O(step) IO instead of
  // O(items·steps) copy-on-write). The raw outcome table is written BY THE
  // FETCH JOB ITSELF — image bytes flow scraper → parquet in the fetching
  // task, never held across a stage boundary — and doubles as the item
  // delta: readers pick each (step, key)'s winning row and drop that step's
  // suppressed keys (the small `items_deletes` side table — Iceberg
  // equality-delete shape). Only {frontier, bloom} — the resume-critical
  // state — are snapshot-versioned; readers filter partitions to the
  // committed step, so an uncommitted step dir from a killed run is
  // invisible (cleaned and deterministically rewritten on resume).
  private def rawDir = s"${cfg.statePath}/items_raw"
  private def suppressedDir = s"${cfg.statePath}/items_deletes"
  private def itemsBaseDir = s"${cfg.statePath}/items_base"
  // Finished jobs leave the versioned frontier for this append-only archive
  // in batches: every enqueued job lives in exactly ONE of the latest
  // versioned frontier and the archive up to its step. A driver-array
  // frontier carries its finished rows while the merged array fits
  // [[driverRows]] and flushes them all in one step dir when it would not;
  // a Dataset frontier flushes every finished row each step, so it never
  // carries any. The hot frontier — scanned, rewritten and snapshotted
  // EVERY superstep — stays O(pending + ≤ driverRows carried finished); a
  // months-long 10^10-URL crawl would otherwise pay O(all jobs ever) per
  // step on each of those. Batching cuts the commit, not the layout: the
  // per-step archive of crawl_deep (8 hosts × 3 listings × 8 pages, 4
  // vCPUs) wrote 25–41 one-row bucket files (+ .crc) per step in a 2-stage
  // job of 0.71–1.14 s that ran into the next superstep and ended most of
  // them. The archive is read only by the [[frontier]] accessor (union
  // view) and by the seen-set EXACT check. Each step dir is sub-partitioned
  // by `bucket = pmod(urlKey, ArchiveBuckets)`, so the bloom-positive probe
  // PRUNES to the buckets of its positive keys (asserted by PlanSpec)
  // instead of scanning every archived key — the remaining
  // O(all-jobs-ever) term of a superstep.
  private def archiveDir = s"${cfg.statePath}/jobs_done"

  /** Every engine state write goes through here: no `_SUCCESS` marker.
    * Nothing reads one — the manifest rename and the committed-step filter
    * are the commit record, and Spark's file index skips `_` files — while
    * on a local Hadoop filesystem each marker is 2 more files per write.
    */
  private def stateWrite[T](ds: Dataset[T]): DataFrameWriter[T] =
    ds.write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  // Driver-held tables (driver-array frontier, bloom shards, fetch log,
  // equality deletes, an array's archive flush) are written by the driver
  // itself ([[StateIO.writeRows]]): no Spark job and no Dataset. Through
  // Spark each of these few-dozen-row tables is one job of 0.07–0.40 s that
  // runs into the next superstep and delays its fetch write (crawl_deep, 4
  // vCPUs: 3–4 such jobs per step), plus a `createDataset` of ~15–20 ms on
  // the main thread. The encoders (defined with the schemas above) are
  // built once; each write makes its own serializer, which is not
  // thread-safe (a commit writes from several threads).
  private def writeLocal[T](enc: ExpressionEncoder[T], xs: Iterable[T], dir: String): Unit = {
    val toRow = enc.createSerializer()
    StateIO.writeRows(spark, enc.schema, xs.iterator.map(toRow), dir)
  }

  /** The step's fetch log into its step dir, without the `step` column (the
    * dir name carries it, as a Spark partitioned write leaves it). */
  private def writeLogLocal(log: Array[FetchLog], step: Int): Unit = {
    val schema = dropStep(fetchLogSchema)
    val noStep = UnsafeProjection.create(schema.map(f =>
      BoundReference(fetchLogSchema.fieldIndex(f.name), f.dataType, f.nullable)))
    val toRow = logEnc.createSerializer()
    StateIO.writeRows(spark, schema,
      log.iterator.map(l => noStep(toRow(l))), s"${logDir("fetchlog")}/step=$step")
  }

  /** [[writeArchive]] for a driver array's flush: one file per bucket dir. */
  private def writeArchiveLocal(finished: Array[CrawlJob], step: Int): Unit = {
    val stepDir = s"$archiveDir/step=$step"
    StateIO.deleteRec(stepDir)
    finished.groupBy(j => bucketOf(j.urlKey)).foreach { case (b, js) =>
      writeLocal(jobEnc, js, s"$stepDir/bucket=$b")
    }
  }

  /** One write of a version's commit, handed the version's staging dir: the
    * versioned tables (frontier, bloom) go under it, the step-partitioned
    * side tables (fetch log, equality deletes, archive) to their step dirs.
    */
  private type StateWrite = String => Unit

  /** The write of a next frontier: a driver array by the driver, a Dataset
    * by Spark. */
  private def frontierWrite(f: Frontier): StateWrite = f match {
    case Left(a) => dir => writeLocal(jobEnc, a, s"$dir/frontier")
    case Right(ds) => dir => stateWrite(ds).parquet(s"$dir/frontier")
  }

  private def writeArchive(finished: DataFrame, step: Int): Unit = {
    // Repartition ON the bucket column first: without it every input task
    // opens a writer per bucket it sees, so a W-task wave archives up to
    // W × ArchiveBuckets tiny files per step (measured ~25k files on the
    // 51k-row bench wave — a flat, core-count-independent commit cost that
    // alone broke the N→4N scaling gate). Hash-partitioning by bucket puts
    // each bucket in exactly one task ⇒ ≤ ArchiveBuckets files per flush,
    // and the shuffled rows are byte-free job rows (cheap).
    val parts = math.min(ArchiveBuckets,
      math.max(1, spark.sessionState.conf.numShufflePartitions))
    stateWrite(finished
      .withColumn("bucket", pmod(col("urlKey"), lit(ArchiveBuckets)).cast("int"))
      .repartition(parts, col("bucket")))
      .partitionBy("bucket").mode("overwrite")
      .parquet(s"$archiveDir/step=$step")
  }

  /** The archive rows up to `upToStep`, with `bucket`+`step` partition
    * columns exposed for pruning; None when nothing is archived yet.
    * Callers must [[awaitCommit]] first (a commit appends a step dir).
    */
  private def readArchive(upToStep: Int): Option[DataFrame] = {
    if (graft.state.StateIO.listNames(archiveDir).isEmpty) None
    else Some(spark.read.schema(jobSchema.add("bucket", "int").add("step", "int"))
      .parquet(archiveDir).filter(col("step") <= upToStep))
  }

  private def bucketOf(k: Long): Int =
    (((k % ArchiveBuckets) + ArchiveBuckets) % ArchiveBuckets).toInt

  /** The exact-seen probe's archive leg: scan ONLY the bucket partitions the
    * sorted bloom-positive keys hash to, then filter to those keys. Package-
    * visible so PlanSpec can assert the pruning on the plan it executes.
    */
  private[graft] def archiveProbePlan(posSorted: Array[Long], upToStep: Int)
      : Option[DataFrame] =
    readArchive(upToStep).map { a =>
      val buckets = posSorted.map(bucketOf).distinct.toSeq
      val posBc = spark.sparkContext.broadcast(posSorted)
      val inPos = udf((k: Long) =>
        java.util.Arrays.binarySearch(posBc.value, k) >= 0)
      a.filter(col("bucket").isin(buckets: _*))
        .select(col("urlKey")).filter(inPos(col("urlKey")))
    }

  /** The distributed tier's spawn candidates: each landed outcome's source
    * job, route id, action and spawns — never its items or payloads
    * (PlanSpec asserts the scan's `ReadSchema`) — resolved by
    * [[CrawlEngine.spawnsOf]], with the source job's urlKey and the spawn's
    * position for the admission kernel's tiebreak. */
  private[graft] def spawnCandidates(outcomes: DataFrame): Dataset[(Long, Int, SpawnCand)] = {
    val routesLocal = routesBc
    outcomes.select(col("job.urlKey"), col("job.routeId"), col("action"), col("spawned"))
      .as[(Long, String, String, Seq[SpawnedJob])]
      .flatMap { case (src, rid, action, spawned) =>
        spawnsOf(routesLocal.value, rid, action, spawned).iterator.zipWithIndex
          .map { case (c, i) => (src, i, c) }
      }
  }

  /** `urlKey ∈ sorted` as a broadcast binary-search filter over a Dataset
    * frontier. Kept over an anti-/semi-join against a local relation of
    * the keys: the join's broadcast exchange runs one more Spark job per
    * use (measured on Spark 4.1 with AQE off, as in a step), this filter
    * none.
    */
  private def urlKeyIn(sorted: Array[Long]): Column = {
    val keysBc = spark.sparkContext.broadcast(sorted)
    udf((k: Long) => java.util.Arrays.binarySearch(keysBc.value, k) >= 0)
      .apply(col("urlKey"))
  }
  private def logDir(name: String) = s"${cfg.statePath}/logs/$name"

  private val outcomeEnc = ExpressionEncoder[StepOutcome]()
  private val outcomeSchema = outcomeEnc.schema
  /** The raw outcome table's write spec (uncompressed: the payloads are
    * already PNG/JPEG-compressed) and row encoder, broadcast once per engine
    * for the driver tier's fetch tasks (see `landTask`). */
  private val rawSinkBc = spark.sparkContext.broadcast(
    (StateIO.writeSpec(spark, outcomeSchema, Map("compression" -> "uncompressed")), outcomeEnc))
  private val suppressedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType)))

  /** Highest compacted-base step (see [[compactItems]]); -1 = no base. */
  private def latestBaseStep: Int = {
    val steps = graft.state.StateIO.listNames(itemsBaseDir)
      .collect { case n if n.startsWith("step=") => n.substring(5).toInt }
    if (steps.isEmpty) -1 else steps.max
  }

  private def readStepPartitioned(base: String, upToStep: Int,
      dataSchema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    if (graft.state.StateIO.listNames(base).isEmpty) None
    else Some(spark.read.schema(dataSchema.add("step", "int"))
      .parquet(base).filter(col("step") <= upToStep))
  }

  /** Item deltas, reconstructed at READ time from the raw outcome table:
    * per (step, key) the winning row — lowest (srcJob, image_id, position),
    * the same deterministic pick the write-side made when deltas were
    * pre-filtered — minus that step's equality-deleted (suppressed) keys.
    * Payload bytes are re-zipped from the split `itemBytes` column, so a
    * byte-free caller (e.g. the suppression meta scan) never reads them.
    */
  private def readItemDeltas(upToStep: Int, withBytes: Boolean = true)
      : Dataset[ImageItem] = {
    awaitCommit()
    val b = latestBaseStep
    val base =
      if (b >= 0)
        Some(spark.read.schema(itemSchema)
          .parquet(s"$itemsBaseDir/step=$b").as[ImageItem])
      else None
    val deltas = readStepPartitioned(rawDir, upToStep, outcomeSchema).map { raw =>
      val stepped = raw.filter(col("step") > b)
      // metadata-only readers (suppression meta, counts) skip the payload
      // zip entirely so the parquet scan never touches the byte column
      val items =
        if (withBytes) stepped
          .select(col("step"), col("job.urlKey").as("srcJob"),
            posexplode(arrays_zip(col("items"), col("itemBytes"))).as(Seq("pos", "z")))
          .select(col("step"), col("srcJob"), col("pos"),
            col("z.items").as("item"), col("z.itemBytes").as("payload"))
        else stepped
          .select(col("step"), col("job.urlKey").as("srcJob"),
            posexplode(col("items")).as(Seq("pos", "item")))
          .withColumn("payload", lit(Array.emptyByteArray))
      val kept = readStepPartitioned(suppressedDir, upToStep, suppressedSchema) match {
        case Some(sup) => items.join(
          sup.select(col("step").as("sstep"), col("key").as("skey")),
          col("step") === col("sstep") && col("item.key") === col("skey"),
          "left_anti")
        case None => items
      }
      kept
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("step"), col("item.key"))
            .orderBy(col("srcJob").asc,
              coalesce(col("item.image_id"), lit("")).asc, col("pos").asc)))
        .filter(col("rn") === 1)
        .select(col("item.*"), col("payload"), col("step"))
        .drop("bytes", "createdStep")
        .withColumnRenamed("payload", "bytes")
        .withColumnRenamed("step", "createdStep")
        .as[ImageItem]
    }
    (base, deltas) match {
      case (Some(x), Some(y)) => x.unionByName(y)
      case (Some(x), None) => x
      case (None, Some(y)) => y
      case _ => spark.emptyDataset[ImageItem]
    }
  }

  private def readFetchLogUpTo(upToStep: Int): Dataset[FetchLog] = {
    awaitCommit()
    readStepPartitioned(logDir("fetchlog"), upToStep, dropStep(fetchLogSchema))
      .map(_.as[FetchLog]).getOrElse(spark.emptyDataset[FetchLog])
  }

  /** Remove step partitions newer than the committed step (left by a killed
    * run between the raw-outcome/log writes and the snapshot commit).
    */
  private def cleanStale(base: String, committed: Int): Unit =
    graft.state.StateIO.listNames(base).foreach { n =>
      if (n.startsWith("step=") && n.substring(5).toInt > committed)
        graft.state.StateIO.deleteRec(s"$base/$n")
    }

  def currentVersion: Option[Int] = { awaitCommit(); store.latestVersion }

  def stepOf(v: Int): Int = store.manifest(v).step

  /** All jobs ever enqueued: the active (unfinished) frontier plus the
    * finished-job archive — the union view matching the reference's single
    * jobs collection.
    */
  def frontier: Dataset[CrawlJob] = {
    val v = currentVersion.get
    val active = readFrontier(v)
    readArchive(stepOf(v)) match {
      case Some(a) => active.unionByName(a.drop("step", "bucket").as[CrawlJob])
      case None => active
    }
  }
  def items: Dataset[ImageItem] =
    Items.resolve(readItemDeltas(stepOf(currentVersion.get)))
  def fetchLog: Dataset[FetchLog] = readFetchLogUpTo(stepOf(currentVersion.get))

  /** Read-time aggregation of the fetch log (see [[FetchLog]]). */
  def metrics: Dataset[StepMetrics] =
    fetchLog.groupBy(col("step"), col("host"))
      .agg(count(lit(1)).as("fetched"),
        sum(when(col("action") === "ok", 1L).otherwise(0L)).as("ok"),
        sum(when(col("status") >= 400, 1L).otherwise(0L)).as("errors"),
        sum(when(col("action") === "retry", 1L).otherwise(0L)).as("retried"),
        sum(when(col("status") >= 400 && col("action") === "stop", 1L).otherwise(0L))
          .as("deadLettered"),
        sum(col("itemsCreated")).as("itemsCreated"),
        sum(col("itemsUpdated")).as("itemsUpdated"),
        sum(col("spawnCount").cast("long")).as("jobsSpawned"))
      .as[StepMetrics]

  /** Read-time filter of the fetch log: permanently-failed fetches. */
  def deadLetters: Dataset[DeadLetter] =
    fetchLog.filter(col("status") >= 400 && col("action") === "stop")
      .select(col("urlKey"), col("url"), col("host"),
        col("routeId"), col("status"), col("errorCount"), col("step"))
      .as[DeadLetter]

  // ---- seeding --------------------------------------------------------

  /** Initialize snapshot v0 from seed (routeId, url) pairs — the analogue of
    * `nest.queue(routeKey, url)` (reference: src/nest.js:86-97):
    * canonicalize, dedup, robots-filter, land as the v0 frontier. A null
    * route id or URL, or a state path that holds a crawl, throws first.
    */
  def seed(seeds: Seq[(String, String)]): Unit =
    seedResolved(seeds.map { case (r, u) => (r, u, Map.empty[String, String]) })

  /** Query-parameterized enqueue — the reference's PRIMARY seeding surface
    * `nest.queue(routeKey, {query})` (src/nest.js:86-97): the job's URL is
    * built from the route's template over the query params
    * (`route.getUrl(job)`, src/route.js:31-37). Identity is
    * xxhash64(canonical(built url)), exactly like raw-URL seeds.
    */
  def seedQueries(seeds: Seq[(String, Map[String, String])]): Unit =
    seedResolved(seeds.map { case (r, q) =>
      // a null route id is rejected, with its entry, by seedResolved
      (r, if (r == null) null else routes.getOrElse(r,
        throw new IllegalArgumentException(s"Route $r does not exist")).urlTemplate(q), q)
    })

  /** The seeds are a driver `Seq`, so they are keyed (by the functions the
    * native expressions call), admitted (the spawn kernel,
    * [[CrawlEngine.admitted]], a seed's position its tiebreak) and written
    * by the driver: no Spark job. */
  private def seedResolved(seeds: Seq[(String, String, Map[String, String])]): Unit = {
    seeds.iterator.zipWithIndex.foreach { case ((r, u, q), i) =>
      if (r == null || u == null) throw new IllegalArgumentException(
        s"seed entry $i (routeId $r, url $u, query $q) has a null route id or URL")
    }
    // v0 starts a crawl: under an earlier crawl's later versions it would be
    // shadowed by them (and their step dirs swept by the first step), and an
    // earlier items base would hide the new crawl's items
    currentVersion.map(v => s"snapshot version v$v")
      .orElse(Option.when(StateIO.listNames(itemsBaseDir).nonEmpty)("a compacted items base"))
      .foreach(held => throw new IllegalStateException(s"seed() onto ${cfg.statePath}, " +
        s"which holds $held; resume() it, or seed a fresh state path"))
    val jobs = admitted(seeds.iterator.zipWithIndex.map { case ((r, u, q), i) =>
      val url = graft.canon.UrlCanon.canonicalize(u)
      (0L, i, SpawnCand(graft.canon.CanonUdfs.urlKeyScala(url), url,
        graft.canon.UrlCanon.host(url), r, q))
    }, routes, rulesByHost, createdStep = 0)
    val shards = insertLocal(BloomSeen
      .emptyLocal(cfg.bloomPartitions, cfg.bloomCapacityPerShard, BloomFpp), jobs.map(_.urlKey))
    val manifest = SnapshotStore.Manifest(0, -1, 0L,
      pending = Some(jobs.length), totals = Some(SnapshotStore.Totals(0L, 0L, 0L)))
    store.commit(0, manifest) { dir =>
      writeLocal(jobEnc, jobs, s"$dir/frontier")
      writeLocal(shardEnc, shards, s"$dir/bloom")
    }
    // committed once assigned: the frontier while it fits driverRows (else
    // step 1 reads it back), no item rows (none exist before step 0), shards
    issued = Some(Issued(manifest, Option.when(jobs.length <= driverRows)(Left(jobs)),
      Some(Left(Array.empty)), Some(shards)))
  }

  /** The issued value of a fresh engine over an existing store (resume):
    * the latest manifest alone. A manifest that carries the exact pending
    * count and run totals keeps the exact accounting live, so a drained
    * crawl resumes with zero Spark jobs; the frontier, item meta and bloom
    * shards are read from the snapshot. Without them (an older engine, or a
    * step that ran the distributed plans) the log-based paths take over.
    */
  private def restore(): Issued = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException("seed() first — no snapshot"))
    val cur = Issued(store.manifest(v), None, None, None)
    issued = Some(cur)
    cur
  }

  // ---- one superstep --------------------------------------------------

  /** Execute the next superstep. Returns false (and commits nothing) when no
    * eligible work remains — the analogue of the worker's empty-poll exit
    * (reference: src/worker.js:108-110).
    */
  def step(): Boolean = {
    checkNotPoisoned()
    // the issued value is valid even while its commit is still in flight;
    // a resumed engine loads it from the latest manifest
    val cur = issued.getOrElse(restore())
    val pending = cur.manifest.pending
    // exact early exit: nothing unfinished in the frontier ⇒ the next wave
    // is empty by construction — skip the wave-build/count/pending probe
    if (pending.contains(0L)) false
    else withStepConf(
      // driver-sized pending frontier ⇒ narrow the step's exchanges to
      // ~pending tasks: full-width 32-task windows over a 20-row frontier
      // cost pure scheduler latency. Unknown or large pending leaves the
      // session width untouched (bench/production scale, distributed-forced
      // tests).
      pending.filter(p => p > 0 && p <= math.max(1L, driverRows)).map(p =>
        math.min(spark.sessionState.conf.numShufflePartitions.toLong, p).toInt)
    )(superstep(cur))
  }

  private def superstep(cur: Issued): Boolean = {
    val v = cur.manifest.version
    val committed = cur.manifest.step
    // safe without awaiting the in-flight commit: it writes step=committed
    // dirs, and cleanStale only removes step > committed. The raw outcome
    // dir of the step being built is written BEFORE its commit (by the
    // fetch job itself) — a kill in that window leaves a stale step dir
    // that this sweep removes on resume.
    Seq(rawDir, suppressedDir, archiveDir, logDir("fetchlog"))
      .foreach(cleanStale(_, committed))
    val front = cur.frontier.getOrElse(Right(readFrontier(v)))
    wavePhase(front, committed + 1, cur.manifest.pending.exists(_ <= driverRows)) match {
      case None => false
      case Some((wave, waveN, stepNow)) =>
        // a background commit that has already failed poisons the engine
        // before this step fetches (awaiting a completed future never blocks)
        if (commitInFlight.exists(_.isCompleted)) awaitCommit()
        // the checkpoints this step's writes may read, freed once they land
        val release = wave.toSeq ++ cur.frontier.flatMap(_.toOption)
        fetchPhase(wave, waveN, stepNow) match {
          case DriverTier(meta) => driverStep(cur, front, waveN, stepNow, meta, release)
          case DistributedTier(w, outcomes) =>
            require(front.isRight, s"step $stepNow: a distributed wave of $waveN jobs " +
              s"off a driver-array frontier (at most $driverRows rows, so its waves are " +
              "driver-sized)")
            distributedStep(cur, front.toOption.get, w, waveN, stepNow, outcomes, release)
        }
        true
    }
  }

  /** The politeness wave at the first step ≥ `s` with eligible work, with
    * its size and that step; None when no work remains. A driver-sized wave
    * is a driver array (the driver tier's fetch input), a larger one its
    * checkpointed Dataset. `fits`: the frontier's exact pending count is
    * known and at most `driverRows`, so every wave off it is driver-sized.
    */
  private def wavePhase(front: Frontier, s: Int, fits: Boolean)
      : Option[(Frontier, Long, Int)] = {
    // A driver frontier ⇒ the driver wave (the same sequential take as the
    // Dataset plan). A Dataset frontier whose pending count fits the bound ⇒
    // one collect of the wave plan (a resumed crawl_deep-shaped step ran
    // three jobs here before: checkpoint, count, collect). Otherwise:
    // localCheckpoint (eager) on the shared wave truncates lineage so every
    // downstream action analyzes a shallow scan instead of re-planning the
    // whole superstep tree — catalyst planning time was ~half of each
    // superstep's wall clock before this (measured via SparkListener) —
    // plus a cheap count; a driver-sized wave is then collected from the
    // checkpoint, so both frontiers feed the driver tier the same array.
    def build(atStep: Int): (Frontier, Long) = front match {
      case Left(a) =>
        val w = Politeness.waveLocal(a, atStep, cfg.hostBudget, routeCaps,
          cfg.disabledRoutes, hooks.jobFilter)
        (Left(w), w.length.toLong)
      case Right(ds) =>
        val plan = Politeness.wave(ds, atStep, cfg.hostBudget, routeCaps,
          cfg.disabledRoutes, SaltBuckets, hooks.jobFilter)
        if (fits) {
          val a = plan.collect()
          (Left(a), a.length.toLong)
        } else {
          val w = plan.localCheckpoint(true)
          val n = w.count()
          if (n > driverRows) (Right(w), n)
          else {
            val a = if (n == 0) Array.empty[CrawlJob] else w.collect()
            w.unpersist()
            (Left(a), n)
          }
        }
    }
    val (wave, waveN) = timed("wave")(build(s))
    if (waveN > 0) return Some((wave, waveN, s))
    // Nothing eligible *now*, but retry-backoff / crawl-delay jobs may be
    // waiting on a future step — jump the clock to the earliest one (the
    // analogue of the reference worker's idle poll-sleep, worker.js:108-110).
    val pending: Option[Int] = front match {
      case Left(a) => a.iterator
        .filter(j => !j.state.finished && !cfg.disabledRoutes(j.routeId))
        .map(_.notBeforeStep).minOption
      case Right(ds) =>
        val r = ds
          .filter(!col("state.finished"))
          .filter(if (cfg.disabledRoutes.isEmpty) lit(true)
                  else !col("routeId").isin(cfg.disabledRoutes.toSeq: _*))
          .agg(min(col("notBeforeStep"))).head()
        if (r.isNullAt(0)) None else Some(r.getInt(0))
    }
    // nxt <= s: no forward progress possible
    pending.filter(_ > s).flatMap { nxt =>
      val (w2, n2) = build(nxt)
      Option.when(n2 > 0)((w2, n2, nxt))
    }
  }

  /** Fetch+extract the wave; the fetch job lands its own outcomes. Returns
    * the step's ONE tier decision (see EngineConfig.driverCollectMaxRows),
    * made from the wave size alone (`wavePhase` holds a driver-sized wave as
    * an array):
    *  - a driver-sized wave is placed on the driver (`FetchStage.placed`)
    *    and fetched by one `runJob` of one stage, with no exchange and no
    *    SQL plan: each task writes its outcomes' file ([[landTask]]) and
    *    returns their byte-free metadata, and the driver promotes the files
    *    of the attempts whose results Spark kept (`StateIO.promote`) — no
    *    read of the landed table. Through Spark's SQL write path (plan
    *    optimization, `explainString`, codegen, the file committer's setup)
    *    the same write spent ~120–130 ms of a steady crawl_deep step's
    *    ~140 ms before its job started (4 vCPUs, stack-sampled);
    *  - a larger wave is repartitioned and fetched by a Dataset plan built
    *    for the step (two stages), and gets the landed raw table, read back
    *    byte-free by every later scan.
    */
  private def fetchPhase(wave: Frontier, waveN: Long, stepNow: Int): Tier = {
    // Place the SELECTED wave by (host, split) before fetching (see
    // EngineConfig.fetchSplits): byte-free rows, and the placement caps the
    // tail that otherwise sets the fetch stage's wall clock.
    val fetchParts = {
      val base = spark.sessionState.conf.numShufflePartitions
      val byWave = ((waveN + FetchPagesPerTask - 1) / FetchPagesPerTask).toInt
      // floor at min(base, waveN): a 19-row wave gets ≤19 tasks, not the
      // full shuffle-partition count of near-empty launches (the round-2
      // fixed floor doubled toy-scale superstep cost); big waves keep the
      // adaptive ~pagesPerTask sizing capped at base × factor
      val floor = math.max(1L, math.min(base.toLong, waveN)).toInt
      math.max(floor, math.min(base * FetchTaskFactor, byWave))
    }
    // The fetch job WRITES its outcomes as it produces them: payload bytes
    // flow scraper → parquet inside the fetching task (uncompressed — the
    // payloads are already PNG/JPEG-compressed) and never occupy executor
    // memory past that task. The distributed tier re-reads the landed table
    // column-pruned (the byte column is top-level — see StepOutcome), so
    // "plan the rest of the superstep" costs narrow scans, not a multi-GB
    // in-memory checkpoint. The dir is invisible to readers until the
    // snapshot commit (readers filter to committed steps).
    val rawPath = s"$rawDir/step=$stepNow"
    wave match {
      case Left(jobs) =>
        // Spark hands back one result per partition, the successful
        // attempt's: only those attempts' files are promoted into the step
        // dir, and a lost or doubled result fails the count check.
        val staging = s"$rawPath/_staging"
        val task = landTask(fetchKernel, routesBc, rawSinkBc, staging,
          java.util.UUID.randomUUID().toString)
        StateIO.deleteRec(rawPath)
        val landed = timed("fetch")(paced(spark.sparkContext.runJob(
          FetchStage.placed(spark.sparkContext, jobs, fetchParts, cfg.fetchSplits), task)))
        StateIO.promote(staging, landed.toSeq.flatMap(_._1), rawPath)
        // sorted by job, so the decisions do not depend on the placement
        val meta = landed.flatMap(_._2).sortBy(_.job.urlKey)
        require(meta.length == waveN,
          s"step $stepNow: ${meta.length} returned outcomes for a wave of $waveN jobs")
        DriverTier(meta)
      case Right(ds) =>
        timed("fetch")(paced(stateWrite(ds.repartition(fetchParts,
            col("host"), pmod(col("urlKey"), lit(cfg.fetchSplits))).mapPartitions(fetchKernel))
          .mode("overwrite").option("compression", "uncompressed").parquet(rawPath)))
        DistributedTier(ds, spark.read.schema(outcomeSchema).parquet(rawPath))
    }
  }

  private def metaDf(rows: Array[(String, Long)]): DataFrame = rows.toSeq.toDF("key", "phash")

  /** (key, phash) of every item row up to the committed step: the issued
    * value's driver mirror (Left) or checkpointed DataFrame (Right). When it
    * has none (resume, first step after compaction) the delta dirs are read
    * once (awaiting any in-flight commit); with `mirror` it refills the
    * driver mirror in one bounded collect while the rows fit
    * driverCollectMaxRows.
    */
  private def existingItemMeta(cur: Issued, mirror: Boolean)
      : Either[Array[(String, Long)], DataFrame] =
    cur.itemMeta.getOrElse {
      awaitCommit()
      if (!graft.state.StateIO.isDir(rawDir) && latestBaseStep < 0) Left(Array.empty)
      else {
        val df = readItemDeltas(cur.manifest.step, withBytes = false)
          .select(col("key"), col("phash")).toDF()
        val cap = cfg.driverCollectMaxRows
        val rows =
          if (mirror) df.as[(String, Long)].limit(math.min(cap, Int.MaxValue - 1L).toInt + 1)
            .collect()
          else Array.empty[(String, Long)]
        if (mirror && rows.length <= cap) Left(rows) else Right(df.localCheckpoint(true))
      }
    }

  /** The next item meta as a DataFrame: `existing ∪ added`, checkpointed. */
  private def checkpointMeta(existing: Option[DataFrame], added: DataFrame): DataFrame =
    existing.fold(added)(_.unionByName(added)).localCheckpoint(true)

  private def insertLocal(shards: Array[BloomShard], keys: Array[Long]): Array[BloomShard] = {
    val byPid = keys.groupBy(k => BloomSeen.pidOf(k, cfg.bloomPartitions))
    shards.map(sh => byPid.get(sh.pid).map(BloomSeen.insertLocal(sh, _)).getOrElse(sh))
  }

  /** Robots crawl-delay: the step from which each delayed host among the
    * wave's `touched` hosts may be fetched again. */
  private def hostNext(touched: Iterable[String], stepNow: Int): Map[String, Int] =
    touched.iterator.filter(hostDelay.contains).map(h => h -> (stepNow + hostDelay(h))).toMap

  /** The next Dataset frontier — the frontier's `untouched` pending rows, the
    * wave's `updated` pending rows and the `fresh` jobs, crawl-delay bumped
    * to `delayed` (see [[hostNext]]) — checkpointed, and the write of the
    * finished rows of `untouched` and `updated` to the archive dir of
    * `stepNow`, which it flushes every step (see [[archiveDir]]), so it
    * carries none. Both tiers run it over a Dataset frontier.
    */
  private def datasetFrontier(untouched: Dataset[CrawlJob], updated: Dataset[CrawlJob],
      fresh: Dataset[CrawlJob], delayed: Map[String, Int], stepNow: Int)
      : (Frontier, StateWrite) = {
    val pending = untouched.filter(!col("state.finished"))
      .unionByName(updated.filter(!col("state.finished")))
      .unionByName(fresh)
    val bumped =
      if (delayed.isEmpty) pending
      else {
        val nextLit = typedLit(delayed)
        pending.toDF()
          .withColumn("notBeforeStep",
            when(element_at(nextLit, col("host")).isNotNull,
              greatest(col("notBeforeStep"), element_at(nextLit, col("host"))))
            .otherwise(col("notBeforeStep")))
          .as[CrawlJob]
      }
    val finished = untouched.filter(col("state.finished"))
      .unionByName(updated.filter(col("state.finished")))
    (Right(bumped.localCheckpoint(true)), _ => writeArchive(finished.toDF(), stepNow))
  }

  // -- the two superstep bodies -------------------------------------------
  // Items (raw outcomes + equality deletes; merge-on-read): the bytes are
  // already landed, so a body only DECIDES — winner pick, created-vs-updated
  // flags, phash near-dup suppression — and persists the decisions as small
  // byte-free side outputs (the winner pick is re-derived deterministically
  // at read time; suppression lands as the step's equality-delete keys).
  // Both tiers pick one winner per key by the ONE canonical ordering
  // (srcJob, image_id, pos) — identical to the read-side ranking window in
  // readItemDeltas; a divergent tiebreak (e.g. phash) would let the landed
  // item's phash differ from the one recorded in the item-meta state,
  // corrupting later near-dup votes and breaking resume-identical parity.
  // Spawned jobs: both tiers run the admission kernel
  // ([[CrawlEngine.firstSpawn]] per key → robots → job), probe
  // the bloom and check the bloom-positive keys exactly. Job state and fetch
  // log: both tiers run [[CrawlEngine.advance]] / [[CrawlEngine.logRow]] per
  // outcome.

  /** The driver tier's body: items, spawns, job state, fetch log and the
    * next frontier as driver passes over the outcome metadata the wave's
    * fetch tasks returned, then [[commitPhase]] with driver writes of the tables it
    * holds. It runs no Spark job, its commit included, unless the
    * frontier or the item meta is a Dataset (or outgrows the bound), a
    * bloom-positive spawn misses the frontier (the archive probe), or it
    * reads state back from the snapshot (a resumed engine's first step).
    * Run accounting stays
    * exact while the committed manifest has it: pending = pending − wave +
    * continuing jobs + fresh jobs; fetched = Σ wave sizes; items = Σ created
    * flags (a key is "created" exactly once); dead letters = the
    * stop+4xx/5xx outcomes.
    */
  private def driverStep(cur: Issued, front: Frontier, waveN: Long, stepNow: Int,
      meta: Array[OutcomeMeta], release: Seq[Dataset[_]]): Unit = {
    val (flagBySrc, suppressedKeys, itemMeta, existing) = timed("items") {
      val existing = existingItemMeta(cur, mirror = true)
      // (srcJob, pos, key, image_id, phash)
      val itemTups = meta.iterator.flatMap(r => r.itemMeta.iterator
        .map(m => (r.job.urlKey, m._1, m._2, m._3, m._4))).toArray
      val (suppressedKeys, existedKeys) = Items.suppressAndSeenSets(
        itemTups.map(t => (t._1, t._3, t._4, t._5)),
        if (itemTups.isEmpty) None else Some(existing), cfg.phashThreshold)
      val winners: Map[String, (Long, String, Int, Long)] = itemTups
        .filterNot(t => suppressedKeys(t._3)).groupBy(_._3).map {
          case (k, rows) => k -> rows.iterator.map(r => (r._1, r._4, r._2, r._5))
            .minBy(t => (t._1, t._2, t._3))
        }
      val flagBySrc: Map[Long, (Long, Long)] = winners.groupBy(_._2._1).map {
        case (src, ws) =>
          val created = ws.count { case (k, _) => !existedKeys(k) }
          src -> (created.toLong, (ws.size - created).toLong)
      }
      // the item meta backing the next step's suppression: the driver
      // mirror while the merged rows fit, else a checkpointed DataFrame
      val added = winners.iterator.map { case (k, w) => (k, w._4) }.toArray
      val itemMeta = existing match {
        case Left(old) if old.length.toLong + added.length <= cfg.driverCollectMaxRows =>
          Left(old ++ added)
        case _ =>
          Right(checkpointMeta(Some(existing.fold(metaDf, identity)), metaDf(added)))
      }
      (flagBySrc, suppressedKeys, itemMeta, existing)
    }

    val (fresh, shards) = timed("spawn") {
      val shards = cur.shards.getOrElse(readBloom(cur.manifest.version).collect())
      val cand = admitted(meta.iterator.flatMap(m => m.spawns.iterator.zipWithIndex
        .map { case (c, i) => (m.job.urlKey, i, c) }), routes, rulesByHost, stepNow + 1)
      val old: Set[Long] = {
        val pos = cand.iterator.map(_.urlKey)
          .filter(BloomSeen.probeLocal(shards, cfg.bloomPartitions)).toSet
        // Exact check only on the bloom-positive sliver (true hits + fpp·new):
        // the active frontier is the driver array (with the finished jobs it
        // carries) or a column scan on urlKey, never shuffled; only the keys
        // it misses go to the archive leg, which prunes to their bucket
        // partitions (archiveProbePlan — PlanSpec-asserted), so a probe of k
        // keys touches ≤ min(k, ArchiveBuckets) buckets of the all-jobs-ever
        // table, not every archived key. Reading the archive awaits any
        // in-flight commit (it appends a step dir) — usually a no-op since the
        // commit overlapped the whole fetch; a step whose positives all sit in
        // the frontier never touches it.
        if (pos.isEmpty) Set.empty
        else {
          val posSorted = pos.toArray.sorted
          val active: Set[Long] = front match {
            case Left(a) => a.iterator.map(_.urlKey).filter(pos).toSet
            case Right(ds) => ds.select(col("urlKey")).filter(urlKeyIn(posSorted))
              .as[Long].collect().toSet
          }
          val rest = posSorted.filterNot(active)
          if (rest.isEmpty) active
          else {
            awaitCommit()
            active ++ archiveProbePlan(rest, cur.manifest.step)
              .map(_.as[Long].collect().toSet).getOrElse(Set.empty[Long])
          }
        }
      }
      val fresh = cand.filterNot(j => old(j.urlKey))
      (fresh, insertLocal(shards, fresh.map(_.urlKey)))
    }

    val cont = meta.count(r => r.action == "retry" || (r.action == "ok" && r.hasNextPage))
    val dead = meta.count(r => r.status >= 400 && r.action == "stop")
    val manifest = SnapshotStore.Manifest(cur.manifest.version + 1, stepNow, waveN,
      cur.manifest.pending.map(_ - waveN + cont + fresh.length),
      cur.manifest.totals.map(t => SnapshotStore.Totals(t.fetched + waveN,
        t.items + flagBySrc.valuesIterator.map(_._1).sum, t.deadLettered + dead)))
    val (upd, log) = meta.map { r =>
      val (c, u) = flagBySrc.getOrElse(r.job.urlKey, (0L, 0L))
      val tdel = routes.get(r.job.routeId).map(_.transitionDelay).getOrElse(0)
      (CrawlEngine.advance(r.job, r.action, r.hasNextPage, r.newState,
          r.nSpawned, c, u, stepNow, tdel, cfg.retryBackoffSteps),
        CrawlEngine.logRow(stepNow, r.job, r.status, r.action,
          r.hasNextPage, r.nSpawned, c, u))
    }.unzip

    val (next, archived) = timed("front.next") {
      val delayed = hostNext(meta.map(_.job.host), stepNow)
      front match {
        case Left(f) =>
          // the fetch stage maps wave rows 1:1 to outcomes, so the updated
          // rows carry every wave key
          val inWave = upd.iterator.map(_.urlKey).toSet
          val a = (f.iterator.filterNot(j => inWave(j.urlKey)) ++
            upd.iterator ++ fresh.iterator)
            .map(j => delayed.get(j.host) match {
              case Some(n) if !j.state.finished && n > j.notBeforeStep =>
                j.copy(notBeforeStep = n)
              case _ => j
            }).toArray
          // the array keeps its finished rows while it fits driverRows, else
          // flushes them all; its pending rows stay the array while they fit
          if (a.length <= driverRows) (Left(a), None)
          else {
            val (done, pending) = a.partition(_.state.finished)
            (if (pending.length <= driverRows) Left(pending)
             else Right(spark.createDataset(pending.toSeq).localCheckpoint(true)),
             Option.when(done.nonEmpty)((_: String) => writeArchiveLocal(done, stepNow)))
          }
        case Right(ds) =>
          // the wave keys filter the frontier in one narrow scan
          val (n, archive) = datasetFrontier(ds.filter(!urlKeyIn(upd.map(_.urlKey).sorted)),
            spark.createDataset(upd.toSeq).coalesce(1), spark.createDataset(fresh.toSeq),
            delayed, stepNow)
          (n, Some(archive))
      }
    }
    // the driver writes every table it holds; one file each, as seed() writes
    val deletes = Option.when(suppressedKeys.nonEmpty)((_: String) =>
      StateIO.writeRows(spark, suppressedSchema,
        suppressedKeys.iterator.map(k => InternalRow(UTF8String.fromString(k))),
        s"$suppressedDir/step=$stepNow"))
    commitPhase(Issued(manifest, Some(next), Some(itemMeta), Some(shards)),
      Seq[StateWrite](frontierWrite(next), _ => writeLogLocal(log, stepNow),
        dir => writeLocal(shardEnc, shards, s"$dir/bloom")) ++ archived ++ deletes,
      spark.createDataset(log.toSeq), release ++ existing.toOption)
  }

  /** The distributed tier's body: items, spawns, job state, fetch log and the
    * next frontier as Dataset plans over the landed raw `outcomes`, with no
    * per-step driver state, then [[commitPhase]]. Its manifest drops the
    * exact pending count and totals, and the log-based paths take over —
    * identical values, a few extra jobs. The suppressed plan reads only
    * stable inputs (the landed raw table + the item-meta checkpoint), so the
    * background commit re-executes it safely.
    */
  private def distributedStep(cur: Issued, front: Dataset[CrawlJob], wave: Dataset[CrawlJob],
      waveN: Long, stepNow: Int, outcomes: DataFrame, release: Seq[Dataset[_]]): Unit = {
    val (flagDf, suppressed, itemMeta, itemRelease) = timed("items") {
      val existing: Option[DataFrame] = existingItemMeta(cur, mirror = false) match {
        case Left(a) if a.isEmpty => None
        case Left(a) => Some(metaDf(a).localCheckpoint(true))
        case Right(df) => Some(df)
      }
      val incoming = outcomes
        .select(col("job.urlKey").as("srcJob"), posexplode(expr(
          "transform(items, it -> named_struct(" +
            "'key', it.key, 'image_id', it.image_id, 'phash', it.phash))"))
          .as(Seq("pos", "it")))
        .select(col("srcJob"), col("pos"), col("it.key").as("key"),
          coalesce(col("it.image_id"), lit("")).as("image_id"),
          col("it.phash").as("phash"))
      val suppressed = Items.suppressedKeyDf(incoming, existing, cfg.phashThreshold)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(col("srcJob").asc, col("image_id").asc, col("pos").asc)
      // reused by the flag agg and the item-meta update → checkpoint once
      val winners = incoming.join(suppressed, Seq("key"), "left_anti")
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1).drop("rn")
        .localCheckpoint(true)
      val winnersFlagged = existing match {
        case Some(ex) => winners.join(
          ex.select(col("key")).distinct().withColumn("existed", lit(true)),
          Seq("key"), "left")
        case None => winners.withColumn("existed", lit(false))
      }
      val flagDf = winnersFlagged.groupBy(col("srcJob"))
        .agg(
          sum(when(coalesce(col("existed"), lit(false)), 0L).otherwise(1L))
            .as("created"),
          sum(when(coalesce(col("existed"), lit(false)), 1L).otherwise(0L))
            .as("updated"))
      (flagDf, Option.when(cfg.phashThreshold >= 0)(suppressed),
        checkpointMeta(existing, winners.select(col("key"), col("phash"))),
        Seq(winners) ++ existing)
    }

    val (fresh, bloom, spawnRelease) = timed("spawn") {
      // the spawn kernel: one candidate per urlKey (reduced map-side first,
      // so no group holds a key's every spawn), then robots and the job in
      // each bloom shard's group, streamed past that one shard's probe; then
      // an exact semi-join on the maybe-seen keys. Locals only in executor
      // closures, since capturing fields would serialize `this`
      val (routesLocal, rulesLocal, p, created) =
        (routesBc, rulesBc, cfg.bloomPartitions, stepNow + 1)
      val bloom = readBloom(cur.manifest.version)
      val probed = spawnCandidates(outcomes)
        .groupByKey(_._3.urlKey).reduceGroups(CrawlEngine.firstSpawn _).map(_._2)
        .groupByKey(c => BloomSeen.pidOf(c._3.urlKey, p))
        .cogroup(bloom.groupByKey(_.pid)) { (_, cs, ss) =>
          if (cs.isEmpty) Iterator.empty
          else {
            val might = BloomSeen.probeLocal(ss.toArray, p)
            cs.flatMap(c => CrawlEngine.spawnJob(c._3, routesLocal.value, rulesLocal.value, created))
              .map(j => (j, might(j.urlKey)))
          }
        }.localCheckpoint(true)
      def jobs(might: Boolean) =
        probed.filter(col("_2") === might).select(col("_1.*")).as[CrawlJob]
      val maybeSeen = jobs(might = true)
      // readBloom above already awaited the commit — the archive dirs up to
      // the committed step are fully landed. The archive leg joins on
      // (bucket, urlKey) against the broadcast maybe-seen keys: bucket is
      // the archive's partition column, so dynamic partition pruning can
      // drop non-matching bucket dirs before the scan.
      val seenEver = readArchive(cur.manifest.step) match {
        case Some(a) => front.select(col("urlKey"))
          .unionByName(a
            .join(broadcast(maybeSeen.select(col("urlKey"),
              pmod(col("urlKey"), lit(ArchiveBuckets)).cast("int").as("bucket"))),
              Seq("bucket", "urlKey"), "left_semi")
            .select(col("urlKey")))
        case None => front.select(col("urlKey"))
      }
      val seenConfirmed = seenEver
        .join(broadcast(maybeSeen.select(col("urlKey"))), Seq("urlKey"), "left_semi")
      val confirmedNew = maybeSeen.join(broadcast(seenConfirmed), Seq("urlKey"), "left_anti")
      val fresh = jobs(might = false).unionByName(confirmedNew.as[CrawlJob])
        .localCheckpoint(true)
      (fresh, BloomSeen.insert(bloom, fresh.map(_.urlKey), cfg.bloomPartitions),
        Seq(probed, fresh))
    }

    // a byte-free projection of the landed outcomes, flags left-joined;
    // locals only in executor closures — capturing fields would serialize
    // `this`
    val routesLocal = routesBc
    val backoff = cfg.retryBackoffSteps
    val metaFlagged = outcomes
      .join(flagDf.withColumnRenamed("srcJob", "jk"), col("job.urlKey") === col("jk"), "left")
      .select(col("job").as("_1"), col("status").as("_2"), col("action").as("_3"),
        col("hasNextPage").as("_4"), col("newState").as("_5"),
        size(col("spawned")).as("_6"), coalesce(col("created"), lit(0L)).as("_7"),
        coalesce(col("updated"), lit(0L)).as("_8"))
      .as[(CrawlJob, Int, String, Boolean, Map[String, String], Int, Long, Long)]
    val upd = metaFlagged.map {
      case (job, _, action, hasNextPage, newState, nSpawned, created, updated) =>
        val tdel = routesLocal.value.get(job.routeId)
          .map(_.transitionDelay).getOrElse(0)
        CrawlEngine.advance(job, action, hasNextPage, newState,
          nSpawned, created, updated, stepNow, tdel, backoff)
    }
    val log = metaFlagged.map {
      case (job, status, action, hasNext, _, nSpawned, created, updated) =>
        CrawlEngine.logRow(stepNow, job, status, action, hasNext,
          nSpawned, created, updated)
    }.toDF()

    val (next, archive) = timed("front.next") {
      // the delayed-host universe is the robots rules table (tiny by
      // design), so the touched∩delayed set collects at ANY wave size
      val touched =
        if (hostDelay.isEmpty) Nil
        else wave.select(col("host")).distinct()
          .filter(col("host").isin(hostDelay.keys.toSeq: _*)).as[String].collect().toSeq
      // the wave anti-joins the frontier (strategy left to Catalyst)
      datasetFrontier(front.join(wave.select(col("urlKey")), Seq("urlKey"), "left_anti")
        .as[CrawlJob], upd, fresh, hostNext(touched, stepNow), stepNow)
    }
    val deletes = suppressed.map(sup => (_: String) =>
      stateWrite(sup.coalesce(1)).mode("overwrite").parquet(s"$suppressedDir/step=$stepNow"))
    commitPhase(Issued(SnapshotStore.Manifest(cur.manifest.version + 1, stepNow, waveN,
        None, None), Some(next), Some(Right(itemMeta)), None),
      Seq[StateWrite](frontierWrite(next),
        _ => stateWrite(log.drop("step").coalesce(1)).mode("overwrite")
          .parquet(s"${logDir("fetchlog")}/step=$stepNow"),
        dir => stateWrite(bloom).parquet(s"$dir/bloom"), archive) ++ deletes,
      log.as[FetchLog], release ++ itemRelease ++ spawnRelease)
  }

  /** The end of both superstep bodies: issue the step's snapshot commit of
    * `next` (pipelined unless listeners wait on it) and make `next` the
    * issued value. `writes` = the step's writes: next's frontier, the
    * step's fetch log, the next bloom version, its equality-delete keys if
    * any and the archive if the frontier flushed — by the driver on the
    * driver tier, by Spark on the distributed tier. `stepLog` = the step's
    * fetch log for listeners, built only when there are some. `release` =
    * checkpoints the writes read, freed once they land.
    */
  private def commitPhase(next: Issued, writes: Seq[StateWrite],
      stepLog: => Dataset[FetchLog], release: Seq[Dataset[_]]): Unit = {
    val (v, stepNow) = (next.manifest.version, next.manifest.step)
    // The superstep writes are independent — driver writes, or Spark plans
    // over already-checkpointed inputs — run from parallel threads so
    // planning + scheduling + small-file IO overlap (Spark job submission
    // is thread-safe by design). Atomicity
    // is unchanged: nothing is visible until the manifest rename, and stale
    // step dirs from a failed commit are swept by cleanStale on the next
    // step/resume. The item payloads are ALREADY on disk (landed by the
    // fetch job); the commit persists only byte-free state.
    // The WHOLE commit is pipelined (see "pipelined commit" at the top):
    // with no listeners it runs on a background thread, overlapping the
    // next superstep's wave+fetch — a superstep's flat driver cost is the
    // N→4N scaling-efficiency ceiling, and the commit was its largest term.
    // step s+1 plans off `next`, issued below; any disk read awaits. The
    // previous commit (long since done — a whole superstep elapsed) is
    // awaited before this one is issued, so commits are ordered and at most
    // one is in flight.
    timed("commit.await")(awaitCommit())
    def commitWork(): Unit = {
      store.commit(v, next.manifest)(dir => inParallel(writes.map(w => () => w(dir)): _*))
      store.expire(v - cfg.retainSnapshots + 1)
    }
    if (listeners.nonEmpty) {
      // listener contract: fan-out AFTER the commit (stepLog reads the
      // landed raw outcomes + this step's flags) — so commit synchronously;
      // `next` is issued once it has landed
      timed("commit")(latchFailure(commitWork()))
      issued = Some(next)
      val log = stepLog
      listeners.foreach(_.onStepCommitted(stepNow, log))
      release.foreach(_.unpersist())
    } else {
      import scala.concurrent.ExecutionContext.Implicits.global
      issued = Some(next)
      commitInFlight = Some(scala.concurrent.Future {
        // own fair-scheduler pool: under spark.scheduler.mode=FAIR the
        // commit's jobs share task slots with the next superstep's wave +
        // fetch instead of queueing ahead of them (FIFO would hand the
        // commit every slot first, serializing the "overlap"). Under the
        // default FIFO mode this property is inert — the commit still runs,
        // just without slot sharing. Benches/clusters should set FAIR. Only
        // a distributed-tier commit (or a Dataset frontier's) runs jobs: a
        // driver-array step's commit is all driver writes.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-commit")
        try {
          timed("commit.bg")(commitWork())
          release.foreach(_.unpersist())
        } finally
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      })
    }
  }

  /** Run supersteps until the frontier drains or maxSteps is hit. */
  def run(): RunSummary = {
    var steps = 0
    while (steps < cfg.maxSteps && step()) steps += 1
    awaitCommit() // land the final superstep's pipelined commit
    summary(steps)
  }

  /** Continue from the latest snapshot — the kill-resume path. */
  def resume(): RunSummary = run()

  /** Maintenance: compact the append-only item deltas (the engine's Iceberg
    * `rewrite_data_files` analogue). A long crawl accumulates one delta dir
    * per superstep, so the item reads and the per-superstep existing-keys
    * scan pay O(steps) file opens; compaction LWW-resolves everything up to
    * the committed step into `items_base/step=K` (written to a temp dir,
    * atomic rename — readers take the max base and deltas AFTER it, so every
    * crash window leaves a consistent view), then drops the absorbed delta
    * dirs. Safe between supersteps or after a run; NOT concurrent with
    * step(). After compaction, phash near-dup suppression compares against
    * the LIVE item set only — superseded versions no longer vote (the
    * live-set semantics; pre-compaction scans see all delta rows).
    */
  def compactItems(): Unit = withStepConf(None) {
    awaitCommit()
    // compaction switches suppression to live-set semantics (superseded
    // versions no longer vote) — drop the all-delta-rows item meta
    issued.flatMap(_.itemMeta).foreach(_.foreach(_.unpersist()))
    issued = issued.map(_.copy(itemMeta = None))
    import graft.state.StateIO
    for (v <- currentVersion) {
      val committed = stepOf(v)
      val prevBase = latestBaseStep
      if (committed >= 0 && prevBase < committed) {
        val tmp = s"${cfg.statePath}/.compact-items"
        StateIO.deleteRec(tmp)
        stateWrite(Items.resolve(readItemDeltas(committed))).parquet(tmp)
        StateIO.moveReplace(tmp, s"$itemsBaseDir/step=$committed")
        // absorbed inputs — readers already ignore them (max-base rule).
        // NOTE: dropping a raw step dir also drops that step's fetch
        // outcomes for item purposes only — the fetch LOG (the
        // observability record) lives in its own table and is untouched.
        if (prevBase >= 0) StateIO.deleteRec(s"$itemsBaseDir/step=$prevBase")
        Seq(rawDir, suppressedDir).foreach { base =>
          StateIO.listNames(base).foreach { n =>
            if (n.startsWith("step=") && n.substring(5).toInt <= committed)
              StateIO.deleteRec(s"$base/$n")
          }
        }
      }
    }
  }

  private def summary(steps: Int): RunSummary = timed("summary") {
    // the issued manifest's exact totals when it has them (zero Spark jobs
    // — see driverStep); else one pass over the fetch log (count ==
    // fetched: one row per fetch; dead letters are the stop+4xx/5xx rows)
    // and the item count off the issued item meta when it has one —
    // LWW-resolved count == distinct delta keys, no window over the full
    // delta scan
    issued.flatMap(_.manifest.totals) match {
      case Some(t) => RunSummary(steps, t.fetched, t.items, t.deadLettered)
      case None =>
        val row = fetchLog.agg(
          count(lit(1)),
          coalesce(sum(when(col("status") >= 400 && col("action") === "stop", 1L)
            .otherwise(0L)), lit(0L))).head()
        val itemCount = issued.flatMap(_.itemMeta) match {
          case Some(Left(a)) => a.iterator.map(_._1).distinct.size.toLong
          case Some(Right(df)) => df.select(col("key")).distinct().count()
          case None => items.count()
        }
        RunSummary(steps, row.getLong(0), itemCount, row.getLong(1))
    }
  }
}
