package graft

import graft.corpus._
import graft.engine.{CrawlEngine, EngineConfig, RunSummary}
import graft.fetch.CorpusFetcher
import graft.model.{CrawlJob, RobotsRule}
import graft.state.SnapshotStore
import graft.state.SnapshotStore.Totals

/** Shared recorder for the rate-limiter and commit-failure tests:
  * fetch-start events as (partitionId, host, nanoTime). local[N] executors
  * share the JVM, so a static concurrent queue observes every task's fetches.
  */
object PaceRecorder {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
}

/** Delegating fetcher that records each fetch start for pacing asserts. */
final class PacedFetcher(inner: graft.fetch.Fetcher) extends graft.fetch.Fetcher {
  override def fetch(url: String, attempt: Int): graft.model.FetchedPage = {
    PaceRecorder.events.add((org.apache.spark.TaskContext.getPartitionId(),
      graft.canon.UrlCanon.host(url), System.nanoTime()))
    inner.fetch(url, attempt)
  }
}

/** Stage ids of the stages that ran a fetch. */
object FetchStages {
  val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}

/** Delegating fetcher that records the stage each fetch runs in. */
final class StageRecordingFetcher(inner: graft.fetch.Fetcher) extends graft.fetch.Fetcher {
  override def fetch(url: String, attempt: Int): graft.model.FetchedPage = {
    FetchStages.ids.add(org.apache.spark.TaskContext.get().stageId())
    inner.fetch(url, attempt)
  }
}

object CrawlEngineSpec {
  /** The suite's corpus. */
  val corpus = CorpusSpec(hosts = 2, listPages = 3, detailsPerList = 4)
  /** The suite's engine settings, keeping every snapshot version. */
  def retainAll(dir: String): EngineConfig = EngineConfig(statePath = dir, hostBudget = 2,
    retainSnapshots = 1000, bloomPartitions = 4, bloomCapacityPerShard = 1 << 16)
}

/** End-to-end engine invariants — the Spark re-expression of the reference's
  * engine/worker test suite (reference: test/worker.js:90-100 pagination to
  * finish, test/nest.js:56-114 concurrency cap, test/item.js:43-66 upsert).
  */
class CrawlEngineSpec extends SparkSpec {

  val spec = CrawlEngineSpec.corpus
  lazy val fetcher = new CorpusFetcher(SyntheticCorpus.buildLocal(spec))
  lazy val routes = SiteRoutes.registry(spec)

  def newEngine(dir: String, maxSteps: Int = 10000,
      robots: Seq[RobotsRule] = Nil): CrawlEngine =
    new CrawlEngine(spark, routes, fetcher, robots,
      EngineConfig(statePath = dir, hostBudget = 2, maxSteps = maxSteps,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))

  /** ids of details that exist (not planted-404). */
  def liveIds: Seq[Long] = (0L until spec.totalDetails).filter(_ % spec.deadMod != 7)
  /** ids suppressed as near-dups: one member of each planted pair that both landed. */
  def nearDupPairs: Seq[(Long, Long)] =
    (0L until spec.totalDetails)
      .filter(id => id % spec.nearDupMod == 3 && id > 0)
      .map(id => (id - 1, id))
      .filter { case (a, b) => a % spec.deadMod != 7 && b % spec.deadMod != 7 }

  test("full crawl: pagination, dedup, retry, dead-letter, phash suppression") {
    val dir = tmpDir("engine-e2e")
    val eng = newEngine(dir)
    eng.seed(SyntheticCorpus.seeds(spec))
    val sum = eng.run()
    assert(sum.steps > 0)

    // pagination-to-finish (reference test/worker.js:90-100): every listing
    // job crawled all its pages and finished.
    val listings = eng.frontier.filter(_.routeId == SyntheticCorpus.LISTING).collect()
    assert(listings.length == spec.hosts)
    listings.foreach { j =>
      assert(j.state.finished, s"listing ${j.url} not finished")
      assert(j.stats.pages == spec.listPages, s"listing ${j.url} pages=${j.stats.pages}")
      assert(j.stats.spawned == spec.listPages * spec.detailsPerList)
    }

    // every live detail fetched exactly once per key; near-dups suppressed
    val items = eng.items.collect()
    val expectedSuppressed = nearDupPairs.size
    assert(items.length == liveIds.size - expectedSuppressed,
      s"items=${items.length} live=${liveIds.size} suppressed=$expectedSuppressed")

    // caption exact-equality + phash parity + PSNR gate per row (input_hint)
    val corpus = SyntheticCorpus.buildLocal(spec)
    items.foreach { it =>
      val row = corpus(it.link)
      assert(it.caption == row.caption, s"caption mismatch for ${it.link}")
      assert(it.phash == row.phash, s"phash mismatch for ${it.link}")
      assert(java.util.Arrays.equals(it.bytes, row.body))
      if (it.fmt == "jpeg") {
        // near-dup rows are rendered from (id-1)'s params with a phase jitter
        val id = it.image_id.toLong
        val isNearDup = id % spec.nearDupMod == 3 && id > 0
        val orig = Images.synth(if (isNearDup) id - 1 else id,
          spec.imgW, spec.imgH, if (isNearDup) 0.02 else 0.0)
        assert(Images.psnr(orig, Images.decode(it.bytes)) >= 40.0)
      }
    }

    // dead letters: every planted-404 id exactly once (4xx → stop, no retry)
    val dead = eng.deadLetters.collect()
    val dead404 = dead.filter(_.status == 404)
    assert(dead404.length == (0L until spec.totalDetails).count(_ % spec.deadMod == 7))

    // flaky 500s: retried then succeeded — metrics show retries, and the
    // flaky ids still landed (unless suppressed as a near-dup)
    val m = eng.metrics.collect()
    val retried = m.map(_.retried).sum
    val flakyIds = liveIds.filter(_ % spec.flakyMod == 5)
    assert(retried == flakyIds.size, s"retried=$retried expected=${flakyIds.size}")

    // politeness: per (step, host) fetches never exceed the host budget
    m.foreach(row => assert(row.fetched <= 2, s"budget breach: $row"))

    // frontier is fully drained
    assert(eng.frontier.filter(!_.state.finished).count() == 0)
    // re-running is a no-op (idempotent completion)
    assert(!eng.step())

    // the exact driver-side accounting (zero-job RunSummary + early-exit
    // pending counter) agrees with the log-derived ground truth
    assert(sum.fetched == eng.fetchLog.count(), "fetched accounting")
    assert(sum.items == eng.items.count(), "items accounting")
    assert(sum.deadLettered == eng.deadLetters.count(), "dead-letter accounting")
  }

  test("forced distributed plans: same items (incl. phash suppression), stats, dead letters") {
    // driverCollectMaxRows = 0 → banded near-dup suppression join, windowed
    // winners, flag joins, wave anti-join — must reproduce the driver path
    // bit-for-bit (same keys, same per-job stats, same dead letters)
    val dirA = tmpDir("engine-dist")
    val a = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16,
        driverCollectMaxRows = 0L))
    a.seed(SyntheticCorpus.seeds(spec))
    a.run()
    val dirB = tmpDir("engine-driver")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(spec))
    b.run()
    val ia = a.items.collect().map(i => (i.key, i.image_id, i.phash, i.caption)).sortBy(_._1)
    val ib = b.items.collect().map(i => (i.key, i.image_id, i.phash, i.caption)).sortBy(_._1)
    assert(ia.sameElements(ib), "distributed-path items differ from driver path")
    val fa = a.frontier.collect().map(j => (j.urlKey, j.stats, j.state.finished)).sortBy(_._1)
    val fb = b.frontier.collect().map(j => (j.urlKey, j.stats, j.state.finished)).sortBy(_._1)
    assert(fa.sameElements(fb), "distributed-path frontier/stats differ from driver path")
    assert(a.deadLetters.collect().map(_.urlKey).sorted
      .sameElements(b.deadLetters.collect().map(_.urlKey).sorted))
  }

  test("hostMinDelayMs bounds the per-host fetch rate across split tasks") {
    PaceRecorder.events.clear()
    val dir = tmpDir("engine-paced")
    val eng = new CrawlEngine(spark, routes, new PacedFetcher(fetcher), Nil,
      EngineConfig(statePath = dir, hostBudget = 8, maxSteps = 3,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16,
        fetchSplits = 2, hostMinDelayMs = 40))
    eng.seed(SyntheticCorpus.seeds(spec))
    eng.run()
    import scala.jdk.CollectionConverters._
    val ev = PaceRecorder.events.asScala.toSeq
    assert(ev.nonEmpty)
    // per-task token bucket: consecutive fetch starts to one host within a
    // task are ≥ hostMinDelayMs × fetchSplits apart (80 ms; 5 ms timer slack)
    val perTask = ev.groupBy(e => (e._1, e._2))
    assert(perTask.exists(_._2.size >= 2), "no task fetched a host twice — pacing unexercised")
    perTask.foreach { case ((pid, host), es) =>
      es.map(_._3).sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b - a >= 75L * 1000000,
          s"task $pid host $host paced ${(b - a) / 1e6} ms < 80 ms")
        case _ =>
      }
    }
    // aggregate: with ≤2 tasks per host at 80 ms/task the host-level rate is
    // bounded at ~1/40 ms — n fetches must span ≥ (n-2) × 40 ms
    ev.groupBy(_._2).foreach { case (host, es) =>
      val ts = es.map(_._3).sorted
      if (ts.size > 2)
        assert(ts.last - ts.head >= (ts.size - 2).toLong * 40L * 1000000 * 9 / 10,
          s"host $host aggregate rate breach: ${ts.size} fetches in ${(ts.last - ts.head) / 1e6} ms")
    }
  }

  test("kill after step k → resume → identical final state") {
    val specSmall = spec
    val dirA = tmpDir("engine-killed")
    val a = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2, maxSteps = 3,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    a.seed(SyntheticCorpus.seeds(specSmall))
    a.run() // stops after 3 supersteps — the "kill"
    val resumed = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    val resumedSum = resumed.resume()

    val dirB = tmpDir("engine-straight")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(specSmall))
    val straightSum = b.run()

    // the resumed roll-up covers the whole crawl: it equals the
    // uninterrupted run's and the log-derived ground truth
    assert(resumedSum.steps > 0)
    assert(totalsOf(resumedSum) == totalsOf(straightSum), s"$resumedSum vs $straightSum")
    assert(totalsOf(resumedSum) == logTotals(resumed), s"$resumedSum vs the logs")
    // a drained crawl resumes with the same roll-up and runs no superstep
    val drainedSum = newEngine(dirB).resume()
    assert(drainedSum.steps == 0)
    assert(totalsOf(drainedSum) == totalsOf(straightSum), s"$drainedSum vs $straightSum")

    val keysA = resumed.items.collect().map(_.key).sorted
    val keysB = b.items.collect().map(_.key).sorted
    assert(keysA.sameElements(keysB), "resumed items differ from straight run")
    val fA = resumed.frontier.collect().map(j => (j.urlKey, j.state.finished,
      j.stats.pages, j.state.currentPage)).sortBy(_._1)
    val fB = b.frontier.collect().map(j => (j.urlKey, j.state.finished,
      j.stats.pages, j.state.currentPage)).sortBy(_._1)
    assert(fA.sameElements(fB), "resumed frontier differs from straight run")
  }

  def totalsOf(s: RunSummary): Totals = Totals(s.fetched, s.items, s.deadLettered)
  /** The run totals recounted from the committed logs and items. */
  def logTotals(e: CrawlEngine): Totals =
    Totals(e.fetchLog.count(), e.items.count(), e.deadLetters.count())
  def manifestOf(dir: String, v: Int): SnapshotStore.Manifest =
    new SnapshotStore(dir).manifest(v)

  test("every manifest records the exact pending count and the log totals up to its step") {
    val dir = tmpDir("engine-manifests")
    val eng = newEngine(dir)
    eng.seed(SyntheticCorpus.seeds(spec))
    var checked = 0
    var more = true
    while (more) {
      val v = eng.currentVersion.get // awaits the pipelined commit
      val m = manifestOf(dir, v)
      assert(m.totals.contains(logTotals(eng)), s"v$v: $m")
      assert(m.pending.contains(eng.frontier.filter(!_.state.finished).count()), s"v$v: $m")
      checked += 1
      more = eng.step()
    }
    assert(checked > 4, s"only $checked versions")
  }

  test("manifests without pending/totals (older engine) resume through the log-based path") {
    // rewrite every manifest to the older engine's fields only (through
    // StateIO, which keeps the local filesystem's checksum files in step)
    def stripManifests(dir: String): Unit = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("v=")).foreach { d =>
        val f = s"$dir/${d.getName}/_snapshot.json"
        val o = mapper.readTree(graft.state.StateIO.readString(f))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        o.remove("pending"); o.remove("totals")
        graft.state.StateIO.writeString(f, mapper.writeValueAsString(o))
      }
    }
    val dirA = tmpDir("engine-oldmanifest")
    val a = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2, maxSteps = 3,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    a.seed(SyntheticCorpus.seeds(spec))
    a.run()
    stripManifests(dirA)
    val resumed = newEngine(dirA)
    val resumedSum = resumed.resume()
    val dirB = tmpDir("engine-oldmanifest-straight")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(spec))
    val straightSum = b.run()
    assert(totalsOf(resumedSum) == totalsOf(straightSum), s"$resumedSum vs $straightSum")
    val fA = resumed.frontier.collect().map(j => (j.urlKey, j.stats, j.state)).sortBy(_._1)
    val fB = b.frontier.collect().map(j => (j.urlKey, j.stats, j.state)).sortBy(_._1)
    assert(fA.sameElements(fB), "resumed frontier differs from straight run")
    // a drained crawl with older manifests: no superstep, totals from the logs
    stripManifests(dirB)
    val drainedSum = newEngine(dirB).resume()
    assert(drainedSum.steps == 0)
    assert(totalsOf(drainedSum) == totalsOf(straightSum), s"$drainedSum vs $straightSum")
    // the distributed plans record no totals either; resume recounts the logs
    val dirD = tmpDir("engine-dist-manifest")
    def distEngine = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirD, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16,
        driverCollectMaxRows = 0L))
    val d = distEngine
    d.seed(SyntheticCorpus.seeds(spec))
    val distSum = d.run()
    assert(manifestOf(dirD, d.currentVersion.get).totals.isEmpty)
    val distResumed = distEngine.resume()
    assert(distResumed.steps == 0)
    assert(totalsOf(distResumed) == totalsOf(distSum), s"$distResumed vs $distSum")
    assert(totalsOf(distSum) == totalsOf(straightSum), s"$distSum vs $straightSum")
  }

  test("a failed commit poisons the engine in both commit modes; a fresh engine resumes") {
    val dirB = tmpDir("engine-commitfail-straight")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(spec))
    val straightSum = b.run()
    val noop = new CrawlEngine.StepListener {
      override def onStepCommitted(step: Int,
          stepLog: org.apache.spark.sql.Dataset[graft.engine.FetchLog]): Unit = ()
    }
    // a listener makes every commit synchronous; without one it runs in the
    // background and its failure surfaces at the next step's await
    val modes = Seq(("background", Nil), ("synchronous", Seq(noop)))
    for ((mode, listeners) <- modes) withClue(s"$mode commit: ") {
      val dir = tmpDir(s"engine-commitfail-$mode")
      def engine = new CrawlEngine(spark, routes, new PacedFetcher(fetcher), Nil,
        EngineConfig(statePath = dir, hostBudget = 2,
          bloomPartitions = 4, bloomCapacityPerShard = 1 << 16), listeners = listeners)
      val e = engine
      e.seed(SyntheticCorpus.seeds(spec))
      // a regular file where the fetch log's step dirs go: the first step's
      // commit fails at its fetch-log write
      val blocker = new java.io.File(s"$dir/logs/fetchlog")
      blocker.getParentFile.mkdirs()
      assert(blocker.createNewFile())
      if (listeners.isEmpty) {
        assert(e.step(), "the first step found no work")
        // once the background commit has failed, the next step throws
        // before its fetch: no fetcher call, no raw outcome dir of step 1
        e.commitSettled()
        val fetches = PaceRecorder.events.size
        intercept[Exception](e.step())
        assert(PaceRecorder.events.size == fetches, "the step fetched after a failed commit")
        assert(!new java.io.File(s"$dir/items_raw/step=1").exists, "a raw outcome dir of step 1")
      } else intercept[Exception](e.step())
      // with the cause gone, the engine stays poisoned: no later step may
      // commit a version over the missing one
      assert(blocker.delete())
      intercept[IllegalStateException](e.step())
      intercept[IllegalStateException](e.run())
      intercept[IllegalStateException](e.step())
      assert(new SnapshotStore(dir).latestVersion.contains(0), "a version above v0")
      val r = engine
      val resumedSum = r.resume()
      assert(resumedSum == straightSum, s"$resumedSum vs $straightSum")
      assert(itemsOf(r) == itemsOf(b), "resumed items differ from the straight run")
      assert(logOf(r) == logOf(b), "resumed fetch log differs from the straight run")
    }
  }

  /** Seed `eng` and crawl it to the end; the foreground Spark jobs (every
    * job outside the background commit's pool) each step() call ran.
    * Jobs carry the test thread's local properties; the background
    * commit's run in the graft-commit pool. */
  def foregroundJobsPerStep(eng: CrawlEngine): Seq[Int] = {
    val sc = spark.sparkContext
    val stepKey = "graft.spec.step"
    val foreground = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("spark.scheduler.pool") != "graft-commit")
            Option(p.getProperty(stepKey)).foreach(s => foreground.add(s.toInt))
        }
    }
    eng.seed(SyntheticCorpus.seeds(spec))
    org.apache.spark.graftspec.BusAccess.drain(sc)
    sc.addSparkListener(listener)
    val ran =
      try Iterator.from(0).takeWhile { i =>
        sc.setLocalProperty(stepKey, i.toString)
        try eng.step() finally sc.setLocalProperty(stepKey, null)
      }.size
      finally {
        eng.currentVersion // lands the last commit
        org.apache.spark.graftspec.BusAccess.drain(sc)
        sc.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    (0 until ran).map(i => foreground.asScala.count(_ == i))
  }

  test("every driver-tier step runs one foreground Spark job: the fetch write") {
    val perStep = foregroundJobsPerStep(newEngine(tmpDir("engine-jobs")))
    assert(perStep.size > 3, s"only ${perStep.size} steps")
    // the fetch write returns the outcome metadata, so no second job
    // re-reads the landed table
    for ((n, i) <- perStep.zipWithIndex)
      assert(n == 1, s"step() #$i ran $n jobs")
  }

  test("a driver-tier crawl runs one Spark job per step in any pool: its commits run none") {
    // every job from the first step() until the last commit has landed,
    // the background commits' graft-commit pool included
    val sc = spark.sparkContext
    val pools = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        pools.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.scheduler.pool"))).getOrElse("default"))
    }
    val eng = newEngine(tmpDir("engine-alljobs"))
    eng.seed(SyntheticCorpus.seeds(spec))
    org.apache.spark.graftspec.BusAccess.drain(sc) // the seed's jobs are not counted
    sc.addSparkListener(listener)
    val ran =
      try Iterator.continually(eng.step()).takeWhile(identity).size
      finally {
        eng.currentVersion // lands the last commit
        org.apache.spark.graftspec.BusAccess.drain(sc)
        sc.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    assert(ran > 3, s"only $ran steps")
    // the fetch write is each step's one job; the driver writes the commit
    assert(pools.size == ran, s"$ran steps ran ${pools.size} jobs, pools: " +
      pools.asScala.groupBy(identity).map { case (p, js) => s"$p ${js.size}" }.mkString(", "))
  }

  test("a driver-tier step's fetch job runs one stage; a distributed fetch keeps its exchange") {
    // every foreground job's stage count, and the fetch write's (the one job
    // named for the raw-table write: `runJob at CrawlEngine.scala` on the
    // driver tier, `parquet at CrawlEngine.scala` on the distributed tier)
    val sc = spark.sparkContext
    def jobStages(tweak: EngineConfig => EngineConfig, fetchCall: String)
        : (Int, Seq[(Int, Boolean)]) = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).forall(_.getProperty("spark.scheduler.pool") != "graft-commit"))
            jobs.add((e.stageInfos.size,
              e.stageInfos.exists(_.name.startsWith(s"$fetchCall at CrawlEngine.scala"))))
      }
      val eng = new CrawlEngine(spark, routes, fetcher, Nil,
        tweak(CrawlEngineSpec.retainAll(tmpDir("engine-stages"))))
      eng.seed(SyntheticCorpus.seeds(spec))
      org.apache.spark.graftspec.BusAccess.drain(sc)
      sc.addSparkListener(listener)
      val ran =
        try Iterator.continually(eng.step()).takeWhile(identity).size
        finally {
          eng.currentVersion // lands the last commit
          org.apache.spark.graftspec.BusAccess.drain(sc)
          sc.removeSparkListener(listener)
        }
      import scala.jdk.CollectionConverters._
      (ran, jobs.asScala.toSeq)
    }
    val (ranD, driver) = jobStages(identity, "runJob")
    assert(ranD > 3 && driver.size == ranD, s"$ranD steps ran ${driver.size} jobs")
    assert(driver.forall(_ == ((1, true))), s"driver-tier fetch jobs (stages, write): $driver")
    val (ranX, dist) = jobStages(_.copy(driverCollectMaxRows = 0L), "parquet")
    val fetches = dist.filter(_._2)
    assert(fetches.size == ranX, s"$ranX distributed steps ran ${fetches.size} fetch writes")
    assert(fetches.forall(_._1 == 2), s"distributed fetch writes' stages: ${fetches.map(_._1)}")
  }

  test("a forced-distributed step runs at most 16 foreground Spark jobs") {
    // this crawl: 14 in the first step, then 16. The spawn phase's share is
    // the checkpoint of the admission kernel's cogroup with the bloom shards
    // and the exact check of its positives; a probe kept apart from the
    // admitted rows costs broadcast semi-joins to join them back
    val perStep = foregroundJobsPerStep(new CrawlEngine(spark, routes, fetcher, Nil,
      CrawlEngineSpec.retainAll(tmpDir("engine-dist-jobs")).copy(driverCollectMaxRows = 0L)))
    assert(perStep.size > 3, s"only ${perStep.size} steps")
    assert(perStep.forall(_ <= 16), s"foreground jobs per step: ${perStep.mkString(", ")}")
  }

  test("a resumed driver-sized step builds its wave off the Dataset frontier in one job") {
    // a resumed engine reads its frontier back as a Dataset; the manifest's
    // exact pending count fits the driver bound, so the wave is one collect.
    // The fetch job is the one whose stage ran a fetch; the wave's jobs are
    // the step's foreground jobs before it.
    val sc = spark.sparkContext
    val dir = tmpDir("engine-resume-wave")
    val a = newEngine(dir, maxSteps = 3)
    a.seed(SyntheticCorpus.seeds(spec))
    a.run()
    assert(manifestOf(dir, 3).pending.exists(_ > 0), "nothing left to resume")
    FetchStages.ids.clear()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Int])]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.scheduler.pool") != "graft-commit"))
          jobs.add((e.jobId, e.stageIds))
    }
    val r = new CrawlEngine(spark, routes, new StageRecordingFetcher(fetcher), Nil,
      EngineConfig(statePath = dir, hostBudget = 2, bloomPartitions = 4,
        bloomCapacityPerShard = 1 << 16))
    org.apache.spark.graftspec.BusAccess.drain(sc)
    sc.addSparkListener(listener)
    try assert(r.step())
    finally {
      r.currentVersion // lands the commit
      org.apache.spark.graftspec.BusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val all = jobs.asScala.toSeq
    val fetchJobs = all.filter(_._2.exists(FetchStages.ids.contains)).map(_._1)
    assert(fetchJobs.size == 1, s"fetch jobs $fetchJobs of $all")
    val waveJobs = all.count(_._1 < fetchJobs.head)
    assert(waveJobs == 1, s"the resumed step's wave ran $waveJobs Spark jobs")
  }

  test("two engines on one session, stepped alternately, each land what they land alone") {
    // different sites, fetchers and budgets: a fetch kernel, broadcast or
    // task result that crossed engines would fetch the other site's pages or
    // return the other wave's outcomes
    val specB = CorpusSpec(hosts = 3, listPages = 2, detailsPerList = 3, imgW = 32, imgH = 32)
    val fetcherB = new CorpusFetcher(SyntheticCorpus.buildLocal(specB))
    def engine(name: String, b: Boolean) = {
      val cfg = CrawlEngineSpec.retainAll(tmpDir(name)).copy(hostBudget = if (b) 1 else 2)
      val e =
        if (b) new CrawlEngine(spark, SiteRoutes.registry(specB), fetcherB, Nil, cfg)
        else new CrawlEngine(spark, routes, fetcher, Nil, cfg)
      e.seed(SyntheticCorpus.seeds(if (b) specB else spec))
      e
    }
    val (a, b) = (engine("engine-pair-a", b = false), engine("engine-pair-b", b = true))
    var (moreA, moreB, rounds) = (true, true, 0)
    while (moreA || moreB) {
      if (moreA) moreA = a.step()
      if (moreB) moreB = b.step()
      rounds += 1
    }
    assert(rounds > 4, s"only $rounds alternating rounds")
    // b landed its own site: every live page, one of each near-dup pair
    // suppressed (a fetch kernel shared across engines would fetch with a's fetcher)
    val liveB = (0L until specB.totalDetails).filter(_ % specB.deadMod != 7).toSet
    val pairsB = liveB.count(id => id % specB.nearDupMod == 3 && liveB(id - 1))
    assert(itemsOf(b).size == liveB.size - pairsB, s"engine b: ${itemsOf(b).size} items")
    for ((e, isB) <- Seq((a, false), (b, true))) {
      val alone = engine(s"engine-alone-$isB", isB)
      alone.run()
      assert(frontierOf(e) == frontierOf(alone), s"engine ${if (isB) "b" else "a"}: frontier")
      assert(logOf(e) == logOf(alone), s"engine ${if (isB) "b" else "a"}: fetch log")
      assert(itemsOf(e) == itemsOf(alone), s"engine ${if (isB) "b" else "a"}: items")
    }
  }

  test("seed() runs no Spark job, and both tier bounds write the same v0") {
    // every job in any pool from the start of seed() to its return
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def seeded(name: String, tweak: EngineConfig => EngineConfig): String = {
      val dir = tmpDir(name)
      val e = new CrawlEngine(spark, routes, fetcher, Nil, tweak(CrawlEngineSpec.retainAll(dir)))
      org.apache.spark.graftspec.BusAccess.drain(sc)
      jobs.set(0)
      sc.addSparkListener(listener)
      try e.seed(SyntheticCorpus.seeds(spec))
      finally {
        org.apache.spark.graftspec.BusAccess.drain(sc)
        sc.removeSparkListener(listener)
      }
      assert(jobs.get == 0, s"$name: seed() ran ${jobs.get} Spark jobs")
      dir
    }
    val default = seeded("engine-seed-default", identity)
    val forced = seeded("engine-seed-dist", _.copy(driverCollectMaxRows = 0L))
    def frontierRows(dir: String) = snapshotAndArchive(dir, 0)._1.sortBy(_.urlKey)
    def shardBytes(dir: String) = {
      import spark.implicits._
      spark.read.parquet(s"$dir/v=0/bloom").as[graft.frontier.BloomShard].collect()
        .map(s => (s.pid, s.sketch.toSeq)).sortBy(_._1).toSeq
    }
    assert(frontierRows(default).map(_.url).sorted ==
      SyntheticCorpus.seeds(spec).map(s => graft.canon.UrlCanon.canonicalize(s._2)).sorted)
    assert(frontierRows(default) == frontierRows(forced), "v0 frontier rows differ")
    assert(shardBytes(default).size == 4)
    assert(shardBytes(default) == shardBytes(forced), "v0 bloom shards differ")
  }

  /** Every file under `dir`, by relative path, with its bytes. */
  def filesOf(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq)
      .toMap
    finally walk.close()
  }

  test("seed() onto a used state path throws and leaves every file as it was") {
    val dir = tmpDir("engine-reseed")
    val a = newEngine(dir, maxSteps = 3)
    a.seed(SyntheticCorpus.seeds(spec))
    a.run()
    a.compactItems()
    val v = a.currentVersion.get
    assert(v == 3, s"latest version v$v")
    val before = filesOf(dir)
    val seeds = Seq[(String, CrawlEngine => Unit)](
      ("seed", _.seed(SyntheticCorpus.seeds(spec))),
      ("seedQueries", _.seedQueries(SyntheticCorpus.seedQueries(spec))))
    for ((name, seedIt) <- seeds) {
      val e = intercept[IllegalStateException](seedIt(newEngine(dir)))
      assert(e.getMessage.contains(s"v$v") && e.getMessage.contains("resume()"),
        s"$name: ${e.getMessage}")
    }
    assert(filesOf(dir) == before, "a rejected seed changed the state path")
    // a compacted items base alone also holds a crawl's items
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("v="))
      .foreach(d => graft.state.StateIO.deleteRec(d.getPath))
    val e = intercept[IllegalStateException](newEngine(dir).seed(SyntheticCorpus.seeds(spec)))
    assert(e.getMessage.contains("items base"), e.getMessage)
  }

  test("seed() and seedQueries() reject a null route id or URL before any write, " +
      "and enqueue an empty URL") {
    val listing = SyntheticCorpus.LISTING
    val url = spec.listUrl(0, 1)
    val nullTemplate = routes.updated(listing, routes(listing).copy(urlTemplate = _ => null))
    val cases = Seq[(String, Map[String, graft.model.RouteSpec], CrawlEngine => Unit)](
      ("seed, null url", routes, _.seed(Seq(listing -> url, listing -> null))),
      ("seed, null route id", routes, _.seed(Seq(listing -> url, (null, url)))),
      ("seedQueries, null route id", routes,
        _.seedQueries(Seq(listing -> Map("host" -> "h0.test"), (null, Map.empty)))),
      ("seedQueries, template returns null", nullTemplate,
        _.seedQueries(Seq(listing -> Map("host" -> "h0.test")))))
    for ((name, rs, seedIt) <- cases) {
      val dir = tmpDir("engine-seed-null")
      val e = intercept[IllegalArgumentException](seedIt(new CrawlEngine(spark, rs, fetcher,
        Nil, EngineConfig(statePath = dir, bloomPartitions = 4,
          bloomCapacityPerShard = 1 << 16))))
      // the message names the entry: its position and values
      val entry = if (name.contains("template")) "entry 0" else "entry 1"
      assert(e.getMessage.contains(entry) && e.getMessage.contains("null"),
        s"$name: ${e.getMessage}")
      assert(filesOf(dir).isEmpty, s"$name: wrote ${filesOf(dir).keys.mkString(", ")}")
    }
    // an empty URL is still enqueued, keyed as the native expressions key it
    val e = newEngine(tmpDir("engine-seed-empty"))
    e.seed(Seq(listing -> ""))
    import org.apache.spark.sql.functions.{col, xxhash64}
    import spark.implicits._
    val key = Seq("").toDF("u")
      .select(xxhash64(graft.canon.CanonUdfs.canon_url(col("u")))).as[Long].head()
    val Array(j) = e.frontier.collect()
    assert((j.url, j.host, j.routeId, j.urlKey) == (("", "", listing, key)), j)
  }

  test("fetch-task retries (local[4,3]) land and observe every outcome once") {
    // a child JVM: task retries need a local[N,F] master, and the suite's
    // session is local[4]
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dirR = tmpDir("engine-retried")
    val out = s"$dirR.summary"
    val log = new java.io.File(s"$dirR.log")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-D")).toSeq
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
      Seq("-cp", sys.props("java.class.path"), "graft.TaskRetryCrawl", dirR, out)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    val done = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) proc.destroyForcibly()
    def logTail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(40).mkString("\n")
    // the engine's count check (returned outcomes == wave rows) would fail
    // the child's crawl
    assert(done && proc.exitValue == 0, s"child crawl failed:\n$logTail")
    val Array(steps, fetched, items, dead, thrown) =
      scala.io.Source.fromFile(out).mkString.trim.split(" ").map(_.toLong)
    assert(thrown > 0, "no fetch task failed")

    val dirU = tmpDir("engine-unretried")
    val u = new CrawlEngine(spark, routes, fetcher, Nil, CrawlEngineSpec.retainAll(dirU))
    u.seed(SyntheticCorpus.seeds(spec))
    val uSum = u.run()
    assert(RunSummary(steps.toInt, fetched, items, dead) == uSum)
    val r = newEngine(dirR)
    assert(itemsOf(r) == itemsOf(u), "items differ from the uninterrupted run")
    assert(logOf(r) == logOf(u), "fetch log differs from the uninterrupted run")
    // the raw outcome rows: one per fetch, with the same item counts
    def raw(dir: String) = spark.read.parquet(s"$dir/items_raw")
      .selectExpr("step", "job.urlKey", "size(items)").as[(Int, Long, Int)]
      .collect().sorted.toSeq
    assert(raw(dirR) == raw(dirU), "raw outcome rows differ from the uninterrupted run")
    assert(raw(dirR).map(t => (t._1, t._2)).distinct.size == logOf(u).size)
    // every committed version's manifest, byte for byte
    val v = u.currentVersion.get
    assert(r.currentVersion.contains(v))
    for (i <- 0 to v) {
      def manifest(dir: String) = graft.state.StateIO.readString(s"$dir/v=$i/_snapshot.json")
      assert(manifest(dirR) == manifest(dirU), s"v$i manifest differs")
    }
  }

  def itemsOf(e: CrawlEngine) =
    e.items.collect().map(i => (i.key, i.image_id, i.phash, i.caption)).sortBy(_._1).toSeq
  def frontierOf(e: CrawlEngine) =
    e.frontier.collect().map(j => (j.urlKey, j.stats, j.state)).sortBy(_._1).toSeq
  def logOf(e: CrawlEngine) = e.fetchLog.collect().sortBy(l => (l.step, l.urlKey)).toSeq

  test("driver frontier crossing its bound mid-crawl == default run == forced distributed") {
    // driverCollectMaxRows = 4096 puts the driver-tier bound at 4 rows: the
    // 2-row seed frontier starts on the driver, the listings' spawns push it
    // past the bound (Dataset frontier), and the drain brings it back under
    // (it stays a Dataset frontier; its ≤ 4-row waves run the driver tier)
    def crawl(name: String, tweak: EngineConfig => EngineConfig): (CrawlEngine, String) = {
      val dir = tmpDir(name)
      val e = new CrawlEngine(spark, routes, fetcher, Nil, tweak(
        EngineConfig(statePath = dir, hostBudget = 2, retainSnapshots = 1000,
          bloomPartitions = 4, bloomCapacityPerShard = 1 << 16)))
      e.seed(SyntheticCorpus.seeds(spec))
      e.run()
      (e, dir)
    }
    val (x, dirX) = crawl("engine-crossing", _.copy(driverCollectMaxRows = 4096L))
    val (t, _) = crawl("engine-cross-default", identity)
    val (d, _) = crawl("engine-cross-dist", _.copy(driverCollectMaxRows = 0L))
    val pending = (0 to x.currentVersion.get).map(v => manifestOf(dirX, v).pending.get)
    val over = pending.indexWhere(_ > 4)
    assert(pending.head <= 4 && over > 0 && pending.drop(over).exists(p => p > 0 && p <= 4),
      s"the frontier never crossed the bound both ways: $pending")
    for ((other, name) <- Seq((t, "default"), (d, "forced-distributed"))) {
      assert(itemsOf(x) == itemsOf(other), s"items differ from the $name run")
      assert(frontierOf(x) == frontierOf(other), s"frontier differs from the $name run")
      assert(logOf(x) == logOf(other), s"fetch log differs from the $name run")
    }
  }

  /** Files named `_SUCCESS` anywhere under a state root. */
  def successMarkers(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS")
      .map(_.toString).toList
    finally walk.close()
  }

  /** Version `v`'s snapshot frontier rows, and the archive rows up to its step. */
  def snapshotAndArchive(dir: String, v: Int): (Seq[CrawlJob], Seq[CrawlJob]) = {
    val enc = org.apache.spark.sql.Encoders.product[CrawlJob]
    val step = manifestOf(dir, v).step
    val snap = spark.read.schema(enc.schema).parquet(s"$dir/v=$v/frontier").as(enc).collect()
    val arch =
      if (!new java.io.File(s"$dir/jobs_done").isDirectory) Array.empty[CrawlJob]
      else spark.read.schema(enc.schema.add("bucket", "int").add("step", "int"))
        .parquet(s"$dir/jobs_done").filter(org.apache.spark.sql.functions.col("step") <= step)
        .drop("bucket", "step").as(enc).collect()
    (snap.toSeq, arch.toSeq)
  }

  test("every enqueued job lives in exactly one of the versioned frontier and the archive") {
    def engine(dir: String, tweak: EngineConfig => EngineConfig, maxSteps: Int = 10000) =
      new CrawlEngine(spark, routes, fetcher, Nil, tweak(
        EngineConfig(statePath = dir, hostBudget = 2, maxSteps = maxSteps,
          retainSnapshots = 1000, bloomPartitions = 4, bloomCapacityPerShard = 1 << 16)))
    /** Per committed version: the snapshot frontier and the archive up to
      * its step hold disjoint urlKeys; returns their union's jobs. */
    def versions(name: String, e: CrawlEngine, dir: String) =
      (0 to e.currentVersion.get).map { v =>
        val (snap, arch) = snapshotAndArchive(dir, v)
        val keys = snap.map(_.urlKey) ++ arch.map(_.urlKey)
        val twice = keys.size - keys.distinct.size
        assert(twice == 0,
          s"$name v$v: $twice jobs held twice (snapshot ${snap.size}, archive ${arch.size})")
        (snap ++ arch).map(j => (j.urlKey, j.stats, j.state)).sortBy(_._1)
      }
    val runs: Seq[(String, EngineConfig => EngineConfig)] = Seq(
      ("default", identity),
      ("crossing", _.copy(driverCollectMaxRows = 4096L)),
      ("forced-distributed", _.copy(driverCollectMaxRows = 0L)),
      // a 24-row bound: the ≤ 20 pending jobs always fit, the carried
      // finished ones overflow it (26 jobs), so the driver array flushes
      // and stays an array
      ("flushing", _.copy(driverCollectMaxRows = 24L * 1024)))
    val views = runs.map { case (name, tweak) =>
      val dir = tmpDir(s"engine-once-$name")
      val e = engine(dir, tweak)
      e.seed(SyntheticCorpus.seeds(spec))
      e.run()
      val pv = versions(name, e, dir)
      assert(pv.last == frontierOf(e), s"$name: frontier is not snapshot ∪ archive")
      assert(successMarkers(dir).isEmpty, s"$name: ${successMarkers(dir).take(3)}")
      (name, e, dir, pv)
    }
    val (_, default, dirDefault, base) = views.head
    for ((name, _, _, pv) <- views.tail)
      assert(pv == base, s"$name run holds other jobs than the default run at some version")
    // the default run's frontier fits its bound: it carries its finished
    // jobs and never writes the archive; the crossing run flushes
    assert(!new java.io.File(s"$dirDefault/jobs_done").exists, "default run archived")
    assert(snapshotAndArchive(views(1)._3, base.size - 1)._2.nonEmpty,
      "crossing run never flushed")
    val dirFlush = views(3)._3
    assert((0 until base.size).forall(v => manifestOf(dirFlush, v).pending.get <= 24) &&
      snapshotAndArchive(dirFlush, base.size - 1)._2.nonEmpty,
      "flushing run never flushed a driver array whose pending jobs fit")

    // kill after step 3, finished jobs carried in the snapshot → resume
    val dirK = tmpDir("engine-once-killed")
    val k = engine(dirK, identity, maxSteps = 3)
    k.seed(SyntheticCorpus.seeds(spec))
    k.run()
    val (snapK, archK) = snapshotAndArchive(dirK, k.currentVersion.get)
    assert(snapK.exists(_.state.finished) && archK.isEmpty,
      "the killed run carries no finished jobs in its snapshot")
    val r = engine(dirK, identity)
    r.resume()
    assert(versions("resumed", r, dirK) == base, "resumed run differs from the default run")
    assert(itemsOf(r) == itemsOf(default) && logOf(r) == logOf(default),
      "resumed items or fetch log differ from the default run")
    val keys = r.frontier.collect().map(_.urlKey)
    assert(keys.distinct.length == keys.length, "duplicate urlKey in the resumed frontier")
  }

  test("driver tier above the old 256-row cap == forced distributed") {
    // 2 hosts × 160 details at budget 160: the detail wave (320 rows) and the
    // frontier (320 pending) exceed 256 rows but fit the driver-tier bound
    // (driverCollectMaxRows / 1024 = 1953 by default)
    val wide = CorpusSpec(hosts = 2, listPages = 1, detailsPerList = 160)
    val wideFetcher = new CorpusFetcher(SyntheticCorpus.buildLocal(wide))
    def crawl(name: String, tweak: EngineConfig => EngineConfig): (CrawlEngine, String) = {
      val dir = tmpDir(name)
      val e = new CrawlEngine(spark, SiteRoutes.registry(wide, detailConcurrency = 160),
        wideFetcher, Nil, tweak(EngineConfig(statePath = dir, hostBudget = 160,
          retainSnapshots = 1000, bloomPartitions = 4, bloomCapacityPerShard = 1 << 16)))
      e.seed(SyntheticCorpus.seeds(wide))
      e.run()
      (e, dir)
    }
    val (w, dirW) = crawl("engine-wide", identity)
    val (d, _) = crawl("engine-wide-dist", _.copy(driverCollectMaxRows = 0L))
    assert(w.fetchLog.collect().groupBy(_.step).values.exists(_.length > 256),
      "no wave above 256 rows")
    val manifests = (0 to w.currentVersion.get).map(manifestOf(dirW, _))
    assert(manifests.forall(m => m.pending.isDefined && m.totals.isDefined), manifests)
    assert(manifests.exists(_.pending.get > 256), manifests)
    assert(itemsOf(w) == itemsOf(d), "items differ from the forced-distributed run")
    assert(frontierOf(w) == frontierOf(d), "frontier differs from the forced-distributed run")
    assert(logOf(w) == logOf(d), "fetch log differs from the forced-distributed run")
  }

  test("compaction mid-crawl: identical final state, absorbed deltas dropped") {
    val dirA = tmpDir("engine-compact")
    val a = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2, maxSteps = 3,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    a.seed(SyntheticCorpus.seeds(spec))
    a.run() // 3 supersteps
    // the item deltas are the raw outcomes plus their equality deletes
    def deltaDirs(table: String) = Option(new java.io.File(s"$dirA/$table").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("step="))
    assert(deltaDirs("items_raw").nonEmpty, "no raw outcome dirs before compaction")
    a.compactItems()
    // absorbed step dirs are gone; the base holds the resolved view
    for (t <- Seq("items_raw", "items_deletes"))
      assert(deltaDirs(t).isEmpty, s"$t not absorbed: ${deltaDirs(t).mkString(",")}")
    assert(new java.io.File(s"$dirA/items_base").isDirectory)
    val midKeys = a.items.collect().map(_.key).sorted

    val resumed = new CrawlEngine(spark, routes, fetcher, Nil,
      EngineConfig(statePath = dirA, hostBudget = 2,
        bloomPartitions = 4, bloomCapacityPerShard = 1 << 16))
    assert(resumed.items.collect().map(_.key).sorted.sameElements(midKeys),
      "compacted view differs across engine instances")
    resumed.resume()
    resumed.compactItems() // second compaction replaces the first base

    val dirB = tmpDir("engine-nocompact")
    val b = newEngine(dirB)
    b.seed(SyntheticCorpus.seeds(spec))
    b.run()

    val ia = resumed.items.collect().map(i => (i.key, i.phash, i.createdStep)).sortBy(_._1)
    val ib = b.items.collect().map(i => (i.key, i.phash, i.createdStep)).sortBy(_._1)
    assert(ia.sameElements(ib), "compacted run items differ from straight run")
    // no state write (seed, fetch, commit, compaction) leaves a _SUCCESS marker
    assert(successMarkers(dirA).isEmpty, successMarkers(dirA).take(3))
  }

  test("a URL spawned on one route with different queries: both tiers admit the same query") {
    // every listing page also spawns one shared URL twice, each query naming
    // the page's host and the spawn's order: in the first step the listings
    // of both hosts spawn it, a tie on (urlKey, routeId) that the lowest
    // source job urlKey, then the lowest spawn position, breaks
    val shared = s"http://${spec.hostName(0)}/img/shared"
    val base = routes(SyntheticCorpus.LISTING)
    val tied = routes.updated(SyntheticCorpus.LISTING, base.copy(scraper = page => {
      val r = base.scraper(page)
      if (page.status != 200) r
      else r.copy(jobs = r.jobs ++ Seq("1", "2").map(n => graft.model.SpawnedJob(
        SyntheticCorpus.DETAIL, shared, Map("from" -> page.host, "n" -> n))))
    }))
    def admittedQuery(tweak: EngineConfig => EngineConfig): Map[String, String] = {
      val e = new CrawlEngine(spark, tied, fetcher, Nil,
        tweak(CrawlEngineSpec.retainAll(tmpDir("engine-tie"))))
      e.seed(SyntheticCorpus.seeds(spec))
      e.run()
      val Array(j) = e.frontier.filter(_.url == shared).collect()
      j.query
    }
    val driver = admittedQuery(identity)
    val distributed = admittedQuery(_.copy(driverCollectMaxRows = 0L))
    // the seeds are the first step's listing jobs: the lowest key's host
    val firstHost = SyntheticCorpus.seeds(spec).map { case (_, u) =>
      val url = graft.canon.UrlCanon.canonicalize(u)
      (graft.canon.CanonUdfs.urlKeyScala(url), graft.canon.UrlCanon.host(url))
    }.min._2
    assert(driver == Map("from" -> firstHost, "n" -> "1"), driver)
    assert(distributed == driver, s"distributed tier admitted $distributed, driver tier $driver")
  }

  test("robots: disallowed prefix blocks, crawl-delay throttles") {
    val dir = tmpDir("engine-robots")
    val rules = Seq(
      RobotsRule("h0.test", "/img/", allow = false, 0), // block all h0 details
      RobotsRule("h1.test", "/", allow = true, 2))      // h1: 2-step crawl delay
    val eng = newEngine(dir, robots = rules)
    eng.seed(SyntheticCorpus.seeds(spec))
    eng.run()
    val items = eng.items.collect()
    assert(items.nonEmpty)
    assert(!items.exists(_.link.contains("h0.test/img/")), "robots-blocked item landed")
    // crawl delay: h1 fetched at most every 3rd step (step s, next ≥ s+1+2)
    val h1Steps = eng.metrics.filter(_.host == "h1.test").collect()
      .filter(_.fetched > 0).map(_.step).sorted
    h1Steps.sliding(2).foreach {
      case Array(x, y) => assert(y - x >= 2, s"crawl delay breach: $x → $y")
      case _ =>
    }
  }
}
