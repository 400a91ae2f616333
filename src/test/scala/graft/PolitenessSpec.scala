package graft

import org.scalacheck.Gen
import graft.frontier.Politeness
import graft.model.{CrawlJob, JobState}

/** Driver/Dataset parity of the politeness wave: the driver-resident
  * frontier's `waveLocal` must select exactly the jobs the distributed
  * `wave` plan (salted pre-top-k + per-host sequential take) selects.
  */
class PolitenessSpec extends SparkSpec with PropHelper {

  /** One generated scheduling problem. */
  final case class Case(jobs: Seq[CrawlJob], step: Int, budget: Int,
      caps: Map[String, Int], disabled: Set[String], filtered: Boolean)

  val routeIds = Seq("r0", "r1", "r2", "r3")

  val caseGen: Gen[Case] = for {
    n <- Gen.choose(0, 120)
    nHosts <- Gen.choose(1, 6)
    // skew: most jobs on host 0 when hot
    hot <- Gen.oneOf(true, false)
    keys <- Gen.listOfN(n, Gen.choose(-1000000L, 1000000L)).map(_.distinct)
    jobs <- Gen.sequence[List[CrawlJob], CrawlJob](keys.map { k =>
      for {
        h <- if (hot) Gen.frequency(6 -> Gen.const(0), 1 -> Gen.choose(0, nHosts - 1))
             else Gen.choose(0, nHosts - 1)
        r <- Gen.oneOf(routeIds)
        // narrow ranges ⇒ many ties on priority and createdStep
        prio <- Gen.choose(0, 2).map(_ * 25)
        created <- Gen.choose(0, 2)
        nb <- Gen.choose(0, 4)
        fin <- Gen.frequency(8 -> Gen.const(false), 1 -> Gen.const(true))
      } yield CrawlJob(k, s"http://h$h.test/$k", s"h$h.test", r, priority = prio,
        createdStep = created, notBeforeStep = nb, state = JobState(finished = fin))
    })
    step <- Gen.choose(0, 4)
    budget <- Gen.choose(1, 5)
    caps <- Gen.sequence[List[Option[(String, Int)]], Option[(String, Int)]](
      routeIds.map(r => Gen.option(Gen.choose(0, 3).map(c => r -> c))))
    disabled <- Gen.someOf(routeIds.take(2))
    filtered <- Gen.oneOf(true, false)
  } yield Case(jobs, step, budget, caps.flatten.toMap, disabled.toSet, filtered)

  test("waveLocal equals wave(...).collect() over generated frontiers") {
    import spark.implicits._
    val filter: CrawlJob => Boolean = _.urlKey % 3 != 0
    var nonTrivial = 0
    forAllN(caseGen, n = 60, seed = 7L) { c =>
      val jf = if (c.filtered) Some(filter) else None
      val local = Politeness.waveLocal(c.jobs.toArray, c.step, c.budget, c.caps,
        c.disabled, jf)
      val dist = Politeness.wave(c.jobs.toDS(), c.step, c.budget, c.caps,
        c.disabled, saltBuckets = 4, jobFilter = jf).collect()
      assert(local.toSet == dist.toSet,
        s"local-only=${(local.toSet -- dist).map(_.urlKey)} " +
          s"dataset-only=${(dist.toSet -- local).map(_.urlKey)} in $c")
      assert(local.length == local.map(_.urlKey).distinct.length)
      // the generator must reach budget- and cap-limited waves
      if (local.nonEmpty && local.length < c.jobs.count(j =>
          !j.state.finished && j.notBeforeStep <= c.step)) nonTrivial += 1
    }
    assert(nonTrivial > 20, s"only $nonTrivial generated waves were budget/cap-limited")
  }
}
