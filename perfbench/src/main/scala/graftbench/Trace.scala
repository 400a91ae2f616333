package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is the id of the span that caused it (0 for
  * a root); `attrs` carry counts measured at the same boundary.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Phase spans (seed, step, items read, resume,
  * query) are always recorded: they are the end-to-end timings. Spark job
  * spans and the per-call fetch/scrape spans are recorded only when
  * `detailed` is on (the traced run); the end-to-end run pays for none of it.
  */
final class Tracer(val detailed: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** The phase span currently open on the benchmark's caller thread. Work
    * that runs elsewhere (executor threads, listener bus) hangs under it.
    */
  @volatile var current: Long = 0L

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Time `f` as a phase span under the currently open one. */
  def phase[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): (T, Span) = {
    val id = nextId()
    val parent = current
    current = id
    val t0 = System.nanoTime()
    try {
      val out = f
      val s = Span(id, parent, name, t0, System.nanoTime(), attrs)
      add(s)
      (out, s)
    } finally current = parent
  }
}

/** Per-call counters of the fetch and scrape wrappers. The wrappers run on
  * executor threads of the same JVM (local master), so they update one
  * process-wide instance.
  */
object LayerCounters {
  val fetchCalls, fetchRetries, fetchOk, fetchBusyNs = new LongAdder
  val scrapeItems, scrapeBusyNs = new LongAdder
  @volatile var tracer: Tracer = _

  def reset(): Unit = Seq(fetchCalls, fetchRetries, fetchOk, fetchBusyNs, scrapeItems,
    scrapeBusyNs).foreach(_.reset())
}

/** Job and task record from the listener, in driver nanoTime. */
final case class JobRec(id: Int, startNs: Long, endNs: Long, pool: String,
    callSite: String, stages: Seq[Int])
final case class TaskRec(launchNs: Long, runNs: Long, shuffleWrite: Long, spill: Long,
    gcNs: Long)

/** Spark listener of the traced run: job spans (tagged with scheduler pool
  * and call site) and per-task metrics. Event times are wall-clock millis;
  * they are shifted onto the nanoTime axis of the phase spans.
  */
final class JobListener extends SparkListener {
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + wallToNano
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    open.put(e.jobId, JobRec(e.jobId, ns(e.time), 0L,
      p.flatMap(x => Option(x.getProperty("spark.scheduler.pool"))).getOrElse("default"),
      // an explicit call site if one was set, else the result stage's name
      // ("collect at Items.scala:42")
      p.flatMap(x => Option(x.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?"),
      e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(endNs = ns(e.time))))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(TaskRec(ns(i.launchTime), m.executorRunTime * 1000000L,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime * 1000000L))
  }

  def jobsIn(a: Long, b: Long): Seq[JobRec] =
    jobs.asScala.toSeq.filter(j => j.startNs >= a && j.startNs < b)
  def tasksIn(a: Long, b: Long): Seq[TaskRec] =
    tasks.asScala.toSeq.filter(t => t.launchNs >= a && t.launchNs < b)
}

object Intervals {
  /** Total length of the union of intervals, clipped to [a, b]. */
  def covered(iv: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Old-generation occupancy after a full collection: what the run left
  * live on the heap (session state, cached tables, broadcasts). Read at the
  * end of a run, it does not depend on when the collector happened to run.
  */
object HeapLive {
  def mb(): Double = {
    // the context cleaner drops unreferenced broadcasts and shuffles only
    // after a collection finds them; give it time, then collect again
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** Waits until the listener bus has delivered every posted event. */
object Bus {
  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.BusAccess.drain(sc)
}
