package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options; see perfbench/README.md. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, refs: String, prov: Map[String, String]) {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Measured passes: `perTenSeconds` per 10 s of `--seconds`, at least
    * one. A fixed count, not "passes while the window lasts": on a host
    * whose speed drifts, a window-bound count gave fast runs two (the second
    * warmer) passes and slow runs one, and crawl_deep's pass time spread
    * 0.28 (IQR/median over 10 seeds, 4 vCPUs); with two fixed passes,
    * 0.055-0.076.
    */
  def passes(perTenSeconds: Int): Int = math.max(1, seconds * perTenSeconds / 10)
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("refs"),
      kv.collect { case (k, v) if k.startsWith("prov.") => k.drop(5) -> v })
  }
}

/** What one workload measured. `e2e` and `layers` map a metric name to its
  * value (the units are in Main's catalogues); `detail` holds the named
  * sub-measurements printed for people next to the result line.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** The per-layer metrics this workload must measure (Main.exercised). */
  var exercised: Seq[String] = Nil

  /** Count one operation; a failed check or exception fails it. */
  def op[T](what: String)(f: => Either[String, T]): Option[T] = {
    attempted += 1
    val out = try f catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    out match {
      case Right(v) => Some(v)
      case Left(msg) =>
        failed += 1
        if (failures.size < 20) failures += s"$what: $msg"
        None
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Spark session in graft.Bench's shape, with scratch dirs in the work dir. */
object Session {
  def start(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The session confs that shape performance, for the provenance record. */
  def confs(s: SparkSession): Map[String, String] =
    s.sparkContext.getConf.getAll.toMap.filter { case (k, _) =>
      !k.startsWith("spark.app.") && !k.startsWith("spark.driver.host") &&
      !k.startsWith("spark.driver.port") && k != "spark.executor.id" }
}

object Files {
  def deleteRec(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }
}
