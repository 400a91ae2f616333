package graft.robots

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.RobotsRule

/** robots.txt evaluation as a broadcast-joined Dataset transform (north rule).
  *
  * Rules are the parsed form of per-host robots.txt files — a table tiny
  * relative to the frontier (one row per (host, path-prefix)), so candidate
  * URLs join against `broadcast(rules)`: no shuffle of the candidate side.
  * Longest-matching-prefix wins per URL (the robots.txt specificity rule);
  * URLs with no matching rule are allowed.
  */
object Robots {

  def rulesDf(spark: SparkSession, rules: Seq[RobotsRule]): DataFrame = {
    import spark.implicits._
    rules.toDF()
  }

  /** Filter `candidates` (must have `url`, `host`, `urlKey` columns) down to
    * robots-allowed rows. One broadcast hash join + one ranking over the few
    * matched rows per URL.
    */
  def allowed(candidates: DataFrame, rules: Seq[RobotsRule]): DataFrame = {
    if (rules.isEmpty) return candidates
    val spark = candidates.sparkSession
    val r = broadcast(rulesDf(spark, rules)
      .withColumnRenamed("host", "r_host"))
    val withPath = candidates
      .withColumn("_path", regexp_replace(col("url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""))
    val joined = withPath
      .join(r, col("host") === col("r_host") &&
        col("_path").startsWith(col("pathPrefix")), "left")
    val w = Window.partitionBy(col("urlKey"))
      .orderBy(length(col("pathPrefix")).desc_nulls_last, col("allow").asc_nulls_last)
    joined
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .filter(col("allow").isNull || col("allow"))
      .drop("_rn", "_path", "r_host", "pathPrefix", "allow", "crawlDelaySteps")
  }

  /** Driver-side twin of [[allowed]] for one URL — same longest-prefix rule,
    * same tiebreak (equal-length prefixes: disallow wins, matching the
    * window's `allow.asc_nulls_last`), no rule ⇒ allowed. The engine's
    * driver tier filters its collected spawn candidates with this; parity
    * with the Dataset transform is pinned by OracleParitySpec's two robots
    * tests (driver tier, and the forced distributed tier).
    */
  def allowedLocal(url: String, host: String, rules: Seq[RobotsRule]): Boolean = {
    if (rules.isEmpty) return true
    val path = url.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    val matches = rules.filter(r => r.host == host && path.startsWith(r.pathPrefix))
    if (matches.isEmpty) true
    else matches.minBy(r => (-r.pathPrefix.length, r.allow)).allow
  }

  /** Per-host crawl delay in supersteps (max across the host's rules). */
  def delayByHost(rules: Seq[RobotsRule]): Map[String, Int] =
    rules.filter(_.crawlDelaySteps > 0)
      .groupBy(_.host)
      .map { case (h, rs) => h -> rs.map(_.crawlDelaySteps).max }
}
