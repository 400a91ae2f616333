package graft.robots

import graft.model.RobotsRule

/** robots.txt evaluation against broadcast rules (north rule).
  *
  * Rules are the parsed form of per-host robots.txt files — a table tiny
  * relative to the frontier (one row per (host, path-prefix)), so the engine
  * holds them on the driver and broadcasts them to the distributed tier's
  * spawn groups: candidate URLs are filtered where they are, with no
  * shuffle of the candidate side. Longest-matching-prefix wins per URL (the
  * robots.txt specificity rule); URLs with no matching rule are allowed.
  */
object Robots {

  /** Whether robots allow one URL: its path (the URL minus
    * `scheme://authority`; a URL without `scheme://` is all path) against
    * its host's rules — the longest matching prefix wins, a disallow wins an
    * equal-length tie, no matching rule ⇒ allowed. Both tiers' spawn
    * admission ([[graft.engine.CrawlEngine.spawnJob]]) filters with it,
    * passing only the URL's host's rules;
    * `RobotsSpec` pins the cases and OracleParitySpec's robots tests the
    * crawls.
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
