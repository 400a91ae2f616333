package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.CrawlEngine
import graft.model.RobotsRule
import graft.robots.Robots.allowedLocal

/** [[graft.robots.Robots.allowedLocal]], the robots filter of both tiers'
  * spawn admission, on the rule shapes a crawl's rules may not reach: ties,
  * nested prefixes, rules of other hosts and URLs without `scheme://`. */
class RobotsSpec extends AnyFunSuite {
  private def rule(host: String, prefix: String, allow: Boolean) =
    RobotsRule(host, prefix, allow, crawlDelaySteps = 0)

  test("equal-length allow and disallow prefixes on one host: disallow wins") {
    val tie = Seq(rule("h.test", "/a/", allow = true), rule("h.test", "/a/", allow = false))
    for (rules <- Seq(tie, tie.reverse)) {
      assert(!allowedLocal("http://h.test/a/x", "h.test", rules), rules)
      assert(allowedLocal("http://h.test/b/x", "h.test", rules), rules)
    }
  }

  test("the longest matching prefix wins") {
    val rules = Seq(rule("h.test", "/", allow = false), rule("h.test", "/pub/", allow = true),
      rule("h.test", "/pub/private/", allow = false))
    for (r <- Seq(rules, rules.reverse)) {
      assert(!allowedLocal("http://h.test/", "h.test", r))
      assert(!allowedLocal("http://h.test/pubx", "h.test", r))
      assert(allowedLocal("http://h.test/pub/page?q=1", "h.test", r))
      assert(!allowedLocal("https://h.test:8443/pub/private/x", "h.test", r))
    }
  }

  test("a host without a rule is allowed, and another host's rule is ignored") {
    assert(allowedLocal("http://h.test/a", "h.test", Nil))
    val rules = Seq(rule("other.test", "/", allow = false))
    assert(allowedLocal("http://h.test/a", "h.test", rules))
    // the rule is the URL's host's, not a host named in its path
    assert(allowedLocal("http://h.test/other.test/", "h.test", rules))
    assert(!allowedLocal("http://other.test/a", "other.test", rules))
  }

  test("a URL without scheme:// is matched whole as its path") {
    val rules = Seq(rule("h.test", "/a/", allow = false))
    assert(!allowedLocal("/a/x", "h.test", rules))
    assert(allowedLocal("h.test/a/x", "h.test", rules))
    assert(allowedLocal("mailto:x@h.test", "h.test", rules))
    assert(!allowedLocal("/a/", "h.test", rules))
  }

  test("the spawn kernel checks a candidate against its own host's rules only") {
    val rules = Seq(rule("a.test", "/x/", allow = false), rule("b.test", "/y/", allow = false))
    def cand(host: String, path: String) = {
      val url = s"http://$host$path"
      (0L, 0, CrawlEngine.SpawnCand(url.hashCode.toLong, url, host, "r", Map.empty))
    }
    val jobs = CrawlEngine.admitted(Iterator(cand("a.test", "/x/1"), cand("a.test", "/y/1"),
      cand("b.test", "/x/1"), cand("b.test", "/y/1"), cand("c.test", "/x/1")),
      Map.empty, rules.groupBy(_.host), createdStep = 1)
    assert(jobs.map(_.url).sorted.toSeq ==
      Seq("http://a.test/y/1", "http://b.test/x/1", "http://c.test/x/1"))
  }
}
