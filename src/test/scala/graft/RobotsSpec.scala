package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.Robots

/** RFC 9309 subset parser semantics. */
class RobotsSpec extends AnyFunSuite {

  test("allow-all / deny-all / crawl-delay classification") {
    assert(Robots.parse("User-agent: *\nDisallow:\n", "bot") == Robots.AllowAll)
    val deny = Robots.parse("User-agent: *\nDisallow: /\n", "bot")
    assert(deny == Robots.DenyAll && deny.deniesAll)
    val delayed = Robots.parse("User-agent: *\nCrawl-delay: 2.5\n", "bot")
    assert(delayed.isAllowed("/") && delayed.crawlDelay.contains(2.5))
  }

  test("agent group selection: named group beats *") {
    val txt =
      """User-agent: graftbot
        |Disallow: /private/
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin
    val mine = Robots.parse(txt, "graftbot")
    assert(mine.isAllowed("/public/x"))
    assert(!mine.isAllowed("/private/x"))
    val other = Robots.parse(txt, "otherbot")
    assert(!other.isAllowed("/anything"))
  }

  test("longest match wins; Allow wins ties; comments stripped") {
    val txt =
      """User-agent: *
        |Disallow: /a/
        |Allow: /a/public/   # this subtree is fine
        |Disallow: /a/public/secret/
        |""".stripMargin
    val r = Robots.parse(txt, "bot")
    assert(r.isAllowed("/"))
    assert(!r.isAllowed("/a/x"))
    assert(r.isAllowed("/a/public/y"))
    assert(!r.isAllowed("/a/public/secret/z"))
  }

  test("wildcards and end anchor") {
    assert(Robots.pathMatches("/*.php", "/index.php"))
    assert(Robots.pathMatches("/*.php", "/a/b.php?x=1"))
    assert(!Robots.pathMatches("/*.php$", "/index.php?x=1"))
    assert(Robots.pathMatches("/*.php$", "/index.php"))
    assert(Robots.pathMatches("/a*b", "/aXXXb"))
    assert(!Robots.pathMatches("/a*b$", "/aXXXbc"))
  }

  test("agent matching is exact product-token, not substring (RFC 9309 §2.2.1)") {
    val txt =
      """User-agent: graftbot-special
        |Disallow: /special/
        |
        |User-agent: graft
        |Disallow: /graft/
        |
        |User-agent: *
        |Disallow: /star/
        |""".stripMargin
    // a longer-named group must NOT capture a shorter agent token (and vice
    // versa): "graftbot" matches neither "graftbot-special" nor "graft"
    val r = Robots.parse(txt, "graftbot")
    assert(r.isAllowed("/special/x") && r.isAllowed("/graft/x") && !r.isAllowed("/star/x"),
      "agent 'graftbot' must fall through to the * group")
    // exact token still matches, case-insensitively and ignoring /version
    assert(!Robots.parse(txt, "Graftbot-Special").isAllowed("/special/x"))
    assert(!Robots.parse(txt, "graftbot-special/2.1").isAllowed("/special/x"))
    assert(!Robots.parse(txt, "graft").isAllowed("/graft/x"))
  }

  test("multiple user-agent lines share one group; null/empty = allow all") {
    val txt =
      """User-agent: abot
        |User-agent: graftbot
        |Disallow: /x/
        |""".stripMargin
    assert(!Robots.parse(txt, "graftbot").isAllowed("/x/1"))
    assert(!Robots.parse(txt, "abot").isAllowed("/x/1"))
    assert(Robots.parse(txt, "zbot").isAllowed("/x/1")) // no * group → allow
    assert(Robots.parse(null, "bot").isAllowed("/anything"))
  }
}
