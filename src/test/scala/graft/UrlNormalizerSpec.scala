package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.url._

/** URLNormalizer plugin variants (reference src/plugin/urlnormalizer-*). */
class UrlNormalizerSpec extends AnyFunSuite {

  test("ajax: #! → _escaped_fragment_, ? vs & by existing query, spec escaping") {
    assert(AjaxNormalizer.normalize("http://h.test/app#!key=value") ==
      "http://h.test/app?_escaped_fragment_=key=value")
    assert(AjaxNormalizer.normalize("http://h.test/app?q=1#!k=v") ==
      "http://h.test/app?q=1&_escaped_fragment_=k=v")
    // AJAX crawling spec escaping: bytes < 33 and # % & + are encoded
    assert(AjaxNormalizer.normalize("http://h.test/a#!x=a b&c#d%e+f") ==
      "http://h.test/a?_escaped_fragment_=x=a%20b%26c%23d%25e%2Bf")
    assert(AjaxNormalizer.normalize("http://h.test/plain") == "http://h.test/plain")
    assert(AjaxNormalizer.normalize(null) == null)
  }

  test("querystring: parameters sorted lexicographically") {
    assert(QuerystringSortNormalizer.normalize("http://h.test/p?b=2&a=1&c=3") ==
      "http://h.test/p?a=1&b=2&c=3")
    assert(QuerystringSortNormalizer.normalize("http://h.test/p") == "http://h.test/p")
  }

  test("protocol: forced scheme for listed hosts only") {
    val n = ProtocolNormalizer(Map("force.test" -> "https"))
    assert(n.normalize("http://force.test/a?b=1") == "https://force.test/a?b=1")
    assert(n.normalize("http://other.test/a") == "http://other.test/a")
  }

  test("host: alias rewrite preserves port/path/query") {
    val n = HostAliasNormalizer(Map("www.site.test" -> "site.test"))
    assert(n.normalize("http://www.site.test/a/b?c=1") == "http://site.test/a/b?c=1")
    assert(n.normalize("http://www.site.test:8080/a") == "http://site.test:8080/a")
    assert(n.normalize("http://sub.site.test/a") == "http://sub.site.test/a")
  }

  test("slash: per-host add/remove, extension-aware, root untouched") {
    val n = SlashNormalizer(Map("add.test" -> true, "rm.test" -> false))
    assert(n.normalize("http://add.test/dir") == "http://add.test/dir/")
    assert(n.normalize("http://add.test/page.html") == "http://add.test/page.html") // extension: no slash
    assert(n.normalize("http://add.test/dir?q=1") == "http://add.test/dir/?q=1")
    assert(n.normalize("http://rm.test/dir/") == "http://rm.test/dir")
    assert(n.normalize("http://rm.test/dir/?q=1") == "http://rm.test/dir?q=1")
    assert(n.normalize("http://rm.test/") == "http://rm.test/") // root owned by basic
    assert(n.normalize("http://other.test/dir/") == "http://other.test/dir/")
  }

  test("pass: identity, including null") {
    assert(PassNormalizer.normalize("http://h.test/a?b=1#c") == "http://h.test/a?b=1#c")
    assert(PassNormalizer.normalize(null) == null)
  }

  test("regex rules: ordered global replaceAll, group refs, invalid pattern skipped") {
    val n = RegexRuleNormalizer(Seq(
      ("(?i)PHPSESSID=[0-9a-f]+&?", ""),        // strip session id
      ("&+$", ""),                               // then tidy trailing &
      ("//(\\d+)/", "/n$1/"),                    // group reference
      ("([unclosed", "x")))                      // invalid: skipped, not fatal
    assert(n.normalize("http://h.test/p?PHPSESSID=ab12&x=1") == "http://h.test/p?x=1")
    assert(n.normalize("http://h.test/p?x=1&PHPSESSID=ab12") == "http://h.test/p?x=1")
    assert(n.normalize("http://h.test//42/a") == "http://h.test/n42/a")
    assert(n.normalize(null) == null)
  }

  test("regex rules: reference regex-normalize.xml format parses in order") {
    val n = RegexRuleNormalizer.parseXml(
      """<?xml version="1.0"?>
        |<regex-normalize>
        |  <regex>
        |    <pattern>(?i)sid=[0-9a-f]+&amp;?</pattern>
        |    <substitution></substitution>
        |  </regex>
        |  <regex><pattern>\?&amp;</pattern><substitution>?</substitution></regex>
        |  <regex><pattern>missing-sub-means-delete</pattern></regex>
        |</regex-normalize>""".stripMargin)
    assert(n.rules.size == 3)
    assert(n.normalize("http://h.test/p?sid=99ff&a=1") == "http://h.test/p?a=1")
    assert(n.normalize("http://h.test/missing-sub-means-delete/x") == "http://h.test//x")
    assert(RegexRuleNormalizer.parseXml("not xml at all").rules.isEmpty)
  }

  test("chain: ajax runs on the raw url before the canonicalizer strips fragments") {
    val chain = UrlChain(Seq(AjaxNormalizer, QuerystringSortNormalizer), Nil)
    assert(chain.normalize("HTTP://H.Test/app?x=1#!state=5") ==
      "http://h.test/app?_escaped_fragment_=state=5&x=1")
    // without ajax in the chain, the fragment is simply stripped
    assert(UrlChain.Empty.normalize("http://h.test/app?x=1#!state=5") ==
      "http://h.test/app?x=1")
    assert(chain.normalize("not a url") == null)
  }
}
