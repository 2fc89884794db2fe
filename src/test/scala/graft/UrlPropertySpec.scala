package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.url.{UrlChain, UrlFilters, Urls}

/** ScalaCheck properties over the URL core (SURVEY.md §5 "property tests
  * we add"): idempotency, totality (never throws), hash stability. */
class UrlPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, s"$name: $res")
  }

  import UrlPropertySpec._

  test("canonicalize is idempotent on everything it accepts") {
    check("idempotency", Prop.forAll(urlishGen) { raw =>
      val c = Urls.canonicalize(raw)
      c == null || Urls.canonicalize(c) == c
    })
  }

  test("canonicalize and filter are total (no exceptions) on arbitrary strings") {
    check("totality", Prop.forAll(garbageGen) { s =>
      Urls.canonicalize(s); UrlFilters.accept(s); UrlChain.Empty(s)
      Urls.hostOf(s); Urls.hash64(s); Urls.interleaveHash(s); Urls.rollingHash64(s)
      true
    })
  }

  test("canonical output always parses back to the same host") {
    check("host-stable", Prop.forAll(urlishGen) { raw =>
      val c = Urls.canonicalize(raw)
      c == null || {
        val h = Urls.hostOf(c)
        h != null && h == h.toLowerCase && Urls.hostOf(c) == Urls.hostOf(c)
      }
    })
  }

  test("hash64 is a pure function and distinguishes accepted canonical forms") {
    check("hash-pure", Prop.forAll(garbageGen) { s =>
      Urls.hash64(s) == Urls.hash64(s)
    })
  }
}

/** The URL-ish and arbitrary string generators (shared with UrlChainSpec). */
object UrlPropertySpec {
  private val schemeGen = Gen.oneOf("http", "https", "HTTP", "HtTpS", "ftp", "mailto", "")
  private val hostGen = Gen.oneOf(
    "Example.COM", "example.com.", "a.b.co.uk", "host-001.fix.test",
    "LOCALHOST", "127.0.0.1", "xn--bcher-kva.example", "")
  private val portGen = Gen.oneOf("", ":80", ":443", ":8080", ":0", ":")
  private val pathGen = Gen.oneOf("", "/", "/a/b", "/a/./b", "/a/../b", "//x//y/",
    "/%7Euser", "/a b", "/ünïcode", "/a/a/a/a", "/img.PNG", "/.." , "/index.php")
  private val queryGen = Gen.oneOf("", "?", "?x=1", "?PHPSESSID=z&x=1", "?&&", "?a=%2F&b=%zz")
  private val fragGen = Gen.oneOf("", "#", "#frag")

  val urlishGen: Gen[String] = for {
    s <- schemeGen; h <- hostGen; p <- portGen; pa <- pathGen; q <- queryGen; f <- fragGen
  } yield s"$s://$h$p$pa$q$f"

  val garbageGen: Gen[String] =
    Gen.oneOf(Gen.asciiPrintableStr, Gen.alphaNumStr, urlishGen)
}
