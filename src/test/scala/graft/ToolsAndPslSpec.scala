package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.{Crawl, CrawlRound}
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.url._

/** Public-suffix rules engine (publicsuffix.org semantics). */
class PublicSuffixSpec extends AnyFunSuite {
  test("plain, second-level and private suffixes") {
    assert(PublicSuffix.registeredDomainOf("www.example.com") == "example.com")
    assert(PublicSuffix.registeredDomainOf("a.b.example.co.uk") == "example.co.uk")
    assert(PublicSuffix.registeredDomainOf("deep.proj.github.io") == "proj.github.io")
    assert(PublicSuffix.registeredDomainOf("shop.com.au") == "shop.com.au")
    assert(PublicSuffix.registeredDomainOf("x.shop.com.au") == "shop.com.au")
    assert(PublicSuffix.registeredDomainOf("foo.blogspot.com") == "foo.blogspot.com")
    assert(PublicSuffix.registeredDomainOf("host-001.fix.test") == "host-001.fix.test")
  }
  test("wildcard and exception rules") {
    // *.ck: any <label>.ck is a public suffix…
    assert(PublicSuffix.publicSuffixOf("x.y.site.ck") == "site.ck")
    assert(PublicSuffix.registeredDomainOf("x.y.site.ck") == "y.site.ck")
    // …except !www.ck
    assert(PublicSuffix.registeredDomainOf("www.ck") == "www.ck")
    assert(PublicSuffix.registeredDomainOf("a.www.ck") == "www.ck")
  }
  test("full publicsuffix.org data is loaded: kobe.jp wildcard+exception pair") {
    // *.kobe.jp (wildcard) with !city.kobe.jp (exception) — present only in
    // the complete list, absent from the curated fallback
    assert(PublicSuffix.publicSuffixOf("a.b.nagata.kobe.jp") == "nagata.kobe.jp")
    assert(PublicSuffix.registeredDomainOf("a.b.nagata.kobe.jp") == "b.nagata.kobe.jp")
    assert(PublicSuffix.registeredDomainOf("www.city.kobe.jp") == "city.kobe.jp")
    assert(PublicSuffix.publicSuffixOf("city.kobe.jp") == "kobe.jp")
    // more full-list-only rules across sections
    assert(PublicSuffix.publicSuffixOf("a.b.nom.br") == "b.nom.br")      // *.nom.br wildcard
    assert(PublicSuffix.registeredDomainOf("x.pvt.k12.ma.us") == "x.pvt.k12.ma.us")
    assert(PublicSuffix.publicSuffixOf("foo.eu.org") == "eu.org")         // private section
  }
  test("default rule and degenerate hosts") {
    assert(PublicSuffix.registeredDomainOf("foo.unknowntld") == "foo.unknowntld")
    assert(PublicSuffix.registeredDomainOf("a.b.foo.unknowntld") == "foo.unknowntld")
    assert(PublicSuffix.registeredDomainOf("localhost") == "localhost")
    assert(PublicSuffix.registeredDomainOf("com") == "com")
    assert(PublicSuffix.registeredDomainOf(null) == null)
    // case-insensitive
    assert(PublicSuffix.registeredDomainOf("WWW.Example.COM") == "example.com")
  }
}

/** URL filter variants (prefix/suffix/domain/regex plugins). */
class UrlFilterVariantsSpec extends AnyFunSuite {
  test("prefix filter") {
    val allow = PrefixUrlFilter(Seq("http://a.fix.test/", "https://b.fix.test/"))
    assert(allow.accept("http://a.fix.test/x"))
    assert(!allow.accept("http://c.fix.test/x"))
    val deny = PrefixUrlFilter(Seq("http://a.fix.test/private/"), deny = true)
    assert(!deny.accept("http://a.fix.test/private/x"))
    assert(deny.accept("http://a.fix.test/public/x"))
  }
  test("suffix filter matches the path only, case-insensitively") {
    val f = SuffixUrlFilter(Seq(".exe", ".zip"))
    assert(!f.accept("http://a.fix.test/setup.EXE"))
    assert(!f.accept("http://a.fix.test/a.zip"))
    assert(!f.accept("http://a.fix.test/a.zip?x=1.html")) // query ignored, path is still a.zip
    assert(f.accept("http://a.fix.test/page.zip.html"))   // suffix = .html, passes
    assert(f.accept("http://a.fix.test/page.html"))
  }
  test("domain filter matches host, registered domain and tld") {
    val f = DomainUrlFilter(Set("example.co.uk", "fix.test"))
    assert(f.accept("http://a.b.example.co.uk/x"))   // registered domain
    assert(f.accept("http://host-001.fix.test/x"))   // public suffix listed
    assert(!f.accept("http://other.com/x"))
    val deny = DomainUrlFilter(Set("bad.com"), deny = true)
    assert(!deny.accept("http://www.bad.com/x"))
    assert(deny.accept("http://good.com/x"))
  }
  test("regex filter: first match decides, no match drops") {
    val f = RegexUrlFilter(Seq(
      (false, "\\?.*sort="),     // deny sort params
      (true, "^https?://")))     // accept the rest
    assert(!f.accept("http://a.fix.test/list?sort=asc"))
    assert(f.accept("http://a.fix.test/list"))
    assert(!f.accept("ftp://a.fix.test/x")) // no match ⇒ drop
  }
  test("chain requires every filter to accept") {
    // .cgi, not a default-denied suffix: the suffix filter alone drops it
    val chain = UrlChain(Nil, Seq(
      PrefixUrlFilter(Seq("http://a.fix.test/")),
      SuffixUrlFilter(Seq(".cgi"))))
    assert(chain.accept("http://a.fix.test/ok.html"))
    assert(!chain.accept("http://a.fix.test/bad.cgi"))
    assert(!chain.accept("http://b.fix.test/ok.html"))
  }

  test("suffix filter path check on a URL missing the slash after host") {
    // zip in query only: path is "/", must pass
    assert(SuffixUrlFilter(Seq(".zip")).accept("http://a.fix.test?f=x.zip"))
  }

  test("suffix filter never matches the host: deny '.co' keeps http://site.co/") {
    val f = SuffixUrlFilter(Seq(".co"))
    assert(f.accept("http://site.co/"))
    assert(f.accept("http://site.co"))
    assert(!f.accept("http://site.com/file.co"))
  }

  // urlfilter-fast: the reference's own sample rule file + test.urls
  // (reference src/plugin/urlfilter-fast/sample/fast-urlfilter-test.txt)
  test("fast filter: host/domain-scoped deny rules, reference sample semantics") {
    val f = FastUrlFilter.parse(
      """Host www.example.org
        |  DenyPath ^/path/to/be/excluded
        |  DenyPath ^/some/other/path/excluded
        |
        |# Deny everything from *.example.com and example.com
        |Domain example.com
        |  DenyPath .*
        |
        |Domain example.org
        |  DenyPathQuery /resource/.*?action=exclude
        |
        |Host i.example.org
        |  DenyPath (?i)\.jpe?g$
        |
        |Domain .
        |  DenyPath (/.+?)/.*?\1/.*?\1/
        |""".stripMargin)
    // '-' lines from the reference's test.urls must be rejected
    assert(!f.accept("https://www.example.org/path/to/be/excluded"))
    assert(!f.accept("https://www.example.org/path/to/be/excluded/continued"))
    assert(!f.accept("https://www.example.org/some/other/path/excluded"))
    assert(!f.accept("https://www1.example.com/"))
    assert(!f.accept("https://www.subnet.example.com/"))
    assert(!f.accept("https://www.example.org/resource/put?action=exclude"))
    assert(!f.accept("http://www.nutch.org/abcd/foo/bar/foo/bar/foo/"))
    assert(!f.accept("http://www.nutch.org/abcd/foo/bar/xyz/foo/bar/foo/"))
    assert(!f.accept("https://i.example.org/c=0-129/635-WORLD.JPG?width=3200"))
    assert(!f.accept("ftp://ftp.example.com/file1.txt"))
    assert(!f.accept("file:/abcd/foo/bar/xyz/foo/bar/foo/"))
    // '+' lines must pass
    assert(f.accept("https://www.example.org/"))
    assert(f.accept("https://www.example.org/%20white%20space%20in%20path%20escaped/"))
    assert(f.accept("https://www.examplex.com/"))
    assert(f.accept("https://www.example.co.uk/"))
    assert(f.accept("https://www.example.com.za/"))
    assert(f.accept("http://www.nutch.org/abcd/foo1/bar1/zzz1/"))
    assert(f.accept("ftp://ftp.example.org/file1.txt"))
    assert(f.accept("file:/path/file1.txt"))
    assert(f.accept("file:///path/file1.txt"))
    // unparseable URL ⇒ rejected
    assert(!f.accept("http://exa mple.org/ bad"))
  }

  test("fast filter: length caps reject before any rule runs") {
    val f = FastUrlFilter.parse("", maxLength = 30, maxLengthPath = 10, maxLengthQuery = 5)
    assert(f.accept("http://a.test/short"))
    assert(!f.accept("http://a.test/" + "x" * 40))                 // whole-url cap
    assert(!f.accept("http://a.test/12345678901"))                 // path cap
    assert(!f.accept("http://a.test/p?q=1234567"))                 // query cap
  }
}

/** Content-type resolution (MimeUtil semantics). */
class MimeSpec extends AnyFunSuite {
  test("header normalization strips parameters and case") {
    assert(Mime.normalize("text/HTML; charset=UTF-8") == "text/html")
    assert(Mime.normalize("  application/pdf ") == "application/pdf")
    assert(Mime.normalize("application/octet-stream") == null) // opaque
    assert(Mime.normalize("gibberish") == null)
    assert(Mime.normalize(null) == null)
  }
  test("extension fallback and default") {
    assert(Mime.resolve(null, "http://a.fix.test/x.pdf") == "application/pdf")
    assert(Mime.resolve("application/octet-stream", "http://a.fix.test/i.PNG") == "image/png")
    assert(Mime.resolve(null, "http://a.fix.test/doc.pdf?v=2") == "application/pdf")
    assert(Mime.resolve(null, "http://a.fix.test/page") == "text/html")
    assert(Mime.resolve("text/plain; q=1", "http://a.fix.test/x.pdf") == "text/plain")
  }
  test("content magic sniff: strong signatures recognized, weak content is null") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    assert(Mime.sniff(b(0x89, 'P', 'N', 'G', 0x0d, 0x0a)) == "image/png")
    assert(Mime.sniff(b(0xff, 0xd8, 0xff, 0xe0, 0, 0x10)) == "image/jpeg")
    assert(Mime.sniff("GIF89a......".getBytes("ISO-8859-1")) == "image/gif")
    assert(Mime.sniff(b(0x1f, 0x8b, 8, 0)) == "application/gzip")
    assert(Mime.sniff("%PDF-1.7\n%".getBytes) == "application/pdf")
    assert(Mime.sniff(b('P', 'K', 3, 4, 0, 0)) == "application/zip")
    assert(Mime.sniff("RIFF    WEBPVP8 ".getBytes("ISO-8859-1")) == "image/webp")
    assert(Mime.sniff("WARC/1.1\r\nWARC-Type: response".getBytes) == "application/warc")
    assert(Mime.sniff("<?xml version=\"1.0\"?><urlset>".getBytes) == "application/xml")
    assert(Mime.sniff("  \n<!DOCTYPE HTML><html>".getBytes) == "text/html")
    assert(Mime.sniff(Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "<html><body>x</body></html>".getBytes("UTF-8")) == "text/html") // BOM skipped
    // XML prolog is disambiguated: XHTML and SVG keep their real parsers
    assert(Mime.sniff(
      "<?xml version=\"1.0\"?><!DOCTYPE html><html xmlns=\"http://www.w3.org/1999/xhtml\">"
        .getBytes) == "application/xhtml+xml")
    assert(Mime.sniff("<?xml version=\"1.0\"?><svg width=\"5\"></svg>".getBytes)
      == "image/svg+xml")
    // UTF-16 BOMs are NOT audio/mpeg (no bare frame-sync heuristic) and are
    // left to the header
    assert(Mime.sniff(Array[Byte](0xff.toByte, 0xfe.toByte, '<', 0, 'h', 0)) == null)
    assert(Mime.sniff(Array[Byte](0xfe.toByte, 0xff.toByte, 0, '<', 0, 'h')) == null)
    // weak openings stay null: a bare '<' or plain prose never overrides
    assert(Mime.sniff("<note>xml-ish without prolog</note>".getBytes("UTF-8")) == null)
    assert(Mime.sniff("just some plain text".getBytes) == null)
    assert(Mime.sniff(null) == null)
    assert(Mime.sniff(Array[Byte](1, 2)) == null)
  }
  test("resolveWithContent: a lying Content-Type header is overridden by content magic") {
    val pdf = "%PDF-1.4 fake body".getBytes
    assert(Mime.resolveWithContent("text/html; charset=utf-8", "http://a.fix.test/x", pdf)
      == "application/pdf")
    val html = "<html><body>hi</body></html>".getBytes
    assert(Mime.resolveWithContent("text/plain", "http://a.fix.test/x.txt", html) == "text/html")
    // no confident magic → the usual header → extension → default chain
    assert(Mime.resolveWithContent("text/plain", "http://a.fix.test/x", "prose".getBytes)
      == "text/plain")
    assert(Mime.resolveWithContent(null, "http://a.fix.test/x.pdf", "prose".getBytes)
      == "application/pdf")
    // and the parse dispatch rides the sniff: PNG served as text/html is
    // parsed as opaque binary, HTML served as text/plain yields real spans
    val cfg = graft.frontier.CrawlConfig()
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    assert(graft.parse.DocParsers.parseSpans("text/html", "http://a.fix.test/i", png, cfg)
      == Seq(graft.schema.Span("media", null, "http://a.fix.test/i", 0)))
    val spans = graft.parse.DocParsers.parseSpans("text/plain", "http://a.fix.test/p",
      "<html><body>hello <a href=\"/n\">go</a></body></html>".getBytes, cfg)
    assert(spans == Seq(graft.schema.Span("text", "hello", null, 0),
      graft.schema.Span("link", "go", "http://a.fix.test/n", 1)))
  }
}

/** Sitemap processing + segment tools over a real crawl store. */
class ToolsSpec extends AnyFunSuite with SparkSpecBase {

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft-tools").toString

  // bigger web so sitemap hosts exist (hash-derived subset)
  val web = SyntheticWeb(WebConfig(nHosts = 20, pagesPerHost = 15, hotFactor = 2))
  val cfg = CrawlConfig(topN = 300, maxPerHost = 40, numFetchPartitions = 4,
    serverDelayMs = 500, fetchLatencyMs = 10)

  test("sitemap processing injects the advertised URLs without touching known rows") {
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 10))
    val smHosts = (0 until web.cfg.nHosts).map(web.hostName).filter(h => web.sitemapPages(h).isDefined)
    assume(smHosts.nonEmpty, "fixture must contain sitemap hosts")

    val before = crawl.frontier.select("url").collect().map(_.getString(0)).toSet
    val expectedNew = smHosts.flatMap { h =>
      val idx = h.substring(5, h.indexOf('.')).toInt
      web.sitemapPages(h).get.map(p => web.pageUrl(idx, p))
    }.filterNot(before).toSet

    crawl.processSitemaps(sitemapScore = 0.25f)
    val after = crawl.frontier
    val afterUrls = after.select("url").collect().map(_.getString(0)).toSet
    assert(expectedNew.subsetOf(afterUrls), s"missing: ${(expectedNew -- afterUrls).take(5)}")
    assert(before.subsetOf(afterUrls))
    // new rows carry the sitemap score and unfetched status
    if (expectedNew.nonEmpty) {
      val rows = after.filter(col("url").isin(expectedNew.toSeq: _*))
        .select("status", "score").collect()
      assert(rows.forall(r => r.getByte(0) == graft.schema.CrawlStatus.DB_UNFETCHED))
      assert(rows.forall(r => math.abs(r.getFloat(1) - 0.25f) < 1e-6))
    }
    // checkpoint unchanged (commits at the current round, tagged)
    assert(store.lastCompletedRound.contains(1))
  }

  test("segment merge keeps the newest row per url across rounds") {
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 3, root)
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 10))
    val merged = crawl.mergeSegments("fetched", Seq(1, 2, 3)).get
    // unique per url
    assert(merged.groupBy("url").count().filter(col("count") > 1).isEmpty)
    // a URL fetched in multiple rounds resolves to its highest round
    import spark.implicits._
    val multi = Seq(1, 2, 3).flatMap(r => store.loadRound(spark, "fetched", r).get
        .select("url").as[String].collect().map(_ -> r))
      .groupBy(_._1).filter(_._2.size > 1)
    if (multi.nonEmpty) {
      val (u, rs) = multi.head
      val got = merged.filter(col("url") === u).select("round").collect()(0).getInt(0)
      assert(got == rs.map(_._2).max)
    }
    // slice filter applies
    val sliced = crawl.mergeSegments("fetched", Seq(1, 2, 3),
      Some("host = 'host-000.fix.test'")).get
    assert(sliced.select("host").distinct().collect().map(_.getString(0)).toSeq == Seq("host-000.fix.test"))
  }

  test("score quantiles: exact percentiles per status") {
    val root = tmp()
    CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 10))
    val q = crawl.scoreQuantiles(Seq(0.0, 0.5, 1.0)).collect()
    assert(q.nonEmpty)
    for (r <- q) {
      val qs = r.getSeq[Double](r.fieldIndex("score_quantiles"))
      assert(qs.length == 3 && qs(0) <= qs(1) && qs(1) <= qs(2))
      assert(math.abs(qs(0) - r.getFloat(r.fieldIndex("min_score"))) < 1e-5)
      assert(math.abs(qs(2) - r.getFloat(r.fieldIndex("max_score"))) < 1e-5)
    }
  }

  test("segment reader verbs: dump slice and point get") {
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 2, root)
    val dumped = graft.segment.SegmentTools.dump(spark, store, "fetched", 1,
      Some("status = 33")).get // 0x21 fetch_success
    assert(dumped.count() > 0)
    val aUrl = dumped.select("url").collect()(0).getString(0)
    val got = graft.segment.SegmentTools.get(spark, store, "fetched", Seq(1, 2), "url", aUrl)
    assert(got.count() >= 1)
    assert(got.select("url").distinct().collect()(0).getString(0) == aUrl)
  }
}
