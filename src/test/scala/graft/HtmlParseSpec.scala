package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.CrawlConfig
import graft.parse.{DocParsers, Html, HtmlDocParser, PlainTextDocParser, BinaryDocParser}
import graft.schema.Span

/** Golden specs for the real HTML parser: the reference's tag table, link
  * throwaway rules, img-alt anchors, base-href resolution, meta robots /
  * refresh, and the exact interleaved span sequence (kind, text, media_ref,
  * order) the engine consumes. */
class HtmlParseSpec extends AnyFunSuite {

  private val url = "http://site.test/dir/page.html"
  private def spansOf(html: String): Seq[Span] = Html.parse(url, html).spans

  test("golden: interleaved span sequence in document order") {
    val html =
      """<html><head><title>My  Title</title></head>
        |<body>intro words
        |<a href="next.html">next page</a>
        |middle
        |<img src="pic.png" alt="a pic">
        |tail text</body></html>""".stripMargin
    val s = spansOf(html)
    assert(s == Seq(
      Span("text", "My Title intro words", null, 0),
      Span("link", "next page", "http://site.test/dir/next.html", 1),
      Span("text", "middle", null, 2),
      Span("media", "a pic", "http://site.test/dir/pic.png", 3),
      Span("text", "tail text", null, 4)))
  }

  test("full outlink tag table: a, area, form, frame, iframe, script, link, img, source") {
    val html =
      """<body>
        |<a href="a.html">A</a>
        |<area href="area.html">
        |<form action="form.cgi">f<input name=q></form>
        |<frame src="frame.html">
        |<iframe src="iframe.html"></iframe>
        |<script src="code.js"></script>
        |<link href="style.css">
        |<img src="i.png">
        |<source src="v.mp4">
        |</body>""".stripMargin
    val links = spansOf(html).filter(s => s.kind == "link" || s.kind == "media")
    val targets = links.map(_.media_ref)
    assert(targets == Seq(
      "http://site.test/dir/a.html", "http://site.test/dir/area.html",
      "http://site.test/dir/form.cgi", "http://site.test/dir/frame.html",
      "http://site.test/dir/iframe.html", "http://site.test/dir/code.js",
      "http://site.test/dir/style.css", "http://site.test/dir/i.png",
      "http://site.test/dir/v.mp4"))
    // img + source are media; the rest are links
    assert(links.map(_.kind) == Seq("link", "link", "link", "link", "link",
      "link", "link", "media", "media"))
  }

  test("empty-link throwaway rules (DOMContentUtils.shouldThrowAwayLink)") {
    // <a> with no inner structure is discarded; <area>/<img> (childLen 0) kept
    assert(spansOf("""<body><a href="x.html"></a></body>""").isEmpty)
    assert(spansOf("""<body><area href="x.html"></body>""").nonEmpty)
    // single nested same-element link discarded (outer), inner kept
    val nested = spansOf("""<body><a href="outer.html"><a href="inner.html">in</a></a></body>""")
    assert(nested.map(_.media_ref) == Seq("http://site.test/dir/inner.html"))
    // whitespace + nested link combos discarded
    assert(spansOf("<body><a href=\"x.html\"> <a href=\"y.html\">y</a></a></body>")
      .map(_.media_ref) == Seq("http://site.test/dir/y.html"))
  }

  test("img-alt fallback anchors and anchor whitespace collapsing") {
    val s = spansOf("""<body><a href="x.html"><img src="i.png" alt="Alt Text"></a></body>""")
    // the <a> anchor text falls back to the img alt; the img itself is also
    // discovered as a media span (the reference walker descends childful links)
    assert(s.exists(sp => sp.kind == "link" && sp.text == "Alt Text"))
    assert(s.exists(sp => sp.kind == "media" && sp.media_ref == "http://site.test/dir/i.png"))
    val ws = spansOf("<body><a href=\"x.html\">  two\n   words </a></body>")
    assert(ws.head.text == "two words")
  }

  test("rel=nofollow and form method=post are not outlinks") {
    val s = spansOf(
      """<body><a href="no.html" rel="external nofollow">n</a>
        |<form action="post.cgi" method="POST">p</form>
        |<a href="yes.html">y</a></body>""".stripMargin)
    assert(s.filter(_.kind == "link").map(_.media_ref) == Seq("http://site.test/dir/yes.html"))
  }

  test("base href changes resolution; relative, rooted, protocol-relative, query, ../") {
    val html =
      """<head><base href="http://other.test/deep/path/"></head>
        |<body>
        |<a href="rel.html">1</a>
        |<a href="/rooted.html">2</a>
        |<a href="//third.test/x.html">3</a>
        |<a href="?q=1">4</a>
        |<a href="../up.html">5</a>
        |<a href="https://abs.test/a.html">6</a>
        |</body>""".stripMargin
    val t = spansOf(html).filter(_.kind == "link").map(_.media_ref)
    assert(t == Seq(
      "http://other.test/deep/path/rel.html",
      "http://other.test/rooted.html",
      "http://third.test/x.html",
      "http://other.test/deep/path/?q=1",
      "http://other.test/deep/up.html",
      "https://abs.test/a.html"))
  }

  test("meta robots: noindex drops text, nofollow drops links, none drops both") {
    val body = """<body>words <a href="x.html">x</a> more</body>"""
    def withMeta(m: String) = s"""<head><meta name="robots" content="$m"></head>$body"""
    val ni = spansOf(withMeta("noindex"))
    assert(ni.forall(_.kind != "text") && ni.exists(_.kind == "link"))
    val nf = spansOf(withMeta("nofollow"))
    assert(nf.exists(_.kind == "text") && nf.forall(_.kind != "link"))
    assert(spansOf(withMeta("none")).isEmpty)
    // and the full-text mirror honors noindex
    assert(Html.parse(url, withMeta("noindex")).text == "")
  }

  test("meta refresh becomes a leading redirect span (resolved)") {
    val s = spansOf(
      """<head><meta http-equiv="refresh" content="0; url=moved.html"></head><body>t</body>""")
    assert(s.head == Span("redirect", null, "http://site.test/dir/moved.html", 0))
    // refresh to self is not a redirect
    val self = spansOf(
      s"""<head><meta http-equiv="refresh" content="5"></head><body>t</body>""")
    assert(self.forall(_.kind != "redirect"))
  }

  test("script/style bodies and comments are invisible; entities decode") {
    val s = spansOf(
      """<body>a &amp; b &lt;c&gt; &#65;
        |<script>var x = "<a href='fake.html'>no</a>";</script>
        |<style>.x { color: red }</style>
        |<!-- <a href="commented.html">no</a> -->
        |end</body>""".stripMargin)
    assert(s == Seq(Span("text", "a & b <c> A end", null, 0)))
  }

  test("title extraction and full text mirror the reference getText discipline") {
    val r = Html.parse(url,
      """<html><head><title> The   Title </title></head>
        |<body>one <b>two</b> three</body></html>""".stripMargin)
    assert(r.title == "The Title")
    assert(r.text == "The Title one two three")
  }

  test("parser.html.form.use_action=false and outlink ignore_tags drop tags") {
    val html = """<body><form action="f.cgi">x</form><script src="s.js"></script><a href="a.html">a</a></body>"""
    val noForm = Html.parse(url, html, formUseAction = false).spans
    assert(!noForm.exists(_.media_ref == "http://site.test/dir/f.cgi"))
    val noScript = Html.parse(url, html, ignoreTags = Set("script")).spans
    assert(!noScript.exists(_.media_ref == "http://site.test/dir/s.js"))
    assert(noScript.exists(_.media_ref == "http://site.test/dir/a.html"))
  }

  test("malformed HTML never throws and still yields spans") {
    val cases = Seq(
      "<body><a href=unquoted.html>u</a>",           // unquoted attr, unclosed body
      "<b><i>cross</b>ed</i> tags",
      "<a href='x.html'>broken <",
      "< notatag >",
      "",
      "<script>while(1){</script><a href='ok.html'>k</a>")
    for (h <- cases) {
      val s = Html.parse(url, h).spans // must not throw
      assert(s != null)
    }
    assert(Html.parse(url, "<body><a href=unquoted.html>u</a>").spans
      .exists(_.media_ref == "http://site.test/dir/unquoted.html"))
  }

  test("round trip: synthetic spans → HTML → real parser recovers the sequence (400+ pages)") {
    // the north-rule per-row invariant (kind, text, media_ref, order)
    // exercised through the REAL parser over every page of a synthetic web.
    // Adjacent text spans merge (HTML has no boundary between text runs), so
    // both sides are canonicalized by merging neighboring text spans.
    def canonical(spans: Seq[Span]): Seq[(String, String, String)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
      for (s <- spans) {
        if (s.kind == "text" && out.nonEmpty && out.last._1 == "text")
          out(out.length - 1) = ("text", out.last._2 + " " + s.text, null)
        else out += ((s.kind, s.text, s.media_ref))
      }
      out.toSeq
    }
    val web = graft.fixtures.SyntheticWeb(graft.fixtures.WebConfig(nHosts = 5, pagesPerHost = 90))
    var checked = 0
    for (u <- web.allUrls) {
      val expected = canonical(web.render(u).spans)
      val got = canonical(graft.parse.Html.parse(u, web.renderHtml(u)).spans)
      assert(got == expected, s"span round trip failed for $u")
      checked += 1
    }
    assert(checked >= 400)
  }

  test("crawl round over the HTML-serving fetcher ≡ the span-serving fetcher (frontier URLs)") {
    val spark = SparkSpecBase.session
    val web = graft.fixtures.SyntheticWeb(graft.fixtures.WebConfig(nHosts = 6, pagesPerHost = 10))
    val cfg = CrawlConfig(topN = 200, maxPerHost = 40, numFetchPartitions = 2,
      serverDelayMs = 200, fetchLatencyMs = 5)
    def crawlWith(f: graft.fetch.Fetcher): Set[String] = {
      val root = java.nio.file.Files.createTempDirectory("graft-htmlcrawl").toString
      val store = new graft.store.SnapshotStore(root)
      import spark.implicits._
      graft.cli.CrawlRound.inject(spark, store, web.seedUrls.toDS(), cfg, 1700000000000L)
      graft.cli.CrawlRound.crawl(spark, store, f, cfg, 2, 1700000000000L)
      store.load(spark, "frontier").get.select("url").collect().map(_.getString(0)).toSet
    }
    val viaSpans = crawlWith(graft.fetch.SyntheticFetcher(web, 5))
    val viaHtml = crawlWith(graft.fetch.HtmlSyntheticFetcher(web, 5))
    assert(viaHtml == viaSpans, {
      val d1 = viaHtml -- viaSpans; val d2 = viaSpans -- viaHtml
      s"discovered URL sets must match: html-only=${d1.take(5)} spans-only=${d2.take(5)}"
    })
  }

  test("fuzz: parser is total and well-formed on 2000 random tag-soup documents") {
    val fragments = Array(
      "<a href='x.html'>", "</a>", "<div>", "</div>", "<img src=p.png alt='a'>",
      "<script>", "</script>", "<style>", "</style>", "<!--", "-->", "<!doctype html>",
      "text words here", "&amp;", "&#65;", "&bogus;", "< ", ">", "\"", "'",
      "<a>", "<a href=>", "<form action='f' method=post>", "</form>",
      "<meta name=robots content=noindex>", "<base href='/b/'>", "<br>", "<p>",
      "<iframe src=//h.test/f>", "<A HREF=UP.HTML>Up</A>", "=", "<", "<<>>",
      "<meta http-equiv=refresh content='0; url=r.html'>", "é中文",
      "<a href=\"y.html\"><a href=\"z.html\">nested</a></a>", "<area href=q.html>")
    val rnd = new scala.util.Random(7)
    val kinds = Set("text", "link", "media", "redirect")
    for (i <- 0 until 2000) {
      val doc = (0 until (1 + rnd.nextInt(40))).map(_ => fragments(rnd.nextInt(fragments.length)))
        .mkString(if (rnd.nextBoolean()) " " else "")
      val r = graft.parse.Html.parse(s"http://fuzz.test/d$i", doc) // must not throw
      // spans well-formed: valid kinds, ordinal offsets, link/media carry refs
      r.spans.zipWithIndex.foreach { case (s, idx) =>
        assert(kinds.contains(s.kind), s"bad kind ${s.kind} in doc $i")
        assert(s.offset == idx, s"non-ordinal offset in doc $i")
        if (s.kind == "link" || s.kind == "media" || s.kind == "redirect")
          assert(s.media_ref != null && s.media_ref.nonEmpty, s"empty ref in doc $i")
        if (s.kind == "text")
          assert(s.text != null && s.text.trim.nonEmpty, s"blank text span in doc $i")
      }
    }
  }

  test("DocParsers dispatch by resolved mime") {
    val cfg = CrawlConfig()
    assert(DocParsers.forMime("text/html") == HtmlDocParser)
    assert(DocParsers.forMime("application/xhtml+xml") == HtmlDocParser)
    assert(DocParsers.forMime("text/plain") == PlainTextDocParser)
    assert(DocParsers.forMime("image/png") == BinaryDocParser)
    val txt = DocParsers.parseSpans("text/plain", "http://a.test/x.txt",
      "hello   world\n".getBytes("UTF-8"), cfg)
    assert(txt == Seq(Span("text", "hello world", null, 0)))
    val bin = DocParsers.parseSpans(null, "http://a.test/x.png",
      Array[Byte](1, 2, 3), cfg)
    assert(bin == Seq(Span("media", null, "http://a.test/x.png", 0)))
    // header wins over extension; extension fallback drives dispatch
    val viaExt = DocParsers.parseSpans(null, "http://a.test/x.html",
      "<body>t <a href='y.html'>y</a></body>".getBytes("UTF-8"), cfg)
    assert(viaExt.exists(_.kind == "link"))
  }

  test("XmlDocParser: sitemap XML yields loc link spans; other XML degrades to text") {
    val cfg = CrawlConfig()
    val sitemap =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url><loc>http://a.test/p1.html</loc><lastmod>2024-01-01</lastmod></url>
        |  <url><loc> http://a.test/p2.html?x=1&amp;y=2 </loc></url>
        |</urlset>""".stripMargin
    val spans = DocParsers.parseSpans("application/xml", "http://a.test/sitemap.xml",
      sitemap.getBytes("UTF-8"), cfg)
    assert(spans == Seq(
      Span("link", null, "http://a.test/p1.html", 0),
      Span("link", null, "http://a.test/p2.html?x=1&y=2", 1)))
    // sitemap index files work the same way
    val index = "<sitemapindex><sitemap><loc>http://a.test/s1.xml</loc></sitemap></sitemapindex>"
    assert(DocParsers.parseSpans("text/xml", "http://a.test/i.xml",
      index.getBytes("UTF-8"), cfg).map(_.media_ref) == Seq("http://a.test/s1.xml"))
    // non-sitemap XML: one text span
    val other = DocParsers.parseSpans("application/xml", "http://a.test/feed.xml",
      "<config><k>v</k></config>".getBytes("UTF-8"), cfg)
    assert(other.length == 1 && other.head.kind == "text")
  }

  test("fetch executor parses raw HTML bytes through the registry (content path)") {
    val html =
      """<html><head><title>H</title></head>
        |<body>hello <a href="/p2.html">go</a></body></html>""".stripMargin
    val fetcher = new graft.fetch.Fetcher {
      override def fetch(u: String): graft.fetch.ProtocolResponse =
        graft.fetch.ProtocolResponse("SUCCESS", null, null, "text/html; charset=utf-8", 5,
          content = html.getBytes("UTF-8"))
      override def robotsRules(host: String) = Some(graft.fetch.Robots.AllowAll)
    }
    val cfg = CrawlConfig(numFetchPartitions = 1, serverDelayMs = 10, fetchLatencyMs = 1)
    val tasks = Seq(graft.schema.FetchTask("http://h.test/p1.html",
      graft.url.Urls.hash64("http://h.test/p1.html"), "h.test", "h.test",
      graft.schema.CrawlStatus.DB_UNFETCHED, 0L, 0, 2592000, 1f, 0))
    val pages = graft.fetch.PolitenessExecutor.run(0, tasks.iterator, fetcher, cfg,
      1700000000000L, 1, _ => ()).toSeq
    assert(pages.length == 1)
    val spans = pages.head.spans
    assert(spans == Seq(
      Span("text", "H hello", null, 0),
      Span("link", "go", "http://h.test/p2.html", 1)))
    assert(pages.head.signature != null)
  }
}
