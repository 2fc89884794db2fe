package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Crawl
import graft.fetch.{Fetcher, PolitenessExecutor, ProtocolResponse, Robots}
import graft.frontier.CrawlConfig
import graft.parse.{DocParsers, ZipDocParser}
import graft.schema.{CrawlStatus, FetchTask}
import graft.url.Urls

/** Serves one zip container; everything else 404s. Top-level so the task
  * closure ships without the test suite. */
private case class ZipFetcher(zipUrl: String, bytes: Array[Byte]) extends Fetcher {
  override def fetch(url: String): ProtocolResponse =
    if (url == zipUrl)
      ProtocolResponse("SUCCESS", null, null, "application/zip", 5, bytes)
    else ProtocolResponse("NOTFOUND", null, null, null, 5)
  override def robotsRules(host: String): Option[Robots.RobotRules] = Some(Robots.AllowAll)
}

/** Container parsing (reference ParseResult.java multi-entry + parse-zip):
  * one fetched zip yields the container manifest plus one sub-document per
  * member, each flowing through the executor, the parsed segment, and
  * updatedb as its own row. */
class ZipParseSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-zip").toString

  private def zipBytes(members: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    members.foreach { case (name, text) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(text.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private val cfg = CrawlConfig(serverDelayMs = 100, fetchLatencyMs = 5)

  private val bundle = zipBytes(
    "a.html" -> """<html><body>alpha page <a href="http://z.fix.test/next">go</a></body></html>""",
    "docs/b.txt" -> "plain beta text",
    "img/c.png" -> "PNG fake bytes")

  test("registry: zip resultDocs = container manifest + per-member parsed sub-docs") {
    val docs = ZipDocParser.resultDocs("http://z.fix.test/bundle", null, bundle, cfg)
    assert(docs.length == 4)
    val container = docs.head
    assert(container.url == "http://z.fix.test/bundle")
    assert(container.spans.head.kind == "text" &&
      container.spans.head.text == "a.html docs/b.txt img/c.png")
    val byUrl = docs.map(d => d.url -> d).toMap
    val a = byUrl("http://z.fix.test/bundle/a.html")
    assert(a.contentType == "text/html")
    assert(a.spans.exists(s => s.kind == "link" && s.media_ref == "http://z.fix.test/next"))
    assert(a.spans.exists(s => s.kind == "text" && s.text.contains("alpha page")))
    val b = byUrl("http://z.fix.test/bundle/docs/b.txt")
    assert(b.contentType == "text/plain")
    assert(b.spans == Seq(graft.schema.Span("text", "plain beta text", null, 0)))
    val c = byUrl("http://z.fix.test/bundle/img/c.png")
    assert(c.contentType == "image/png")
    assert(c.spans.head.kind == "media")
    // corrupt container degrades, never throws
    val corrupt = ZipDocParser.resultDocs("http://z.fix.test/bad", null, "not a zip".getBytes, cfg)
    assert(corrupt.head.url == "http://z.fix.test/bad")
    // dispatch by magic: parseResult with a lying/absent content type
    val sniffed = DocParsers.parseResult(null, "http://z.fix.test/bundle", bundle, cfg)
    assert(sniffed.length == 4, "PK magic must route to the zip parser")
  }

  test("executor: one container fetch emits container + N member rows") {
    val url = "http://z.fix.test/bundle"
    val host = Urls.hostOf(url)
    val t = FetchTask(url, Urls.hash64(url), host, Urls.registeredDomainOf(host),
      CrawlStatus.DB_UNFETCHED, 1700000000000L, 0, 2592000, 1f, 1)
    val out = PolitenessExecutor.run(0, Iterator(t), ZipFetcher(url, bundle), cfg,
      1700000000000L, 1, _ => ()).toSeq
    assert(out.length == 4)
    assert(out.forall(_.status == CrawlStatus.FETCH_SUCCESS))
    assert(out.head.url == url)
    val members = out.drop(1)
    assert(members.map(_.url).toSet == Set(
      s"$url/a.html", s"$url/docs/b.txt", s"$url/img/c.png"))
    assert(members.forall(_.signature != null), "sub-docs sign their own spans")
    assert(members.forall(_.score == 0.0f), "OPIC cash stays with the container")
  }

  test("crawl round: container fetch yields N frontier + parsed rows through updatedb") {
    val url = "http://z.fix.test/bundle"
    val root = tmp()
    val crawl = Crawl(spark, root, cfg.copy(signer = "md5"), ZipFetcher(url, bundle))
    import spark.implicits._
    crawl.inject(Seq(url).toDS())
    val stats = crawl.round()
    val frontier = crawl.frontier.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Byte]("status")).toMap
    assert(frontier(url) == CrawlStatus.DB_FETCHED)
    assert(frontier(s"$url/a.html") == CrawlStatus.DB_FETCHED,
      s"member must enter the frontier as fetched, got: ${frontier.keys.toSeq.sorted}")
    assert(frontier(s"$url/docs/b.txt") == CrawlStatus.DB_FETCHED)
    // the member page's OUTLINK is discovered into the frontier as unfetched
    assert(frontier.get("http://z.fix.test/next").contains(CrawlStatus.DB_UNFETCHED),
      "sub-document outlinks must be discovered")
    val parsed = crawl.parsed(stats.round).get.select("doc_id").as[String].collect().toSet
    assert(parsed == Set(url, s"$url/a.html", s"$url/docs/b.txt", s"$url/img/c.png"))
  }
}
