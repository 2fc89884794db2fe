package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Crawl
import graft.fetch.FileFetcher
import graft.frontier.CrawlConfig
import graft.schema.CrawlStatus
import graft.url.{UrlFilters, Urls}

/** protocol-file: crawling a local directory corpus through the same
  * politeness executor + parse registry + updatedb as HTTP (reference
  * src/plugin/protocol-file File.java / FileResponse.java e2e shape). */
class FileFetcherSpec extends AnyFunSuite with SparkSpecBase {

  private def corpus(): Path = {
    val root = Files.createTempDirectory("graft-filecrawl")
    Files.writeString(root.resolve("index.html"),
      """<html><body>root page
        |<a href="a.html">a</a> <a href="sub/">sub</a></body></html>""".stripMargin)
    Files.writeString(root.resolve("a.html"),
      """<html><body>alpha <a href="sub/b.html">b</a></body></html>""")
    val sub = Files.createDirectory(root.resolve("sub"))
    Files.writeString(sub.resolve("b.html"), "<html><body>beta page</body></html>")
    Files.writeString(sub.resolve("notes.txt"), "plain notes")
    root
  }

  test("pathOf: file URL variants map to local paths") {
    val f = FileFetcher()
    assert(f.pathOf("file:///tmp/x.html").toString == "/tmp/x.html")
    assert(f.pathOf("file://localhost/tmp/x.html").toString == "/tmp/x.html")
    assert(f.pathOf("file:///tmp/with%20space").toString == "/tmp/with space")
    assert(f.pathOf("file://otherhost/tmp/x") == null, "remote file hosts are not local paths")
    assert(f.pathOf("http://h/x") == null)
  }

  test("fetch: files, directory listing, slash redirect, missing, truncation") {
    val root = corpus()
    val f = FileFetcher(maxContentBytes = 11)
    val base = s"file://localhost$root"

    val page = FileFetcher().fetch(s"$base/index.html")
    assert(page.code == "SUCCESS" && page.contentType == "text/html")
    assert(new String(page.content, "UTF-8").contains("root page"))

    val dirNoSlash = FileFetcher().fetch(s"$base/sub")
    assert(dirNoSlash.code == "MOVED" && dirNoSlash.redirectTo == s"$base/sub/")

    val listing = FileFetcher().fetch(s"$base/sub/")
    assert(listing.code == "SUCCESS" && listing.contentType == "text/html")
    val html = new String(listing.content, "UTF-8")
    assert(html.contains("""<a href="b.html">""") && html.contains("""<a href="notes.txt">"""))

    assert(FileFetcher().fetch(s"$base/nope.html").code == "NOTFOUND")
    assert(f.fetch(s"$base/sub/notes.txt").content.length == 11, "truncation cap applies")
    val txt = FileFetcher().fetch(s"$base/sub/notes.txt")
    assert(txt.contentType == "text/plain")
  }

  test("canonicalize + filter: file URLs work when the scheme is enabled") {
    assert(Urls.canonicalize("file:///tmp/a/index.html") == "file://localhost/tmp/a/index.html")
    assert(Urls.hostOf("file://localhost/tmp/a") == "localhost")
    val before = UrlFilters.allowFileScheme
    try {
      UrlFilters.allowFileScheme = false
      assert(!UrlFilters.accept("file://localhost/tmp/a.html"), "denied by default, like the reference")
      UrlFilters.allowFileScheme = true
      assert(UrlFilters.accept("file://localhost/tmp/a.html"))
    } finally UrlFilters.allowFileScheme = before
  }

  test("e2e crawl over a temp directory corpus: listing + pages walk through rounds") {
    val root = corpus()
    val before = UrlFilters.allowFileScheme
    UrlFilters.allowFileScheme = true
    try {
      val cfg = CrawlConfig(serverDelayMs = 0, fetchLatencyMs = 0, signer = "md5")
      val store = Files.createTempDirectory("graft-filestore").toString
      val crawl = Crawl(spark, store, cfg, FileFetcher())
      import spark.implicits._
      val seed = s"file://localhost$root/index.html"
      crawl.inject(Seq(seed).toDS())
      crawl.round(); crawl.round()
      val frontier = crawl.frontier.collect()
        .map(r => r.getAs[String]("url") -> r.getAs[Byte]("status")).toMap
      assert(frontier(seed) == CrawlStatus.DB_FETCHED)
      assert(frontier(s"file://localhost$root/a.html") == CrawlStatus.DB_FETCHED)
      // round 2 reached the subdir listing and/or its children
      assert(frontier.keys.exists(_.endsWith("/sub/")), s"listing URL discovered: ${frontier.keys}")
      val subPage = s"file://localhost$root/sub/b.html"
      assert(frontier.contains(subPage), "b.html discovered via a.html's outlink")
    } finally UrlFilters.allowFileScheme = before
  }

  test("GRAFT_FETCHER=file opts every executor into the file scheme through the session conf") {
    val cfg = CrawlConfig()
    val (fileCfg, fetcher, conf) = graft.cli.Main.fetcherChoice(Map("GRAFT_FETCHER" -> "file"), cfg)
    assert(fetcher.isInstanceOf[FileFetcher] && fileCfg.serverDelayMs == 0)
    val executorEnv = new org.apache.spark.SparkConf(false).setAll(conf).getExecutorEnv.toMap
    assert(executorEnv.get("GRAFT_ALLOW_FILE_SCHEME").contains("true"))
    for (other <- Seq(Map("GRAFT_FETCHER" -> "http"),
        Map("GRAFT_WEB_HOSTS" -> "2", "GRAFT_WEB_PAGES" -> "2")))
      assert(graft.cli.Main.fetcherChoice(other, cfg)._3.isEmpty, other)
  }
}
