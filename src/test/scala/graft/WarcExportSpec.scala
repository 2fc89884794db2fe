package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.{Crawl, CrawlRound}
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig

/** WARC-shaped export: a fetched round maps to request/response/metadata
  * records with the reference WarcWriter's field semantics (record triple,
  * Concurrent-To linkage, warcinfo, revisit profile, payload shapes). */
class WarcExportSpec extends AnyFunSuite with SparkSpecBase {

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft-warc").toString

  val web = SyntheticWeb(WebConfig(nHosts = 6, pagesPerHost = 10, hotFactor = 2))
  val cfg = CrawlConfig(topN = 200, maxPerHost = 40, numFetchPartitions = 2,
    serverDelayMs = 200, fetchLatencyMs = 5)

  test("fetched round exports the reference's record shape") {
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 5))
    val recs = crawl.exportWarc(1).get.cache()

    // one warcinfo; every other record points at it
    val info = recs.filter(col("warc_type") === "warcinfo").collect()
    assert(info.length == 1)
    val infoId = info(0).getAs[String]("record_id")
    assert(infoId.startsWith("<urn:uuid:") && infoId.endsWith(">"))
    assert(recs.filter(col("warc_type") =!= "warcinfo")
      .filter(col("warcinfo_id") =!= infoId).count() == 0)

    // record triple per exported URL: response/request/metadata counts equal
    val byType = recs.groupBy("warc_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("response") > 0)
    assert(byType("request") == byType.getOrElse("response", 0L) + byType.getOrElse("revisit", 0L))
    assert(byType("metadata") == byType("request"))

    // Concurrent-To of request + metadata records = the response record id
    val respIds = recs.filter(col("warc_type").isin("response", "revisit"))
      .select(col("target_uri"), col("record_id")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    recs.filter(col("warc_type").isin("request", "metadata")).collect().foreach { r =>
      assert(r.getAs[String]("concurrent_to") == respIds(r.getAs[String]("target_uri")))
    }

    // response payload: status line + content-type header + body text
    val ok = recs.filter(col("warc_type") === "response" && col("http_status") === 200)
    val payload = new String(ok.first().getAs[Array[Byte]]("payload"), "UTF-8")
    assert(payload.startsWith("HTTP/1.1 200 OK\r\nContent-Type: "))
    assert(payload.contains("\r\n\r\n") && payload.split("\r\n\r\n", 2)(1).nonEmpty)
    assert(ok.filter(col("payload_digest").startsWith("md5:")).count() == ok.count())
    assert(ok.filter(col("content_type") === "application/http; msgtype=response").count() == ok.count())

    // request payload: reconstructed GET with Host header
    val req = recs.filter(col("warc_type") === "request").first()
    val reqPayload = new String(req.getAs[Array[Byte]]("payload"), "UTF-8")
    assert(reqPayload.startsWith("GET /"))
    assert(reqPayload.contains("\r\nHost: "))
    assert(req.getAs[String]("content_type") == "application/http; msgtype=request")

    // metadata payload: warc-fields
    val meta = recs.filter(col("warc_type") === "metadata").first()
    assert(new String(meta.getAs[Array[Byte]]("payload"), "UTF-8").contains("fetchTimeMs: "))
    assert(meta.getAs[String]("content_type") == "application/warc-fields")

    // 404s export as 404 responses; no EXCEPTION/RETRY rows leak in
    val fetchedStatuses = store.loadRound(spark, "fetched", 1).get
      .select("protocol_status").distinct().collect().map(_.getString(0)).toSet
    if (fetchedStatuses.contains("NOTFOUND"))
      assert(recs.filter(col("http_status") === 404).count() > 0)
    assert(recs.filter(col("http_status").isNull && col("warc_type") =!= "warcinfo").count() == 0)

    // deterministic re-export: identical record ids (replay-safe sink)
    val again = crawl.exportWarc(1).get
    assert(again.select("record_id").collect().map(_.getString(0)).sorted.toSeq ==
      recs.select("record_id").collect().map(_.getString(0)).sorted.toSeq)
    recs.unpersist()
  }

  test("redirects carry Location; revisit profile appears for not-modified") {
    import spark.implicits._
    val fetched = Seq(
      ("http://a.test/moved", "a.test", "MOVED", 1000L, "text/html", null: Array[Byte], "http://a.test/new", 1),
      ("http://a.test/nm", "a.test", "NOTMODIFIED", 1000L, "text/html", Array[Byte](1), null: String, 1)
    ).toDF("url", "host", "protocol_status", "fetch_time", "mime", "signature", "repr_url", "round")
    val recs = graft.index.WarcExport.records(fetched, None, 1)
    val moved = recs.filter(col("warc_type") === "response").first()
    assert(moved.getAs[Int]("http_status") == 301)
    assert(new String(moved.getAs[Array[Byte]]("payload"), "UTF-8")
      .contains("\r\nLocation: http://a.test/new"))
    val revisit = recs.filter(col("warc_type") === "revisit").first()
    assert(revisit.getAs[String]("warc_profile") == graft.index.WarcExport.RevisitProfile)
    assert(revisit.getAs[Int]("http_status") == 304)
    // revisit payload is headers only (no body after the blank line)
    val rp = new String(revisit.getAs[Array[Byte]]("payload"), "UTF-8")
    assert(rp.endsWith("\r\n\r\n"))
  }

  test("toWarc serializes WARC/1.1 record framing with correct Content-Length") {
    import spark.implicits._
    val fetched = Seq(
      ("http://a.test/p", "a.test", "SUCCESS", 1700000000000L, "text/html", Array[Byte](1), null: String, 1)
    ).toDF("url", "host", "protocol_status", "fetch_time", "mime", "signature", "repr_url", "round")
    val recs = graft.index.WarcExport.records(fetched, None, 1)
    val texts = graft.index.WarcExport.toWarc(recs).collect().map(_.getString(0))
    assert(texts.length == 4) // warcinfo + response + request + metadata
    for (t <- texts) {
      assert(t.startsWith("WARC/1.1\r\n"))
      assert(t.endsWith("\r\n\r\n"))
      val Array(head, rest @ _*) = t.split("\r\n\r\n", 2)
      val contentLength = head.linesIterator
        .find(_.startsWith("Content-Length: ")).get.stripPrefix("Content-Length: ").toInt
      val payload = rest.head.stripSuffix("\r\n\r\n")
      assert(payload.getBytes("UTF-8").length == contentLength,
        s"Content-Length must match payload bytes in:\n$head")
      assert(head.contains("WARC-Record-ID: <urn:uuid:"))
      assert(head.contains("WARC-Date: 2023-11-14T22:13:20Z") || head.contains("WARC-Date: 1970-01-01T00:00:00Z"))
    }
    val req = texts.find(_.contains("WARC-Type: request")).get
    assert(req.contains("WARC-Concurrent-To: <urn:uuid:"))
    assert(req.contains("Content-Type: application/http; msgtype=request"))
  }

  test("fromWarc round-trips the serialized records (reader direction)") {
    import spark.implicits._
    val fetched = Seq(
      ("http://a.test/p", "a.test", "SUCCESS", 1700000000000L, "text/html", Array[Byte](1), null: String, 1),
      ("http://a.test/nm", "a.test", "NOTMODIFIED", 1700000000000L, "text/html", Array[Byte](2), null: String, 1)
    ).toDF("url", "host", "protocol_status", "fetch_time", "mime", "signature", "repr_url", "round")
    val recs = graft.index.WarcExport.records(fetched, None, 1).cache()
    val back = graft.index.WarcExport.fromWarc(graft.index.WarcExport.toWarc(recs)).cache()
    assert(back.count() == recs.count())
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("record_id", "warc_type", "target_uri", "date", "content_type",
        "payload_digest", "warc_profile")
        .collect().map(r => r.getString(0) -> r.toSeq.toList).toMap
    val orig = keyed(recs)
    val parsed = keyed(back)
    assert(parsed == orig, "every named field must survive serialize→parse")
    // payload bytes identical
    val origPayloads = recs.select("record_id", "payload").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    back.select("record_id", "payload").collect().foreach { r =>
      assert(new String(r.getAs[Array[Byte]](1), "UTF-8") == origPayloads(r.getString(0)))
    }
    // content_length matches the re-encoded payload
    assert(back.filter(expr("content_length != length(payload)")).count() == 0)
    recs.unpersist(); back.unpersist()
  }

  test("ARC import: container records re-enter the engine as parsed fetched pages") {
    import spark.implicits._
    def rec(url: String, mime: String, payload: String): String =
      s"$url 10.0.0.1 20231114221320 $mime ${payload.getBytes("UTF-8").length}\n$payload\n\n"
    val html = "<html><body>hello <a href=\"/next.html\">go</a></body></html>"
    val container =
      rec("filedesc://archive-1.arc", "text/plain", "1 0 InternetArchive") +
      rec("http://arc.fix.test/page.html", "text/html", html) +
      rec("http://arc.fix.test/note.txt", "text/plain", "plain  text here") +
      rec("ftp://dropped.test/x", "text/plain", "filtered scheme") // url filter drops
    val pages = graft.index.ArcImport
      .toFetched(Seq(container).toDS(), CrawlConfig(), round = 7).collect()
    assert(pages.length == 2, s"filedesc + filtered records must be skipped: ${pages.map(_.url).toSeq}")
    val byUrl = pages.map(p => p.url -> p).toMap
    val htmlPage = byUrl("http://arc.fix.test/page.html")
    assert(htmlPage.status == graft.schema.CrawlStatus.FETCH_SUCCESS && htmlPage.round == 7)
    assert(htmlPage.fetch_time == 1700000000000L) // 20231114221320 UTC
    assert(htmlPage.spans == Seq(
      graft.schema.Span("text", "hello", null, 0),
      graft.schema.Span("link", "go", "http://arc.fix.test/next.html", 1)),
      s"archived HTML must parse like a live fetch: ${htmlPage.spans}")
    assert(htmlPage.signature != null)
    assert(byUrl("http://arc.fix.test/note.txt").spans ==
      Seq(graft.schema.Span("text", "plain text here", null, 0)))
    // archived URLs take the configured URL chain like fetched ones
    val denyNote = CrawlConfig(extraUrlFilters =
      Seq(graft.url.PrefixUrlFilter(Seq("http://arc.fix.test/note"), deny = true)))
    assert(graft.index.ArcImport.toFetched(Seq(container).toDS(), denyNote, round = 7)
      .collect().map(_.url).toSeq == Seq("http://arc.fix.test/page.html"))
    // malformed tail is ignored, parsed prefix kept
    val broken = rec("http://a.fix.test/ok.html", "text/html", "<body>x</body>") +
      "http://bad.test NOHEADER\n"
    assert(graft.index.ArcImport.parseArc(broken).map(_.url) == Seq("http://a.fix.test/ok.html"))
  }

  test("ARC framing is byte-exact: multi-byte payloads do not shift the frame") {
    def rec(url: String, mime: String, payload: String): String =
      s"$url 10.0.0.1 20231114221320 $mime ${payload.getBytes("UTF-8").length}\n$payload\n\n"
    // é is 2 UTF-8 bytes, 中/文 are 3 each: byte length > char length, so the
    // old char-sliced framing would misalign and drop records b and c
    val p1 = "café 中文 multi-byte content"
    assert(p1.getBytes("UTF-8").length > p1.length)
    val container =
      rec("http://mb.fix.test/a.txt", "text/plain", p1) +
      rec("http://mb.fix.test/b.txt", "text/plain", "plain ascii after") +
      rec("http://mb.fix.test/c.html", "text/html", "<body>énd</body>")
    val parsed = graft.index.ArcImport.parseArc(container.getBytes("UTF-8"))
    assert(parsed.skippedBytes == 0L)
    assert(parsed.records.map(_.url) == Seq("http://mb.fix.test/a.txt",
      "http://mb.fix.test/b.txt", "http://mb.fix.test/c.html"),
      s"all records after a multi-byte payload must be framed: ${parsed.records.map(_.url)}")
    assert(new String(parsed.records.head.payload, "UTF-8") == p1)
    assert(new String(parsed.records(2).payload, "UTF-8") == "<body>énd</body>")
    // abandoned tail bytes are COUNTED, not silently dropped
    val truncated = rec("http://mb.fix.test/ok.txt", "text/plain", "fine") +
      "http://bad.test NOHEADER\nleftover"
    val pt = graft.index.ArcImport.parseArc(truncated.getBytes("UTF-8"))
    assert(pt.records.map(_.url) == Seq("http://mb.fix.test/ok.txt"))
    assert(pt.skippedBytes > 0, "malformed tail must be accounted as skipped bytes")
  }

  test("gzipped ARC containers (per-record members) import transparently") {
    import spark.implicits._
    def rec(url: String, mime: String, payload: String): String =
      s"$url 10.0.0.1 20231114221320 $mime ${payload.getBytes("UTF-8").length}\n$payload\n\n"
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close(); bos.toByteArray
    }
    // real .arc.gz layout: one gzip MEMBER per record, concatenated
    val members = gz(rec("filedesc://archive.arc", "text/plain", "1 0 IA")) ++
      gz(rec("http://gz.fix.test/a.html", "text/html", "<body>first café</body>")) ++
      gz(rec("http://gz.fix.test/b.txt", "text/plain", "second"))
    val pages = graft.index.ArcImport
      .toFetchedBytes(Seq(members).toDS(), CrawlConfig(), round = 3).collect()
    assert(pages.map(_.url).toSeq ==
      Seq("http://gz.fix.test/a.html", "http://gz.fix.test/b.txt"),
      s"multi-member gzip container must frame all records: ${pages.map(_.url).toSeq}")
    assert(pages.head.spans == Seq(graft.schema.Span("text", "first café", null, 0)))
    // plain containers still pass through untouched
    val plain = graft.index.ArcImport.gunzipIfNeeded("not gzip".getBytes("UTF-8"))
    assert(new String(plain, "UTF-8") == "not gzip")
    // a CORRUPT gzip container yields zero records + its bytes in the skip
    // lineage — it must not fail the import task
    val corrupt: Array[Byte] = Array(0x1f.toByte, 0x8b.toByte, 9, 9, 9, 9, 9, 9)
    val acc = spark.sparkContext.longAccumulator("corrupt-gz")
    val none = graft.index.ArcImport
      .toFetchedBytes(Seq(corrupt).toDS(), CrawlConfig(), 3, Some(acc)).collect()
    assert(none.isEmpty && acc.value == corrupt.length.toLong)
  }

  test("importArc maintains the URL-seen bloom (superset invariant, no duplicate rows)") {
    import spark.implicits._
    val root = tmp()
    val cfgB = cfg.copy(useSeenBloom = true)
    val crawl = Crawl(spark, root, cfgB, graft.fetch.SyntheticFetcher(web, 5))
    crawl.inject(web.seedUrls.toDS())
    crawl.round() // establishes the seen_bloom blob
    def rec(url: String, mime: String, payload: String): String =
      s"$url 10.0.0.1 20231114221320 $mime ${payload.getBytes("UTF-8").length}\n$payload\n\n"
    // archive real fixture pages: both the page and its outlink are URLs the
    // live crawl can rediscover as outlinks in later rounds
    val archived = web.pageUrl(2, 1)
    val linked = web.pageUrl(2, 2)
    val stats = crawl.importArc(Seq(rec(archived, "text/html",
      s"""<html><body>archived <a href="$linked">next</a></body></html>""")).toDS())
    // the committed bloom must be a superset of the frontier the import changed
    val sf = graft.seen.UrlSeen.fromBytes(spark, crawl.store.loadBlob("seen_bloom").get)
    val hashes = crawl.frontier.select("url_hash").collect().map(_.getLong(0))
    assert(hashes.forall(sf.mightContain),
      "importArc must merge imported page+outlink hashes into the seen bloom")
    assert(crawl.store.current("seen_bloom").get.round == stats.round)
    // and the per-URL key invariant holds through subsequent live rounds
    crawl.rounds(2)
    val urls = crawl.frontier.select("url").collect().map(_.getString(0))
    assert(urls.length == urls.distinct.length,
      s"frontier must stay unique per url after import + rediscovery rounds " +
      s"(dups: ${urls.diff(urls.distinct).take(5).toSeq})")
  }

  test("Crawl.importArc merges an archive into the frontier and the crawl continues") {
    import spark.implicits._
    val root = tmp()
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 5))
    crawl.inject(web.seedUrls.toDS())
    def rec(url: String, mime: String, payload: String): String =
      s"$url 10.0.0.1 20231114221320 $mime ${payload.getBytes("UTF-8").length}\n$payload\n\n"
    // archive a page of the synthetic web pointing at another page
    val archived = web.pageUrl(1, 3)
    val target = web.pageUrl(1, 4)
    // one record, then a tail the reader abandons (no ARC header line)
    val container = rec(archived, "text/html",
      s"""<html><body>archived <a href="$target">next</a></body></html>""") +
      "http://bad.test NOHEADER\nleftover"
    val stats = crawl.importArc(Seq(container).toDS())
    assert(stats.fetchedPages == 1)
    val rows = crawl.frontier.collect().map(r =>
      r.getAs[String]("url") -> r.getAs[Byte]("status")).toMap
    assert(rows(archived) == graft.schema.CrawlStatus.DB_FETCHED,
      "archived page must enter as db_fetched")
    assert(rows(target) == graft.schema.CrawlStatus.DB_UNFETCHED,
      "the archive's outlink must enter as db_unfetched")
    // fetched/parsed segments committed for the import round
    assert(crawl.fetched(stats.round).get.count() == 1)
    assert(crawl.parsed(stats.round).get.count() == 1)
    // an import is a round: a real parsed count, the archive head's stage
    // and the round tail's stages
    assert(stats.parsedDocs == crawl.parsed(stats.round).get.count())
    val stages = Seq("import+write", "parse+write", "updatedb_materialize",
      "updatedb+dedup+write", "seen_bloom", "hostdb")
    assert(stages.forall(stats.stageMs.contains), s"stages: ${stats.stageMs.keys}")
    // the abandoned tail's bytes ride the round's single metrics append
    val metricFiles = new java.io.File(root, "round_metrics").list().toSet
    assert(metricFiles == Set(s"r${stats.round}-round"), s"metrics appends: $metricFiles")
    val skipped = crawl.metrics.get.filter(col("stage") === "arc_skipped_bytes").collect()
    assert(skipped.length == 1 && skipped.head.getAs[Long]("input_rows") > 0)
    // and a normal crawl round continues on top of the imported state
    val after = crawl.round()
    assert(after.round == stats.round + 1)
    assert(after.frontierSize >= stats.frontierSize)
    // the `importarc` verb on a fresh store: no frontier yet, so the import
    // is round 1 and its frontier is the page plus its outlink
    val fresh = Crawl(spark, tmp(), cfg, graft.fetch.SyntheticFetcher(web, 5))
      .importArc(Seq(container).toDS())
    assert((fresh.round, fresh.fetchedPages, fresh.frontierSize) == ((1, 1L, 2L)))
  }

  test("importWarc: WARC response records re-enter as a crawl round (ingestion direction)") {
    import spark.implicits._
    def warcRec(wtype: String, url: String, httpPayload: String): String = {
      val p = httpPayload
      s"WARC/1.1\r\nWARC-Type: $wtype\r\nWARC-Record-ID: <urn:uuid:t-$wtype-${url.hashCode}>\r\n" +
      s"WARC-Date: 2023-11-14T22:13:20Z\r\nWARC-Target-URI: $url\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${p.getBytes("UTF-8").length}\r\n\r\n$p\r\n\r\n"
    }
    val okUrl = web.pageUrl(1, 3)
    val target = web.pageUrl(1, 4)
    val records = Seq(
      warcRec("response", okUrl,
        "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
        s"""<html><body>archived <a href="$target">next</a></body></html>"""),
      warcRec("response", "http://arc.fix.test/gone",
        "HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n"), // non-200: skipped
      warcRec("request", okUrl, "GET / HTTP/1.1\r\nHost: x\r\n\r\n")  // non-response: skipped
    )
    val root = tmp()
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 5))
    crawl.inject(web.seedUrls.toDS())
    val stats = crawl.importWarc(records.toDS())
    assert(stats.fetchedPages == 1, "only the 200 response record re-enters")
    val rows = crawl.frontier.collect().map(r =>
      r.getAs[String]("url") -> r.getAs[Byte]("status")).toMap
    assert(rows(okUrl) == graft.schema.CrawlStatus.DB_FETCHED)
    assert(rows(target) == graft.schema.CrawlStatus.DB_UNFETCHED,
      "the archived page's outlink must merge into the frontier")
    assert(!rows.contains("http://arc.fix.test/gone"))
    // spans parsed through the real HTML path, fetch time from WARC-Date
    val page = crawl.parsed(stats.round).get.filter(
      org.apache.spark.sql.functions.col("doc_id") === okUrl)
      .selectExpr("explode(spans) as s").select("s.kind", "s.text", "s.media_ref")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(page == Seq(("text", "archived", null), ("link", "next", target)))
    assert(crawl.fetched(stats.round).get.first().getAs[Long]("fetch_time") == 1700000000000L)

    // bare-body payloads (producers that store content without an HTTP
    // wrapper) import WHOLE — nothing is discarded as fake headers
    val bareUrl = web.pageUrl(2, 3)
    val bare = warcRec("response", bareUrl,
      "first line of a bare body\r\n\r\nsecond part after a blank line")
    val stats2 = crawl.importWarc(Seq(bare).toDS())
    assert(stats2.fetchedPages == 1)
    val bareText = crawl.parsed(stats2.round).get
      .selectExpr("explode(spans) as s").select("s.text").first().getString(0)
    assert(bareText.contains("first line") && bareText.contains("second part"),
      s"bare body must import whole: $bareText")

    // HTTP/2-style status lines parse ("HTTP/2 200", no minor version);
    // HTTP payloads whose status line cannot be parsed are SKIPPED, not
    // imported as fake successes
    val h2Url = web.pageUrl(3, 3)
    val h2 = warcRec("response", h2Url,
      "HTTP/2 200\r\nContent-Type: text/html\r\n\r\n<html><body>h2 page</body></html>")
    val mangled = warcRec("response", "http://arc.fix.test/mangled",
      "HTTP/mangled status line\r\n\r\nnot a real capture")
    val h2NotFound = warcRec("response", "http://arc.fix.test/h2gone",
      "HTTP/2 404\r\nContent-Type: text/html\r\n\r\ngone")
    val stats3 = crawl.importWarc(Seq(h2, mangled, h2NotFound).toDS())
    assert(stats3.fetchedPages == 1, "only the HTTP/2 200 record re-enters")
    val rows3 = crawl.frontier.collect().map(r => r.getAs[String]("url")).toSet
    assert(rows3.contains(h2Url))
    assert(!rows3.contains("http://arc.fix.test/mangled"))
    assert(!rows3.contains("http://arc.fix.test/h2gone"))
  }

  test("importArc with a SATURATED session-cached bloom rebuilds without double-destroy") {
    import spark.implicits._
    // capacity 32 << frontier: the bloom saturates during the crawl and the
    // import's maintenance path must rebuild (not crash on a destroyed
    // broadcast) — regression for the cacheFor/superseded double-destroy
    val root = tmp()
    val cfgS = cfg.copy(useSeenBloom = true, bloomExpectedItems = 32)
    val crawl = Crawl(spark, root, cfgS, graft.fetch.SyntheticFetcher(web, 5))
    crawl.inject(web.seedUrls.toDS())
    crawl.round() // bloom committed; approxInserted > 32 ⇒ saturated in cache
    def rec(url: String, payload: String): String =
      s"$url 10.0.0.1 20231114221320 text/html ${payload.getBytes("UTF-8").length}\n$payload\n\n"
    val stats = crawl.importArc(Seq(rec(web.pageUrl(3, 1),
      "<html><body>ok</body></html>")).toDS()) // must not throw
    assert(stats.fetchedPages == 1)
    val sf = graft.seen.UrlSeen.fromBytes(spark, crawl.store.loadBlob("seen_bloom").get)
    val hashes = crawl.frontier.select("url_hash").collect().map(_.getLong(0))
    assert(hashes.forall(sf.mightContain), "rebuilt bloom must cover the frontier")
    // and the NEXT regular round still runs cleanly on the rebuilt cache
    assert(crawl.round().frontierSize > 0)
  }

  test("CDX export: one row per capture, SURT urlkey, and url → CDX → WARC-record round-trip") {
    import spark.implicits._
    val root = tmp()
    CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 5))
    val recs = crawl.exportWarc(1).get.cache()
    val idx = crawl.exportCdx(1, nFiles = 3).get.cache()

    // exactly one CDX row per response/revisit capture; no request/metadata/
    // warcinfo rows leak into the index
    val captures = recs.filter(col("warc_type").isin("response", "revisit"))
    assert(idx.count() == captures.count() && idx.count() > 0)
    // committed as the per-round cdx table
    assert(crawl.store.loadRound(spark, "cdx", 1).get.count() == idx.count())

    // fields derive from the same columns: urlkey = SURT, 14-digit timestamp,
    // status/digest as recorded
    val one = idx.filter(col("status") === 200).first()
    assert(one.getAs[String]("urlkey") == graft.url.Urls.surt(one.getAs[String]("url")))
    assert(one.getAs[String]("urlkey").matches("test,fix,host-\\d+\\)/.*"))
    assert(one.getAs[String]("cdx_timestamp").matches("\\d{14}"))
    assert(one.getAs[String]("digest").startsWith("md5:"))

    // offset/length round-trip: slicing the shard's bytes at [offset,
    // offset+length) yields exactly the capture's WARC record
    val layout = graft.index.Cdx.layout(recs, 3, "warc-r1")
    val files = graft.index.Cdx.fileContents(layout).collect()
      .map(r => r.getString(0) -> r.getString(1).getBytes("UTF-8")).toMap
    idx.orderBy("urlkey").collect().take(12).foreach { r =>
      val bytes = files(r.getAs[String]("filename"))
      val off = r.getAs[Long]("offset").toInt
      val len = r.getAs[Long]("length").toInt
      val slice = new String(bytes.slice(off, off + len), "UTF-8")
      val parsed = graft.index.WarcExport.fromWarc(Seq(slice).toDS().toDF("value")).first()
      assert(parsed.getAs[String]("record_id") == r.getAs[String]("record_id"),
        s"sliced record must be the indexed capture at ${r.getAs[String]("url")}")
      assert(parsed.getAs[String]("target_uri") == r.getAs[String]("url"))
    }
    // the layout tiles each shard exactly: no gaps, no overlaps
    val tiling = layout.groupBy("filename")
      .agg(max(col("offset") + col("length")).as("end"), sum("length").as("total"))
      .filter(col("end") =!= col("total")).count()
    assert(tiling == 0, "per-shard offsets must tile the file exactly")

    // CDX text lines render the classic field order
    val line = graft.index.Cdx.toCdxLines(idx).first().getString(0)
    assert(line.split(" ").length == 9, s"9 CDX fields expected: $line")
    recs.unpersist(); idx.unpersist()
  }

  test("surt urlkey: reversed host, www strip, sorted query, lowercase") {
    import graft.url.Urls.surt
    assert(surt("http://www.Example.COM/Path/Page?b=2&a=1") == "com,example)/path/page?a=1&b=2")
    assert(surt("https://a.b.example.co.uk/") == "uk,co,example,b,a)/")
    assert(surt("http://example.com") == "com,example)/")
    assert(surt("http://example.com/x?") == "com,example)/x")
    assert(surt("not a url") == null)
    // non-default ports stay in the urlkey; default ports are dropped
    assert(surt("http://example.com:8080/a") == "com,example:8080)/a")
    assert(surt("http://example.com:80/a") == "com,example)/a")
    assert(surt("https://example.com:443/a") == "com,example)/a")
    assert(surt("https://example.com:80/a") == "com,example:80)/a")
    assert(graft.url.Urls.portOf("http://example.com:8080/a") == 8080)
    assert(graft.url.Urls.portOf("http://example.com/a") == -1)
  }

  test("WarcIndexWriter writes per-round parquet records") {
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val crawl = Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 5))
    val recs = crawl.exportWarc(1).get
    val out = tmp()
    graft.index.WarcIndexWriter(out).write(recs, 1)
    val back = spark.read.parquet(s"$out/r1")
    assert(back.count() == recs.count())
    assert(back.columns.toSet == recs.columns.toSet)
  }
}
