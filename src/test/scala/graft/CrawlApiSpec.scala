package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.Crawl
import graft.fetch.SyntheticFetcher
import graft.fixtures.{RobotsPolicy, SyntheticWeb, WebConfig}
import graft.frontier.{CrawlConfig, HostDb, LinkDb, TextProfileSigner}
import graft.schema.FrontierEntry

/** The programmatic facade + hostdb/linkdb side tables end-to-end. */
class CrawlApiSpec extends AnyFunSuite with SparkSpecBase {

  val web = SyntheticWeb(WebConfig(nHosts = 6, pagesPerHost = 10))
  val cfg = CrawlConfig(topN = 200, maxPerHost = 50, numFetchPartitions = 2,
    serverDelayMs = 100, fetchLatencyMs = 5, invertLinks = true)

  lazy val crawl: Crawl = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-api").toString
    val c = Crawl(spark, root, cfg, SyntheticFetcher(web, cfg.fetchLatencyMs))
    c.inject(web.seedUrls.toDS())
    c.rounds(2)
    c
  }

  test("facade: inject + rounds + inspection verbs") {
    assert(crawl.lastRound == 2)
    assert(crawl.frontier.count() > web.cfg.nHosts)
    assert(crawl.stats.collect().nonEmpty)
    assert(crawl.topN(5).count() == 5)
    assert(crawl.fetched(1).get.count() > 0)
    assert(crawl.parsed(2).get.count() > 0)
    assert(crawl.metrics.get.count() > 0)
    // throughput telemetry: one row per round, fetched totals consistent
    // with the fetched table, positive pages/sec on the politeness clock
    val tp = crawl.throughput.get.collect()
    assert(tp.map(_.getAs[Int]("round")).toSeq == Seq(1, 2))
    val r1 = tp.head
    assert(r1.getAs[Long]("fetched") ==
      crawl.fetched(1).get.filter(org.apache.spark.sql.functions.col("protocol_status") === "SUCCESS").count())
    assert(r1.getAs[Double]("pages_per_sec") > 0)
  }

  test("checkUrl: parsechecker/indexchecker probe — fetch+parse+index one url") {
    val seed = web.seedUrls.head
    val r = crawl.checkUrl(seed,
      graft.index.IndexingFilterChain(Seq(graft.index.BasicFieldsFilter()))).collect().head
    assert(r.getAs[String]("protocol_status") == "SUCCESS")
    assert(r.getAs[String]("mime") == "text/html")
    assert(r.getAs[String]("signature").nonEmpty)
    assert(r.getAs[Int]("n_spans") > 0)
    assert(r.getSeq[String](r.fieldIndex("outlinks")).nonEmpty, "seed page has outlinks")
    assert(r.getAs[String]("host") == graft.url.Urls.hostOf(seed), "index chain ran")
  }

  test("point lookup resolves through canonicalization") {
    val seed = web.seedUrls.head
    val messy = seed.toUpperCase.replace("HTTP://", "HTTP://") + "#frag"
    val hit = crawl.url(seed).collect()
    assert(hit.length == 1 && hit.head.getAs[String]("url") == seed)
  }

  test("host_stats committed and consistent with the frontier") {
    val hs = crawl.hostStats.get
    val fromFrontier = crawl.frontier.groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- hs.collect()) {
      val host = r.getAs[String]("host")
      val total = r.getAs[Long]("unfetched") + r.getAs[Long]("fetched") +
        r.getAs[Long]("not_modified") + r.getAs[Long]("redir_temp") +
        r.getAs[Long]("redir_perm") + r.getAs[Long]("gone")
      // db_duplicate rows are not counted by the six status counters
      assert(total <= fromFrontier(host))
    }
  }

  test("linkdb inversion: inlinks land on real targets, capped, anchors kept") {
    val ldb = crawl.linkDb.get
    assert(ldb.count() > 0)
    val row = ldb.orderBy(desc("n_inlinks")).collect().head
    val inlinks = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("inlinks")
    assert(inlinks.nonEmpty)
    assert(inlinks.forall(_.getAs[String]("from_url").startsWith("http://")))
    assert(row.getAs[Long]("n_inlinks") == inlinks.size)
  }

  test("linkdb cap: over-cap URLs keep exactly maxInlinks") {
    import spark.implicits._
    // synthesize a mega-inlink page
    val pages = (1 to 50).map { i =>
      graft.fetch.FetchedPage(s"http://h$i.fix.test/", 0L, s"h$i.fix.test",
        graft.schema.CrawlStatus.FETCH_SUCCESS, "SUCCESS", 0L, "text/html", null, null,
        0, 100, 1f, 1,
        Seq(graft.schema.Span("link", "a", "http://target.fix.test/popular", 0)))
    }.toDS()
    val ldb = LinkDb.invert(pages, CrawlConfig(maxInlinks = 10))
    val row = ldb.filter(col("url") === "http://target.fix.test/popular").collect().head
    assert(row.getAs[Long]("n_inlinks") == 10)
  }

  test("index export: one searchable row per parsed doc, title = first text span") {
    val idx = crawl.exportIndex(2).get
    val parsedCount = crawl.parsed(2).get.count()
    assert(idx.count() == parsedCount)
    val row = idx.filter(col("url") === "http://host-001.fix.test/").collect().headOption
    row.foreach { r =>
      val wantTitle = web.render("http://host-001.fix.test/").spans.find(_.kind == "text").get.text
      assert(r.getAs[String]("title") == wantTitle)
      assert(r.getAs[String]("host") == "host-001.fix.test")
      assert(r.getAs[String]("text").nonEmpty)
    }
    assert(crawl.store.current("index").isDefined)
  }

  test("bucketed frontier layout: one file per bucket, lookups still exact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val c = Crawl(spark, root, cfg.copy(frontierBuckets = 4, invertLinks = false),
      SyntheticFetcher(web, cfg.fetchLatencyMs))
    c.inject(web.seedUrls.toDS())
    c.rounds(1)
    val dataDir = c.store.current("frontier").get.path
    val parts = new java.io.File(dataDir).listFiles().count(_.getName.startsWith("part-"))
    // bucket ids re-hash through the shuffle, so k ids land in ≤ k partitions
    assert(parts >= 2 && parts <= 4, s"expected 2..4 bucket files, got $parts")
    val seed = web.seedUrls.head
    assert(c.url(seed).count() == 1)
    assert(c.frontier.count() == crawl.store.loadRound(spark, "frontier", 1).get.count())
  }

  test("hot-host salt derived from host stats") {
    import spark.implicits._
    val stats = Seq(
      graft.schema.HostStats("hot.fix.test", 5000, 0, 0, 0, 0, 0, 1f, 0L),
      graft.schema.HostStats("cold.fix.test", 10, 0, 0, 0, 0, 0, 1f, 0L)).toDS()
    val salt = HostDb.hotHostSalt(stats, hotThreshold = 1000, perPartitionTarget = 1000)
    assert(salt == Map("hot.fix.test" -> 5))
  }

  test("SparkEntry.entry crawls the fixture web into url, host, status, score rows") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("url", "host", "status", "score"))
    assert(df.count() > 0)
  }

  test("q_crawl_round's oracle tabulates the fixture web's inputs verbatim") {
    // the oracle's VALUES tables are inputs, pure functions of entry()'s web
    // (this suite's `web`): seeds are the homepages, whose fetch outcome is
    // their host's robots policy (homepages themselves always serve 200)
    val pages = (0 until web.cfg.nHosts).map { h =>
      val host = web.hostName(h)
      val outcome = web.robots(host) match {
        case RobotsPolicy.AllowAll => "success"
        case RobotsPolicy.CrawlDelay(s) => if (s * 1000L > cfg.maxCrawlDelayMs) "gone" else "success"
        case RobotsPolicy.DenyAll => "gone"
        case RobotsPolicy.Unavailable5xx => "retry"
      }
      (web.pageUrl(h, 0), host, outcome)
    }
    val fetched = pages.collect { case (u, _, "success") => u -> web.render(u).spans }
    val tables = Seq(
      "pages(url, host, outcome)" -> pages.map { case (u, h, o) => s"('$u','$h','$o')" },
      // link + media + redirect spans of each successful homepage (≥ 1)
      "counts(from_url, n_all)" -> fetched.map { case (u, spans) =>
        s"('$u',${math.max(spans.count(s => Set("link", "media", "redirect")(s.kind)), 1)})" },
      // one row per link span instance
      "links(from_url, to_url)" -> fetched.flatMap { case (u, spans) =>
        spans.filter(_.kind == "link").map(s => s"('$u','${s.media_ref}')") })
    val oracle = SparkEntry.oracleSql("q_crawl_round").filterNot(_.isWhitespace)
    val stale = tables.filterNot { case (t, rows) =>
      oracle.contains(s"$t AS (VALUES ${rows.mkString(",")})".filterNot(_.isWhitespace)) }
    assert(stale.isEmpty, "q_crawl_round's VALUES no longer match the fixture web; today's rows:\n" +
      stale.map { case (t, rows) => s"$t AS (VALUES\n${rows.mkString(",\n")})" }.mkString("\n"))
    // the oracle models no dedup marking: homepage signatures must differ
    val sigs = fetched.map { case (_, spans) => TextProfileSigner().signSpans(spans).toSeq }
    assert(sigs.distinct.size == sigs.size, "two fixture homepages share a signature")
  }
}
