package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Crawl
import graft.fetch.{Fetcher, ProtocolResponse, Robots}
import graft.frontier.CrawlConfig
import graft.schema.CrawlStatus

/** Serves two RSS feeds that BOTH list the same entry URL, in a
  * non-canonical spelling. Top-level so the task closure ships without the
  * test suite. */
private case class TwoFeedFetcher() extends Fetcher {
  private def rss(self: String): String =
    s"""<?xml version="1.0"?>
       |<rss version="2.0"><channel>
       |<title>$self</title>
       |<item>
       |  <title>Shared</title>
       |  <link>http://Feeds.Test:80/shared/entry</link>
       |  <description>the same story syndicated twice</description>
       |</item>
       |</channel></rss>""".stripMargin
  override def fetch(url: String): ProtocolResponse = url match {
    case "http://feeds.test/a.xml" | "http://feeds.test/b.xml" =>
      ProtocolResponse("SUCCESS", null, null, "application/rss+xml", 5,
        rss(url).getBytes("UTF-8"))
    case _ => ProtocolResponse("NOTFOUND", null, null, null, 5)
  }
  override def robotsRules(host: String): Option[Robots.RobotRules] = Some(Robots.AllowAll)
}

/** Regression: ParseResult sub-document fetch rows must produce exactly ONE
  * frontier row per page in the DEFAULT config (bloom prefilter + columnar
  * updatedb), even when
  *  - the entry URL is brand-new (bloom miss) AND also present as a
  *    discovered link span (the direct-new fast path must route it back to
  *    the join, not build a second row), and
  *  - TWO containers fetched in the same round both emit a fetch row for it
  *    (the one-fetch-row-per-URL dedup must fire for multi-doc fetchers), and
  *  - the feed spells the URL non-canonically (fetch side must canonicalize
  *    external sub-doc URLs exactly like the link side). */
class SubDocRoundSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-subdoc").toString

  private def runRound(cfg: CrawlConfig): Map[String, (Byte, Int)] = {
    import spark.implicits._
    val crawl = Crawl(spark, tmp(), cfg, TwoFeedFetcher())
    crawl.inject(Seq("http://feeds.test/a.xml", "http://feeds.test/b.xml").toDS())
    crawl.round()
    crawl.frontier.collect()
      .groupBy(_.getAs[String]("url"))
      .map { case (u, rows) => u -> (rows.head.getAs[Byte]("status"), rows.length) }
  }

  private val base = CrawlConfig(serverDelayMs = 100, fetchLatencyMs = 5, signer = "md5")

  test("columnar + bloom: shared feed entry yields ONE canonical fetched frontier row") {
    val frontier = runRound(base)
    val entry = frontier.get("http://feeds.test/shared/entry")
    assert(entry.isDefined, s"canonical entry row missing: ${frontier.keys.toSeq.sorted}")
    assert(entry.get._2 == 1, s"duplicate frontier rows for the entry: $frontier")
    assert(entry.get._1 == CrawlStatus.DB_FETCHED, "entry content was fetched in-container")
    assert(!frontier.contains("http://Feeds.Test:80/shared/entry"),
      "raw non-canonical spelling must not leak into the frontier")
    assert(frontier.values.forall(_._2 == 1), s"no URL may have two rows: $frontier")
  }

  test("typed updatedb path: same invariants") {
    val frontier = runRound(base.copy(columnarUpdateDb = false))
    assert(frontier.get("http://feeds.test/shared/entry").exists(_._2 == 1))
    assert(frontier.values.forall(_._2 == 1), s"no URL may have two rows: $frontier")
  }

  test("bloom off: exact join path keeps the same single-row invariant") {
    val frontier = runRound(base.copy(useSeenBloom = false))
    assert(frontier.get("http://feeds.test/shared/entry").exists(_._2 == 1))
    assert(frontier.values.forall(_._2 == 1), s"no URL may have two rows: $frontier")
  }

  test("configured URL normalizer plugins: fetch side canonicalizes sub-doc URLs " +
    "with the SAME extra chain as the link side (one frontier row, plugin spelling)") {
    val cfg = base.copy(extraUrlNormalizers =
      Seq(graft.url.RegexRuleNormalizer(Seq("/shared/" -> "/s/"))))
    val frontier = runRound(cfg)
    val entry = frontier.get("http://feeds.test/s/entry")
    assert(entry.isDefined, s"plugin-normalized entry row missing: ${frontier.keys.toSeq.sorted}")
    assert(entry.get._2 == 1, s"duplicate frontier rows for the entry: $frontier")
    assert(entry.get._1 == CrawlStatus.DB_FETCHED, "entry content was fetched in-container")
    assert(!frontier.contains("http://feeds.test/shared/entry"),
      "default-chain spelling must not leak from the fetch side when plugins are configured")
    assert(frontier.values.forall(_._2 == 1), s"no URL may have two rows: $frontier")
  }
}
