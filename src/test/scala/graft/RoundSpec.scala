package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.CrawlRound
import graft.fixtures.{RobotsPolicy, SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.schema.{CrawlStatus, Doc}

/** End-to-end crawl rounds over the synthetic web: span-sequence equality
  * (the per-row invariant vs the reference), politeness in the distributed
  * path, frontier state sanity, and resume-from-checkpoint equivalence. */
class RoundSpec extends AnyFunSuite with SparkSpecBase {

  val web = SyntheticWeb(WebConfig(nHosts = 8, pagesPerHost = 12, hotFactor = 4))
  val cfg = CrawlConfig(topN = 300, maxPerHost = 40, numFetchPartitions = 4,
    serverDelayMs = 500, fetchLatencyMs = 10)

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft-round").toString

  lazy val (store, stats) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 3, tmp())

  test("three rounds run, frontier grows, rows are fetched") {
    assert(stats.size == 3)
    assert(stats.head.generated == web.cfg.nHosts) // round 1 fetches exactly the seeds
    assert(stats.last.frontierSize > stats.head.frontierSize)
    assert(stats.map(_.fetchedPages).sum > 0)
  }

  test("per-row span-sequence equality: parsed spans == reference render (kind, text, media_ref, order)") {
    import spark.implicits._
    val parsed = store.loadRound(spark, "parsed", 1).get
      .select("doc_id", "spans").as[Doc].collect()
    assert(parsed.nonEmpty)
    for (doc <- parsed) {
      val want = web.render(doc.doc_id).spans
      assert(doc.spans == want, s"span sequence mismatch for ${doc.doc_id}")
      assert(doc.spans.map(_.offset) == doc.spans.indices.map(identity), "offsets strictly increasing")
    }
  }

  test("politeness holds in the distributed fetch (round 2: many URLs per host)") {
    val fetched = store.loadRound(spark, "fetched", 2).get
    val rows = fetched
      .filter(col("protocol_status").isin("SUCCESS", "NOTFOUND", "MOVED", "TEMP_MOVED", "EXCEPTION"))
      .select("host", "fetch_time").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byHost = rows.groupBy(_._1)
    assert(byHost.exists(_._2.length > 1), "need at least one host with multiple fetches")
    for ((host, hs) <- byHost if hs.length > 1) {
      val times = hs.map(_._2).sorted
      val minGap = times.zip(times.tail).map { case (a, b) => b - a }.min
      assert(minGap >= cfg.serverDelayMs, s"host $host min gap $minGap < ${cfg.serverDelayMs}")
    }
  }

  test("frontier statuses follow the state machine (no fetch_* statuses persisted)") {
    val frontier = store.load(spark, "frontier").get
    val statuses = frontier.select("status").distinct().collect().map(_.getByte(0)).toSet
    assert(statuses.forall(CrawlStatus.hasDbStatus), s"frontier must hold db statuses only, got $statuses")
  }

  test("robots-denied hosts never appear among fetched pages") {
    val deniedHosts = (0 until web.cfg.nHosts).map(web.hostName)
      .filter(h => web.robots(h) == RobotsPolicy.DenyAll).toSet
    if (deniedHosts.nonEmpty) {
      val fetchedHosts = store.loadRound(spark, "fetched", 2).get
        .filter(col("protocol_status") === "SUCCESS")
        .select("host").distinct().collect().map(_.getString(0)).toSet
      assert(fetchedHosts.intersect(deniedHosts).isEmpty)
    }
  }

  test("duplicate-content trap pages get marked db_duplicate eventually") {
    // run enough rounds on a tiny single-host web to fetch a dup pair
    val web1 = SyntheticWeb(WebConfig(nHosts = 1, pagesPerHost = 24, hotFactor = 1))
    val c = cfg.copy(topN = 100, maxPerHost = 100, numFetchPartitions = 2, serverDelayMs = 10)
    val (st, _) = CrawlRound.syntheticCrawl(spark, web1, c, rounds = 4, tmp())
    val frontier = st.load(spark, "frontier").get
    val dups = frontier.filter(col("status") === CrawlStatus.DB_DUPLICATE).count()
    val fetchedBoth = frontier.filter(col("url").isin(
      "http://host-000.fix.test/page-4", "http://host-000.fix.test/page-5"))
      .select("status").collect().map(_.getByte(0))
    // page-5 renders page-4's text (SyntheticWeb dup trap); if both were
    // fetched, exactly one of the pair must be marked duplicate
    if (fetchedBoth.length == 2 && fetchedBoth.forall(s =>
        s == CrawlStatus.DB_FETCHED || s == CrawlStatus.DB_NOTMODIFIED || s == CrawlStatus.DB_DUPLICATE)) {
      assert(dups >= 1, "signature dedup must mark the duplicate pair")
    }
  }

  test("resume from checkpoint: restart mid-crawl equals uninterrupted run") {
    import spark.implicits._
    val rootA = tmp()
    val rootB = tmp()
    // uninterrupted: 2 rounds in one driver call
    val (sa, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 2, rootA)
    // interrupted: 1 round, then a "new process" resumes from the snapshot log
    val (sb, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, rootB)
    val storeB2 = new graft.store.SnapshotStore(rootB)
    assert(storeB2.lastCompletedRound.contains(1))
    CrawlRound.crawl(spark, storeB2, graft.fetch.SyntheticFetcher(web, cfg.fetchLatencyMs),
      cfg, rounds = 1, startTimeMs = 1700000000000L)

    val fa = sa.load(spark, "frontier").get.select("url", "status", "score", "fetch_time", "retries")
    val fb = storeB2.load(spark, "frontier").get.select("url", "status", "score", "fetch_time", "retries")
    assert(fa.count() == fb.count())
    assert(fa.exceptAll(fb).count() == 0, "resumed frontier must equal uninterrupted frontier")
    assert(fb.exceptAll(fa).count() == 0)
  }

  test("outlink-follow depth integrates with the round loop (unique keys, legal statuses)") {
    val c = cfg.copy(followOutlinksDepth = 1, topN = 100)
    val (st, stats) = CrawlRound.syntheticCrawl(spark, web, c, rounds = 2, tmp())
    // round 1 fetches the seeds PLUS their followed same-host outlinks
    assert(stats.head.fetchedPages > web.cfg.nHosts,
      s"depth 1 must fetch beyond the ${web.cfg.nHosts} seeds: ${stats.head.fetchedPages}")
    val frontier = st.load(spark, "frontier").get
    val urls = frontier.select("url").collect().map(_.getString(0))
    assert(urls.length == urls.distinct.length, "frontier keys stay unique with follow on")
    val statuses = frontier.select("status").distinct().collect().map(_.getByte(0)).toSet
    assert(statuses.forall(CrawlStatus.hasDbStatus), s"db statuses only, got $statuses")
    // followed pages really entered the frontier as fetched state
    import org.apache.spark.sql.functions.col
    val fetchedStates = frontier.filter(col("status").isin(
      CrawlStatus.DB_FETCHED.toInt, CrawlStatus.DB_NOTMODIFIED.toInt,
      CrawlStatus.DB_DUPLICATE.toInt)).count()
    assert(fetchedStates > web.cfg.nHosts, "followed fetches must persist in the frontier")
  }

  test("per-partition lineage metrics recorded for the fetch stage") {
    val m = store.metrics(spark).get.filter(col("stage") === "fetch")
    assert(m.count() > 0)
    val agg = m.agg(sum("fetched_urls")).collect().head.getLong(0)
    assert(agg > 0)
  }
}
