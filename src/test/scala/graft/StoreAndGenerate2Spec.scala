package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.CrawlRound
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.schema.{CrawlStatus, FrontierEntry}
import graft.store.SnapshotStore

/** Round-2 store + generator semantics: monotonic-round commit guard,
  * mid-crawl inject preserving the checkpoint and history, generator
  * segment spill (generate.max.num.segments), hostdb failure counters and
  * the exception throttle, and the honored parse knobs. */
class StoreAndGenerate2Spec extends AnyFunSuite with SparkSpecBase {

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft-r2").toString

  val web = SyntheticWeb(WebConfig(nHosts = 8, pagesPerHost = 12, hotFactor = 4))
  val cfg = CrawlConfig(topN = 300, maxPerHost = 40, numFetchPartitions = 4,
    serverDelayMs = 500, fetchLatencyMs = 10)

  test("commit rejects a round rewind; resetTo + allowRewind replays history") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val df = Seq((1, "a")).toDF("k", "v")
    store.commit("t", df, 3)
    intercept[IllegalArgumentException] { store.commit("t", df, 1) }
    store.commit("t", df, 1, allowRewind = true) // deliberate replay path works
    assert(store.current("t").get.round == 1)
  }

  test("mid-crawl inject keeps the checkpoint round and historical snapshots") {
    import spark.implicits._
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 2, root)
    assert(store.lastCompletedRound.contains(2))
    val r1Before = store.loadRound(spark, "frontier", 1).get.count()
    val sizeBefore = store.load(spark, "frontier").get.count()

    // inject fresh seeds mid-crawl: new URLs on a brand-new host
    val newSeeds = (1 to 5).map(i => s"http://late-host.fix.test/p$i")
    CrawlRound.inject(spark, store, newSeeds.toDS(), cfg, 1700000000000L + 12345)

    // checkpoint did NOT rewind; next crawl continues at round 3
    assert(store.lastCompletedRound.contains(2))
    // history intact (r1 snapshot unchanged)
    assert(store.loadRound(spark, "frontier", 1).get.count() == r1Before)
    // merged frontier visible with the new rows
    val after = store.load(spark, "frontier").get
    assert(after.count() == sizeBefore + 5)
    assert(after.filter(col("host") === "late-host.fix.test").count() == 5)
    // previously-fetched rows keep their state (no time-base rewind)
    val fetchedStates = after.filter(col("status") === CrawlStatus.DB_FETCHED.toInt).count()
    assert(fetchedStates > 0)
  }

  test("generator segment spill: hot host gets ≤ maxPerHost per segment, up to maxNumSegments") {
    import spark.implicits._
    val now = 1700000000000L
    def entry(url: String, score: Float): FrontierEntry = {
      val host = graft.url.Urls.hostOf(url)
      FrontierEntry(url, graft.url.Urls.hash64(url), host,
        graft.url.Urls.registeredDomainOf(host), CrawlStatus.DB_UNFETCHED,
        now - 1000, 0, 2592000, score, null, 0L, null, -1L, Map.empty)
    }
    // one hot host with 100 due URLs, one small host with 5
    val rows = (1 to 100).map(i => entry(s"http://hot.fix.test/p$i", 100f - i)) ++
      (1 to 5).map(i => entry(s"http://cold.fix.test/p$i", 50f))
    val frontier = spark.createDataset(rows)
    val c = CrawlConfig(topN = 1000, maxPerHost = 20, numFetchPartitions = 1, maxNumSegments = 3)

    val (fetchlist, _) = graft.generate.Generator.generate(frontier, c, now, 1)
    val tasks = fetchlist.collect()
    val hot = tasks.filter(_.host == "hot.fix.test")
    assert(hot.length == 60, s"3 segments × 20 = 60 hot URLs, got ${hot.length}")
    val perSeg = hot.groupBy(_.segment).view.mapValues(_.length).toMap
    assert(perSeg == Map(0 -> 20, 1 -> 20, 2 -> 20), s"per-segment caps: $perSeg")
    // highest-score URLs fill segment 0 first (score-ordered spill)
    assert(hot.filter(_.segment == 0).map(_.score).min >=
           hot.filter(_.segment == 2).map(_.score).max)
    // single-segment default: over-cap rows wait a round
    val (fl1, _) = graft.generate.Generator.generate(frontier, c.copy(maxNumSegments = 1), now, 1)
    assert(fl1.collect().count(_.host == "hot.fix.test") == 20)
  }

  test("hostdb failure counters accumulate and the generator throttle skips bad hosts") {
    import spark.implicits._
    val root = tmp()
    // a web where some hosts 5xx often enough to count
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 2, root)
    val hs = store.load(spark, "host_stats").get
    assert(hs.columns.contains("exceptions") && hs.columns.contains("robots_denied"))
    // denied hosts (robots deny-all fixture class) show robots_denied > 0
    val deniedHosts = (0 until web.cfg.nHosts).map(web.hostName)
      .filter(h => web.robots(h) == graft.fixtures.RobotsPolicy.DenyAll)
    if (deniedHosts.nonEmpty) {
      val counts = hs.filter(col("host").isin(deniedHosts: _*))
        .select(sum("robots_denied")).collect()(0).getLong(0)
      assert(counts > 0, "robots-denied fetches must be tallied per host")
    }

    // throttle: mark one host as failure-heavy, generator must skip it
    val now = 1700000000000L
    def entry(url: String): FrontierEntry = {
      val host = graft.url.Urls.hostOf(url)
      FrontierEntry(url, graft.url.Urls.hash64(url), host,
        graft.url.Urls.registeredDomainOf(host), CrawlStatus.DB_UNFETCHED,
        now - 1000, 0, 2592000, 1f, null, 0L, null, -1L, Map.empty)
    }
    val frontier = spark.createDataset(
      (1 to 10).map(i => entry(s"http://flaky.fix.test/p$i")) ++
      (1 to 10).map(i => entry(s"http://good.fix.test/p$i")))
    val bad = Seq("flaky.fix.test").toDF("host")
    val c = CrawlConfig(topN = 100, maxPerHost = 50, numFetchPartitions = 1)
    val (fl, _) = graft.generate.Generator.generate(frontier, c, now, 1, Map.empty, Some(bad))
    val hosts = fl.collect().map(_.host).toSet
    assert(hosts == Set("good.fix.test"))
  }

  test("hostdb failure counters reset on a successful round: the throttle is recoverable") {
    import spark.implicits._
    val now = 1700000000000L
    def entry(url: String): FrontierEntry = {
      val host = graft.url.Urls.hostOf(url)
      FrontierEntry(url, graft.url.Urls.hash64(url), host,
        graft.url.Urls.registeredDomainOf(host), CrawlStatus.DB_UNFETCHED,
        now - 1000, 0, 2592000, 1f, null, 0L, null, -1L, Map.empty)
    }
    val frontier = spark.createDataset(
      (1 to 5).map(i => entry(s"http://flaky.rec.test/p$i")))
    def pages(statuses: (String, Int)*): org.apache.spark.sql.DataFrame =
      statuses.flatMap { case (s, n) => Seq.fill(n)(("flaky.rec.test", s)) }
        .toDF("host", "protocol_status")

    // round 1: five exceptions, no success → counter 5 (crosses threshold 3)
    val r1 = graft.frontier.HostDb.fromFrontier(frontier, now,
      Some(pages("EXCEPTION" -> 5))).toDF()
    assert(r1.select("exceptions").head.getLong(0) == 5L)
    val c = CrawlConfig(topN = 100, maxPerHost = 50, numFetchPartitions = 1,
      skipHostsWithExceptions = 3)
    val bad1 = r1.filter(col("exceptions") > c.skipHostsWithExceptions).select("host")
    val (fl1, _) = graft.generate.Generator.generate(frontier, c, now, 1, Map.empty, Some(bad1))
    assert(fl1.collect().isEmpty, "host above the exception threshold must be skipped")

    // round 2: still failing with no success → counters accumulate (5 + 2)
    val r2 = graft.frontier.HostDb.fromFrontier(frontier, now,
      Some(pages("EXCEPTION" -> 2)), prev = Some(r1)).toDF()
    assert(r2.select("exceptions").head.getLong(0) == 7L)

    // round 3: one successful fetch → counters RESET to this round's values
    // (reference hostdb/ResolverThread.java:78-106 zeroes on success)
    val r3 = graft.frontier.HostDb.fromFrontier(frontier, now,
      Some(pages("SUCCESS" -> 1, "EXCEPTION" -> 1)), prev = Some(r2)).toDF()
    assert(r3.select("exceptions").head.getLong(0) == 1L,
      "a successful round must restart the tally at the round's own failures")
    val bad3 = r3.filter(col("exceptions") > c.skipHostsWithExceptions).select("host")
    val (fl3, _) = graft.generate.Generator.generate(frontier, c, now, 3, Map.empty, Some(bad3))
    assert(fl3.collect().nonEmpty, "recovered host must be generated again")
  }

  test("parse honors maxOutlinkLength and ignoreExternalLinks") {
    import spark.implicits._
    val longUrl = "http://ext.fix.test/" + ("x" * 300)
    val page = graft.fetch.FetchedPage(
      "http://a.fix.test/src", graft.url.Urls.hash64("http://a.fix.test/src"),
      "a.fix.test", CrawlStatus.FETCH_SUCCESS, "SUCCESS", 1700000000000L,
      "text/html", null, null, 0, 2592000, 1f, 1,
      Seq(
        graft.schema.Span("link", "in", "http://a.fix.test/other", 0),
        graft.schema.Span("link", "ext", "http://b.fix.test/far", 1),
        graft.schema.Span("link", "long", longUrl, 2)))
    val pages = spark.createDataset(Seq(page))

    val base = CrawlConfig(maxOutlinkLength = 100)
    val all = graft.parse.Parse.linkedUpdates(pages, base, 1).collect().map(_.url).toSet
    assert(all == Set("http://a.fix.test/other", "http://b.fix.test/far"),
      s"over-long outlink must be dropped: $all")

    val internalOnly = graft.parse.Parse.linkedUpdates(
      pages, base.copy(ignoreExternalLinks = true), 1).collect().map(_.url).toSet
    assert(internalOnly == Set("http://a.fix.test/other"), s"external must be dropped: $internalOnly")
  }

  test("generate.update.crawldb: stamps persist on pass-through rows only, cleared by fetch/link writes") {
    import spark.implicits._
    // off (reference default): committed frontier carries no _ngt_ stamps
    val (storeOff, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, tmp())
    val gtOff = storeOff.load(spark, "frontier").get
      .select("generate_time").distinct().collect().map(_.getLong(0)).toSet
    assert(gtOff == Set(-1L), s"no stamps expected with the default config: $gtOff")

    // on: the reference clears the generate mark on every fetch/link-driven
    // write (CrawlDbReducer.java:320) and keeps it only on rows written
    // through unchanged. Drive generate + updatedb directly so both classes
    // exist deterministically: 5 selected (2 fetched, 3 still in-flight) + 5
    // never selected.
    val now = 1700000000000L
    def entry(url: String, score: Float): FrontierEntry = {
      val host = graft.url.Urls.hostOf(url)
      FrontierEntry(url, graft.url.Urls.hash64(url), host,
        graft.url.Urls.registeredDomainOf(host), CrawlStatus.DB_UNFETCHED,
        now - 1000, 0, 2592000, score, null, 0L, null, -1L, Map.empty)
    }
    val frontier = spark.createDataset(
      (1 to 10).map(i => entry(s"http://ngt.fix.test/p$i", if (i <= 5) 10f + i else 1f)))
    val c = CrawlConfig(topN = 5, maxPerHost = 50, numFetchPartitions = 1,
      generateUpdateDb = true)
    val (fl, marked) = graft.generate.Generator.generate(frontier, c, now, 1)
    val selected = fl.collect().map(_.url).toSet
    assert(selected.size == 5)
    val fetchedUrls = selected.take(2)
    val fetchRows = spark.createDataset(fetchedUrls.toSeq.map(u =>
      graft.schema.FrontierUpdate(u, "fetch", CrawlStatus.FETCH_SUCCESS, now + 100,
        0, 2592000, 1f, Array[Byte](1, 2), 0L, null, Map.empty)))
    val noLinks = spark.emptyDataset[graft.schema.FrontierUpdate]
    for (columnar <- Seq(false, true)) {
      val out = (if (columnar)
        graft.frontier.UpdateDbColumnar.run(marked, fetchRows, noLinks, c, now + 200)
      else graft.frontier.UpdateDb.run(marked, fetchRows, noLinks, c, now + 200))
        .collect().map(e => e.url -> e.generate_time).toMap
      fetchedUrls.foreach(u => assert(out(u) == -1L,
        s"fetch-updated row must clear _ngt_ (columnar=$columnar): $u -> ${out(u)}"))
      (selected -- fetchedUrls).foreach(u => assert(out(u) == now,
        s"generated-but-unfetched row must keep _ngt_ (columnar=$columnar): $u -> ${out(u)}"))
      out.view.filterKeys(u => !selected.contains(u)).foreach { case (u, gt) =>
        assert(gt == -1L, s"unselected row must stay unstamped (columnar=$columnar): $u -> $gt")
      }
    }
  }

  test("db.parsemeta.to.crawldb: configured keys survive the round trip on both updatedb paths") {
    import spark.implicits._
    val now = 1700000000000L
    val url = "http://pm.fix.test/page"
    val host = graft.url.Urls.hostOf(url)
    val page = graft.fetch.FetchedPage(url, graft.url.Urls.hash64(url), host,
      CrawlStatus.FETCH_SUCCESS, "SUCCESS", now, "text/html; charset=utf-8",
      Array[Byte](1, 2), null, 0, 2592000, 1f, 1,
      Seq(graft.schema.Span("text", "Hello World", null, 0),
        graft.schema.Span("link", "go", "http://pm.fix.test/next", 1)))
    val pages = spark.createDataset(Seq(page))
    val oldEntry = FrontierEntry(url, graft.url.Urls.hash64(url), host,
      graft.url.Urls.registeredDomainOf(host), CrawlStatus.DB_UNFETCHED,
      now - 1000, 0, 2592000, 1f, null, 0L, null, -1L, Map("old_key" -> "kept"))
    val frontier = spark.createDataset(Seq(oldEntry))
    val noLinks = spark.emptyDataset[graft.schema.FrontierUpdate]

    // default: no configured keys → no metadata allocated on the hot path
    val plain = graft.parse.Parse.fetchUpdates(pages, CrawlConfig()).head()
    assert(plain.metadata.isEmpty)

    val c = CrawlConfig(parseMetaToCrawlDb = Seq("mime", "n_spans", "title"))
    val updates = graft.parse.Parse.fetchUpdates(pages, c)
    for (columnar <- Seq(false, true)) {
      val out = (if (columnar) graft.frontier.UpdateDbColumnar.run(frontier, updates, noLinks, c, now)
                 else graft.frontier.UpdateDb.run(frontier, updates, noLinks, c, now)).collect()
      assert(out.length == 1)
      val meta = out.head.metadata
      assert(meta("mime") == "text/html", s"columnar=$columnar: $meta")
      assert(meta("n_spans") == "2")
      assert(meta("title") == "Hello World")
      assert(meta("old_key") == "kept", "old metadata must merge through (fetch wins on conflict)")
      assert(!meta.contains("content_type"), "unconfigured keys must not ride along")
    }
  }

  test("resetTo an earlier round then continuing the crawl replays cleanly (bloom on)") {
    import spark.implicits._
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 3, root)
    store.resetTo("frontier", 1) // rewind two rounds; seen_bloom's current snapshot is at r3
    val fetcher = graft.fetch.SyntheticFetcher(web, 10)
    val stats = CrawlRound.crawl(spark, store, fetcher, cfg, 2, 1700000000000L)
    assert(stats.map(_.round) == Seq(2, 3))
    assert(store.lastCompletedRound.contains(3))
    assert(store.load(spark, "frontier").get.count() > 0)
  }

  test("filterAndNormalize commits as a NEW round (source snapshot untouched)") {
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val crawl = graft.cli.Crawl(spark, root, cfg, graft.fetch.SyntheticFetcher(web, 10))
    val before = store.loadRound(spark, "frontier", 1).get.count()
    crawl.filterAndNormalize(purge404 = false)
    assert(store.lastCompletedRound.contains(2))
    assert(store.loadRound(spark, "frontier", 1).get.count() == before)
  }
}
