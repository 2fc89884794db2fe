package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.frontier._
import graft.schema.{CrawlStatus, FetchTask, FrontierEntry}
import graft.url.Urls

class FrontierToolsSpec extends AnyFunSuite with SparkSpecBase {

  val now = 1700000000000L
  def entry(url: String, fetchTime: Long, score: Float = 1f,
            md: Map[String, String] = Map.empty,
            status: Byte = CrawlStatus.DB_FETCHED): FrontierEntry = {
    val host = Urls.hostOf(url)
    FrontierEntry(url, Urls.hash64(url), host, Urls.registeredDomainOf(host),
      status, fetchTime, 0, 2592000, score, null, 0L, null, -1L, md)
  }

  test("mergeDbs: newest fetch_time wins, metadata newer-over-older") {
    import spark.implicits._
    val a = Seq(entry("http://x.fix.test/", 100L, 1f, Map("k" -> "old", "a" -> "1")),
      entry("http://only-a.fix.test/", 5L)).toDS()
    val b = Seq(entry("http://x.fix.test/", 200L, 2f, Map("k" -> "new", "b" -> "2"))).toDS()
    val merged = FrontierTools.mergeDbs(Seq(a, b)).collect().map(e => e.url -> e).toMap
    assert(merged.size == 2)
    val x = merged("http://x.fix.test/")
    assert(x.fetch_time == 200L && x.score == 2f)
    assert(x.metadata == Map("k" -> "new", "a" -> "1", "b" -> "2"))
  }

  test("filterAndNormalize: purges gone, re-canonicalizes, drops filtered") {
    import spark.implicits._
    val db = Seq(
      entry("http://ok.fix.test/a", 1L),
      entry("http://gone.fix.test/", 1L, status = CrawlStatus.DB_GONE),
      entry("http://media.fix.test/x.png", 1L)).toDS()
    val out = FrontierTools.filterAndNormalize(db, CrawlConfig(), purge404 = true).collect()
    assert(out.map(_.url).toSet == Set("http://ok.fix.test/a"))
  }

  test("sampleUrls: deterministic, per-domain and per-host caps hold") {
    import spark.implicits._
    val db = (for (h <- 1 to 4; p <- 1 to 50)
      yield entry(s"http://h$h.example.com/p$p", 1L)).toDS()
    val s1 = FrontierTools.sampleUrls(db, perDomain = 20, perHost = 8, seed = 7).collect()
    val s2 = FrontierTools.sampleUrls(db, perDomain = 20, perHost = 8, seed = 7).collect()
    assert(s1.map(_.getString(0)).sorted.toSeq == s2.map(_.getString(0)).sorted.toSeq)
    val byHost = s1.groupBy(_.getString(1))
    assert(byHost.values.forall(_.length <= 8))
    assert(s1.length <= 20) // all hosts share example.com
    val s3 = FrontierTools.sampleUrls(db, 20, 8, seed = 8).collect()
    assert(s3.map(_.getString(0)).toSet != s1.map(_.getString(0)).toSet) // seed matters
  }

  test("domainStats aggregates hosts and urls per registered domain") {
    import spark.implicits._
    val db = Seq(entry("http://a.x.com/1", 1L), entry("http://b.x.com/2", 1L),
      entry("http://c.y.com/3", 1L)).toDS()
    val stats = FrontierTools.domainStats(db).collect().map(r => r.getString(0) -> r).toMap
    assert(stats("x.com").getLong(1) == 2 && stats("x.com").getLong(2) == 2)
    assert(stats("y.com").getLong(1) == 1)
  }

  test("generator expression filter (the JEXL replacement)") {
    import spark.implicits._
    val db = Seq(entry("http://a.fix.test/", now - 10, 5f, status = CrawlStatus.DB_UNFETCHED),
      entry("http://b.fix.test/", now - 10, 1f, status = CrawlStatus.DB_UNFETCHED)).toDS()
    val cfg = CrawlConfig(topN = 10, numFetchPartitions = 1,
      generateExprFilter = Some("score > 2.0 AND host LIKE '%fix.test'"))
    val (list, _) = graft.generate.Generator.generate(db, cfg, now, 1)
    assert(list.collect().map(_.url).toSeq == Seq("http://a.fix.test/"))
  }

  test("fetch time limit drains queued and remaining items as retry") {
    val cfg = CrawlConfig(serverDelayMs = 1000, fetchLatencyMs = 10, fetchTimeLimitMs = 2500)
    val tasks = (1 to 20).map { i =>
      val url = s"http://one.fix.test/p$i"
      FetchTask(url, Urls.hash64(url), "one.fix.test", "one.fix.test",
        CrawlStatus.DB_UNFETCHED, now, 0, 2592000, 1f, 1)
    }
    val web = graft.fixtures.SyntheticWeb(graft.fixtures.WebConfig(nHosts = 2))
    val f = new graft.fetch.Fetcher {
      override def fetch(url: String) =
        graft.fetch.ProtocolResponse("SUCCESS", null, graft.schema.Doc(url, Seq.empty), "text/html", 10)
      override def robotsRules(host: String) = Some(graft.fetch.Robots.AllowAll)
    }
    val ms = mutable.ArrayBuffer.empty[graft.fetch.FetchPartitionMetrics]
    val out = graft.fetch.PolitenessExecutor.run(0, tasks.iterator, f, cfg, now, 1, ms += _).toSeq
    assert(out.size == 20)
    val fetched = out.filter(_.protocol_status == "SUCCESS")
    val drained = out.filter(_.protocol_status == "TIMELIMIT_DRAINED")
    // 1 req/s politeness on one host, 2.5s budget → ~3 fetches, rest drained
    assert(fetched.size >= 2 && fetched.size <= 4, s"got ${fetched.size} fetched")
    assert(drained.size == 20 - fetched.size)
    assert(drained.forall(_.status == CrawlStatus.FETCH_RETRY))
  }

  test("md5 signer selection") {
    val cfg = CrawlConfig(signer = "md5", serverDelayMs = 1, fetchLatencyMs = 1)
    val url = "http://host-000.fix.test/"
    val web = graft.fixtures.SyntheticWeb(graft.fixtures.WebConfig(nHosts = 1))
    val task = FetchTask(url, Urls.hash64(url), "host-000.fix.test", "host-000.fix.test",
      CrawlStatus.DB_UNFETCHED, now, 0, 2592000, 1f, 1)
    val out = graft.fetch.PolitenessExecutor.run(0, Iterator(task),
      graft.fetch.SyntheticFetcher(web, 1), cfg, now, 1, _ => ()).toSeq
    val expected = Md5Signer.signSpans(web.render(url).spans)
    assert(java.util.Arrays.equals(out.head.signature, expected))
    // the default names textprofile; a name no signer has is refused, not
    // silently read as textprofile
    assert(Signer.forConfig(CrawlConfig()) == TextProfileSigner())
    val e = intercept[IllegalArgumentException](Signer.forConfig(cfg.copy(signer = "sha1")))
    assert(e.getMessage.contains("unknown signer 'sha1'"))
  }
}
