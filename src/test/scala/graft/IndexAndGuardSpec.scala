package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.{Crawl, CrawlRound}
import graft.fetch._
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.index._
import graft.schema.{Doc, Span}

/** Index writer sinks + exchange routing, and the hung-fetch guard. */
class IndexAndGuardSpec extends AnyFunSuite with SparkSpecBase {

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft-idx").toString

  test("index export fans out through parquet/json sinks with route predicates") {
    val web = SyntheticWeb(WebConfig(nHosts = 6, pagesPerHost = 10))
    val cfg = CrawlConfig(topN = 200, maxPerHost = 50, numFetchPartitions = 2,
      serverDelayMs = 200, fetchLatencyMs = 5)
    val root = tmp()
    CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val crawl = Crawl(spark, root, cfg, SyntheticFetcher(web, 5))

    val sinkRoot = tmp()
    val exchange = IndexWriterExchange(Seq(
      ParquetIndexWriter(s"$sinkRoot/pq") -> None,
      JsonIndexWriter(s"$sinkRoot/js") -> Some("score >= 0.5")))
    assert(crawl.exportIndexTo(1, exchange))

    val pq = spark.read.parquet(s"$sinkRoot/pq/r1")
    val js = spark.read.json(s"$sinkRoot/js/r1")
    assert(pq.count() > 0)
    assert(js.count() <= pq.count())
    assert(js.filter(col("score") < 0.5).isEmpty)
    // the routed slice matches the predicate applied to the full export
    assert(js.count() == pq.filter(col("score") >= 0.5).count())
  }

  test("hung-fetch guard times out a stuck call as RETRY, passes fast calls through") {
    val stuck = new Fetcher {
      override def fetch(url: String): ProtocolResponse = {
        if (url.contains("hang")) Thread.sleep(60000)
        ProtocolResponse("SUCCESS", null, Doc(url, Seq(Span("text", "ok", null, 0))), "text/html", 1)
      }
      override def robotsRules(host: String): Option[Robots.RobotRules] = Some(Robots.AllowAll)
    }
    val guarded = HungGuardFetcher(stuck, timeoutMs = 300)
    val ok = guarded.fetch("http://a.fix.test/fast")
    assert(ok.code == "SUCCESS")
    val t0 = System.nanoTime()
    val hung = guarded.fetch("http://a.fix.test/hang")
    val tookMs = (System.nanoTime() - t0) / 1000000
    assert(hung.code == "RETRY")
    assert(tookMs < 5000, s"guard must cut the call at ~300ms, took ${tookMs}ms")
    assert(guarded.robotsRules("a.fix.test").contains(Robots.AllowAll))
  }
}
