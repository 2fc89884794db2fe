package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.CrawlRound
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig

/** Differential test: the whole-stage-codegen updatedb (UpdateDbColumnar)
  * must produce byte-identical frontiers to the typed reference merge
  * (UpdateDb.merge) over full multi-round crawls — both schedules. */
class UpdateDbColumnarSpec extends AnyFunSuite with SparkSpecBase {

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft-col").toString

  def frontierOf(cfg: CrawlConfig): org.apache.spark.sql.DataFrame = {
    val web = SyntheticWeb(WebConfig(nHosts = 8, pagesPerHost = 14, hotFactor = 3))
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 3, tmp())
    store.load(spark, "frontier").get
      .select("url", "status", "fetch_time", "retries", "fetch_interval",
        "score", "modified_time", "repr_url", "generate_time", "url_hash", "host", "domain")
  }

  def assertSame(cfgBase: CrawlConfig): Unit = {
    val typed = frontierOf(cfgBase.copy(columnarUpdateDb = false))
    val columnar = frontierOf(cfgBase.copy(columnarUpdateDb = true))
    assert(typed.count() == columnar.count())
    val onlyTyped = typed.exceptAll(columnar)
    val onlyCol = columnar.exceptAll(typed)
    val d1 = onlyTyped.collect()
    val d2 = onlyCol.collect()
    assert(d1.isEmpty && d2.isEmpty,
      s"typed-only:\n${d1.take(5).mkString("\n")}\ncolumnar-only:\n${d2.take(5).mkString("\n")}")
  }

  val base = CrawlConfig(topN = 400, maxPerHost = 60, numFetchPartitions = 3,
    serverDelayMs = 300, fetchLatencyMs = 10)

  test("columnar ≡ typed over 3 rounds, default schedule") {
    assertSame(base)
  }

  test("columnar ≡ typed with scoring-depth metadata (maps stringified)") {
    def f(cfg: CrawlConfig): org.apache.spark.sql.DataFrame = {
      val web = SyntheticWeb(WebConfig(nHosts = 8, pagesPerHost = 14, hotFactor = 3))
      val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 3, tmp())
      store.load(spark, "frontier").get
        .selectExpr("url", "status", "score", "fetch_time",
          "array_join(transform(array_sort(map_entries(metadata)), e -> e.key || '=' || e.value), ',') AS meta")
    }
    val cfg = base.copy(scoringDepthMax = 3)
    val typed = f(cfg.copy(columnarUpdateDb = false))
    val columnar = f(cfg.copy(columnarUpdateDb = true))
    assert(typed.count() == columnar.count())
    val d1 = typed.exceptAll(columnar).collect()
    val d2 = columnar.exceptAll(typed).collect()
    assert(d1.isEmpty && d2.isEmpty,
      s"typed-only:\n${d1.take(5).mkString("\n")}\ncolumnar-only:\n${d2.take(5).mkString("\n")}")
  }

  test("columnar ≡ typed over 3 rounds, adaptive schedule") {
    assertSame(base.copy(schedule = "adaptive"))
  }

  test("columnar ≡ typed with purge404 and no additions") {
    assertSame(base.copy(purge404 = true, additionsAllowed = false))
  }

  test("columnar ≡ typed, mime-adaptive schedule with per-mime rates") {
    assertSame(base.copy(schedule = "mime",
      mimeScheduleRates = Map("text/html" -> ((0.6f, 0.1f)))))
  }

  test("columnar ≡ typed, CC schedule with fetch-time horizon") {
    assertSame(base.copy(schedule = "cc", ccMaxDaysAhead = 10,
      fetchIntervalDefault = 20 * 24 * 3600))
  }

  test("columnar ≡ typed with the seen bloom + in-task redirects") {
    // the columnar merge splits off bloom-missing links; the typed one merges unsplit
    assertSame(base.copy(useSeenBloom = true, redirectMax = 2))
  }

  test("columnar ≡ typed with generate.update.crawldb mark-back persistence") {
    assertSame(base.copy(generateUpdateDb = true, generateDelayMs = 1000))
  }
}
