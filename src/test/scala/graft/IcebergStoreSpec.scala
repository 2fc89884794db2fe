package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.CrawlRound
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.store.SnapshotStore

/** The table store's Iceberg-format snapshot log ([[SnapshotStore]]): the
  * metadata layout is the Iceberg shape (immutable vN.metadata.json chain +
  * version-hint), a fresh instance discovers and resumes a crawl from it,
  * rollback keeps the log, and data, blobs and metrics sit at the paths
  * perfbench reads from disk. */
class IcebergStoreSpec extends AnyFunSuite with SparkSpecBase {

  def tmp(): String = Files.createTempDirectory("graft-iceberg").toString

  val web = SyntheticWeb(WebConfig(nHosts = 8, pagesPerHost = 12, hotFactor = 4))
  val cfg = CrawlConfig(topN = 300, maxPerHost = 40, numFetchPartitions = 4,
    serverDelayMs = 500, fetchLatencyMs = 10)

  private def crawlOn(store: SnapshotStore, rounds: Int): Unit = {
    import spark.implicits._
    CrawlRound.inject(spark, store, web.seedUrls.toDS(), cfg, 1700000000000L)
    CrawlRound.crawl(spark, store, graft.fetch.SyntheticFetcher(web, cfg.fetchLatencyMs),
      cfg, rounds, 1700000000000L)
  }

  test("resume from the snapshot log: restart mid-crawl equals uninterrupted run") {
    val rootA = tmp(); val rootB = tmp()
    crawlOn(new SnapshotStore(rootA), 2)
    crawlOn(new SnapshotStore(rootB), 1)
    val resumed = new SnapshotStore(rootB) // "new process" discovers via version-hint
    assert(resumed.lastCompletedRound.contains(1))
    CrawlRound.crawl(spark, resumed, graft.fetch.SyntheticFetcher(web, cfg.fetchLatencyMs),
      cfg, rounds = 1, startTimeMs = 1700000000000L)
    val fa = new SnapshotStore(rootA).load(spark, "frontier").get
      .select("url", "status", "score", "fetch_time", "retries")
    val fb = resumed.load(spark, "frontier").get
      .select("url", "status", "score", "fetch_time", "retries")
    assert(fa.count() == fb.count())
    assert(fa.exceptAll(fb).count() == 0 && fb.exceptAll(fa).count() == 0)
  }

  test("a crawl writes data, blobs and metrics at their fixed paths; pointers under metadata/") {
    val root = tmp()
    val store = new SnapshotStore(root)
    crawlOn(store, 2)
    def exists(p: String*) = Files.exists(Paths.get(root, p: _*))
    for (t <- Seq("frontier", "fetched", "parsed", "host_stats"); r <- 1 to 2)
      assert(exists(t, s"r$r"), s"$t/r$r")
    assert(store.current("frontier").get.path == Paths.get(root, "frontier", "r2").toString)
    assert(exists("seen_bloom", "r2.bin"))
    assert(store.current("seen_bloom").get.path == Paths.get(root, "seen_bloom", "r2.bin").toString)
    assert(exists("round_metrics", "r1-round") && exists("round_metrics", "r2-round"))
    assert(store.metrics(spark).get.filter(col("stage") === "fetch").count() > 0)
    assert(store.loadRound(spark, "fetched", 2).get.count() > 0)
    // the pointer lives beside the data; no table keeps a file at its top level
    for (t <- Seq("frontier", "fetched", "parsed", "host_stats", "seen_bloom")) {
      assert(exists(t, "metadata", "version-hint.text"), t)
      assert(Files.list(Paths.get(root, t)).filter(Files.isRegularFile(_))
        .allMatch(_.getFileName.toString.endsWith(".bin")), t)
    }
    assert(!exists("round_metrics", "metadata"), "metrics are appended, not committed")
  }

  test("metadata layout: immutable version chain, version-hint discovery, full snapshot log") {
    import spark.implicits._
    val root = tmp()
    val store = new SnapshotStore(root)
    store.commit("frontier", Seq((1, "a")).toDF("k", "v"), 0)
    store.commit("frontier", Seq((2, "b")).toDF("k", "v"), 1)
    store.commit("frontier", Seq((3, "c")).toDF("k", "v"), 2)
    val metaDir = Paths.get(root, "frontier", "metadata")
    // one immutable metadata file per commit + the hint
    (1 to 3).foreach(v => assert(Files.exists(
      metaDir.resolve(s"v$v.metadata.json")), s"v$v.metadata.json must exist"))
    assert(Files.readString(metaDir.resolve("version-hint.text")).trim == "3")
    // the log keeps every snapshot; current is the newest
    val log = store.snapshotLog("frontier")
    assert(log.map(_._2) == Seq(0, 1, 2), s"snapshot log rounds: ${log.map(_._2)}")
    assert(store.current("frontier").get.round == 2)
    // a fresh instance discovers the same current snapshot
    assert(new SnapshotStore(root).current("frontier") == store.current("frontier"))
    // time travel by round
    assert(store.loadRound(spark, "frontier", 1).get.collect().head.getString(1) == "b")
  }

  test("monotonic rounds, rollback-as-commit, and replay after resetTo") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commit("frontier", Seq((1, "r1")).toDF("k", "v"), 1)
    store.commit("frontier", Seq((2, "r2")).toDF("k", "v"), 2)
    // rewind without resetTo is rejected
    intercept[IllegalArgumentException] {
      store.commit("frontier", Seq((9, "bad")).toDF("k", "v"), 1)
    }
    // rollback: a NEW metadata version, history intact
    store.resetTo("frontier", 1)
    assert(store.current("frontier").get.round == 1)
    assert(store.load(spark, "frontier").get.collect().head.getString(1) == "r1")
    assert(store.snapshotLog("frontier").length == 2, "rollback must not erase the log")
    // the rolled-back snapshot keeps its own commit time
    assert(store.current("frontier").get.committedAtMs == store.snapshotLog("frontier").head._4)
    intercept[IllegalArgumentException](store.resetTo("frontier", 7))
    // replay re-commits round 2 (allowRewind covers derived tables; the
    // frontier itself moves forward from the reset pointer)
    store.commit("frontier", Seq((2, "r2-replayed")).toDF("k", "v"), 2)
    assert(store.load(spark, "frontier").get.collect().head.getString(1) == "r2-replayed")
  }

  test("same-round tag commits never overwrite the snapshot they derive from") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    store.commit("frontier", Seq((1, "base")).toDF("k", "v"), 1)
    val tag = store.freshTag("frontier", 1, "inject")
    assert(tag == "inject1")
    store.commit("frontier", Seq((1, "merged")).toDF("k", "v"), 1, tag)
    assert(store.freshTag("frontier", 1, "inject") == "inject2")
    // both snapshots readable: the tagged one is current, the base survives
    assert(store.load(spark, "frontier").get.collect().head.getString(1) == "merged")
    assert(store.loadRound(spark, "frontier", 1).get.collect().head.getString(1) == "base")
  }

  test("blob commits ride the same snapshot log (url-seen bloom envelope)") {
    import spark.implicits._
    val store = new SnapshotStore(tmp())
    val sf = graft.seen.UrlSeen.build((1L to 500L).toDF("url_hash"), 2048, 0.01, 500)
    store.commitBlob("seen_bloom", graft.seen.UrlSeen.toBytes(sf), 1)
    val back = graft.seen.UrlSeen.fromBytes(spark, store.loadBlob("seen_bloom").get)
    assert((1L to 500L).forall(back.mightContain))
    assert(store.current("seen_bloom").get.round == 1)
    assert(store.snapshotLog("seen_bloom").head._6 == "blob")
  }
}
