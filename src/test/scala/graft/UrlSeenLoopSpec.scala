package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.cli.CrawlRound
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.seen.UrlSeen

/** The URL-seen bloom wired into the round loop (north rule): the split path
  * must be INVISIBLE in the results — crawls with the bloom on and off
  * produce identical frontiers — while the blob persists, grows, and
  * rebuilds on saturation. */
class UrlSeenLoopSpec extends AnyFunSuite with SparkSpecBase {

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft-seen").toString

  val web = SyntheticWeb(WebConfig(nHosts = 8, pagesPerHost = 12, hotFactor = 4))
  val baseCfg = CrawlConfig(topN = 300, maxPerHost = 40, numFetchPartitions = 4,
    serverDelayMs = 500, fetchLatencyMs = 10)

  private def frontierRows(storeRoot: String, cfg: CrawlConfig): Map[String, (Int, Long, Int, Int, Float)] = {
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 3, storeRoot)
    store.load(spark, "frontier").get
      .select("url", "status", "fetch_time", "retries", "fetch_interval", "score")
      .collect()
      .map(r => r.getString(0) -> ((r.getByte(1).toInt, r.getLong(2), r.getInt(3), r.getInt(4), r.getFloat(5))))
      .toMap
  }

  test("bloom on ≡ bloom off: identical frontier after 3 rounds (columnar path)") {
    val on = frontierRows(tmp(), baseCfg.copy(useSeenBloom = true))
    val off = frontierRows(tmp(), baseCfg.copy(useSeenBloom = false))
    assert(on.keySet == off.keySet, {
      val d1 = on.keySet -- off.keySet; val d2 = off.keySet -- on.keySet
      s"url sets differ; on-only=${d1.take(5)} off-only=${d2.take(5)}"
    })
    for ((u, row) <- on) assert(row == off(u), s"row mismatch for $u: $row vs ${off(u)}")
  }

  test("bloom on ≡ bloom off with the columnar updatedb and in-task redirects") {
    val c = baseCfg.copy(columnarUpdateDb = true, redirectMax = 2)
    val on = frontierRows(tmp(), c.copy(useSeenBloom = true))
    val off = frontierRows(tmp(), c.copy(useSeenBloom = false))
    assert(on.keySet == off.keySet)
    for ((u, row) <- on) assert(row == off(u), s"row mismatch for $u")
  }

  test("bloom blob persists per round and is a superset of the frontier") {
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, baseCfg, rounds = 2, root)
    val sf = UrlSeen.fromBytes(spark, store.loadBlob("seen_bloom").get)
    val hashes = store.load(spark, "frontier").get.select("url_hash")
      .collect().map(_.getLong(0))
    assert(hashes.nonEmpty)
    assert(hashes.forall(sf.mightContain), "bloom must contain every frontier url_hash")
    assert(store.current("seen_bloom").get.round == 2)
  }

  test("saturated bloom rebuilds at doubled capacity, crawl results unchanged") {
    // capacity 64 << real frontier: saturation hit after round 1
    val c = baseCfg.copy(bloomExpectedItems = 64)
    val root = tmp()
    val (store, stats) = CrawlRound.syntheticCrawl(spark, web, c, rounds = 3, root)
    val sf = UrlSeen.fromBytes(spark, store.loadBlob("seen_bloom").get)
    // rebuild happened: capacity grew beyond the configured 64
    assert(sf.perShardCap > 64, s"expected rebuild, capacity=${sf.perShardCap}")
    // and the frontier still matches the bloom-off crawl
    val on = store.load(spark, "frontier").get.select("url").collect().map(_.getString(0)).toSet
    val offRoot = tmp()
    val (offStore, _) = CrawlRound.syntheticCrawl(spark, web, c.copy(useSeenBloom = false), rounds = 3, offRoot)
    val off = offStore.load(spark, "frontier").get.select("url").collect().map(_.getString(0)).toSet
    assert(on == off)
  }

  test("merged() never mutates the live broadcast; superseded filters are destroyable") {
    import spark.implicits._
    val sf = UrlSeen.build((1L to 100L).toDF("url_hash"), 2048, 0.01)
    val Seq(oldBloom) = sf.broadcasts
    val merged = UrlSeen.merged(spark, sf, (5001L to 5100L).toDF("url_hash"), 100L)
    // the NEW filter sees both generations; the OLD broadcast value is untouched
    assert((1L to 100L).forall(merged.mightContain))
    assert((5001L to 5100L).forall(merged.mightContain))
    val leakedIntoOld = (5001L to 5100L).count(oldBloom.value.mightContainLong)
    assert(leakedIntoOld < 10,
      s"merge must not mutate the live broadcast's filter (found $leakedIntoOld/100 new hashes in it)")
    assert(!(merged.broadcasts.head eq oldBloom), "merge must return a fresh broadcast")
    // lifecycle: destroying the superseded filter invalidates only it
    UrlSeen.destroyDiff(sf, merged)
    intercept[org.apache.spark.SparkException] { oldBloom.value }
    assert((1L to 100L).forall(merged.mightContain)) // survivor unaffected
    merged.broadcasts.foreach(_.destroy())
  }

  test("sequential rounds reuse the session-cached bloom broadcast (no per-round reload)") {
    val root = tmp()
    val before = UrlSeen.cacheHits.get()
    CrawlRound.syntheticCrawl(spark, web, baseCfg, rounds = 3, root)
    assert(UrlSeen.cacheHits.get() - before >= 2,
      "rounds 2 and 3 must reuse the cached broadcast instead of reloading the blob")
    // an out-of-band blob change (identity mismatch) must MISS the cache
    val store = new graft.store.SnapshotStore(root)
    val blob = store.loadBlob("seen_bloom").get
    store.commitBlob("seen_bloom", blob, 4) // same bytes, new commit identity
    val hitsBefore = UrlSeen.cacheHits.get()
    val fetcher = graft.fetch.SyntheticFetcher(web, 10)
    CrawlRound.run(spark, store, fetcher, baseCfg, 4, 1700000000000L + 4 * 24 * 3600 * 1000)
    // the first post-change round reloaded from the blob (no false hit on
    // the stale broadcast); the NEXT round hits the fresh cache again
    assert(UrlSeen.cacheHits.get() == hitsBefore, "changed blob identity must not hit the cache")
  }

  test("round loop does not accumulate bloom broadcasts (lifecycle)") {
    // every superseded broadcast is destroyed; at most the single cached
    // filter stays live — the broadcast block count in the block manager
    // must not grow round over round
    val root = tmp()
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, baseCfg, rounds = 1, root)
    val fetcher = graft.fetch.SyntheticFetcher(web, 10)
    def broadcastBlocks(): Int = {
      System.gc() // let ContextCleaner reap unrelated unreferenced broadcasts
      Thread.sleep(200)
      org.apache.spark.GraftSparkTestAccess.broadcastBlockCount(spark.sparkContext)
    }
    CrawlRound.crawl(spark, store, fetcher, baseCfg, 2, 1700000000000L)
    val after3 = broadcastBlocks()
    CrawlRound.crawl(spark, store, fetcher, baseCfg, 4, 1700000000000L)
    val after7 = broadcastBlocks()
    assert(after7 <= after3 + 2,
      s"bloom broadcasts must not accumulate across rounds: $after3 blocks after r3, $after7 after r7")
  }

  test("function registry stays flat across rounds (no seen probe is ever registered)") {
    val root = tmp()
    CrawlRound.syntheticCrawl(spark, web, baseCfg, rounds = 2, root)
    val store = new graft.store.SnapshotStore(root)
    val fetcher = graft.fetch.SyntheticFetcher(web, 10)
    def seenFns(): Seq[String] = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_seen_mc_"))
    CrawlRound.crawl(spark, store, fetcher, baseCfg, 4, 1700000000000L)
    // the probe expression carries its own broadcast set: nothing to register
    assert(seenFns().isEmpty, s"graft_seen_mc_* registry entries: ${seenFns()}")
  }

  test("sharded bloom ≡ single bloom ≡ bloom off: identical frontier after 3 rounds") {
    val sharded = frontierRows(tmp(), baseCfg.copy(seenBloomShards = 4))
    val single = frontierRows(tmp(), baseCfg.copy(seenBloomShards = 1))
    val off = frontierRows(tmp(), baseCfg.copy(useSeenBloom = false))
    assert(sharded.keySet == off.keySet, {
      val d1 = sharded.keySet -- off.keySet; val d2 = off.keySet -- sharded.keySet
      s"url sets differ; sharded-only=${d1.take(5)} off-only=${d2.take(5)}"
    })
    for ((u, row) <- sharded) assert(row == off(u), s"row mismatch vs off for $u")
    assert(sharded == single, "sharded and single filters must be indistinguishable")
  }

  test("sharded delta merge replaces exactly ONE shard's broadcast (1/k re-broadcast)") {
    import spark.implicits._
    val built = UrlSeen.build((1L to 4000L).toDF("url_hash"), 1L << 14, 0.01,
      approxInserted = 4000, shards = 4)
    assert(built.shards.length == 4)
    assert((1L to 4000L).forall(built.mightContain), "hash-spread build must cover the corpus")
    val before = built.broadcasts
    val merged = UrlSeen.merged(spark, built, (900001L to 900100L).toDF("url_hash"), 100L)
    val after = merged.broadcasts
    val replaced = after.count(b => !before.exists(_ eq b))
    assert(replaced == 1,
      s"a steady-state delta must re-broadcast exactly one shard, replaced $replaced/4")
    assert((1L to 4000L).forall(merged.mightContain))
    assert((900001L to 900100L).forall(merged.mightContain))
    // destroyDiff keeps the 3 shared shards alive, kills only the replaced one
    UrlSeen.destroyDiff(built, merged)
    assert((1L to 4000L).forall(merged.mightContain), "shared shards must survive destroyDiff")
    // the blob envelope round-trips the sharded form
    val back = UrlSeen.fromBytes(spark, UrlSeen.toBytes(merged))
    assert(back.shards.length == 4 && back.perShardCap == merged.perShardCap)
    assert((1L to 4000L).forall(back.mightContain) && (900001L to 900100L).forall(back.mightContain))
  }

  test("round loop with sharded bloom re-broadcasts at most one shard per steady round") {
    val root = tmp()
    val cfg = baseCfg.copy(seenBloomShards = 4)
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 2, root)
    def cachedShards(): Seq[AnyRef] = {
      val s = store.current("seen_bloom").get
      UrlSeen.cachedFor(root, s.path, s.committedAtMs).get.broadcasts
    }
    val before = cachedShards()
    val fetcher = graft.fetch.SyntheticFetcher(web, 10)
    CrawlRound.crawl(spark, store, fetcher, cfg, 1, 1700000000000L)
    val after = cachedShards()
    val shared = after.count(b => before.exists(_ eq b))
    assert(shared >= before.length - 1,
      s"steady-state round must reuse ≥ k-1 shard broadcasts (shared $shared/${before.length})")
  }

  test("a mid-crawl inject or sitemap stage leaves the next rounds unique per url and bloom-covered") {
    import spark.implicits._
    // frontier writers that know nothing of the bloom leave the blob older
    // than the frontier; the next round must reconcile it before its merge
    // trusts bloom misses (this fixture has sitemap hosts, unlike `web`)
    val web = SyntheticWeb(WebConfig(nHosts = 20, pagesPerHost = 15, hotFactor = 2))
    val cfg = baseCfg
    val writers: Seq[(String, graft.cli.Crawl => Long)] = Seq(
      "inject" -> { crawl =>
        val known = crawl.frontier.select("url").as[String].collect().toSet
        val undiscovered = web.urls(spark).collect().filterNot(known).toSeq
        assert(undiscovered.nonEmpty, "fixture must have URLs round 1 did not discover")
        CrawlRound.inject(spark, crawl.store, undiscovered.toDS(), cfg, crawl.startTimeMs)
      },
      "sitemaps" -> (_.processSitemaps()))
    val problems = writers.flatMap { case (name, write) =>
      val crawl = graft.cli.Crawl(spark, tmp(), cfg, graft.fetch.SyntheticFetcher(web, 10))
      crawl.inject(web.seedUrls.toDS())
      crawl.round()
      val sizeBefore = crawl.frontier.count()
      assert(write(crawl) > sizeBefore, s"$name must add URLs to the frontier")
      crawl.rounds(2)

      val frontier = crawl.frontier
      val dups = frontier.groupBy("url").count().filter(col("count") > 1).count()
      val sf = UrlSeen.fromBytes(spark, crawl.store.loadBlob("seen_bloom").get)
      val missing = frontier.select("url_hash").as[Long].collect().count(h => !sf.mightContain(h))
      sf.broadcasts.foreach(_.destroy())
      Seq(s"$name: $dups urls hold more than one frontier row" -> dups,
        s"$name: $missing frontier url_hash values missing from the committed bloom" -> missing.toLong)
        .collect { case (msg, n) if n > 0 => msg }
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("seen filter round-trips through the blob envelope") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("url_hash")
    val sf = UrlSeen.build(df, 2048, 0.01, approxInserted = 1000)
    val back = UrlSeen.fromBytes(spark, UrlSeen.toBytes(sf))
    assert(back.shards.length == 1 && back.perShardCap == 2048 && back.shardFpp == 0.01 &&
      back.approxInserted == 1000)
    assert((1L to 1000L).forall(back.mightContain))
    val misses = (100001L to 101000L).count(back.mightContain)
    assert(misses < 50, s"fpp should hold, got $misses/1000")
  }

  test("a one-shard set holds exactly the single filter's bits") {
    import spark.implicits._
    val df = (1L to 3000L).map(_ * 7919L).toDF("url_hash")
    val Seq(bloom) = UrlSeen.build(df, 4096, 0.01).broadcasts
    assert(bloom.value == df.stat.bloomFilter("url_hash", 4096, 0.01))
  }

  test("a version-1 (single-filter) blob loads as a one-shard set") {
    import spark.implicits._
    val hashes = (1L to 500L).map(_ * 104729L)
    val bf = hashes.toDF("url_hash").stat.bloomFilter("url_hash", 2048, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(0x47424c4d) // magic
    out.writeInt(1) // version 1: expected items, fpp, inserted, one filter
    out.writeLong(2048)
    out.writeDouble(0.01)
    out.writeLong(500)
    bf.writeTo(out)
    out.flush()
    val back = UrlSeen.fromBytes(spark, bos.toByteArray)
    assert(back.shards.length == 1 && back.perShardCap == 2048 && back.shardFpp == 0.01 &&
      back.approxInserted == 500)
    assert(hashes.forall(back.mightContain))
    assert(back.broadcasts.head.value == bf)
    back.broadcasts.foreach(_.destroy())
  }
}
