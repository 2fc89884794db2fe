package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.frontier.{CrawlConfig, Inject}
import graft.seen.UrlSeen
import graft.url.Urls

/** URL-seen bloom (no false negatives, fpp budget, empty filter) and seed
  * injection semantics. */
class SeenInjectSpec extends AnyFunSuite with SparkSpecBase {

  val cfg = CrawlConfig()
  val now = 1700000000000L

  test("bloom URL-seen: zero false negatives; fpp within budget; empty filter") {
    import spark.implicits._
    val seen = (0L until 20000L).map(i => Urls.hash64(s"http://h${i % 50}.fix.test/p$i"))
    val candidates = (15000L until 40000L).map(i => Urls.hash64(s"http://h${i % 50}.fix.test/p$i"))
    val seenDf = seen.toDF("url_hash")

    val filterS = UrlSeen.build(seenDf, expectedItems = 20000, fpp = 0.01)
    // no false negatives: every seen hash must report mightContain
    assert(seen.forall(filterS.mightContain), "bloom must never miss a seen key")
    // fpp budget on truly-unseen keys
    val unseen = candidates.filterNot(seen.toSet)
    val fp = unseen.count(filterS.mightContain)
    assert(fp.toDouble / unseen.size < 0.05, s"false positive rate too high: $fp/${unseen.size}")

    // zero rows (an empty store's first round): an empty filter of the
    // requested capacity
    val empty = UrlSeen.build(seenDf.limit(0), expectedItems = 20000, fpp = 0.01)
    assert(empty.shards.map(_.bloom.value.bitSize()) == filterS.shards.map(_.bloom.value.bitSize()))
    assert(!candidates.exists(empty.mightContain), "an empty filter holds nothing")
  }

  test("seed line parsing: comments, malformed, overrides, metadata") {
    assert(Inject.parseSeedLine("# comment", cfg).isEmpty)
    assert(Inject.parseSeedLine("   ", cfg).isEmpty)
    assert(Inject.parseSeedLine("not a url", cfg).isEmpty)
    assert(Inject.parseSeedLine("http://example.com/img.png", cfg).isEmpty) // filtered suffix
    val s = Inject.parseSeedLine(
      "HTTP://Example.COM:80/a\tnutch.score=10\tnutch.fetchInterval=3600\tk=v", cfg).get
    assert(s.url == "http://example.com/a")
    assert(s.score == 10.0f)
    assert(s.fetchInterval == 3600)
    assert(s.metadata == Map("k" -> "v"))
  }

  test("inject merge: new seeds enter, known URLs keep state; update mode averages") {
    import spark.implicits._
    val existing = Seq(Inject.seedToEntry(Inject.Seed("http://old.fix.test/", 4.0f, 100, Map.empty), now)
      .copy(status = graft.schema.CrawlStatus.DB_FETCHED)).toDS()
    val seeds = Seq("http://old.fix.test/\tnutch.score=2", "http://new.fix.test/").toDS()

    val merged = Inject.run(existing, seeds, cfg, now).collect().map(e => e.url -> e).toMap
    assert(merged.size == 2)
    assert(merged("http://old.fix.test/").status == graft.schema.CrawlStatus.DB_FETCHED) // state kept
    assert(merged("http://old.fix.test/").score == 4.0f)
    assert(merged("http://new.fix.test/").status == graft.schema.CrawlStatus.DB_UNFETCHED)

    val updated = Inject.run(existing, seeds, cfg, now, update = true).collect().map(e => e.url -> e).toMap
    assert(updated("http://old.fix.test/").score == 3.0f) // avg(4, 2)

    val overwritten = Inject.run(existing, seeds, cfg, now, overwrite = true).collect().map(e => e.url -> e).toMap
    assert(overwritten("http://old.fix.test/").status == graft.schema.CrawlStatus.DB_UNFETCHED)
    assert(overwritten("http://old.fix.test/").score == 2.0f)
  }

  test("duplicate seeds merge, best score wins") {
    import spark.implicits._
    val seeds = Seq("http://a.fix.test/\tnutch.score=1", "http://a.fix.test/\tnutch.score=7").toDS()
    val merged = Inject.run(spark.emptyDataset[graft.schema.FrontierEntry], seeds, cfg, now).collect()
    assert(merged.length == 1)
    assert(merged.head.score == 7.0f)
  }
}
