package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier._
import graft.schema._
import graft.schema.CrawlStatus._

/** State-transition matrix for the updatedb merge — mirrors the reference's
  * exhaustive reducer tests (TestCrawlDbStates.testCrawlDbStateTransitionMatrix,
  * reference/src/test/org/apache/nutch/crawl/TestCrawlDbStates.java:62-192).
  */
class UpdateDbSpec extends AnyFunSuite {

  val cfg = CrawlConfig()
  val now = 1700000000000L
  val url = "http://host-001.fix.test/page-1"

  def old(status: Byte, retries: Int = 0, sig: Array[Byte] = null,
          score: Float = 1.0f, interval: Int = cfg.fetchIntervalDefault): FrontierUpdate =
    FrontierUpdate(url, "old", status, now - 1000, retries, interval, score, sig, 0L, null, Map("k" -> "old"))

  def fetch(status: Byte, sig: Array[Byte] = Array[Byte](1, 2, 3), retries: Int = 0): FrontierUpdate =
    FrontierUpdate(url, "fetch", status, now, retries, cfg.fetchIntervalDefault, 1.0f, sig, 0L, null, Map("k" -> "fetch"))

  def linked(score: Float): FrontierUpdate =
    FrontierUpdate(url, "linked", DB_UNFETCHED, now, 0, cfg.fetchIntervalDefault, score, null, 0L, null, Map.empty)

  def mergeAll(schedule: FetchSchedule, us: FrontierUpdate*): Option[FrontierEntry] =
    UpdateDb.merge(url, us.iterator, cfg, schedule, now)

  val schedules = Seq(
    "default" -> DefaultFetchSchedule(cfg),
    "adaptive" -> AdaptiveFetchSchedule(cfg.copy(schedule = "adaptive")))

  // (old status or -1 = absent, fetch status) → expected db status
  val matrix: Seq[(Int, Byte, Byte)] = {
    val olds = Seq(-1, DB_UNFETCHED.toInt, DB_FETCHED.toInt, DB_NOTMODIFIED.toInt,
      DB_REDIR_TEMP.toInt, DB_REDIR_PERM.toInt, DB_GONE.toInt)
    olds.flatMap { o =>
      Seq(
        (o, FETCH_SUCCESS, DB_FETCHED),
        (o, FETCH_RETRY, DB_UNFETCHED), // retries 0 → 1 < 3
        (o, FETCH_GONE, DB_GONE),
        (o, FETCH_REDIR_TEMP, DB_REDIR_TEMP),
        (o, FETCH_REDIR_PERM, DB_REDIR_PERM),
        (o, FETCH_NOTMODIFIED, DB_NOTMODIFIED)
      )
    }
  }

  test("full (db status × fetch status) transition matrix, both schedules") {
    for ((schedName, sched) <- schedules; (o, f, want) <- matrix) {
      val updates = if (o < 0) Seq(fetch(f)) else Seq(old(o.toByte), fetch(f))
      val got = mergeAll(sched, updates: _*)
      assert(got.isDefined, s"[$schedName] old=$o fetch=$f must produce a row")
      assert(got.get.status == want,
        s"[$schedName] old=$o fetch=${name(f)}: got ${name(got.get.status)}, want ${name(want)}")
    }
  }

  test("retry exhaustion: third retry goes db_gone with gone schedule") {
    val sched = DefaultFetchSchedule(cfg)
    val r = mergeAll(sched, old(DB_UNFETCHED, retries = 2), fetch(FETCH_RETRY)).get
    assert(r.status == DB_GONE)
    assert(r.retries == 3)
    // gone schedule stretches the interval by 1.5
    assert(r.fetch_interval == (cfg.fetchIntervalDefault * 1.5f).toInt)
  }

  test("retry increments and reschedules +1 day") {
    val r = mergeAll(DefaultFetchSchedule(cfg), old(DB_UNFETCHED), fetch(FETCH_RETRY)).get
    assert(r.status == DB_UNFETCHED && r.retries == 1)
    assert(r.fetch_time == now + 24L * 3600 * 1000)
  }

  test("unchanged signature on success → db_notmodified, signature kept") {
    val sig = Array[Byte](9, 9)
    val r = mergeAll(DefaultFetchSchedule(cfg), old(DB_FETCHED, sig = sig), fetch(FETCH_SUCCESS, sig = sig)).get
    assert(r.status == DB_NOTMODIFIED)
    assert(java.util.Arrays.equals(r.signature, sig))
  }

  test("changed signature on success → db_fetched, new signature + modified time") {
    val r = mergeAll(DefaultFetchSchedule(cfg),
      old(DB_FETCHED, sig = Array[Byte](1)), fetch(FETCH_SUCCESS, sig = Array[Byte](2))).get
    assert(r.status == DB_FETCHED)
    assert(java.util.Arrays.equals(r.signature, Array[Byte](2)))
    assert(r.modified_time == now)
  }

  test("fetch_notmodified keeps the old signature") {
    val sig = Array[Byte](7)
    val r = mergeAll(DefaultFetchSchedule(cfg), old(DB_FETCHED, sig = sig), fetch(FETCH_NOTMODIFIED, sig = null)).get
    assert(r.status == DB_NOTMODIFIED)
    assert(java.util.Arrays.equals(r.signature, sig))
  }

  test("links only, no db row → new db_unfetched with summed link credit") {
    val r = mergeAll(DefaultFetchSchedule(cfg), linked(0.25f), linked(0.5f)).get
    assert(r.status == DB_UNFETCHED)
    assert(math.abs(r.score - 0.75f) < 1e-6)
    assert(r.fetch_interval == cfg.fetchIntervalDefault)
    assert(r.host == "host-001.fix.test")
  }

  test("links onto existing row → status kept, OPIC credit added") {
    val r = mergeAll(DefaultFetchSchedule(cfg), old(DB_FETCHED, score = 2.0f), linked(0.5f)).get
    assert(r.status == DB_FETCHED)
    assert(math.abs(r.score - 2.5f) < 1e-6)
  }

  test("orphan (old only) re-emitted unchanged; empty group drops") {
    val r = mergeAll(DefaultFetchSchedule(cfg), old(DB_FETCHED, score = 3.0f)).get
    assert(r.status == DB_FETCHED && r.score == 3.0f)
    assert(mergeAll(DefaultFetchSchedule(cfg)).isEmpty)
  }

  test("additionsAllowed=false drops link-discovered new URLs") {
    val noAdd = cfg.copy(additionsAllowed = false)
    val got = UpdateDb.merge(url, Iterator(linked(0.5f)), noAdd, DefaultFetchSchedule(noAdd), now)
    assert(got.isEmpty)
    // but a genuine fetch of a known URL still passes
    val got2 = UpdateDb.merge(url, Iterator(old(DB_UNFETCHED), fetch(FETCH_SUCCESS)), noAdd, DefaultFetchSchedule(noAdd), now)
    assert(got2.exists(_.status == DB_FETCHED))
  }

  test("inlink cap keeps highest-score credits (bounded heap)") {
    val small = cfg.copy(maxInlinks = 3)
    val links = (1 to 10).map(i => linked(i.toFloat))
    val r = UpdateDb.merge(url, links.iterator, small, DefaultFetchSchedule(small), now).get
    // top-3 scores = 10+9+8 = 27; triggering link credit included
    assert(math.abs(r.score - 27.0f) < 1e-6)
  }

  test("metadata: fetch wins over old on conflict") {
    val r = mergeAll(DefaultFetchSchedule(cfg), old(DB_FETCHED), fetch(FETCH_SUCCESS)).get
    assert(r.metadata("k") == "fetch")
  }

  test("generate_time cleared after update") {
    val r = mergeAll(DefaultFetchSchedule(cfg), old(DB_FETCHED), fetch(FETCH_SUCCESS)).get
    assert(r.generate_time == -1L)
  }

  test("adaptive schedule shrinks interval on change, grows on not-modified") {
    val acfg = cfg.copy(schedule = "adaptive")
    val sched = AdaptiveFetchSchedule(acfg)
    val changed = UpdateDb.merge(url,
      Iterator(old(DB_FETCHED, sig = Array[Byte](1)), fetch(FETCH_SUCCESS, sig = Array[Byte](2))),
      acfg, sched, now).get
    val unchangedSig = Array[Byte](5)
    val same = UpdateDb.merge(url,
      Iterator(old(DB_FETCHED, sig = unchangedSig), fetch(FETCH_SUCCESS, sig = unchangedSig)),
      acfg, sched, now).get
    assert(changed.fetch_interval < cfg.fetchIntervalDefault)
    assert(same.fetch_interval > cfg.fetchIntervalDefault)
  }

  test("interval overflow forces refetch") {
    val r = mergeAll(DefaultFetchSchedule(cfg),
      old(DB_FETCHED, interval = cfg.fetchIntervalMax + 100), fetch(FETCH_NOTMODIFIED)).get
    assert(r.fetch_interval == cfg.fetchIntervalDefault)
    assert(r.fetch_time == now)
    assert(r.signature == null)
    assert(r.status == DB_UNFETCHED)
  }

  test("purge404 drops gone rows") {
    val p = cfg.copy(purge404 = true)
    val got = UpdateDb.merge(url, Iterator(old(DB_FETCHED), fetch(FETCH_GONE)), p, DefaultFetchSchedule(p), now)
    assert(got.isEmpty)
  }
}
