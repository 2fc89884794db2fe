package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier._
import graft.schema.{CrawlStatus, FrontierEntry}

/** MimeAdaptive + CC fetch schedules (reference MimeAdaptiveFetchSchedule /
  * CCFetchSchedule semantics, pure unit level). */
class Schedule2Spec extends AnyFunSuite {

  val now = 1700000000000L
  def entry(interval: Int, meta: Map[String, String] = Map.empty): FrontierEntry =
    FrontierEntry("http://a.fix.test/", 1L, "a.fix.test", "fix.test",
      CrawlStatus.DB_FETCHED, now, 0, interval, 1f, null, 0L, null, -1L, meta)

  test("mime-adaptive uses per-mime rates, falls back to adaptive defaults") {
    val cfg = CrawlConfig(schedule = "mime",
      adaptiveIncRate = 0.4f, adaptiveDecRate = 0.2f,
      mimeScheduleRates = Map("text/html" -> ((0.8f, 0.5f))))
    val s = FetchSchedule.forConfig(cfg).asInstanceOf[MimeAdaptiveFetchSchedule]
    val html = entry(10000, Map("content_type" -> "text/html"))
    // modified=1 → interval × (1 - dec_html) = 10000 × 0.5
    assert(s.setFetchSchedule(html, now, 0L, 1).fetch_interval == 5000)
    // modified=2 → interval × (1 + inc_html) = 10000 × 1.8
    assert(s.setFetchSchedule(html, now, 0L, 2).fetch_interval == 18000)
    // unknown mime → defaults (dec 0.2, inc 0.4)
    val pdf = entry(10000, Map("content_type" -> "application/pdf"))
    assert(s.setFetchSchedule(pdf, now, 0L, 1).fetch_interval == 8000)
    assert(s.setFetchSchedule(pdf, now, 0L, 2).fetch_interval == 14000)
    // no mime at all → defaults
    assert(s.setFetchSchedule(entry(10000), now, 0L, 1).fetch_interval == 8000)
  }

  test("cc schedule resets over-max intervals instead of forceRefetch churn") {
    val cfg = CrawlConfig(schedule = "cc", fetchIntervalMax = 1000)
    val s = FetchSchedule.forConfig(cfg).asInstanceOf[CCFetchSchedule]
    val e = s.setFetchSchedule(entry(5000), now, 0L, 1)
    assert(e.fetch_interval == 1000)
    assert(e.fetch_time == now + 1000 * 1000L)
    // retry/gone paths clamp too
    assert(s.setPageRetrySchedule(entry(5000), now).fetch_interval == 1000)
    assert(s.setPageGoneSchedule(entry(5000), now).fetch_interval <= 1500)
  }

  test("cc schedule clamps next fetch to the days-ahead horizon") {
    val cfg = CrawlConfig(schedule = "cc", ccMaxDaysAhead = 1,
      fetchIntervalMax = 90 * 24 * 3600)
    val s = FetchSchedule.forConfig(cfg)
    val e = s.setFetchSchedule(entry(30 * 24 * 3600), now, 0L, 1)
    assert(e.fetch_time == now + 24L * 3600 * 1000, "30-day interval clamped to 1 day ahead")
  }

  test("forConfig resolves names and the adaptive shorthand") {
    assert(FetchSchedule.forConfig(CrawlConfig()).isInstanceOf[DefaultFetchSchedule])
    assert(FetchSchedule.forConfig(CrawlConfig(schedule = "adaptive")).isInstanceOf[AdaptiveFetchSchedule])
    assert(FetchSchedule.forConfig(CrawlConfig(schedule = "mime")).isInstanceOf[MimeAdaptiveFetchSchedule])
    assert(FetchSchedule.forConfig(CrawlConfig(schedule = "cc")).isInstanceOf[CCFetchSchedule])
  }
}
