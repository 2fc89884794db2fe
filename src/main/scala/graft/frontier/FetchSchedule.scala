package graft.frontier

import graft.schema.FrontierEntry

/** Re-fetch scheduling — when is a page due again?
  *
  * Semantics from the reference's schedule hierarchy
  * (reference/src/java/org/apache/nutch/crawl/AbstractFetchSchedule.java:110-154,
  * DefaultFetchSchedule.java:31-47, AdaptiveFetchSchedule.java:303-357):
  *  - default: next fetch = fetch time + interval
  *  - retry:   next fetch = fetch time + 1 day, retries + 1
  *  - gone:    interval ← interval * 1.5, capped at 0.9 * maxInterval
  *  - adaptive: interval shrinks on change, grows on not-modified, clamped.
  */
trait FetchSchedule extends Serializable {
  def cfg: CrawlConfig

  /** New page entering the frontier. */
  def initialize(e: FrontierEntry, now: Long): FrontierEntry =
    e.copy(fetch_time = now, fetch_interval = cfg.fetchIntervalDefault)

  /** Successful (or redirect/notmodified) fetch at fetchTime; modified:
    * 0 = unknown, 1 = modified, 2 = not modified. */
  def setFetchSchedule(e: FrontierEntry, fetchTime: Long, modifiedTime: Long, modified: Int): FrontierEntry

  def setPageRetrySchedule(e: FrontierEntry, fetchTime: Long): FrontierEntry =
    e.copy(fetch_time = fetchTime + 24L * 3600 * 1000, retries = e.retries + 1)

  def setPageGoneSchedule(e: FrontierEntry, fetchTime: Long): FrontierEntry = {
    val newInterval =
      math.min(e.fetch_interval * 1.5f, cfg.fetchIntervalMax * 0.9f).toInt.max(1)
    e.copy(fetch_interval = newInterval, fetch_time = fetchTime + newInterval * 1000L)
  }

  /** Interval overflow guard (db.fetch.interval.max exceeded ⇒ re-fetch now,
    * back to db_unfetched as in the reference's forceRefetch). */
  def forceRefetch(e: FrontierEntry, now: Long): FrontierEntry =
    e.copy(
      status = graft.schema.CrawlStatus.DB_UNFETCHED,
      fetch_time = now,
      fetch_interval = cfg.fetchIntervalDefault,
      retries = 0,
      signature = null,
      modified_time = 0L
    )
}

/** Fixed-interval schedule. */
case class DefaultFetchSchedule(cfg: CrawlConfig) extends FetchSchedule {
  override def setFetchSchedule(e: FrontierEntry, fetchTime: Long, modifiedTime: Long, modified: Int): FrontierEntry =
    e.copy(fetch_time = fetchTime + e.fetch_interval * 1000L, retries = 0)
}

/** Adaptive schedule: interval *(1-dec) when content changed,
  * *(1+inc) when unchanged; clamped to [min, max]. */
case class AdaptiveFetchSchedule(cfg: CrawlConfig) extends FetchSchedule {
  override def setFetchSchedule(e: FrontierEntry, fetchTime: Long, modifiedTime: Long, modified: Int): FrontierEntry = {
    val interval0 = e.fetch_interval.toFloat
    val interval1 = modified match {
      case 1 => interval0 * (1.0f - cfg.adaptiveDecRate) // changed → check sooner
      case 2 => interval0 * (1.0f + cfg.adaptiveIncRate) // unchanged → back off
      case _ => interval0
    }
    val clamped = math.min(math.max(interval1, cfg.adaptiveMinInterval.toFloat), cfg.fetchIntervalMax.toFloat).toInt
    e.copy(fetch_time = fetchTime + clamped * 1000L, fetch_interval = clamped, retries = 0)
  }
}

/** Per-mime adaptive rates (reference MimeAdaptiveFetchSchedule.java:
  * adaptive inc/dec chosen by the page's Content-Type, read from the
  * frontier metadata the fetch stage propagates; defaults otherwise). */
case class MimeAdaptiveFetchSchedule(cfg: CrawlConfig) extends FetchSchedule {
  override def setFetchSchedule(e: FrontierEntry, fetchTime: Long, modifiedTime: Long, modified: Int): FrontierEntry = {
    val (inc, dec) = e.metadata.get("content_type")
      .flatMap(cfg.mimeScheduleRates.get)
      .getOrElse((cfg.adaptiveIncRate, cfg.adaptiveDecRate))
    val interval0 = e.fetch_interval.toFloat
    val interval1 = modified match {
      case 1 => interval0 * (1.0f - dec)
      case 2 => interval0 * (1.0f + inc)
      case _ => interval0
    }
    val clamped = math.min(math.max(interval1, cfg.adaptiveMinInterval.toFloat), cfg.fetchIntervalMax.toFloat).toInt
    e.copy(fetch_time = fetchTime + clamped * 1000L, fetch_interval = clamped, retries = 0)
  }
}

/** CommonCrawl schedule (reference CCFetchSchedule.java:28-113): Default
  * semantics plus (a) fetch intervals exceeding db.fetch.interval.max are
  * RESET to max instead of triggering forceRefetch churn, on every schedule
  * event, and (b) next fetch time clamped to fetchTime + ccMaxDaysAhead days
  * (db.fetch.time.max.days.ahead) so one bad interval can't push a page past
  * the crawl horizon. */
case class CCFetchSchedule(cfg: CrawlConfig) extends FetchSchedule {
  private def clampInterval(i: Int): Int = math.min(i, cfg.fetchIntervalMax)
  private def clampTime(t: Long, fetchTime: Long): Long =
    if (cfg.ccMaxDaysAhead > 0) math.min(t, fetchTime + cfg.ccMaxDaysAhead * 24L * 3600 * 1000)
    else t

  override def setFetchSchedule(e: FrontierEntry, fetchTime: Long, modifiedTime: Long, modified: Int): FrontierEntry = {
    val interval = clampInterval(e.fetch_interval)
    e.copy(fetch_time = clampTime(fetchTime + interval * 1000L, fetchTime),
      fetch_interval = interval, retries = 0)
  }
  override def setPageRetrySchedule(e: FrontierEntry, fetchTime: Long): FrontierEntry =
    super.setPageRetrySchedule(e.copy(fetch_interval = clampInterval(e.fetch_interval)), fetchTime)
  override def setPageGoneSchedule(e: FrontierEntry, fetchTime: Long): FrontierEntry =
    super.setPageGoneSchedule(e.copy(fetch_interval = clampInterval(e.fetch_interval)), fetchTime)
}

object FetchSchedule {
  def forConfig(cfg: CrawlConfig): FetchSchedule = cfg.schedule match {
    case "adaptive" => AdaptiveFetchSchedule(cfg)
    case "mime"     => MimeAdaptiveFetchSchedule(cfg)
    case "cc"       => CCFetchSchedule(cfg)
    case _          => DefaultFetchSchedule(cfg)
  }
}
