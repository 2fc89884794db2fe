package graft.frontier

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

import graft.schema._
import graft.url.Urls

/** The updatedb merge — the heart of the frontier (SURVEY.md §2.10).
  *
  * Semantics replicated from the reference's reduce-side state machine
  * (reference/src/java/org/apache/nutch/crawl/CrawlDbReducer.java:64-324,
  * test matrix src/test/.../TestCrawlDbStates.java:62-192):
  * co-group {old frontier row} ∪ {fetch results} ∪ {inlink credits} by URL,
  * keep latest fetch by time, cap inlinks at maxInlinks keeping the
  * highest-score ones (bounded heap — the skew guard for mega-inlink URLs),
  * then drive the status state machine + fetch schedule + OPIC score update.
  *
  * Spark realization: one `groupByKey(url).flatMapGroups` over a typed
  * union Dataset[FrontierUpdate] — a single shuffle, exactly where the
  * reference shuffles.
  */
object UpdateDb {

  import CrawlStatus._

  /** scoring-orphan: metadata key holding the last-inlinked time (epoch s) —
    * the reference's `_orphan_` (OrphanScoringFilter.ORPHAN_KEY_WRITABLE). */
  final val OrphanKey = "_orphan_"

  /** The reference's OrphanScoringFilter.orphanedScore (scoring-orphan
    * plugin :93-112): a row that was NOT inlinked this round is checked
    * against its last-inlinked stamp; unlinked longer than markOrphanAfter ⇒
    * db_orphan, longer than markGoneAfter ⇒ db_gone. Rows never stamped are
    * left alone (the filter only acts once a stamp exists). */
  def orphanedScore(e: FrontierEntry, cfg: CrawlConfig, now: Long): FrontierEntry =
    e.metadata.get(OrphanKey).flatMap(_.toLongOption) match {
      case Some(lastInlinked) =>
        val elapsed = now / 1000L - lastInlinked
        if (elapsed > cfg.orphanOrphanAfterSec) e.copy(status = DB_ORPHAN)
        else if (elapsed > cfg.orphanGoneAfterSec) e.copy(status = DB_GONE)
        else e
      case None => e
    }

  /** Pure per-URL merge. Exposed for the state-matrix spec. */
  def merge(
      url: String,
      updates: Iterator[FrontierUpdate],
      cfg: CrawlConfig,
      schedule: FetchSchedule,
      now: Long
  ): Option[FrontierEntry] = {
    var old: FrontierUpdate = null
    var fetch: FrontierUpdate = null
    var fetchIsLink = false
    // bounded min-heap on score: keeps the top-maxInlinks inlink credits
    val inlinks = mutable.PriorityQueue.empty[FrontierUpdate](Ordering.by[FrontierUpdate, Float](_.score).reverse)

    updates.foreach { u =>
      u.kind match {
        case "old" =>
          if (old == null || u.fetch_time > old.fetch_time) old = u
        case "fetch" =>
          // latest fetch wins; ties broken deterministically (status, score) —
          // duplicate fetches of one URL are real with in-task redirect
          // following (two partitions may follow to the same target)
          if (fetch == null || fetchIsLink ||
              Ordering[(Long, Byte, Float)].gt(
                (u.fetch_time, u.status, u.score),
                (fetch.fetch_time, fetch.status, fetch.score))) { fetch = u; fetchIsLink = false }
        case "linked" =>
          inlinks.enqueue(u)
          if (inlinks.size > cfg.maxInlinks) inlinks.dequeue() // drop lowest score
        case _ => // ignore unknown kinds
      }
    }

    val linkCredit = inlinks.iterator.map(_.score.toDouble).sum.toFloat
    if (fetch == null && inlinks.nonEmpty) {
      // links only: the best link acts as the triggering datum
      fetch = inlinks.maxBy(_.score)
      fetchIsLink = true
    }
    if (fetch == null && old == null) return None
    if (fetch == null) { // orphan: re-emit old unchanged (reference :155-172
      // calls orphanedScore on exactly this not-fetched-not-linked path)
      var pass = toEntry(old, url)
      if (cfg.scoringAdaptive) pass = pass.copy(status =
        graft.score.AdaptiveScoring.orphanStatusFor(pass.status, pass.retries,
          pass.metadata.get(OrphanKey).flatMap(_.toLongOption), cfg, now))
      else if (cfg.scoringOrphan) pass = orphanedScore(pass, cfg, now)
      if (cfg.purgeOrphans && pass.status == DB_ORPHAN) return None
      return Some(pass)
    }

    // additions gate: never create rows for URLs outside the db
    if (!cfg.additionsAllowed && old == null && fetchIsLink) return None

    val host = Urls.hostOf(url)
    val domain = Urls.registeredDomainOf(host)
    val base: FrontierEntry =
      if (old != null) toEntry(old, url)
      else schedule.initialize(
        FrontierEntry(url, Urls.hash64(url), host, domain, DB_UNFETCHED,
          now, 0, cfg.fetchIntervalDefault, 0.0f, null, 0L, null, -1L, Map.empty), now)

    // metadata: old ∪ fetch, fetch wins (reference :182-189)
    val mergedMeta =
      if (old == null) fetch.metadata
      else if (fetchIsLink) base.metadata
      else base.metadata ++ fetch.metadata

    // _ngt_ clears whenever new data merges (reference CrawlDbReducer.java:320
    // removes WRITABLE_GENERATE_TIME_KEY on every fetch/link-driven write) —
    // a fetched-or-linked row is immediately re-generatable when due; the
    // mark persists ONLY on rows written through unchanged (orphan path above)
    var e = base.copy(metadata = mergedMeta, generate_time = -1L)

    e = fetch.status match {
      case s if fetchIsLink =>
        // links only, no real fetch: status unchanged (existing) or db_unfetched (new)
        e

      case FETCH_SUCCESS | FETCH_REDIR_PERM | FETCH_REDIR_TEMP | FETCH_NOTMODIFIED =>
        // modified-state by signature compare (success only, reference :225-239)
        val modified =
          if (fetch.status != FETCH_SUCCESS) 0
          else if (fetch.signature == null || e.signature == null) 1
          else if (java.util.Arrays.equals(fetch.signature, e.signature)) 2
          else 1
        val scheduled = schedule.setFetchSchedule(e, fetch.fetch_time,
          if (fetch.modified_time > 0) fetch.modified_time else e.modified_time, modified)
        val next = fetch.status match {
          case FETCH_NOTMODIFIED =>
            // keep old signature + previous modified time (reference :245-253)
            scheduled.copy(status = DB_NOTMODIFIED)
          case FETCH_SUCCESS if modified == 2 =>
            scheduled.copy(status = DB_NOTMODIFIED, signature = e.signature)
          case FETCH_SUCCESS =>
            scheduled.copy(status = DB_FETCHED, signature = fetch.signature,
              modified_time = fetch.fetch_time)
          case FETCH_REDIR_PERM =>
            scheduled.copy(status = DB_REDIR_PERM, signature = fetch.signature,
              repr_url = fetch.repr_url)
          case _ =>
            scheduled.copy(status = DB_REDIR_TEMP, signature = fetch.signature,
              repr_url = fetch.repr_url)
        }
        // interval overflow ⇒ force re-fetch (reference :276-281)
        if (next.fetch_interval > cfg.fetchIntervalMax) schedule.forceRefetch(next, fetch.fetch_time)
        else next

      case FETCH_RETRY =>
        val retried = schedule.setPageRetrySchedule(e, fetch.fetch_time)
        if (retried.retries < cfg.retryMax) retried.copy(status = DB_UNFETCHED)
        else schedule.setPageGoneSchedule(retried, fetch.fetch_time).copy(status = DB_GONE)

      case FETCH_GONE =>
        schedule.setPageGoneSchedule(e, fetch.fetch_time).copy(status = DB_GONE)

      case other =>
        e // unknown fetch status: keep as-is
    }

    if (cfg.purge404 && e.status == DB_GONE) return None

    // Scoring: OPIC accumulates inlink credits (reference
    // OPICScoringFilter.java:100-110). scoring-similarity instead takes the
    // page's own similarity score from the fetch datum (stamped at parse),
    // keeps existing rows' scores on link-only updates (updateDbScore is a
    // no-op for that plugin), and new link-only rows inherit the best
    // parent's score (the reference's link-triggered datum).
    var out =
      if (cfg.scoringSimilarityGold.isEmpty) e.copy(score = e.score + linkCredit)
      else if (!fetchIsLink) e.copy(score = fetch.score)
      else if (old != null) e
      else e.copy(score = inlinks.iterator.map(_.score).max)
    // scoring-orphan updateDbScore (plugin :77-91): inlinked this round ⇒
    // stamp last-inlinked = now; otherwise run the orphan/gone check.
    // scoring-adaptive shares the stamp but retires with PER-STATUS spans
    // (AdaptiveScoringFilter.orphanedScore:407-457, db_orphan only).
    if (cfg.lastSeenTracking) {
      out =
        if (inlinks.nonEmpty) out.copy(metadata = out.metadata + (OrphanKey -> (now / 1000L).toString))
        else if (cfg.scoringAdaptive) out.copy(status =
          graft.score.AdaptiveScoring.orphanStatusFor(out.status, out.retries,
            out.metadata.get(OrphanKey).flatMap(_.toLongOption), cfg, now))
        else orphanedScore(out, cfg, now)
      if (cfg.purgeOrphans && out.status == DB_ORPHAN) return None
    }
    Some(out)
  }

  private def toEntry(u: FrontierUpdate, url: String): FrontierEntry = {
    val host = Urls.hostOf(url)
    FrontierEntry(url, Urls.hash64(url), host, Urls.registeredDomainOf(host),
      u.status, u.fetch_time, u.retries, u.fetch_interval, u.score, u.signature,
      u.modified_time, u.repr_url, u.generate_time, u.metadata)
  }

  def asOld(e: FrontierEntry): FrontierUpdate =
    FrontierUpdate(e.url, "old", e.status, e.fetch_time, e.retries,
      e.fetch_interval, e.score, e.signature, e.modified_time, e.repr_url, e.metadata,
      e.generate_time)

  /** Distributed updatedb: frontier ∪ fetch results ∪ inlink credits → new
    * frontier, one co-group by URL through [[merge]]. The reference merge the
    * columnar path (with its URL-seen split) is checked against. */
  def run(
      frontier: Dataset[FrontierEntry],
      fetched: Dataset[FrontierUpdate],
      linked: Dataset[FrontierUpdate],
      cfg: CrawlConfig,
      now: Long
  ): Dataset[FrontierEntry] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val schedule = FetchSchedule.forConfig(cfg)
    frontier.map(asOld).unionByName(fetched).unionByName(linked)
      .groupByKey(_.url)
      .flatMapGroups((url, it) => merge(url, it, cfg, schedule, now).iterator)
  }
}
