package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{url_domain, url_hash64, url_host}
import graft.schema.{CrawlStatus, FrontierEntry, FrontierUpdate}

/** Whole-stage-codegen updatedb: the same state machine as UpdateDb.merge,
  * expressed as two outer joins + column expressions.
  *
  * Valid because the round pipeline guarantees at most ONE row per URL on
  * each side (the fetchlist is distinct; link credits are pre-aggregated in
  * Parse.linkedUpdates), so the reference's co-group degenerates to joins —
  * and Tungsten executes them without a single object allocation per row,
  * where the typed flatMapGroups path allocates case classes + maps for
  * every row (GC-bound at 32 threads).
  *
  * UpdateDb.merge (the typed reference implementation) remains the
  * semantic oracle: UpdateDbSpec drives the transition matrix through it,
  * and UpdateDbColumnarSpec asserts columnar ≡ typed on full crawl rounds.
  */
object UpdateDbColumnar {
  import CrawlStatus._

  def run(
      frontier: Dataset[FrontierEntry],
      fetched: Dataset[FrontierUpdate],
      linked0: Dataset[FrontierUpdate],
      cfg: CrawlConfig,
      now: Long,
      seen: Option[graft.seen.UrlSeen.SeenSet] = None
  ): Dataset[FrontierEntry] = {
    val spark = frontier.sparkSession
    import spark.implicits._

    // URL-seen bloom prefilter (north rule): discovered links whose hash the
    // bloom has never seen are DEFINITELY new — they cannot match a frontier
    // row, so they skip the frontier join entirely and are constructed
    // directly (identical expressions to the join's no-match branch). The
    // maybe-seen slice (bloom hit, fpp-bounded) rides the exact join as
    // before, so a false positive only costs a join probe, never a wrong row.
    // With in-task redirect following (redirectMax > 0), in-task outlink
    // follow, or a multi-doc fetcher (ParseResult containers emit sub-doc
    // fetch rows for URLs no frontier row has seen) a brand-new URL can
    // ALSO appear on the fetch side; those must co-group with their fetch
    // row, so they are routed back to the join via an anti-join against the
    // (update-sized) fetch set — skipped entirely on the span-serving
    // synthetic path where one task is provably one fetch row.
    val (linked, directNew): (Dataset[FrontierUpdate], Option[org.apache.spark.sql.DataFrame]) =
      seen match {
        case Some(sf) if cfg.additionsAllowed =>
          // codegen'd membership probe (BloomMightContainLong) — the whole
          // 16M-row/round link split stays inside whole-stage codegen
          val withHash = linked0.toDF()
            .withColumn("_h", url_hash64(col("url")))
          val mightContain = graft.seen.UrlSeen.mightContainCol(spark, sf, col("_h"))
          val seenSide = withHash.filter(mightContain)
          val newCand = withHash.filter(!mightContain)
          val (newRows, backToJoin) =
            if (cfg.redirectMax > 0 || cfg.followOutlinksDepth > 0 || cfg.fetchMultiDoc) {
              val fUrls = fetched.toDF().select(col("url"))
              (newCand.join(fUrls, Seq("url"), "left_anti"),
               newCand.join(fUrls, Seq("url"), "left_semi"))
            } else (newCand, newCand.limit(0))
          val direct = newRows.select(
            col("url"),
            col("_h").as("url_hash"),
            url_host(col("url")).as("host"),
            url_domain(url_host(col("url"))).as("domain"),
            lit(DB_UNFETCHED).cast("byte").as("status"),
            lit(now).as("fetch_time"),
            lit(0).as("retries"),
            lit(cfg.fetchIntervalDefault).as("fetch_interval"),
            col("score").cast("float").as("score"),
            lit(null).cast("binary").as("signature"),
            lit(0L).as("modified_time"),
            lit(null).cast("string").as("repr_url"),
            lit(-1L).as("generate_time"),
            // definitely-new link rows keep their own metadata (depth stamp);
            // scoring-orphan stamps them as inlinked-now (they ARE links)
            {
              val base = coalesce(col("metadata"),
                map_from_arrays(array().cast("array<string>"), array().cast("array<string>")))
              if (cfg.lastSeenTracking)
                map_concat_safe(base, map(lit(UpdateDb.OrphanKey), lit((now / 1000L).toString))).as("metadata")
              else base.as("metadata")
            })
          (seenSide.unionByName(backToJoin).drop("_h").as[FrontierUpdate], Some(direct))
        case _ => (linked0, None)
      }

    val old = frontier.toDF().select(
      col("url"), col("url_hash"), col("host"), col("domain"),
      col("status").as("o_status"), col("fetch_time").as("o_time"),
      col("retries").as("o_retries"), col("fetch_interval").as("o_interval"),
      col("score").as("o_score"), col("signature").as("o_sig"),
      col("modified_time").as("o_mod"), col("repr_url").as("o_repr"),
      col("metadata").as("o_meta"), col("generate_time").as("o_gen"))

    // similarity mode needs the fetch row's own score (the page's cosine
    // score stamped at parse); the default OPIC path ships no extra column
    val simOn = cfg.scoringSimilarityGold.isDefined

    // ---- update side: fetch ⋈ link co-group on NARROW rows first ----
    // The former shape chained the two full-outer joins frontier⋈fetch, then
    // ⋈links on coalesce(url, f_url): a full-outer join's output partition-
    // ing is unknown, so the second join re-shuffled the FULL-WIDTH merged
    // frontier rows — an extra frontier-sized wide exchange per round.
    // Joining the two UPDATE sides together first moves that middle exchange
    // onto the narrow update rows (≤ topN fetch rows + pre-aggregated link
    // credits), and the frontier then pays exactly one wide exchange.
    // (A union + one aggregation would be narrower still, but max_by over a
    // struct carrying the metadata MAP cannot hash-aggregate — Spark plans
    // a SortAggregate, i.e. two full sorts of the union: measured slower.)
    val f0 = fetched.toDF().select(Seq(
      col("url").as("f_url"), col("status").as("f_status"),
      col("fetch_time").as("f_time"), col("signature").as("f_sig"),
      col("repr_url").as("f_repr"), col("metadata").as("f_meta")) ++
      (if (simOn) Seq(col("score").as("f_score")) else Nil): _*)
    // the co-group assumes ONE fetch row per URL; with in-task redirect,
    // outlink follow, OR a multi-doc fetcher the same URL can be fetched
    // twice (two partitions follow to one target, a followed target was also
    // generated, or two containers list the same sub-document) — dedup
    // latest-wins with the same deterministic (time, status, score) order as
    // the typed merge
    val f = if (cfg.redirectMax <= 0 && cfg.followOutlinksDepth <= 0 && !cfg.fetchMultiDoc) f0
      else {
        val f0s = fetched.toDF().select(
          col("url").as("f_url"), col("status").as("f_status"),
          col("fetch_time").as("f_time"), col("signature").as("f_sig"),
          col("repr_url").as("f_repr"), col("metadata").as("f_meta"),
          col("score").as("f_score"))
        f0s.groupBy(col("f_url"))
          .agg(max_by(
            struct(col("f_status"), col("f_time"), col("f_sig"), col("f_repr"), col("f_meta"),
              col("f_score")),
            struct(col("f_time"), col("f_status"), col("f_score"))).as("_w"))
          .select(Seq(col("f_url"), col("_w.f_status").as("f_status"), col("_w.f_time").as("f_time"),
            col("_w.f_sig").as("f_sig"), col("_w.f_repr").as("f_repr"), col("_w.f_meta").as("f_meta")) ++
            (if (simOn) Seq(col("_w.f_score").as("f_score")) else Nil): _*)
      }

    // link metadata only exists when depth scoring, urlmeta tags or
    // scoring-metadata relays stamp it — the default path must not drag a
    // per-row map column through the join shuffle
    val l =
      if (cfg.scoringDepthMax > 0 || cfg.frontierRelayKeys.nonEmpty || cfg.pageRelayKeys.nonEmpty)
        linked.toDF().select(
          col("url").as("l_url"), col("score").as("l_credit"),
          col("metadata").as("l_meta"))
      else
        linked.toDF().select(
          col("url").as("l_url"), col("score").as("l_credit"),
          lit(null).cast("map<string,string>").as("l_meta"))

    val upd = f
      .join(l.hint("shuffle_hash"), col("f_url") === col("l_url"), "full_outer")
      .withColumn("u_url", coalesce(col("f_url"), col("l_url")))

    // deliberate join strategy (guide §3.1): both joins get a SHUFFLE_HASH
    // hint on their update-sized side, so the frontier is hashed against a
    // per-partition build table instead of paying a full sort on both sides
    // of a sort-merge join. Spark ≥3.1 executes full-outer shuffled-hash
    // joins; AQE skew split still applies.
    val joined = old
      .join(upd.hint("shuffle_hash"), col("url") === col("u_url"), "full_outer")

    val url = coalesce(col("url"), col("u_url"))
    val hasOld = col("o_status").isNotNull
    val hasFetch = col("f_status").isNotNull
    val hasLink = col("l_credit").isNotNull

    // base (= old row, or a schedule-initialized new row)
    val bInterval = coalesce(col("o_interval"), lit(cfg.fetchIntervalDefault))
    val bRetries = coalesce(col("o_retries"), lit(0))
    val bScore = coalesce(col("o_score"), lit(0.0f))
    val bSig = col("o_sig") // null for new
    val bTime = coalesce(col("o_time"), lit(now))
    val bMod = coalesce(col("o_mod"), lit(0L))

    val fs = col("f_status")
    val isSuccess = fs === FETCH_SUCCESS
    val isRedirP = fs === FETCH_REDIR_PERM
    val isRedirT = fs === FETCH_REDIR_TEMP
    val isNotMod = fs === FETCH_NOTMODIFIED
    val isRetry = fs === FETCH_RETRY
    val isGone = fs === FETCH_GONE
    val isScheduled = isSuccess || isRedirP || isRedirT || isNotMod

    // modified detection (success only): 1 = modified, 2 = not modified
    val modified = when(isSuccess,
      when(col("f_sig").isNull || bSig.isNull, 1)
        .when(col("f_sig") === bSig, 2)
        .otherwise(1)).otherwise(0)

    // schedule arithmetic (Default / Adaptive / MimeAdaptive / CC per cfg),
    // same column-expression twin discipline as the rest of this file
    val schedInterval: Column = cfg.schedule match {
      case "default" => bInterval
      case "cc" => least(bInterval, lit(cfg.fetchIntervalMax)) // reset-to-max, no refetch churn
      case _ => // adaptive | mime: per-mime rates fall back to the adaptive defaults
        val (incC, decC): (Column, Column) =
          if (cfg.schedule == "mime" && cfg.mimeScheduleRates.nonEmpty) {
            // merged old∪fetch metadata (fetch wins), like the typed path's
            // mergedMeta — a redirect row without a Content-Type falls back
            // to the mime recorded by an earlier successful fetch
            val ct = element_at(map_concat_safe(col("o_meta"), col("f_meta")), "content_type")
            (coalesce(element_at(typedLit(cfg.mimeScheduleRates.view.mapValues(_._1).toMap), ct),
               lit(cfg.adaptiveIncRate)),
             coalesce(element_at(typedLit(cfg.mimeScheduleRates.view.mapValues(_._2).toMap), ct),
               lit(cfg.adaptiveDecRate)))
          } else (lit(cfg.adaptiveIncRate), lit(cfg.adaptiveDecRate))
        val raw = when(modified === 1, bInterval.cast("float") * (lit(1.0f) - decC))
          .when(modified === 2, bInterval.cast("float") * (lit(1.0f) + incC))
          .otherwise(bInterval.cast("float"))
        least(greatest(raw, lit(cfg.adaptiveMinInterval.toFloat)), lit(cfg.fetchIntervalMax.toFloat))
          .cast("int")
    }
    val schedTimeRaw = col("f_time") + schedInterval.cast("long") * 1000L
    val schedTime =
      if (cfg.schedule == "cc" && cfg.ccMaxDaysAhead > 0)
        least(schedTimeRaw, col("f_time") + lit(cfg.ccMaxDaysAhead * 24L * 3600 * 1000))
      else schedTimeRaw

    // retry / gone schedules (CC pre-clamps the interval to max, like the
    // typed CCFetchSchedule overrides)
    val bIntervalRG = if (cfg.schedule == "cc") least(bInterval, lit(cfg.fetchIntervalMax)) else bInterval
    val retryRetries = bRetries + 1
    val goneInterval = least(bIntervalRG.cast("float") * 1.5f, lit(cfg.fetchIntervalMax * 0.9f))
      .cast("int")
    val goneIntervalFloored = greatest(goneInterval, lit(1))

    // modified_time propagation on schedule (reference passes fetch modifiedTime or old)
    val schedMod = bMod // FetchResult carries no modified_time in this engine

    // per-fetch-status outcome columns
    val newStatus = when(!hasFetch, coalesce(col("o_status"), lit(DB_UNFETCHED)))
      .when(isNotMod, lit(DB_NOTMODIFIED))
      .when(isSuccess && modified === 2, lit(DB_NOTMODIFIED))
      .when(isSuccess, lit(DB_FETCHED))
      .when(isRedirP, lit(DB_REDIR_PERM))
      .when(isRedirT, lit(DB_REDIR_TEMP))
      .when(isRetry && retryRetries < cfg.retryMax, lit(DB_UNFETCHED))
      .when(isRetry, lit(DB_GONE))
      .when(isGone, lit(DB_GONE))
      .otherwise(coalesce(col("o_status"), lit(DB_UNFETCHED)))

    val newTime = when(!hasFetch, bTime)
      .when(isScheduled, schedTime)
      .when(isRetry && retryRetries < cfg.retryMax, col("f_time") + 24L * 3600 * 1000)
      .when(isRetry || isGone,
        col("f_time") + goneIntervalFloored.cast("long") * 1000L)
      .otherwise(bTime)

    val newInterval = when(!hasFetch, bInterval)
      .when(isScheduled, schedInterval)
      .when(isRetry && retryRetries < cfg.retryMax, bIntervalRG)
      .when(isRetry || isGone, goneIntervalFloored)
      .otherwise(bInterval)

    val newRetries = when(!hasFetch, bRetries)
      .when(isScheduled, lit(0))
      .when(isRetry, retryRetries)
      .otherwise(bRetries)

    val newSig = when(!hasFetch, bSig)
      .when(isNotMod, bSig)
      .when(isSuccess && modified === 2, bSig)
      .when(isSuccess || isRedirP || isRedirT, col("f_sig"))
      .otherwise(bSig)

    val newMod = when(hasFetch && isSuccess && modified === 1, col("f_time"))
      .otherwise(schedMod)

    val newRepr = when(hasFetch && (isRedirP || isRedirT), col("f_repr"))
      .otherwise(col("o_repr"))

    // metadata: old ∪ fetch, fetch wins (both may be null); a link-only NEW
    // row carries the link row's metadata (scoring-depth discovery stamp) —
    // same as the typed path's `old == null ⇒ fetch.metadata`
    val newMeta = when(hasFetch && hasOld, map_concat_safe(col("o_meta"), col("f_meta")))
      .when(hasFetch, coalesce(col("f_meta"), emptyMeta))
      .when(hasOld, coalesce(col("o_meta"), emptyMeta))
      .otherwise(coalesce(col("l_meta"), emptyMeta))

    // Scoring: OPIC sums credits; similarity takes the fetch row's own
    // cosine score, keeps old scores on link-only rows, and lets new
    // link-only rows inherit the (max-pre-aggregated) parent score — the
    // exact twin of the typed merge's scoring branch.
    val newScore =
      if (simOn)
        when(hasFetch, col("f_score"))
          .when(hasOld, bScore)
          .otherwise(coalesce(col("l_credit"), lit(0.0f))).cast("float")
      else (bScore + coalesce(col("l_credit"), lit(0.0f))).cast("float")

    // interval overflow ⇒ forceRefetch (status unfetched, defaults, sig null)
    val overflow = hasFetch && isScheduled && (newInterval > cfg.fetchIntervalMax)

    // scoring-orphan twin (reference plugin OrphanScoringFilter.java:77-112,
    // same split as the typed path): a row inlinked this round gets a fresh
    // last-inlinked stamp in metadata["_orphan_"]; every other emitted row
    // runs the elapsed check on its post-state-machine status (incl. the
    // overflow forceRefetch, which the typed path also resolves first).
    val statusResolved = when(overflow, lit(DB_UNFETCHED)).otherwise(newStatus)
    val (orphanStatus, orphanMeta): (Column, Column) =
      if (!cfg.lastSeenTracking) (statusResolved, newMeta)
      else {
        val nowSec = now / 1000L
        val last = element_at(newMeta, lit(UpdateDb.OrphanKey)).try_cast("long")
        // scoring-adaptive retires with per-status spans (and only ever to
        // db_orphan); plain scoring-orphan keeps the two flat thresholds
        val checked =
          if (cfg.scoringAdaptive)
            graft.score.AdaptiveScoring.orphanStatusExpr(statusResolved,
              when(overflow, lit(0)).otherwise(newRetries), last, cfg, now)
          else when(last.isNotNull && (lit(nowSec) - last) > cfg.orphanOrphanAfterSec, lit(DB_ORPHAN))
            .when(last.isNotNull && (lit(nowSec) - last) > cfg.orphanGoneAfterSec, lit(DB_GONE))
            .otherwise(statusResolved)
        (when(hasLink, statusResolved).otherwise(checked),
         when(hasLink, map_concat_safe(newMeta, map(lit(UpdateDb.OrphanKey), lit(nowSec.toString))))
           .otherwise(newMeta))
      }

    val host = url_host(url)

    val result = joined
      // drop: nothing at all, or link-only when additions are disallowed
      .filter(hasOld || hasFetch || (hasLink && lit(cfg.additionsAllowed)))
      .filter(if (cfg.purge404) newStatus =!= DB_GONE else lit(true))
      .filter(if (cfg.purgeOrphans) orphanStatus =!= DB_ORPHAN else lit(true))
      .select(
        url.as("url"),
        coalesce(col("url_hash"), url_hash64(url)).as("url_hash"),
        coalesce(col("host"), host).as("host"),
        coalesce(col("domain"), url_domain(host)).as("domain"),
        orphanStatus.cast("byte").as("status"),
        when(overflow, coalesce(col("f_time"), lit(now))).otherwise(newTime).as("fetch_time"),
        when(overflow, lit(0)).otherwise(newRetries).cast("int").as("retries"),
        when(overflow, lit(cfg.fetchIntervalDefault)).otherwise(newInterval).cast("int").as("fetch_interval"),
        newScore.as("score"),
        when(overflow, lit(null).cast("binary")).otherwise(newSig).as("signature"),
        when(overflow, lit(0L)).otherwise(newMod).as("modified_time"),
        newRepr.as("repr_url"),
        // _ngt_ clears on any fetch/link-driven write, persists only on
        // pass-through rows (typed-path twin of CrawlDbReducer.java:320)
        when(hasFetch || hasLink, lit(-1L))
          .otherwise(coalesce(col("o_gen"), lit(-1L))).as("generate_time"),
        orphanMeta.as("metadata"))

    val withDirect = directNew match {
      case Some(d) => result.unionByName(d)
      case None => result
    }
    withDirect.as[FrontierEntry]
  }

  private def emptyMeta: Column =
    map_from_arrays(array().cast("array<string>"), array().cast("array<string>"))

  /** map union where the right side wins on key conflict — the shared
    * last-put-wins merge (single definition in GraftFunctions). */
  private def map_concat_safe(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.map_concat_last_wins(a, b)
}
