package graft.generate

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.frontier.CrawlConfig
import graft.schema.{CrawlStatus, FetchTask, FrontierEntry}

/** Fetchlist generation (SURVEY.md §2.5).
  *
  * The reference's Generator/Generator2 select+partition jobs
  * (reference/src/java/org/apache/nutch/crawl/Generator.java:219-296,516-643,
  * Generator2.java:283-317) re-expressed Spark-first:
  *
  *  1. eligibility filters (due by fetch_time, generate-delay block,
  *     min-score, hostdb exception throttle) — plain `Dataset.filter`,
  *     pushed below the shuffle;
  *  2. OPIC priority queue = salted repartition-by-host +
  *     `sortWithinPartitions(desc(score))` (the north rule's realization);
  *  3. per-host / per-domain caps + per-partition topN — stateful
  *     `mapPartitions` over the score-sorted stream (order-dependent
  *     running counts, like the reference's reducer — NOT a window), with
  *     SEGMENT SPILL: over-cap rows roll into the next segment (up to
  *     generate.max.num.segments, Generator.java:487-560) instead of
  *     waiting a whole round;
  *  4. politeness interleave — `sortWithinPartitions` on (segment,
  *     position-weighted URL hash) so one host's URLs are spread out;
  *  5. mark-back: stamp generate_time onto selected URLs in the frontier
  *     so the next generate skips them (crawl.gen.delay).
  *
  * Skew: hot hosts listed in `hostSalt` are spread over k partition keys
  * (hash(host) + hash(url) % k) — the reference's generate-domain-limits
  * salting (URLPartitioner.java:128-133) generalized to per-host counts.
  */
/** Narrow generate-shuffle row: the FetchTask scalars + precomputed sort
  * value and depth — what the generate repartition actually needs to ship. */
private[generate] case class GenRow(
    url: String,
    url_hash: Long,
    host: String,
    domain: String,
    status: Byte,
    fetch_time: Long,
    retries: Int,
    fetch_interval: Int,
    score: Float,
    sv: Double,
    depth: Int
)

object Generator {

  /** Mark-back broadcasts the selected set up to this many URLs. */
  private val MarkBackBroadcastMaxUrls = 200000L

  /** Salted partition key. saltMap: host → number of partition keys to spread
    * over. The salt is mixed INTO the hash (not added to it): k well-separated
    * key values survive the shuffle hash uniformly, where k consecutive values
    * would re-collide. */
  def partitionKey(urlCol: Column, hostCol: Column, saltMap: Map[String, Int]): Column = {
    if (saltMap.isEmpty) xxhash64(hostCol)
    else {
      val k = coalesce(element_at(typedLit(saltMap), hostCol), lit(1)).cast("long")
      xxhash64(hostCol, pmod(xxhash64(urlCol), k))
    }
  }

  /** The generator sort value (scoring-filter generatorSortValue): the raw
    * OPIC score by default; the scoring-adaptive expression when that
    * plugin is on (see score/AdaptiveScoring.sortValue). */
  def sortValue(cfg: CrawlConfig, now: Long): Column =
    if (cfg.scoringAdaptive) graft.score.AdaptiveScoring.sortValue(cfg, now)
    else col("score").cast("double")

  def eligible(
      frontier: Dataset[FrontierEntry],
      cfg: CrawlConfig,
      now: Long,
      badHosts: Option[DataFrame] = None
  ): Dataset[FrontierEntry] = {
    val base = frontier
      .filter(col("status").isin(
        CrawlStatus.DB_UNFETCHED.toInt, CrawlStatus.DB_FETCHED.toInt,
        CrawlStatus.DB_NOTMODIFIED.toInt, CrawlStatus.DB_REDIR_TEMP.toInt,
        CrawlStatus.DB_REDIR_PERM.toInt))
      .filter(col("fetch_time") <= now)
      .filter(col("generate_time") < 0 || col("generate_time") + cfg.generateDelayMs <= now)
      // generate.min.score thresholds the scoring-filter SORT VALUE
      // (reference Generator.java:225-231 applies scoreThreshold to
      // scfilters.generatorSortValue) — raw score under OPIC, the adaptive
      // sort expression under scoring-adaptive
      .filter(sortValue(cfg, now) >= cfg.minScore)
    // user predicate over frontier columns — the reference's JEXL expression
    // filter (CrawlDatum.execute), deliberately re-based on Spark SQL text so
    // Catalyst can push/reorder it
    val filtered = cfg.generateExprFilter.fold(base)(e => base.filter(
      graft.functions.GraftFunctions.sqlExpr(frontier.sparkSession, e)))
    // hostdb exception throttle (reference generator hostdb checks): hosts
    // with too many cumulative fetch failures skipped this round. The bad-host
    // set is tiny by construction → broadcast anti-join, no frontier shuffle.
    badHosts match {
      case Some(bad) =>
        import filtered.sparkSession.implicits._
        filtered.toDF().join(bad.select(col("host")).hint("broadcast"), Seq("host"), "left_anti")
          .as[FrontierEntry]
      case None => filtered
    }
  }

  /** Generate the round's fetchlist. Returns (fetchlist, updated frontier with
    * generate_time stamped on selected rows). Each FetchTask carries its
    * segment index (0-based); with maxNumSegments > 1 a hot host contributes
    * up to maxPerHost × maxNumSegments URLs per generate, ≤ maxPerHost per
    * segment — the reference's multi-fetchlist spill. */
  def generate(
      frontier: Dataset[FrontierEntry],
      cfg: CrawlConfig,
      now: Long,
      round: Int,
      hostSalt: Map[String, Int] = Map.empty,
      badHosts: Option[DataFrame] = None,
      hostDelays: Option[DataFrame] = None,
      domainSkewAcc: Option[org.apache.spark.util.LongAccumulator] = None
  ): (Dataset[FetchTask], Dataset[FrontierEntry]) = {
    val spark = frontier.sparkSession
    import spark.implicits._

    val p = cfg.numFetchPartitions
    val perPartitionLimit = math.max(1L, (cfg.topN + p - 1) / p)
    val maxPerHost = cfg.maxPerHost
    val maxPerDomain = cfg.maxPerDomain
    val nSegments = math.max(1, cfg.maxNumSegments)
    // generate.count.mode=domain: the Generator2 shape (reference
    // crawl/Generator2.java:283-317,1217-1221) — partition by hash(domain),
    // secondary sort (domain asc, score desc) so each domain arrives as one
    // contiguous best-first run, per-domain reducer state cleared at every
    // domain boundary (O(one domain) memory, and maxPerDomain is EXACT
    // because a domain never splits across partitions).
    //
    // SKEW TRADE (domain mode only): cap exactness requires a whole domain
    // in one partition, so hot-host SALTING IS DISABLED — one mega-domain
    // stalls its partition at scale (the same trade the reference's
    // Generator2 makes). Host mode + salting is strictly better on skewed
    // frontiers; domain mode is for cap EXACTNESS. `domainSkewAcc` counts
    // domains whose eligible run exceeded the per-partition target — a
    // nonzero count is the "this frontier is too skewed for domain mode"
    // lineage warning (CrawlRound records it as a generate_skew metric).
    val byDomain = cfg.generateCountMode == "domain"
    val depthOn = cfg.scoringDepthMax > 0
    val keyCol = if (byDomain) col("domain") else col("host")
    // best-first ordering: the scoring filter's generatorSortValue — raw
    // score under OPIC, the adaptive expression under scoring-adaptive
    // (stays a Catalyst column, so it rides INSIDE the sortWithinPartitions
    // codegen — no extra pass, no UDF)
    val sortExpr = sortValue(cfg, now)
    val sortCols = if (byDomain) Seq(col("domain"), col("sv").desc) else Seq(col("sv").desc)

    // project-early (shuffle fewer bytes): the generate repartition is a
    // frontier-wide shuffle, and the reducer needs only the FetchTask
    // scalars — metadata maps, signatures, repr_url and modified_time would
    // otherwise ride it for nothing. The sort value (which may read
    // metadata under scoring-adaptive) and the depth stamp are computed
    // BEFORE the exchange as plain columns.
    val depthCol =
      if (depthOn) coalesce(element_at(col("metadata"), "_depth_").cast("int"), lit(1))
      else lit(1)
    val narrow = eligible(frontier, cfg, now, badHosts).toDF()
      .select(col("url"), col("url_hash"), col("host"), col("domain"),
        col("status"), col("fetch_time"), col("retries"), col("fetch_interval"),
        col("score"), sortExpr.as("sv"), depthCol.as("depth"))

    val selected: Dataset[FetchTask] = narrow
      // domain mode partitions purely by domain hash (Generator2 has no
      // salting — cap exactness requires the whole domain in one partition)
      .repartition(p, partitionKey(col("url"), keyCol, if (byDomain) Map.empty else hostSalt))
      .sortWithinPartitions(sortCols: _*)
      .as[GenRow]
      .mapPartitions { it =>
        // order-dependent running caps, mirroring the reference reducer's
        // per-host counting with segment overflow (Generator.java:516-560):
        // a row lands in the first segment with host/domain/count headroom
        val hostCount = Array.fill(nSegments)(mutable.HashMap.empty[String, Int])
        val domainCount = Array.fill(nSegments)(mutable.HashMap.empty[String, Int])
        val emitted = new Array[Long](nSegments)
        var lastDomain: String = null
        var domainRun = 0L // eligible rows consumed for the current domain
        def noteDomainBoundary(): Unit = {
          if (domainRun > perPartitionLimit) domainSkewAcc.foreach(_.add(1))
          domainRun = 0L
        }
        val main = it.flatMap { e =>
          if (byDomain && e.domain != lastDomain) {
            // contiguous domains: per-domain state resets at the boundary
            noteDomainBoundary()
            var s = 0
            while (s < nSegments) { hostCount(s).clear(); domainCount(s).clear(); s += 1 }
            lastDomain = e.domain
          }
          if (byDomain) domainRun += 1
          var seg = -1
          var s = 0
          while (seg < 0 && s < nSegments) {
            if (emitted(s) < perPartitionLimit &&
                hostCount(s).getOrElse(e.host, 0) < maxPerHost &&
                domainCount(s).getOrElse(e.domain, 0) < maxPerDomain) seg = s
            s += 1
          }
          if (seg < 0) Iterator.empty
          else {
            hostCount(seg).update(e.host, hostCount(seg).getOrElse(e.host, 0) + 1)
            domainCount(seg).update(e.domain, domainCount(seg).getOrElse(e.domain, 0) + 1)
            emitted(seg) += 1
            Iterator(FetchTask(e.url, e.url_hash, e.host, e.domain, e.status,
              e.fetch_time, e.retries, e.fetch_interval, e.score, seg,
              depth = e.depth))
          }
        }
        // flush the final domain's run check after the input drains (by-name
        // ++ operand: evaluated only once `main` is exhausted)
        main ++ { if (byDomain) noteDomainBoundary(); Iterator.empty[FetchTask] }
      }
      // variable fetch delay (_variableFetchDelay_, reference
      // crawl/Generator.java:429-483): stamp the per-host delay computed
      // from HostDb onto selected tasks. The delay table is pre-filtered to
      // hosts with a NON-default delay (typically few), so the broadcast
      // join is small and preserves the partitioning/narrow plan.
      .transform { ds =>
        hostDelays match {
          case Some(hd) =>
            val delays = broadcast(hd.select(col("host"),
              col("delay_ms").cast("long").as("_vfd")).filter(col("_vfd").isNotNull))
            ds.toDF().drop("fetch_delay_ms")
              .join(delays, Seq("host"), "left_outer")
              .withColumn("fetch_delay_ms", coalesce(col("_vfd"), lit(-1L)))
              .drop("_vfd")
              .as[FetchTask]
          case None => ds
        }
      }
      // politeness interleave: segments contiguous, same-host URLs spread out
      // within each segment
      .sortWithinPartitions(col("segment"),
        graft.functions.GraftFunctions.url_hash_interleave(col("url")))

    // mark-back join (reference Generator.java:1002-1040): stamp _ngt_.
    // The selected set is ≤ topN×segments rows (tiny vs the frontier):
    // broadcast it when broadcast-sized so the frontier is never shuffled;
    // at very large topN fall back to a shuffle join (AQE decides).
    val selRaw = selected.select(col("url").as("sel_url")).distinct()
    val sel =
      if (cfg.topN * nSegments <= MarkBackBroadcastMaxUrls) broadcast(selRaw) else selRaw
    val updated = frontier
      .join(sel, frontier("url") === sel("sel_url"), "left_outer")
      .withColumn("generate_time",
        when(col("sel_url").isNotNull, lit(now)).otherwise(col("generate_time")))
      .drop("sel_url")
      .as[FrontierEntry]

    (selected, updated)
  }
}
