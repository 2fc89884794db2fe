package graft.cli

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.fetch.{FetchPartitionMetrics, FetchedPage, Fetcher, PolitenessExecutor, SyntheticFetcher}
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.{CrawlConfig, Dedup, Inject, UpdateDb}
import graft.functions.GraftFunctions
import graft.generate.Generator
import graft.parse.Parse
import graft.schema._
import graft.store.{SnapshotStore, TableStore}

/** The crawl round loop (SURVEY.md §3.1): each round is an incremental batch
  * — inject (round 0) → generate → fetch → parse → updatedb → dedup — ending
  * in atomic snapshot commits, resumable from the last committed round
  * (Structured-Streaming shape: deterministic batches + exactly-once sinks).
  *
  * Shuffle points match the reference's four (inject-merge, generate-select,
  * updatedb; the generate-partition shuffle is fused into generate-select);
  * fetch and parse stay partition-local.
  */
object CrawlRound {

  case class RoundStats(
      round: Int,
      generated: Long,
      fetchedPages: Long,
      parsedDocs: Long,
      frontierSize: Long,
      frontierUnfetched: Long,
      wallMs: Long,
      virtualMsMax: Long,
      stageMs: Map[String, Long] = Map.empty
  )

  /** Seed the frontier. First inject commits round 0; a mid-crawl inject
    * (StreamingInject, incremental seed feeds) commits AT the last completed
    * round under a fresh `injectK` tag — the checkpoint never rewinds, the
    * historical snapshots stay immutable, and the next crawl() continues at
    * round N+1 on the unchanged time base. `chained`: see Inject.parseSeedLine. */
  def inject(
      spark: SparkSession,
      store: TableStore,
      seedLines: Dataset[String],
      cfg: CrawlConfig,
      now: Long,
      overwrite: Boolean = false,
      update: Boolean = false,
      chained: Boolean = false
  ): Long = {
    import spark.implicits._
    import org.apache.spark.sql.Observation
    val existing = store.loadAs[FrontierEntry](spark, "frontier")
      .getOrElse(spark.emptyDataset[FrontierEntry])
    val merged = Inject.run(existing, seedLines, cfg, now, overwrite, update, chained)
    val obs = Observation("inject" + System.nanoTime())
    val round = store.lastCompletedRound.getOrElse(0)
    val tag = if (store.current("frontier").isEmpty) "" else store.freshTag("frontier", round, "inject")
    store.commit("frontier", merged.toDF().observe(obs, count(lit(1)).as("n")), round, tag)
    obs.get("n").asInstanceOf[Long]
  }

  /** One full crawl round over the given fetcher. Reads the frontier at the
    * last committed snapshot, commits frontier/fetched/parsed at `round`.
    *
    * Two heads, one tail. This crawl head generates the fetch list and
    * fetches it; [[importPages]] is the archive head (ARC/WARC containers,
    * the reference's ArcSegmentCreator). Each hands its
    * `Dataset[FetchedPage]` to the same round tail: the fetched and parsed
    * commits, the updatedb merge, dedup, the frontier write, the seen-bloom
    * swap, hostdb/invertlinks, the round's one metrics append and the
    * release of every held frame.
    *
    * The URL-seen bloom invariant — the committed filter covers every
    * frontier `url_hash` — is [[graft.seen.UrlSeen]]'s alone: the tail opens
    * the round's set before the merge (`UrlSeen.open`: session cache, blob
    * or build, plus any frontier hashes written since the blob) and
    * advances it after the frontier commit (`UrlSeen.advance`: delta merge,
    * blob commit, broadcast swap).
    *
    * Materialization: the round computes three frames once each and cuts
    * their lineage there with `localCheckpoint` — the fetched `pages`, the
    * aggregated `linked` updates and the merged frontier. Every later
    * consumer (parse, the merge, dedup, the frontier write, the seen-bloom
    * delta, hostdb) then plans from a `LogicalRDD` leaf instead of
    * re-analysing the generate → fetch → parse → merge lineage. Each
    * checkpoint is created inside the timed stage that first consumes it and
    * released ([[graft.ops.release]]) after its last consumer: `linked`
    * right after the merge, the others at round end. Trade-off: a
    * checkpoint block lost with its executor fails the round instead of
    * being recomputed; the crawl then resumes from the last committed
    * snapshot. Local mode is unaffected (its executor shares the one JVM).
    *
    * Jobs of a warm loaded round (perfbench `loaded_round`, `local[4]`;
    * AQE runs one job per shuffle-map stage), 25 in all: the hot-host salt
    * (1); generate+fetch+write (2: generate's exchange, run when the `pages`
    * checkpoint is created, and the fetched write); parse+write (1);
    * updatedb_materialize (11: the link explode/pre-aggregation stages, run
    * when the `linked` checkpoint is created, the merge's stages and the
    * one materialize pass, the merged frontier's eager checkpoint);
    * updatedb+dedup+write (3); seen_bloom (1, update-sized); hostdb (5);
    * the metrics append (1). Row counts ride on the writes as
    * `Observation`s; the materialize pass is the only standalone count.
    * The mark-back broadcast build runs ONLY under
    * generate.update.crawldb=true. */
  def run(
      spark: SparkSession,
      store: TableStore,
      fetcher: Fetcher,
      cfg0: CrawlConfig,
      round: Int,
      now: Long
  ): RoundStats = {
    // a span-serving fetcher can never explode one task into several fetched
    // rows, so updatedb may keep its one-fetch-row-per-URL fast plan
    val cfg = cfg0.copy(fetchMultiDoc = fetcher.multiDoc)
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // snapshots load by their known schema (no footer-inference job), once
    val frontier = store.loadAs[FrontierEntry](spark, "frontier")
      .getOrElse(throw new IllegalStateException("no frontier — run inject first"))
    val tail = new Tail(spark, store, cfg, round, now, frontier)

    // hot-host salting from the previous round's host stats (data-driven
    // generate-domain-limits): hosts with big pending mass spread over k keys
    val prevHostStats = tail.prevHostStats
    val hostSalt: Map[String, Int] =
      prevHostStats
        .map(ds => graft.frontier.HostDb.hotHostSalt(ds,
          hotThreshold = math.max(cfg.maxPerHost.toLong * 4, cfg.topN / math.max(1, cfg.numFetchPartitions)),
          perPartitionTarget = math.max(1L, cfg.topN / math.max(1, cfg.numFetchPartitions))))
        .getOrElse(Map.empty)
    // hostdb exception throttle: skip hosts with too many cumulative failures
    val badHosts: Option[org.apache.spark.sql.DataFrame] =
      if (cfg.skipHostsWithExceptions <= 0) None
      else prevHostStats.map(_.filter(col("exceptions") > cfg.skipHostsWithExceptions).select("host"))
    // variable fetch delay: evaluate the configured expression over hostdb
    // rows (null = default delay, filtered before the broadcast)
    val hostDelays: Option[org.apache.spark.sql.DataFrame] =
      cfg.fetchDelayExpr.flatMap(e => prevHostStats.map(
        _.select(col("host"), GraftFunctions.sqlExpr(spark, e).as("delay_ms"))
          .filter(col("delay_ms").isNotNull)))

    // domain mode's exactness-vs-skew lineage warning: count domains whose
    // eligible run exceeded the per-partition target (no extra job — the
    // accumulator rides the existing generate mapPartitions)
    val domainSkewAcc: Option[org.apache.spark.util.LongAccumulator] =
      if (cfg.generateCountMode == "domain")
        Some(spark.sparkContext.longAccumulator(s"generate_domain_skew_r$round"))
      else None
    val metricsAcc: CollectionAccumulator[FetchPartitionMetrics] =
      spark.sparkContext.collectionAccumulator[FetchPartitionMetrics]("fetch_metrics")

    tail.run("generate+fetch+write") {
      // --- generate ---
      val (fetchlist0, marked) =
        Generator.generate(frontier, cfg, now, round, hostSalt, badHosts, hostDelays, domainSkewAcc)
      // two consumers (fetch input + mark-back broadcast) ONLY when the
      // mark-back runs; on the default path pages is the sole consumer and a
      // persist would just materialize 4M rows twice
      val fetchlist =
        if (cfg.generateUpdateDb) { val p = fetchlist0.persist(StorageLevel.MEMORY_AND_DISK); tail.held += p; p }
        else fetchlist0

      // --- fetch (politeness executor, partition-local) ---
      val pages0: Dataset[FetchedPage] = fetchlist.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        PolitenessExecutor.run(pid, it, fetcher, cfg, now, round, metricsAcc.add(_))
      }
      // scoring-similarity: parsed pages re-scored by cosine vs the gold
      // standard BEFORE anything consumes them (passScoreAfterParsing) — the
      // gold model is tiny and rides the task closure
      val scored = cfg.scoringSimilarityGold match {
        case Some(goldText) =>
          graft.score.SimilarityScoring.rescorePages(pages0,
            graft.score.SimilarityScoring.goldModel(goldText))
        case None => pages0
      }
      // --- updatedb input. generate.update.crawldb=false (reference
      //     default): the unmarked frontier feeds the co-group and the
      //     mark-back join NEVER RUNS (`marked` is lazy) — one fewer
      //     frontier-wide shuffle per round. When true, the _ngt_ stamp
      //     rides in and persists. ---
      (scored, if (cfg.generateUpdateDb) marked else frontier)
    } {
      // per-partition fetch lineage (from the accumulator, no extra pass)
      // and the domain-mode skew warning (generate_skew row: input_rows = #
      // domains over the per-partition target — nonzero means domain mode
      // is stalling partitions on this frontier; switch to host mode +
      // salting)
      import scala.jdk.CollectionConverters._
      metricsAcc.value.asScala.toSeq.map(m =>
        RoundMetric(round, "fetch", m.partition_id, m.input_rows,
          m.fetched + m.robots_denied + m.robots_deferred + m.retries + m.redirects + m.gone,
          m.fetched, m.robots_denied, m.retries, m.virtual_ms)) ++
        domainSkewAcc.toSeq.filter(_.value > 0).map(acc =>
          RoundMetric(round, "generate_skew", -1, acc.value, 0, 0, 0, 0, 0))
    }
  }

  /** The archive head: pages read from ARC/WARC containers enter the round
    * tail like fetched ones, so an import is an ordinary round — commits,
    * updatedb, dedup, the seen bloom, host_stats and stage timings. The
    * frontier defaults to empty when none is committed, and `fetchMultiDoc`
    * stays on because an archive can hold one URL twice. `headRows`
    * (evaluated at round end) ride the round's metrics append. */
  private[cli] def importPages(
      spark: SparkSession,
      store: TableStore,
      cfg: CrawlConfig,
      round: Int,
      now: Long,
      pages: Dataset[FetchedPage],
      headRows: => Seq[RoundMetric]
  ): RoundStats = {
    import spark.implicits._
    val frontier = store.loadAs[FrontierEntry](spark, "frontier")
      .getOrElse(spark.emptyDataset[FrontierEntry])
    new Tail(spark, store, cfg.copy(fetchMultiDoc = true), round, now, frontier)
      .run("import+write")((pages, frontier))(headRows)
  }

  /** The post-fetch half of a round, shared by both heads. `frontier` is the
    * round's start snapshot. */
  private final class Tail(
      spark: SparkSession,
      store: TableStore,
      cfg: CrawlConfig,
      round: Int,
      now: Long,
      frontier: Dataset[FrontierEntry]
  ) {
    import spark.implicits._
    import org.apache.spark.sql.Observation
    import graft.seen.UrlSeen

    private val t0 = System.nanoTime()
    val prevHostStats: Option[Dataset[HostStats]] =
      if (cfg.updateHostDb) store.loadAs[HostStats](spark, "host_stats") else None

    private val stageMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private def timed[A](name: String)(f: => A): A = {
      val s = System.nanoTime()
      spark.sparkContext.setJobDescription(s"round$round:$name") // guide §1.5
      val r = try f finally spark.sparkContext.setJobDescription(null)
      stageMs.update(name, (System.nanoTime() - s) / 1000000)
      r
    }
    /** Every frame the round materializes, released at round end. */
    val held = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    private def checkpoint[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
      val cp = localCheckpointAsCached(spark, ds, eager)
      held += cp
      cp
    }

    /** Runs `head` (pages + the updatedb input) inside the timed stage
      * `headStage` together with the fetched write, then the rest of the
      * round. `headRows` is evaluated after every stage has run. */
    def run(headStage: String)(
        head: => (Dataset[FetchedPage], Dataset[FrontierEntry]))(
        headRows: => Seq[RoundMetric]): RoundStats = {
      // job 1: write fetched (materializes the head → pages; counts observed)
      // fetched/parsed/side tables are per-round derived outputs: history
      // replay after an explicit frontier resetTo legitimately re-commits
      // them (allowRewind); the frontier commit itself keeps the strict guard.
      val obsFetch = Observation(s"fetch_r$round")
      val (pages, dbIn) = timed(headStage) {
        val (pages0, dbIn) = head
        // lazy: creating the checkpoint runs the head's exchange (generate's);
        // this write then fetches every page once and keeps it
        val pages = checkpoint(pages0, eager = false)
        store.commit("fetched",
          pages.toDF().observe(obsFetch, count(lit(1)).as("fetched"))
            .drop("spans")
            // resolved mime (header-normalized | by-extension | default) as a
            // first-class crawl_fetch column, like the reference's parse_data
            .withColumn("mime", GraftFunctions.mime_resolve(col("content_type"), col("url"))),
          round, allowRewind = true)
        (pages, dbIn)
      }
      val fetchedPages = obsFetch.get("fetched").asInstanceOf[Long]

      // job 2: write parsed (checkpointed pages)
      val obsParse = Observation(s"parse_r$round")
      timed("parse+write") {
        // parsefilter-debug: serialized parser interpretation riding in
        // parse_meta["DOM"] (column-pure; off by default)
        val parsedOut =
          if (cfg.parseFilterDebug) graft.parse.ParseFilters.stampDom(Parse.parsedDocs(pages).toDF())
          else Parse.parsedDocs(pages).toDF()
        store.commit("parsed",
          parsedOut.observe(obsParse, count(lit(1)).as("parsed")), round,
          allowRewind = true)
      }
      val parsedCount = obsParse.get("parsed").asInstanceOf[Long]

      // --- URL-seen bloom (north rule): the round's set, opened from the
      //     session cache, the blob or the frontier ---
      val seen = UrlSeen.open(spark, store, cfg, frontier.toDF())

      // urlmeta: tagged parents only (tags start from seeds, so this subset
      // is tiny relative to the frontier — a narrow filter off the existing
      // scan, no frontier-wide shuffle; AQE broadcasts the small side)
      val parentMeta: Option[org.apache.spark.sql.DataFrame] =
        if (cfg.frontierRelayKeys.isEmpty) None
        else {
          Some(frontier.toDF()
            .select(col("url").as("from_url"),
              map_filter(col("metadata"),
                (k, _) => cfg.frontierRelayKeys.map(t => k === lit(t)).reduce(_ || _)).as("urlmeta"))
            .filter(size(col("urlmeta")) > 0))
        }
      // The merged frontier feeds dedup's three INDEPENDENT sibling stages
      // (candidates, keep-best aggregation, pass-through rest), the frontier
      // write and the seen-bloom delta. Checkpointing it EAGERLY in its own
      // pass computes the merge exactly once: on a cold lazy materialization
      // the siblings race for it and their blocked tasks hold slots, ~tripling
      // the merge's wall cost (measured: three concurrent ~1.6 s stages). The
      // link updates are checkpointed lazily here too: creating the checkpoint
      // runs their explode/canonicalize/pre-aggregation stages once, and the
      // merge (its seen and new branches under the bloom split) reads them
      // from a leaf. Only the merge reads them, so they and the link
      // pipeline's own cache are released as soon as the merge is.
      val newFrontier = timed("updatedb_materialize") {
        val fetchUpdates = Parse.fetchUpdates(pages, cfg)
        val linkFrames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
        val linked = localCheckpointAsCached(spark,
          Parse.linkedUpdates(pages, cfg, round, parentMeta, linkFrames += _), eager = false)
        linkFrames += linked
        val merged =
          if (cfg.columnarUpdateDb) graft.frontier.UpdateDbColumnar.run(dbIn, fetchUpdates, linked, cfg, now, seen)
          else UpdateDb.run(dbIn, fetchUpdates, linked, cfg, now)
        val cp = checkpoint(merged, eager = true)
        linkFrames.foreach(graft.ops.release)
        cp
      }
      val obsDb = Observation(s"updatedb_r$round")
      // optional storage layout: bucket by url_hash (min/max pruning turns the
      // point lookup into a partial scan) + sort by reversed host (locality —
      // SURVEY.md §1.2 partitioning note)
      def layout(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        if (cfg.frontierBuckets <= 0) df
        else {
          df.repartition(cfg.frontierBuckets, pmod(col("url_hash"), lit(cfg.frontierBuckets)))
            .sortWithinPartitions(reverse(col("host")), col("url_hash"))
        }
      timed("updatedb+dedup+write") {
        store.commit("frontier",
          layout(Dedup.markDuplicates(newFrontier).toDF()).observe(obsDb,
            count(lit(1)).as("size"),
            count(when(col("status") === CrawlStatus.DB_UNFETCHED, 1)).as("unfetched")), round)
      }
      val frontierSize = obsDb.get("size").asInstanceOf[Long]
      val unfetched = obsDb.get("unfetched").asInstanceOf[Long]

      // --- URL-seen bloom maintenance: the delta is a filter over the
      //     CHECKPOINTED merged frontier (zero rows in a steady-state round),
      //     then a tiny bloom aggregation + blob swap ---
      seen.foreach(s => timed("seen_bloom") {
        UrlSeen.advance(spark, store, s, newFrontier.toDF(), frontierSize, round)
      })

      // --- optional per-round side tables ---
      if (cfg.updateHostDb) timed("hostdb") {
        // aggregate from the just-committed frontier: a (host, status, score)
        // column-pruned parquet scan — cheaper than re-deriving the dedup'd
        // frontier, and semantics match the committed snapshot. `prev` is the
        // round's start snapshot of host_stats (nothing commits it in between)
        val committed = store.loadAs[FrontierEntry](spark, "frontier").get
        store.commit("host_stats",
          graft.frontier.HostDb.fromFrontier(committed, now, Some(pages.toDF()),
            prev = prevHostStats.map(_.toDF())).toDF(),
          round, allowRewind = true)
      }
      if (cfg.invertLinks) timed("invertlinks") {
        // the reference's invertlinks runs over the NEW segment and merges
        // into the existing linkdb (LinkDbMerger) — a round that fetched
        // nothing must not wipe the graph
        val fresh = graft.frontier.LinkDb.invert(pages, cfg)
        val merged = store.load(spark, "linkdb") match {
          case Some(prev) => graft.frontier.LinkDb.merge(prev, fresh, cfg.maxInlinks)
          case None => fresh
        }
        store.commit("linkdb", merged, round, allowRewind = true)
      }

      // --- lineage + metrics (north rule; no extra pass): the head's rows
      //     and the round-level stage lineage (wall ms per stage), written
      //     as ONE append per round; readers tell the rows apart by `stage` ---
      val rows = headRows
      val stageRows = stageMs.toSeq.map { case (stage, ms) =>
        RoundMetric(round, stage, -1, 0, 0, 0, 0, 0, ms)
      }
      store.appendMetrics(
        spark.createDataset(rows ++ stageRows).toDF().coalesce(1), round, "round")
      val fetchRows = rows.filter(_.stage == "fetch")
      val virtualMsMax = if (fetchRows.isEmpty) 0L else fetchRows.map(_.duration_ms).max
      val generated = fetchRows.map(_.input_rows).sum

      held.foreach(graft.ops.release)

      RoundStats(round, generated, fetchedPages, parsedCount, frontierSize, unfetched,
        (System.nanoTime() - t0) / 1000000, virtualMsMax, stageMs.toMap)
    }
  }

  /** `ds.localCheckpoint(eager)` with the partitioning a persisted plan gets:
    * like CacheManager, AQE leaves the final stage's shuffle partitions as
    * planned (no coalescing). The layout is part of the round's result: the
    * next round's generate breaks score ties in scan order, so a coalesced
    * merged frontier would fetch a different (equally valid) set of URLs. */
  private def localCheckpointAsCached[T](spark: SparkSession, ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val key = "spark.sql.adaptive.applyFinalStageShuffleOptimizations"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, false)
    try ds.localCheckpoint(eager)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Resume-aware multi-round driver: continues after the last committed
    * round (checkpoint = the frontier's current snapshot). */
  def crawl(
      spark: SparkSession,
      store: TableStore,
      fetcher: Fetcher,
      cfg: CrawlConfig,
      rounds: Int,
      startTimeMs: Long,
      roundIntervalMs: Long = 24L * 3600 * 1000
  ): Seq[RoundStats] = {
    val first = store.lastCompletedRound.getOrElse(0) + 1
    (first until first + rounds).map { r =>
      run(spark, store, fetcher, cfg, r, startTimeMs + (r - 1) * roundIntervalMs)
    }
  }

  /** Convenience: full synthetic-web crawl from scratch in a temp store. */
  def syntheticCrawl(
      spark: SparkSession,
      web: SyntheticWeb,
      cfg: CrawlConfig,
      rounds: Int,
      storeRoot: String
  ): (SnapshotStore, Seq[RoundStats]) = {
    import spark.implicits._
    val store = new SnapshotStore(storeRoot)
    val startTime = 1700000000000L // fixed epoch: no ambient clock in the pipeline
    inject(spark, store, web.seedUrls.toDS(), cfg, startTime)
    val fetcher = SyntheticFetcher(web, cfg.fetchLatencyMs)
    (store, crawl(spark, store, fetcher, cfg, rounds, startTime))
  }
}
