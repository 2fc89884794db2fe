package graft.cli

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.fetch.{FetchPartitionMetrics, FetchedPage, Fetcher, PolitenessExecutor, SyntheticFetcher}
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.{CrawlConfig, Dedup, Inject, UpdateDb}
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
    * round N+1 on the unchanged time base. */
  def inject(
      spark: SparkSession,
      store: TableStore,
      seedLines: Dataset[String],
      cfg: CrawlConfig,
      now: Long,
      overwrite: Boolean = false,
      update: Boolean = false
  ): Long = {
    import spark.implicits._
    import org.apache.spark.sql.Observation
    val existing = store.loadAs[FrontierEntry](spark, "frontier")
      .getOrElse(spark.emptyDataset[FrontierEntry])
    val merged = Inject.run(existing, seedLines, cfg, now, overwrite, update)
    val obs = Observation("inject" + System.nanoTime())
    val round = store.lastCompletedRound.getOrElse(0)
    val tag = if (store.current("frontier").isEmpty) "" else store.freshTag("frontier", round, "inject")
    store.commit("frontier", merged.toDF().observe(obs, count(lit(1)).as("n")), round, tag)
    obs.get("n").asInstanceOf[Long]
  }

  /** One full crawl round over the given fetcher. Reads the frontier at the
    * last committed snapshot, commits frontier/fetched/parsed at `round`.
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
      now: Long,
      dedupEachRound: Boolean = true
  ): RoundStats = {
    // a span-serving fetcher can never explode one task into several fetched
    // rows, so updatedb may keep its one-fetch-row-per-URL fast plan
    val cfg = cfg0.copy(fetchMultiDoc = fetcher.multiDoc)
    import spark.implicits._
    import org.apache.spark.sql.Observation
    import org.apache.spark.storage.StorageLevel
    val t0 = System.nanoTime()
    val stageMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed[A](name: String)(f: => A): A = {
      val s = System.nanoTime()
      spark.sparkContext.setJobDescription(s"round$round:$name") // guide §1.5
      val r = try f finally spark.sparkContext.setJobDescription(null)
      stageMs.update(name, (System.nanoTime() - s) / 1000000)
      r
    }
    // every frame the round materializes, released at round end
    val held = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def checkpoint[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
      val cp = localCheckpointAsCached(spark, ds, eager)
      held += cp
      cp
    }

    // snapshots load by their known schema (no footer-inference job), once
    val frontier = store.loadAs[FrontierEntry](spark, "frontier")
      .getOrElse(throw new IllegalStateException("no frontier — run inject first"))

    // hot-host salting from the previous round's host stats (data-driven
    // generate-domain-limits): hosts with big pending mass spread over k keys
    val prevHostStats = if (cfg.updateHostDb) store.loadAs[HostStats](spark, "host_stats") else None
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
        _.select(col("host"), expr(e).as("delay_ms")).filter(col("delay_ms").isNotNull)))

    // domain mode's exactness-vs-skew lineage warning: count domains whose
    // eligible run exceeded the per-partition target (no extra job — the
    // accumulator rides the existing generate mapPartitions)
    val domainSkewAcc: Option[org.apache.spark.util.LongAccumulator] =
      if (cfg.generateCountMode == "domain")
        Some(spark.sparkContext.longAccumulator(s"generate_domain_skew_r$round"))
      else None
    val metricsAcc: CollectionAccumulator[FetchPartitionMetrics] =
      spark.sparkContext.collectionAccumulator[FetchPartitionMetrics]("fetch_metrics")

    // job 1: write fetched (materializes generate → fetch → pages; counts observed)
    // fetched/parsed/side tables are per-round derived outputs: history replay
    // after an explicit frontier resetTo legitimately re-commits them
    // (allowRewind); the frontier commit itself keeps the strict guard.
    val obsFetch = Observation(s"fetch_r$round")
    val (markedFrontier, pages) = timed("generate+fetch+write") {
      // --- generate ---
      val (fetchlist0, marked) =
        Generator.generate(frontier, cfg, now, round, hostSalt, badHosts, hostDelays, domainSkewAcc)
      // two consumers (fetch input + mark-back broadcast) ONLY when the
      // mark-back runs; on the default path pages is the sole consumer and a
      // persist would just materialize 4M rows twice
      val fetchlist =
        if (cfg.generateUpdateDb) { val p = fetchlist0.persist(StorageLevel.MEMORY_AND_DISK); held += p; p }
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
      // lazy: creating the checkpoint runs generate's exchange; this write
      // then fetches every page once and keeps it
      val pages = checkpoint(scored, eager = false)
      graft.functions.GraftFunctions.register(spark)
      store.commit("fetched",
        pages.toDF().observe(obsFetch, count(lit(1)).as("fetched"))
          .drop("spans")
          // resolved mime (header-normalized | by-extension | default) as a
          // first-class crawl_fetch column, like the reference's parse_data
          .withColumn("mime", call_function("mime_resolve", col("content_type"), col("url"))),
        round, allowRewind = true)
      (marked, pages)
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

    // --- URL-seen bloom (north rule): reuse the session-cached broadcast
    //     when it matches the committed blob (sequential rounds pay the
    //     delta merge, never a full blob reload + re-broadcast — O(bloom)
    //     per round otherwise, ~1.2 GB at 10^9 URLs); else load the blob;
    //     build-once from the frontier if absent (first round / migration).
    //     Saturated filters rebuild from the frontier at 2× capacity. ---
    var seenFromCache = false
    val seen: Option[graft.seen.UrlSeen.SeenSet] =
      if (!cfg.useSeenBloom) None
      else {
        val snap = store.current("seen_bloom")
        val cached = snap.flatMap(s =>
          graft.seen.UrlSeen.cachedFor(store.root, s.path, s.committedAtMs))
        seenFromCache = cached.isDefined
        val loaded = cached.orElse(
          store.loadBlob("seen_bloom").map(graft.seen.UrlSeen.fromBytes(spark, _)))
        loaded match {
          case Some(sf) if !sf.saturated => Some(sf)
          case other =>
            seenFromCache = false
            val cap = other match {
              case Some(sf) => math.max(cfg.bloomExpectedItems, sf.approxInserted * 2)
              case None => cfg.bloomExpectedItems
            }
            Some(graft.seen.UrlSeen.build(
              frontier.toDF().select(col("url_hash")), cap, cfg.bloomFpp,
              shards = cfg.seenBloomShards))
        }
      }

    // --- updatedb. generate.update.crawldb=false (reference default): the
    //     unmarked frontier feeds the co-group and the mark-back join NEVER
    //     RUNS (markedFrontier is lazy) — one fewer frontier-wide shuffle
    //     per round. When true, the _ngt_ stamp rides in and persists. ---
    val dbIn = if (cfg.generateUpdateDb) markedFrontier else frontier
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
        else UpdateDb.run(dbIn, fetchUpdates, linked, cfg, now, seen)
      // plan evidence hook (guide §7.2): dump the merge's physical plan once
      // per process when asked — the loaded-round twin of PlanDump
      if (sys.env.contains("GRAFT_EXPLAIN_UPDATEDB") && round == 1)
        System.err.println("[updatedb plan]\n" + merged.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
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
        graft.functions.GraftFunctions.register(spark)
        df.repartition(cfg.frontierBuckets, pmod(col("url_hash"), lit(cfg.frontierBuckets)))
          .sortWithinPartitions(reverse(col("host")), col("url_hash"))
      }
    timed("updatedb+dedup+write") {
      val finalFrontier = if (dedupEachRound) Dedup.markDuplicates(newFrontier) else newFrontier
      store.commit("frontier",
        layout(finalFrontier.toDF()).observe(obsDb,
          count(lit(1)).as("size"),
          count(when(col("status") === CrawlStatus.DB_UNFETCHED, 1)).as("unfetched")), round)
    }
    val frontierSize = obsDb.get("size").asInstanceOf[Long]
    val unfetched = obsDb.get("unfetched").asInstanceOf[Long]

    // --- URL-seen bloom maintenance: the delta is exactly the merged
    //     frontier's bloom-missing hashes — a filter over the CHECKPOINTED
    //     new frontier (zero rows in a steady-state round), then a tiny
    //     bloom aggregation + blob swap. No link re-canonicalization, no
    //     committed-parquet re-read. ---
    seen.foreach { sf =>
      timed("seen_bloom") {
        val newHashes = newFrontier.toDF()
          .filter(!graft.seen.UrlSeen.mightContainCol(spark, sf, col("url_hash")))
          .select(col("url_hash"))
        val merged = graft.seen.UrlSeen.merged(spark, sf, newHashes, 0L)
          .withApproxInserted(math.max(sf.approxInserted, frontierSize))
        // allowRewind: after an explicit frontier resetTo the replayed rounds
        // re-commit the blob at lower rounds; the bloom is a monotone
        // superset, so a rewound pointer is still correct
        val snap = store.commitBlob("seen_bloom", graft.seen.UrlSeen.toBytes(merged), round,
          allowRewind = true)
        // broadcast lifecycle: the blob is the durable copy; the MERGED set
        // becomes the session cache entry (next round reuses it when the
        // blob identity matches — no reload, no re-broadcast) and every
        // superseded broadcast not shared with the successor is destroyed
        // (a sharded merge replaces ONE shard; the other k-1 are shared), so
        // a crawl session holds at most one live set per store
        graft.seen.UrlSeen.cacheFor(store.root, snap.path, snap.committedAtMs, merged)
        if (!seenFromCache) graft.seen.UrlSeen.destroyDiff(sf, merged)
      }
    }

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
      val fresh = graft.frontier.LinkDb.invert(pages, cfg.maxInlinks)
      val merged = store.load(spark, "linkdb") match {
        case Some(prev) => graft.frontier.LinkDb.merge(prev, fresh, cfg.maxInlinks)
        case None => fresh
      }
      store.commit("linkdb", merged, round, allowRewind = true)
    }

    // --- per-partition lineage + metrics (north rule; from accumulators,
    //     no extra pass): the fetch partition rows, the round-level stage
    //     lineage (wall ms per stage) and the domain-mode skew warning
    //     (generate_skew row: input_rows = # domains over the per-partition
    //     target — nonzero means domain mode is stalling partitions on this
    //     frontier; switch to host mode + salting), written as ONE append
    //     per round; readers tell the rows apart by `stage` ---
    import scala.jdk.CollectionConverters._
    val fetchMetrics = metricsAcc.value.asScala.toSeq
    val fetchRows = fetchMetrics.map(m =>
      RoundMetric(round, "fetch", m.partition_id, m.input_rows,
        m.fetched + m.robots_denied + m.robots_deferred + m.retries + m.redirects + m.gone,
        m.fetched, m.robots_denied, m.retries, m.virtual_ms))
    val skewRows = domainSkewAcc.toSeq.filter(_.value > 0).map(acc =>
      RoundMetric(round, "generate_skew", -1, acc.value, 0, 0, 0, 0, 0))
    val stageRows = stageMs.toSeq.map { case (stage, ms) =>
      RoundMetric(round, stage, -1, 0, 0, 0, 0, 0, ms)
    }
    store.appendMetrics(
      spark.createDataset(fetchRows ++ stageRows ++ skewRows).toDF().coalesce(1), round, "round")
    val virtualMsMax = if (fetchMetrics.isEmpty) 0L else fetchMetrics.map(_.virtual_ms).max
    val generated = fetchMetrics.map(_.input_rows).sum

    held.foreach(graft.ops.release)

    RoundStats(round, generated, fetchedPages, parsedCount, frontierSize, unfetched,
      (System.nanoTime() - t0) / 1000000, virtualMsMax, stageMs.toMap)
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

  /** Post-commit URL-seen maintenance for out-of-band frontier writers (ARC
    * import, mid-crawl merge tools): merge the just-committed frontier's
    * bloom-missing url hashes into the live filter (session cache first,
    * else blob) and swap the blob + cache, with the same broadcast lifecycle
    * as the round loop. Without this, the next regular round reuses a STALE
    * bloom and UpdateDbColumnar's bloom-miss fast path re-inserts imported
    * URLs rediscovered as outlinks as brand-new frontier rows (duplicate
    * keys). When no blob exists yet, builds one from the frontier (same as
    * the round loop's first-round path); saturated filters rebuild at 2×. */
  def maintainSeenBloom(
      spark: SparkSession,
      store: TableStore,
      cfg: CrawlConfig,
      round: Int,
      frontierSize: Long
  ): Unit = {
    if (!cfg.useSeenBloom) return
    import graft.seen.UrlSeen
    val frontierKeys = store.loadAs[FrontierEntry](spark, "frontier")
      .getOrElse(return).select(col("url_hash"))
    val snapB = store.current("seen_bloom")
    val cached = snapB.flatMap(s => UrlSeen.cachedFor(store.root, s.path, s.committedAtMs))
    val fromCache = cached.isDefined
    val loaded = cached.orElse(
      store.loadBlob("seen_bloom").map(UrlSeen.fromBytes(spark, _)))
    val (merged, superseded) = loaded match {
      case Some(sf) if !sf.saturated =>
        val newHashes = frontierKeys
          .filter(!UrlSeen.mightContainCol(spark, sf, col("url_hash")))
        (UrlSeen.merged(spark, sf, newHashes, 0L)
          .withApproxInserted(math.max(sf.approxInserted, frontierSize)),
          if (fromCache) None else Some(sf))
      case other =>
        val cap = other.map(sf => math.max(cfg.bloomExpectedItems, sf.approxInserted * 2))
          .getOrElse(cfg.bloomExpectedItems)
        // a cache-origin saturated filter is destroyed by cacheFor's
        // displacement below — passing it as superseded too would
        // double-destroy the same broadcasts (SparkException)
        (UrlSeen.build(frontierKeys, cap, cfg.bloomFpp, shards = cfg.seenBloomShards)
          .withApproxInserted(frontierSize), if (fromCache) None else other)
    }
    val snap = store.commitBlob("seen_bloom", UrlSeen.toBytes(merged), round,
      allowRewind = true)
    UrlSeen.cacheFor(store.root, snap.path, snap.committedAtMs, merged)
    superseded.foreach(sf => UrlSeen.destroyDiff(sf, merged))
  }

  /** Resume-aware multi-round driver: continues after the last committed
    * round (checkpoint = the frontier manifest). */
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
