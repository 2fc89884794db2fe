package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cli.CrawlRound
import graft.cli.CrawlRound.RoundStats
import graft.fetch.{FetchPartitionMetrics, FetchedPage, PolitenessExecutor, SyntheticFetcher}
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.{CrawlConfig, Dedup, HostDb, UpdateDbColumnar}
import graft.generate.Generator
import graft.parse.Parse
import graft.schema.{CrawlStatus, FrontierEntry, HostStats, RoundMetric}
import graft.seen.UrlSeen
import graft.store.{Snapshot, SnapshotStore, TableStore}

/** Snapshot store that counts the bytes each commit leaves on disk and, in a
  * traced run, records a span around every store call. */
final class MeteredStore(inner: SnapshotStore) extends TableStore {
  @transient var tracer: Option[Tracer] = None
  @transient var bytesWritten = 0L

  private def traced[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))

  override def root: String = inner.root
  override def commit(table: String, df: DataFrame, round: Int, tag: String = "",
                      allowRewind: Boolean = false): Snapshot = traced("store.commit") {
    val s = inner.commit(table, df, round, tag, allowRewind)
    bytesWritten += Sizes.bytes(Paths.get(s.path))
    s
  }
  override def freshTag(table: String, round: Int, prefix: String): String =
    inner.freshTag(table, round, prefix)
  override def current(table: String): Option[Snapshot] = inner.current(table)
  override def load(spark: SparkSession, table: String): Option[DataFrame] =
    traced("store.load")(inner.load(spark, table))
  override def loadRound(spark: SparkSession, table: String, round: Int): Option[DataFrame] =
    inner.loadRound(spark, table, round)
  override def resetTo(table: String, round: Int): Unit = inner.resetTo(table, round)
  override def commitBlob(table: String, bytes: Array[Byte], round: Int,
                          allowRewind: Boolean = false): Snapshot = traced("store.commit") {
    val s = inner.commitBlob(table, bytes, round, allowRewind)
    bytesWritten += bytes.length
    s
  }
  override def loadBlob(table: String): Option[Array[Byte]] =
    traced("store.load")(inner.loadBlob(table))
  override def appendMetrics(df: DataFrame, round: Int, stage: String): Unit =
    traced("store.commit") {
      inner.appendMetrics(df, round, stage)
      bytesWritten += Sizes.bytes(Paths.get(root, "round_metrics", s"r$round-$stage"))
    }
  override def metrics(spark: SparkSession): Option[DataFrame] = inner.metrics(spark)
}

object Sizes {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }
}

/** A crawl workload: the synthetic web, what is injected, the round config,
  * how many discovery rounds set-up runs, how many consecutive rounds one
  * measured episode replays from the set-up snapshot, and the least number
  * of measured episodes (their median round counts; the first replays of a
  * session are still 5–20 % slower than the one after each while the JIT
  * catches up). */
final case class CrawlSpec(
    name: String,
    web: WebConfig,
    injectAll: Boolean,
    cfg: CrawlConfig,
    discoveryRounds: Int,
    episodeRounds: Int,
    minTimedEpisodes: Int,
    setups: Int)

object CrawlSpec {
  val StartTime = 1700000000000L
  private val RoundIntervalMs = 24L * 3600 * 1000

  def roundTime(round: Int): Long = StartTime + math.max(0, round - 1) * RoundIntervalMs

  private def config(topN: Long, parts: Int) = CrawlConfig(topN = topN, maxPerHost = 500,
    numFetchPartitions = parts, serverDelayMs = 5000, fetchLatencyMs = 50)

  /** Benchmark sizes. `smoke` shrinks every workload to a few hundred pages. */
  def apply(workload: String, seed: Long, parts: Int, smoke: Boolean): CrawlSpec = workload match {
    case "loaded_round" =>
      val web = if (smoke) WebConfig(nHosts = 20, pagesPerHost = 20, hotFactor = 5, seed = seed)
        else WebConfig(nHosts = 40, pagesPerHost = 350, hotFactor = 25, seed = seed)
      CrawlSpec(workload, web, injectAll = true, config(if (smoke) 300 else 12000, parts),
        discoveryRounds = 0, episodeRounds = 1, minTimedEpisodes = if (smoke) 1 else 3,
        setups = if (smoke) 1 else 3)
    case "incremental_crawl" =>
      val web = if (smoke) WebConfig(nHosts = 20, pagesPerHost = 20, hotFactor = 5, seed = seed)
        else WebConfig(nHosts = 1000, pagesPerHost = 350, hotFactor = 25, seed = seed)
      CrawlSpec(workload, web, injectAll = false, config(if (smoke) 100 else 5000, parts),
        discoveryRounds = if (smoke) 1 else 3, episodeRounds = if (smoke) 1 else 3,
        minTimedEpisodes = 1, setups = if (smoke) 1 else 3)
    case other => throw new IllegalArgumentException(s"not a crawl workload: $other")
  }
}

/** One committed state that every episode starts from. */
final case class BaseState(round: Int, bloom: Array[Byte], hostStatsRound: Option[Int])

final class CrawlBench(spark: SparkSession, spec: CrawlSpec, workDir: Path, ctx: RunContext) {
  import spark.implicits._

  private val web = SyntheticWeb(spec.web)
  private val fetcher = SyntheticFetcher(web, spec.cfg.fetchLatencyMs)

  private def store(i: Int): MeteredStore =
    new MeteredStore(new SnapshotStore(workDir.resolve(s"store-$i").toString))

  /** Set-up, timed in two parts: inject into a fresh store (repeated
    * `spec.setups` times; the median counts), then, on the last store, the
    * discovery rounds (incremental) or one full-size warm-up round that is
    * rolled back (loaded). Returns the store, its base state, the set-up
    * rounds and the set-up time. */
  def setUp(): (MeteredStore, BaseState, Seq[RoundStats], Double) = {
    val injects = (1 to spec.setups).map { i =>
      val st = store(i)
      val s = System.nanoTime()
      val seeds = if (spec.injectAll) web.urls(spark) else web.seedUrls.toDS()
      CrawlRound.inject(spark, st, seeds, spec.cfg, CrawlSpec.StartTime)
      (st, (System.nanoTime() - s) / 1e9)
    }
    injects.init.foreach { case (st, _) => deleteQuietly(Paths.get(st.root)) }
    val st = injects.last._1
    val s = System.nanoTime()
    val history = (1 to spec.discoveryRounds).map(r =>
      CrawlRound.run(spark, st, fetcher, spec.cfg, r, CrawlSpec.roundTime(r)))
    val base = spec.discoveryRounds
    if (spec.injectAll) {
      CrawlRound.run(spark, st, fetcher, spec.cfg, base + 1, CrawlSpec.roundTime(base + 1))
      st.resetTo("frontier", base)
      // the warm-up round's host stats become every replay's input; a replay
      // would otherwise fold its own counters into the next one's host salting
      st.commit("host_stats", spark.read.parquet(st.current("host_stats").get.path), base,
        allowRewind = true)
    }
    val warmS = (System.nanoTime() - s) / 1e9
    System.err.println(f"[perfbench] set-up: inject ${injects.map(_._2).mkString(" ")} s, rounds $warmS%.2f s")
    val hs = if (Files.exists(Paths.get(st.root, "host_stats", s"r$base"))) Some(base) else None
    (st, BaseState(base, st.loadBlob("seen_bloom").get, hs), history,
      Stats.median(injects.map(_._2)) + warmS)
  }

  /** Point the store back at a committed round: frontier, host stats and
    * the seen-bloom blob (the blob pointer is rewound by re-committing it). */
  private def restore(store: MeteredStore, round: Int, bloom: Array[Byte], hostStats: Option[Int]): Unit = {
    store.resetTo("frontier", round)
    hostStats.foreach(store.resetTo("host_stats", _))
    store.commitBlob("seen_bloom", bloom, round, allowRewind = true)
  }

  private val expected: Map[Int, (Long, Long)] = ctx.expectedCrawl(spec.name)

  /** Cheap per-round checks: fetched ≤ fetchlist rows, and on the default seed
    * the recorded (fetched, frontier) pair of that round. */
  private def checkRound(s: RoundStats): Option[String] = {
    if (s.fetchedPages > s.generated)
      Some(s"round ${s.round}: fetched ${s.fetchedPages} > fetchlist ${s.generated}")
    else expected.get(s.round) match {
      case Some(e) if e != ((s.fetchedPages, s.frontierSize)) =>
        Some(s"round ${s.round}: fetched/frontier ${s.fetchedPages}/${s.frontierSize}, recorded ${e._1}/${e._2}")
      case _ => None
    }
  }

  /** Committed-state checks, on the state the last episode left: no
    * duplicate url in the frontier, and no frontier url_hash that the
    * committed seen set reports unseen. */
  def checkState(store: MeteredStore): Option[String] = {
    val frontier = store.load(spark, "frontier").get
    val dups = frontier.groupBy("url").count().filter(col("count") > 1).count()
    val sf = UrlSeen.fromBytes(spark, store.loadBlob("seen_bloom").get)
    val missing = frontier.filter(!UrlSeen.mightContainCol(spark, sf, col("url_hash"))).count()
    sf.broadcasts.foreach(_.destroy())
    if (dups > 0) Some(s"$dups duplicate urls in the committed frontier")
    else if (missing > 0) Some(s"$missing frontier url_hash values missing from the seen set")
    else None
  }

  def run(): RunOutcome = {
    val (store, base, history, setupWork) = setUp()
    val setupS = ctx.sessionStartS + setupWork
    history.foreach { s =>
      System.err.println(s"[perfbench] set-up round ${s.round}: fetched ${s.fetchedPages}, frontier ${s.frontierSize}")
      ctx.attempt(checkRound(s))
    }

    val rounds = mutable.ArrayBuffer.empty[(RoundStats, Double, Long)] // stats, wall s, bytes
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]] // per traced round: layer metrics
    val firstEpisode = mutable.HashMap.empty[Int, (Long, Long)]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var episodes = 0
    val cachePeaks = mutable.ArrayBuffer.empty[Double]
    while (episodes < spec.minTimedEpisodes || System.nanoTime() < deadline) {
      restore(store, base.round, base.bloom, base.hostStatsRound)
      var hostStats = base.hostStatsRound
      for (r <- base.round + 1 to base.round + spec.episodeRounds) {
        val now = CrawlSpec.roundTime(r)
        val bloomBefore = store.loadBlob("seen_bloom").get
        ctx.attempt {
          System.gc() // every timed round starts from the same heap state
          ctx.probe.reset()
          val gc0 = GcProbe.gcSeconds
          store.bytesWritten = 0L
          val s = System.nanoTime()
          val st = CrawlRound.run(spark, store, fetcher, spec.cfg, r, now)
          val wall = (System.nanoTime() - s) / 1e9
          rounds += ((st, wall, store.bytesWritten))
          cachePeaks += ctx.probe.cachePeakMb
          System.err.println(f"[perfbench] round $r: $wall%.2f s, fetched ${st.fetchedPages}, " +
            s"frontier ${st.frontierSize}, stages ${st.stageMs.mkString(" ")}")
          if (ctx.trace) traced += cliLayers(st, wall, GcProbe.gcSeconds - gc0).toMap
          checkRound(st).orElse(firstEpisode.get(r) match {
            case Some(p) if p != ((st.fetchedPages, st.frontierSize)) =>
              Some(s"round $r not reproducible: ${st.fetchedPages}/${st.frontierSize} vs $p")
            case _ => firstEpisode(r) = (st.fetchedPages, st.frontierSize); None
          })
        }
        if (ctx.trace && episodes == 0) {
          val ref = rounds.last._1
          ctx.attempt {
            restore(store, r - 1, bloomBefore, hostStats)
            val (st, layers) = new ComposedRound(spark, store, fetcher, spec.cfg, ctx).run(r, now)
            val untracedWall = rounds.last._2
            traced += layers ++ Seq("trace.overhead_ratio" -> layers("trace.round_s") / untracedWall,
              "trace.unattributed_s" -> (untracedWall - layers("trace.layer_sum_s")))
            val mirror = Seq("generated" -> (st.generated, ref.generated),
              "fetched" -> (st.fetchedPages, ref.fetchedPages), "parsed" -> (st.parsedDocs, ref.parsedDocs),
              "frontier" -> (st.frontierSize, ref.frontierSize),
              "unfetched" -> (st.frontierUnfetched, ref.frontierUnfetched))
              .collect { case (k, (a, b)) if a != b => s"$k $a != $b" }
            if (mirror.nonEmpty) Some(s"round $r composed round differs from CrawlRound.run: " + mirror.mkString(", "))
            else None
          }
        }
        if (Files.exists(Paths.get(store.root, "host_stats", s"r$r"))) hostStats = Some(r)
      }
      episodes += 1
    }
    ctx.attempt(checkState(store))

    val fetched = rounds.map(_._1.fetchedPages).sum
    val wall = rounds.map(_._2).sum
    ctx.report("urls_per_s", fetched / wall, "URL/s")
    ctx.report("store_bytes_per_url", rounds.map(_._3).sum.toDouble / math.max(1L, fetched), "B/URL")
    ctx.report("rounds", rounds.size, "count")
    ctx.report("episodes", episodes, "count")
    ctx.report("fetched_per_round", Stats.median(rounds.map(_._1.fetchedPages.toDouble)), "URL")
    ctx.report("frontier_last", rounds.last._1.frontierSize, "URL")
    traced.flatMap(_.keys).distinct.foreach(k => ctx.layer(k, Stats.median(traced.flatMap(_.get(k)))))
    RunOutcome(setupS, opS = Stats.median(rounds.map(_._2)),
      opGeomeanS = Stats.median(rounds.map(_._2).grouped(spec.episodeRounds).map(Stats.geomean).toSeq),
      cachePeakMb = cachePeaks.max)
  }

  private def cliLayers(st: RoundStats, wall: Double, gcS: Double): Seq[(String, Double)] = {
    val stages = st.stageMs.toSeq.map { case (k, ms) =>
      ("cli." + k.replace('+', '_') + "_s") -> ms / 1e3 }
    val t = ctx.probe.totals(_ => true)
    stages ++ Seq("cli.other_s" -> (wall - st.stageMs.values.sum / 1e3), "cli.jobs" -> t.jobs.toDouble,
      "cli.gc_s" -> gcS, "cli.cache_peak_mb" -> ctx.probe.cachePeakMb,
      "cli.wall_s" -> wall)
  }

  private def deleteQuietly(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }
}

/** One crawl round composed from the same public calls `CrawlRound.run`
  * makes, with each call's output forced (persisted and counted) inside its
  * own span so each layer's time is its own. Mirrors `CrawlRound.run` for
  * the benchmark's configuration; the caller compares its counts with the
  * untraced round's. */
final class ComposedRound(spark: SparkSession, store: MeteredStore, fetcher: SyntheticFetcher,
                          cfg0: CrawlConfig, ctx: RunContext) {
  import spark.implicits._

  private val cfg = cfg0.copy(fetchMultiDoc = fetcher.multiDoc)
  require(!cfg.generateUpdateDb && cfg.scoringSimilarityGold.isEmpty && !cfg.parseFilterDebug &&
    cfg.frontierRelayKeys.isEmpty && !cfg.invertLinks && cfg.frontierBuckets <= 0 &&
    cfg.skipHostsWithExceptions <= 0 && cfg.fetchDelayExpr.isEmpty && cfg.updateHostDb &&
    cfg.useSeenBloom && cfg.columnarUpdateDb,
    "the composed round mirrors CrawlRound.run for the benchmark configuration only")

  private def forced[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def run(round: Int, now: Long): (RoundStats, Map[String, Double]) = {
    val tr = ctx.tracer
    store.tracer = Some(tr)
    store.bytesWritten = 0L
    val probe = ctx.probe
    probe.reset()
    val op = tr.nextOp()
    val counts = mutable.LinkedHashMap.empty[String, Double]
    val gc0 = GcProbe.gcSeconds
    val t0 = System.nanoTime()
    val stats = try tr.span("round") { body(tr, round, now, counts) } finally store.tracer = None
    val wall = (System.nanoTime() - t0) / 1e9
    val gcS = GcProbe.gcSeconds - gc0

    val self = tr.selfSeconds(op)
    def s(name: String): Double = self.getOrElse(name, 0.0)
    def t(descs: String*): probe.Totals = probe.totals(d => descs.exists(x => d == "t:" + x))
    val fetchT = t("fetch")
    val frontierT = t("frontier.updatedb", "frontier.dedup", "frontier.hostdb")
    val all = probe.totals(_ != "t:trace.counts")
    val layerSum = self.collect { case (k, v) if k != "round" && k != "trace.counts" => v }.sum
    val layers = Map(
      "generate.s" -> s("generate"), "generate.rows" -> counts("generate.rows"),
      "fetch.s" -> s("fetch"), "fetch.cpu_s" -> fetchT.cpuS, "fetch.task_skew" -> fetchT.taskSkew,
      "fetch.useful_ratio" -> stats.fetchedPages / math.max(1.0, counts("generate.rows")),
      "fetch.virtual_s" -> stats.virtualMsMax / 1e3,
      "parse.s" -> s("parse"), "parse.links" -> counts("parse.links"),
      "frontier.updatedb_s" -> s("frontier.updatedb"), "frontier.dedup_s" -> s("frontier.dedup"),
      "frontier.hostdb_s" -> s("frontier.hostdb"), "frontier.shuffle_mb" -> frontierT.shuffleMb,
      "frontier.spill_mb" -> frontierT.spillMb, "frontier.rows" -> stats.frontierSize.toDouble,
      "frontier.new_rows" -> (stats.frontierSize - counts("frontier.prior_rows")),
      "seen.merge_s" -> (s("seen.merge") + s("seen.load")), "seen.delta_rows" -> counts("seen.delta_rows"),
      "seen.hit_ratio" -> counts("seen.hits") / math.max(1.0, counts("parse.links")),
      "seen.blob_mb" -> counts("seen.blob_bytes") / 1e6,
      "store.commit_s" -> s("store.commit"), "store.load_s" -> s("store.load"),
      "store.written_mb" -> store.bytesWritten / 1e6,
      "trace.round_s" -> (wall - self.getOrElse("trace.counts", 0.0)),
      "trace.layer_sum_s" -> layerSum,
      "trace.counts_s" -> s("trace.counts")) ++ ComposedRound.engineLayers(all, gcS)
    (stats, layers)
  }

  private def body(tr: Tracer, round: Int, now: Long, counts: mutable.Map[String, Double]): RoundStats = {
    val frontier = store.load(spark, "frontier").get.as[FrontierEntry]
    tr.span("trace.counts") { counts("frontier.prior_rows") = frontier.count().toDouble }
    val prevHostStats = store.load(spark, "host_stats")
    val hostSalt: Map[String, Int] = tr.span("frontier.hostdb") {
      prevHostStats.map(df => HostDb.hotHostSalt(df.as[HostStats],
        hotThreshold = math.max(cfg.maxPerHost.toLong * 4, cfg.topN / math.max(1, cfg.numFetchPartitions)),
        perPartitionTarget = math.max(1L, cfg.topN / math.max(1, cfg.numFetchPartitions))))
        .getOrElse(Map.empty)
    }

    val (fetchlist, generated) = tr.span("generate") {
      forced(Generator.generate(frontier, cfg, now, round, hostSalt, None, None, None)._1)
    }
    counts("generate.rows") = generated.toDouble

    val metricsAcc = spark.sparkContext.collectionAccumulator[FetchPartitionMetrics]("fetch_metrics")
    val (pages, _) = tr.span("fetch") {
      forced(ComposedRound.fetch(fetchlist, fetcher, cfg, now, round, metricsAcc))
    }
    val obsFetch = Observation(s"fetch_r$round")
    store.commit("fetched",
      pages.toDF().observe(obsFetch, count(lit(1)).as("fetched")).drop("spans")
        .withColumn("mime", call_function("mime_resolve", col("content_type"), col("url"))),
      round, allowRewind = true)
    val fetchedPages = obsFetch.get("fetched").asInstanceOf[Long]

    val obsParse = Observation(s"parse_r$round")
    val roundCaches = mutable.ArrayBuffer.empty[DataFrame]
    val (linked, links) = tr.span("parse") {
      store.commit("parsed",
        Parse.parsedDocs(pages).toDF().observe(obsParse, count(lit(1)).as("parsed")), round,
        allowRewind = true)
      forced(Parse.linkedUpdates(pages, cfg, round, None, roundCaches += _))
    }
    counts("parse.links") = links.toDouble
    val parsedCount = obsParse.get("parsed").asInstanceOf[Long]
    val fetchUpdates = Parse.fetchUpdates(pages, cfg)

    var seenFromCache = false
    val seen: UrlSeen.SeenSet = tr.span("seen.load") {
      val snap = store.current("seen_bloom")
      val cached = snap.flatMap(s => UrlSeen.cachedFor(store.root, s.path, s.committedAtMs))
      seenFromCache = cached.isDefined
      cached.orElse(store.loadBlob("seen_bloom").map(UrlSeen.fromBytes(spark, _))) match {
        case Some(sf) if !sf.saturated => sf
        case other =>
          seenFromCache = false
          val cap = other match {
            case Some(sf) => math.max(cfg.bloomExpectedItems, sf.approxInserted * 2)
            case None => cfg.bloomExpectedItems
          }
          UrlSeen.build(frontier.toDF().select(col("url_hash")), cap, cfg.bloomFpp,
            shards = cfg.seenBloomShards)
      }
    }
    tr.span("trace.counts") {
      counts("seen.hits") = linked.toDF()
        .filter(UrlSeen.mightContainCol(spark, seen, call_function("url_hash64", col("url")))).count().toDouble
    }

    val (newFrontier, _) = tr.span("frontier.updatedb") {
      forced(UpdateDbColumnar.run(frontier, fetchUpdates, linked, cfg, now, Some(seen)))
    }
    val (finalFrontier, _) = tr.span("frontier.dedup") { forced(Dedup.markDuplicates(newFrontier)) }
    val obsDb = Observation(s"updatedb_r$round")
    store.commit("frontier", finalFrontier.toDF().observe(obsDb,
      count(lit(1)).as("size"),
      count(when(col("status") === CrawlStatus.DB_UNFETCHED, 1)).as("unfetched")), round)
    val frontierSize = obsDb.get("size").asInstanceOf[Long]
    val unfetched = obsDb.get("unfetched").asInstanceOf[Long]

    tr.span("seen.merge") {
      val newHashes = newFrontier.toDF()
        .filter(!UrlSeen.mightContainCol(spark, seen, col("url_hash")))
        .select(col("url_hash"))
      tr.span("trace.counts") { counts("seen.delta_rows") = newHashes.count().toDouble }
      val merged = UrlSeen.merged(spark, seen, newHashes, 0L)
        .withApproxInserted(math.max(seen.approxInserted, frontierSize))
      val bytes = UrlSeen.toBytes(merged)
      counts("seen.blob_bytes") = bytes.length.toDouble
      val snap = store.commitBlob("seen_bloom", bytes, round, allowRewind = true)
      UrlSeen.cacheFor(store.root, snap.path, snap.committedAtMs, merged)
      if (!seenFromCache) UrlSeen.destroyDiff(seen, merged)
    }

    val hostStats = tr.span("frontier.hostdb") {
      val committed = store.load(spark, "frontier").get.as[FrontierEntry]
      val prev = store.load(spark, "host_stats")
      forced(HostDb.fromFrontier(committed, now, Some(pages.toDF()), prev = prev).toDF())._1
    }
    store.commit("host_stats", hostStats, round, allowRewind = true)

    val fetchMetrics = metricsAcc.value.asScala.toSeq
    val metricRows = fetchMetrics.map(m =>
      RoundMetric(round, "fetch", m.partition_id, m.input_rows,
        m.fetched + m.robots_denied + m.robots_deferred + m.retries + m.redirects + m.gone,
        m.fetched, m.robots_denied, m.retries, m.virtual_ms))
    if (metricRows.nonEmpty) store.appendMetrics(spark.createDataset(metricRows).toDF(), round, "fetch")

    Seq(fetchlist, pages, linked, newFrontier, finalFrontier, hostStats).foreach(_.unpersist())
    roundCaches.foreach(_.unpersist())
    RoundStats(round, fetchMetrics.map(_.input_rows).sum, fetchedPages, parsedCount, frontierSize,
      unfetched, 0L, if (fetchMetrics.isEmpty) 0L else fetchMetrics.map(_.virtual_ms).max)
  }
}

object ComposedRound {
  /** Engine-wide counters of one operation, named alike for every workload. */
  def engineLayers(t: TaskProbe#Totals, gcS: Double): Seq[(String, Double)] = Seq(
    "spark.cpu_s" -> t.cpuS, "spark.shuffle_mb" -> t.shuffleMb, "spark.spill_mb" -> t.spillMb,
    "spark.jobs" -> t.jobs.toDouble, "spark.tasks" -> t.tasks.toDouble,
    "spark.task_skew" -> t.taskSkew, "jvm.gc_s" -> gcS)

  /** The fetch stage exactly as `CrawlRound.run` builds it (kept outside any
    * class so the task closure captures only its arguments). */
  def fetch(fetchlist: Dataset[graft.schema.FetchTask], fetcher: SyntheticFetcher, cfg: CrawlConfig,
            now: Long, round: Int,
            acc: org.apache.spark.util.CollectionAccumulator[FetchPartitionMetrics]): Dataset[FetchedPage] = {
    import fetchlist.sparkSession.implicits._
    fetchlist.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      PolitenessExecutor.run(pid, it, fetcher, cfg, now, round, acc.add(_))
    }
  }
}
