package graft.cli

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

import graft.fetch.Fetcher
import graft.frontier.CrawlConfig
import graft.store.SnapshotStore

/** The user-facing programmatic API (the reference's NutchTool/REST surface,
  * SURVEY.md §3.2, re-expressed as a plain Scala facade over typed Datasets):
  *
  * {{{
  * val crawl = Crawl(spark, "/data/crawl", cfg, fetcher)
  * crawl.inject(seedLines)
  * crawl.rounds(5)                       // resumes after the last commit
  * crawl.frontier.show()                 // CrawlDbReader-style inspection
  * crawl.stats.show()
  * crawl.url("http://example.com/")      // point lookup
  * }}}
  */
case class Crawl(spark: SparkSession, storeRoot: String, cfg: CrawlConfig, fetcher: Fetcher,
                 startTimeMs: Long = 1700000000000L, roundIntervalMs: Long = 24L * 3600 * 1000) {

  /** The crawl's tables: parquet snapshots under an Iceberg-format snapshot log. */
  val store: SnapshotStore = new SnapshotStore(storeRoot)

  def inject(seedLines: Dataset[String]): Long =
    CrawlRound.inject(spark, store, seedLines, cfg, startTimeMs)

  /** Run one round (resume-aware: continues after the last committed round). */
  def round(): CrawlRound.RoundStats = rounds(1).head

  def rounds(n: Int): Seq[CrawlRound.RoundStats] =
    CrawlRound.crawl(spark, store, fetcher, cfg, n, startTimeMs, roundIntervalMs)

  // ---- inspection (CrawlDbReader/SegmentReader verbs, SURVEY.md §3.3) ----

  def frontier: DataFrame =
    store.load(spark, "frontier").getOrElse(spark.emptyDataFrame)

  def fetched(round: Int): Option[DataFrame] = store.loadRound(spark, "fetched", round)
  def parsed(round: Int): Option[DataFrame] = store.loadRound(spark, "parsed", round)
  def hostStats: Option[DataFrame] = store.load(spark, "host_stats")
  def linkDb: Option[DataFrame] = store.load(spark, "linkdb")
  def metrics: Option[DataFrame] = store.metrics(spark)

  /** CrawlDb stats: count/min/max/avg per status (reader `stats` verb). */
  def stats: DataFrame = {
    import org.apache.spark.sql.functions._
    frontier.groupBy(col("status"))
      .agg(count(lit(1)).as("n"), min(col("score")).as("min_score"),
        max(col("score")).as("max_score"), avg(col("score")).as("avg_score"),
        min(col("fetch_time")).as("min_fetch_time"), max(col("fetch_time")).as("max_fetch_time"))
      .orderBy(col("status"))
  }

  /** Per-round fetch throughput report (the reference fetcher's pages/s
    * telemetry, Fetcher.java:165-189, derived from the recorded per-
    * partition lineage instead of live counters): fetched pages, robots
    * denials, retries, the politeness-clock seconds (max over partitions —
    * partitions run concurrently) and pages/sec on that clock. */
  def throughput: Option[DataFrame] = metrics.map { m =>
    import org.apache.spark.sql.functions._
    m.filter(col("stage") === "fetch")
      .groupBy(col("round"))
      .agg(
        count(lit(1)).as("partitions"),
        sum(col("input_rows")).as("generated"),
        sum(col("fetched_urls")).as("fetched"),
        sum(col("robots_denied")).as("robots_denied"),
        sum(col("retries")).as("retries"),
        (max(col("duration_ms")) / 1000.0).as("clock_sec"))
      .withColumn("pages_per_sec",
        org.apache.spark.sql.functions.round(
          col("fetched") / greatest(col("clock_sec"), lit(0.001)), 1))
      .orderBy(col("round"))
  }

  /** Global top-N by score (reader `topN` verb). */
  def topN(n: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    frontier.orderBy(desc("score"), asc("url")).limit(n)
  }

  /** Point lookup (reader `url` verb) of `u` normalized by the configured
    * chain — parquet min/max pruning on url_hash makes this a partial scan
    * at scale. */
  def url(u: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val n = cfg.urlChain.normalize(u)
    frontier.filter(col("url_hash") === graft.url.Urls.hash64(n) && col("url") === n)
  }

  def lastRound: Int = store.lastCompletedRound.getOrElse(0)

  // ---- maintenance tools (reference's merge/filter/sample/stats CLIs) ----

  import graft.schema.FrontierEntry
  private def typedFrontier: Dataset[FrontierEntry] = {
    import spark.implicits._
    frontier.as[FrontierEntry]
  }

  def domainStats: DataFrame = graft.frontier.FrontierTools.domainStats(typedFrontier)

  /** Score-distribution quantiles per status (CrawlDbReader stats verb). */
  def scoreQuantiles(qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame =
    graft.segment.SegmentTools.scoreQuantiles(frontier, qs)

  /** Latest-wins merge of several rounds' fetched (or parsed) segments. */
  def mergeSegments(table: String, rounds: Seq[Int], sliceExpr: Option[String] = None): Option[DataFrame] =
    graft.segment.SegmentTools.mergeRounds(spark, store, table,
      rounds, key = if (table == "parsed") "doc_id" else "url", sliceExpr)

  def sample(perDomain: Int, perHost: Int, seed: Long = 42L): DataFrame =
    graft.frontier.FrontierTools.sampleUrls(typedFrontier, perDomain, perHost, seed)

  /** Full-db filter + renormalize pass, committed as the next round snapshot
    * (never in place: the source snapshot stays immutable and readable). */
  def filterAndNormalize(purge404: Boolean = true): Unit = {
    val cleaned = graft.frontier.FrontierTools.filterAndNormalize(typedFrontier, cfg, purge404)
    store.commit("frontier", cleaned.toDF(), lastRound + 1)
  }

  /** parsechecker / indexchecker analog (reference parse/ParserChecker.java,
    * indexer/IndexingFiltersChecker.java): probe ONE url through the
    * configured fetcher + mime-dispatched parser registry + indexing
    * chain, bypassing the politeness queue (a single-URL debug probe, like
    * the reference tools' direct protocol call). Returns a one-row
    * DataFrame: fetch diagnostics (protocol code, content type,
    * signature), parse diagnostics (title, n_spans, outlink targets), and
    * the indexing-chain fields over the would-be index document. */
  def checkUrl(
      u: String,
      chain: graft.index.IndexingFilterChain = graft.index.IndexingFilterChain(Nil)): DataFrame = {
    import org.apache.spark.sql.functions._
    val url = cfg.urlChain(u)
    require(url != null, s"url rejected by normalize+filter: $u")
    val resp = fetcher.fetch(url)
    val doc: graft.schema.Doc =
      if (resp.doc != null) resp.doc
      else if (resp.content != null)
        graft.schema.Doc(url,
          graft.parse.DocParsers.parseSpans(resp.contentType, url, resp.content, cfg))
      else graft.schema.Doc(url, Seq.empty)
    val signer = graft.frontier.Signer.forConfig(cfg)
    val textSpans = doc.spans.filter(_.kind == "text")
    val outlinks = doc.spans.filter(s => s.kind == "link" || s.kind == "media")
      .flatMap(s => Option(cfg.urlChain(s.media_ref)))
    val sigHex = Option(signer.signSpans(doc.spans))
      .map(_.map(b => f"$b%02X").mkString).getOrElse("")
    val row = spark.createDataFrame(Seq((
      url,
      resp.code,
      resp.contentType,
      graft.url.Mime.resolve(resp.contentType, url),
      sigHex,
      textSpans.headOption.map(_.text).orNull,
      textSpans.map(_.text).mkString(" "),
      doc.spans.size,
      outlinks
    ))).toDF("url", "protocol_status", "content_type", "mime", "signature",
      "title", "text", "n_spans", "outlinks")
    chain(row.withColumn("host", graft.functions.GraftFunctions.url_host(col("url"))))
  }

  /** scoring-link's score refresh (reference bin/crawl's webgraph →
    * linkrank → scoreupdater sequence, scoring/webgraph/ScoreUpdater.java):
    * run LinkRank over the linkdb edges and install the node ranks as
    * frontier scores; URLs absent from the graph are cleared to
    * link.score.updater.clear.score. Requires cfg.invertLinks (a linkdb).
    * Returns false when no linkdb exists yet. */
  def updateScoresFromWebGraph(iterations: Int = 10, damping: Double = 0.85): Boolean =
    linkDb match {
      case Some(ldb) =>
        val edges = ldb.select(col("url").as("to_url"), explode(col("inlinks")).as("i"))
          .select(col("i.from_url").as("from_url"), col("to_url"))
        val ranks = graft.frontier.LinkRank.run(edges, iterations, damping)
        val updated = graft.frontier.LinkRank.updateScores(typedFrontier, ranks,
          cfg.linkScoreUpdaterClearScore)
        store.commit("frontier", updated.toDF(), lastRound + 1)
        true
      case None => false
    }

  /** Sitemap stage (reference SitemapProcessor / `bin/crawl --sitemaps-from-hostdb`):
    * fetch the sitemaps advertised by the frontier's hosts and inject their
    * URLs (already chained: the chain runs once) as seed lines scored
    * `sitemapScore`; committed at the checkpoint round like any mid-crawl inject. */
  def processSitemaps(sitemapScore: Float = 0.5f): Long = {
    import spark.implicits._
    val hosts = frontier.select(col("host")).distinct().as[String]
    val seedLines = graft.frontier.Sitemaps.discover(hosts, fetcher, cfg)
      .map(u => s"$u\tnutch.score=$sitemapScore")
    CrawlRound.inject(spark, store, seedLines, cfg, startTimeMs + lastRound.toLong * roundIntervalMs,
      chained = true)
  }

  /** Import legacy ARC containers as a crawl round (the reference's
    * ArcSegmentCreator flow: the archive becomes an ordinary segment). Its
    * records enter the round tail as fetched pages, so the import commits
    * fetched/parsed segments and the merged, dedup'd frontier at the next
    * round, keeps the URL-seen bloom and host_stats current and records
    * stage timings like any round: the archived URLs enter as db_fetched,
    * their discovered links as db_unfetched, and the crawl continues from
    * there. Abandoned container bytes (malformed/truncated tails) ride the
    * round's metrics as an `arc_skipped_bytes` row. */
  def importArc(containers: Dataset[String]): CrawlRound.RoundStats =
    importRound(graft.index.ArcImport.toFetched(containers, cfg, _, _))

  /** Binary ARC import — the path for real container files (gzipped or with
    * non-UTF-8 payload bytes): feed `spark.read.format("binaryFile")`
    * content directly, so framing happens on the original bytes (a text
    * read would replace invalid UTF-8 and shift the byte frames). */
  def importArcBytes(containers: Dataset[Array[Byte]]): CrawlRound.RoundStats =
    importRound(graft.index.ArcImport.toFetchedBytes(containers, cfg, _, _))

  /** Import serialized WARC/1.1 record text (the engine's own sink format,
    * or any 1.1 archive matching it) as a crawl round: 200-status response
    * records re-enter as fetched pages through the mime registry, their
    * outlinks merge into the frontier — the WARC sibling of [[importArc]]. */
  def importWarc(warcText: Dataset[String]): CrawlRound.RoundStats =
    importRound((round, _) => graft.index.WarcImport.toFetched(warcText, cfg, round))

  /** The archive head at the next round: `read(round, skippedBytes)` yields
    * the pages. */
  private def importRound(
      read: (Int, Option[org.apache.spark.util.LongAccumulator]) => Dataset[graft.fetch.FetchedPage]
  ): CrawlRound.RoundStats = {
    val round = lastRound + 1
    val skipped = spark.sparkContext.longAccumulator(s"arc_skipped_bytes_r$round")
    CrawlRound.importPages(spark, store, cfg, round,
      startTimeMs + (round - 1).toLong * roundIntervalMs, read(round, Some(skipped)),
      Seq(skipped).filter(_.value > 0).map(acc =>
        graft.schema.RoundMetric(round, "arc_skipped_bytes", -1, acc.value, 0, 0, 0, 0, 0)))
  }

  /** WARC-shaped export of a fetched round (the reference's WarcWriter
    * output re-expressed as a parquet record table — request/response/
    * metadata/warcinfo rows with the WARC named fields; revisit records for
    * not-modified fetches). Committed as the per-round `warc` table. */
  def exportWarc(roundNo: Int): Option[DataFrame] =
    fetched(roundNo).map { f =>
      val records = graft.index.WarcExport.records(f, parsed(roundNo), roundNo)
      store.commit("warc", records, roundNo, allowRewind = true)
      records
    }

  /** CDX index beside the WARC sink (the reference's WarcCdxWriter): per-
    * capture lookup rows (urlkey/timestamp/url/mime/status/digest/length/
    * offset/filename) over the round's WARC records, committed as the
    * per-round `cdx` table. */
  def exportCdx(roundNo: Int, nFiles: Int = 16): Option[DataFrame] =
    exportWarc(roundNo).map { recs =>
      val idx = graft.index.Cdx.index(recs, nFiles, s"warc-r$roundNo")
      store.commit("cdx", idx, roundNo, allowRewind = true)
      idx
    }

  /** Export a round's index docs through external sinks (the reference's
    * IndexWriter plugins + exchange routing). */
  def exportIndexTo(roundNo: Int, exchange: graft.index.IndexWriterExchange): Boolean =
    exportIndex(roundNo) match {
      case Some(df) => exchange.write(df, roundNo); true
      case None => false
    }

  /** Index export (the reference's `index` stage, IndexWriters sinks reduced
    * to a searchable table): one row per successfully parsed doc of a round —
    * url, host, title (first text span), full text, score, signature —
    * optionally pushed through an IndexingFilter chain (the reference's
    * index-basic/index-more/tld/subcollection/mimetype-filter/... plugins). */
  def exportIndex(
      roundNo: Int,
      chain: graft.index.IndexingFilterChain = graft.index.IndexingFilterChain(Nil)): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    parsed(roundNo).map { p =>
      val textSpans = filter(col("spans"), s => s.getField("kind") === "text")
      val doc = p.select(
        col("doc_id").as("url"),
        element_at(textSpans, 1).getField("text").as("title"),
        concat_ws(" ", transform(textSpans, s => s.getField("text"))).as("text"),
        col("score"), hex(col("signature")).as("signature"), col("round"))
      val indexed = chain(doc.withColumn("host", graft.functions.GraftFunctions.url_host(col("url"))))
      // per-round derived output: re-exporting an older round after a newer
      // one is a normal operation (allowRewind, like fetched/parsed/host_stats)
      store.commit("index", indexed, roundNo, allowRewind = true)
      indexed
    }
  }
}
