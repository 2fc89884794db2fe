package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{url_canon_filter, url_domain, url_hash64, url_hash_interleave,
  url_host}
import graft.schema.FrontierEntry

/** Frontier maintenance tools beyond the round loop. */
object FrontierTools {

  /** N-way CrawlDb merge (reference CrawlDbMerger.java:48-60): same-URL rows
    * resolve to the newest fetch_time (ties: status, then score); metadata
    * accumulates newer-over-older. */
  def mergeDbs(dbs: Seq[Dataset[FrontierEntry]]): Dataset[FrontierEntry] = {
    require(dbs.nonEmpty, "mergeDbs needs at least one frontier")
    val spark = dbs.head.sparkSession
    import spark.implicits._
    dbs.reduce(_ unionByName _)
      .groupByKey(_.url)
      .reduceGroups { (a, b) =>
        val (newer, older) = if (Ordering[(Long, Byte, Float)].gteq(
          (a.fetch_time, a.status, a.score), (b.fetch_time, b.status, b.score))) (a, b) else (b, a)
        newer.copy(metadata = older.metadata ++ newer.metadata)
      }
      .map(_._2)
  }

  /** Filter + renormalize pass over the whole db (reference CrawlDbFilter):
    * optional 404/orphan purge, then every URL through the configured chain
    * (a newly configured normalizer or filter applies to the stored URLs),
    * dropped ones removed. Cheap status predicates run before URL work
    * (Catalyst orders them anyway). Rows a configured normalizer maps to one
    * URL (`/dir` and `/dir/`, host aliases) merge as in [[mergeDbs]]; stored
    * URLs are canonical, so without normalizers the pass stays shuffle-free. */
  def filterAndNormalize(frontier: Dataset[FrontierEntry], cfg: CrawlConfig,
                         purge404: Boolean): Dataset[FrontierEntry] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val base = if (purge404)
      frontier.toDF().filter(col("status") =!= graft.schema.CrawlStatus.DB_GONE.toInt)
    else frontier.toDF()
    val cleaned = base
      .withColumn("_canon", url_canon_filter(col("url"), cfg.urlChain))
      .filter(col("_canon").isNotNull)
      .withColumn("url", col("_canon"))
      .withColumn("url_hash", url_hash64(col("url")))
      .withColumn("host", url_host(col("url")))
      .withColumn("domain", url_domain(col("host")))
      .drop("_canon")
      .as[FrontierEntry]
    if (cfg.urlChain.normalizers.isEmpty) cleaned else mergeDbs(Seq(cleaned))
  }

  /** Per-domain/host random URL sample (reference UrlSampler: rand per
    * domain, ≤ k per domain and ≤ kHost per host). Deterministic: the
    * "random" score is a seeded hash of the URL, so samples are reproducible
    * across runs and engines. */
  def sampleUrls(frontier: Dataset[FrontierEntry], perDomain: Int, perHost: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = xxhash64(col("url"), lit(seed))
    val wd = Window.partitionBy("domain").orderBy(r, col("url"))
    val wh = Window.partitionBy("host").orderBy(r, col("url"))
    frontier.toDF()
      .withColumn("_rd", row_number().over(wd))
      .withColumn("_rh", row_number().over(wh))
      .filter(col("_rd") <= perDomain && col("_rh") <= perHost)
      .select("url", "host", "domain", "status", "score")
  }

  /** Domain statistics (reference DomainStatistics tool). */
  def domainStats(frontier: Dataset[FrontierEntry]): DataFrame =
    frontier.toDF().groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("host")).as("n_hosts"),
        sum(col("score")).as("total_score"))

  /** Frontier-metadata key carrying the fetch protocol status (reference
    * Nutch.PROTOCOL_STATUS_CODE_KEY "nutch.protocol.code", stamped by
    * lib-http HttpBase.java:369-370; we stamp the executor's status STRING —
    * see CrawlConfig.protocolStatusToCrawlDb). */
  val ProtocolStatusKey = "nutch.protocol.code"

  /** Crawl-completion statistics (reference util/CrawlCompletionStats
    * .java:190-227): per host or registered domain, how many URLs are
    * FETCHED (db_fetched | db_notmodified) vs UNFETCHED (everything else).
    * One map-side-combined aggregation — the same shape at 10^10 rows. */
  def crawlCompletionStats(frontier: Dataset[FrontierEntry], mode: String = "host"): DataFrame = {
    require(mode == "host" || mode == "domain", s"mode must be host|domain, got $mode")
    val key = if (mode == "domain") col("domain") else col("host")
    val fetched = col("status").isin(
      graft.schema.CrawlStatus.DB_FETCHED.toInt, graft.schema.CrawlStatus.DB_NOTMODIFIED.toInt)
    frontier.toDF()
      .groupBy(key.as(mode), when(fetched, "FETCHED").otherwise("UNFETCHED").as("completion"))
      .agg(count(lit(1)).as("n"))
  }

  /** Protocol-status statistics (reference util/ProtocolStatusStatistics
    * .java:138-149): count frontier rows by the protocol status the last
    * fetch stamped into metadata (rows never fetched — no stamp — count as
    * UNFETCHED). Requires cfg.protocolStatusToCrawlDb on the crawl. */
  def protocolStatusStats(frontier: Dataset[FrontierEntry]): DataFrame =
    frontier.toDF()
      .groupBy(coalesce(element_at(col("metadata"), lit(ProtocolStatusKey)), lit("UNFETCHED"))
        .as("protocol_status"))
      .agg(count(lit(1)).as("n"))

  /** FreeGenerator (reference tools/FreeGenerator.java:53-143): turn plain
    * one-URL-per-line text into a ready fetchlist WITHOUT touching the
    * crawldb — normalize/filter (optional), injected score, default
    * interval, URL-dedup, then the Generator's host-sticky partitioning +
    * interleave-hash sort so the politeness executor sees the same spread a
    * crawldb-generated segment would have. */
  def freeGenerate(
      urlLines: Dataset[String],
      cfg: CrawlConfig,
      now: Long,
      normalize: Boolean = true,
      filter: Boolean = true
  ): Dataset[graft.schema.FetchTask] = {
    val spark = urlLines.sparkSession
    import spark.implicits._
    // normalize and filter are INDEPENDENT switches like the reference's
    // -normalize / -filter flags (FreeGenerator.java:85-93): the two halves
    // of the configured chain
    val chain = cfg.urlChain
    val urls = urlLines.flatMap { line =>
      val t = if (line == null) "" else line.trim
      if (t.isEmpty || t.startsWith("#")) None
      else {
        val n = if (normalize) chain.normalize(t) else t
        if (n != null && (!filter || chain.accept(n))) Some(n) else None
      }
    }
    // unique urls (reference FGReducer:133-141 dedups on the exact URL)
    urls.distinct()
      .select(
        col("value").as("url"),
        url_hash64(col("value")).as("url_hash"),
        url_host(col("value")).as("host"),
        url_domain(url_host(col("value"))).as("domain"),
        lit(graft.schema.CrawlStatus.DB_UNFETCHED).as("status"),
        lit(now).as("fetch_time"),
        lit(0).as("retries"),
        lit(cfg.fetchIntervalDefault).as("fetch_interval"),
        lit(cfg.injectedScore).as("score"),
        lit(0).as("segment"),
        lit(-1L).as("fetch_delay_ms"),
        lit(1).as("depth"))
      .repartition(cfg.numFetchPartitions,
        graft.generate.Generator.partitionKey(col("url"), col("host"), Map.empty))
      .sortWithinPartitions(url_hash_interleave(col("url")))
      .as[graft.schema.FetchTask]
  }
}
