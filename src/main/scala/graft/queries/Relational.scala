package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.frontier.{CrawlConfig, DefaultFetchSchedule, UpdateDb}
import graft.functions.GraftFunctions.{mime_resolve, url_canon_filter, url_canonicalize, url_domain,
  url_host}
import graft.schema.FrontierUpdate

/** Relational realizations of the crawl operator inventory (SURVEY.md §2)
  * over the driver's TPC-H-ish tables — each query exercises one operator
  * shape through the exact Spark plan the crawl engine uses, and each has a
  * DuckDB-mirrorable formula (see SparkEntry.oracleSql).
  *
  * Float discipline for oracle parity: per-row double arithmetic is IEEE-
  * identical across engines; SUMS go through decimal(18,4) (exact) before
  * any division; outputs are rounded.
  */
object Relational {

  def lineitem(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/lineitem.parquet")
  def orders(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/orders.parquet")
  def customer(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/customer.parquet")
  def events(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/events.parquet")
  def documents(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/embeddings.parquet")

  /** §2.2 scan + filter + project (pushdown-friendly). */
  def scanFilterProject(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") < lit(java.sql.Date.valueOf("1996-01-01")) && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"),
        // money arithmetic stays in exact decimals until the final cast:
        // round(double) differs between engines at scale boundaries
        round(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))

  /** §2.4 CrawlDb-stats-style aggregation by status. */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2).cast("double").as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))

  /** §2.3 inject: full-outer merge of a seed set into an existing db. */
  def injectMerge(s: SparkSession, dir: String): DataFrame = {
    val seeds = orders(s, dir).select(col("o_custkey")).distinct()
    customer(s, dir)
      .join(seeds, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("key"),
        when(col("c_custkey").isNull, "injected")
          .when(col("o_custkey").isNull, "old")
          .otherwise("merged").as("merge_status"))
  }

  /** §2.3 merge-tool: latest-record-wins co-group by key. */
  def latestWins(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_orderdate"), desc("o_orderkey"))
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("latest_order"), col("o_orderstatus").as("latest_status"))
  }

  /** §2.5 generator: per-host top-N by descending score. */
  def generateTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
  }

  /** §2.5 global top-N dump. */
  def globalTopN(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** §2.4 hostdb-style per-group counters. */
  def hostAgg(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("c_acctbal").cast("decimal(18,4)")), 2).cast("double").as("sum_bal"),
        count(when(col("c_acctbal") < 0, 1)).as("n_negative"))

  /** §2.3/§2.4 linkdb inversion with inlink cap. */
  def linkInvert(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_inlinks"),
        least(countDistinct(col("l_orderkey")), lit(5)).as("capped_inlinks"),
        min(col("l_orderkey")).as("first_inlink"))

  /** §2.9 OPIC: score distributed over a page's outlinks (share-per-child). */
  def opicDistribute(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
    lineitem(s, dir)
      .withColumn("total", sum(col("l_extendedprice").cast("decimal(18,4)")).over(w))
      .select(col("l_orderkey"), col("l_linenumber"),
        // floor of the ppm-scaled identical double: engine-neutral, no rounding path
        floor(col("l_extendedprice") / col("total").cast("double") * 1000000).cast("long").as("share_ppm"))
  }

  /** URL-seen resolution: anti-join of candidates against the seen set. */
  def seenAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val seen = customer(s, dir).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    orders(s, dir)
      .join(seen, col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_unseen"))
  }

  /** §2.4 dedup keep-best: comparator chain, first survives, rest marked. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), desc("o_orderdate"), asc("o_orderkey"))
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .select(col("o_orderkey"), (col("rn") > 1).as("is_duplicate"))
  }

  /** §2.10 the updatedb state machine, driven through the REAL distributed
    * merge (groupByKey.flatMapGroups over FrontierUpdate rows synthesized
    * from orders). The oracle re-states the expected transitions as SQL CASE. */
  def stateTransition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cfg = CrawlConfig()
    val schedule = DefaultFetchSchedule(cfg)
    val now = 1700000000000L

    val base = orders(s, dir).select(
      concat(lit("u"), col("o_orderkey").cast("string")).as("url"),
      when(col("o_orderstatus") === "O", 1).when(col("o_orderstatus") === "F", 2).otherwise(6)
        .cast("byte").as("old_status"),
      when(col("o_orderpriority") === "1-URGENT", 0x21)
        .when(col("o_orderpriority") === "2-HIGH", 0x22)
        .when(col("o_orderpriority") === "3-MEDIUM", 0x25)
        .when(col("o_orderpriority") === "4-NOT SPECIFIED", 0x23)
        .otherwise(0x24).cast("byte").as("fetch_status"),
      (col("o_orderkey") % 4).cast("int").as("retries"))

    val olds = base.select(col("url"), lit("old").as("kind"), col("old_status").as("status"),
      lit(now - 1000L).as("fetch_time"), col("retries"),
      lit(cfg.fetchIntervalDefault).as("fetch_interval"), lit(1.0f).as("score"),
      lit(null).cast("binary").as("signature"), lit(0L).as("modified_time"),
      lit(null).cast("string").as("repr_url"),
      typedLit(Map.empty[String, String]).as("metadata"),
      lit(-1L).as("generate_time")).as[FrontierUpdate]
    val fetches = base.select(col("url"), lit("fetch").as("kind"), col("fetch_status").as("status"),
      lit(now).as("fetch_time"), col("retries"),
      lit(cfg.fetchIntervalDefault).as("fetch_interval"), lit(1.0f).as("score"),
      lit(null).cast("binary").as("signature"), lit(0L).as("modified_time"),
      lit(null).cast("string").as("repr_url"),
      typedLit(Map.empty[String, String]).as("metadata"),
      lit(-1L).as("generate_time")).as[FrontierUpdate]

    olds.unionByName(fetches)
      .groupByKey(_.url)
      .flatMapGroups((url, it) => UpdateDb.merge(url, it, cfg, schedule, now).iterator)
      .select(col("url"), col("status").cast("int").as("new_status"), col("retries").as("new_retries"))
  }

  /** §2.12 scoring-orphan plugin (reference src/plugin/scoring-orphan),
    * driven through the REAL distributed UpdateDb.merge with
    * cfg.scoringOrphan: rows inlinked this round get a fresh last-inlinked
    * stamp; unlinked rows age into db_gone (>30 d) then db_orphan (>40 d).
    * Inputs synthesized from orders; the oracle re-states the plugin's
    * decision tree as SQL CASE over the same synthesis. */
  def orphanStatus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cfg = CrawlConfig(scoringOrphan = true)
    val schedule = DefaultFetchSchedule(cfg)
    val now = 1700000000000L
    val nowSec = now / 1000L
    val day = 86400L

    val base = orders(s, dir).select(
      concat(lit("u"), col("o_orderkey").cast("string")).as("url"),
      (col("o_orderkey") % 2).as("fetch_m"),
      (col("o_orderkey") % 3).as("link_m"),
      (col("o_orderkey") % 4).as("bucket"))

    // last-inlinked stamps: fresh (10 d), gone-old (35 d), orphan-old (45 d)
    val stamp = when(col("bucket") === 1, lit((nowSec - 10 * day).toString))
      .when(col("bucket") === 2, lit((nowSec - 35 * day).toString))
      .otherwise(lit((nowSec - 45 * day).toString))
    val olds = base.select(col("url"), lit("old").as("kind"),
      lit(1).cast("byte").as("status"),
      lit(now - 1000L).as("fetch_time"), lit(0).as("retries"),
      lit(cfg.fetchIntervalDefault).as("fetch_interval"), lit(1.0f).as("score"),
      lit(null).cast("binary").as("signature"), lit(0L).as("modified_time"),
      lit(null).cast("string").as("repr_url"),
      when(col("bucket") === 0, typedLit(Map.empty[String, String]))
        .otherwise(map(lit(UpdateDb.OrphanKey), stamp)).as("metadata"),
      lit(-1L).as("generate_time")).as[FrontierUpdate]
    val fetches = base.filter(col("fetch_m") === 0)
      .select(col("url"), lit("fetch").as("kind"),
        lit(0x21).cast("byte").as("status"), lit(now).as("fetch_time"),
        lit(0).as("retries"), lit(cfg.fetchIntervalDefault).as("fetch_interval"),
        lit(1.0f).as("score"), lit(null).cast("binary").as("signature"),
        lit(0L).as("modified_time"), lit(null).cast("string").as("repr_url"),
        typedLit(Map.empty[String, String]).as("metadata"),
        lit(-1L).as("generate_time")).as[FrontierUpdate]
    val links = base.filter(col("link_m") === 0)
      .select(col("url"), lit("linked").as("kind"),
        lit(1).cast("byte").as("status"), lit(now).as("fetch_time"),
        lit(0).as("retries"), lit(cfg.fetchIntervalDefault).as("fetch_interval"),
        lit(0.5f).as("score"), lit(null).cast("binary").as("signature"),
        lit(0L).as("modified_time"), lit(null).cast("string").as("repr_url"),
        typedLit(Map.empty[String, String]).as("metadata"),
        lit(-1L).as("generate_time")).as[FrontierUpdate]

    olds.unionByName(fetches).unionByName(links)
      .groupByKey(_.url)
      .flatMapGroups((url, it) => UpdateDb.merge(url, it, cfg, schedule, now).iterator)
      .select(col("url"), col("status").cast("int").as("new_status"),
        element_at(col("metadata"), lit(UpdateDb.OrphanKey)).cast("long").as("orphan_stamp"),
        col("score").cast("double").as("new_score"))
  }

  /** §2.5 scoring-adaptive generator sort value (reference
    * src/plugin/scoring-adaptive AdaptiveScoringFilter.generatorSortValue):
    * a synthetic frontier exercising EVERY branch of the adaptive formula —
    * fetch-time boost, per-status and per-content-type adjustments, retry
    * penalty vs injected boost, last-seen penalty — through the REAL
    * Catalyst expression the generator sorts by. The oracle restates the
    * formula in SQL with the identical association order, so doubles match
    * bit-for-bit. */
  def adaptiveSort(s: SparkSession, dir: String): DataFrame = {
    import graft.schema.CrawlStatus._
    val cfg = CrawlConfig(scoringAdaptive = true,
      adaptiveStatusSort = Map(DB_UNFETCHED.toInt -> 0.1, DB_GONE.toInt -> -0.5),
      adaptiveContentTypeSort = Map("text/html" -> 0.25))
    val now = 1700000000000L
    val day = 86400000L
    val k = col("o_orderkey")
    val status = element_at(typedLit(Seq(DB_UNFETCHED.toInt, DB_FETCHED.toInt,
      DB_GONE.toInt, DB_REDIR_TEMP.toInt, DB_NOTMODIFIED.toInt)), (k % 5).cast("int") + 1)
    val retries = when(status === DB_UNFETCHED.toInt, (k % 4).cast("int")).otherwise(lit(0))
    val ctMeta = map(lit("content_type"), lit("text/html"))
    val seenMeta = map(lit(UpdateDb.OrphanKey),
      (lit(now / 1000L) - (k % 60) * lit(86400L)).cast("string"))
    val frontier = orders(s, dir).select(
      concat(lit("u"), k.cast("string")).as("url"),
      status.cast("byte").as("status"),
      retries.as("retries"),
      (lit(now) - (k % 20) * lit(day)).as("fetch_time"),
      ((k % 10).cast("double") / 4.0d).cast("float").as("score"),
      when(k % 3 === 0 && k % 2 === 0, map_concat(ctMeta, seenMeta))
        .when(k % 3 === 0, ctMeta)
        .when(k % 2 === 0, seenMeta)
        .otherwise(typedLit(Map.empty[String, String])).as("metadata"))
    frontier.select(col("url"), col("status").cast("int").as("status"),
      graft.score.AdaptiveScoring.sortValue(cfg, now).as("sort_value"))
  }

  /** Synthetic frontier rows from orders for the crawldb statistics tools:
    * five crawl states, 40 hosts, a protocol-status stamp on every row the
    * last fetch touched (reference HttpBase.java:369-370 stamping). */
  private def statsFrontier(s: SparkSession, dir: String) = {
    import s.implicits._
    val md = when(col("o_orderkey") % 6 === 0, typedLit(Map.empty[String, String]))
      .otherwise(map(lit(graft.frontier.FrontierTools.ProtocolStatusKey),
        when(col("o_orderkey") % 6 <= 2, "SUCCESS")
          .when(col("o_orderkey") % 6 === 3, "NOTFOUND")
          .when(col("o_orderkey") % 6 === 4, "RETRY")
          .otherwise("ROBOTS_DENIED")))
    orders(s, dir).select(
      concat(lit("http://h"), (col("o_custkey") % 40).cast("string"),
        lit(".test/o"), col("o_orderkey").cast("string")).as("url"),
      col("o_orderkey").as("url_hash"),
      concat(lit("h"), (col("o_custkey") % 40).cast("string"), lit(".test")).as("host"),
      concat(lit("h"), (col("o_custkey") % 40).cast("string"), lit(".test")).as("domain"),
      when(col("o_orderkey") % 5 === 0, 2).when(col("o_orderkey") % 5 === 1, 1)
        .when(col("o_orderkey") % 5 === 2, 6).when(col("o_orderkey") % 5 === 3, 3)
        .otherwise(4).cast("byte").as("status"),
      lit(1700000000000L).as("fetch_time"), lit(0).as("retries"),
      lit(2592000).as("fetch_interval"), lit(1.0f).as("score"),
      lit(null).cast("binary").as("signature"), lit(0L).as("modified_time"),
      lit(null).cast("string").as("repr_url"), lit(-1L).as("generate_time"),
      md.as("metadata")).as[graft.schema.FrontierEntry]
  }

  /** §2.4 CrawlCompletionStats tool (reference util/CrawlCompletionStats):
    * per-host FETCHED/UNFETCHED counts through the REAL tool. */
  def crawlCompletion(s: SparkSession, dir: String): DataFrame =
    graft.frontier.FrontierTools.crawlCompletionStats(statsFrontier(s, dir), "host")

  /** §2.4 ProtocolStatusStatistics tool: counts by the stamped protocol
    * status, UNFETCHED for never-fetched rows. */
  def protocolStatus(s: SparkSession, dir: String): DataFrame =
    graft.frontier.FrontierTools.protocolStatusStats(statsFrontier(s, dir))

  /** §2.5 FreeGenerator (reference tools/FreeGenerator.java): plain URL
    * lines → normalized, filtered, deduped, host-partitioned fetchlist —
    * comment lines dropped, media suffixes filtered, case-variant
    * duplicates collapse after canonicalization. */
  def freeGenerate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = orders(s, dir).select(
      when(col("o_orderkey") % 7 === 0, concat(lit("# comment "), col("o_orderkey").cast("string")))
        .when(col("o_orderkey") % 10 === 0,
          concat(lit("http://h"), (col("o_custkey") % 37).cast("string"),
            lit(".test/img"), col("o_orderkey").cast("string"), lit(".jpg")))
        .otherwise(concat(lit("HTTP://Host-"), (col("o_custkey") % 37).cast("string"),
          lit(".Example.COM:80/o/"), col("o_orderkey").cast("string"))).as("line"))
    // case-variant duplicates of every URL line: distinct must collapse
    // them AFTER canonicalization (reference FGReducer:133-141)
    val lines = raw.unionByName(raw.filter(col("line").startsWith("HTTP://"))
      .select(lower(col("line")).as("line"))).as[String]
    graft.frontier.FrontierTools.freeGenerate(lines, graft.frontier.CrawlConfig(), 1700000000000L)
      .select(col("url"), col("host"), col("domain"), col("score").cast("double").as("score"))
  }

  /** §2.12 index-replace plugin (reference src/plugin/index-replace):
    * hostmatch- and urlmatch-scoped regex field replacement through the
    * REAL ReplaceFilter, config parsed from the reference property format.
    * title2 exists only where the urlmatch scope actually hit (write-on-
    * match semantics). */
  def indexReplace(s: SparkSession, dir: String): DataFrame = {
    val docsIn = documents(s, dir).select(
      col("doc_id"),
      concat(lit("http://h"), (col("doc_id") % 5).cast("string"),
        lit(".test/d"), col("doc_id").cast("string")).as("url"),
      substring(col("text"), 1, 30).as("title"))
    val filter = graft.index.ReplaceFilter.parseConf(
      """hostmatch=^h[0-2]\.test$
        |title=/e/3/
        |urlmatch=/d[0-9]*7$
        |title:title2=/a/@/
        |""".stripMargin)
    filter(docsIn).select("doc_id", "url", "title", "title2")
  }

  /** §2.9 parsefilter-regex plugin: per-document boolean flags from regex
    * matches over html and text sources, through the REAL ParseFilters. */
  def regexFlags(s: SparkSession, dir: String): DataFrame = {
    import graft.parse.ParseFilters
    val docsIn = documents(s, dir).select(
      col("doc_id"), col("text"),
      concat(lit("<html><body id=\"d"), col("doc_id").cast("string"),
        lit("\">"), col("text"), lit("</body></html>")).as("html"))
    val rules = ParseFilters.parseRules(
      """# field source regex
        |has_digit text [0-9]
        |has_longword text [a-z]{10,}
        |has_body html <body\sid="d[0-9]+">
        |bad_rule onlytwo
        |""".stripMargin)
    ParseFilters.flagColumns(docsIn, rules)
      .select("doc_id", "has_digit", "has_longword", "has_body")
  }

  /** §2.9 creativecommons + microformats-reltag plugins: CC license
    * detection (RDF-in-comment ≻ rel=license ≻ plain CC anchor), the
    * multi-valued `cc` index field, and rel-tag extraction — through the
    * REAL Microformats walker over deterministic synthetic pages, so the
    * oracle states every expected value from first principles. */
  def ccRelTag(s: SparkSession, dir: String): DataFrame = {
    import graft.parse.Microformats
    val rdfComment =
      """<!--<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" """ +
      """xmlns:cc="http://web.resource.org/cc/" xmlns:dc="http://purl.org/dc/elements/1.1/">""" +
      """<cc:Work><dc:type rdf:resource="http://purl.org/dc/dcmitype/Text"/></cc:Work>""" +
      """<cc:License rdf:about="http://creativecommons.org/licenses/by-sa/1.0/"></cc:License>""" +
      """</rdf:RDF>-->"""
    val k = col("doc_id")
    val licensePart =
      when(k % 4 === 0, lit("""<a rel="license" href="http://creativecommons.org/licenses/by-nc/2.0/">CC</a>"""))
        .when(k % 4 === 1, lit("""<a href="http://creativecommons.org/licenses/by/3.0/">CC</a>"""))
        // rdf present AND a rel anchor: rdf must win the precedence
        .when(k % 4 === 2, lit(rdfComment +
          """<a rel="license" href="http://creativecommons.org/licenses/by-nc/2.0/">CC</a>"""))
        .otherwise(lit(""))
    val tagPart =
      when(k % 3 === 0, concat(lit("<a rel=\"tag\" href=\"http://ex.org/tags/t"),
        (k % 7).cast("string"),
        lit("\">x</a><a rel=\"tag\" href=\"http://ex.org/tags/common\">y</a>")))
        .otherwise(lit(""))
    val ccUdf = udf((u: String, h: String) => {
      val i = Microformats.ccInfo(u, h)
      (i.licenseUrl, i.licenseLocation, i.workType, Microformats.ccFeatures(i).mkString("|"))
    })
    val tagsUdf = udf((h: String) => Microformats.relTags(h).mkString("|"))
    documents(s, dir)
      .select(col("doc_id"),
        concat(lit("http://cc.test/d"), k.cast("string")).as("url"),
        concat(lit("<html><body><p>"), col("text"), lit("</p>"),
          licensePart, tagPart, lit("</body></html>")).as("html"))
      .withColumn("_cc", ccUdf(col("url"), col("html")))
      .select(col("doc_id"),
        col("_cc._1").as("license_url"),
        col("_cc._2").as("license_location"),
        col("_cc._3").as("work_type"),
        nullif(col("_cc._4"), lit("")).as("cc"),
        nullif(tagsUdf(col("html")), lit("")).as("rel_tags"))
  }

  /** §2.11 incremental/streaming shape: tumbling-window aggregation. */
  def eventsWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** §2.7 canonicalization through the native Catalyst expression. */
  def urlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    documents(s, dir)
      .select(col("doc_id"),
        concat(lit("HTTP://Host-"), (col("doc_id") % 50).cast("string"),
          lit(".Example.COM:80/"), col("source"), lit("/../"), col("source"),
          lit("/?id="), col("doc_id").cast("string"), lit("&PHPSESSID=zz#frag")).as("raw"))
      .select(col("doc_id"), url_canonicalize(col("raw")).as("canon"),
        url_host(url_canonicalize(col("raw"))).as("host"))
  }

  /** §2.7 registered-domain extraction through the PSL rules engine: six
    * suffix classes (plain gTLD, ccTLD second-level, private suffix,
    * wildcard rule, exception rule) — the oracle states the EXPECTED
    * registered domain per class, so a PSL regression breaks the hash. */
  def registeredDomain(s: SparkSession, dir: String): DataFrame = {
    val k = col("doc_id").cast("string")
    val host = when(col("doc_id") % 6 === 0, concat(lit("www.site"), k, lit(".com")))
      .when(col("doc_id") % 6 === 1, concat(lit("a.b.site"), k, lit(".co.uk")))
      .when(col("doc_id") % 6 === 2, concat(lit("deep.proj"), k, lit(".github.io")))
      .when(col("doc_id") % 6 === 3, concat(lit("shop"), k, lit(".com.au")))
      .when(col("doc_id") % 6 === 4, concat(lit("x.y.site"), k, lit(".ck")))
      .otherwise(lit("www.ck"))
    documents(s, dir)
      .select(col("doc_id"), host.as("host"))
      .withColumn("domain", url_domain(col("host")))
  }

  /** §2.4 score-distribution quantiles (CrawlDbReader stats verb): exact
    * percentiles per status group, one aggregation buffering and sorting
    * each group's prices once for all four. */
  def scoreQuantiles(s: SparkSession, dir: String): DataFrame = {
    val q = col("q")
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        percentile(col("o_totalprice"), array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("q"))
      .select(col("o_orderstatus"), col("n"),
        round(q(0), 2).as("q25"), round(q(1), 2).as("q50"),
        round(q(2), 2).as("q75"), round(q(3), 2).as("q90"))
  }

  /** §2.7 mime resolution: header normalization + by-extension fallback +
    * default (MimeUtil.autoResolveContentType), through the codegen'd
    * mime_resolve expression. Four classes: parameterized header, missing
    * header with a typed extension, opaque header with a typed extension,
    * nothing usable → default. */
  def mimeResolve(s: SparkSession, dir: String): DataFrame = {
    val k = col("doc_id").cast("string")
    val ct = when(col("doc_id") % 4 === 0, lit("text/HTML; charset=UTF-8"))
      .when(col("doc_id") % 4 === 2, lit("application/octet-stream"))
      .otherwise(lit(null).cast("string"))
    val url = when(col("doc_id") % 4 === 1, concat(lit("http://h.example.com/doc"), k, lit(".pdf")))
      .when(col("doc_id") % 4 === 2, concat(lit("http://h.example.com/img"), k, lit(".png")))
      .otherwise(concat(lit("http://h.example.com/page"), k))
    documents(s, dir)
      .select(col("doc_id"), ct.as("content_type"), url.as("url"))
      .withColumn("mime", mime_resolve(col("content_type"), col("url")))
  }

  /** §2.1 index-anchor + index-links over a linkdb built from lineitem
    * edges: anchors deduplicated and sorted per target URL, inlink hosts
    * likewise — the reference's multi-valued fields, '|'-joined. */
  def indexAnchors(s: SparkSession, dir: String): DataFrame = {
    import graft.index._
    val edges = lineitem(s, dir).select(
      concat(lit("http://p.test/"), col("l_partkey").cast("string")).as("url"),
      struct(
        concat(lit("http://h"), (col("l_orderkey") % 13).cast("string"),
          lit(".test/o"), col("l_orderkey").cast("string")).as("from_url"),
        concat(lit("a"), (col("l_orderkey") % 7).cast("string")).as("anchor")).as("i"))
    val linkdb = edges.groupBy(col("url")).agg(collect_list(col("i")).as("inlinks"))
    val docs = edges.select(col("url")).distinct()
    val chained = IndexingFilterChain(Seq(
      AnchorFilter(linkdb),
      LinksFilter(linkdb, hostsOnly = true)))
    chained(docs).select(col("url"), col("anchor"), col("inlinks"))
  }

  /** §2.2 the URLNormalizer plugin variants (ajax, querystring-sort,
    * protocol, host-alias, slash) composed around the basic canonicalizer —
    * five URL classes, one per plugin; the oracle states each expected
    * canonical output. */
  def urlNormalizers(s: SparkSession, dir: String): DataFrame = {
    import graft.url._
    val chain = UrlChain(Seq(
      AjaxNormalizer,
      QuerystringSortNormalizer,
      ProtocolNormalizer(Map("proto.example.com" -> "https")),
      HostAliasNormalizer(Map("www.alias.example.com" -> "alias.example.com")),
      SlashNormalizer(Map("addslash.example.com" -> true, "noslash.example.com" -> false))), Nil)
    val k = col("doc_id").cast("string")
    val raw = when(col("doc_id") % 5 === 0,
        concat(lit("http://ajax.example.com/app?x=1#!state="), k))
      .when(col("doc_id") % 5 === 1,
        concat(lit("http://qs.example.com/p?b=2&a="), k, lit("&c=3")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("http://proto.example.com/page"), k))
      .when(col("doc_id") % 5 === 3,
        concat(lit("http://www.alias.example.com/page"), k, lit("/")))
      .otherwise(concat(lit("http://noslash.example.com/dir"), k, lit("/")))
    documents(s, dir).select(col("doc_id"), raw.as("raw"))
      // the chain column; every class passes the default filters, so its
      // output is the normalizers' alone
      .withColumn("normalized", url_canon_filter(col("raw"), chain))
  }

  /** §2.1 the IndexingFilter plugin chain (index-basic, index-more, tld,
    * subcollection, mimetype-filter, index-static) over synthesized index
    * docs: three URL classes, image docs dropped by the mime glob rule, one
    * subcollection blacklisted by prefix. The oracle re-states every
    * produced field. */
  def indexFields(s: SparkSession, dir: String): DataFrame = {
    import graft.index._
    val k = col("doc_id").cast("string")
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("http://sub.site"), k, lit(".co.uk/docs/page"), k, lit(".html")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("http://www.site"), k, lit(".com/pub/img"), k, lit(".png")))
      .otherwise(concat(lit("http://site"), k, lit(".org/page"), k))
    val docs0 = documents(s, dir).select(col("doc_id"), url.as("url"),
      substring(col("text"), 1, 150).as("title"), col("text"))
    val chain = IndexingFilterChain(Seq(
      BasicFieldsFilter(maxTitleLength = 40),
      MoreFieldsFilter(),
      TldFilter(),
      SubcollectionFilter(Seq(
        SubcollectionDef("docs", Seq("http://sub.")),
        SubcollectionDef("org", Seq("http://site"), blackPrefixes = Seq("http://site9")))),
      MimeTypeFilter(Seq(false -> "image/*"), defaultAccept = true),
      StaticFieldsFilter(Map("site_tag" -> "graft"))))
    chain(docs0).select(col("doc_id"), col("host"), col("tld"), col("title"),
      col("type"), col("primary_type"), col("sub_type"), col("content_length"),
      col("subcollection"), col("site_tag"))
  }

  /** language-identifier plugin: the full LanguageIndexingFilter precedence
    * (parse_meta["lang"] ≻ Content-Language header ≻ detector ≻ "unknown")
    * over synthesized per-doc evidence — doc_id arithmetic decides which
    * stage carries the language, so the DuckDB oracle mirrors the whole
    * cascade from first principles (detector = the q_lang_guess marker
    * formula). */
  def langField(s: SparkSession, dir: String): DataFrame = {
    val k = col("doc_id")
    val withEvidence = documents(s, dir).select(
      col("doc_id"),
      col("text"),
      // parse-time identification present for doc_id % 5 == 0
      when(k % 5 === 0,
        map(lit("lang"), element_at(array(lit("fi"), lit("sv"), lit("pl")), (k % 3 + 1).cast("int"))))
        .otherwise(map().cast("map<string,string>")).as("parse_meta"),
      // Content-Language header present for doc_id % 5 in (1, 2)
      when(k % 5 === 1, lit("pt")).when(k % 5 === 2, lit("nl"))
        .otherwise(lit(null).cast("string")).as("content_language"))
    graft.index.LanguageFilter()(withEvidence)
      .select(col("doc_id"), col("lang").as("lang_field"))
  }

  /** index-geoip: IP-range resolution as the scale-correct bucketized
    * broadcast equi-join. IPs are pure doc_id arithmetic; the range table
    * (below, also inlined in the oracle SQL) includes a range crossing a
    * /16 boundary and leaves some IPs uncovered (null geo fields). */
  val GeoRanges: Seq[(Long, Long, String, String)] = {
    def ip(a: Long, b: Long, c: Long, d: Long) = a * 16777216L + b * 65536L + c * 256L + d
    Seq(
      (ip(10, 0, 0, 0), ip(10, 3, 255, 255), "AA", "Alpha"),     // spans 4 /16s
      (ip(10, 5, 128, 0), ip(10, 5, 255, 255), "BB", "Beta"),    // half a /16
      (ip(10, 7, 255, 0), ip(10, 8, 0, 255), "CC", "Gamma"),     // crosses a /16 edge
      (ip(10, 12, 0, 0), ip(10, 12, 0, 127), "DD", "Delta"))     // tiny
  }

  def geoIp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = col("doc_id")
    val docs = documents(s, dir).select(
      col("doc_id"),
      concat(lit("10."), (k % 14).cast("string"), lit("."),
        (k * 7 % 256).cast("string"), lit("."), (k % 250).cast("string")).as("ip"))
    val ranges = GeoRanges.toDF("start_ip", "end_ip", "country_code", "city")
    graft.index.GeoIpFilter(ranges)(docs)
      .select(col("doc_id"), col("ip"), col("country_code"), col("city"))
  }

  /** §2.5 segment merge: latest row per key across segments (SegmentMerger
    * semantics) — one shuffle, partial-aggregated max_by, the exact plan
    * SegmentTools.mergeRounds uses. */
  def segmentMerge(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max_by(
        struct(col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
        // total recency order: the synthetic lineitem has duplicate
        // (orderkey, linenumber) pairs, so ties must break deterministically
        struct(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))).as("_w"))
      .select(col("l_orderkey"), col("_w.l_linenumber").as("last_linenumber"),
        col("_w.l_quantity").as("last_quantity"))
}
