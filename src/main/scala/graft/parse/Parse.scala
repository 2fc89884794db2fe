package graft.parse

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.fetch.FetchedPage
import graft.frontier.CrawlConfig
import graft.functions.GraftFunctions
import graft.schema.{CrawlStatus, FrontierUpdate, ParsedDoc}

/** Parse + outlink pipeline (SURVEY.md §2.9).
  *
  * The synthetic protocol already returns span-shaped content, so "parse" is
  * span extraction + signature (done in the fetch executor) + the outlink
  * post-processing the reference does in ParseOutputFormat
  * (reference/src/java/org/apache/nutch/parse/ParseOutputFormat.java:295-357):
  * cap outlinks per page, canonicalize + filter, drop self-links, and
  * distribute OPIC score to targets (score / n × internal/external factor,
  * plugin/scoring-opic/.../OPICScoringFilter.java:129-172).
  *
  * Everything here is declarative DataFrame code — explode/filter/arithmetic
  * stay inside whole-stage codegen; no shuffle until updatedb groups by URL.
  */
object Parse {

  /** The parsed interleaved-documents table (the authoritative output shape).
    * Untyped projection: a typed filter/map here would deserialize every
    * span array through the encoder twice — the projection is pure column
    * shuffling, so it stays in Tungsten rows. */
  def parsedDocs(pages: Dataset[FetchedPage]): Dataset[ParsedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.toDF()
      .filter(col("status") === CrawlStatus.FETCH_SUCCESS.toInt)
      .select(col("url").as("doc_id"), col("spans"), col("round"),
        col("signature"), col("score"))
      .as[ParsedDoc]
  }

  /** Exploded, canonicalized, score-carrying outlinks → linked frontier
    * updates. Redirect spans pass the source's full score (meta-redirect
    * semantics, ParseOutputFormat.java:273-293); link/media spans share
    * score / n. */
  def linkedUpdates(pages: Dataset[FetchedPage], cfg: CrawlConfig, round: Int,
                    parentMeta: Option[org.apache.spark.sql.DataFrame] = None,
                    registerCache: DataFrame => Unit = _ => ()): Dataset[FrontierUpdate] = {
    val spark = pages.sparkSession
    import spark.implicits._

    // scoring-metadata page-sourced relay (reference MetadataScoringFilter
    // .distributeScoreToOutlinks with content/parse-stage keys): the PAGE's
    // own content_type / mime / title / n_spans stamped onto each outlink
    // target — computed inline from the fetched page (it IS the source), no
    // join. Values resolve before the slice/explode so the map is built
    // once per page, not once per link.
    val pageKeys = cfg.pageRelayKeys
    def pageMetaValue(k: String): Column = k match {
      case "content_type" => col("content_type")
      case "mime" => GraftFunctions.mime_resolve(col("content_type"), col("url"))
      case "n_spans" => size(col("spans")).cast("string")
      case "title" =>
        element_at(filter(col("spans"), s => s.getField("kind") === "text"), 1).getField("text")
      case other => lit(null).cast("string") // unknown key: never stamped
    }
    val pageMetaCol: Column =
      if (pageKeys.isEmpty) typedLit(Map.empty[String, String])
      else map_from_entries(filter(
        array(pageKeys.map(k => struct(lit(k).as("key"), pageMetaValue(k).as("value"))): _*),
        e => e.getField("value").isNotNull))

    // parsefilter-naivebayes (reference NaiveBayesParseFilter.filter:86-116):
    // classify the page text once (UDF per PAGE, model in the closure);
    // an irrelevant page's outlinks are pruned below to wordlist hits only
    val nbOn = cfg.naiveBayesTrainLines.nonEmpty
    val pageRelevantCol: Column =
      if (!nbOn) lit(true)
      else {
        val model = NaiveBayes.train(cfg.naiveBayesTrainLines)
        val classify = udf((t: String) => NaiveBayes.classifyRelevant(model, t))
        classify(concat_ws(" ",
          transform(filter(col("spans"), s => s.getField("kind") === "text"),
            s => s.getField("text"))))
      }

    // wordlist URL check (NaiveBayesParseFilter.filterUrl/containsWord):
    // a plain contains-chain — stays inside whole-stage codegen
    def wordlistHit(c: Column): Column =
      if (cfg.naiveBayesWordlist.isEmpty) lit(false)
      else cfg.naiveBayesWordlist.map(w => c.contains(w)).reduce(_ || _)

    val exploded0 = pages.toDF()
      .filter(col("status").isin(CrawlStatus.FETCH_SUCCESS.toInt,
        CrawlStatus.FETCH_REDIR_PERM.toInt, CrawlStatus.FETCH_REDIR_TEMP.toInt))
      // computed via withColumn so the slice filter below can prune an
      // irrelevant page's outlinks (OPIC's 1/n then counts survivors only)
      .withColumn("page_relevant", pageRelevantCol)
      .select(col("url").as("from_url"), col("host").as("from_host"),
        col("score"), col("fetch_time"), col("depth"),
        pageMetaCol.as("pagemeta"),
        // over-long outlinks dropped (db.max.outlink.length) and cap applied
        // BEFORE exploding: slice bounds the blowup (db.max.outlinks.per.page)
        slice(filter(col("spans"), s => s.getField("kind").isin("link", "media", "redirect") &&
            length(s.getField("media_ref")) <= cfg.maxOutlinkLength &&
            // scoring-depth enforcement point (reference DepthScoringFilter
            // .distributeScoreToOutlinks:89-140): a page AT the depth cap has
            // its outlinks suppressed — depth max+1 URLs are never
            // discovered. Redirect spans are exempt: a redirect is the same
            // document, not a hop.
            (lit(cfg.scoringDepthMax <= 0) || col("depth") < cfg.scoringDepthMax ||
              s.getField("kind") === "redirect") &&
            // parsefilter-naivebayes: an irrelevant page keeps only
            // wordlist-matching outlinks (redirects are fetch outcomes,
            // not parse outlinks — exempt)
            (lit(!nbOn) || col("page_relevant") ||
              wordlistHit(s.getField("media_ref")) ||
              s.getField("kind") === "redirect")),
          1, cfg.maxOutlinksPerPage).as("links"))
      .withColumn("n", greatest(size(col("links")), lit(1)))
      .select((Seq(col("from_url"), col("from_host"), col("score"), col("fetch_time"),
        col("depth"), col("n")) ++
        (if (pageKeys.nonEmpty) Seq(col("pagemeta")) else Nil) :+
        explode(col("links")).as("l")): _*)
      // redirect targets inherit the source depth; real links are one deeper.
      // Depth off: constant — the extra agg below folds to nothing real.
      .withColumn("child_depth",
        if (cfg.scoringDepthMax > 0)
          when(col("l.kind") === "redirect", col("depth")).otherwise(col("depth") + 1)
        else lit(1))
      // the configured URL chain (normalizers, default + configured
      // filters) as one codegen'd expression
      .withColumn("to_url", GraftFunctions.url_canon_filter(col("l.media_ref"), cfg.urlChain))
      .filter(col("to_url").isNotNull && col("to_url") =!= col("from_url"))
      .withColumn("to_host", GraftFunctions.url_host(col("to_url")))
      .withColumn("internal",
        if (cfg.ignoreExternalLinksMode == "byDomain")
          GraftFunctions.url_domain(col("to_host")) === GraftFunctions.url_domain(col("from_host"))
        else col("to_host") === col("from_host"))
      // db.ignore.external.links: cross-host/domain targets dropped entirely;
      // redirect spans are exempt (the reference treats redirects as fetch
      // outcomes, not discovered links); urlfilter-ignoreexempt regex hits
      // survive the ignore (to_url already passed the default filters, so
      // only the exemption rules run)
      .transform { df =>
        val base = lit(!cfg.ignoreExternalLinks) || col("internal") || col("l.kind") === "redirect"
        if (cfg.ignoreExternalExemptions.isEmpty) df.filter(base)
        else df.filter(base || GraftFunctions.url_accept(col("to_url"),
          graft.url.RegexUrlFilter(cfg.ignoreExternalExemptions)))
      }
    val exploded = exploded0
      .withColumn("child_score",
        // scoring-similarity: every target inherits the FULL page score
        // (SimilarityScoringFilter.distributeScoreToOutlinks — no 1/n split).
        // scoring-link: no OPIC distribution at all — targets enter at the
        // initialScore of 0 and keep whatever ScoreUpdater installs later
        // (LinkAnalysisScoringFilter leaves distribute/updateDbScore as the
        // no-op defaults, initialScore = 0).
        if (cfg.scoringLink) lit(0.0f)
        else if (cfg.scoringSimilarityGold.isDefined) col("score")
        else when(col("l.kind") === "redirect", col("score"))
          .otherwise(col("score") / col("n") *
            when(col("internal"), lit(cfg.scoreInternalFactor)).otherwise(lit(cfg.scoreExternalFactor))))

    // Pre-aggregate credits per target URL BEFORE the updatedb shuffle:
    // map-side partial combine turns ~(pages × fanout) rows into one row per
    // distinct target — the single biggest shuffle reducer in the round.
    // Exactness of the inlink cap (db.update.max.inlinks) is preserved:
    // URLs within the cap get sum == capped sum; the rare over-cap URLs are
    // resolved exactly against the raw credits (top-K by score).
    val depthOn = cfg.scoringDepthMax > 0
    // urlmeta plugin (reference src/plugin/urlmeta URLMetaScoringFilter
    // .distributeScoreToOutlinks:30-46): configured frontier-metadata tags
    // of the PARENT page propagate onto every outlink target, so newly
    // discovered rows inherit them through updatedb (an existing row keeps
    // its own metadata — CrawlDbReducer only adopts linked metadata on
    // first discovery, mirrored by both merge paths). parentMeta carries
    // (from_url, urlmeta) for tagged parents only; the join is against the
    // tagged subset, which AQE broadcasts when small (tags usually start
    // from a handful of seeds).
    val frontierTagsOn = parentMeta.isDefined && cfg.frontierRelayKeys.nonEmpty
    val pageTagsOn = pageKeys.nonEmpty
    val tagsOn = frontierTagsOn || pageTagsOn
    // similarity mode: one row per target must carry the BEST parent score
    // (the reference's link-triggered new row takes one parent's score, not
    // a sum — updateDbScore is a no-op for this plugin), so the pre-agg is
    // max, not sum. OPIC mode sums credits as before.
    def creditAgg =
      if (cfg.scoringSimilarityGold.isDefined) max(col("child_score")).as("credit")
      else sum(col("child_score")).as("credit")
    // per-link inherited metadata: frontier-relayed parent tags (join
    // against the tagged-parents subset) unioned with page-sourced values
    // (inline — page wins on a key collision, like the reference's
    // last-put-wins in parseData)
    def mapConcatSafe(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.map_concat_last_wins(a, b)
    val explodedT = (frontierTagsOn, pageTagsOn) match {
      case (true, false) => exploded.join(
        parentMeta.get.select(col("from_url"), col("urlmeta")), Seq("from_url"), "left")
      case (false, true) => exploded.withColumn("urlmeta", col("pagemeta"))
      case (true, true) => exploded.join(
          parentMeta.get.select(col("from_url"), col("urlmeta").as("_fmeta")), Seq("from_url"), "left")
        .withColumn("urlmeta", mapConcatSafe(col("_fmeta"), col("pagemeta")))
      case _ => exploded
    }
    // perLink feeds TWO subtrees (the credit pre-agg AND the over-cap
    // window resolution below): unpersisted, each pays the full pages scan
    // + explode + canonicalization of every outlink — the single most
    // expensive recomputation in the round (measured: the duplicate explode
    // stage alone was ~2 s of the 6.5 s updatedb wall at 800k pages/round).
    // Persisted, the explode runs once; the cache holds only the projected
    // (to_url, fetch_time, child_score[, depth, tags]) columns and spills.
    // The caller unpersists after the round via registerCache.
    val perLink = explodedT.select(Seq(col("to_url"), col("fetch_time"),
      col("child_score")) ++ (if (depthOn) Seq(col("child_depth")) else Nil) ++
      (if (tagsOn) Seq(col("from_url"), col("urlmeta")) else Nil): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(perLink)
    // depth agg (shortest path wins — reference min) only when scoring-depth
    // is on: the default 16M-row pre-agg carries no extra column
    def depthAgg = min(col("child_depth")).as("depth")
    // deterministic tag inheritance: the lexicographically-smallest TAGGED
    // parent wins (the reference's last-writer-wins is reducer-order
    // dependent; min_by ignores rows whose ordering key is null)
    def tagAgg = min_by(col("urlmeta"),
      when(col("urlmeta").isNotNull, col("from_url"))).as("urlmeta")
    val agg = perLink
      .groupBy(col("to_url"))
      .agg(creditAgg,
        (Seq(count(lit(1)).as("n_links"),
          max(col("fetch_time")).as("fetch_time")) ++
          (if (depthOn) Seq(depthAgg) else Nil) ++
          (if (tagsOn) Seq(tagAgg) else Nil)): _*)
      .transform(df => if (depthOn) df else df.withColumn("depth", lit(1)))

    val metaCols = Seq(col("depth")) ++ (if (tagsOn) Seq(col("urlmeta")) else Nil)
    val within = agg.filter(col("n_links") <= cfg.maxInlinks)
      .select(Seq(col("to_url"), col("credit"), col("fetch_time")) ++ metaCols: _*)
    val overKeys = agg.filter(col("n_links") > cfg.maxInlinks)
      .select(col("to_url"), col("fetch_time"))
    val overResolved = perLink
      .join(overKeys.select(col("to_url")).hint("broadcast"), Seq("to_url"), "left_semi")
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("to_url").orderBy(desc("child_score"))))
      .filter(col("_rk") <= cfg.maxInlinks)
      .groupBy(col("to_url"))
      .agg(creditAgg,
        (Seq(max(col("fetch_time")).as("fetch_time")) ++
          (if (depthOn) Seq(depthAgg) else Nil) ++
          (if (tagsOn) Seq(tagAgg) else Nil)): _*)
      .transform(df => if (depthOn) df else df.withColumn("depth", lit(1)))
    val credits = within.unionByName(overResolved.select(within.columns.toIndexedSeq.map(col): _*))

    // per-row maps only when depth scoring or urlmeta tags are on — the
    // default hot path ships no map allocations
    val emptyMap = typedLit(Map.empty[String, String])
    val metadataCol = (depthOn, tagsOn) match {
      case (false, false) => emptyMap
      case (true, false)  => map(lit("_depth_"), col("depth").cast("string"))
      case (false, true)  => coalesce(col("urlmeta"), emptyMap)
      case (true, true)   => map_concat(coalesce(col("urlmeta"), emptyMap),
        map(lit("_depth_"), col("depth").cast("string")))
    }
    credits.select(
      col("to_url").as("url"),
      lit("linked").as("kind"),
      lit(CrawlStatus.DB_UNFETCHED).as("status"),
      col("fetch_time"),
      lit(0).as("retries"),
      lit(cfg.fetchIntervalDefault).as("fetch_interval"),
      col("credit").cast("float").as("score"),
      lit(null).cast("binary").as("signature"),
      lit(0L).as("modified_time"),
      lit(null).cast("string").as("repr_url"),
      metadataCol.as("metadata"),
      lit(-1L).as("generate_time")
    ).as[FrontierUpdate]
  }

  /** Fetch statuses as updatedb input rows, with configured-key parse_meta →
    * crawldb propagation (db.parsemeta.to.crawldb, reference
    * parse/ParseOutputFormat.java:244-258 stamping + crawl/CrawlDbReducer
    * .java:219-223 consuming): only the keys listed in
    * `cfg.parseMetaToCrawlDb` ride into the frontier metadata, where the
    * updatedb merge (old ∪ fetch, fetch wins) carries them forward on both
    * the typed and columnar paths. Known parse_meta keys: content_type
    * (raw header), mime (resolved), n_spans, title (first text span). The
    * mime-adaptive schedule forces content_type regardless. Unconfigured
    * (the default), the hot path ships NO per-row map — 3.9M
    * allocated+shuffled maps per round otherwise. */
  def fetchUpdates(pages: Dataset[FetchedPage], cfg: CrawlConfig = CrawlConfig()): Dataset[FrontierUpdate] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val wantMime = cfg.schedule == "mime"
    val keys = cfg.parseMetaToCrawlDb
    val depthOn = cfg.scoringDepthMax > 0
    val pstOn = cfg.protocolStatusToCrawlDb
    if (!wantMime && keys.isEmpty && !depthOn && !pstOn)
      // pure column projection: the typed map would deserialize EVERY page
      // (including its spans array) through the encoder just to copy nine
      // scalar fields — the projection stays in Tungsten rows and lets the
      // cached pages scan prune the span payload entirely
      pages.toDF().select(
        col("url"), lit("fetch").as("kind"), col("status"), col("fetch_time"),
        col("retries"), col("fetch_interval"), col("score"), col("signature"),
        lit(0L).as("modified_time"), col("repr_url"),
        typedLit(Map.empty[String, String]).as("metadata"),
        lit(-1L).as("generate_time")).as[FrontierUpdate]
    else pages.map { p =>
      var meta = Map.empty[String, String]
      // scoring-depth: the frontier remembers the page's depth (fetch wins
      // the metadata merge, so a refetch refreshes it)
      if (depthOn) meta += "_depth_" -> p.depth.toString
      // protocol status → crawldb (reference HttpBase.java:369-370 stamps
      // nutch.protocol.code; ProtocolStatusStatistics reads it back)
      if (pstOn && p.protocol_status != null)
        meta += graft.frontier.FrontierTools.ProtocolStatusKey -> p.protocol_status
      if ((wantMime || keys.contains("content_type")) && p.content_type != null)
        meta += "content_type" -> p.content_type
      if (keys.contains("mime"))
        meta += "mime" -> graft.url.Mime.resolve(p.content_type, p.url)
      if (keys.contains("n_spans"))
        meta += "n_spans" -> p.spans.size.toString
      if (keys.contains("title"))
        p.spans.find(s => s.kind == "text" && s.text != null)
          .foreach(s => meta += "title" -> s.text)
      FrontierUpdate(p.url, "fetch", p.status, p.fetch_time, p.retries,
        p.fetch_interval, p.score, p.signature, 0L, p.repr_url, meta)
    }
  }
}
