package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.CrawlRound
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.CrawlConfig
import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
import graft.queries.Relational

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from the SURVEY.md §2 inventory appears as a `queries`
  * entry; where the computation is SQL-expressible the matching DuckDB
  * oracle is in `oracleSql` (columns aliased identically on both sides);
  * engine-native operators (LSH/minhash/simhash hashing, the crawl round,
  * the rolling-hash fingerprint) are rows-only here and verified by the
  * ScalaTest specs instead.
  */
object SparkEntry {

  // one static JVM hook draining a queue of entry() temp dirs — repeated
  // entry() calls in a session must not accumulate shutdown hooks
  private val entryTempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val entryCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      import java.util.Comparator
      entryTempDirs.forEach { rootPath =>
        try Files.walk(rootPath).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { try Files.deleteIfExists(p) catch { case _: Exception => () } })
        catch { case _: Exception => () }
      }
    }))

  /** Flagship: a full synthetic crawl round (generate → politeness fetch →
    * parse → updatedb state machine) returning the round-1 frontier. */
  def entry(spark: SparkSession): DataFrame = {
    val web = SyntheticWeb(WebConfig(nHosts = 6, pagesPerHost = 10))
    val cfg = CrawlConfig(topN = 200, maxPerHost = 50, numFetchPartitions = 2,
      serverDelayMs = 200, fetchLatencyMs = 5)
    val rootPath = java.nio.file.Files.createTempDirectory("graft-entry")
    // the returned DataFrame is lazy (the caller scans it after we return),
    // so clean up at JVM exit, not here
    entryCleanupHook
    entryTempDirs.add(rootPath)
    val root = rootPath.toString
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    store.load(spark, "frontier").get
      .select(col("url"), col("host"), col("status").cast("int").as("status"), col("score"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame = Relational.documents(s, dir)

  /** Gold-standard text for q_similarity_score — term counts chosen so the
    * gold L2 norm is exactly sqrt(16) = 4.0 (join ×2, scan ×2, rest ×1),
    * keeping the DuckDB mirror's float path literal-for-literal identical. */
  private val SimilarityGoldText =
    "spark sql query plan join filter scan aggregate shuffle partition join scan"

  /** documents augmented with exact duplicates (doc_id+10000 for doc_id<20)
    * so dedup operators have guaranteed positives at every SF. */
  private def docsAug(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select("doc_id", "text").unionByName(
      d.filter(col("doc_id") < 20).select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- crawl operator inventory over relational tables (SURVEY.md §2) ---
    "q_scan_filter_project" -> (Relational.scanFilterProject _),
    "q_agg_stats" -> (Relational.aggStats _),
    "q_inject_merge" -> (Relational.injectMerge _),
    "q_latest_wins" -> (Relational.latestWins _),
    "q_generate_topn" -> (Relational.generateTopN _),
    "q_global_topn" -> (Relational.globalTopN _),
    "q_host_agg" -> (Relational.hostAgg _),
    "q_link_invert" -> (Relational.linkInvert _),
    "q_opic_distribute" -> (Relational.opicDistribute _),
    "q_seen_antijoin" -> (Relational.seenAntiJoin _),
    "q_dedup_keepbest" -> (Relational.dedupKeepBest _),
    "q_state_transition" -> (Relational.stateTransition _),
    "q_events_window" -> (Relational.eventsWindow _),
    "q_url_canonicalize" -> (Relational.urlCanonicalize _),
    "q_registered_domain" -> (Relational.registeredDomain _),
    "q_score_quantiles" -> (Relational.scoreQuantiles _),
    "q_segment_merge" -> (Relational.segmentMerge _),
    "q_mime_resolve" -> (Relational.mimeResolve _),
    "q_parse_html" -> ((s, d) => graft.parse.HtmlOps.parseHtmlStats(docs(s, d))),
    "q_meta_headings" -> ((s, d) => graft.parse.HtmlOps.metaHeadings(docs(s, d))),
    // --- text analysis (documents) ---
    "q_token_count" -> ((s, d) => TextOps.tokenCount(docs(s, d))),
    "q_bpeish_tokens" -> ((s, d) => TextOps.bpeishTokenCount(docs(s, d))),
    "q_bpe_tokens" -> ((s, d) => TextOps.bpeTokenCount(docs(s, d))),
    "q_text_quality" -> ((s, d) => TextOps.quality(docs(s, d))),
    "q_repetition" -> ((s, d) => TextOps.repetitionSignals(docs(s, d))),
    "q_lang_guess" -> ((s, d) => TextOps.langGuess(docs(s, d))),
    "q_doc_fingerprint" -> ((s, d) => TextOps.fingerprint(docs(s, d))),
    "q_text_fingerprint64" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.functions.GraftFunctions.text_fingerprint64(col("text")).as("fp64"))),
    // --- deduplication suite ---
    "q_dedup_exact" -> ((s, d) => DedupOps.exactDups(docsAug(s, d))),
    // unigram: df cut DISABLED (1.0) — the synthetic ~30-word vocab makes
    // every token ubiquitous, so any active cut would empty the result;
    // ngram: the default 0.5 df cut ACTIVE (mirrored in the oracle SQL)
    "q_jaccard_pairs" -> ((s, d) => DedupOps.unigramJaccardPairs(docsAug(s, d), 0.75, maxDfFraction = 1.0)),
    "q_ngram_jaccard" -> ((s, d) => DedupOps.ngramJaccardPairs(docsAug(s, d), 3, 0.5)),
    "q_minhash_lsh" -> ((s, d) => DedupOps.minhashLshPairs(docsAug(s, d), 0.5)),
    // near-dup CLUSTERS: connected components over the DF-CUT n-gram pair
    // graph (the scalable pair source — the un-cut unigram baseline is
    // quadratic in hot tokens and exists only as the exactness mirror)
    "q_neardup_clusters" -> ((s, d) => DedupOps.connectedComponents(
      DedupOps.ngramJaccardPairs(docsAug(s, d), 3, 0.5))),
    // benchmark decontamination: docs sharing ≥2 3-grams with the doc_id<10 "eval set"
    "q_decontaminate" -> ((s, d) => DedupOps.decontaminate(
      docs(s, d), docs(s, d).filter(col("doc_id") < 10), 3, 2)),
    // deterministic stratified sampling: per-language keep rates, seeded hash
    "q_stratified_sample" -> ((s, d) => graft.ops.SampleOps.stratifiedSample(
      docs(s, d).select(col("doc_id"), col("lang")), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1), defaultRate = 0.05, seed = 7L)),
    // sequence packing: concat-and-chunk docs into 2000-char bins, 8 streams
    "q_pack_sequences" -> ((s, d) => graft.ops.SampleOps.packSequences(
      docs(s, d).select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", 2000L, 8)),
    "q_simhash_pairs" -> ((s, d) => DedupOps.simhashPairs(docsAug(s, d), 3)),
    // --- similarity search (embeddings) ---
    "q_embed_pairs" -> ((s, d) => SimilarityOps.cosinePairs(Relational.embeddings(s, d), 0.35, 300)),
    "q_embed_topk" -> ((s, d) => SimilarityOps.bruteTopK(Relational.embeddings(s, d), 0L until 8L, 5)),
    "q_ann_lsh_topk" -> ((s, d) => SimilarityOps.lshTopK(Relational.embeddings(s, d), 0L until 8L, 5)),
    "q_ann_ivf_topk" -> ((s, d) => SimilarityOps.ivfTopK(Relational.embeddings(s, d), 0L until 8L, 5)),
    // --- scoring-orphan plugin through the real updatedb merge ---
    "q_orphan_status" -> (Relational.orphanStatus _),
    "q_adaptive_sort" -> (Relational.adaptiveSort _),
    // --- IndexingFilter plugin chain (basic/more/tld/subcollection/mime/static) ---
    "q_index_fields" -> (Relational.indexFields _),
    // --- URLNormalizer plugin variants (ajax/querystring/protocol/host/slash) ---
    "q_url_normalizers" -> (Relational.urlNormalizers _),
    // --- index-anchor + index-links over the linkdb ---
    "q_index_anchors" -> (Relational.indexAnchors _),
    // --- scoring-similarity: gold-standard TF-cosine over documents ---
    "q_similarity_score" -> ((s, d) => graft.score.SimilarityScoring.scoreDocs(
      docs(s, d), "doc_id", "text",
      graft.score.SimilarityScoring.goldModel(SimilarityGoldText))),
    // --- multimodal plumbing ---
    "q_media_meta" -> ((s, d) => MultimodalOps.mediaMeta(docs(s, d))),
    // sniffHeaders=false pins the oracle contract to the deterministic fake
    // kernel regardless of fixture bytes (the DuckDB mirror models only it)
    "q_media_decode" -> ((s, d) => MultimodalOps.decodeBlobs(
      MultimodalOps.attachBlobs(docs(s, d)), sniffHeaders = false).toDF()),
    // --- index-replace + parsefilter-regex plugins ---
    "q_index_replace" -> (Relational.indexReplace _),
    "q_regex_flags" -> (Relational.regexFlags _),
    // --- creativecommons + microformats-reltag plugins ---
    "q_cc_reltag" -> (Relational.ccRelTag _),
    // --- crawldb statistics tools + FreeGenerator ---
    "q_crawl_completion" -> (Relational.crawlCompletion _),
    "q_protocol_status" -> (Relational.protocolStatus _),
    "q_free_generate" -> (Relational.freeGenerate _),
    // --- language-identifier + index-geoip indexing filters ---
    "q_lang_field" -> (Relational.langField _),
    "q_geoip" -> (Relational.geoIp _),
    // --- the crawl engine end-to-end (rows-only; specs assert semantics) ---
    "q_crawl_round" -> ((s, _) => entry(s))
  )

  /** DuckDB oracles. Column aliases match the Spark outputs exactly; sums go
    * through decimal(18,x) on both sides; rounding applied identically. */
  def oracleSql: Map[String, String] = Map(
    "q_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)) *
                     (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_discount > 0.05""",
    "q_agg_stats" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
                min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM orders GROUP BY o_orderstatus""",
    "q_inject_merge" ->
      """SELECT coalesce(c_custkey, o_custkey) AS key,
                CASE WHEN c_custkey IS NULL THEN 'injected'
                     WHEN o_custkey IS NULL THEN 'old' ELSE 'merged' END AS merge_status
         FROM customer FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) s
           ON c_custkey = o_custkey""",
    "q_latest_wins" ->
      """SELECT o_custkey, o_orderkey AS latest_order, o_orderstatus AS latest_status
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) rn
               FROM orders) t WHERE rn = 1""",
    "q_generate_topn" ->
      """SELECT o_custkey, o_orderkey, rnk FROM
           (SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
            FROM orders) t WHERE rnk <= 3""",
    "q_global_topn" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100",
    "q_host_agg" ->
      """SELECT c_nationkey, count(*) AS n,
                CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal,
                count(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_negative
         FROM customer GROUP BY c_nationkey""",
    "q_link_invert" ->
      """SELECT l_partkey, count(DISTINCT l_orderkey) AS n_inlinks,
                least(count(DISTINCT l_orderkey), 5) AS capped_inlinks,
                min(l_orderkey) AS first_inlink
         FROM lineitem GROUP BY l_partkey""",
    "q_opic_distribute" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(floor(l_extendedprice / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                      OVER (PARTITION BY l_orderkey) AS DOUBLE) * 1000000) AS BIGINT) AS share_ppm
         FROM lineitem""",
    "q_seen_antijoin" ->
      """SELECT o_custkey, count(*) AS n_unseen FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
         GROUP BY o_custkey""",
    "q_dedup_keepbest" ->
      """SELECT o_orderkey, rn > 1 AS is_duplicate FROM
           (SELECT o_orderkey, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderdate DESC, o_orderkey ASC) rn
            FROM orders) t""",
    "q_state_transition" ->
      """SELECT 'u' || CAST(o_orderkey AS VARCHAR) AS url,
                CASE WHEN o_orderpriority = '1-URGENT' THEN 2
                     WHEN o_orderpriority = '2-HIGH' THEN (CASE WHEN (o_orderkey % 4) + 1 < 3 THEN 1 ELSE 3 END)
                     WHEN o_orderpriority = '3-MEDIUM' THEN 3
                     WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 4
                     ELSE 5 END AS new_status,
                CASE WHEN o_orderpriority = '2-HIGH' THEN CAST((o_orderkey % 4) + 1 AS INTEGER)
                     WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_orderkey % 4 AS INTEGER)
                     ELSE 0 END AS new_retries
         FROM orders""",
    "q_orphan_status" ->
      """WITH b AS (
           SELECT 'u' || CAST(o_orderkey AS VARCHAR) AS url,
                  o_orderkey % 2 AS fetch_m, o_orderkey % 3 AS link_m, o_orderkey % 4 AS bucket
           FROM orders)
         SELECT url,
                CASE WHEN link_m = 0 THEN (CASE WHEN fetch_m = 0 THEN 2 ELSE 1 END)
                     WHEN bucket = 3 THEN 8
                     WHEN bucket = 2 THEN 3
                     WHEN fetch_m = 0 THEN 2 ELSE 1 END AS new_status,
                CAST(CASE WHEN link_m = 0 THEN 1700000000
                          WHEN bucket = 1 THEN 1700000000 - 10*86400
                          WHEN bucket = 2 THEN 1700000000 - 35*86400
                          WHEN bucket = 3 THEN 1700000000 - 45*86400
                          ELSE NULL END AS BIGINT) AS orphan_stamp,
                CAST(CASE WHEN link_m = 0 THEN 1.5 ELSE 1.0 END AS DOUBLE) AS new_score
         FROM b""",
    // scoring-adaptive generator sort value: the SQL restates the formula
    // with the SAME association order as AdaptiveScoring.sortValue, so the
    // double arithmetic is IEEE-identical (score enters as REAL like the
    // engine's float score column)
    "q_adaptive_sort" ->
      """WITH b AS (SELECT o_orderkey AS k FROM orders)
         SELECT 'u' || CAST(k AS VARCHAR) AS url,
                CASE CAST(k % 5 AS INTEGER) WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 WHEN 3 THEN 4 ELSE 6 END AS status,
                CAST(
                  ((((CAST(CAST((k % 10) / 4.0 AS REAL) AS DOUBLE)
                     + 0.01 * (k % 20))
                     + (CASE CAST(k % 5 AS INTEGER) WHEN 0 THEN 0.1 WHEN 2 THEN -0.5 ELSE 0 END))
                     + (CASE WHEN k % 3 = 0 THEN 0.25 ELSE 0 END))
                     + (CASE WHEN k % 5 = 0 AND k % 4 > 0 THEN -(k % 4) * 0.1
                             WHEN k % 5 = 0 AND k % 20 <= 7 THEN 0.2 ELSE 0 END))
                    - (CASE WHEN k % 2 = 0 AND k % 60 > 0 THEN 0.005 * (k % 60) ELSE 0 END)
                AS DOUBLE) AS sort_value
         FROM b""",
    "q_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
                count(*) AS n,
                CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q_url_canonicalize" ->
      """SELECT doc_id,
                'http://host-' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/' || source || '/?id=' || CAST(doc_id AS VARCHAR) AS canon,
                'host-' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host
         FROM documents""",
    "q_registered_domain" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 6 AS INTEGER)
                  WHEN 0 THEN 'www.site' || CAST(doc_id AS VARCHAR) || '.com'
                  WHEN 1 THEN 'a.b.site' || CAST(doc_id AS VARCHAR) || '.co.uk'
                  WHEN 2 THEN 'deep.proj' || CAST(doc_id AS VARCHAR) || '.github.io'
                  WHEN 3 THEN 'shop' || CAST(doc_id AS VARCHAR) || '.com.au'
                  WHEN 4 THEN 'x.y.site' || CAST(doc_id AS VARCHAR) || '.ck'
                  ELSE 'www.ck' END AS host,
                CASE CAST(doc_id % 6 AS INTEGER)
                  WHEN 0 THEN 'site' || CAST(doc_id AS VARCHAR) || '.com'
                  WHEN 1 THEN 'site' || CAST(doc_id AS VARCHAR) || '.co.uk'
                  WHEN 2 THEN 'proj' || CAST(doc_id AS VARCHAR) || '.github.io'
                  WHEN 3 THEN 'shop' || CAST(doc_id AS VARCHAR) || '.com.au'
                  WHEN 4 THEN 'y.site' || CAST(doc_id AS VARCHAR) || '.ck'
                  ELSE 'www.ck' END AS domain
         FROM documents""",
    "q_score_quantiles" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(quantile_cont(o_totalprice, 0.25), 2) AS q25,
                round(quantile_cont(o_totalprice, 0.5), 2) AS q50,
                round(quantile_cont(o_totalprice, 0.75), 2) AS q75,
                round(quantile_cont(o_totalprice, 0.9), 2) AS q90
         FROM orders GROUP BY o_orderstatus""",
    "q_segment_merge" ->
      """SELECT l_orderkey, l_linenumber AS last_linenumber, l_quantity AS last_quantity
         FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber DESC, l_quantity DESC, l_extendedprice DESC) rn
               FROM lineitem) t WHERE rn = 1""",
    "q_mime_resolve" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 4 AS INTEGER)
                  WHEN 0 THEN 'text/HTML; charset=UTF-8'
                  WHEN 2 THEN 'application/octet-stream'
                  ELSE NULL END AS content_type,
                CASE CAST(doc_id % 4 AS INTEGER)
                  WHEN 1 THEN 'http://h.example.com/doc' || CAST(doc_id AS VARCHAR) || '.pdf'
                  WHEN 2 THEN 'http://h.example.com/img' || CAST(doc_id AS VARCHAR) || '.png'
                  ELSE 'http://h.example.com/page' || CAST(doc_id AS VARCHAR) END AS url,
                CASE CAST(doc_id % 4 AS INTEGER)
                  WHEN 0 THEN 'text/html'
                  WHEN 1 THEN 'application/pdf'
                  WHEN 2 THEN 'image/png'
                  ELSE 'text/html' END AS mime
         FROM documents""",
    // first-principles mirror of the REAL HTML parser's output on the
    // deterministic generated pages (HtmlOps.syntheticHtml): token i is a
    // link when i%5=0 (target "../up/w{i}.html" when i%10=5, else
    // "w{i}.html", both resolved against base http://b.example/dir/), an
    // img+alt when i%7=0 otherwise, plain prose else; spans interleave in
    // document order with the title as the leading text span and text runs
    // flushed at every link/media boundary (DuckDB indices j are 1-based:
    // i = j-1)
    "q_parse_html" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
                 array_to_string(toks[1:2], ' ') AS title,
                 len(list_filter(toks, (x, j) -> (j-1)%5 = 0)) AS n_link,
                 len(list_filter(toks, (x, j) -> (j-1)%7 = 0 AND (j-1)%5 <> 0)) AS n_media,
                 1 + len(list_filter(toks, (x, j) ->
                       (j-1)%5 <> 0 AND (j-1)%7 <> 0
                       AND ((j-2)%5 = 0 OR (j-2)%7 = 0))) AS n_text,
                 array_to_string(list_filter(list_transform(toks, (x, j) ->
                     CASE WHEN (j-1)%5 = 0 THEN
                       CASE WHEN (j-1)%10 = 5
                            THEN 'http://b.example/up/w' || CAST(j-1 AS VARCHAR) || '.html'
                            ELSE 'http://b.example/dir/w' || CAST(j-1 AS VARCHAR) || '.html' END
                     END), x -> x IS NOT NULL), '|') AS links,
                 array_to_string(list_filter(list_transform(toks, (x, j) ->
                     CASE WHEN (j-1)%5 = 0 THEN x END), x -> x IS NOT NULL), '|') AS anchors,
                 array_to_string(list_filter(list_transform(toks, (x, j) ->
                     CASE WHEN (j-1)%7 = 0 AND (j-1)%5 <> 0
                          THEN 'http://b.example/dir/' || x || '.png' END),
                   x -> x IS NOT NULL), '|') AS medias
               FROM t)
         SELECT doc_id, title, n_text + n_link + n_media AS n_spans,
                n_text, n_link, n_media, links, anchors, medias
         FROM c""",
    "q_index_anchors" ->
      """WITH e AS (SELECT 'http://p.test/' || CAST(l_partkey AS VARCHAR) AS url,
                           'h' || CAST(l_orderkey % 13 AS VARCHAR) || '.test' AS host,
                           'a' || CAST(l_orderkey % 7 AS VARCHAR) AS anch
                    FROM lineitem)
         SELECT url,
                array_to_string(list_sort(list_distinct(list(anch))), '|') AS anchor,
                array_to_string(list_sort(list_distinct(list(host))), '|') AS inlinks
         FROM e GROUP BY url""",
    "q_url_normalizers" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 5 AS INTEGER)
                  WHEN 0 THEN 'http://ajax.example.com/app?x=1#!state=' || CAST(doc_id AS VARCHAR)
                  WHEN 1 THEN 'http://qs.example.com/p?b=2&a=' || CAST(doc_id AS VARCHAR) || '&c=3'
                  WHEN 2 THEN 'http://proto.example.com/page' || CAST(doc_id AS VARCHAR)
                  WHEN 3 THEN 'http://www.alias.example.com/page' || CAST(doc_id AS VARCHAR) || '/'
                  ELSE 'http://noslash.example.com/dir' || CAST(doc_id AS VARCHAR) || '/' END AS raw,
                CASE CAST(doc_id % 5 AS INTEGER)
                  WHEN 0 THEN 'http://ajax.example.com/app?_escaped_fragment_=state=' || CAST(doc_id AS VARCHAR) || '&x=1'
                  WHEN 1 THEN 'http://qs.example.com/p?a=' || CAST(doc_id AS VARCHAR) || '&b=2&c=3'
                  WHEN 2 THEN 'https://proto.example.com/page' || CAST(doc_id AS VARCHAR)
                  WHEN 3 THEN 'http://alias.example.com/page' || CAST(doc_id AS VARCHAR) || '/'
                  ELSE 'http://noslash.example.com/dir' || CAST(doc_id AS VARCHAR) END AS normalized
         FROM documents""",
    "q_meta_headings" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
         SELECT doc_id,
                array_to_string(toks[3:6], ' ') AS meta_description,
                array_to_string(toks[7:9], ',') AS meta_keywords,
                toks[1] || '|' || toks[3] AS h1,
                toks[2] AS h2
         FROM t""",
    "q_index_fields" ->
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS k,
                           CAST(doc_id % 3 AS INTEGER) AS cls, text
                    FROM documents)
         SELECT doc_id,
                CASE WHEN cls = 0 THEN 'sub.site' || k || '.co.uk' ELSE 'site' || k || '.org' END AS host,
                CASE WHEN cls = 0 THEN 'co.uk' ELSE 'org' END AS tld,
                substr(text, 1, 40) AS title,
                'text/html' AS type, 'text' AS primary_type, 'html' AS sub_type,
                length(text) AS content_length,
                CASE WHEN cls = 0 THEN 'docs' WHEN k LIKE '9%' THEN NULL ELSE 'org' END AS subcollection,
                'graft' AS site_tag
         FROM b WHERE cls <> 1""",
    "q_similarity_score" ->
      """WITH toks AS (
           SELECT doc_id, t AS tok
           FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
           WHERE t <> '' AND t NOT IN
             ('a','an','and','are','as','at','be','but','by','for','if','in','into','is','it',
              'no','not','of','on','or','such','that','the','their','then','there','these',
              'they','this','to','was','will','with')),
         tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
         g(tok, gcnt) AS (VALUES ('spark',1),('sql',1),('query',1),('plan',1),('join',2),
                                 ('filter',1),('scan',2),('aggregate',1),('shuffle',1),('partition',1)),
         agg AS (
           SELECT tf.doc_id, sum(tf.cnt * coalesce(g.gcnt, 0)) AS dot, sum(tf.cnt * tf.cnt) AS nsq
           FROM tf LEFT JOIN g ON tf.tok = g.tok GROUP BY 1)
         SELECT doc_id,
                CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(nsq AS DOUBLE)) * sqrt(16)) * 1000000) AS BIGINT) AS score_ppm
         FROM agg""",
    "q_token_count" ->
      """SELECT doc_id, len(str_split(trim(text), ' ')) AS n_tokens, length(text) AS n_chars_actual
         FROM documents""",
    "q_bpeish_tokens" ->
      """SELECT doc_id,
                len(regexp_extract_all(text, '[A-Za-z]+')) +
                len(regexp_extract_all(text, '[0-9]+')) +
                len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_bpeish_tokens
         FROM documents""",
    "q_text_quality" ->
      """WITH t AS (SELECT doc_id, text, ' ' || text || ' ' AS p,
                           CAST(len(str_split(trim(text), ' ')) AS DOUBLE) AS words FROM documents),
              s AS (SELECT *,
                           (length(p) - length(replace(p, ' the ', ''))) / 5 +
                           (length(p) - length(replace(p, ' a ', ''))) / 3 +
                           (length(p) - length(replace(p, ' and ', ''))) / 5 AS stops FROM t)
         SELECT doc_id, length(text) AS chars, CAST(words AS BIGINT) AS words,
                round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / words, 4) AS avg_word_len,
                round(stops / words, 4) AS stop_ratio,
                round(least(words / 50.0, 1.0) * (1.0 - stops / words), 4) AS quality_score
         FROM s""",
    // Gopher repetition signals: top-token and top-2-gram word fractions,
    // floor-ppm; bigrams use RAW tokens (incl. empties), unigrams drop
    // empties — mirroring TextOps.repetitionSignals exactly
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, str_split(trim(text), ' ') AS tk FROM documents
                    WHERE len(str_split(trim(text), ' ')) > 0),
              uni AS (SELECT doc_id, unnest(tk) AS g FROM t),
              uni2 AS (SELECT doc_id, g FROM uni WHERE length(g) > 0),
              uc AS (SELECT doc_id, g, count(*) AS c FROM uni2 GROUP BY 1, 2),
              u AS (SELECT doc_id,
                      CAST(floor(CAST(max(c) AS DOUBLE) * 1 / sum(c) * 1000000) AS BIGINT)
                        AS rep_top_1gram_ppm FROM uc GROUP BY 1),
              bi0 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 2),
              bi AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
                     FROM bi0),
              bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
              b AS (SELECT doc_id,
                      CAST(floor(CAST(max(c) AS DOUBLE) * 2 / (sum(c) + 1) * 1000000) AS BIGINT)
                        AS rep_top_2gram_ppm FROM bc GROUP BY 1)
         SELECT u.doc_id, u.rep_top_1gram_ppm, b.rep_top_2gram_ppm
         FROM u LEFT JOIN b USING (doc_id)""",
    "q_lang_guess" ->
      """WITH p AS (SELECT doc_id, lang, ' ' || text || ' ' AS pt FROM documents),
              sc AS (SELECT doc_id, lang,
                (length(pt)-length(replace(pt,' the ','')))/5 + (length(pt)-length(replace(pt,' and ','')))/5 + (length(pt)-length(replace(pt,' of ','')))/4 AS en,
                (length(pt)-length(replace(pt,' el ','')))/4 + (length(pt)-length(replace(pt,' la ','')))/4 + (length(pt)-length(replace(pt,' que ','')))/5 AS es,
                (length(pt)-length(replace(pt,' der ','')))/5 + (length(pt)-length(replace(pt,' und ','')))/5 + (length(pt)-length(replace(pt,' die ','')))/5 AS de,
                (length(pt)-length(replace(pt,' le ','')))/4 + (length(pt)-length(replace(pt,' et ','')))/4 + (length(pt)-length(replace(pt,' les ','')))/5 AS fr
                FROM p)
         SELECT doc_id, lang AS lang_labeled,
                CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
                     WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
                     WHEN de >= fr AND de > 0 THEN 'de'
                     WHEN fr > 0 THEN 'fr'
                     ELSE 'und' END AS lang_guess
         FROM sc""",
    "q_doc_fingerprint" ->
      """SELECT doc_id,
                CAST(list_sum(list_transform(str_split(text, ''), (c, i) -> ascii(c) * i)) % 1000000007 AS BIGINT) AS fingerprint
         FROM documents""",
    // mirrors the engine's df cut: shingles in > 0.5 × nDocs documents are
    // dropped before the inverted-index join (the hot-key guard)
    "q_ngram_jaccard" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
                      UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20),
              t AS (SELECT doc_id, str_split(trim(text), ' ') AS toks FROM aug),
              sh0 AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS shingle FROM t),
              hot AS (SELECT shingle FROM sh0 GROUP BY shingle
                      HAVING count(*) > 0.5 * (SELECT count(*) FROM aug)),
              sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
              sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
         SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.5""",
    "q_dedup_exact" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
                      UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20)
         SELECT md5(text) AS sig, min(doc_id) AS canonical_id, count(*) AS n
         FROM aug GROUP BY 1 HAVING count(*) > 1""",
    // engine runs with maxDfFraction = 1.0 (cut short-circuits: df can
    // never exceed nDocs), so the mirror carries no df filter
    "q_jaccard_pairs" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
                      UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20),
              toks AS (SELECT DISTINCT doc_id, unnest(str_split(trim(text), ' ')) AS token FROM aug),
              toks2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
              sizes AS (SELECT doc_id, count(*) AS sz FROM toks2 GROUP BY 1),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                        FROM toks2 a JOIN toks2 b ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.75""",
    "q_pack_sequences" ->
      """WITH p AS (SELECT doc_id, n_chars, doc_id % 8 AS pack_key FROM documents),
              c AS (SELECT doc_id, pack_key,
                      coalesce(sum(n_chars) OVER (PARTITION BY pack_key ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars, 0) AS bfr
                    FROM p)
         SELECT doc_id, pack_key,
                CAST(floor(CAST(bfr AS DOUBLE) / 2000) AS BIGINT) AS bin_id,
                CAST(bfr % 2000 AS BIGINT) AS bin_offset
         FROM c""",
    // the benchmark side (doc_id < 10) mirrors docShinglesRaw's 3-gram
    // shingling exactly (the q_ngram_jaccard-proven fragment)
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, str_split(trim(text), ' ') AS toks FROM documents),
              sh AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS shingle FROM t),
              bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
         SELECT s.doc_id, count(*) AS contaminated_ngrams
         FROM sh s JOIN bench b ON s.shingle = b.shingle
         GROUP BY 1 HAVING count(*) >= 2""",
    // connected components over the q_ngram_jaccard pair graph (df-cut
    // shingles, the scalable source): recursive min-label reachability
    // (r reaches n), min reachable id = cluster id
    "q_neardup_clusters" ->
      """WITH RECURSIVE aug AS (SELECT doc_id, text FROM documents
                      UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20),
              t AS (SELECT doc_id, str_split(trim(text), ' ') AS toks FROM aug),
              sh0 AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS shingle FROM t),
              hot AS (SELECT shingle FROM sh0 GROUP BY shingle
                      HAVING count(*) > 0.5 * (SELECT count(*) FROM aug)),
              sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
              sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT id_a, id_b
                        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
                        WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.5),
              edges AS (SELECT id_a AS n, id_b AS m FROM pairs UNION SELECT id_b, id_a FROM pairs),
              reach(n, r) AS (
                SELECT n, n FROM edges
                UNION
                SELECT e.m, reach.r FROM reach JOIN edges e ON e.n = reach.n)
         SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n""",
    "q_embed_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
              p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_sum(list_transform(list_zip(a.embedding, b.embedding),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
                sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
                sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
                FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, CAST(floor(dot / (na * nb) * 10000) AS BIGINT) AS cos_bp
         FROM p WHERE CAST(floor(dot / (na * nb) * 10000) AS BIGINT) >= 3500""",
    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
              s AS (SELECT q.qid, e.vec_id,
                CAST(floor(list_sum(list_transform(list_zip(q.qe, e.embedding),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                   * sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))
                  * 10000) AS BIGINT) AS cos_bp
                FROM embeddings e, q WHERE e.vec_id <> q.qid)
         SELECT qid, vec_id, cos_bp, rnk FROM
           (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_bp DESC, vec_id ASC) AS rnk FROM s) t
         WHERE rnk <= 5""",
    "q_media_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                ascii(substr(text, 1, 1)) AS first_byte,
                octet_length(encode(text)) % 640 AS fake_width,
                (octet_length(encode(text)) * 7) % 480 AS fake_height
         FROM documents""",
    // 64-bit rolling hash h = 31*h + char with JVM signed-64 wraparound,
    // mirrored in HUGEINT with an explicit floorMod-2^64 wrap per step
    // (the text is ASCII, so unicode(char) == the JVM char code)
    "q_text_fingerprint64" ->
      """SELECT doc_id, CAST(
           list_reduce(
             list_prepend(CAST(1125899906842597 AS HUGEINT),
               list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS HUGEINT))),
             (h, c) -> ((((31*h + c + CAST('9223372036854775808' AS HUGEINT)) %
                          CAST('18446744073709551616' AS HUGEINT)) +
                          CAST('18446744073709551616' AS HUGEINT)) %
                          CAST('18446744073709551616' AS HUGEINT))
                       - CAST('9223372036854775808' AS HUGEINT))
           AS BIGINT) AS fp64
         FROM documents""",
    // first-principles mirror of the flagship crawl round over the 6-host/
    // 10-page fixture web (entry()). The VALUES tables are the FIXTURE's
    // inputs, checked against the fixture by CrawlApiSpec (robots policy per
    // host, homepage span lists — pure functions of the fixture config, like
    // q_parse_html's generated pages); every ENGINE semantic is derived here
    // in SQL: homepages always fetch, robots unavailable ⇒ retry (stays
    // db_unfetched=1), denied/delay-too-long ⇒ db_gone=3, success ⇒
    // db_fetched=2; OPIC credit = src_score(1.0)/n_all per LINK span (media
    // spans count in n_all but their .png targets are filter-dropped;
    // self-links dropped from credits but count in n_all), summed as DOUBLE
    // then cast REAL (Parse.linkedUpdates credit cast), added to the base
    // score in float (UpdateDbColumnar newScore); discovered targets enter
    // as db_unfetched with score = credit. Float-exact vs the engine.
    "q_cc_reltag" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 4 = 0 THEN 'http://creativecommons.org/licenses/by-nc/2.0/'
                     WHEN doc_id % 4 = 1 THEN 'http://creativecommons.org/licenses/by/3.0/'
                     WHEN doc_id % 4 = 2 THEN 'http://creativecommons.org/licenses/by-sa/1.0/' END AS license_url,
                CASE WHEN doc_id % 4 = 0 THEN 'rel'
                     WHEN doc_id % 4 = 1 THEN 'a'
                     WHEN doc_id % 4 = 2 THEN 'rdf' END AS license_location,
                CASE WHEN doc_id % 4 = 2 THEN 'text' END AS work_type,
                CASE WHEN doc_id % 4 = 0 THEN 'license=http://creativecommons.org/licenses/by-nc/2.0/|by|nc|2.0|meta=rel'
                     WHEN doc_id % 4 = 1 THEN 'license=http://creativecommons.org/licenses/by/3.0/|by|3.0|meta=a'
                     WHEN doc_id % 4 = 2 THEN 'license=http://creativecommons.org/licenses/by-sa/1.0/|by|sa|1.0|meta=rdf|text' END AS cc,
                CASE WHEN doc_id % 3 = 0 THEN 'common|t' || CAST(doc_id % 7 AS VARCHAR) END AS rel_tags
         FROM documents""",
    "q_index_replace" ->
      """WITH b AS (SELECT doc_id,
                'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.test/d' || CAST(doc_id AS VARCHAR) AS url,
                substr(text, 1, 30) AS title0
         FROM documents),
         c AS (SELECT doc_id, url,
                CASE WHEN doc_id % 5 <= 2 THEN regexp_replace(title0, 'e', '3', 'g') ELSE title0 END AS title
         FROM b)
         SELECT doc_id, url, title,
                CASE WHEN regexp_matches(url, '/d[0-9]*7$') AND regexp_matches(title, 'a')
                     THEN regexp_replace(title, 'a', '@', 'g') END AS title2
         FROM c""",
    "q_regex_flags" ->
      """SELECT doc_id,
                CASE WHEN regexp_matches(text, '[0-9]') THEN 'true' ELSE 'false' END AS has_digit,
                CASE WHEN regexp_matches(text, '[a-z]{10,}') THEN 'true' ELSE 'false' END AS has_longword,
                'true' AS has_body
         FROM documents""",
    "q_crawl_completion" ->
      """SELECT 'h' || CAST(o_custkey % 40 AS VARCHAR) || '.test' AS host,
                CASE WHEN o_orderkey % 5 IN (0, 2) THEN 'FETCHED' ELSE 'UNFETCHED' END AS completion,
                count(*) AS n
         FROM orders GROUP BY 1, 2""",
    "q_protocol_status" ->
      """SELECT CASE WHEN o_orderkey % 6 = 0 THEN 'UNFETCHED'
                     WHEN o_orderkey % 6 <= 2 THEN 'SUCCESS'
                     WHEN o_orderkey % 6 = 3 THEN 'NOTFOUND'
                     WHEN o_orderkey % 6 = 4 THEN 'RETRY'
                     ELSE 'ROBOTS_DENIED' END AS protocol_status,
                count(*) AS n
         FROM orders GROUP BY 1""",
    "q_free_generate" ->
      """SELECT 'http://host-' || CAST(o_custkey % 37 AS VARCHAR) || '.example.com/o/' || CAST(o_orderkey AS VARCHAR) AS url,
                'host-' || CAST(o_custkey % 37 AS VARCHAR) || '.example.com' AS host,
                'example.com' AS domain,
                CAST(1.0 AS DOUBLE) AS score
         FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 10 <> 0""",
    // LanguageIndexingFilter's precedence cascade: parse_meta lang (doc_id%5=0)
    // ≻ Content-Language header (%5 ∈ 1,2) ≻ marker detector ≻ 'unknown'
    "q_lang_field" ->
      """WITH p AS (SELECT doc_id, ' ' || text || ' ' AS pt FROM documents),
              sc AS (SELECT doc_id,
                (length(pt)-length(replace(pt,' the ','')))/5 + (length(pt)-length(replace(pt,' and ','')))/5 + (length(pt)-length(replace(pt,' of ','')))/4 AS en,
                (length(pt)-length(replace(pt,' el ','')))/4 + (length(pt)-length(replace(pt,' la ','')))/4 + (length(pt)-length(replace(pt,' que ','')))/5 AS es,
                (length(pt)-length(replace(pt,' der ','')))/5 + (length(pt)-length(replace(pt,' und ','')))/5 + (length(pt)-length(replace(pt,' die ','')))/5 AS de,
                (length(pt)-length(replace(pt,' le ','')))/4 + (length(pt)-length(replace(pt,' et ','')))/4 + (length(pt)-length(replace(pt,' les ','')))/5 AS fr
                FROM p),
              det AS (SELECT doc_id,
                CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
                     WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
                     WHEN de >= fr AND de > 0 THEN 'de'
                     WHEN fr > 0 THEN 'fr'
                     ELSE NULL END AS detected
                FROM sc)
         SELECT d.doc_id,
                CASE WHEN d.doc_id % 5 = 0 THEN (['fi','sv','pl'])[CAST(d.doc_id % 3 AS INT) + 1]
                     WHEN d.doc_id % 5 = 1 THEN 'pt'
                     WHEN d.doc_id % 5 = 2 THEN 'nl'
                     ELSE coalesce(det.detected, 'unknown') END AS lang_field
         FROM documents d JOIN det USING (doc_id)""",
    // the same disjoint range table inlined; LEFT JOIN ON BETWEEN is the
    // oracle for the bucketized broadcast equi-join
    "q_geoip" ->
      """WITH r(start_ip, end_ip, country_code, city) AS (VALUES
           (167772160, 168034303, 'AA', 'Alpha'),
           (168132608, 168165375, 'BB', 'Beta'),
           (168296192, 168296703, 'CC', 'Gamma'),
           (168558592, 168558719, 'DD', 'Delta')),
         d AS (SELECT doc_id,
                 '10.' || CAST(doc_id % 14 AS VARCHAR) || '.' || CAST(doc_id * 7 % 256 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) AS ip,
                 167772160 + (doc_id % 14) * 65536 + (doc_id * 7 % 256) * 256 + (doc_id % 250) AS ip_int
               FROM documents)
         SELECT d.doc_id, d.ip, r.country_code, r.city
         FROM d LEFT JOIN r ON d.ip_int BETWEEN r.start_ip AND r.end_ip""",
    "q_crawl_round" ->
      """WITH pages(url, host, outcome) AS (VALUES
           ('http://host-000.fix.test/','host-000.fix.test','success'),
           ('http://host-001.fix.test/','host-001.fix.test','success'),
           ('http://host-002.fix.test/','host-002.fix.test','success'),
           ('http://host-003.fix.test/','host-003.fix.test','retry'),
           ('http://host-004.fix.test/','host-004.fix.test','success'),
           ('http://host-005.fix.test/','host-005.fix.test','success')),
         counts(from_url, n_all) AS (VALUES
           ('http://host-000.fix.test/',4),
           ('http://host-001.fix.test/',8),
           ('http://host-002.fix.test/',9),
           ('http://host-004.fix.test/',8),
           ('http://host-005.fix.test/',9)),
         links(from_url, to_url) AS (VALUES
           ('http://host-000.fix.test/','http://host-000.fix.test/page-53'),
           ('http://host-001.fix.test/','http://host-001.fix.test/page-5'),
           ('http://host-001.fix.test/','http://host-005.fix.test/'),
           ('http://host-001.fix.test/','http://host-005.fix.test/page-8'),
           ('http://host-001.fix.test/','http://host-001.fix.test/page-9'),
           ('http://host-001.fix.test/','http://host-003.fix.test/page-6'),
           ('http://host-002.fix.test/','http://host-002.fix.test/page-9'),
           ('http://host-002.fix.test/','http://host-002.fix.test/page-3'),
           ('http://host-002.fix.test/','http://host-002.fix.test/page-5'),
           ('http://host-002.fix.test/','http://host-005.fix.test/page-7'),
           ('http://host-002.fix.test/','http://host-003.fix.test/'),
           ('http://host-002.fix.test/','http://host-002.fix.test/page-7'),
           ('http://host-002.fix.test/','http://host-002.fix.test/page-9'),
           ('http://host-002.fix.test/','http://host-002.fix.test/'),
           ('http://host-004.fix.test/','http://host-004.fix.test/page-8'),
           ('http://host-004.fix.test/','http://host-004.fix.test/page-1'),
           ('http://host-004.fix.test/','http://host-005.fix.test/page-5'),
           ('http://host-004.fix.test/','http://host-001.fix.test/page-2'),
           ('http://host-004.fix.test/','http://host-004.fix.test/page-8'),
           ('http://host-005.fix.test/','http://host-000.fix.test/page-76'),
           ('http://host-005.fix.test/','http://host-002.fix.test/'),
           ('http://host-005.fix.test/','http://host-005.fix.test/page-9'),
           ('http://host-005.fix.test/','http://host-005.fix.test/page-9'),
           ('http://host-005.fix.test/','http://host-005.fix.test/page-2'),
           ('http://host-005.fix.test/','http://host-001.fix.test/page-2')),
         credits AS (
           SELECT to_url, CAST(sum(CAST(1.0 AS DOUBLE) / n_all) AS REAL) AS credit
           FROM links JOIN counts USING (from_url)
           WHERE to_url <> from_url
           GROUP BY to_url),
         seeds AS (
           SELECT p.url, p.host,
                  CASE p.outcome WHEN 'success' THEN 2 WHEN 'gone' THEN 3 ELSE 1 END AS status,
                  CAST(CAST(1.0 AS REAL) + coalesce(c.credit, CAST(0.0 AS REAL)) AS REAL) AS score
           FROM pages p LEFT JOIN credits c ON c.to_url = p.url),
         discovered AS (
           SELECT c.to_url AS url, regexp_extract(c.to_url, '://([^/]+)', 1) AS host,
                  1 AS status, c.credit AS score
           FROM credits c WHERE c.to_url NOT IN (SELECT url FROM pages))
         SELECT url, host, status, score FROM seeds
         UNION ALL SELECT url, host, status, score FROM discovered""",
    // real merge-table BPE, mirrored as a recursive CTE sharing the SAME
    // checked-in merge table (ops.Bpe generates both sides)
    "q_bpe_tokens" -> graft.ops.Bpe.oracleSql,
    // the four xxhash64-based operators, mirrored from first principles via
    // the staged DuckDB xxh64 re-derivation in queries/HashOracles (macro
    // prelude + single-op CTE stages; bit-exact vs Spark's XxHash64)
    "q_minhash_lsh" -> graft.queries.HashOracles.minhashLshSql,
    // seed literal pre-folded: u64(xxh64(7L, 42)) drives one long-hash chain
    "q_stratified_sample" -> graft.queries.HashOracles.stratifiedSampleSql(
      BigInt(graft.ops.SampleOps.xxh64Long(7L, 42L)) & BigInt("18446744073709551615"),
      Map("en" -> 500000L, "de" -> 250000L, "zh" -> 100000L), 50000L),
    "q_simhash_pairs" -> graft.queries.HashOracles.simhashPairsSql,
    "q_ann_lsh_topk" -> graft.queries.HashOracles.annLshTopKSql,
    "q_ann_ivf_topk" -> graft.queries.HashOracles.annIvfTopKSql,
    // the deterministic fake decode kernel is pure arithmetic over the utf-8
    // bytes (rolling checksum, format = checksum%3, geometry = floorMod of
    // checksum / its >>16 arithmetic shift) — all exactly mirrorable; the
    // shift is (checksum - floorMod(checksum, 65536)) // 65536 (exact)
    "q_media_decode" ->
      """WITH s AS (
           SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                  CAST(list_reduce(
                    list_prepend(CAST(0 AS HUGEINT),
                      list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS HUGEINT))),
                    (h, c) -> ((((31*h + c + CAST('9223372036854775808' AS HUGEINT)) %
                                 CAST('18446744073709551616' AS HUGEINT)) +
                                 CAST('18446744073709551616' AS HUGEINT)) %
                                 CAST('18446744073709551616' AS HUGEINT))
                              - CAST('9223372036854775808' AS HUGEINT))
                  AS BIGINT) AS checksum
           FROM documents)
         SELECT doc_id, n_bytes,
                CASE checksum % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
                CAST(64 + ((checksum % 576) + 576) % 576 AS INTEGER) AS width,
                CAST(64 + ((((checksum - (((checksum % 65536) + 65536) % 65536)) // 65536) % 416) + 416) % 416 AS INTEGER) AS height,
                checksum
         FROM s"""
  )
}
