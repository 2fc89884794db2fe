package graft.frontier

/** All crawl knobs in one place. Defaults mirror the reference's operational
  * defaults (reference/conf/nutch-default.xml, src/bin/crawl) — see
  * BASELINE.md "Reference operational envelope".
  */
case class CrawlConfig(
    // frontier / updatedb
    fetchIntervalDefault: Int = 30 * 24 * 3600,  // db.fetch.interval.default (s)
    fetchIntervalMax: Int = 90 * 24 * 3600,      // db.fetch.interval.max (s)
    retryMax: Int = 3,                           // db.fetch.retry.max
    maxInlinks: Int = 10000,                     // db.update.max.inlinks
    additionsAllowed: Boolean = true,            // db.update.additions.allowed
    purge404: Boolean = false,                   // db.update.purge.404
    injectedScore: Float = 1.0f,                 // db.score.injected
    scoreInternalFactor: Float = 1.0f,           // db.score.link.internal
    scoreExternalFactor: Float = 1.0f,           // db.score.link.external
    schedule: String = "default",                // "default" | "adaptive" | "mime" | "cc"
    adaptiveIncRate: Float = 0.4f,               // db.fetch.schedule.adaptive.inc_rate
    adaptiveDecRate: Float = 0.2f,               // db.fetch.schedule.adaptive.dec_rate
    adaptiveMinInterval: Int = 60,               // ...adaptive.min_interval (s)
    mimeScheduleRates: Map[String, (Float, Float)] = Map.empty, // mime → (inc, dec) overrides (MimeAdaptiveFetchSchedule)
    ccMaxDaysAhead: Int = 0,                     // db.fetch.time.max.days.ahead (CC schedule; 0 = off)
    columnarUpdateDb: Boolean = true,            // whole-stage-codegen updatedb (UpdateDbColumnar)
    // generator
    topN: Long = 50000,                          // SIZE_FETCHLIST
    maxPerHost: Int = 100,                       // generate.max.count (mode host)
    maxPerDomain: Int = Int.MaxValue,
    maxNumSegments: Int = 1,                     // generate.max.num.segments (per-host overflow spill)
    generateDelayMs: Long = 7L * 24 * 3600 * 1000, // crawl.gen.delay (re-generate block)
    generateUpdateDb: Boolean = false,           // generate.update.crawldb (reference default false):
                                                 // when true, the _ngt_ mark-back rides into updatedb and
                                                 // PERSISTS until crawl.gen.delay expires; when false the
                                                 // sequential round loop skips the mark-back frontier join
                                                 // entirely (one fewer frontier-wide shuffle per round)
    numFetchPartitions: Int = 8,                 // ≙ fetch task count
    generateCountMode: String = "host",          // generate.count.mode: "host" | "domain".
                                                 // "domain" = the Generator2 shape: partition by
                                                 // hash(domain), secondary sort (domain asc, score desc),
                                                 // per-domain reducer state — maxPerDomain becomes EXACT
                                                 // (a multi-host domain never splits across partitions)
    minScore: Float = Float.NegativeInfinity,    // generate.min.score
    skipHostsWithExceptions: Long = 0,           // >0: generator skips hosts whose cumulative hostdb
                                                 // exception count exceeds this (reference hostdb throttling)
    updateHostDb: Boolean = true,                // per-round host_stats + hot-host salt feedback
    invertLinks: Boolean = false,                // per-round linkdb inversion (optional, like the reference)
    generateExprFilter: Option[String] = None,   // Spark SQL predicate over frontier columns
                                                 // (replaces the reference's JEXL expressions)
    fetchDelayExpr: Option[String] = None,       // generate.fetch.delay.expr equivalent: a Spark SQL
                                                 // expression over host_stats columns → per-host fetch
                                                 // delay ms (null = default). Stamped on fetch tasks as
                                                 // the reference's _variableFetchDelay_; the first queued
                                                 // item presets the host queue's delay (robots wins)
    signer: String = "textprofile",              // content signature: "textprofile" | "md5"
    fetchTimeLimitMs: Long = Long.MaxValue,      // fetcher.timelimit: drain queues past this (virtual) time
    realClock: Boolean = false,                  // wall-clock politeness sleeps (real fetchers); tests/benches simulate
    frontierBuckets: Int = 0,                    // >0: frontier snapshots bucketed by url_hash and
                                                 // sorted by reversed host (point-lookup pruning + locality)
    // fetch politeness
    serverDelayMs: Long = 5000,                  // fetcher.server.delay
    minCrawlDelayMs: Long = 0,                   // fetcher.min.crawl.delay
    maxCrawlDelayMs: Long = 30000,               // fetcher.max.crawl.delay
    threadsPerQueue: Int = 1,                    // fetcher.threads.per.queue (concurrent per-host slots;
                                                 // forced to 1 when robots Crawl-delay is present, like the reference)
    queueDepth: Int = 50,                        // fetcher.queue.depth.multiplier
    redirectMax: Int = 0,                        // http.redirect.max (reference default 0 = record redirect,
                                                 // fetch target next round; >0 = follow in-task up to N hops)
    followOutlinksDepth: Int = 0,                // fetcher.follow.outlinks.depth (0 = off, the reference default;
                                                 // >0 = fetch discovered outlinks in-task up to N levels deep)
    followOutlinksNumLinks: Int = 8,             // fetcher.follow.outlinks.num.links (per page)
    fetchMultiDoc: Boolean = true,               // fetcher can emit raw content that parses into
                                                 // multiple fetched rows per task (ParseResult
                                                 // containers: zip/feed). CrawlRound derives this
                                                 // from Fetcher.multiDoc; when false, updatedb may
                                                 // assume one fetch row per URL and skip the
                                                 // fetch-side dedup/anti-join (synthetic bench path)
    followOutlinksIgnoreExternal: Boolean = true,// fetcher.follow.outlinks.ignore.external
    maxExceptionsPerQueue: Int = 10,             // fetcher.max.exceptions.per.queue
    exceptionBackoffMaxMs: Long = 300000,        // cap for the per-queue exponential exception backoff
    fetchLatencyMs: Long = 50,                   // synthetic per-request serve time
    // parse
    maxOutlinksPerPage: Int = 100,               // db.max.outlinks.per.page
    maxOutlinkLength: Int = 4096,                // outlinks longer than this are dropped pre-canonicalize
    ignoreExternalLinks: Boolean = false,        // db.ignore.external.links
    ignoreExternalLinksMode: String = "byHost",  // "byHost" | "byDomain"
    extraUrlFilters: Seq[graft.url.UrlFilter] = Nil, // pluggable filter chain (prefix/suffix/domain/regex
                                                 // variants) applied AFTER the static default rules
    extraUrlNormalizers: Seq[graft.url.UrlNormalizer] = Nil, // pluggable normalizer plugins
                                                 // (ajax/querystring/protocol/host/slash) around the
                                                 // canonicalizer; both lists form `urlChain`
    htmlFormUseAction: Boolean = true,           // parser.html.form.use_action (form action = outlink)
    htmlOutlinkIgnoreTags: Seq[String] = Nil,    // parser.html.outlinks.ignore_tags
    parserCharsetDefault: String = "windows-1252", // parser.character.encoding.default
    // scoring-depth plugin (reference src/plugin/scoring-depth, scoring.depth.max):
    // 0 = off. When > 0, seeds inject at depth 1 (overridable per seed via a
    // "_depth_" k=v), outlinks inherit parent depth + 1, and pages AT the max
    // have their outlinks suppressed at parse — depth max+1 URLs are never
    // discovered, so a maxDepth crawl can never fetch past it.
    scoringDepthMax: Int = 0,
    // scoring-orphan plugin (reference src/plugin/scoring-orphan/
    // OrphanScoringFilter.java:80-112): every row that receives an inlink
    // during updatedb is stamped metadata["_orphan_"] = now (epoch seconds);
    // a row with no inlinks this round keeps its stamp, and once the elapsed
    // time exceeds markGoneAfter the row is marked db_gone (indexers drop
    // it), past markOrphanAfter it is marked db_orphan (purgeable).
    // scoring-similarity plugin (reference src/plugin/scoring-similarity):
    // Some(goldText) switches scoring from OPIC to gold-standard cosine —
    // parsed pages are re-scored by TF-cosine similarity to this text
    // (CosineSimilarity.setURLScoreAfterParsing), outlink targets inherit
    // the FULL page score (distributeScoreToOutlinks — no 1/n split), and
    // updatedb keeps scores instead of summing credits (the plugin leaves
    // updateDbScore as the no-op AbstractScoringFilter default), so the
    // generator prioritizes pages similar to the gold standard.
    scoringSimilarityGold: Option[String] = None,
    scoringOrphan: Boolean = false,
    // scoring-adaptive plugin (reference src/plugin/scoring-adaptive — the
    // CommonCrawl fork's production generator scorer, see
    // score/AdaptiveScoring.scala for the full semantics + API changes).
    // When on: the generator sorts (and min-score-thresholds) by the
    // adaptive SORT VALUE instead of the raw score; injected seeds and
    // inlinked rows carry a last-seen stamp (the `_orphan_` key, shared
    // with scoring-orphan); updatedb retires long-unseen rows to db_orphan
    // with PER-STATUS time spans (AdaptiveScoringFilter.orphanedScore).
    scoringAdaptive: Boolean = false,
    adaptiveFetchTimeFactor: Double = 0.01,      // scoring.adaptive.factor.fetchtime
    adaptiveLastSeenFactor: Double = 0.005,      // scoring.adaptive.factor.lastseentime
    adaptiveRetryPenalty: Double = 0.1,          // scoring.adaptive.penalty.fetch_retry
    adaptiveInjectedBoost: Double = 0.2,         // scoring.adaptive.boost.injected
    adaptiveStatusSort: Map[Int, Double] = Map.empty,      // adaptive-scoring.txt: status rows
    adaptiveContentTypeSort: Map[String, Double] = Map.empty, // adaptive-scoring.txt: Content-Type: rows
    adaptiveOrphanAnySec: Long = 60L * 24 * 30 * 12 * 60,  // scoring.adaptive.mark.orphan.after (ref: minutes)
    adaptiveOrphanRedirectSec: Long = 60L * 24 * 30 * 4 * 60, // ...mark.redirect.orphan.after
    adaptiveOrphanUnfetchedSec: Long = 60L * 24 * 30 * 12 * 60, // ...mark.unfetched.orphan.after (def = any)
    adaptiveOrphanGoneSec: Long = 60L * 24 * 30 * 4 * 60,  // ...mark.gone.orphan.after
    orphanGoneAfterSec: Long = 30L * 24 * 3600,   // scoring.orphan.mark.gone.after
    orphanOrphanAfterSec: Long = 40L * 24 * 3600, // scoring.orphan.mark.orphan.after
    purgeOrphans: Boolean = false,               // db.update.purge.orphans
                                                 // (reference CrawlDbFilter.java:89-94)
    parseMetaToCrawlDb: Seq[String] = Nil,       // db.parsemeta.to.crawldb: parse_meta keys carried into
                                                 // the frontier row's metadata through updatedb
    // protocol-status stamping (reference lib-http HttpBase.java:369-370
    // writes metadata[nutch.protocol.code]=<HTTP code> on every fetch datum;
    // updatedb's metadata merge carries it into the crawldb, where
    // ProtocolStatusStatistics groups on it). We stamp the executor's
    // protocol_status STRING (SUCCESS/NOTFOUND/...) instead of a numeric
    // HTTP code — a documented API change: it is fetcher-agnostic (synthetic
    // / file / http all produce it) and strictly more informative as a
    // group-by key. Off by default to keep the no-metadata fast path.
    protocolStatusToCrawlDb: Boolean = false,    // ≙ always-on in reference lib-http
    // urlmeta plugin (reference src/plugin/urlmeta, urlmeta.tags): frontier
    // metadata keys listed here propagate from a fetched page onto its
    // outlink targets, so newly discovered rows inherit the parent's tags
    // (campaign labels, seed provenance). Transitively sticky: tags ride
    // the frontier and keep propagating round after round. Empty = off
    // (no per-row map on the hot path).
    urlMetaTags: Seq[String] = Nil,
    // scoring-metadata plugin (reference src/plugin/scoring-metadata
    // MetadataScoringFilter): three key lists gate a three-stage relay —
    // scoring.db.md (crawldb datum → content, passScoreBeforeParsing),
    // scoring.content.md (content → parse, passScoreAfterParsing),
    // scoring.parse.md (parse → outlink targets,
    // distributeScoreToOutlinks). This engine fuses fetch+parse into one
    // stage, so the COMPOSED effects are what's realized (documented API
    // change): a frontier metadata key listed in all three lists relays the
    // parent row's value onto outlink targets (the urlmeta join path); a
    // content-stage key (content_type, mime) listed in content.md ∩
    // parse.md — or a parse-computed key (title, n_spans) listed in
    // parse.md — stamps the PAGE's value onto its outlink targets with no
    // join at all (the page is the source).
    scoringMetadataDb: Seq[String] = Nil,        // scoring.db.md
    scoringMetadataContent: Seq[String] = Nil,   // scoring.content.md
    scoringMetadataParse: Seq[String] = Nil,     // scoring.parse.md
    // scoring-link plugin (reference src/plugin/scoring-link
    // LinkAnalysisScoringFilter): OPIC credit distribution is OFF — newly
    // discovered rows enter at score 0 (initialScore), links never change
    // an existing row's score (updateDbScore is the no-op default), and
    // scores come exclusively from the WebGraph→LinkRank→ScoreUpdater
    // sequence (Crawl.updateScoresFromWebGraph). Generator sort stays
    // score-descending. The indexer boost is the index.LinkAnalysisScoreFilter
    // indexing filter, which takes its own normalizedScore.
    // parsefilter-naivebayes (reference src/plugin/parsefilter-naivebayes
    // NaiveBayesParseFilter): focused crawling — pages classified
    // IRRELEVANT by a two-class NB model keep only the outlinks whose URL
    // contains a focus-wordlist term. trainLines = `label \t text`
    // (parsefilter.naivebayes.trainfile content, 0 = irrelevant); wordlist
    // = parsefilter.naivebayes.wordlist content. Both empty = off.
    naiveBayesTrainLines: Seq[String] = Nil,
    naiveBayesWordlist: Seq[String] = Nil,
    // urlfilter-ignoreexempt (reference src/plugin/urlfilter-ignoreexempt
    // ExemptionUrlFilter): when db.ignore.external.links is on, outlink
    // targets accepted by these regex rules (RegexURLFilter format:
    // ordered ± rules, first match decides) are EXEMPT from the ignore and
    // survive as discovered links anyway (e.g. follow CDN/static domains
    // from an otherwise site-local crawl). Empty = no exemptions.
    ignoreExternalExemptions: Seq[(Boolean, String)] = Nil,
    scoringLink: Boolean = false,
    linkScoreUpdaterClearScore: Float = 0.0f,    // link.score.updater.clear.score
    // parse-ext (reference src/plugin/parse-ext ExtParser.java): resolved
    // mime → external command; overrides the built-in registry for that
    // mime (≙ parser.order putting parse-ext first). Empty = no external
    // parsing (default).
    extParsers: Map[String, graft.parse.ExtParser.ExtCommand] = Map.empty,
    // parsefilter-debug (reference src/plugin/parsefilter-debug
    // DebugParseFilter.java:46-54): stamp the parser's serialized
    // interpretation of each document into parse_meta["DOM"].
    parseFilterDebug: Boolean = false,
    // seen
    useSeenBloom: Boolean = true,                // bloom-prefilter discovered URLs before the frontier join
    bloomExpectedItems: Long = 1L << 22,
    bloomFpp: Double = 0.01,
    seenBloomShards: Int = 1                     // >1: k-sharded filter; a round re-broadcasts ONE shard (the 10^10 path)
) {
  /** The configured URL chain: every crawl site turns a raw URL into a
    * crawl URL through it (seeds, outlinks, redirects, sub-docs, archive
    * and sitemap URLs, linkdb edges, CrawlDbFilter, FreeGenerator). */
  lazy val urlChain: graft.url.UrlChain = graft.url.UrlChain(extraUrlNormalizers, extraUrlFilters)

  /** Last-seen-by-seed-or-link stamping is maintained when either consumer
    * plugin is on (scoring-orphan reads it with flat spans, scoring-adaptive
    * with per-status spans + generator sort penalty). */
  def lastSeenTracking: Boolean = scoringOrphan || scoringAdaptive

  /** Frontier metadata keys relayed parent → outlink targets: urlmeta tags
    * plus scoring-metadata keys present in all three stage lists (the
    * composed datum→content→parse→outlinks path). */
  def frontierRelayKeys: Seq[String] =
    (urlMetaTags ++ scoringMetadataDb.intersect(scoringMetadataContent)
      .intersect(scoringMetadataParse)).distinct

  /** Page-sourced keys stamped onto outlink targets: content-stage values
    * (content_type, mime) need content.md ∩ parse.md; parse-computed values
    * (title, n_spans) need parse.md only. */
  def pageRelayKeys: Seq[String] =
    (scoringMetadataContent.intersect(scoringMetadataParse)
      .intersect(Seq("content_type", "mime")) ++
      scoringMetadataParse.intersect(Seq("title", "n_spans"))).distinct
}
