package graft.frontier

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.schema.{CrawlStatus, FrontierEntry}
import graft.url.Urls

/** Seed injection (SURVEY.md §2.3 "Inject merge").
  *
  * Semantics from the reference injector
  * (reference/src/java/org/apache/nutch/crawl/Injector.java:60-82,271-350):
  * seed lines are `url [\t key=value]...` with # comments and blank lines
  * skipped; reserved keys nutch.score / nutch.fetchInterval override the
  * defaults; the seed set is full-outer merged with the existing frontier —
  * new URLs enter as db_unfetched, known URLs keep their crawl state
  * (metadata merged; overwrite/update modes for re-injection).
  */
object Inject {

  case class Seed(url: String, score: Float, fetchInterval: Int, metadata: Map[String, String])

  /** Parse one seed line; None for comments/blank/malformed/filtered.
    * `chained`: the URL is already `cfg.urlChain` output (sitemaps). */
  def parseSeedLine(line: String, cfg: CrawlConfig, chained: Boolean = false): Option[Seed] = {
    if (line == null) return None
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) return None
    val parts = t.split("\t").filter(_.nonEmpty)
    val url = if (chained) parts.head.trim else cfg.urlChain(parts.head.trim)
    if (url == null) return None
    var score = cfg.injectedScore
    var interval = cfg.fetchIntervalDefault
    val md = Map.newBuilder[String, String]
    parts.tail.foreach { kv =>
      val eq = kv.indexOf('=')
      if (eq > 0) {
        val k = kv.substring(0, eq).trim
        val v = kv.substring(eq + 1).trim
        k match {
          case "nutch.score"         => v.toFloatOption.foreach(score = _)
          case "nutch.fetchInterval" => v.toIntOption.foreach(interval = _)
          case _                     => md += (k -> v)
        }
      }
    }
    var meta = md.result()
    // scoring-depth: seeds start at depth 1 unless the seed line overrides
    // (reference DepthScoringFilter.injectedScore:188-204)
    if (cfg.scoringDepthMax > 0 && !meta.contains("_depth_"))
      meta += ("_depth_" -> "1")
    Some(Seed(url, score, interval, meta))
  }

  /** scoring-adaptive injectedScore (AdaptiveScoringFilter.java:329-334):
    * injected seeds are stamped as seen-now so the last-seen generator
    * penalty and per-status orphan spans count from injection. */
  private def stampLastSeen(e: FrontierEntry, cfg: CrawlConfig, now: Long): FrontierEntry = {
    if (!cfg.scoringAdaptive) e
    else e.copy(metadata = e.metadata + (UpdateDb.OrphanKey -> (now / 1000L).toString))
  }

  def seedToEntry(s: Seed, now: Long): FrontierEntry = {
    val host = Urls.hostOf(s.url)
    FrontierEntry(s.url, Urls.hash64(s.url), host, Urls.registeredDomainOf(host),
      CrawlStatus.DB_UNFETCHED, now, 0, s.fetchInterval, s.score, null, 0L, null, -1L, s.metadata)
  }

  /** Full-outer merge of seeds into the frontier. `overwrite` replaces known
    * rows with the fresh injected state; `update` merges seed metadata and
    * averages score/interval into known rows (reference :271-350). Default
    * (both false): known rows win unchanged. `chained`: see [[parseSeedLine]]. */
  def run(
      frontier: Dataset[FrontierEntry],
      seedLines: Dataset[String],
      cfg: CrawlConfig,
      now: Long,
      overwrite: Boolean = false,
      update: Boolean = false,
      chained: Boolean = false
  ): Dataset[FrontierEntry] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val seeds = seedLines
      .flatMap(parseSeedLine(_, cfg, chained))
      .groupByKey(_.url)
      .reduceGroups((a, b) => if (a.score >= b.score) a else b) // dedup seeds, best score wins
      .map { case (_, s) => stampLastSeen(seedToEntry(s, now), cfg, now) }

    // typed co-group: one shuffle, same join shape as the reference's
    // MultipleInputs reduce (seed ∪ crawldb co-grouped by url)
    frontier
      .groupByKey(_.url)
      .cogroup(seeds.groupByKey(_.url)) { (url, oldIt, seedIt) =>
        val old = oldIt.toSeq.headOption
        val seed = seedIt.toSeq.headOption
        (old, seed) match {
          case (None, Some(s))    => Iterator(s)
          case (Some(o), None)    => Iterator(o)
          case (Some(o), Some(s)) =>
            if (overwrite) Iterator(s)
            else if (update) Iterator(o.copy(
              score = (o.score + s.score) / 2.0f,
              fetch_interval = (o.fetch_interval + s.fetch_interval) / 2,
              metadata = o.metadata ++ s.metadata))
            else Iterator(o)
          case _ => Iterator.empty
        }
      }
  }
}
