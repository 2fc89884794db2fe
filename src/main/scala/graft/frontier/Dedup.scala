package graft.frontier

import org.apache.spark.sql.{Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.{CrawlStatus, FrontierEntry}

/** Signature-based duplicate marking (SURVEY.md §2.4 "Dedup group-reduce").
  *
  * Semantics from the reference dedup job
  * (reference/src/java/org/apache/nutch/crawl/DeduplicationJob.java:147-272):
  * group fetched pages by content signature; keep the "best" row — highest
  * score, then most recent fetch, then https over http, then shortest URL —
  * and mark every other row db_duplicate. Realized as one window (partition
  * by signature, ordered by the comparator chain) + row_number, which Spark
  * executes as a single shuffle with partial sort — no co-group needed.
  */
object Dedup {

  def markDuplicates(frontier: Dataset[FrontierEntry]): Dataset[FrontierEntry] = {
    val spark = frontier.sparkSession
    import spark.implicits._

    val fetched = col("status") === CrawlStatus.DB_FETCHED || col("status") === CrawlStatus.DB_NOTMODIFIED

    // Skew-safe keep-best: NOT a window. Real crawls have mega-duplicate
    // groups (boilerplate pages share one signature); a window would sort
    // the whole group in one task. Instead: min_by aggregation (map-side
    // partial combine absorbs the skew) + a join to mark the losers.
    // The comparator chain (score desc, fetch_time desc, https over http,
    // shorter url, url asc) is encoded as an orderable struct for min_by.
    val isCandidate = fetched && col("signature").isNotNull
    val candidates = frontier.toDF().filter(isCandidate)
      // the hex key fixes the merged frontier's partitioning, and generate
      // breaks score ties in scan order: a new key changes later fetch lists
      .withColumn("sig_hex", hex(col("signature")))
    val rest = frontier.toDF().filter(!isCandidate)

    val orderKey = struct(
      (-col("score")).as("neg_score"),
      (-col("fetch_time")).as("neg_time"),
      when(col("url").startsWith("https://"), 0).otherwise(1).as("https_rank"),
      length(col("url")).as("url_len"),
      col("url").as("url"))
    val best = candidates
      .groupBy(col("sig_hex"))
      .agg(min_by(col("url"), orderKey).as("_keep_url"))

    val marked = candidates
      // deliberate join strategy (guide §3.1): best has ONE row per
      // signature group — hash it per partition instead of sorting both
      // full-width sides through a sort-merge join
      .join(best.hint("shuffle_hash"), Seq("sig_hex"))
      .withColumn("status",
        when(col("url") =!= col("_keep_url"), lit(CrawlStatus.DB_DUPLICATE)).otherwise(col("status")))
      .drop("_keep_url", "sig_hex")

    marked.unionByName(rest).as[FrontierEntry]
  }
}
