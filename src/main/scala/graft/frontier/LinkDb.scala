package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.fetch.FetchedPage
import graft.functions.GraftFunctions

/** Inverted web graph: url → inlinks (from_url, anchor), capped.
  *
  * The reference's invertlinks job (reference/src/java/org/apache/nutch/
  * crawl/LinkDb.java:238-261, LinkDbMerger cap db.max.inlinks): one explode
  * + slice(collect over group) in Spark — partial aggregation bounds memory;
  * the per-URL cap (slice after collect_list is unbounded on a mega-inlink
  * URL, so the cap is applied via a pre-limit window ONLY on over-cap keys,
  * same two-path discipline as the OPIC credit aggregation).
  */
object LinkDb {

  /** (to_url, from_url, anchor) edges of a round's fetched pages; targets
    * go through the configured URL chain, so linkdb keys are frontier keys. */
  def edges(pages: Dataset[FetchedPage], cfg: CrawlConfig): DataFrame =
    pages.toDF()
      .select(col("url").as("from_url"),
        explode(filter(col("spans"), s => s.getField("kind") === "link")).as("l"))
      .withColumn("to_url", GraftFunctions.url_canon_filter(col("l.media_ref"), cfg.urlChain))
      .filter(col("to_url").isNotNull && col("to_url") =!= col("from_url"))
      .select(col("to_url"), col("from_url"), col("l.text").as("anchor"))

  /** Invert: url → array<struct<from_url, anchor>> with ≤ cfg.maxInlinks kept. */
  def invert(pages: Dataset[FetchedPage], cfg: CrawlConfig): DataFrame = {
    val maxInlinks = cfg.maxInlinks
    val e = edges(pages, cfg)
    val counted = e.groupBy(col("to_url")).agg(count(lit(1)).as("n"))
    val overKeys = counted.filter(col("n") > maxInlinks).select("to_url")
    val within = e.join(overKeys.hint("broadcast"), Seq("to_url"), "left_anti")
    val capped = e.join(overKeys.hint("broadcast"), Seq("to_url"), "left_semi")
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("to_url").orderBy(col("from_url"))))
      .filter(col("_rk") <= maxInlinks)
      .drop("_rk")
    within.unionByName(capped)
      .groupBy(col("to_url").as("url"))
      .agg(collect_list(struct(col("from_url"), col("anchor"))).as("inlinks"),
        count(lit(1)).as("n_inlinks"))
  }

  /** Merge a new round's inversion into an existing linkdb (union inlink
    * sets, re-cap) — LinkDbMerger semantics.
    *
    * Same two-path cap discipline as [[invert]]: a mega-inlink URL must never
    * materialize ALL its inlinks in one aggregation buffer (slice-after-
    * collect_list is unbounded on the skew key). Within-cap keys aggregate
    * directly; the rare over-cap keys are pre-limited by a window BEFORE the
    * collect, so every buffer is ≤ maxInlinks. */
  def merge(existing: DataFrame, fresh: DataFrame, maxInlinks: Int = 10000): DataFrame = {
    val edges = existing.select(col("url"), explode(col("inlinks")).as("i"))
      .unionByName(fresh.select(col("url"), explode(col("inlinks")).as("i")))
      .select(col("url"), col("i.from_url").as("from_url"), col("i.anchor").as("anchor"))
      .distinct()
    val counted = edges.groupBy(col("url")).agg(count(lit(1)).as("n"))
    val overKeys = counted.filter(col("n") > maxInlinks).select("url")
    val within = edges.join(overKeys.hint("broadcast"), Seq("url"), "left_anti")
    val capped = edges.join(overKeys.hint("broadcast"), Seq("url"), "left_semi")
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("url").orderBy(col("from_url"))))
      .filter(col("_rk") <= maxInlinks)
      .drop("_rk")
    within.unionByName(capped)
      .groupBy(col("url"))
      .agg(collect_list(struct(col("from_url"), col("anchor"))).as("inlinks"),
        count(lit(1)).as("n_inlinks"))
  }
}
