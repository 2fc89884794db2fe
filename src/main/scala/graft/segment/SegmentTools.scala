package graft.segment

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.store.TableStore

/** Segment inspection + merge tools (reference segment/SegmentMerger.java,
  * SegmentReader.java; CrawlDbReader's score-distribution stats).
  *
  * "Segments" here are the per-round fetched/parsed snapshot directories.
  * Merge = latest row per key across rounds (the reference keeps the entry
  * from the newest segment), with optional SQL slice filters — one shuffle
  * on the key, partial-aggregated via max_by.
  */
object SegmentTools {

  /** Merge several rounds of a per-round table into one latest-wins view.
    * `key` is the row identity (url for fetched, doc_id for parsed);
    * recency = (round, fetch_time if present). */
  def mergeRounds(
      spark: SparkSession,
      store: TableStore,
      table: String,
      rounds: Seq[Int],
      key: String = "url",
      sliceExpr: Option[String] = None
  ): Option[DataFrame] = {
    val dfs = rounds.flatMap(r => store.loadRound(spark, table, r))
    if (dfs.isEmpty) return None
    val unioned0 = dfs.reduce(_ unionByName _)
    val unioned = sliceExpr.fold(unioned0)(e => unioned0.filter(GraftFunctions.sqlExpr(spark, e)))
    val cols = unioned.columns
    val recency = if (cols.contains("fetch_time"))
      struct(col("round"), col("fetch_time")) else struct(col("round"))
    val payload = struct(cols.filterNot(_ == key).map(col).toIndexedSeq: _*)
    Some(unioned
      .groupBy(col(key))
      .agg(max_by(payload, recency).as("_w"))
      .select(col(key) +: cols.filterNot(_ == key).map(c => col(s"_w.$c").as(c)): _*))
  }

  /** SegmentReader `-dump` verb: one round's rows, optionally sliced. */
  def dump(spark: SparkSession, store: TableStore, table: String, round: Int,
           sliceExpr: Option[String] = None): Option[DataFrame] =
    store.loadRound(spark, table, round)
      .map(df => sliceExpr.fold(df)(e => df.filter(GraftFunctions.sqlExpr(spark, e))))

  /** SegmentReader `-get` verb: point lookup across rounds (newest first). */
  def get(spark: SparkSession, store: TableStore, table: String,
          rounds: Seq[Int], key: String, value: String): DataFrame = {
    val dfs = rounds.flatMap(r => store.loadRound(spark, table, r))
    require(dfs.nonEmpty, s"no $table rounds found")
    dfs.reduce(_ unionByName _)
      .filter(col(key) === value)
      .orderBy(desc("round"))
  }

  /** Score-distribution quantiles (CrawlDbReader.java:562-812 stats verb):
    * exact percentiles per status group — expressible in one aggregation. */
  def scoreQuantiles(frontier: DataFrame, quantiles: Seq[Double]): DataFrame = {
    val qArray = array(quantiles.map(lit): _*)
    frontier
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        percentile(col("score"), qArray).as("score_quantiles"))
      .orderBy(col("status"))
  }
}
