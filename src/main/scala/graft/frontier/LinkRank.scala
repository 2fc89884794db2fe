package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** LinkRank — the reference's WebGraph scorer
  * (reference/src/java/org/apache/nutch/scoring/webgraph/LinkRank.java, 756
  * LoC of hand-rolled MapReduce iteration) as an iterative DataFrame loop:
  * rank = (1 - d) + d × Σ inlink(rank / outdegree), d = 0.85.
  *
  * Spark realization notes:
  *  - edges are re-used every iteration → persisted once (MEMORY_AND_DISK);
  *  - each iteration is one join + one aggregation (both partial-combining);
  *  - lineage is cut every `checkpointEvery` iterations and after the last
  *    via localCheckpoint, or the plan grows linearly with iterations; each
  *    checkpoint is released once its successor is materialized, so the
  *    returned (materialized) ranks are the only frame the call leaves held;
  *  - dangling nodes (no outlinks) keep contributing their base rank only,
  *    like the reference (no dangling redistribution).
  */
object LinkRank {

  /** edges: (from_url, to_url). Returns (url, rank). */
  def run(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
          checkpointEvery: Int = 5): DataFrame = {
    val e = edges.select(col("from_url"), col("to_url"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    val outDeg = e.groupBy(col("from_url")).agg(count(lit(1)).as("out_deg"))
    val withDeg = e.join(outDeg, "from_url").persist(StorageLevel.MEMORY_AND_DISK)

    val nodes = e.select(col("from_url").as("url"))
      .unionByName(e.select(col("to_url").as("url")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var ranks = nodes.withColumn("rank", lit(1.0))
    var held: Option[DataFrame] = None // the live rank checkpoint
    var i = 0
    while (i < iterations) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("url", "from_url"), "from_url")
        .select(col("to_url").as("url"), (col("rank") / col("out_deg")).as("c"))
        .groupBy(col("url"))
        .agg(sum(col("c")).as("in_sum"))
      ranks = nodes
        .join(contribs, Seq("url"), "left_outer")
        .select(col("url"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
      i += 1
      if (i % checkpointEvery == 0 || i == iterations) {
        ranks = ranks.localCheckpoint(true) // cut lineage, keep data distributed
        held.foreach(graft.ops.release)
        held = Some(ranks)
      }
    }
    Seq(e, withDeg, nodes).foreach(_.unpersist())
    ranks
  }

  /** ScoreUpdater twin (reference scoring/webgraph/ScoreUpdater.java
    * reduce:40-70): left-join the frontier with LinkRank node scores — a
    * ranked URL's score becomes its rank; a URL absent from the node db has
    * its score cleared to link.score.updater.clear.score (default 0).
    * One frontier-wide join, no window, no driver collect. */
  def updateScores(frontier: Dataset[graft.schema.FrontierEntry], ranks: DataFrame,
                   clearScore: Float = 0.0f): Dataset[graft.schema.FrontierEntry] = {
    import frontier.sparkSession.implicits._
    frontier.toDF()
      .join(ranks.select(col("url"), col("rank")), Seq("url"), "left_outer")
      .withColumn("score", coalesce(col("rank").cast("float"), lit(clearScore)))
      .drop("rank")
      .as[graft.schema.FrontierEntry]
  }
}
