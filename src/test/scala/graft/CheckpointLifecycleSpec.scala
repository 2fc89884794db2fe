package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cli.CrawlRound
import graft.fetch.SyntheticFetcher
import graft.fixtures.{SyntheticWeb, WebConfig}
import graft.frontier.{CrawlConfig, LinkRank}
import graft.ops.DedupOps

/** Materialization lifecycle: the iterative loops and the crawl round leave
  * nothing persisted beyond what they return, and the round's frontier
  * commit plans from the merged frontier's checkpoint (a `LogicalRDD`
  * leaf), not from the generate → fetch → parse → merge lineage. */
class CheckpointLifecycleSpec extends AnyFunSuite with SparkSpecBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cachedPlans: Int = org.apache.spark.sql.CacheProbe.cachedPlans(spark)

  private def leafRdds(plan: LogicalPlan): Seq[Option[Int]] = plan.collectLeaves().map {
    case l: LogicalRDD => Some(l.rdd.id)
    case _ => None
  }

  /** The one checkpoint RDD a frame reads, or a failure naming its leaves. */
  private def checkpointOf(df: DataFrame): Int = {
    val leaves = leafRdds(df.queryExecution.analyzed)
    assert(leaves.nonEmpty && leaves.forall(_.isDefined) && leaves.distinct.size == 1,
      s"expected one checkpoint leaf, got ${df.queryExecution.analyzed.collectLeaves().map(_.nodeName)}")
    leaves.head.get
  }

  test("connectedComponents releases every superseded label checkpoint") {
    import spark.implicits._
    // a 9-node chain takes several propagation rounds, so several checkpoints
    val pairs = (1L to 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = persisted
    val labels = DedupOps.connectedComponents(pairs)
    assert(persisted -- before == Set(checkpointOf(labels)))
    assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  test("LinkRank releases every superseded rank checkpoint and its cached inputs") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"))
      .toDF("from_url", "to_url")
    val before = persisted
    val ranks = LinkRank.run(edges, iterations = 7, checkpointEvery = 2)
    assert(persisted -- before == Set(checkpointOf(ranks)))
    assert(ranks.count() == 4)
  }

  test("a crawl round releases what it materializes; the frontier commit reads the merged checkpoint") {
    val web = SyntheticWeb(WebConfig(nHosts = 6, pagesPerHost = 10, hotFactor = 3))
    val cfg = CrawlConfig(topN = 200, maxPerHost = 40, numFetchPartitions = 2,
      serverDelayMs = 100, fetchLatencyMs = 2)
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // round 1 builds the seen bloom; rounds 2 and 3 run the steady-state path
    val (store, _) = CrawlRound.syntheticCrawl(spark, web, cfg, rounds = 1, root)
    val fetcher = SyntheticFetcher(web, cfg.fetchLatencyMs)
    val day = 24L * 3600 * 1000

    val commits = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.foreach {
          case c: InsertIntoHadoopFsRelationCommand if c.outputPath.getParent.getName == "frontier" =>
            commits.add(c.query)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val before = persisted
    val plansBefore = cachedPlans
    spark.listenerManager.register(listener)
    try {
      CrawlRound.run(spark, store, fetcher, cfg, 2, 1700000000000L + day)
      CrawlRound.run(spark, store, fetcher, cfg, 3, 1700000000000L + 2 * day, dedupEachRound = false)
      val deadline = System.nanoTime() + 30000000000L // listener events arrive asynchronously
      while (commits.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)

    assert(persisted -- before == Set.empty, "the rounds left RDDs persisted")
    assert(cachedPlans == plansBefore, "the rounds left plans in CacheManager")
    val Seq(withDedup, plain) = commits.asScala.toSeq
    // every leaf is the merged frontier's checkpoint: nothing re-reads the
    // snapshot or re-plans generate → fetch → parse → merge
    for (p <- Seq(withDedup, plain)) {
      val leaves = leafRdds(p)
      assert(leaves.forall(_.isDefined) && leaves.distinct.size == 1,
        s"frontier commit leaves: ${p.collectLeaves().map(_.nodeName)}")
    }
    // the merge's joins sit below the checkpoint: only dedup's keep-best
    // join is left, and none without dedup
    assert(withDedup.collect { case j: Join => j }.size == 1)
    assert(plain.collect { case j: Join => j }.isEmpty)
  }
}
