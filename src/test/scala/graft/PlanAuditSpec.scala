package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{FileSourceScanLike, FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec,
  ShuffledHashJoinExec, ShuffledJoin}
import org.apache.spark.sql.util.QueryExecutionListener

/** Whole-surface plan audit, from ONE planning pass over `SparkEntry.queries`
  * at sf0.001 (building an entry runs Spark work, `q_crawl_round` a whole
  * crawl, so the pass is never repeated):
  *
  *  - every query plans within its [[PlanAuditSpec.budgets]] row;
  *  - none but the two documented brute-force similarity baselines (a
  *    broadcast query side, a bounded id range; their ANN siblings are the
  *    scale path) picks a cross join, and the baselines must show theirs, so
  *    the audit is seen to read AQE's initial plan, where the statically
  *    chosen joins already sit;
  *  - the updatedb merge of the crawl that `q_crawl_round` runs shuffles the
  *    frontier once: the merge plan is captured from that crawl's own
  *    checkpoint action, so the budget costs no extra crawl.
  *
  * A failing check prints the formatted plan. */
class PlanAuditSpec extends AnyFunSuite with SparkSpecBase {
  import PlanAuditSpec._

  private val dir = "/root/testdata/sf0.001" // the corpus OpsSpec reads
  private val bruteBaselines = Set("q_embed_topk", "q_embed_pairs")

  /** The one planning pass: each entry's planned frame (or why it did not
    * plan), and the merged-frontier plans of the crawl rounds it ran. */
  private lazy val (planned, mergePlans) = {
    val merges = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (frontierJoin(qe.executedPlan).isDefined) merges.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val planned =
      try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
        name -> Try { val qe = q(spark, dir).queryExecution; qe.executedPlan; qe }
      }
      finally {
        val deadline = System.nanoTime() + 30000000000L // listener events arrive asynchronously
        while (merges.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
        spark.listenerManager.unregister(listener)
      }
    (planned, merges.asScala.toSeq)
  }

  /** Each entry's problems, failing the test with the formatted plan of
    * every entry that has one. */
  private def audit(check: (String, Seq[SparkPlan]) => Seq[String]): Unit = {
    val offenders = planned.flatMap { case (name, qe) =>
      qe.fold(
        e => Some(s"$name: does not plan: $e"),
        qe => {
          val problems = check(name, operators(qe.executedPlan))
          Option.when(problems.nonEmpty)(
            s"$name: ${problems.mkString("; ")}\n${qe.explainString(FormattedMode)}")
        })
    }
    if (offenders.nonEmpty) fail(offenders.mkString("\n"))
  }

  test("every SparkEntry query plans with no cross join outside the brute baselines") {
    audit { (name, ops) =>
      val cross = ops.collectFirst {
        case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => j.nodeName
      }
      if (bruteBaselines(name)) Option.when(cross.isEmpty)("baseline without its cross join").toSeq
      else cross.toSeq
    }
  }

  test("every SparkEntry query plans within its budget row") {
    val stale = budgets.keySet -- planned.map(_._1)
    assert(stale.isEmpty, s"budget rows without a query: $stale")
    audit { (name, ops) =>
      val shape = shapeOf(ops)
      budgets.get(name) match {
        case None => Seq(s"no budget row; today's plan: \"$name\" -> $shape,")
        case Some(b) if b != shape =>
          Seq(s"plan $shape differs from its budget $b (above: a regression; below: lower the row)")
        case _ => Nil
      }
    }
  }

  test("the updatedb merge shuffles the frontier once, on its side of the full-outer hash join") {
    assert(mergePlans.nonEmpty, "the q_crawl_round crawl ran no merge over the frontier snapshot")
    for (qe <- mergePlans) {
      val (join, side) = frontierJoin(qe.executedPlan).get
      val exchanges = operators(side).count(_.isInstanceOf[ShuffleExchangeLike])
      if (!join.isInstanceOf[ShuffledHashJoinExec] || exchanges != 1)
        fail(s"outermost frontier join ${join.nodeName}, $exchanges exchanges on its frontier side\n" +
          qe.explainString(FormattedMode))
    }
  }
}

object PlanAuditSpec {

  /** A query's plan shape, counted over [[operators]]: shuffle exchanges,
    * broadcast exchanges, interpreted call sites (`ScalaUDF`: per-row
    * boxing; `CodegenFallback`: no codegen) and the columns its file scans
    * read (the sum of their `ReadSchema` widths). */
  final case class Shape(exchanges: Int, broadcasts: Int, interpreted: Int, readCols: Int)

  /** Today's plans at sf0.001. Raising a row is a reviewed change, recorded
    * in CHANGES.md with the plan that needs it; a plan that improves on its
    * row fails too, until the row is lowered to match. */
  val budgets: Map[String, Shape] = Map(
    //                               exchanges, broadcasts, interpreted, readCols
    "q_adaptive_sort"       -> Shape(0, 0, 0, 1),
    "q_agg_stats"           -> Shape(1, 0, 0, 2),
    "q_ann_ivf_topk"        -> Shape(2, 1, 1, 4),
    "q_ann_lsh_topk"        -> Shape(2, 1, 12, 4),
    "q_bpe_tokens"          -> Shape(0, 0, 0, 2),
    "q_bpeish_tokens"       -> Shape(0, 0, 0, 2),
    "q_cc_reltag"           -> Shape(0, 0, 2, 2),
    "q_crawl_completion"    -> Shape(1, 0, 0, 2),
    "q_crawl_round"         -> Shape(0, 0, 0, 4),
    "q_decontaminate"       -> Shape(3, 1, 0, 4),
    "q_dedup_exact"         -> Shape(1, 0, 0, 4),
    "q_dedup_keepbest"      -> Shape(1, 0, 0, 4),
    "q_doc_fingerprint"     -> Shape(0, 0, 1, 2),
    "q_embed_pairs"         -> Shape(0, 1, 0, 4),
    "q_embed_topk"          -> Shape(1, 1, 0, 4),
    "q_events_window"       -> Shape(1, 0, 0, 3),
    "q_free_generate"       -> Shape(2, 0, 0, 4),
    "q_generate_topn"       -> Shape(1, 0, 0, 3),
    "q_geoip"               -> Shape(0, 1, 0, 1),
    "q_global_topn"         -> Shape(0, 0, 0, 2),
    "q_host_agg"            -> Shape(1, 0, 0, 2),
    "q_index_anchors"       -> Shape(3, 2, 8, 5),
    "q_index_fields"        -> Shape(0, 0, 0, 2),
    "q_index_replace"       -> Shape(0, 0, 0, 2),
    "q_inject_merge"        -> Shape(2, 0, 0, 2),
    "q_jaccard_pairs"       -> Shape(1, 3, 0, 4),
    "q_lang_field"          -> Shape(0, 0, 0, 2),
    "q_lang_guess"          -> Shape(0, 0, 0, 3),
    "q_latest_wins"         -> Shape(1, 0, 0, 4),
    "q_link_invert"         -> Shape(2, 0, 0, 2),
    "q_media_decode"        -> Shape(0, 0, 0, 2),
    "q_media_meta"          -> Shape(0, 0, 0, 2),
    "q_meta_headings"       -> Shape(0, 0, 1, 2),
    "q_mime_resolve"        -> Shape(0, 0, 0, 1),
    "q_minhash_lsh"         -> Shape(1, 3, 0, 4),
    "q_neardup_clusters"    -> Shape(0, 0, 0, 0),
    "q_ngram_jaccard"       -> Shape(1, 3, 0, 4),
    "q_opic_distribute"     -> Shape(1, 0, 0, 3),
    "q_orphan_status"       -> Shape(1, 0, 0, 3),
    "q_pack_sequences"      -> Shape(1, 0, 0, 2),
    "q_parse_html"          -> Shape(0, 0, 8, 2),
    "q_protocol_status"     -> Shape(1, 0, 0, 1),
    "q_regex_flags"         -> Shape(0, 0, 0, 2),
    "q_registered_domain"   -> Shape(0, 0, 0, 1),
    "q_repetition"          -> Shape(0, 0, 5, 2),
    "q_scan_filter_project" -> Shape(0, 0, 0, 5),
    "q_score_quantiles"     -> Shape(1, 0, 2, 2),
    "q_seen_antijoin"       -> Shape(1, 1, 0, 3),
    "q_segment_merge"       -> Shape(1, 0, 0, 4),
    "q_simhash_pairs"       -> Shape(1, 1, 0, 8),
    "q_similarity_score"    -> Shape(2, 0, 1, 2),
    "q_state_transition"    -> Shape(1, 0, 0, 4),
    "q_stratified_sample"   -> Shape(0, 0, 0, 2),
    "q_text_fingerprint64"  -> Shape(0, 0, 0, 2),
    "q_text_quality"        -> Shape(0, 0, 0, 2),
    "q_token_count"         -> Shape(0, 0, 0, 2),
    "q_url_canonicalize"    -> Shape(0, 0, 0, 2),
    "q_url_normalizers"     -> Shape(0, 0, 0, 1))

  def shapeOf(ops: Seq[SparkPlan]): Shape = Shape(
    exchanges = ops.count(_.isInstanceOf[ShuffleExchangeLike]),
    broadcasts = ops.count(_.isInstanceOf[BroadcastExchangeLike]),
    interpreted = ops.map(_.expressions.map(interpretedSites).sum).sum,
    readCols = ops.collect { case s: FileSourceScanLike => s.requiredSchema.length }.sum)

  /** Interpreted call sites in an expression: a `CodegenFallback` (a
    * higher-order function with its lambdas, an interpreted aggregate)
    * counts once, since its whole subtree runs interpreted; a `ScalaUDF`
    * counts once and its arguments are still compiled, so they are counted
    * on their own. */
  private def interpretedSites(e: Expression): Int = e match {
    case _: CodegenFallback => 1
    case u: ScalaUDF => 1 + u.children.map(interpretedSites).sum
    case _ => e.children.map(interpretedSites).sum
  }

  /** Every operator the formatted plan prints, each once: through AQE's
    * wrapper and query stages, into subqueries, and into each cached
    * relation's plan (once, however often the relation is scanned). */
  def operators(root: SparkPlan): Seq[SparkPlan] = {
    val caches = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec =>
          if (caches.add(m.relation.cacheBuilder)) Seq(m.relation.cachedPlan) else Nil
        case _ => p.children
      }
      p +: (inner ++ p.subqueries).flatMap(walk)
    }
    walk(root)
  }

  private def readsFrontier(p: SparkPlan): Boolean = operators(p).exists {
    case s: FileSourceScanLike => s.relation.location.rootPaths.exists(_.getParent.getName == "frontier")
    case _ => false
  }

  /** The outermost full-outer join with a frontier snapshot scan below one
    * side, and that side: the updatedb merge's frontier join. */
  def frontierJoin(plan: SparkPlan): Option[(SparkPlan, SparkPlan)] =
    operators(plan).iterator.flatMap {
      case j: ShuffledJoin if j.joinType == FullOuter => j.children.find(readsFrontier).map(j -> _)
      case _ => None
    }.nextOption()
}
