package graft

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode

/** Whole-surface plan audit: every declared query plans, and none but the
  * two documented brute-force similarity baselines (a broadcast query side,
  * a bounded id range; their ANN siblings are the scale path) picks a cross
  * join. AQE's initial plan already holds the statically chosen joins; the
  * baselines must show theirs, so the audit is seen to read them. */
class PlanAuditSpec extends AnyFunSuite with SparkSpecBase {

  private val dir = "/root/testdata/sf0.001" // the corpus OpsSpec reads
  private val bruteBaselines = Set("q_embed_topk", "q_embed_pairs")

  test("every SparkEntry query plans with no cross join outside the brute baselines") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      Try(q(spark, dir).queryExecution.explainString(FormattedMode)).fold(
        e => Some(s"$name: does not plan: $e"),
        plan => {
          val cross = Seq("CartesianProduct", "BroadcastNestedLoopJoin").find(plan.contains)
          if (bruteBaselines(name)) Option.when(cross.isEmpty)(s"$name: baseline without its cross join")
          else cross.map(join => s"$name: $join")
        })
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
