package graft

import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shape pins for the curation tails that read their candidate set
  * once, read off the executions each query actually runs
  * (`Probe.executions`, AQE-final plans):
  *
  *  - the recall panel grades with one qid-keyed aggregation (no
  *    semi-join, no outer join) and sorts once, for presentation;
  *  - q_mrl_recall and q_sq_recall score both vector forms in one
  *    nested-loop pass over `embeddings`;
  *  - the size profile's total is a window, not a joined-back aggregate;
  *  - q_dedup_minhash checkpoints its signatures only.
  */
class CandidateTailSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private def plans(q: String): Seq[(String, SparkPlan)] =
    Probe.executions(spark, q, TestSpark.Sf).map {
      case (action, qe: QueryExecution) => action -> qe.executedPlan
    }

  private def nodes(q: String)(pf: PartialFunction[SparkPlan, SparkPlan]) =
    plans(q).flatMap { case (_, p) => collectWithSubqueries(p)(pf) }

  private val RecallPanel =
    Seq("q_ann_recall", "q_lsh_recall", "q_pq_recall", "q_mrl_recall", "q_sq_recall")

  for (q <- RecallPanel) test(s"$q: one range exchange (the presentation sort), inner joins only") {
    val ps = plans(q)
    val ranges = ps.flatMap { case (_, p) => collectWithSubqueries(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    } }
    assert(ranges.size == 1, s"range exchanges: ${ranges.map(_.outputPartitioning)}")
    val joins = ps.flatMap { case (_, p) => collectWithSubqueries(p) {
      case j: BaseJoinExec => j.joinType
    } }
    assert(joins.forall(_.isInstanceOf[InnerLike]), s"the eval joins its lists: $joins")
  }

  for (q <- Seq("q_mrl_recall", "q_sq_recall"))
    test(s"$q scores both vector forms in one nested-loop pass over embeddings") {
      val ps = plans(q)
      assert(ps.size == 1, ps.map(_._1))
      val plan = ps.head._2
      val nl = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
      val passes = nl.size
      assert(passes == 1, "nested-loop joins")
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      val underJoin = collectWithSubqueries(nl.head) { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.size == underJoin.size,
             s"embeddings read outside the nested-loop pass: ${scans.size} vs ${underJoin.size}")
    }

  for (q <- Seq("q_dup_profile", "q_cc_profile"))
    test(s"$q: sizeProfile joins nothing back (no nested-loop or cartesian join)") {
      val crossed = nodes(q) {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      assert(crossed.isEmpty, crossed.map(_.nodeName))
    }

  test("q_dedup_minhash runs one construction checkpoint (the signatures)") {
    val actions = plans("q_dedup_minhash").map(_._1)
    assert(actions.count(a => a == "localCheckpoint" || a == "checkpoint") == 1, actions)
    assert(actions.last == "collect", actions)
  }
}
