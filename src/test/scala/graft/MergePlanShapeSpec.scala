package graft

import graft.merge.MergeApply
import graft.model.Offset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Plan shape of the merge winner probe ([[MergeApply.winnerProbe]]): a
  * LEFT SEMI hash join on ONE 64-bit equi key — so Spark builds a
  * long-keyed hash relation — with the exact offset-segment checks kept as
  * the join's residual condition. A planner change (or an edit) that
  * extracts the segments as further equi keys, rebuilding the composite-key
  * hash map, or that drops the residual exactness check fails here instead
  * of quietly costing time or correctness. */
class MergePlanShapeSpec extends SparkSuite {

  private object plans extends AdaptiveSparkPlanHelper

  /** 200 batch rows over 50 keys (4 offsets each); winners = per-key max. */
  private def probe(useBroadcast: Boolean): DataFrame = {
    val updates = spark.range(200).select(
      concat(lit("k"), (col("id") % 50).cast("string")).as("path"),
      struct((col("id") / 10).cast("long").as("fileIdx"),
        col("id").as("pos"), lit(0L).as("rowIdx")).as("offset"))
    val winOff = updates.groupBy("path")
      .agg(max(Offset.encExpr(col("offset"))).as("_woff")).select("_woff")
    MergeApply.winnerProbe(updates, winOff, useBroadcast)
  }

  /** The probe's one hash join, from the final (post-adaptive) plan, after
    * checking it selects exactly the 50 winners. */
  private def probeJoin(df: DataFrame): HashJoin = {
    assert(df.count() == 50)
    df.collect() // runs the query so the adaptive plan is final
    val joins = plans.collect(df.queryExecution.executedPlan) {
      case j: HashJoin => j
    }
    assert(joins.size == 1, s"expected one hash join, got $joins")
    val j = joins.head
    assert(j.joinType == LeftSemi, j.joinType)
    assert(j.leftKeys.size == 1 && j.leftKeys.head.dataType == LongType,
      s"probe must join on one long key, got ${j.leftKeys}")
    val residual = j.condition.map(_.references.map(_.name).toSet)
      .getOrElse(Set.empty)
    assert(Set("_wf", "_wp", "_wr").subsetOf(residual),
      s"segment equalities must stay a residual condition, got ${j.condition}")
    j
  }

  test("the broadcast winner probe plans a BroadcastHashJoin LeftSemi on " +
    "the xxhash64 key with the segment equalities as residual") {
    assert(probeJoin(probe(useBroadcast = true)).isInstanceOf[BroadcastHashJoinExec])
  }

  test("past broadcastKeyLimit (useBroadcast = false, what a limit of 0 " +
    "always selects) the probe plans a ShuffledHashJoin of the same shape") {
    assert(probeJoin(probe(useBroadcast = false)).isInstanceOf[ShuffledHashJoinExec])
  }
}
