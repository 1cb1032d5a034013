package graft

import graft.ops.{RelationalQueries, TextOps, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.internal.SQLConf

/** Join shapes of the ops queries the bench runs, on the sf0.001 tables.
  * At this scale factor every table is under the planner's auto-broadcast
  * threshold, so the planner would broadcast whichever side it estimates
  * smaller; the specs turn that rule off, leaving only the broadcasts the
  * code asks for — the ones that keep the shape at real table sizes. */
class OpsPlanShapeSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** The final (post-adaptive) plan of `query`, run with auto-broadcast off. */
  private def finalPlan(query: => DataFrame): SparkPlan = {
    val key = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val df = query
      df.collect()
      df.queryExecution.executedPlan
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def broadcastJoins(p: SparkPlan): Seq[BroadcastHashJoinExec] =
    PlanShape.collect(p) { case j: BroadcastHashJoinExec => j }

  /** The build side of `j`, as a plan. */
  private def buildSide(j: BroadcastHashJoinExec): SparkPlan =
    if (j.buildSide == BuildRight) j.right else j.left

  test("embed_ann_lsh broadcasts the query set, not the corpus") {
    val p = finalPlan(VectorOps.lshAnn(spark, sf))
    val joins = broadcastJoins(p)
    assert(joins.size == 1, p)
    val built = buildSide(joins.head).output.map(_.name)
    assert(built.contains("query_id") && !built.contains("neighbor_id"), p)
  }

  test("q5_nation_revenue broadcasts its three dimension tables") {
    val p = finalPlan(RelationalQueries.q5NationRevenue(spark, sf))
    val built = broadcastJoins(p).map { j =>
      PlanShape.collect(buildSide(j)) { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName).mkString
      }.mkString(",")
    }
    assert(built.sorted == Seq("customer.parquet", "nation.parquet",
      "region.parquet"), p)
    assert(PlanShape.collect(p) { case j: SortMergeJoinExec => j }.isEmpty, p)
  }

  test("dedup_minhash_pairs plans an equi-join on the band key, never a " +
    "cross product") {
    val p = finalPlan(TextOps.minhashCandidates(spark, sf))
    assert(PlanShape.collect(p) {
      case j: CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, p)
    val keyed = PlanShape.collect(p) {
      case j: SortMergeJoinExec => j.leftKeys
      case j: HashJoin => j.leftKeys
    }.map(_.flatMap(_.references.map(_.name)).toSet)
    assert(keyed.exists(k => Set("band", "bkey").subsetOf(k)), p)
  }
}
