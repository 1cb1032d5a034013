package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.sources

/** Plan walking shared by the plan-shape specs: `collect`/`find` descend
  * into adaptive plans and their query stages. */
object PlanShape extends AdaptiveSparkPlanHelper {

  /** Every node of `p`, including those of the cached relations it scans. */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    collect(p) { case n => n }.flatMap {
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
      case n => Seq(n)
    }

  /** Whether `s` pushes `f` to parquet as one of its top-level
    * PushedFilters (the list `explain` prints). Top-level entries are
    * joined by ", "; a filter nested in And/Or/Not follows "(" or ",". */
  def pushes(s: FileSourceScanExec, f: sources.Filter): Boolean =
    s.metadata.get("PushedFilters").exists(v =>
      s", ${v.drop(1).dropRight(1)}, ".contains(s", $f, "))
}
