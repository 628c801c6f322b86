package graft

import java.util.{Collections, IdentityHashMap}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The one walk over a physical plan, shared by `tools.Inspect` and
  * the plan-shape specs.
  */
object Plans {

  /** Every node of `plan` in pre-order, descending through AQE's
    * wrappers: an adaptive root into its current plan, a query stage
    * into the plan it ran. With `throughCaches`, the first scan of
    * each distinct cached relation is followed by that relation's own
    * plan, so a cache built over another cache is descended as well,
    * and each cache is walked once however many branches scan it.
    */
  def nodes(plan: SparkPlan, throughCaches: Boolean): Seq[SparkPlan] = {
    val seen = Collections.newSetFromMap(new IdentityHashMap[AnyRef, java.lang.Boolean])
    def go(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec if throughCaches && seen.add(m.relation.cacheBuilder) =>
          Seq(m.relation.cachedPlan)
        case other => other.children
      }
      p +: kids.flatMap(go)
    }
    go(plan)
  }
}
