package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Plan census for specs that count how often a computation is planned. */
object PlanFragments {

  /** Every node of the physical plans a query was submitted with: its own
    * plan and, once each, the plan of every cached relation it reads,
    * transitively. An adaptive plan contributes its INITIAL plan, so a
    * branch AQE prunes at run time still counts; a frame pinned once but
    * read at several scan sites is one computation, so its plan counts
    * once.
    */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
      case i: InMemoryTableScanExec =>
        i +: (if (seen.add(i.relation.cachedPlan)) walk(i.relation.cachedPlan) else Nil)
      case a: AdaptiveSparkPlanExec => a +: walk(a.initialPlan)
      case n => Seq(n)
    }
    walk(root)
  }
}
