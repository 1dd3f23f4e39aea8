package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SparkSessionExtensions entry point: makes the engine's native functions
  * and Catalyst extensions available to any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (SURVEY.md §7.3). Sessions
  * created without the conf get the same surface at runtime via
  * [[Tables.tune]] — BOTH paths consume the single [[GraftFunctions.all]]
  * list and the single [[GraftExtensions.strategies]] /
  * [[GraftExtensions.rules]] lists, so they cannot drift (r10: two
  * hand-maintained function lists had; extension sessions lacked
  * winnow_mins / poly_grams / cdc_chunks / blocklist_match).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(entry => ext.injectFunction(entry))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  /** Whole-operator extension: the as-of join's planning strategy
    * (graft.plans.AsOfJoin). */
  val strategies: Seq[SparkStrategy] = Seq(graft.plans.AsOfJoinStrategy)

  /** Optimizer rules, in registration order: the SQL as-of marker rewrite
    * (graft.plans.SqlAsOf), filter pushdown and column pruning through the
    * as-of join, and the binned range-join rewrite. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.RewriteAsOfMarkerJoin,
    graft.plans.PushFilterThroughAsOfJoin,
    graft.plans.PruneColumnsThroughAsOfJoin,
    graft.plans.RewriteBinnedRangeJoin)
}
