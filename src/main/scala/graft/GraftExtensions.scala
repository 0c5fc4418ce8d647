package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions hook: any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) gets the engine's planner and
  * optimizer rules and every SQL function of
  * [[graft.functions.Catalog]] — the deployment-grade registration path
  * for a shared cluster. Sessions built without it get the same
  * functions from [[graft.functions.Catalog.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // analysis-phase guardrail (opt-in via spark.graft.guard.noCartesian)
    e.injectCheckRule(graft.plans.CartesianGuard.rule)
    // native as-of join (logical AsOfJoin → merge-scan AsOfJoinExec),
    // plus the pushdown/pruning rules the opaque custom node needs
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinRules.PushFilterThroughAsOfJoin)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinRules.PruneAsOfJoinRight)
    graft.functions.Catalog.entries.foreach(f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
  }
}
