package graft.engine

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point (SURVEY §7: register custom pieces
  * via `SparkSessionExtensions`). Enable with
  * `spark.sql.extensions=graft.engine.GraftExtensions` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`.
  *
  * Injects every `graft_*` function of [[graft.functions.Catalog]] and
  * the learned-plan-choice planner strategy
  * ([[graft.plans.LearnedPlanStrategy]] — dormant until a model is
  * installed via [[graft.plans.PlanChoice.install]]). Sessions built
  * without the extension get the same catalog from [[GraftSession]]
  * or `Tables.registerAll`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Catalog.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(session => graft.plans.LearnedPlanStrategy(session))
  }
}
