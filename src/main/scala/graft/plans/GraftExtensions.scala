package graft.plans

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions

/** The library's `SparkSessionExtensions` installer — the deploy-grade
  * registration point for everything graft adds to a session: the as-of
  * join planner strategy and the custom expression/UDTF library.
  *
  * Two ways to activate, both covered by ExtensionsSpec:
  *   - config: `spark.sql.extensions=graft.plans.GraftExtensions`
  *     (cluster-wide, no code change — the spark-submit path), or
  *   - code: `.withExtensions(new GraftExtensions)` on the session builder.
  *
  * The operator modules need neither: their Column API builds the same
  * expressions directly. The `graft_*` names serve SQL text; on a session
  * without the extensions, `GraftFunctions.register(spark)` adds them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => SelfDotRewrite)
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}
