package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.GraftFunctions

/** `spark.sql.extensions` entry point, and the only place graft enters a
  * session: injects [[RenderAfterAggregate]], [[GroupTopKStrategy]], the
  * AQE stage-preparation rule [[SmallInputSinglePartition]] and
  * every [[GraftFunctions.sqlFunctions]] entry into each session built with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`, which
  * [[graft.GraftSession.builder]] sets. Spark applies the extensions to
  * `newSession()` and cloned sessions too, so every session of the
  * application plans and resolves the same way. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RenderAfterAggregate)
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectQueryStagePrepRule(_ => SmallInputSinglePartition)
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
  }
}
