package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point, and the only way graft's SQL
  * functions (`VectorFunctions.builders`), `IntersectRewrite` and
  * `AsOfJoinStrategy` get into a session: one built with
  * `spark.sql.extensions=graft.GraftExtensions` (GraftSession sets it;
  * spark-shell and spark-submit pass it with `--conf`) and its
  * `newSession()`s. Without it a graft function is UNRESOLVED_ROUTINE. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.plans.VectorFunctions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.IntersectRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
