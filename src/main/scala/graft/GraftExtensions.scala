package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions entry point, and the only way graft's SQL
  * functions (the `Kernels` table and three aggregates,
  * `VectorFunctions.builders`), `IntersectRewrite` and
  * `AsOfJoinStrategy` get into a session: one built with
  * `spark.sql.extensions=graft.GraftExtensions` (GraftSession sets it;
  * spark-shell and spark-submit pass it with `--conf`) and its
  * `newSession()`s. Without it a graft function is UNRESOLVED_ROUTINE. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.plans.VectorFunctions.builders.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.IntersectRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
