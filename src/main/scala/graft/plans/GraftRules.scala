package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect, Size, SortArray}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Optimizer rule: users write the natural Spark form
  * `size(array_intersect(a, b))` and the plan silently runs the
  * zero-allocation sorted-merge kernel instead (ArrayIntersect builds a
  * hash set per call — ~500µs on small string arrays; the merge is ~0.5µs
  * after a once-per-row sort).
  *
  * Semantics: size(array_intersect(a,b)) counts the distinct common
  * elements, which is exactly graft_intersect_size over sorted distinct
  * inputs. Only string arrays are rewritten (the kernel compares
  * UTF8Strings). Installed by GraftExtensions (spark.sql.extensions).
  */
object IntersectRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), _)
          if (a.dataType match {
            case ArrayType(StringType, _) => true
            case _ => false
          }) =>
        val sortedA = SortArray(ArrayDistinct(a), Literal(true))
        val sortedB = SortArray(ArrayDistinct(b), Literal(true))
        val merged = KernelCall(Kernels("graft_intersect_size"), Seq(sortedA, sortedB))
        // Size returns int; our kernel returns long — keep the narrower
        // public type so downstream schemas don't change
        org.apache.spark.sql.catalyst.expressions.Cast(
          merged, org.apache.spark.sql.types.IntegerType)
    }
}
