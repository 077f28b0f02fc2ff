package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.First
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** The reference's tag↔packet association (parser.py:421-432) as a
  * first-class plan node: a forward as-of join. `AsOfJoinPlan` is the
  * logical operator; `AsOfJoinStrategy` lowers it to the shuffle-minimal
  * union+window form (ONE exchange on the key, no join) and hands the
  * lowered plan back to the planner. [[graft.GraftExtensions]] installs
  * the strategy; a session without it fails to plan the node.
  *
  * This is the (c) rung of the extension ladder — custom LogicalPlan +
  * SparkStrategy — used where the operator's semantics (nearest
  * *following* match per key) have no single built-in equivalent.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute, rightValue: Attribute,
    matchAttr: AttributeReference)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ matchAttr

  // asof_match is produced here, not read from a child
  override def producedAttributes: AttributeSet = AttributeSet(matchAttr)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)

  /** Lower to: Union(left+null-marker, right-as-marker) → Window(first
    * marker ignoring nulls over [current, unbounded following) per key,
    * ordered by ts with markers after data at equal ts) → keep data rows. */
  def lowered: LogicalPlan = {
    val kAttr = AttributeReference("_asof_k", leftKey.dataType)()
    val tAttr = AttributeReference("_asof_t", leftTs.dataType)()
    val mAttr = AttributeReference("_asof_m", rightValue.dataType, nullable = true)()
    val isDataAttr = AttributeReference("_asof_d", org.apache.spark.sql.types.BooleanType)()

    val leftProj = Project(
      left.output ++ Seq(
        Alias(leftKey, "_asof_k")(exprId = kAttr.exprId),
        Alias(leftTs, "_asof_t")(exprId = tAttr.exprId),
        Alias(Literal(null, rightValue.dataType), "_asof_m")(exprId = mAttr.exprId),
        Alias(Literal(true), "_asof_d")(exprId = isDataAttr.exprId)),
      left)

    val rightProj = Project(
      left.output.map(a =>
        Alias(Literal(null, a.dataType), a.name)(exprId = NamedExpression.newExprId)) ++ Seq(
        Alias(rightKey, "_asof_k")(exprId = NamedExpression.newExprId),
        Alias(rightTs, "_asof_t")(exprId = NamedExpression.newExprId),
        Alias(rightValue, "_asof_m")(exprId = NamedExpression.newExprId),
        Alias(Literal(false), "_asof_d")(exprId = NamedExpression.newExprId)),
      right)

    val union = Union(Seq(leftProj, rightProj))
    // re-bind attrs to the union's output (first branch's exprIds win)
    val Seq(uK, uT, uM, uD) = union.output.takeRight(4)

    val frame = SpecifiedWindowFrame(RowFrame, CurrentRow, UnboundedFollowing)
    val spec = WindowSpecDefinition(
      Seq(uK),
      Seq(SortOrder(uT, Ascending), SortOrder(uM, Ascending, NullsLast, Seq.empty)),
      frame)
    val firstMarker = WindowExpression(
      First(uM, ignoreNulls = true).toAggregateExpression(), spec)
    val winAlias = Alias(firstMarker, matchAttr.name)(exprId = matchAttr.exprId)
    val window = Window(Seq(winAlias), Seq(uK),
      Seq(SortOrder(uT, Ascending), SortOrder(uM, Ascending, NullsLast, Seq.empty)),
      union)

    val filtered = Filter(uD, window)
    Project(left.output :+ matchAttr, filtered)
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan => planLater(j.lowered) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API for the custom operator. */
object AsOf {
  /** Forward as-of: for each `left` row, the first `right.valueCol` of the
    * same key at ts >= the row's ts. Appends `asof_match` (nullable). */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String, rightValue: String): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val rv = attr(rp, rightValue)
    val node = AsOfJoinPlan(lp, rp,
      attr(lp, leftKey), attr(lp, leftTs),
      attr(rp, rightKey), attr(rp, rightTs), rv,
      AttributeReference("asof_match", rv.dataType, nullable = true)())
    org.apache.spark.sql.graftbridge.Bridge.ofRows(left.sparkSession, node)
  }
}
