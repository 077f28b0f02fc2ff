package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A micro-batch id as a long column value that is not a literal.
  *
  * Spark writes a long `Literal` into the generated Java source, so a
  * `lit(batchId)` stamp or filter gives every micro-batch a different
  * class to compile. This leaf reaches the generated code through the
  * stage's `references[]` array instead: every batch of a query shares
  * one compiled class. It is not foldable, so the optimizer keeps it a
  * leaf; it is deterministic, so a filter on a partition column still
  * prunes partitions.
  */
case class BatchStamp(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "batch_stamp"
  override def eval(input: InternalRow): Any = value
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchStamp", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}
