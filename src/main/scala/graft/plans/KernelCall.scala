package graft.plans

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** An integer parameter of a [[Kernel]]: an int literal in `[min, max]`,
  * or `default` when the caller leaves it out. It reaches the kernel as
  * an int `Literal` child, so generated code carries it as a constant. */
final case class IntParam(name: String, min: Int = Int.MinValue,
    max: Int = Int.MaxValue, default: Option[Int] = None) {
  def check(fn: String, v: Int): Int = {
    require(v >= min && v <= max, s"$fn: $name must be " +
      (if (max == Int.MaxValue) s">= $min" else s"in [$min, $max]") + s", got $v")
    v
  }
}

/** One graft SQL function as a row of data: its SQL `name`, the public
  * static method `owner.method` that computes it, its result type,
  * whether the method may return null (`nullOnBadInput`: null on
  * unparseable bytes and the like), optional `inputTypes` the analyzer
  * casts arguments to, trailing integer parameters, and a one-line
  * `usage` that `DESCRIBE FUNCTION` prints. Scala objects get static
  * forwarders, so `owner` is the object's class name without the `$`. */
final case class Kernel(
    name: String,
    owner: String,
    method: String,
    dataType: DataType,
    usage: String,
    nullOnBadInput: Boolean = false,
    inputTypes: Seq[DataType] = Nil,
    intParams: Seq[IntParam] = Nil) {

  /** The static method, resolved once per kernel instance. */
  @transient lazy val target: Method = {
    val ms = Class.forName(owner).getMethods.filter(m =>
      m.getName == method && Modifier.isStatic(m.getModifiers))
    require(ms.length == 1,
      s"$name: expected one public static $owner.$method, found ${ms.length}")
    ms.head
  }

  def info: ExpressionInfo =
    new ExpressionInfo(classOf[KernelCall].getName, null, name, usage, "")

  /** The SQL function builder: data arguments as given, then each integer
    * parameter checked and made an int literal (defaults filled in). */
  def build(args: Seq[Expression]): Expression = {
    val nData = target.getParameterCount - intParams.size
    val given = args.size - nData
    require(given >= intParams.count(_.default.isEmpty) && given <= intParams.size,
      s"$name takes $nData arguments" +
        (if (intParams.isEmpty) "" else intParams.map(_.name).mkString(" then integer literals ", ", ", "")) +
        s", got ${args.size}")
    val ints = intParams.zipWithIndex.map { case (p, i) =>
      Literal(p.check(name,
        if (i < given) IntLitArg.of(name, p.name, args(nData + i)) else p.default.get))
    }
    KernelCall(this, args.take(nData) ++ ints)
  }
}

/** The one Catalyst node behind every graft scalar function: null when
  * any argument is null, otherwise `fn.owner.fn.method(args)`. Generated
  * code is that one static call under the same nested null checks as
  * Spark's `nullSafeCodeGen`; interpreted eval invokes the same method,
  * so the two paths cannot disagree. */
case class KernelCall(fn: Kernel, children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {

  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.nullOnBadInput || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = fn.name
  // plan text reads graft_nal_stats(blob#3), not the kernel descriptor
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def inputTypes: Seq[DataType] =
    if (fn.inputTypes.isEmpty) Nil
    else fn.inputTypes ++ fn.intParams.map(_ => IntegerType)

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try fn.target.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${ev.value} = ${fn.owner}.${fn.method}(${gens.map(_.value).mkString(", ")});"
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      val result =
        if (fn.nullOnBadInput) s"$call\n${ev.isNull} = ${ev.value} == null;"
        else s"${ev.isNull} = false;\n$call"
      val body = children.zip(gens).foldRight(result) { case ((c, g), inner) =>
        s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

/** Resolves an integer-literal function argument with an analysis-time
  * error naming the function and parameter (a raw ClassCast deep in
  * evaluation names neither). A long outside the int range is rejected,
  * never wrapped. */
object IntLitArg {
  def of(fn: String, name: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $name must be an integer LITERAL, got " + e.sql)
    e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long if l.longValue == l.intValue => l.intValue()
      case l: java.lang.Long => throw new IllegalArgumentException(
        s"$fn: $name = $l is outside the int range")
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got $other")
    }
  }
}
