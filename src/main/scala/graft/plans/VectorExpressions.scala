package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the vector kernels.
  *
  * These stay inside whole-stage codegen and read doubles straight out of
  * the Tungsten array format — no per-element boxing, no UDF
  * serialization. On the O(n²) pair queries (dedup_embed, ann_*) this is
  * the difference between minutes and sub-second at bench scale.
  *
  * Accumulation is a strict left fold, bit-identical to the DuckDB
  * oracle's list_reduce.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  // callers guarantee array<double> inputs (operators cast explicitly)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += $a.getDouble($i) * $b.getDouble($i);
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 norm of a double array — same strict left fold as the
  * oracle's list_reduce of x*x. */
case class Norm2(child: Expression) extends UnaryExpression {
  // caller guarantees array<double> input
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm2"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) { s += x.getDouble(i) * x.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
        double $s = 0.0;
        for (int $i = 0; $i < $a.numElements(); $i++) {
          $s += $a.getDouble($i) * $a.getDouble($i);
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Norm2 =
    copy(child = newChild)
}

/** Cardinality of the intersection of two SORTED string arrays via linear
  * merge — no per-call hash-set allocation, unlike ArrayIntersect (which
  * profiled at ~500µs/call on 25-element arrays; this is ~0.5µs). Callers
  * must pre-sort with array_sort(array_distinct(...)) once per row. */
case class IntersectSortedSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      s"""
        int $i = 0; int $j = 0; long $c = 0L;
        while ($i < $a.numElements() && $j < $b.numElements()) {
          int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
          if ($cmp == 0) { $c++; $i++; $j++; }
          else if ($cmp < 0) { $i++; } else { $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSortedSize =
    copy(left = newLeft, right = newRight)
}

/** Same linear-merge intersection over SORTED long arrays (pre-hashed
  * tokens): primitive getLong reads, zero allocation — the cheapest form a
  * pair-join condition can take. */
case class IntersectSortedLongSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_intersect_long_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
        int $i = 0; int $j = 0; long $c = 0L;
        while ($i < $a.numElements() && $j < $b.numElements()) {
          long $xv = $a.getLong($i); long $yv = $b.getLong($j);
          if ($xv == $yv) { $c++; $i++; $j++; }
          else if ($xv < $yv) { $i++; } else { $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSortedLongSize =
    copy(left = newLeft, right = newRight)
}

/** Membership probe into a SORTED long array — binary search, so a
  * model-sized broadcast list (boilerplate hashes, block lists) costs
  * log(n) per probe instead of array_contains' linear scan. The left
  * side is typically a literal/broadcast sorted array; the caller owns
  * the sortedness contract (an unsorted array silently yields wrong
  * answers, same as the intersect kernels). */
case class SortedContainsLong(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.LongType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_sorted_contains"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[Long]
    var lo = 0; var hi = x.numElements() - 1; var found = false
    while (lo <= hi && !found) {
      val mid = (lo + hi) >>> 1
      val mv = x.getLong(mid)
      if (mv == v) found = true
      else if (mv < v) lo = mid + 1
      else hi = mid - 1
    }
    found
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid"); val mv = ctx.freshName("mv")
      s"""
        int $lo = 0; int $hi = $a.numElements() - 1;
        boolean ${ev.value}_found = false;
        while ($lo <= $hi && !${ev.value}_found) {
          int $mid = ($lo + $hi) >>> 1;
          long $mv = $a.getLong($mid);
          if ($mv == $b) { ${ev.value}_found = true; }
          else if ($mv < $b) { $lo = $mid + 1; } else { $hi = $mid - 1; }
        }
        ${ev.value} = ${ev.value}_found;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedContainsLong =
    copy(left = newLeft, right = newRight)
}

/** Array × scalar product as a codegen expression — unit-normalizing a
  * 100 TB embedding column with an interpreted transform() lambda costs
  * ~µs/element; this is the same tight loop as the other kernels. */
case class ScaleArray(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  // declared input types: the analyzer then casts SQL literals (e.g. a
  // DECIMAL 2.0) instead of the kernel class-cast-failing at runtime
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType), DoubleType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_scale"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val s = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) * s; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
        int $n = $a.numElements();
        double[] $out = new double[$n];
        for (int $i = 0; $i < $n; $i++) { $out[$i] = $a.getDouble($i) * $b; }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScaleArray =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance computation for product quantization: sums the
  * per-subspace query→centroid distances selected by a code array.
  * `left` is the query's flattened distance table (array<double>,
  * laid out subspace-major: table[j*k + cid]); `right` is a corpus
  * row's PQ code (array<int>, one centroid id per subspace). The whole
  * compressed-corpus scan is this one codegen loop over m bytes per
  * row — the IO/compute shape that makes a PQ scan ~64× cheaper than
  * raw vectors. k (cells per subspace) = table.length / codes.length. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val table = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    // an empty code array would divide by zero deep in eval, and a table
    // that isn't an m-multiple silently reads the WRONG slot and returns
    // a plausible distance — both fail here naming the function
    if (m == 0 || table.numElements() % m != 0)
      throw new IllegalArgumentException(
        s"graft_pq_adc: table length ${table.numElements()} must be a " +
          s"positive multiple of the code length $m")
    val k = table.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= k)
        throw new IllegalArgumentException(
          s"graft_pq_adc: code id $c at subspace $j out of range [0, $k)")
      s += table.getDouble(j * k + c)
      j += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      // SAME guards as the interpreted path, including the per-code
      // bounds check: without it, compiled execution reads adjacent
      // memory for a malformed code id and returns a plausible distance
      // — the silent-misread failure the guard exists to prevent — and
      // the two execution paths disagree on malformed input (round-5
      // advice). One well-predicted branch per subspace.
      s"""
        int $m = $b.numElements();
        if ($m == 0 || $a.numElements() % $m != 0)
          throw new IllegalArgumentException(
            "graft_pq_adc: table length " + $a.numElements() +
            " must be a positive multiple of the code length " + $m);
        int $k = $a.numElements() / $m;
        double $s = 0.0;
        for (int $j = 0; $j < $m; $j++) {
          int $c = $b.getInt($j);
          if ($c < 0 || $c >= $k)
            throw new IllegalArgumentException(
              "graft_pq_adc: code id " + $c + " at subspace " + $j +
              " out of range [0, " + $k + ")");
          $s += $a.getDouble($j * $k + $c);
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** Element-wise array difference — the residual step of IVF+PQ
  * (vector minus its cell centroid) as the same tight codegen loop as
  * the other kernels. */
case class SubArrays(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType),
      org.apache.spark.sql.types.ArrayType(DoubleType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_sub"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) - y.getDouble(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double[] $out = new double[$n];
        for (int $i = 0; $i < $n; $i++) { $out[$i] = $a.getDouble($i) - $b.getDouble($i); }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubArrays =
    copy(left = newLeft, right = newRight)
}

/** PQ assignment kernel shared by interpreted eval and codegen. */
object PqAssignKernel {
  /** Nearest-cell id per subspace. `cb` is the flat codebook laid out
    * [subspace][cell][dim]: (j*k + c)*sub + x; k is derived as
    * cb.length / v.length (cb holds k copies of the vector space).
    * Ties break toward the LOWEST cell id (strict <), matching the
    * array_min-over-structs form it replaces. */
  def assign(v: ArrayData, cb: ArrayData, m: Int): ArrayData = {
    val dim = v.numElements()
    val sub = dim / m
    val k = cb.numElements() / dim
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0
        var x = 0
        val base = (j * k + c) * sub
        while (x < sub) {
          val diff = v.getDouble(j * sub + x) - cb.getDouble(base + x)
          d += diff * diff
          x += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** PQ subspace assignment as ONE kernel call: the earlier column form
  * (m × k struct branches of graft_dot against literal centroids) built
  * a plan tree whose whole-stage codegen RECOMPILED on every Lloyd
  * iteration (the centroid literals change) — compilation dominated the
  * fit at ~1-2 s per iteration. With the codebook as a single flat
  * literal array and the loop inside the kernel, the per-iteration
  * class is tiny and compile time vanishes. */
case class PqAssign(left: Expression, right: Expression, m: Int)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType),
      org.apache.spark.sql.types.ArrayType(DoubleType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_assign"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAssignKernel.assign(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.PqAssignKernel.assign($a, $b, $m);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAssign =
    copy(left = newLeft, right = newRight)
}

/** Kernels for the SQ8 scalar-quantization expressions (E8): per-dim
  * affine uint8 codes against a driver-fit (mins, scales) model. Both
  * directions are exact double arithmetic in a FIXED evaluation order —
  * (x - mn)/s*255 with HALF_UP rounding on encode, mn + c/255*s on
  * decode — so the DuckDB oracle replays them bit-identically (positive
  * operands make Java's HALF_UP and DuckDB's round-away-from-zero
  * agree). A zero-width dimension encodes to 0 and decodes to mn. */
object Sq8Kernel {
  def encode(v: ArrayData, mins: ArrayData, scales: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val s = scales.getDouble(i)
      out(i) =
        if (s == 0.0) 0
        else java.math.BigDecimal.valueOf(
          (v.getDouble(i) - mins.getDouble(i)) / s * 255.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).intValue()
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def dequant(codes: ArrayData, mins: ArrayData, scales: ArrayData): ArrayData = {
    val n = codes.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = mins.getDouble(i) + codes.getInt(i) / 255.0 * scales.getDouble(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** uint8 scalar-quantization encode as a native codegen expression:
  * codes = round((v - mins) / scales * 255). */
case class Sq8Encode(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  // caller guarantees (array<double>, array<double>, array<double>)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_sq8_encode"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Sq8Kernel.encode(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.plans.Sq8Kernel.encode($a, $b, $c);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Encode =
    copy(first = f, second = s, third = t)
}

/** The inverse: dq = mins + codes / 255 * scales (the scan-time view the
  * ADC pass scores against — stored bytes, derived doubles). */
case class Sq8Dequant(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  // caller guarantees (array<int>, array<double>, array<double>)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_sq8_dequant"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Sq8Kernel.dequant(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.plans.Sq8Kernel.dequant($a, $b, $c);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Dequant =
    copy(first = f, second = s, third = t)
}

/** The SQL names of the native expressions, so operators reach them
  * through `call_function` without touching private Column constructors. */
object VectorFunctions {

  /** The builder table [[graft.GraftExtensions]] injects into every
    * session built with `spark.sql.extensions=graft.GraftExtensions`
    * (`graft.core.GraftSession.builder` sets it); no other path
    * registers them. The class accompanies each builder for the
    * ExpressionInfo the extensions API wants.
    * Notes folded into builders: graft_word_ngrams takes an optional
    * gram-width literal; graft_vec_sum returns a bare AggregateFunction
    * (the analyzer wraps it in an AggregateExpression at resolution). */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct],
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))),
    ("graft_norm2", classOf[Norm2],
      (exprs: Seq[Expression]) => Norm2(exprs.head)),
    ("graft_intersect_size", classOf[IntersectSortedSize],
      (exprs: Seq[Expression]) => IntersectSortedSize(exprs.head, exprs(1))),
    ("graft_intersect_long_size", classOf[IntersectSortedLongSize],
      (exprs: Seq[Expression]) => IntersectSortedLongSize(exprs.head, exprs(1))),
    ("graft_sorted_contains", classOf[SortedContainsLong],
      (exprs: Seq[Expression]) => SortedContainsLong(exprs.head, exprs(1))),
    ("graft_fingerprint", classOf[Fingerprint],
      (exprs: Seq[Expression]) => Fingerprint(exprs.head)),
    ("graft_hash_str", classOf[HashStr],
      (exprs: Seq[Expression]) => HashStr(exprs.head)),
    ("graft_minhash_bands", classOf[MinhashBands],
      (exprs: Seq[Expression]) => MinhashBands(exprs.head)),
    ("graft_oph_bands", classOf[OphBands],
      (exprs: Seq[Expression]) => OphBands(exprs.head)),
    ("graft_ngram3", classOf[Ngram3Hashes],
      (exprs: Seq[Expression]) => Ngram3Hashes(exprs.head)),
    ("graft_word_ngrams", classOf[WordNgramHashes],
      (exprs: Seq[Expression]) =>
        if (exprs.length > 1)
          WordNgramHashes(exprs.head, WordNgramHashes.widthOf(exprs(1)))
        else WordNgramHashes(exprs.head)),
    ("graft_simhash", classOf[SimhashSig],
      (exprs: Seq[Expression]) => SimhashSig(exprs.head)),
    ("graft_vec_scale", classOf[ScaleArray],
      (exprs: Seq[Expression]) => ScaleArray(exprs.head, exprs(1))),
    ("graft_vec_sub", classOf[SubArrays],
      (exprs: Seq[Expression]) => SubArrays(exprs.head, exprs(1))),
    ("graft_pq_adc", classOf[PqAdc],
      (exprs: Seq[Expression]) => PqAdc(exprs.head, exprs(1))),
    ("graft_pq_assign", classOf[PqAssign],
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_pq_assign(v, codebook, m) takes exactly 3 arguments, got ${exprs.length}")
        PqAssign(exprs.head, exprs(1),
          IntLitArg.of("graft_pq_assign(v, codebook, m)", "m", exprs(2)))
      }),
    ("graft_vec_sum", classOf[VectorSum],
      (exprs: Seq[Expression]) => VectorSum(exprs.head)),
    ("graft_mix64", classOf[Mix64],
      (exprs: Seq[Expression]) => Mix64(exprs.head)),
    ("graft_lsh_buckets", classOf[LshBuckets],
      (exprs: Seq[Expression]) => LshBuckets(exprs.head,
        IntLitArg.of("graft_lsh_buckets(v, tables, bits)", "tables", exprs(1)),
        IntLitArg.of("graft_lsh_buckets(v, tables, bits)", "bits", exprs(2)))),
    ("graft_lsh_probes", classOf[LshProbes],
      (exprs: Seq[Expression]) => LshProbes(exprs.head,
        IntLitArg.of("graft_lsh_probes(v, tables, bits)", "tables", exprs(1)),
        IntLitArg.of("graft_lsh_probes(v, tables, bits)", "bits", exprs(2)))),
    ("graft_rep_stats", classOf[RepStats],
      (exprs: Seq[Expression]) =>
        if (exprs.length > 1) RepStats(exprs.head, RepStats.blockNOf(exprs(1)))
        else RepStats(exprs.head)),
    // bare AggregateFunction like graft_vec_sum: the analyzer wraps it
    ("graft_topk_freq", classOf[TopKFreq],
      (exprs: Seq[Expression]) => TopKFreq(exprs.head,
        IntLitArg.of("graft_topk_freq(term, capacity)", "capacity", exprs(1)))),
    ("graft_sq8_encode", classOf[Sq8Encode],
      (exprs: Seq[Expression]) => Sq8Encode(exprs.head, exprs(1), exprs(2))),
    ("graft_sq8_dequant", classOf[Sq8Dequant],
      (exprs: Seq[Expression]) => Sq8Dequant(exprs.head, exprs(1), exprs(2))),
    ("graft_nfc", classOf[NfcNormalize],
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)),
    ("graft_bmp_encode", classOf[BmpEncode],
      (exprs: Seq[Expression]) => BmpEncode(exprs.head)),
    ("graft_bmp_features", classOf[BmpFeatures],
      (exprs: Seq[Expression]) => BmpFeatures(exprs.head)),
    ("graft_bmp_resize2x", classOf[BmpResize2x],
      (exprs: Seq[Expression]) => BmpResize2x(exprs.head)),
    ("graft_bmp_flip", classOf[BmpFlipH],
      (exprs: Seq[Expression]) => BmpFlipH(exprs.head)),
    ("graft_bmp_patches", classOf[BmpPatches],
      (exprs: Seq[Expression]) => BmpPatches(exprs.head,
        IntLitArg.of("graft_bmp_patches(blob, p)", "p", exprs(1)))),
    ("graft_h264_encode", classOf[H264Encode],
      (exprs: Seq[Expression]) => H264Encode(exprs.head, exprs(1))),
    ("graft_nal_units", classOf[NalUnits],
      (exprs: Seq[Expression]) => NalUnits(exprs.head)),
    ("graft_nal_format", classOf[NalFormat],
      (exprs: Seq[Expression]) => NalFormat(exprs.head)),
    ("graft_nal_stats", classOf[NalStats],
      (exprs: Seq[Expression]) => NalStats(exprs.head)),
    ("graft_sps_dims", classOf[SpsDims],
      (exprs: Seq[Expression]) => SpsDims(exprs.head)),
    ("graft_hevc_encode", classOf[HevcEncode],
      (exprs: Seq[Expression]) => HevcEncode(exprs.head, exprs(1))),
    ("graft_hevc_stats", classOf[HevcStats],
      (exprs: Seq[Expression]) => HevcStats(exprs.head)),
    ("graft_hevc_sps", classOf[HevcSpsDims],
      (exprs: Seq[Expression]) => HevcSpsDims(exprs.head)),
    ("graft_h264_encode_slices", classOf[H264EncodeSlices],
      (exprs: Seq[Expression]) => H264EncodeSlices(exprs.head, exprs(1))),
    ("graft_avcc_encode", classOf[AvccEncode],
      (exprs: Seq[Expression]) => AvccEncode(exprs.head, exprs(1))),
    ("graft_avcc_sps", classOf[AvccSps],
      (exprs: Seq[Expression]) => AvccSps(exprs.head)),
    ("graft_aac_asc_encode", classOf[AacAscEncode],
      (exprs: Seq[Expression]) => AacAscEncode(exprs.head, exprs(1))),
    ("graft_aac_asc", classOf[AacAsc],
      (exprs: Seq[Expression]) => AacAsc(exprs.head)),
    ("graft_asc_to_adts", classOf[AscToAdts],
      (exprs: Seq[Expression]) => AscToAdts(exprs.head, exprs(1))),
    ("graft_adts_parse", classOf[AdtsParse],
      (exprs: Seq[Expression]) => AdtsParse(exprs.head)),
    ("graft_avcc_to_annexb", classOf[AvccToAnnexb],
      (exprs: Seq[Expression]) => AvccToAnnexb(exprs.head, exprs(1))),
    ("graft_hvcc_to_annexb", classOf[HvccToAnnexb],
      (exprs: Seq[Expression]) => HvccToAnnexb(exprs.head, exprs(1))),
    ("graft_hvcc_encode", classOf[HvccEncode],
      (exprs: Seq[Expression]) => HvccEncode(exprs.head, exprs(1))),
    ("graft_hvcc_sps", classOf[HvccSps],
      (exprs: Seq[Expression]) => HvccSps(exprs.head)),
    ("graft_hevc_encode_slices", classOf[HevcEncodeSlices],
      (exprs: Seq[Expression]) => HevcEncodeSlices(exprs.head, exprs(1))),
    ("graft_h264_gop_encode", classOf[H264GopEncode],
      (exprs: Seq[Expression]) => H264GopEncode(exprs.head, exprs(1))),
    ("graft_gop_census", classOf[GopCensus],
      (exprs: Seq[Expression]) => GopCensus(exprs.head)),
    ("graft_h264_sei_encode", classOf[H264SeiEncode],
      (exprs: Seq[Expression]) => H264SeiEncode(exprs.head, exprs(1))),
    ("graft_hevc_sei_encode", classOf[HevcSeiEncode],
      (exprs: Seq[Expression]) => HevcSeiEncode(exprs.head, exprs(1))),
    ("graft_sei_census", classOf[SeiCensus],
      (exprs: Seq[Expression]) => SeiCensus(exprs.head)),
    ("graft_hevc_sei_census", classOf[HevcSeiCensus],
      (exprs: Seq[Expression]) => HevcSeiCensus(exprs.head)),
    ("graft_hevc_gop_encode", classOf[HevcGopEncode],
      (exprs: Seq[Expression]) => HevcGopEncode(exprs.head, exprs(1))),
    ("graft_hevc_gop_census", classOf[HevcGopCensus],
      (exprs: Seq[Expression]) => HevcGopCensus(exprs.head)),
    ("graft_unigram_segment", classOf[UnigramSegment],
      (exprs: Seq[Expression]) => UnigramSegment(exprs)),
    ("graft_wav_encode", classOf[WavEncode],
      (exprs: Seq[Expression]) => WavEncode(exprs.head, exprs(1))),
    ("graft_wav_gain", classOf[WavGain],
      (exprs: Seq[Expression]) => WavGain(exprs.head,
        IntLitArg.of("graft_wav_gain(blob, gain_milli)", "gain_milli",
          exprs(1)))),
    ("graft_wav_features", classOf[WavFeatures],
      (exprs: Seq[Expression]) => WavFeatures(exprs.head)),
    // bare AggregateFunction like graft_vec_sum: the analyzer wraps it
    ("graft_bloom_agg", classOf[BloomAgg],
      (exprs: Seq[Expression]) => BloomAgg(exprs.head,
        IntLitArg.of("graft_bloom_agg(hash, m_bits, k)", "m_bits", exprs(1)),
        IntLitArg.of("graft_bloom_agg(hash, m_bits, k)", "k", exprs(2)))),
    ("graft_bloom_contains", classOf[BloomContains],
      (exprs: Seq[Expression]) => BloomContains(exprs.head, exprs(1),
        IntLitArg.of("graft_bloom_contains(bloom, hash, k)", "k", exprs(2)))))
}
