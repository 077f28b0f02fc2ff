package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The vector and sorted-set kernels behind graft_dot, graft_norm2,
  * graft_intersect_size, graft_intersect_long_size,
  * graft_sorted_contains, graft_vec_scale, graft_vec_sub and
  * graft_pq_adc ([[Kernels]]). Each reads doubles/longs straight out of
  * the Tungsten array format — no per-element boxing, no UDF
  * serialization — and generated code calls it as one static method, so
  * on the O(n²) pair queries (dedup_embed, ann_*) it is the same tight
  * loop the interpreted path runs.
  *
  * Accumulation is a strict left fold, bit-identical to the DuckDB
  * oracle's list_reduce. Callers guarantee the element types (operators
  * cast explicitly; the table declares casts where SQL literals need
  * them). */
object VectorKernels {

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** Squared L2 norm — the oracle's list_reduce of x*x. */
  def norm2(x: ArrayData): Double = {
    var s = 0.0
    var i = 0
    while (i < x.numElements()) { s += x.getDouble(i) * x.getDouble(i); i += 1 }
    s
  }

  /** Cardinality of the intersection of two SORTED string arrays via a
    * linear merge — no per-call hash set, unlike ArrayIntersect (which
    * profiled at ~500µs/call on 25-element arrays; this is ~0.5µs).
    * Callers pre-sort with array_sort(array_distinct(...)) once per row. */
  def intersectSize(x: ArrayData, y: ArrayData): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** The same merge over SORTED long arrays (pre-hashed tokens):
    * primitive reads, zero allocation — the cheapest form a pair-join
    * condition can take. */
  def intersectLongSize(x: ArrayData, y: ArrayData): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  /** Binary-search membership in a SORTED long array, so a model-sized
    * broadcast list (boilerplate hashes, block lists) costs log(n) per
    * probe instead of array_contains' linear scan. The caller owns the
    * sortedness contract: an unsorted array silently answers wrong. */
  def sortedContains(x: ArrayData, v: Long): Boolean = {
    var lo = 0; var hi = x.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mv = x.getLong(mid)
      if (mv == v) return true
      else if (mv < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  /** Array × scalar: unit-normalizing an embedding column without an
    * interpreted transform() lambda (~µs/element). */
  def scale(x: ArrayData, s: Double): ArrayData = {
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) * s; i += 1 }
    new GenericArrayData(out)
  }

  /** Element-wise difference — the IVF+PQ residual (vector minus its
    * cell centroid). */
  def sub(x: ArrayData, y: ArrayData): ArrayData = {
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) - y.getDouble(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Product-quantization asymmetric distance: the sum of the per-subspace
    * query→centroid distances a code array selects. `table` is the
    * query's flattened distance table laid out subspace-major
    * (table[j*k + cid]); `codes` holds one centroid id per subspace, and
    * k = table.length / codes.length. The whole compressed-corpus scan is
    * this one loop over m codes per row — the shape that makes a PQ scan
    * ~64× cheaper than raw vectors. An empty code array, a table that is
    * not an m-multiple, or a code id out of range would misread a
    * neighbouring slot and return a plausible distance: each fails here
    * naming the function instead. */
  def pqAdc(table: ArrayData, codes: ArrayData): Double = {
    val m = codes.numElements()
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
}

/** PQ subspace assignment (graft_pq_assign) as ONE kernel call: the
  * earlier column form (m × k struct branches of graft_dot against
  * literal centroids) built a plan whose whole-stage codegen RECOMPILED
  * on every Lloyd iteration (the centroid literals change) — compilation
  * dominated the fit at ~1-2 s per iteration. With the codebook as a
  * single flat literal array and the loop inside the kernel, the
  * per-iteration class is tiny and compile time vanishes. */
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
    new GenericArrayData(out)
  }
}

/** Kernels for the SQ8 scalar-quantization functions (E8): per-dim
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
    new GenericArrayData(out)
  }

  def dequant(codes: ArrayData, mins: ArrayData, scales: ArrayData): ArrayData = {
    val n = codes.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = mins.getDouble(i) + codes.getInt(i) / 255.0 * scales.getDouble(i)
      i += 1
    }
    new GenericArrayData(out)
  }
}
