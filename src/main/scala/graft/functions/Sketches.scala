package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Sketch/vector kernels as deterministic JVM UDFs (see Hashing for why
  * UDFs beat interpreted HOF lambdas here). All outputs depend only on the
  * input row — safe under any partitioning or retry.
  */
object Sketches {

  /** MinHash band signatures: `numHashes` seeded min-hashes over the token
    * set, grouped into bands of `rowsPerBand`, each band collapsed to one
    * 64-bit signature. Returns one signature per band. Defaults mirror
    * graft_minhash_bands (4 bands × 10 rows — see
    * `SketchKernels.minhashBands` for the recall geometry); this UDF is
    * the reference implementation the spec pins the codegen kernel
    * against. */
  def minhashBandSigs(numHashes: Int = 40, rowsPerBand: Int = 10): UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      if (toks == null || toks.isEmpty) Array.empty[Long]
      else {
        val base = toks.map(Hashing.hashString).toArray
        val mins = Array.fill(numHashes)(Long.MaxValue)
        var i = 0
        while (i < numHashes) {
          var j = 0
          while (j < base.length) {
            val h = Hashing.withSeed(base(j), i)
            if (h < mins(i)) mins(i) = h
            j += 1
          }
          i += 1
        }
        val nBands = numHashes / rowsPerBand
        val sigs = new Array[Long](nBands)
        var b = 0
        while (b < nBands) {
          var acc = b.toLong
          var r = 0
          while (r < rowsPerBand) {
            acc = Hashing.mix64(acc ^ mins(b * rowsPerBand + r))
            r += 1
          }
          sigs(b) = acc
          b += 1
        }
        sigs
      }
    }

  /** 64-bit SimHash over the token set: per-token hash votes on each bit,
    * majority sign wins. */
  val simhashSig: UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      if (toks == null || toks.isEmpty) 0L
      else {
        val counts = new Array[Int](64)
        toks.foreach { tk =>
          val h = Hashing.hashString(tk)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
            j += 1
          }
        }
        var sig = 0L
        var j = 0
        while (j < 64) {
          if (counts(j) > 0) sig |= (1L << j)
          j += 1
        }
        sig
      }
    }

  /** Base bucket of table `k`: sign bits of `bits` pseudo-random
    * hyperplane projections (weights from mix64(table, bit, dim)). */
  private def lshBase(arr: Array[Double], k: Int, bits: Int): Long = {
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var proj = 0.0
      var i = 0
      while (i < arr.length) {
        val w = (Hashing.mix64((k.toLong * 1009L + j) * 131071L + i) % 500L).toDouble
        proj += arr(i) * w
        i += 1
      }
      if (proj >= 0.0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** Random-hyperplane LSH buckets: `tables` independent tables of `bits`
    * hyperplanes each. Returns one bucket id per table, tagged with the
    * table index in the high bits. */
  def lshBuckets(tables: Int = 8, bits: Int = 6): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) Array.empty[Long]
      else {
        val arr = v.toArray
        val out = new Array[Long](tables)
        var k = 0
        while (k < tables) {
          out(k) = (k.toLong << 32) | lshBase(arr, k, bits)
          k += 1
        }
        out
      }
    }

  /** Multiprobe query buckets: each table's base bucket plus every 1-bit
    * flip of it — the neighboring buckets most likely to hold a near
    * vector that landed on the other side of one hyperplane. Query-side
    * only: the corpus keeps one bucket per table, so multiprobe raises
    * recall without touching the corpus shuffle volume. */
  def lshProbeBuckets(tables: Int = 8, bits: Int = 6): UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      if (v == null) Array.empty[Long]
      else {
        val arr = v.toArray
        val out = new Array[Long](tables * (bits + 1))
        var k = 0
        while (k < tables) {
          val base = lshBase(arr, k, bits)
          val tag = k.toLong << 32
          out(k * (bits + 1)) = tag | base
          var j = 0
          while (j < bits) {
            out(k * (bits + 1) + 1 + j) = tag | (base ^ (1L << j))
            j += 1
          }
          k += 1
        }
        out
      }
    }

  /** Left-fold dot product — the SAME accumulation order as the DuckDB
    * oracle's list_reduce, so results are bit-identical. */
  val dot: UserDefinedFunction =
    udf { (a: Seq[Double], b: Seq[Double]) =>
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

  /** Left-fold squared norm (matches oracle's list_reduce of x*x). */
  val norm2: UserDefinedFunction =
    udf { (a: Seq[Double]) =>
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
}
