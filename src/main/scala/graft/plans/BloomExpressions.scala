package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.functions.Hashing

/** Deterministic Bloom filter over 64-bit keys — the RUNTIME-FILTER
  * primitive for the "membership set too big to broadcast-hash-join"
  * regime (H11).
  *
  * Motivation: F6's decontamination broadcasts the benchmark gram set
  * as a join hash table — right while eval sets are MBs. A
  * contamination registry of 10⁸ grams breaks that (a broadcast hash
  * relation carries 30+ B/entry in object overhead), and the exact
  * join must then shuffle BOTH sides — at 100 TB the corpus-gram side
  * of that exchange dwarfs everything else in the pipeline. A Bloom
  * BITSET over the same keys is ~10 bits/entry (10⁸ grams ≈ 125 MB —
  * still broadcastable), and filtering corpus grams against it BEFORE
  * the exchange cuts the shuffled rows to true hits + the ~1% false
  * positives; the exact join afterwards makes the composite
  * semantics-identical to the exact form (a Bloom has no false
  * negatives, and the join discards the false positives). This is
  * Spark's own runtime row-level-filter pattern, hand-rolled so the
  * bitset is DETERMINISTIC (splitmix64 double hashing, no
  * partition-order dependence — OR is commutative) and shared with the
  * DuckDB oracle contract: the oracle runs the plain exact join, and
  * the results must hash-match exactly.
  *
  * Probe schedule (Kirsch–Mitzenmacher): bit_i = (h + i·(mix64(h)|1))
  * mod m for i < k — two hash evaluations serve any k with the
  * classical false-positive bound. m is a power of two so the mod is a
  * mask.
  */
object BloomKernel {
  /** False-negative-free membership probe against a bitset built by
    * [[BloomAgg]] with the same k (m is implied by the array length). */
  def contains(bloom: Array[Byte], hash: Long, k: Int): Boolean = {
    val mask = (bloom.length.toLong << 3) - 1L
    val step = Hashing.mix64(hash) | 1L
    var i = 0
    var h = hash
    while (i < k) {
      val pos = h & mask
      if ((bloom((pos >>> 3).toInt) & (1 << (pos & 7L).toInt)) == 0) return false
      h += step
      i += 1
    }
    true
  }

  def set(bloom: Array[Byte], hash: Long, k: Int): Unit = {
    val mask = (bloom.length.toLong << 3) - 1L
    val step = Hashing.mix64(hash) | 1L
    var i = 0
    var h = hash
    while (i < k) {
      val pos = h & mask
      bloom((pos >>> 3).toInt) = (bloom((pos >>> 3).toInt) | (1 << (pos & 7L).toInt)).toByte
      h += step
      i += 1
    }
  }
}

/** `graft_bloom_agg(hash, m_bits, k)` — aggregate a column of 64-bit
  * keys into an m-bit Bloom bitset (binary). Partition-order
  * independent (bitwise OR), so the result is bit-identical however
  * Spark schedules the partials; the exchange carries m/8-byte buffers
  * per task, constant in the row count. */
case class BloomAgg(
    child: Expression,
    mBits: Int,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
    s"graft_bloom_agg: m_bits must be a power of two >= 64, got $mBits")
  require(k >= 1 && k <= 16, s"graft_bloom_agg: k must be in [1,16], got $k")

  override def prettyName: String = "graft_bloom_agg"
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Byte] = null

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val acc = if (buf == null) new Array[Byte](mBits >>> 3) else buf
      BloomKernel.set(acc, v.asInstanceOf[Long], k)
      acc
    }
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a == null) b
    else if (b == null) a
    else {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }

  override def eval(buf: Array[Byte]): Any = buf

  // empty bytes <-> null buffer is unambiguous here: a non-null bitset
  // is always m/8 (>= 8) bytes
  override def serialize(buf: Array[Byte]): Array[Byte] =
    if (buf == null) Array.emptyByteArray else buf

  override def deserialize(bytes: Array[Byte]): Array[Byte] =
    if (bytes.isEmpty) null else bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}
