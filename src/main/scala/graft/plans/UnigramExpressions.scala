package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style) Viterbi segmentation kernel
  * (SURVEY §2 F20d) — the other mainstream subword tokenizer next to
  * BPE (Kudo 2018): a word's segmentation is the piece sequence
  * maximizing the product of piece probabilities under the current
  * vocabulary. This kernel is the E-step's inner loop; the EM driver
  * lives in [[graft.operators.TextOps.unigramTokenizerOf]] with the
  * model passed IN-PLAN as a broadcast 1-row (pieces, counts, total)
  * triple — the decontaminate_bloom pattern, so no ScalaUDF and no
  * driver-side per-word loop.
  *
  * DETERMINISM CONTRACT (the DuckDB replay matches bit-for-bit):
  * probabilities are cnt.toDouble / total.toDouble (IEEE division of
  * the same integers), DP scores multiply prev * p in that order
  * (IEEE multiply is exactly specified), and ties break to the
  * SHORTEST piece (strict > while scanning s upward to the per-model
  * bound — the
  * replay's ORDER BY score DESC, s ASC). A zero-count piece scores
  * 0.0 — still a legal (last-resort) path, exactly as in the replay.
  * Unsegmentable words (a character missing from the vocabulary)
  * return null. */
object UnigramKernels {
  /** Hard ceiling on candidate piece lengths — the per-call bound below
    * is what actually limits the scan; this only caps a degenerate
    * vocabulary. */
  val MaxPieceLen = 8

  /** Tight per-model scan bound: the longest piece's UTF-8 byte count,
    * which upper-bounds its UTF-16 length (every code point takes at
    * least as many UTF-8 bytes as UTF-16 units), so no legal piece is
    * ever skipped. One O(vocab) pass of numBytes() per segment() call
    * replaces up to (MaxPieceLen - actual) guaranteed-miss substring +
    * UTF8String allocations and binary searches PER POSITION in the
    * Viterbi hot loop (the EM driver's vocabularies stop at length 3). */
  private def maxPieceBytes(pieces: ArrayData, nP: Int): Int = {
    var m = 1
    var i = 0
    while (i < nP) {
      val b = pieces.getUTF8String(i).numBytes()
      if (b > m) m = b
      i += 1
    }
    math.min(m, MaxPieceLen)
  }

  def segment(word: UTF8String, pieces: ArrayData, cnts: ArrayData,
      total: Long): GenericArrayData = {
    if (word == null || pieces == null || cnts == null || total <= 0L)
      return null
    val w = word.toString
    val len = w.length
    if (len == 0) return null
    val nP = pieces.numElements()
    val scanBound = maxPieceBytes(pieces, nP)
    val dp = new Array[Double](len + 1)
    java.util.Arrays.fill(dp, -1.0)
    dp(0) = 1.0
    val choice = new Array[Int](len + 1)
    var pos = 1
    while (pos <= len) {
      var best = -1.0
      var bestS = 0
      val maxS = math.min(scanBound, pos)
      var s = 1
      while (s <= maxS) {
        if (dp(pos - s) >= 0.0) {
          val idx = lookup(pieces, nP, w.substring(pos - s, pos))
          if (idx >= 0) {
            val cand = dp(pos - s) *
              (cnts.getLong(idx).toDouble / total.toDouble)
            if (cand > best) { best = cand; bestS = s }
          }
        }
        s += 1
      }
      dp(pos) = best
      choice(pos) = bestS
      pos += 1
    }
    if (dp(len) < 0.0) return null
    var n = 0
    var p = len
    while (p > 0) { p -= choice(p); n += 1 }
    val out = new Array[Any](n)
    p = len
    var i = n - 1
    while (p > 0) {
      val s = choice(p)
      out(i) = UTF8String.fromString(w.substring(p - s, p))
      p -= s
      i -= 1
    }
    new GenericArrayData(out)
  }

  /** Binary search over the piece array (sorted in UTF8String binary
    * order — the broadcast model is built with sort_array). */
  private def lookup(pieces: ArrayData, nP: Int, s: String): Int = {
    val target = UTF8String.fromString(s)
    var lo = 0
    var hi = nP - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = pieces.getUTF8String(mid).compareTo(target)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }
}
