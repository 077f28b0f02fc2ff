package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Hashing

/** JVM kernels for the text-sketch functions ([[Kernels]]): interpreted
  * `eval` and generated code both call these statics, so the two paths
  * cannot diverge. (Scala object methods get static forwarders, so
  * generated Java calls them directly.) */
object SketchKernels {

  /** Rolling polynomial fingerprint, mirroring the round-1 column form
    * `aggregate(regexp_extract_all(text,'.'), 0L, (h,c) -> (h*31+ascii(c))
    * % 1e9+7)`: per code point, skipping the line terminators Java's
    * regex '.' skips — byte-identical results, ~1000x less per-char cost
    * than the interpreted HOF lambda it replaces. */
  def fingerprint(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp != '\n' && cp != '\r' && cp != 0x85 && cp != 0x2028 && cp != 0x2029)
        h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Hashing.hashString over a Tungsten string (graft_hash_str): the
    * per-token hash behind every graft sketch, for operators that build a
    * sketch IN THE PLAN (the C10e count-min bucket projection hashes each
    * token once and derives d seeded buckets from it). */
  def hashStr(s: UTF8String): Long = Hashing.hashString(s.toString)

  /** 64-bit SimHash over the token set — the Sketches.simhashSig logic
    * reading tokens straight from Tungsten ArrayData. */
  def simhashSig(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val counts = new Array[Int](64)
    var t = 0
    while (t < n) {
      val h = Hashing.hashString(arr.getUTF8String(t).toString)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** graft_minhash_bands: 40 hashes in 4 bands × 10 rows, tuned for the
    * j >= 0.95 near-dup threshold: P[candidate] = 1-(1-j^10)^4 ≈ 0.974 at
    * j = 0.95 (the round-3 4×16 geometry gave 0.90 and a measured recall
    * floor of 0.8; shorter rows raise recall at identical shuffle volume —
    * still 4 (band, sig) rows per doc. 4×8 was measured too: recall also
    * 1.0, but its ~3× higher false-candidate rate cost 1-2 s per
    * clustering query at sf0.1 in exact-kernel verification). */
  def minhashBands(arr: ArrayData): ArrayData = minhashBandSigs(arr, 40, 10)

  /** graft_oph_bands: 8 bands × 8 bins over an already-hashed set. At the
    * char-gram threshold j = 0.9 the candidate probability is
    * 1-(1-0.9^8)^8 ≈ 0.99 (16-bin bands would drop it to ≈ 0.56 — band
    * geometry must match the target threshold, not be copied across
    * operators). */
  def ophBands(arr: ArrayData): ArrayData = ophBandSigsLong(arr, 64, 8)

  /** MinHash band signatures — the Sketches.minhashBandSigs logic reading
    * tokens straight from Tungsten ArrayData. */
  def minhashBandSigs(arr: ArrayData, numHashes: Int, rowsPerBand: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val base = new Array[Long](n)
    var t = 0
    while (t < n) { base(t) = Hashing.hashString(arr.getUTF8String(t).toString); t += 1 }
    bandSigsOf(base, numHashes, rowsPerBand)
  }

  private def bandSigsOf(base: Array[Long], numHashes: Int, rowsPerBand: Int): ArrayData = {
    val n = base.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < numHashes) {
      var j = 0
      while (j < n) {
        val h = Hashing.withSeed(base(j), i)
        if (h < mins(i)) mins(i) = h
        j += 1
      }
      i += 1
    }
    foldBands(mins, rowsPerBand)
  }

  /** One-permutation minhash bands over an ALREADY-HASHED element set
    * (array<long>, e.g. graft_ngram3 shingles). Classic k-function
    * minhash is k passes over the set — 64 × ~1500 mixes per document on
    * char-gram sets, which measured SLOWER than the brute pair loop at
    * sf0.1. OPH (Li et al., 2012) is ONE pass: each element lands in
    * the bin given by its top bits and the bin keeps its minimum; an
    * empty bin borrows the next non-empty bin's value, mixed with the
    * borrow distance (rotation densification), so sparse sets still get
    * a full signature with collision probability ≈ Jaccard per bin. */
  def ophBandSigsLong(arr: ArrayData, numBins: Int, rowsPerBand: Int): ArrayData = {
    // a non-power-of-two bin count would silently populate only the
    // low 2^floor(log2) bins and densify the rest into noise
    require(Integer.bitCount(numBins) == 1, s"numBins must be a power of two: $numBins")
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val shift = 64 - Integer.numberOfTrailingZeros(numBins)
    val mins = Array.fill(numBins)(Long.MaxValue)
    var t = 0
    while (t < n) {
      val h = arr.getLong(t)
      val bin = (h >>> shift).toInt
      if (h < mins(bin)) mins(bin) = h
      t += 1
    }
    // rotation densification (Li et al.): every empty bin borrows from
    // the next bin that was non-empty in the ORIGINAL fill, mixed with
    // the borrow distance. The emptiness mask is computed up front so a
    // borrow can never chain through an already-densified bin — the
    // round-3 advice: wraparound borrows off densified values skewed
    // the per-bin collision probability for sparse sets.
    val mask = numBins - 1 // power of two (guarded above)
    val empty = new Array[Boolean](numBins)
    var b = 0
    while (b < numBins) { empty(b) = mins(b) == Long.MaxValue; b += 1 }
    b = 0
    while (b < numBins) {
      if (empty(b)) {
        var d = 1
        while (empty((b + d) & mask)) d += 1
        mins(b) = Hashing.mix64(mins((b + d) & mask) + d.toLong)
      }
      b += 1
    }
    foldBands(mins, rowsPerBand)
  }

  private def foldBands(mins: Array[Long], rowsPerBand: Int): ArrayData = {
    val nBands = mins.length / rowsPerBand
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
    new GenericArrayData(sigs)
  }
}

/** graft_ngram3: sorted distinct hashes of the character 3-grams — the
  * shingle set the ngram dedup pair join merges (it replaced an
  * interpreted transform(sequence)+substring+xxhash64 pipeline that
  * measured ~4 s of the pair query at sf0.1). Each gram's three UTF-16 units pack into 48 bits and go
  * through mix64 — a bijection on longs — so distinct grams map to
  * distinct hashes with ZERO collision risk (unlike hashing substring
  * allocations), and the array length IS the distinct-gram count. */
object Ngram3Kernel {
  def hashes(s: UTF8String): ArrayData = {
    val str = s.toString
    val len = str.length
    if (len < 3) return new GenericArrayData(Array.empty[Long])
    val m = len - 2
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val packed = (str.charAt(i).toLong << 32) |
        (str.charAt(i + 1).toLong << 16) | str.charAt(i + 2).toLong
      hs(i) = Hashing.mix64(packed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }
}

/** graft_word_ngrams: sorted distinct hashes of the word n-grams of a
  * token array — the shingle unit of benchmark decontamination
  * (TextOps.decontaminateAgainst). Gram hash = mix64 fold over the n token
  * hashes from an FNV offset seed — injective on token sequences modulo
  * 64-bit collisions (~1e-10 over a corpus, the repo-wide acceptance
  * used for toks_h), so distinct grams map to distinct longs and a
  * membership join on the hash equals a join on the gram string. */
object WordNgramKernel {
  def hashes(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](m)
    var i = 0
    while (i < m) { th(i) = Hashing.hashString(arr.getUTF8String(i).toString); i += 1 }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var acc = -3750763034362895579L // FNV-1a 64 offset basis
      var j = 0
      while (j < n) { acc = Hashing.mix64(acc ^ th(i + j)); j += 1 }
      out(i) = acc
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }
}

/** Kernels for graft_lsh_buckets (the corpus-side signature of every
  * embedding LSH path) and graft_lsh_probes: table-`k` bucket = sign
  * bits of `bits` pseudo-random projections (weights from
  * mix64(table, bit, dim) — regenerated per use, nothing broadcast).
  * Identical arithmetic and accumulation order to the
  * Sketches.lshBuckets / lshProbeBuckets reference UDFs the specs pin
  * these against, so swapping call sites cannot move a single bucket. */
object LshKernel {
  def base(arr: ArrayData, k: Int, bits: Int): Long = {
    val n = arr.numElements()
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val w = (Hashing.mix64((k.toLong * 1009L + j) * 131071L + i) % 500L).toDouble
        proj += arr.getDouble(i) * w
        i += 1
      }
      if (proj >= 0.0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** One bucket per table, table index in the high 32 bits. */
  def buckets(arr: ArrayData, tables: Int, bits: Int): ArrayData = {
    val out = new Array[Long](tables)
    var k = 0
    while (k < tables) {
      out(k) = (k.toLong << 32) | base(arr, k, bits)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Multiprobe set: each table's base bucket plus every 1-bit flip —
    * query-side only, so recall rises without touching corpus volume. */
  def probes(arr: ArrayData, tables: Int, bits: Int): ArrayData = {
    val out = new Array[Long](tables * (bits + 1))
    var k = 0
    while (k < tables) {
      val b = base(arr, k, bits)
      val tag = k.toLong << 32
      out(k * (bits + 1)) = tag | b
      var j = 0
      while (j < bits) {
        out(k * (bits + 1) + 1 + j) = tag | (b ^ (1L << j))
        j += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_rep_stats — Gopher-style per-document repetition
  * counters in ONE pass over the token array (Rae et al. 2021,
  * "Scaling Language Models: ... Gopher", Table A1's repetition
  * filters; also the repetition signals RefinedWeb/Dolma apply).
  * Counting is by exact gram TEXT (a java.util.HashMap per row, ~
  * vocabulary-of-one-document entries, transient) — not by hash — so
  * the DuckDB oracle twin recomputes identical counts with zero
  * collision caveats, and the top-2-gram tie (count desc, gram asc)
  * resolves by real string order on both sides (binary order for the
  * ASCII corpus; java String.compareTo is UTF-16 code-unit order, so
  * supplementary-plane ties could diverge from UTF-8 binary — the
  * corpus and specs stay in the BMP).
  *
  * Char counts are CODE POINTS (UTF8String.numChars), matching DuckDB
  * `length()`. Output layout (long[7], 1-based via element_at):
  *   1 n_blocks            blockN-word blocks (ceil(n_words/blockN))
  *   2 n_dup_blocks        block occurrences beyond their first
  *   3 dup_block_chars     chars of those non-first block occurrences
  *   4 total_block_chars   chars of all block occurrences
  *   5 top2_cnt            occurrences of the most frequent word 2-gram
  *   6 top2_len            chars of that 2-gram
  *   7 dup5_chars          sum over word-5-grams seen >1 times of
  *                         count * gram chars (overlaps counted per
  *                         occurrence — the cheap published surrogate
  *                         for "chars in duplicated n-grams")
  */
object RepStatsKernel {
  def stats(arr: ArrayData, blockN: Int): ArrayData = {
    val m = arr.numElements()
    val w = new Array[String](m)
    val wlen = new Array[Int](m)
    var i = 0
    while (i < m) {
      val u = arr.getUTF8String(i)
      w(i) = u.toString
      wlen(i) = u.numChars()
      i += 1
    }
    val out = new Array[Long](7)
    // blocks
    if (m > 0) {
      val nb = (m + blockN - 1) / blockN
      out(0) = nb.toLong
      val bm = new java.util.HashMap[String, Integer](nb * 2)
      val sb = new java.lang.StringBuilder
      var b = 0
      while (b < nb) {
        sb.setLength(0)
        var chars = 0
        var j = b * blockN
        val end = math.min(j + blockN, m)
        while (j < end) {
          if (sb.length > 0) { sb.append(' '); chars += 1 }
          sb.append(w(j)); chars += wlen(j)
          j += 1
        }
        val blk = sb.toString
        out(3) += chars
        val prev = bm.merge(blk, 1, (a: Integer, one: Integer) => a + one)
        if (prev > 1) { out(1) += 1; out(2) += chars }
        b += 1
      }
    }
    // word 2-grams: count + track the top by (count desc, gram asc)
    if (m >= 2) {
      val g2 = new java.util.HashMap[String, Integer](m * 2)
      i = 0
      while (i < m - 1) {
        g2.merge(w(i) + " " + w(i + 1), 1, (a: Integer, one: Integer) => a + one)
        i += 1
      }
      var topG: String = null
      var topC = 0
      val it = g2.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.intValue()
        if (c > topC || (c == topC && e.getKey.compareTo(topG) < 0)) {
          topC = c; topG = e.getKey
        }
      }
      out(4) = topC.toLong
      out(5) = UTF8String.fromString(topG).numChars().toLong
    }
    // word 5-grams: chars in duplicated grams (count * len per dup gram)
    if (m >= 5) {
      val g5 = new java.util.HashMap[String, Array[Int]](m * 2)
      i = 0
      while (i <= m - 5) {
        val g = w(i) + " " + w(i + 1) + " " + w(i + 2) + " " + w(i + 3) + " " + w(i + 4)
        val v = g5.get(g)
        if (v == null)
          g5.put(g, Array(1, wlen(i) + wlen(i + 1) + wlen(i + 2) + wlen(i + 3) + wlen(i + 4) + 4))
        else v(0) += 1
        i += 1
      }
      val it = g5.values().iterator()
      while (it.hasNext) {
        val v = it.next()
        if (v(0) > 1) out(6) += v(0).toLong * v(1)
      }
    }
    new GenericArrayData(out)
  }
}

/** graft_nfc: Unicode NFC normalization — the text
  * CLEANING primitive every published curation pipeline applies before
  * hashing/dedup (composed vs decomposed accents would otherwise hash
  * as different documents). Java's Normalizer and DuckDB's utf8proc
  * both implement UAX #15 canonical composition, so the oracle twin
  * (`nfc_normalize`) reproduces the output byte for byte; the ASCII
  * corpus passes through untouched and the specs carry the real
  * multi-form fixtures. Interning check: already-NFC input returns the
  * original UTF8String, no allocation. */
object NfcKernel {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
