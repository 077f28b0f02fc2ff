package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.functions.Hashing

/** A pure-JVM toy codec for the AUDIO modality (SURVEY §2 G8) — the
  * second real binary format behind the [[graft.operators.FrameDecoder]]
  * seam, the audio twin of [[ImageKernels]]. Container: RIFF/WAVE with
  * 16-bit little-endian PCM, the simplest real audio file format. The
  * encoder renders one 64-sample mono frame at 8 kHz from a
  * deterministic splitmix64 sample stream (so the DuckDB oracle replays
  * every sample arithmetically); the decoder is a GENERIC RIFF chunk
  * walker — it does not assume the canonical 44-byte layout, but walks
  * the chunk list (ids, sizes, odd-size padding) to find `fmt ` and
  * `data`, then computes exact integer signal statistics:
  * peak amplitude, sum of |s|, zero crossings, and a 64-bit envelope
  * signature (bit i = |s(i+1)| > |s(i)|, the audio analogue of dHash).
  *
  * The role mirrors the reference's packet.decode() step
  * (SergiyStoyan/AwsKinesisConsumer parser.py:437-442) for audio tracks
  * (ebml.py's Audio master element, id 0xe1): opaque frame bytes in,
  * typed per-frame features out, per-row, no shuffle. Both stages are
  * codegen kernels (H4 pattern): interpreted eval and generated code
  * call the same statics, no UDF boxing.
  */
object AudioKernels {

  val SampleRate = 8000
  val NumSamples = 64
  val HeaderBytes = 44
  val DataBytes: Int = NumSamples * 2

  /** Sample i of frame `seed`: the low 16 bits of mix64(seed*64 + i)
    * shifted to int16 range. Silent frames take only the low 8 bits
    * (amplitude <= 128 — a planted "no speech" population for the VAD
    * gate; voiced frames span the full 16-bit range, expected mean |s|
    * ~16384, so the two populations are separated by ~2000x). */
  def pcmSample(seed: Long, i: Int, silent: Boolean): Int = {
    val d = Hashing.mix64(seed * NumSamples + i)
    if (silent) (d & 0xffL).toInt - 128
    else (d & 0xffffL).toInt - 32768
  }

  /** Canonical 44-byte-header RIFF/WAVE file with one 64-sample PCM16
    * mono frame derived from `seed` (silent => low-amplitude stream). */
  def wavEncode(seed: Long, silent: Boolean): Array[Byte] = {
    val buf = new Array[Byte](HeaderBytes + DataBytes)
    def le32(off: Int, v: Int): Unit = {
      buf(off) = (v & 0xff).toByte
      buf(off + 1) = ((v >>> 8) & 0xff).toByte
      buf(off + 2) = ((v >>> 16) & 0xff).toByte
      buf(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      buf(off) = (v & 0xff).toByte
      buf(off + 1) = ((v >>> 8) & 0xff).toByte
    }
    def tag(off: Int, s: String): Unit =
      for (j <- 0 until 4) buf(off + j) = s.charAt(j).toByte
    tag(0, "RIFF"); le32(4, 36 + DataBytes); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16)
    le16(20, 1)            // PCM
    le16(22, 1)            // mono
    le32(24, SampleRate)
    le32(28, SampleRate * 2) // byte rate
    le16(32, 2)            // block align
    le16(34, 16)           // bits per sample
    tag(36, "data"); le32(40, DataBytes)
    var i = 0
    while (i < NumSamples) {
      le16(HeaderBytes + 2 * i, pcmSample(seed, i, silent) & 0xffff)
      i += 1
    }
    buf
  }

  /** Generic PCM16-mono-WAV feature extraction:
    * (sample_rate, n_samples, peak, sum_abs, zero_crossings, env_sig).
    * Walks the RIFF chunk list (any chunk order, unknown chunks skipped,
    * odd sizes padded per spec); null for anything that is not a
    * well-formed PCM16 mono WAVE. zero_crossings counts sign(s>=0)
    * changes between consecutive samples; env_sig bit i (i < 64, needs
    * n_samples >= i+2) is set iff |s(i+1)| > |s(i)|. */
  def wavFeatures(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 12) return null
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def tagIs(off: Int, s: String): Boolean =
      bytes(off) == s.charAt(0).toByte && bytes(off + 1) == s.charAt(1).toByte &&
        bytes(off + 2) == s.charAt(2).toByte && bytes(off + 3) == s.charAt(3).toByte
    if (!tagIs(0, "RIFF") || !tagIs(8, "WAVE")) return null
    var off = 12
    var fmtOk = false
    var sampleRate = 0
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= bytes.length) {
      val sz = le32(off + 4)
      if (sz < 0 || off + 8 + sz.toLong > bytes.length) return null
      if (tagIs(off, "fmt ") && sz >= 16) {
        val audioFormat = le16(off + 8)
        val channels = le16(off + 10)
        sampleRate = le32(off + 12)
        val bps = le16(off + 22)
        fmtOk = audioFormat == 1 && channels == 1 && bps == 16 && sampleRate > 0
      } else if (tagIs(off, "data")) {
        dataOff = off + 8; dataLen = sz
      }
      off += 8 + sz + (sz & 1) // RIFF pads odd-sized chunks
    }
    if (!fmtOk || dataOff < 0 || dataLen < 2 || (dataLen & 1) != 0) return null
    val n = dataLen / 2
    var peak = 0L
    var sumAbs = 0L
    var zc = 0L
    var sig = 0L
    var prev = 0
    var prevAbs = 0L
    var i = 0
    while (i < n) {
      val s = le16(dataOff + 2 * i).toShort.toInt
      val a = math.abs(s.toLong)
      if (a > peak) peak = a
      sumAbs += a
      if (i > 0) {
        if ((s >= 0) != (prev >= 0)) zc += 1
        if (i - 1 < 64 && a > prevAbs) sig |= 1L << (i - 1)
      }
      prev = s
      prevAbs = a
      i += 1
    }
    InternalRow(sampleRate.toLong, n.toLong, peak, sumAbs, zc, sig)
  }

  /** G16 — GAIN augmentation: every sample scaled by gainMilli/1000 in
    * exact integer arithmetic — TRUNCATING division (JVM `/`, round
    * toward zero), which is both the native semantics a real DSP gain
    * compiles to and what DuckDB's `//` does on NEGATIVE operands
    * (measured: -1250//1000 = -1, not floor's -2 — floorDiv here would
    * drift one LSB off the oracle on every inexact negative sample) —
    * and clamped to int16 (the clipping a real gain stage applies).
    * Walks the chunk list like
    * [[wavFeatures]] (any chunk order) and re-emits the CANONICAL
    * 44-byte-header mono file at the source's sample rate; null for
    * anything that is not a well-formed PCM16 mono WAVE or a
    * non-positive gain — the family's decode-null contract. */
  def wavGain(bytes: Array[Byte], gainMilli: Int): Array[Byte] = {
    if (gainMilli <= 0 || bytes == null || bytes.length < 12) return null
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def tagIs(off: Int, s: String): Boolean =
      bytes(off) == s.charAt(0).toByte && bytes(off + 1) == s.charAt(1).toByte &&
        bytes(off + 2) == s.charAt(2).toByte && bytes(off + 3) == s.charAt(3).toByte
    if (!tagIs(0, "RIFF") || !tagIs(8, "WAVE")) return null
    var off = 12
    var fmtOk = false
    var sampleRate = 0
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= bytes.length) {
      val sz = le32(off + 4)
      if (sz < 0 || off + 8 + sz.toLong > bytes.length) return null
      if (tagIs(off, "fmt ") && sz >= 16) {
        val audioFormat = le16(off + 8)
        val channels = le16(off + 10)
        sampleRate = le32(off + 12)
        val bps = le16(off + 22)
        fmtOk = audioFormat == 1 && channels == 1 && bps == 16 && sampleRate > 0
      } else if (tagIs(off, "data")) {
        dataOff = off + 8; dataLen = sz
      }
      off += 8 + sz + (sz & 1)
    }
    if (!fmtOk || dataOff < 0 || dataLen < 2 || (dataLen & 1) != 0) return null
    val n = dataLen / 2
    val out = new Array[Byte](HeaderBytes + dataLen)
    def ple32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte
      out(o + 1) = ((v >>> 8) & 0xff).toByte
      out(o + 2) = ((v >>> 16) & 0xff).toByte
      out(o + 3) = ((v >>> 24) & 0xff).toByte
    }
    def ple16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte
      out(o + 1) = ((v >>> 8) & 0xff).toByte
    }
    def ptag(o: Int, s: String): Unit =
      for (j <- 0 until 4) out(o + j) = s.charAt(j).toByte
    ptag(0, "RIFF"); ple32(4, 36 + dataLen); ptag(8, "WAVE")
    ptag(12, "fmt "); ple32(16, 16)
    ple16(20, 1); ple16(22, 1)
    ple32(24, sampleRate); ple32(28, sampleRate * 2)
    ple16(32, 2); ple16(34, 16)
    ptag(36, "data"); ple32(40, dataLen)
    var i = 0
    while (i < n) {
      val s = le16(dataOff + 2 * i).toShort.toLong
      val g = s * gainMilli / 1000L
      val c = if (g > 32767L) 32767L else if (g < -32768L) -32768L else g
      ple16(HeaderBytes + 2 * i, c.toInt & 0xffff)
      i += 1
    }
    out
  }
}

object WavFeatures {
  val featureType: StructType = StructType(Seq(
    StructField("sample_rate", LongType), StructField("n_samples", LongType),
    StructField("peak", LongType), StructField("sum_abs", LongType),
    StructField("zero_crossings", LongType), StructField("env_sig", LongType)))
}
