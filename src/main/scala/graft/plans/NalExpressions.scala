package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** H.264 structural NAL-unit parsing (SURVEY §2 G17/G18) — the
  * library-free close of the G2 frame-typing gap: the reference hands
  * SimpleBlock payloads to libav and reads frame types back
  * (parser.py:437-442, `packet.decode()` → keyframe-bearing frames);
  * this module parses the same Annex-B / AVCC elementary-stream
  * structure directly from the public ITU-T H.264 spec (§7.3/7.4 and
  * Annex B), no codec library:
  *
  *   - byte-stream scan: Annex-B start-code walk (00 00 01 with any
  *     number of leading zeros, B.1.2) or AVCC 4-byte length-prefix
  *     walk (the ISO 14496-15 sample layout), auto-detected;
  *   - per-NAL header split: forbidden_zero_bit / nal_ref_idc /
  *     nal_unit_type (§7.3.1) and emulation-prevention-byte removal
  *     (§7.4.1.1: 00 00 03 → 00 00) to recover the RBSP;
  *   - SPS parse via Exp-Golomb (§9.1) for profile_idc / level_idc and
  *     the cropped frame dimensions (§7.4.2.1.1 equations 7-13..7-22).
  *
  * The synthetic elementary stream rendered per event ([[NalKernels
  * .h264Encode]]) derives every field arithmetically from (event_id,
  * user_id), so the DuckDB oracle recomputes the census and the SPS
  * dimensions from the raw columns — the mm_features_bmp
  * ramp-arithmetic pattern — pinning encoder ∘ EBML transport ∘ block
  * walk ∘ start-code scan ∘ EP strip ∘ Exp-Golomb decode in one hash
  * gate. Every slice payload carries a fixed pre-EP trailer containing
  * both 00 00 01 and 00 00 03, so emulation prevention is exercised on
  * EVERY row in BOTH directions: an encoder that forgets the escape
  * fakes a start code (census n_nals breaks), a decoder that forgets
  * the strip inflates rbsp_len (census byte totals break).
  *
  * All stages are per-row codegen kernels (H4 pattern): interpreted
  * eval and generated code call the same statics — no UDF boxing, scan
  * speed at 100 TB. */
object NalKernels {

  // ---- emulation prevention (§7.4.1.1) --------------------------------

  /** Escape a raw RBSP into the on-wire EBSP: insert 0x03 after any
    * 00 00 pair followed by a byte ≤ 0x03. */
  def epEscape(rbsp: Array[Byte], from: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    var i = from
    while (i < rbsp.length) {
      val b = rbsp(i) & 0xff
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** RBSP length of an EBSP range after emulation-prevention removal —
    * the count-only twin of [[epStrip]]: a 0x03 directly after 00 00 is
    * dropped (the standard conservative decode — any 00 00 03 loses
    * the 03), nothing is materialized. */
  def epStripLen(ebsp: Array[Byte], from: Int, until: Int): Int = {
    var zeros = 0
    var n = 0
    var i = from
    while (i < until) {
      val b = ebsp(i) & 0xff
      if (b == 3 && zeros >= 2) zeros = 0 // EP byte: dropped
      else {
        n += 1
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    n
  }

  def epStrip(ebsp: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = ebsp(i) & 0xff
      if (b == 3 && zeros >= 2) zeros = 0
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  // ---- Exp-Golomb bit I/O (§9.1) ---------------------------------------

  /** Append-only MSB-first bit writer for RBSP assembly. */
  final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream(32)
    private var cur = 0
    private var nBits = 0
    def u(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1)
        nBits += 1
        if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
        i -= 1
      }
    }
    def ue(v: Int): Unit = {
      val codeNum = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(codeNum)
      u(0, len - 1)
      u(codeNum, len)
    }
    /** rbsp_trailing_bits: stop bit then zero-pad to a byte boundary. */
    def stop(): Unit = {
      u(1, 1)
      if (nBits != 0) u(0, 8 - nBits)
    }
    def toBytes: Array[Byte] = buf.toByteArray
  }

  /** MSB-first bit reader over a stripped RBSP; throws
    * IndexOutOfBoundsException past the end (callers null out). */
  final class BitReader(bytes: Array[Byte]) {
    private var pos = 0
    def u(bits: Int): Int = {
      var v = 0
      var i = 0
      while (i < bits) {
        val byteIx = pos >>> 3
        if (byteIx >= bytes.length) throw new IndexOutOfBoundsException
        v = (v << 1) | ((bytes(byteIx) >>> (7 - (pos & 7))) & 1)
        pos += 1
        i += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) {
        zeros += 1
        // cap at 30: 31 leading zeros makes (1 << 31) - 1 wrap the Int
        // and an adversarial SPS would parse to garbage instead of the
        // family's null; every real ue(v) field here is far smaller
        if (zeros > 30) throw new IndexOutOfBoundsException
      }
      (1 << zeros) - 1 + (if (zeros == 0) 0 else u(zeros))
    }
    def se(): Int = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
  }

  // ---- synthetic elementary-stream encoder -----------------------------

  /** Fixed pre-EP slice trailer: contains both 00 00 01 (a fake start
    * code) and 00 00 03 (an EP-ambiguous tail), so every slice forces
    * emulation prevention on encode and strip on decode. Shared with
    * the HEVC twin ([[HevcKernels]]) — same adversarial bytes. */
  private[plans] val SliceTrailer =
    Array[Byte](0x00, 0x00, 0x01, 0x00, 0x00, 0x03)

  /** RBSP length (header byte + EP-stripped payload) of every slice
    * NAL this encoder emits: 1 + 8 random + SliceTrailer.length. */
  val SliceRbspLen: Int = 1 + 8 + SliceTrailer.length

  /** Render one event's synthetic H.264 elementary stream. Every field
    * is an arithmetic function of (event_id, user_id) — the oracle
    * replays them in SQL:
    *   format        = even event_id → Annex-B, odd → AVCC
    *   profile_idc   = 66 + 11·(user_id % 2)        (Baseline / Main)
    *   level_idc     = 10·(1 + event_id % 4)
    *   width  (mbs)  = 4 + user_id % 4, crop_right  = event_id % 2
    *   height (mbs)  = 4 + event_id % 4, crop_bottom = user_id % 2
    *   slices        = 1 + event_id % 3, all IDR iff event_id % 4 == 0
    * NALs: SPS, PPS, then the slices; slice payloads are 8
    * mix64-derived bytes plus the EP-forcing trailer. */
  def h264Encode(eventId: Long, userId: Long): Array[Byte] =
    assemble(eventId,
      spsNal(eventId, userId) +: ppsNal() +: sliceNals(eventId))

  /** Slices-only elementary stream — the shape a real AVCC track ships
    * when SPS/PPS travel out-of-band in the container's CodecPrivate
    * (ISO 14496-15; MKV Tracks → CodecPrivate carries the avcC blob,
    * ebml.py:47-48): NO type-7/8 NAL in-band. Same container rule and
    * slice bytes as [[h264Encode]]. */
  def h264EncodeSlices(eventId: Long, userId: Long): Array[Byte] =
    assemble(eventId, sliceNals(eventId))

  /** The on-wire SPS NAL (header 0x67 + EP-escaped RBSP) for the
    * generator's (event_id, user_id) cell — §7.3.2.1.1, profiles 66/77
    * carry no chroma/bit-depth block. Shared by the in-band encoder and
    * the avcC CodecPrivate builder ([[CodecPrivateKernels]]). */
  private[plans] def spsNal(eventId: Long, userId: Long): Array[Byte] = {
    val profile = (66 + 11 * (userId % 2)).toInt
    val level = (10 * (1 + eventId % 4)).toInt
    val wMbs = (4 + userId % 4).toInt
    val hMbs = (4 + eventId % 4).toInt
    val cropR = (eventId % 2).toInt
    val cropB = (userId % 2).toInt
    val w = new BitWriter
    w.u(profile, 8)
    w.u(0, 8)      // constraint_set flags + reserved_zero_2bits
    w.u(level, 8)
    w.ue(0)        // seq_parameter_set_id
    w.ue(0)        // log2_max_frame_num_minus4
    w.ue(2)        // pic_order_cnt_type (2: no further POC fields)
    w.ue(1)        // max_num_ref_frames
    w.u(0, 1)      // gaps_in_frame_num_value_allowed_flag
    w.ue(wMbs - 1) // pic_width_in_mbs_minus1
    w.ue(hMbs - 1) // pic_height_in_map_units_minus1
    w.u(1, 1)      // frame_mbs_only_flag
    w.u(1, 1)      // direct_8x8_inference_flag
    w.u(1, 1)      // frame_cropping_flag
    w.ue(0)        // frame_crop_left_offset
    w.ue(cropR)    // frame_crop_right_offset
    w.ue(0)        // frame_crop_top_offset
    w.ue(cropB)    // frame_crop_bottom_offset
    w.u(0, 1)      // vui_parameters_present_flag
    w.stop()
    nal(0x67, w.toBytes) // ref_idc 3, type 7
  }

  /** The on-wire PPS NAL — §7.3.2.2, minimal CAVLC single-slice-group
    * form; constant across the generator's cells. */
  private[plans] def ppsNal(): Array[Byte] = {
    val w = new BitWriter
    w.ue(0)        // pic_parameter_set_id
    w.ue(0)        // seq_parameter_set_id
    w.u(0, 1)      // entropy_coding_mode_flag (CAVLC)
    w.u(0, 1)      // bottom_field_pic_order_in_frame_present_flag
    w.ue(0)        // num_slice_groups_minus1
    w.ue(0)        // num_ref_idx_l0_default_active_minus1
    w.ue(0)        // num_ref_idx_l1_default_active_minus1
    w.u(0, 1)      // weighted_pred_flag
    w.u(0, 2)      // weighted_bipred_idc
    w.ue(0)        // pic_init_qp_minus26 (se(0) == ue(0) bits)
    w.ue(0)        // pic_init_qs_minus26
    w.ue(0)        // chroma_qp_index_offset
    w.u(0, 3)      // deblocking/constrained-intra/redundant-pic flags
    w.stop()
    nal(0x68, w.toBytes) // ref_idc 3, type 8
  }

  private[plans] def sliceNals(eventId: Long): Seq[Array[Byte]] = {
    val nSlices = (1 + eventId % 3).toInt
    val idr = eventId % 4 == 0
    (0 until nSlices).map { i =>
      val payload = new Array[Byte](8 + SliceTrailer.length)
      val r = graft.functions.Hashing.mix64(eventId * 131L + i)
      var j = 0
      while (j < 8) { payload(j) = ((r >>> (8 * j)) & 0xff).toByte; j += 1 }
      System.arraycopy(SliceTrailer, 0, payload, 8, SliceTrailer.length)
      nal(if (idr) 0x65 else 0x41, payload) // type 5 ref 3 / type 1 ref 2
    }
  }

  private[plans] def assemble(eventId: Long,
      nals: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    if (eventId % 2 == 0) {
      // Annex-B: 4-byte start code before the first NAL (the common
      // stream-head form), 3-byte before every following NAL
      nals.zipWithIndex.foreach { case (n, i) =>
        if (i == 0) out.write(0)
        out.write(0); out.write(0); out.write(1)
        out.write(n, 0, n.length)
      }
    } else {
      // AVCC: 4-byte big-endian NAL length prefixes
      nals.foreach { n =>
        out.write((n.length >>> 24) & 0xff); out.write((n.length >>> 16) & 0xff)
        out.write((n.length >>> 8) & 0xff); out.write(n.length & 0xff)
        out.write(n, 0, n.length)
      }
    }
    out.toByteArray
  }

  /** One on-wire NAL: header byte + EP-escaped payload. Shared with
    * the GOP-census generator ([[GopKernels]]). */
  private[plans] def nal(header: Int, rbspPayload: Array[Byte]): Array[Byte] = {
    val esc = epEscape(rbspPayload, 0)
    val out = new Array[Byte](1 + esc.length)
    out(0) = header.toByte
    System.arraycopy(esc, 0, out, 1, esc.length)
    out
  }

  // ---- decoders ---------------------------------------------------------

  /** (start, end) byte ranges of each NAL in the buffer, or null when
    * the buffer is not a parseable Annex-B / length-prefixed stream.
    * Codec-agnostic (the scan layer is identical for H.264 AVCC and
    * H.265 hvcC) — shared with [[HevcKernels]]. */
  private[plans] def nalRanges(bytes: Array[Byte]): Array[(Int, Int)] = {
    if (bytes == null || bytes.length < 5) return null
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Int)](8)
    if (isAnnexB(bytes)) {
      // start-code scan (B.1.2): any run of ≥2 zeros followed by 01
      // opens a NAL; trailing zeros before the next start code are
      // trailing_zero_8bits, not payload
      var i = 0
      var nalStart = -1
      while (i + 2 < bytes.length) {
        if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
          if (nalStart >= 0) {
            val e = trimZeros(bytes, nalStart, i)
            // two adjacent start codes bound an EMPTY NAL — malformed,
            // the family's null, never a header read on a garbage byte
            if (e <= nalStart) return null
            out += ((nalStart, e))
          }
          nalStart = i + 3
          i += 3
        } else i += 1
      }
      if (nalStart < 0) return null
      val e = trimZeros(bytes, nalStart, bytes.length)
      // a buffer ENDING with a start code leaves an empty trailing range
      // (nalStart == bytes.length) — null, not an out-of-bounds read in
      // nalUnits/nalStats/spsDims
      if (e <= nalStart) return null
      out += ((nalStart, e))
    } else return lengthPrefixedRanges(bytes, 4)
    out.toArray
  }

  /** Length-prefixed range walk with an EXPLICIT prefix width — the
    * ISO 14496-15 lengthSizeMinusOne generalization of [[nalRanges]]'s
    * 4-byte branch (avcC/hvcC tracks may legally use 1/2/4-byte
    * prefixes; the auto-detecting walk assumes 4). Null on malformed
    * streams or an out-of-spec width. */
  private[plans] def lengthPrefixedRanges(
      bytes: Array[Byte], lenSize: Int): Array[(Int, Int)] = {
    if (bytes == null || lenSize < 1 || lenSize > 4 ||
        bytes.length < lenSize + 1) return null
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Int)](8)
    var i = 0
    while (i < bytes.length) {
      if (i + lenSize > bytes.length) return null
      var len = 0
      var j = 0
      while (j < lenSize) { len = (len << 8) | (bytes(i + j) & 0xff); j += 1 }
      if (len <= 0 || i + lenSize + len > bytes.length) return null
      out += ((i + lenSize, i + lenSize + len))
      i += lenSize + len
    }
    if (out.isEmpty) null else out.toArray
  }

  private def trimZeros(bytes: Array[Byte], start: Int, end: Int): Int = {
    var e = end
    while (e > start && bytes(e - 1) == 0) e -= 1
    e
  }

  def isAnnexB(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 &&
      ((bytes(0) == 0 && bytes(1) == 0 && bytes(2) == 1) ||
        (bytes(0) == 0 && bytes(1) == 0 && bytes(2) == 0 && bytes(3) == 1))

  /** `graft_nal_format`: 'annexb' | 'avcc' | null. */
  def nalFormat(bytes: Array[Byte]): UTF8String = {
    if (nalRanges(bytes) == null) return null
    UTF8String.fromString(if (isAnnexB(bytes)) "annexb" else "avcc")
  }

  /** `graft_nal_units`: array<struct(nal_type, ref_idc, rbsp_len)> in
    * stream order; rbsp_len counts the header byte plus the EP-stripped
    * payload. Null for an unparseable buffer (the family's contract). */
  def nalUnits(bytes: Array[Byte]): GenericArrayData = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    val rows = new Array[Any](ranges.length)
    var i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      val h = bytes(s) & 0xff
      if ((h & 0x80) != 0) return null // forbidden_zero_bit
      rows(i) = InternalRow(
        (h & 0x1f).toLong, ((h >>> 5) & 3).toLong,
        (1 + epStripLen(bytes, s + 1, e)).toLong)
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** `graft_nal_stats`: the census fused into one walk — (format,
    * n_nals, n_idr, slice_rbsp_bytes) without materializing the per-NAL
    * array. The HOF form (size/filter/aggregate over [[nalUnits]])
    * evaluates its lambdas interpreted per element (measured +0.8 s
    * over the suite at sf0.1), and a separate `graft_nal_format` call
    * re-ran the whole range walk just to answer annexb/avcc — both
    * collapse into this single kernel pass. */
  def nalStats(bytes: Array[Byte]): InternalRow = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    var idr = 0L
    var sliceBytes = 0L
    var i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      val h = bytes(s) & 0xff
      if ((h & 0x80) != 0) return null // forbidden_zero_bit
      val tpe = h & 0x1f
      if (tpe == 5) idr += 1
      if (tpe == 1 || tpe == 5)
        sliceBytes += 1 + epStripLen(bytes, s + 1, e)
      i += 1
    }
    InternalRow(
      UTF8String.fromString(if (isAnnexB(bytes)) "annexb" else "avcc"),
      ranges.length.toLong, idr, sliceBytes)
  }

  /** `graft_sps_dims`: parse the FIRST SPS (type 7) into
    * struct(profile_idc, level_idc, width, height) per §7.4.2.1.1 —
    * Exp-Golomb fields, optional high-profile chroma block, POC type
    * branches, crop-unit arithmetic (eqs 7-13..7-22). Null when no SPS
    * parses (including scaling-matrix SPSes, which need tables this
    * structural parser doesn't carry). */
  def spsDims(bytes: Array[Byte]): InternalRow = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    var i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      if (((bytes(s) & 0xff) & 0x1f) == 7)
        return try parseSps(epStrip(bytes, s + 1, e))
        catch { case _: IndexOutOfBoundsException => null }
      i += 1
    }
    null
  }

  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** Shared with the avcC CodecPrivate path ([[CodecPrivateKernels]]):
    * out-of-band parameter sets parse through the SAME reader. */
  private[plans] def parseSps(rbsp: Array[Byte]): InternalRow = {
    val r = new BitReader(rbsp)
    val profile = r.u(8)
    r.u(8) // constraint flags + reserved
    val level = r.u(8)
    r.ue() // seq_parameter_set_id
    var chromaFormatIdc = 1 // inferred 4:2:0 for non-high profiles
    if (HighProfiles.contains(profile)) {
      chromaFormatIdc = r.ue()
      if (chromaFormatIdc == 3) r.u(1) // separate_colour_plane_flag
      r.ue(); r.ue() // bit_depth_luma/chroma_minus8
      r.u(1)         // qpprime_y_zero_transform_bypass_flag
      if (r.u(1) == 1) return null // seq_scaling_matrix: out of scope
    }
    r.ue() // log2_max_frame_num_minus4
    r.ue() match {
      case 0 => r.ue() // log2_max_pic_order_cnt_lsb_minus4
      case 1 =>
        r.u(1); r.se(); r.se()
        val n = r.ue()
        var j = 0
        while (j < n) { r.se(); j += 1 }
      case _ => ()
    }
    r.ue() // max_num_ref_frames
    r.u(1) // gaps_in_frame_num_value_allowed_flag
    val pw = r.ue()
    val ph = r.ue()
    val frameMbsOnly = r.u(1)
    if (frameMbsOnly == 0) r.u(1) // mb_adaptive_frame_field_flag
    r.u(1) // direct_8x8_inference_flag
    var cl = 0; var cr = 0; var ct = 0; var cb = 0
    if (r.u(1) == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    // crop units (7-19..7-22); SubWidthC/SubHeightC from Table 6-1
    val (cux, cuy) =
      if (chromaFormatIdc == 0) (1, 2 - frameMbsOnly)
      else {
        val swc = if (chromaFormatIdc == 3) 1 else 2
        val shc = if (chromaFormatIdc == 1) 2 else 1
        (swc, shc * (2 - frameMbsOnly))
      }
    // adversarial-value guard: a syntactically-valid SPS can still carry
    // absurd sizes whose *16 arithmetic would wrap Int — return the
    // family's null, never garbage dimensions (H.264 level limits cap
    // real streams orders of magnitude below 2^20 map units)
    if (pw < 0 || ph < 0 || pw > (1 << 20) || ph > (1 << 20)) return null
    val width = (pw + 1L) * 16L - cux * (cl.toLong + cr)
    val height = (2L - frameMbsOnly) * (ph + 1L) * 16L - cuy * (ct.toLong + cb)
    if (width <= 0L || height <= 0L) return null
    InternalRow(profile.toLong, level.toLong, width, height)
  }
}

object NalUnits {
  val unitArrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("nal_type", LongType), StructField("ref_idc", LongType),
    StructField("rbsp_len", LongType))), containsNull = false)
}

object NalStats {
  val statsType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("n_nals", LongType), StructField("n_idr", LongType),
    StructField("slice_rbsp_bytes", LongType)))
}

object SpsDims {
  val dimsType: StructType = StructType(Seq(
    StructField("profile_idc", LongType), StructField("level_idc", LongType),
    StructField("width", LongType), StructField("height", LongType)))
}
