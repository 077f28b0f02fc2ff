package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** H.265/HEVC structural NAL-unit parsing (SURVEY §2 G19/G20) — the
  * second codec Kinesis Video Streams serves over the same GetMedia/MKV
  * path the reference consumes (MKV CodecID `V_MPEGH/ISO/HEVC`; the
  * reference's libav hand-off in parser.py:404-450 is codec-agnostic),
  * parsed from the public ITU-T H.265 spec with zero codec library:
  *
  *   - the byte-stream scan layer is IDENTICAL to H.264
  *     ([[NalKernels.nalRanges]] is reused verbatim): Annex-B start
  *     codes (B.2.2) or 4-byte length prefixes (the ISO 14496-15 hvcC
  *     sample layout);
  *   - the NAL header is TWO bytes (§7.3.1.2): forbidden_zero_bit /
  *     nal_unit_type u(6) / nuh_layer_id u(6) /
  *     nuh_temporal_id_plus1 u(3), with VCL types 0..31 and the IRAP
  *     range 16..23 (BLA/IDR/CRA) replacing H.264's single IDR-5;
  *   - emulation prevention is byte-identical to H.264 (§7.4.2:
  *     00 00 03 → 00 00) — [[NalKernels.epStrip]]/epStripLen reused;
  *   - the SPS (type 33, §7.3.2.2.1) parses through the same
  *     Exp-Golomb reader ([[NalKernels.BitReader]]): the fixed 12-byte
  *     profile_tier_level block, then ue(v) chroma/width/height and the
  *     conformance-window offsets in chroma units (§7.4.3.2.1 D-28/29).
  *
  * Same oracle pattern as G17/G18: the synthetic stream derives every
  * field arithmetically from (event_id, user_id), every slice payload
  * carries the shared EP-forcing trailer (00 00 01 + 00 00 03 pre-EP),
  * and the DuckDB oracle recomputes census + dims from the raw columns,
  * pinning encoder ∘ EBML transport ∘ scan ∘ 2-byte header split ∘ EP
  * strip ∘ Exp-Golomb decode in one hash gate. All stages are per-row
  * codegen kernels (H4): interpreted eval and generated code call the
  * same statics — scan speed at 100 TB. */
object HevcKernels {
  import NalKernels.{BitReader, BitWriter, SliceTrailer, epEscape, epStrip,
    epStripLen, isAnnexB, nalRanges}

  /** RBSP length (2 header bytes + EP-stripped payload) of every slice
    * NAL this encoder emits: 2 + 8 random + SliceTrailer.length. */
  val SliceRbspLen: Int = 2 + 8 + SliceTrailer.length

  // NAL unit types (Table 7-1)
  final val TRAIL_R = 1
  final val IDR_W_RADL = 19
  final val VPS_NUT = 32
  final val SPS_NUT = 33
  final val PPS_NUT = 34

  /** Render one event's synthetic HEVC elementary stream. Every field
    * is an arithmetic function of (event_id, user_id) — the oracle
    * replays them in SQL:
    *   format          = even event_id → Annex-B, odd → hvcC lengths
    *   profile_idc     = 1 + user_id % 2                (Main / Main 10)
    *   level_idc       = 60 + 30·(event_id % 4)         (2.0 .. 5.0)
    *   pic_width       = 8·(8 + user_id % 4), conf_win_right = event_id % 2
    *   pic_height      = 8·(8 + event_id % 4), conf_win_bottom = user_id % 2
    *   slices          = 1 + event_id % 3, IRAP (IDR_W_RADL) iff
    *                     event_id % 4 == 0, TRAIL_R otherwise
    * NALs: VPS, SPS, PPS, then the slices; slice payloads are 8
    * mix64-derived bytes plus the shared EP-forcing trailer. */
  def hevcEncode(eventId: Long, userId: Long): Array[Byte] =
    assembleHevc(eventId,
      vpsNal(eventId, userId) +: spsNal(eventId, userId) +:
        ppsNal() +: sliceNals(eventId))

  /** Slices-only HEVC stream — the hvcC-track shape: parameter sets
    * travel out-of-band in CodecPrivate, nothing but VCL NALs in-band
    * (the G21 fixture rule applied to H.265). */
  def hevcEncodeSlices(eventId: Long, userId: Long): Array[Byte] =
    assembleHevc(eventId, sliceNals(eventId))

  /** profile_tier_level, fixed 12 bytes for max_sub_layers_minus1=0
    * (§7.3.3): space/tier/profile_idc, the 32 compatibility flags
    * (own bit set), 4 source/constraint flags, 44 reserved bits,
    * general_level_idc. */
  private def ptl(w: BitWriter, profile: Int, level: Int): Unit = {
    w.u(0, 2)                     // general_profile_space
    w.u(0, 1)                     // general_tier_flag
    w.u(profile, 5)               // general_profile_idc
    w.u(1 << (31 - profile), 32)  // compatibility flags: own bit
    w.u(1, 1); w.u(0, 1)          // progressive / interlaced source
    w.u(0, 1); w.u(1, 1)          // non_packed / frame_only constraint
    w.u(0, 32); w.u(0, 12)        // reserved_zero_43bits + zero bit
    w.u(level, 8)                 // general_level_idc
  }

  /** VPS (§7.3.2.1) — the census never opens it, but keep it
    * syntactically real: ids/layer bounds, the same PTL, no timing. */
  private[plans] def vpsNal(eventId: Long, userId: Long): Array[Byte] = {
    val w = new BitWriter
    w.u(0, 4)        // vps_video_parameter_set_id
    w.u(3, 2)        // vps_base_layer_internal/available (reserved 11)
    w.u(0, 6)        // vps_max_layers_minus1
    w.u(0, 3)        // vps_max_sub_layers_minus1
    w.u(1, 1)        // vps_temporal_id_nesting_flag
    w.u(0xffff, 16)  // vps_reserved_0xffff_16bits
    ptl(w, (1 + userId % 2).toInt, (60 + 30 * (eventId % 4)).toInt)
    w.u(0, 1)        // vps_sub_layer_ordering_info_present_flag
    w.ue(1)          // vps_max_dec_pic_buffering_minus1[0]
    w.ue(0)          // vps_max_num_reorder_pics[0]
    w.ue(0)          // vps_max_latency_increase_plus1[0]
    w.u(0, 6)        // vps_max_layer_id
    w.ue(0)          // vps_num_layer_sets_minus1
    w.u(0, 1)        // vps_timing_info_present_flag
    w.u(0, 1)        // vps_extension_flag
    w.stop()
    nal(VPS_NUT, w.toBytes)
  }

  /** SPS (§7.3.2.2.1), complete through the extension flag. Shared by
    * the in-band encoder and the hvcC CodecPrivate builder. */
  private[plans] def spsNal(eventId: Long, userId: Long): Array[Byte] = {
    val profile = (1 + userId % 2).toInt
    val level = (60 + 30 * (eventId % 4)).toInt
    val picW = (8 * (8 + userId % 4)).toInt
    val picH = (8 * (8 + eventId % 4)).toInt
    val confR = (eventId % 2).toInt
    val confB = (userId % 2).toInt
    val bitDepthM8 = if (profile == 2) 2 else 0 // Main 10 carries 10-bit
    val w = new BitWriter
    w.u(0, 4)      // sps_video_parameter_set_id
    w.u(0, 3)      // sps_max_sub_layers_minus1
    w.u(1, 1)      // sps_temporal_id_nesting_flag
    ptl(w, profile, level)
    w.ue(0)        // sps_seq_parameter_set_id
    w.ue(1)        // chroma_format_idc (4:2:0)
    w.ue(picW)     // pic_width_in_luma_samples
    w.ue(picH)     // pic_height_in_luma_samples
    w.u(1, 1)      // conformance_window_flag
    w.ue(0)        // conf_win_left_offset
    w.ue(confR)    // conf_win_right_offset
    w.ue(0)        // conf_win_top_offset
    w.ue(confB)    // conf_win_bottom_offset
    w.ue(bitDepthM8) // bit_depth_luma_minus8
    w.ue(bitDepthM8) // bit_depth_chroma_minus8
    w.ue(4)        // log2_max_pic_order_cnt_lsb_minus4
    w.u(0, 1)      // sps_sub_layer_ordering_info_present_flag
    w.ue(1); w.ue(0); w.ue(0) // dec_pic_buffering/reorder/latency[0]
    w.ue(0)        // log2_min_luma_coding_block_size_minus3
    w.ue(3)        // log2_diff_max_min_luma_coding_block_size
    w.ue(0)        // log2_min_luma_transform_block_size_minus2
    w.ue(3)        // log2_diff_max_min_luma_transform_block_size
    w.ue(0); w.ue(0) // max_transform_hierarchy_depth inter/intra
    w.u(0, 1)      // scaling_list_enabled_flag
    w.u(1, 1)      // amp_enabled_flag
    w.u(1, 1)      // sample_adaptive_offset_enabled_flag
    w.u(0, 1)      // pcm_enabled_flag
    w.ue(0)        // num_short_term_ref_pic_sets
    w.u(0, 1)      // long_term_ref_pics_present_flag
    w.u(1, 1)      // sps_temporal_mvp_enabled_flag
    w.u(1, 1)      // strong_intra_smoothing_enabled_flag
    w.u(0, 1)      // vui_parameters_present_flag
    w.u(0, 1)      // sps_extension_present_flag
    w.stop()
    nal(SPS_NUT, w.toBytes)
  }

  /** PPS (§7.3.2.3.1), minimal single-tile CAVLC-free form. */
  private[plans] def ppsNal(): Array[Byte] = {
    val w = new BitWriter
    w.ue(0); w.ue(0) // pps_pic_parameter_set_id / sps id
    w.u(0, 1)      // dependent_slice_segments_enabled_flag
    w.u(0, 1)      // output_flag_present_flag
    w.u(0, 3)      // num_extra_slice_header_bits
    w.u(0, 1)      // sign_data_hiding_enabled_flag
    w.u(0, 1)      // cabac_init_present_flag
    w.ue(0); w.ue(0) // num_ref_idx_l0/l1_default_active_minus1
    w.ue(0)        // init_qp_minus26 (se(0) == ue(0) bits)
    w.u(0, 1)      // constrained_intra_pred_flag
    w.u(0, 1)      // transform_skip_enabled_flag
    w.u(0, 1)      // cu_qp_delta_enabled_flag
    w.ue(0); w.ue(0) // pps_cb/cr_qp_offset
    w.u(0, 1)      // pps_slice_chroma_qp_offsets_present_flag
    w.u(0, 1); w.u(0, 1) // weighted_pred / weighted_bipred
    w.u(0, 1)      // transquant_bypass_enabled_flag
    w.u(0, 1); w.u(0, 1) // tiles_enabled / entropy_coding_sync
    w.u(1, 1)      // pps_loop_filter_across_slices_enabled_flag
    w.u(0, 1)      // deblocking_filter_control_present_flag
    w.u(0, 1)      // pps_scaling_list_data_present_flag
    w.u(0, 1)      // lists_modification_present_flag
    w.ue(0)        // log2_parallel_merge_level_minus2
    w.u(0, 1)      // slice_segment_header_extension_present_flag
    w.u(0, 1)      // pps_extension_present_flag
    w.stop()
    nal(PPS_NUT, w.toBytes)
  }

  private[plans] def sliceNals(eventId: Long): Seq[Array[Byte]] = {
    val nSlices = (1 + eventId % 3).toInt
    val irap = eventId % 4 == 0
    val sliceType = if (irap) IDR_W_RADL else TRAIL_R
    (0 until nSlices).map { i =>
      val payload = new Array[Byte](8 + SliceTrailer.length)
      val r = graft.functions.Hashing.mix64(eventId * 137L + i)
      var j = 0
      while (j < 8) { payload(j) = ((r >>> (8 * j)) & 0xff).toByte; j += 1 }
      System.arraycopy(SliceTrailer, 0, payload, 8, SliceTrailer.length)
      nal(sliceType, payload)
    }
  }

  private[plans] def assembleHevc(eventId: Long,
      nals: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(320)
    if (eventId % 2 == 0) {
      // Annex-B: 4-byte start code at the stream head, 3-byte after
      nals.zipWithIndex.foreach { case (n, i) =>
        if (i == 0) out.write(0)
        out.write(0); out.write(0); out.write(1)
        out.write(n, 0, n.length)
      }
    } else {
      // hvcC sample layout: 4-byte big-endian NAL length prefixes
      nals.foreach { n =>
        out.write((n.length >>> 24) & 0xff); out.write((n.length >>> 16) & 0xff)
        out.write((n.length >>> 8) & 0xff); out.write(n.length & 0xff)
        out.write(n, 0, n.length)
      }
    }
    out.toByteArray
  }

  /** One on-wire NAL: the 2-byte header (§7.3.1.2 — type<<1 in byte 0,
    * nuh_layer_id 0, nuh_temporal_id_plus1 1 in byte 1) + EP-escaped
    * payload. */
  private[plans] def nal(nalType: Int, rbspPayload: Array[Byte]): Array[Byte] = {
    val esc = epEscape(rbspPayload, 0)
    val out = new Array[Byte](2 + esc.length)
    out(0) = ((nalType & 0x3f) << 1).toByte
    out(1) = 1.toByte
    System.arraycopy(esc, 0, out, 2, esc.length)
    out
  }

  /** `graft_hevc_stats`: the one-walk census —
    * struct(format, n_nals, n_irap, slice_rbsp_bytes); VCL = types
    * 0..31, IRAP = 16..23 (Table 7-1). Null when the buffer is not a
    * parseable stream, any NAL is shorter than its 2-byte header, the
    * forbidden bit is set, or nuh_temporal_id_plus1 is 0 (§7.4.2.2). */
  def hevcStats(bytes: Array[Byte]): InternalRow = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    var irap = 0L
    var sliceBytes = 0L
    var i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      if (e - s < 2) return null // a NAL must at least hold its header
      val b0 = bytes(s) & 0xff
      val b1 = bytes(s + 1) & 0xff
      if ((b0 & 0x80) != 0) return null // forbidden_zero_bit
      if ((b1 & 7) == 0) return null    // TemporalId + 1 is never 0
      val tpe = (b0 >>> 1) & 0x3f
      if (tpe >= 16 && tpe <= 23) irap += 1
      if (tpe <= 31) sliceBytes += 2 + epStripLen(bytes, s + 2, e)
      i += 1
    }
    InternalRow(
      UTF8String.fromString(if (isAnnexB(bytes)) "annexb" else "hvcc"),
      ranges.length.toLong, irap, sliceBytes)
  }

  /** `graft_hevc_sps`: parse the FIRST SPS (type 33) into
    * struct(profile_idc, level_idc, width, height) — the fixed
    * profile_tier_level block, then the ue(v) geometry with the
    * conformance window subtracted in chroma units (SubWidthC /
    * SubHeightC per chroma_format_idc, §7.4.3.2.1). Null when no SPS
    * parses. */
  def hevcSpsDims(bytes: Array[Byte]): InternalRow = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    var i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      if (e - s < 2) return null
      if (((bytes(s) & 0xff) >>> 1 & 0x3f) == SPS_NUT)
        return try parseSps(epStrip(bytes, s + 2, e))
        catch { case _: IndexOutOfBoundsException => null }
      i += 1
    }
    null
  }

  /** Shared with the hvcC CodecPrivate path ([[CodecPrivateKernels]]). */
  private[plans] def parseSps(rbsp: Array[Byte]): InternalRow = {
    val r = new BitReader(rbsp)
    r.u(4)                          // sps_video_parameter_set_id
    val maxSubLayersM1 = r.u(3)
    r.u(1)                          // sps_temporal_id_nesting_flag
    // profile_tier_level(1, maxSubLayersM1): 12 fixed bytes, then the
    // per-sub-layer presence flags + blocks (§7.3.3)
    r.u(2); r.u(1)                  // profile_space, tier_flag
    val profile = r.u(5)
    r.u(32)                         // compatibility flags
    r.u(4)                          // source/constraint flags
    r.u(32); r.u(12)                // reserved 43 bits + zero bit
    val level = r.u(8)
    if (maxSubLayersM1 > 0) {
      val profPresent = new Array[Boolean](maxSubLayersM1)
      val lvlPresent = new Array[Boolean](maxSubLayersM1)
      var j = 0
      while (j < maxSubLayersM1) {
        profPresent(j) = r.u(1) == 1; lvlPresent(j) = r.u(1) == 1; j += 1
      }
      if (maxSubLayersM1 < 8) r.u(2 * (8 - maxSubLayersM1)) // align
      j = 0
      while (j < maxSubLayersM1) {
        if (profPresent(j)) { r.u(32); r.u(32); r.u(24) } // 11 bytes
        if (lvlPresent(j)) r.u(8)
        j += 1
      }
    }
    r.ue()                          // sps_seq_parameter_set_id
    val chromaFormatIdc = r.ue()
    if (chromaFormatIdc == 3) r.u(1) // separate_colour_plane_flag
    val picW = r.ue()
    val picH = r.ue()
    var cl = 0; var cr = 0; var ct = 0; var cb = 0
    if (r.u(1) == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    // SubWidthC/SubHeightC (Table 6-1); offsets are in chroma units
    val swc = if (chromaFormatIdc == 1 || chromaFormatIdc == 2) 2 else 1
    val shc = if (chromaFormatIdc == 1) 2 else 1
    // the H.264 family's adversarial-value guard: null, never wrapped
    // garbage (level limits cap real streams far below 2^24 samples)
    if (picW <= 0 || picH <= 0 || picW > (1 << 24) || picH > (1 << 24))
      return null
    val width = picW.toLong - swc * (cl.toLong + cr)
    val height = picH.toLong - shc * (ct.toLong + cb)
    if (width <= 0L || height <= 0L) return null
    InternalRow(profile.toLong, level.toLong, width, height)
  }
}

object HevcStats {
  val statsType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("n_nals", LongType), StructField("n_irap", LongType),
    StructField("slice_rbsp_bytes", LongType)))
}
