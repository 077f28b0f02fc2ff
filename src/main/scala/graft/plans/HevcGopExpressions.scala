package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** H.265/HEVC GOP census via PPS + slice-segment-header parsing
  * (SURVEY §2 G25) — the HEVC sibling of [[GopKernels]], closing the
  * round-18 gap where the P/B/I stream-health layer covered only the
  * AVC half of a mixed fleet (the reference's libav hand-off returns
  * picture types for BOTH codecs, parser.py:437-442 is
  * codec-agnostic). Pure public ITU-T H.265 spec, no codec library:
  *
  *   - the PPS (§7.3.2.3.1) parses first — dependent-slice support,
  *     the extra-header-bit count, the output/cabac-init/weighted/
  *     lists-modification switches all gate slice-header fields;
  *   - the SPS (§7.3.2.2.1) contributes the POC lsb BIT WIDTH
  *     (log2_max_pic_order_cnt_lsb_minus4 + 4), the CTB-derived
  *     slice_segment_address width, the SAO/temporal-MVP/long-term
  *     switches, and the short-term RPS count;
  *   - each VCL NAL's slice segment header (§7.3.6.1) then yields
  *     first_slice_segment_in_pic_flag / slice_type (Table 7-7:
  *     0 = B, 1 = P, 2 = I) / slice_pic_order_cnt_lsb through the
  *     same Exp-Golomb reader, including the explicit st_ref_pic_set
  *     walk (§7.3.7) a slice carries when it does not index an SPS
  *     set.
  *
  * Configurations outside this structural subset (dependent slices,
  * inter-RPS prediction, long-term references, scaling lists, PCM,
  * tiles, list modification, weighted prediction) return the family's
  * null — never a misparse. The generator writes the SAME GOP ladder
  * as the H.264 fixture (frame 0 is I — IDR_W_RADL when
  * event_id % 4 == 0, else CRA — then a (i + user_id) % 3 P/B
  * cadence), so the DuckDB oracle replays the census in closed form
  * and the two codecs' ladders stay comparable in the unified
  * dispatch. */
object HevcGopKernels {
  import NalKernels.{BitReader, BitWriter, epStrip, nalRanges}
  import HevcKernels.{IDR_W_RADL, PPS_NUT, SPS_NUT, TRAIL_R, VPS_NUT}

  final val TRAIL_N = 0
  final val CRA_NUT = 21

  /** Per-event HEVC GOP fixture — the H.264 ladder re-expressed in
    * H.265 syntax: nFrames = 2 + event_id % 4 single-slice frames.
    * Frame 0 is the I anchor (IDR_W_RADL iff event_id % 4 == 0, else
    * CRA — the non-IDR random-access type H.264 cannot express);
    * frame i ≥ 1 is P (TRAIL_R) when (i + user_id) % 3 == 0, else B
    * (TRAIL_N, non-reference). slice_pic_order_cnt_lsb = i mod 256
    * (the SPS's 8-bit width); container rule as the family: even
    * event_id Annex-B, odd hvcC lengths. VPS/SPS/PPS are the shared
    * G19/G20 NALs. */
  def hevcGopEncode(eventId: Long, userId: Long): Array[Byte] = {
    val nFrames = (2 + eventId % 4).toInt
    val idrEvent = eventId % 4 == 0
    val slices = (0 until nFrames).map { i =>
      val isI = i == 0
      val isP = !isI && (i + userId) % 3 == 0
      val st = if (isI) 2 else if (isP) 1 else 0 // Table 7-7
      val tpe =
        if (isI) { if (idrEvent) IDR_W_RADL else CRA_NUT }
        else if (isP) TRAIL_R
        else TRAIL_N
      val w = new BitWriter
      w.u(1, 1)                  // first_slice_segment_in_pic_flag
      if (tpe >= 16 && tpe <= 23) w.u(0, 1) // no_output_of_prior_pics
      w.ue(0)                    // slice_pic_parameter_set_id
      w.ue(st)                   // slice_type
      if (tpe != IDR_W_RADL && tpe != 20) {
        w.u(i % 256, 8)          // slice_pic_order_cnt_lsb
        w.u(0, 1)                // short_term_ref_pic_set_sps_flag
        val nn = if (isI) 0 else 1
        w.ue(nn); w.ue(0)        // num_negative/positive_pics (§7.3.7)
        if (nn == 1) { w.ue(0); w.u(1, 1) } // delta_poc_s0_minus1, used
        w.u(0, 1)                // slice_temporal_mvp_enabled_flag
      }
      w.u(0, 1); w.u(0, 1)       // slice_sao_luma / chroma (SPS SAO on)
      if (!isI) {
        w.u(0, 1)                // num_ref_idx_active_override_flag
        if (st == 0) w.u(0, 1)   // mvd_l1_zero_flag (B)
        w.ue(0)                  // five_minus_max_num_merge_cand
      }
      w.ue(0)                    // slice_qp_delta (se(0))
      // "slice data": one mix64-derived byte, then the stop bit
      w.u((graft.functions.Hashing.mix64(eventId * 151L + i) & 0xff).toInt, 8)
      w.stop()
      HevcKernels.nal(tpe, w.toBytes)
    }
    HevcKernels.assembleHevc(eventId,
      HevcKernels.vpsNal(eventId, userId) +:
        HevcKernels.spsNal(eventId, userId) +:
        HevcKernels.ppsNal() +: slices)
  }

  private final case class SpsCfg(pocLsbBits: Int, addrBits: Int,
    separateColourPlane: Boolean, chromaArrayType: Int, sao: Boolean,
    numStRps: Int, longTerm: Boolean, temporalMvp: Boolean)
  private final case class PpsCfg(dependentSlices: Boolean,
    outputFlagPresent: Boolean, extraBits: Int, cabacInitPresent: Boolean,
    l0Default: Int, l1Default: Int, weightedPred: Boolean,
    weightedBipred: Boolean, listsModification: Boolean)

  private def ceilLog2(n: Int): Int =
    if (n <= 1) 0 else 32 - Integer.numberOfLeadingZeros(n - 1)

  /** SPS fields the slice segment header depends on — the full §7.3.2.2.1
    * walk up to sps_temporal_mvp_enabled_flag (superset of
    * [[HevcKernels.parseSps]]'s geometry read). */
  private def readSpsCfg(rbsp: Array[Byte]): SpsCfg = {
    val r = new BitReader(rbsp)
    r.u(4)                           // sps_video_parameter_set_id
    val maxSub = r.u(3)
    r.u(1)                           // sps_temporal_id_nesting_flag
    // profile_tier_level(1, maxSub): 12 fixed bytes + sub-layer blocks
    r.u(32); r.u(32); r.u(32)        // 12 bytes = 96 bits
    if (maxSub > 0) {
      val pp = new Array[Boolean](maxSub)
      val lp = new Array[Boolean](maxSub)
      var j = 0
      while (j < maxSub) { pp(j) = r.u(1) == 1; lp(j) = r.u(1) == 1; j += 1 }
      if (maxSub < 8) r.u(2 * (8 - maxSub))
      j = 0
      while (j < maxSub) {
        if (pp(j)) { r.u(32); r.u(32); r.u(24) }
        if (lp(j)) r.u(8)
        j += 1
      }
    }
    r.ue()                           // sps_seq_parameter_set_id
    val chroma = r.ue()
    val sep = chroma == 3 && r.u(1) == 1
    val chromaArrayType = if (sep) 0 else chroma
    val picW = r.ue()
    val picH = r.ue()
    if (picW <= 0 || picH <= 0 || picW > (1 << 24) || picH > (1 << 24))
      throw new IndexOutOfBoundsException
    if (r.u(1) == 1) { r.ue(); r.ue(); r.ue(); r.ue() } // conformance win
    r.ue(); r.ue()                   // bit_depth_luma/chroma_minus8
    val pocLsbBits = r.ue() + 4
    if (pocLsbBits > 16) throw new IndexOutOfBoundsException
    val ordering = r.u(1) == 1       // sps_sub_layer_ordering_info_present
    val nOrd = if (ordering) maxSub + 1 else 1
    var j = 0
    while (j < nOrd) { r.ue(); r.ue(); r.ue(); j += 1 }
    val minCbLog2 = r.ue() + 3
    val ctbLog2 = minCbLog2 + r.ue()
    if (ctbLog2 > 10) throw new IndexOutOfBoundsException
    r.ue(); r.ue(); r.ue(); r.ue()   // transform block sizes + depths
    if (r.u(1) == 1) throw new IndexOutOfBoundsException // scaling lists
    r.u(1)                           // amp_enabled_flag
    val sao = r.u(1) == 1
    if (r.u(1) == 1) throw new IndexOutOfBoundsException // pcm: out of scope
    val numStRps = r.ue()
    if (numStRps > 64) throw new IndexOutOfBoundsException
    var idx = 0
    while (idx < numStRps) {         // st_ref_pic_set(idx), skip walk
      if (idx > 0 && r.u(1) == 1)    // inter_ref_pic_set_prediction_flag
        throw new IndexOutOfBoundsException // out of scope
      val nn = r.ue(); val np = r.ue()
      if (nn > 16 || np > 16) throw new IndexOutOfBoundsException
      var k = 0
      while (k < nn + np) { r.ue(); r.u(1); k += 1 }
      idx += 1
    }
    val longTerm = r.u(1) == 1
    if (longTerm) {
      val n = r.ue()
      if (n > 32) throw new IndexOutOfBoundsException
      var k = 0
      while (k < n) { r.u(pocLsbBits); r.u(1); k += 1 }
    }
    val tmvp = r.u(1) == 1
    val ctb = 1 << ctbLog2
    val picSizeInCtbs =
      ((picW + ctb - 1) / ctb) * ((picH + ctb - 1) / ctb)
    SpsCfg(pocLsbBits, ceilLog2(picSizeInCtbs), sep, chromaArrayType,
      sao, numStRps, longTerm, tmvp)
  }

  /** PPS fields the slice segment header depends on (§7.3.2.3.1), in
    * document order through lists_modification_present_flag. */
  private def readPpsCfg(rbsp: Array[Byte]): PpsCfg = {
    val r = new BitReader(rbsp)
    r.ue(); r.ue()                   // pps / sps parameter set ids
    val dependent = r.u(1) == 1
    val outputFlag = r.u(1) == 1
    val extraBits = r.u(3)
    r.u(1)                           // sign_data_hiding_enabled_flag
    val cabacInit = r.u(1) == 1
    val l0 = r.ue(); val l1 = r.ue()
    if (l0 > 14 || l1 > 14) throw new IndexOutOfBoundsException
    r.se()                           // init_qp_minus26
    r.u(1); r.u(1)                   // constrained_intra / transform_skip
    if (r.u(1) == 1) r.ue()          // cu_qp_delta (+ depth)
    r.se(); r.se()                   // pps_cb/cr_qp_offset
    r.u(1)                           // pps_slice_chroma_qp_offsets_present
    val wPred = r.u(1) == 1
    val wBipred = r.u(1) == 1
    r.u(1)                           // transquant_bypass_enabled_flag
    val tiles = r.u(1) == 1
    r.u(1)                           // entropy_coding_sync_enabled_flag
    if (tiles) throw new IndexOutOfBoundsException // out of scope
    r.u(1)                           // pps_loop_filter_across_slices
    if (r.u(1) == 1) {               // deblocking_filter_control_present
      r.u(1)                         // deblocking_filter_override_enabled
      if (r.u(1) == 0) { r.se(); r.se() } // beta/tc offsets when enabled
    }
    if (r.u(1) == 1) throw new IndexOutOfBoundsException // pps scaling list
    val listsMod = r.u(1) == 1
    PpsCfg(dependent, outputFlag, extraBits, cabacInit, l0, l1,
      wPred, wBipred, listsMod)
  }

  /** `graft_hevc_gop_census(blob)` — one walk:
    * struct(n_slices, n_i, n_p, n_b, max_poc_lsb). Null when the
    * stream is unparseable, carries no SPS/PPS ahead of its slices, or
    * uses a header configuration outside the structural subset
    * (dependent slices, inter-RPS, long-term refs, tiles, weighted
    * prediction, list modification, scaling lists, PCM). */
  def hevcGopCensus(bytes: Array[Byte]): InternalRow = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    var sps: SpsCfg = null
    var pps: PpsCfg = null
    var nSlices = 0L
    var nI = 0L; var nP = 0L; var nB = 0L
    var maxPoc = -1L
    try {
      var i = 0
      while (i < ranges.length) {
        val (s, e) = ranges(i)
        if (e - s < 2) return null
        val b0 = bytes(s) & 0xff
        val b1 = bytes(s + 1) & 0xff
        if ((b0 & 0x80) != 0) return null // forbidden_zero_bit
        if ((b1 & 7) == 0) return null    // TemporalId + 1 never 0
        val tpe = (b0 >>> 1) & 0x3f
        if (tpe == SPS_NUT) {
          if (sps == null) sps = readSpsCfg(epStrip(bytes, s + 2, e))
        } else if (tpe == PPS_NUT) {
          if (pps == null) pps = readPpsCfg(epStrip(bytes, s + 2, e))
        } else if (tpe <= 31) {           // VCL NAL (Table 7-1)
          // Reserved VCL ranges (RSV_VCL_N10..R15, RSV_IRAP_VCL22/23,
          // RSV_VCL24..31) have undefined slice-header syntax: out of
          // subset -> null, never a misparse.
          if ((tpe >= 10 && tpe <= 15) || tpe >= 22) return null
          if (sps == null || pps == null) return null
          val r = new BitReader(epStrip(bytes, s + 2, e))
          val first = r.u(1) == 1
          if (tpe >= 16 && tpe <= 23) r.u(1) // no_output_of_prior_pics
          r.ue()                        // slice_pic_parameter_set_id
          if (!first) {
            if (pps.dependentSlices && r.u(1) == 1)
              return null               // dependent slice: no own type
            r.u(sps.addrBits)           // slice_segment_address
          }
          if (pps.extraBits > 0) r.u(pps.extraBits)
          val st = r.ue()               // slice_type, Table 7-7
          if (st > 2) return null
          if (pps.outputFlagPresent) r.u(1)
          if (sps.separateColourPlane) r.u(2)
          var poc = -1L
          var tmvpSlice = false
          if (tpe != IDR_W_RADL && tpe != 20) { // non-IDR carries POC
            poc = r.u(sps.pocLsbBits).toLong
            if (r.u(1) == 0) {          // explicit st_ref_pic_set
              if (sps.numStRps > 0 && r.u(1) == 1)
                return null             // inter-RPS prediction
              val nn = r.ue(); val np = r.ue()
              if (nn > 16 || np > 16) return null
              var k = 0
              while (k < nn + np) { r.ue(); r.u(1); k += 1 }
            } else {
              if (sps.numStRps == 0) return null
              if (sps.numStRps > 1) r.u(ceilLog2(sps.numStRps))
            }
            if (sps.longTerm) return null
            if (sps.temporalMvp) tmvpSlice = r.u(1) == 1
          }
          if (sps.sao) {
            r.u(1)
            if (sps.chromaArrayType != 0) r.u(1)
          }
          if (st == 0 || st == 1) {     // B / P
            var nl0 = pps.l0Default; var nl1 = pps.l1Default
            if (r.u(1) == 1) {          // num_ref_idx_active_override
              nl0 = r.ue()
              if (st == 0) nl1 = r.ue()
            }
            if (pps.listsModification) return null
            if (st == 0) r.u(1)         // mvd_l1_zero_flag
            if (pps.cabacInitPresent) r.u(1)
            if (tmvpSlice) {
              var fromL0 = true
              if (st == 0) fromL0 = r.u(1) == 1
              if ((fromL0 && nl0 > 0) || (!fromL0 && nl1 > 0)) r.ue()
            }
            if ((pps.weightedPred && st == 1) ||
                (pps.weightedBipred && st == 0))
              return null               // pred_weight_table: out of scope
            r.ue()                      // five_minus_max_num_merge_cand
          }
          r.se()                        // slice_qp_delta
          nSlices += 1
          st match {
            case 2 => nI += 1
            case 1 => nP += 1
            case _ => nB += 1
          }
          if (poc > maxPoc) maxPoc = poc
        }
        i += 1
      }
    } catch { case _: IndexOutOfBoundsException => return null }
    if (nSlices == 0L) return null
    InternalRow(nSlices, nI, nP, nB, maxPoc)
  }
}

object HevcGopCensus {
  val censusType: StructType = StructType(Seq(
    StructField("n_slices", LongType), StructField("n_i", LongType),
    StructField("n_p", LongType), StructField("n_b", LongType),
    StructField("max_poc_lsb", LongType)))
}
