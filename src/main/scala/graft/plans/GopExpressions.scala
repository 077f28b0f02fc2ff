package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** H.264 GOP census via PPS + slice-header parsing (SURVEY §2 G22) —
  * the G17 census's next semantic layer: NAL types say "a slice";
  * slice HEADERS say which picture type (I/P/B) and which frame_num —
  * the stream-health report a transcode pipeline reads, and the full
  * generalization of the IDR keyframe index (the reference's
  * keyframe-gated sampler, parser.py:437-487, is the I-only special
  * case). Pure public spec, no codec library:
  *
  *   - PPS (§7.3.2.2) parses first: entropy mode, the
  *     bottom-field-POC and deblocking presence flags, weighted-pred
  *     switches — slice headers cannot be read without them;
  *   - the SPS contributes frame_num's BIT WIDTH
  *     (log2_max_frame_num_minus4 + 4), the POC type (which decides
  *     the header's POC fields), and frame_mbs_only (field flags);
  *   - each VCL NAL's header (§7.3.3) then yields first_mb_in_slice /
  *     slice_type / frame_num through the same Exp-Golomb reader, with
  *     the (slice_type mod 5) Table 7-6 fold into P/B/I.
  *
  * Configurations whose headers need structures this structural layer
  * does not carry (slice groups, explicit ref-pic-list modification,
  * pred-weight tables, adaptive marking) return the family's null —
  * never a misparse. The generator writes a real GOP ladder (frame 0
  * is I — IDR when event_id % 4 == 0 — then a (i + user_id) % 3
  * P/B cadence) with every field arithmetic in (event_id, user_id), so
  * the DuckDB oracle replays the census in closed form. */
object GopKernels {
  import NalKernels.{BitReader, BitWriter, epStrip, nalRanges}

  /** Per-event GOP fixture: nFrames = 2 + event_id % 4 single-slice
    * frames. Frame 0 is the I anchor (IDR iff event_id % 4 == 0);
    * frame i ≥ 1 is P when (i + user_id) % 3 == 0, else B (non-ref,
    * nal_ref_idc 0). frame_num = i mod 16 (the SPS's u(4) width);
    * idr_pic_id = event_id % 8. Container rule as the family: even
    * event_id Annex-B, odd AVCC. SPS/PPS are the shared G18 NALs. */
  def h264GopEncode(eventId: Long, userId: Long): Array[Byte] = {
    val nFrames = (2 + eventId % 4).toInt
    val idrEvent = eventId % 4 == 0
    val slices = (0 until nFrames).map { i =>
      val isI = i == 0
      val isIdr = isI && idrEvent
      val isP = !isI && (i + userId) % 3 == 0
      val sliceType = if (isI) 2 else if (isP) 0 else 1 // Table 7-6
      val refIdc = if (isIdr) 3 else if (isI || isP) 2 else 0
      val w = new BitWriter
      w.ue(0)                    // first_mb_in_slice
      w.ue(sliceType)            // slice_type
      w.ue(0)                    // pic_parameter_set_id
      w.u(i % 16, 4)             // frame_num (log2_max_frame_num = 4)
      if (isIdr) w.ue((eventId % 8).toInt) // idr_pic_id
      // pic_order_cnt_type 2: no POC fields
      if (sliceType == 1) w.u(1, 1) // direct_spatial_mv_pred_flag
      if (!isI) {
        w.u(0, 1)                // num_ref_idx_active_override_flag
        w.u(0, 1)                // ref_pic_list_modification_flag_l0
        if (sliceType == 1) w.u(0, 1) // … flag_l1
      }
      if (refIdc != 0) {
        if (isIdr) { w.u(0, 1); w.u(0, 1) } // no_output / long_term
        else w.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      }
      w.ue(0)                    // slice_qp_delta (se(0))
      // "slice data": one mix64-derived byte, then the stop bit
      w.u((graft.functions.Hashing.mix64(eventId * 149L + i) & 0xff).toInt, 8)
      w.stop()
      NalKernels.nal((refIdc << 5) | (if (isIdr) 5 else 1), w.toBytes)
    }
    NalKernels.assemble(eventId,
      NalKernels.spsNal(eventId, userId) +: NalKernels.ppsNal() +: slices)
  }

  private final case class SpsCfg(frameNumBits: Int, pocType: Int,
    pocLsbBits: Int, deltaPocAlwaysZero: Boolean, frameMbsOnly: Boolean)
  private final case class PpsCfg(cabac: Boolean, bottomFieldPoc: Boolean,
    weightedPred: Boolean, weightedBipredIdc: Int, deblockingPresent: Boolean,
    redundantPresent: Boolean)

  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** SPS fields the slice header depends on (subset of the G18 walk). */
  private def readSpsCfg(rbsp: Array[Byte]): SpsCfg = {
    val r = new BitReader(rbsp)
    val profile = r.u(8)
    r.u(8); r.u(8)
    r.ue()
    if (HighProfiles.contains(profile)) {
      val chroma = r.ue()
      if (chroma == 3) r.u(1)
      r.ue(); r.ue(); r.u(1)
      if (r.u(1) == 1) throw new IndexOutOfBoundsException // scaling: out of scope
    }
    val frameNumBits = r.ue() + 4
    val pocType = r.ue()
    var pocLsbBits = 0
    var deltaZero = false
    pocType match {
      case 0 => pocLsbBits = r.ue() + 4
      case 1 =>
        deltaZero = r.u(1) == 1
        r.se(); r.se()
        val n = r.ue()
        var j = 0
        while (j < n) { r.se(); j += 1 }
      case _ => ()
    }
    r.ue(); r.u(1)
    r.ue(); r.ue()
    val frameMbsOnly = r.u(1) == 1
    SpsCfg(frameNumBits, pocType, pocLsbBits, deltaZero, frameMbsOnly)
  }

  /** PPS fields the slice header depends on (§7.3.2.2). */
  private def readPpsCfg(rbsp: Array[Byte]): PpsCfg = {
    val r = new BitReader(rbsp)
    r.ue(); r.ue()
    val cabac = r.u(1) == 1
    val bottomField = r.u(1) == 1
    if (r.ue() != 0) throw new IndexOutOfBoundsException // slice groups: out of scope
    r.ue(); r.ue()
    val wPred = r.u(1) == 1
    val wBipred = r.u(2)
    r.se(); r.se(); r.se() // init_qp/qs, chroma_qp_offset
    val deblocking = r.u(1) == 1
    r.u(1)
    val redundant = r.u(1) == 1
    PpsCfg(cabac, bottomField, wPred, wBipred, deblocking, redundant)
  }

  /** `graft_gop_census(blob)` — one walk:
    * struct(n_slices, n_i, n_p, n_b, max_frame_num). Null when the
    * stream is unparseable, carries no SPS/PPS ahead of its slices, or
    * uses a header configuration outside the structural subset. */
  def gopCensus(bytes: Array[Byte]): InternalRow = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    var sps: SpsCfg = null
    var pps: PpsCfg = null
    var nSlices = 0L
    var nI = 0L; var nP = 0L; var nB = 0L
    var maxFrameNum = -1L
    try {
      var i = 0
      while (i < ranges.length) {
        val (s, e) = ranges(i)
        val h = bytes(s) & 0xff
        if ((h & 0x80) != 0) return null
        val refIdc = (h >>> 5) & 3
        (h & 0x1f) match {
          case 7 => if (sps == null) sps = readSpsCfg(epStrip(bytes, s + 1, e))
          case 8 => if (pps == null) pps = readPpsCfg(epStrip(bytes, s + 1, e))
          case t @ (1 | 5) =>
            if (sps == null || pps == null) return null // headers need both
            val r = new BitReader(epStrip(bytes, s + 1, e))
            r.ue() // first_mb_in_slice
            val sliceType = r.ue()
            if (sliceType > 9) return null
            val st5 = sliceType % 5
            r.ue() // pic_parameter_set_id
            val frameNum = r.u(sps.frameNumBits)
            var fieldPic = false
            if (!sps.frameMbsOnly) {
              fieldPic = r.u(1) == 1
              if (fieldPic) r.u(1) // bottom_field_flag
            }
            if (t == 5) r.ue() // idr_pic_id
            if (sps.pocType == 0) {
              r.u(sps.pocLsbBits)
              if (pps.bottomFieldPoc && !fieldPic) r.se()
            } else if (sps.pocType == 1 && !sps.deltaPocAlwaysZero) {
              r.se()
              if (pps.bottomFieldPoc && !fieldPic) r.se()
            }
            if (pps.redundantPresent) r.ue()
            if (st5 == 1) r.u(1) // direct_spatial_mv_pred_flag
            if (st5 == 0 || st5 == 3 || st5 == 1) {
              if (r.u(1) == 1) { // num_ref_idx_active_override
                r.ue(); if (st5 == 1) r.ue()
              }
              if (r.u(1) == 1) return null // list modification: out of scope
              if (st5 == 1 && r.u(1) == 1) return null
            }
            if ((pps.weightedPred && (st5 == 0 || st5 == 3)) ||
                (pps.weightedBipredIdc == 1 && st5 == 1))
              return null // pred_weight_table: out of scope
            if (refIdc != 0) {
              if (t == 5) { r.u(1); r.u(1) }
              else if (r.u(1) == 1) return null // adaptive marking: out of scope
            }
            if (pps.cabac && st5 != 2 && st5 != 4) r.ue() // cabac_init_idc
            r.se() // slice_qp_delta
            nSlices += 1
            st5 match {
              case 2 | 4 => nI += 1
              case 0 | 3 => nP += 1
              case _ => nB += 1
            }
            if (frameNum > maxFrameNum) maxFrameNum = frameNum.toLong
          case _ => ()
        }
        i += 1
      }
    } catch { case _: IndexOutOfBoundsException => return null }
    if (nSlices == 0L) return null
    InternalRow(nSlices, nI, nP, nB, maxFrameNum)
  }
}

object GopCensus {
  val censusType: StructType = StructType(Seq(
    StructField("n_slices", LongType), StructField("n_i", LongType),
    StructField("n_p", LongType), StructField("n_b", LongType),
    StructField("max_frame_num", LongType)))
}
