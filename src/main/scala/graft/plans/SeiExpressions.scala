package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** SEI (Supplemental Enhancement Information) parsing for both codecs
  * (SURVEY §2 G26) — the remaining structural NAL layer: H.264 type 6,
  * HEVC prefix/suffix types 39/40. Two messages matter to a
  * consumer-shaped pipeline and are censused here:
  *
  *   - recovery_point (payloadType 6 in BOTH codecs) — the non-IDR
  *     random-access signal a keyframe index should honor alongside
  *     IDR/IRAP (the reference's sampler keys on libav's keyframe
  *     flag, which real encoders raise at recovery points too);
  *   - user_data_unregistered (payloadType 5 in both) — the 16-byte
  *     UUID + free bytes side channel real producers use for
  *     per-frame metadata.
  *
  * The sei_rbsp layout (H.264 §7.3.2.3, H.265 §7.3.5) is a BYTE-level
  * TLV — payloadType and payloadSize are each a run of 0xFF bytes plus
  * a final byte — so the walk is Exp-Golomb-free: no bit reader, just
  * the shared EP strip. Truncated messages, an SEI NAL with no
  * messages, a missing trailing byte, or a user_data payload shorter
  * than its UUID return the family's null. The generators extend the
  * G17/G19 fixtures with one SEI NAL whose content is arithmetic in
  * event_id, so the DuckDB oracle replays the census in closed
  * form. */
object SeiKernels {
  import NalKernels.{BitWriter, epStrip, nalRanges}

  final val UserDataUnregistered = 5
  final val RecoveryPoint = 6

  /** One TLV message: ff-escaped type and size, then the payload. */
  private def message(out: java.io.ByteArrayOutputStream, tpe: Int,
      payload: Array[Byte]): Unit = {
    var t = tpe
    while (t >= 255) { out.write(0xff); t -= 255 }
    out.write(t)
    var s = payload.length
    while (s >= 255) { out.write(0xff); s -= 255 }
    out.write(s)
    out.write(payload, 0, payload.length)
  }

  /** recovery_point payload (H.264 §D.1.8 shape): recovery_frame_cnt
    * ue(v), exact_match u(1), broken_link u(1),
    * changing_slice_group_idc u(2), byte-aligned. */
  private def recoveryPayload(eventId: Long): Array[Byte] = {
    val w = new BitWriter
    w.ue((eventId % 3).toInt)
    w.u(1, 1); w.u(0, 1); w.u(0, 2)
    w.stop() // sei payload bit alignment
    w.toBytes
  }

  /** user_data_unregistered payload: 16 UUID bytes + event_id % 5
    * extra bytes, all mix64-derived. */
  private def userDataPayload(eventId: Long): Array[Byte] = {
    val extra = (eventId % 5).toInt
    val out = new Array[Byte](16 + extra)
    var j = 0
    while (j < out.length) {
      out(j) = ((graft.functions.Hashing.mix64(
        eventId * 211L + j / 8) >>> (8 * (j % 8))) & 0xff).toByte
      j += 1
    }
    out
  }

  /** The shared SEI rbsp for one event: a recovery_point message when
    * event_id % 4 == 2 (the non-IDR random-access cadence — IDRs sit
    * at % 4 == 0), then always one user_data_unregistered message,
    * then the rbsp trailing byte. */
  private def seiRbsp(eventId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(48)
    if (eventId % 4 == 2)
      message(out, RecoveryPoint, recoveryPayload(eventId))
    message(out, UserDataUnregistered, userDataPayload(eventId))
    out.write(0x80) // rbsp_trailing_bits
    out.toByteArray
  }

  /** The G17 stream with one SEI NAL between the parameter sets and
    * the slices — where real encoders put it. */
  def h264SeiEncode(eventId: Long, userId: Long): Array[Byte] =
    NalKernels.assemble(eventId,
      NalKernels.spsNal(eventId, userId) +: NalKernels.ppsNal() +:
        NalKernels.nal(6, seiRbsp(eventId)) +:
        NalKernels.sliceNals(eventId))

  /** The G19 stream with one PREFIX SEI NAL (type 39). */
  def hevcSeiEncode(eventId: Long, userId: Long): Array[Byte] =
    HevcKernels.assembleHevc(eventId,
      HevcKernels.vpsNal(eventId, userId) +:
        HevcKernels.spsNal(eventId, userId) +:
        HevcKernels.ppsNal() +:
        HevcKernels.nal(39, seiRbsp(eventId)) +:
        HevcKernels.sliceNals(eventId))

  /** `graft_sei_census` / `graft_hevc_sei_census`: one walk →
    * struct(n_sei_nals, n_messages, n_recovery, n_user_data,
    * user_data_bytes) — user_data_bytes is NET of each message's
    * 16-byte UUID. Null when the stream is unparseable or any SEI NAL
    * is malformed (truncated TLV, zero messages, missing trailing
    * byte, user_data shorter than its UUID). */
  def h264SeiCensus(bytes: Array[Byte]): InternalRow = seiCensus(bytes, hevc = false)
  def hevcSeiCensus(bytes: Array[Byte]): InternalRow = seiCensus(bytes, hevc = true)

  def seiCensus(bytes: Array[Byte], hevc: Boolean): InternalRow = {
    val ranges = nalRanges(bytes)
    if (ranges == null) return null
    val hdrLen = if (hevc) 2 else 1
    var nSei = 0L
    var nMsg = 0L
    var nRecovery = 0L
    var nUserData = 0L
    var userDataBytes = 0L
    var i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      if (e - s < hdrLen) return null
      val b0 = bytes(s) & 0xff
      if ((b0 & 0x80) != 0) return null
      val tpe = if (hevc) (b0 >>> 1) & 0x3f else b0 & 0x1f
      val isSei = if (hevc) tpe == 39 || tpe == 40 else tpe == 6
      if (isSei) {
        val rbsp = epStrip(bytes, s + hdrLen, e)
        var p = 0
        var msgs = 0
        var closed = false
        while (!closed) {
          if (p >= rbsp.length) return null // ran out before trailing
          if ((rbsp(p) & 0xff) == 0x80 && p == rbsp.length - 1) {
            closed = true
          } else {
            // payloadType: ff-run + final byte
            var t = 0
            while (p < rbsp.length && (rbsp(p) & 0xff) == 0xff) {
              t += 255; p += 1
            }
            if (p >= rbsp.length) return null
            t += rbsp(p) & 0xff; p += 1
            var sz = 0
            while (p < rbsp.length && (rbsp(p) & 0xff) == 0xff) {
              sz += 255; p += 1
            }
            if (p >= rbsp.length) return null
            sz += rbsp(p) & 0xff; p += 1
            if (p + sz > rbsp.length) return null
            msgs += 1
            if (t == RecoveryPoint) nRecovery += 1
            else if (t == UserDataUnregistered) {
              if (sz < 16) return null // UUID is mandatory
              nUserData += 1
              userDataBytes += sz - 16
            }
            p += sz
          }
        }
        if (msgs == 0) return null // sei_rbsp carries at least one
        nSei += 1
        nMsg += msgs
      }
      i += 1
    }
    InternalRow(nSei, nMsg, nRecovery, nUserData, userDataBytes)
  }
}

object SeiCensus {
  val censusType: StructType = StructType(Seq(
    StructField("n_sei_nals", LongType), StructField("n_messages", LongType),
    StructField("n_recovery", LongType), StructField("n_user_data", LongType),
    StructField("user_data_bytes", LongType)))
}
