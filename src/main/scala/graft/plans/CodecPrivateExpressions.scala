package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Out-of-band codec configuration parsing (SURVEY §2 G21/G23) — the
  * container half the round-17 NAL layer left open: real AVCC/MKV
  * streams do NOT carry SPS/PPS in-band; they ride the Tracks element's
  * CodecPrivate (the reference's EBML table lists CodecID/CodecPrivate
  * at ebml.py:47-48 and libav reads parameter sets from there
  * implicitly). Two public-spec blobs:
  *
  *   - avcC (ISO 14496-15 §5.2.4.1.1, CodecID `V_MPEG4/ISO/AVC`):
  *     configurationVersion / profile / level bytes, lengthSizeMinusOne,
  *     then length-prefixed SPS and PPS NALs — the SPS parses through
  *     the SAME Exp-Golomb reader as the in-band G18 path
  *     ([[NalKernels.parseSps]]), emulation prevention included;
  *   - AAC AudioSpecificConfig (ISO 14496-3 §1.6.2.1, CodecID `A_AAC`):
  *     5-bit audioObjectType (31-escape per the spec), 4-bit
  *     samplingFrequencyIndex (15 → explicit 24-bit rate), 4-bit
  *     channelConfiguration.
  *
  * Same oracle pattern as the G17/G18 family: the builders derive every
  * field arithmetically from (event_id, user_id), so the DuckDB oracle
  * recomputes profile/level/width/height (avcC ∘ EP strip ∘ Exp-Golomb)
  * and object/rate/channels (ASC bit unpack) from the raw columns. All
  * kernels are per-row codegen statics (H4). */
object CodecPrivateKernels {
  import NalKernels.{BitReader, epStrip}

  // ---- avcC (ISO 14496-15 §5.2.4.1.1) ----------------------------------

  /** Build the avcC CodecPrivate blob for the generator's cell: the
    * SAME SPS/PPS NALs the in-band encoder writes ([[NalKernels
    * .spsNal]]/[[NalKernels.ppsNal]]), length-prefixed per the spec;
    * profile/compat/level bytes mirror the SPS head, lengthSize 4. */
  def avccEncode(eventId: Long, userId: Long): Array[Byte] = {
    val sps = NalKernels.spsNal(eventId, userId)
    val pps = NalKernels.ppsNal()
    val out = new java.io.ByteArrayOutputStream(sps.length + pps.length + 11)
    out.write(1)                          // configurationVersion
    out.write((66 + 11 * (userId % 2)).toInt) // AVCProfileIndication
    out.write(0)                          // profile_compatibility
    out.write((10 * (1 + eventId % 4)).toInt) // AVCLevelIndication
    out.write(0xfc | 3)                   // reserved + lengthSizeMinusOne
    out.write(0xe0 | 1)                   // reserved + numOfSPS
    out.write((sps.length >>> 8) & 0xff); out.write(sps.length & 0xff)
    out.write(sps, 0, sps.length)
    out.write(1)                          // numOfPPS
    out.write((pps.length >>> 8) & 0xff); out.write(pps.length & 0xff)
    out.write(pps, 0, pps.length)
    out.toByteArray
  }

  /** `graft_avcc_sps`: parse an avcC blob's FIRST SPS into
    * struct(profile_idc, level_idc, width, height) — the G18 struct,
    * decoded by the G18 reader after the length-prefix walk and EP
    * strip. Null on anything malformed: wrong configurationVersion, a
    * length overrunning the blob, zero SPS entries, a non-SPS NAL in
    * the SPS slot, or an SPS that does not parse. */
  def avccSpsDims(bytes: Array[Byte]): InternalRow = {
    val ps = avccParamSets(bytes)
    if (ps == null) return null
    val sps = ps._1
    val h = sps(0) & 0xff
    if ((h & 0x80) != 0 || (h & 0x1f) != 7) return null
    try NalKernels.parseSps(epStrip(sps, 1, sps.length))
    catch { case _: IndexOutOfBoundsException => null }
  }

  /** First SPS and first PPS NAL byte-ranges out of an avcC blob, or
    * null when malformed — the shared walk under [[avccSpsDims]] and
    * [[avccToAnnexb]]. */
  private def avccParamSets(bytes: Array[Byte])
      : (Array[Byte], Array[Byte]) = {
    if (bytes == null || bytes.length < 8) return null
    if ((bytes(0) & 0xff) != 1) return null // configurationVersion
    val numSps = bytes(5) & 0x1f
    if (numSps < 1) return null
    var p = 6
    var sps: Array[Byte] = null
    var i = 0
    while (i < numSps) {
      if (p + 2 > bytes.length) return null
      val len = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
      p += 2
      if (len < 2 || p + len > bytes.length) return null
      if (sps == null) sps = java.util.Arrays.copyOfRange(bytes, p, p + len)
      p += len
      i += 1
    }
    if (p >= bytes.length) return null
    val numPps = bytes(p) & 0xff
    p += 1
    if (numPps < 1) return null
    if (p + 2 > bytes.length) return null
    val plen = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    p += 2
    if (plen < 1 || p + plen > bytes.length) return null
    val pps = java.util.Arrays.copyOfRange(bytes, p, p + plen)
    (sps, pps)
  }

  /** `graft_avcc_to_annexb`: the h264_mp4toannexb bitstream conversion
    * every transcode pipeline runs (a length-prefixed AVCC track with
    * out-of-band parameter sets → the Annex-B byte stream a raw
    * decoder consumes): the avcC's SPS and PPS are emitted in-band at
    * the stream head (4-byte start code, the G17 stream-head form),
    * then every input NAL follows behind 3-byte start codes — NAL
    * payloads are copied verbatim (emulation prevention is already on
    * the wire in both layouts, so no re-escape pass). Input framing:
    * the avcC-declared NAL length-prefix width is authoritative — the
    * stream is walked with it first, and only if that walk rejects the
    * buffer does an Annex-B start-code sniff take over (for raw
    * already-Annex-B input). Null when the stream or the avcC is
    * malformed. */
  def avccToAnnexb(stream: Array[Byte], avcc: Array[Byte]): Array[Byte] = {
    val ps = avccParamSets(avcc)
    if (ps == null) return null
    // the avcC declares the track's NAL length-prefix width (byte 4's
    // low 2 bits, ISO 14496-15 §5.2.4.1.1); the declared width is
    // AUTHORITATIVE over content sniffing — a length-prefixed stream
    // whose first NAL length happens to read 00 00 01 xx must not be
    // misrouted to the start-code scan. Raw Annex-B input (no length
    // framing) fails the declared walk and takes the sniff fallback.
    val ranges = framedRanges(stream, (avcc(4) & 3) + 1)
    if (ranges == null) return null
    val (sps, pps) = ps
    var total = 4 + sps.length + 3 + pps.length
    var i = 0
    while (i < ranges.length) {
      total += 3 + (ranges(i)._2 - ranges(i)._1)
      i += 1
    }
    val out = new Array[Byte](total)
    var p = 0
    def start4(): Unit = { out(p + 3) = 1; p += 4 }
    def start3(): Unit = { out(p + 2) = 1; p += 3 }
    def nalBytes(b: Array[Byte], s: Int, e: Int): Unit = {
      System.arraycopy(b, s, out, p, e - s); p += e - s
    }
    start4(); nalBytes(sps, 0, sps.length)
    start3(); nalBytes(pps, 0, pps.length)
    i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      start3(); nalBytes(stream, s, e)
      i += 1
    }
    out
  }

  /** NAL ranges of a track stream under the container's DECLARED
    * length-prefix width, with an Annex-B fallback only when the
    * declared walk rejects the buffer — shared by both mp4toannexb
    * conversions. Declared framing wins over content sniffing: inside
    * an avcC/hvcC-configured track samples are always length-prefixed,
    * and a first NAL of length 256-511 is byte-ambiguous with a start
    * code (00 00 01 xx). */
  private def framedRanges(stream: Array[Byte],
      lenSize: Int): Array[(Int, Int)] = {
    val declared = NalKernels.lengthPrefixedRanges(stream, lenSize)
    if (declared != null) declared
    else if (stream != null && NalKernels.isAnnexB(stream))
      NalKernels.nalRanges(stream)
    else null
  }

  // ---- hvcC (ISO 14496-15 §8.3.3.1) ------------------------------------

  /** Build the HEVCDecoderConfigurationRecord for the generator's
    * cell: the 22-byte fixed head mirroring the SPS's
    * profile_tier_level values, then three arrays (VPS/SPS/PPS) of
    * one length-prefixed NAL each — the SAME NALs the in-band encoder
    * writes. */
  def hvccEncode(eventId: Long, userId: Long): Array[Byte] = {
    val profile = (1 + userId % 2).toInt
    val level = (60 + 30 * (eventId % 4)).toInt
    val vps = HevcKernels.vpsNal(eventId, userId)
    val sps = HevcKernels.spsNal(eventId, userId)
    val pps = HevcKernels.ppsNal()
    val out = new java.io.ByteArrayOutputStream(
      vps.length + sps.length + pps.length + 40)
    out.write(1)                    // configurationVersion
    out.write(profile)              // space(0)/tier(0)/profile_idc
    // general_profile_compatibility_flags (own bit, the PTL rule)
    val compat = 1 << (31 - profile)
    out.write((compat >>> 24) & 0xff); out.write((compat >>> 16) & 0xff)
    out.write((compat >>> 8) & 0xff); out.write(compat & 0xff)
    // general_constraint_indicator_flags: progressive + frame_only
    // (bits 47 and 44 of the 48 — mirrors the PTL's 4 source flags)
    out.write(0x90); out.write(0); out.write(0)
    out.write(0); out.write(0); out.write(0)
    out.write(level)                // general_level_idc
    out.write(0xf0); out.write(0)   // reserved + min_spatial_segmentation
    out.write(0xfc)                 // reserved + parallelismType 0
    out.write(0xfc | 1)             // reserved + chromaFormat 4:2:0
    val bd = if (profile == 2) 2 else 0
    out.write(0xf8 | bd)            // reserved + bitDepthLumaMinus8
    out.write(0xf8 | bd)            // reserved + bitDepthChromaMinus8
    out.write(0); out.write(0)      // avgFrameRate (unspecified)
    out.write((0 << 6) | (1 << 3) | (1 << 2) | 3) // cfr/layers/nested/len-1
    out.write(3)                    // numOfArrays
    def array(nalType: Int, n: Array[Byte]): Unit = {
      out.write(0x80 | nalType)     // array_completeness=1 + type
      out.write(0); out.write(1)    // numNalus
      out.write((n.length >>> 8) & 0xff); out.write(n.length & 0xff)
      out.write(n, 0, n.length)
    }
    array(HevcKernels.VPS_NUT, vps)
    array(HevcKernels.SPS_NUT, sps)
    array(HevcKernels.PPS_NUT, pps)
    out.toByteArray
  }

  /** `graft_hvcc_sps`: parse an hvcC blob's FIRST SPS into the G20
    * struct — walk the arrays to NAL type 33, skip the 2-byte HEVC
    * header, EP-strip, and decode through [[HevcKernels.parseSps]].
    * Null on malformed blobs (wrong version, truncated arrays, no SPS
    * array, a non-SPS NAL in the SPS array, or an unparseable SPS). */
  def hvccSpsDims(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 24) return null
    if ((bytes(0) & 0xff) != 1) return null
    var p = 22
    val numArrays = bytes(p) & 0xff
    p += 1
    var a = 0
    while (a < numArrays) {
      if (p + 3 > bytes.length) return null
      val arrType = bytes(p) & 0x3f
      val numNalus = ((bytes(p + 1) & 0xff) << 8) | (bytes(p + 2) & 0xff)
      p += 3
      var n = 0
      while (n < numNalus) {
        if (p + 2 > bytes.length) return null
        val len = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
        p += 2
        if (len < 2 || p + len > bytes.length) return null
        if (arrType == HevcKernels.SPS_NUT) {
          val h0 = bytes(p) & 0xff
          if ((h0 & 0x80) != 0 || ((h0 >>> 1) & 0x3f) != HevcKernels.SPS_NUT)
            return null
          return try HevcKernels.parseSps(epStrip(bytes, p + 2, p + len))
          catch { case _: IndexOutOfBoundsException => null }
        }
        p += len
        n += 1
      }
      a += 1
    }
    null // no SPS array
  }

  /** First VPS/SPS/PPS NALs + declared NAL length-prefix width out of
    * an hvcC blob, or null when malformed — the shared walk under
    * [[hvccSpsDims]]' SPS read generalized to all three parameter-set
    * arrays for [[hvccToAnnexb]]. VPS may legally be absent (vpsOpt
    * null); SPS and PPS are required. */
  private def hvccParamSets(bytes: Array[Byte])
      : (Array[Byte], Array[Byte], Array[Byte], Int) = {
    if (bytes == null || bytes.length < 24) return null
    if ((bytes(0) & 0xff) != 1) return null
    val lenSize = (bytes(21) & 3) + 1
    var vps: Array[Byte] = null
    var sps: Array[Byte] = null
    var pps: Array[Byte] = null
    var p = 22
    val numArrays = bytes(p) & 0xff
    p += 1
    var a = 0
    while (a < numArrays) {
      if (p + 3 > bytes.length) return null
      val arrType = bytes(p) & 0x3f
      val numNalus = ((bytes(p + 1) & 0xff) << 8) | (bytes(p + 2) & 0xff)
      p += 3
      var n = 0
      while (n < numNalus) {
        if (p + 2 > bytes.length) return null
        val len = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
        p += 2
        if (len < 2 || p + len > bytes.length) return null
        val h0 = bytes(p) & 0xff
        if ((h0 & 0x80) != 0 || ((h0 >>> 1) & 0x3f) != arrType) return null
        val nal = java.util.Arrays.copyOfRange(bytes, p, p + len)
        arrType match {
          case HevcKernels.VPS_NUT => if (vps == null) vps = nal
          case HevcKernels.SPS_NUT => if (sps == null) sps = nal
          case HevcKernels.PPS_NUT => if (pps == null) pps = nal
          case _ => ()
        }
        p += len
        n += 1
      }
      a += 1
    }
    if (sps == null || pps == null) return null
    (vps, sps, pps, lenSize)
  }

  /** `graft_hvcc_to_annexb`: the hevc_mp4toannexb bitstream conversion
    * — the HEVC sibling of [[avccToAnnexb]]: the hvcC's parameter sets
    * are re-muxed IN-BAND at the stream head (4-byte start code on the
    * first, 3-byte after — the G19 stream-head form), then every input
    * NAL follows behind 3-byte start codes, payloads copied verbatim
    * (emulation prevention is already on the wire in both layouts).
    * Accepts either input framing; non-Annex-B input is walked at the
    * hvcC's declared lengthSizeMinusOne width. Null when the stream or
    * the hvcC is malformed. */
  def hvccToAnnexb(stream: Array[Byte], hvcc: Array[Byte]): Array[Byte] = {
    val ps = hvccParamSets(hvcc)
    if (ps == null) return null
    val (vps, sps, pps, lenSize) = ps
    val ranges = framedRanges(stream, lenSize)
    if (ranges == null) return null
    val heads = Seq(vps, sps, pps).filter(_ != null)
    var total = heads.map(_.length).sum + 3 * heads.length + 1
    var i = 0
    while (i < ranges.length) {
      total += 3 + (ranges(i)._2 - ranges(i)._1)
      i += 1
    }
    val out = new Array[Byte](total)
    var p = 0
    def start(four: Boolean): Unit = {
      if (four) p += 1 // leading zero of the 4-byte stream-head code
      out(p + 2) = 1; p += 3
    }
    heads.zipWithIndex.foreach { case (n, ix) =>
      start(ix == 0)
      System.arraycopy(n, 0, out, p, n.length); p += n.length
    }
    i = 0
    while (i < ranges.length) {
      val (s, e) = ranges(i)
      start(false)
      System.arraycopy(stream, s, out, p, e - s); p += e - s
      i += 1
    }
    out
  }

  // ---- AAC AudioSpecificConfig (ISO 14496-3 §1.6.2.1) -------------------

  /** Table 1.16 sampling rates by samplingFrequencyIndex. */
  private[plans] val AacRates: Array[Int] = Array(
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** Build the 2-byte ASC for the generator's cell:
    *   object_type = 2 + user_id % 3   (AAC LC / SSR / LTP)
    *   freq index  = event_id % 13     (the 13 defined table rows)
    *   channels    = 1 + event_id % 2  (mono / stereo)
    * plus the three GASpecificConfig flag bits (all 0). */
  def aacAscEncode(eventId: Long, userId: Long): Array[Byte] = {
    val w = new NalKernels.BitWriter
    w.u((2 + userId % 3).toInt, 5)  // audioObjectType
    w.u((eventId % 13).toInt, 4)    // samplingFrequencyIndex
    w.u((1 + eventId % 2).toInt, 4) // channelConfiguration
    w.u(0, 3) // GASpecificConfig: frameLength/dependsOnCore/extension
    w.toBytes // 16 bits exactly — byte-aligned by construction
  }

  /** `graft_asc_to_adts(asc, frame)`: the aac_adtstoasc INVERSE filter
    * every audio pipeline runs when a container track is re-served as
    * a self-describing stream — render the 7-byte ADTS header
    * (ISO 14496-3 §1.A.2.2, protection_absent form, no CRC) from the
    * ASC's fields and frame the raw AAC payload behind it. Null when
    * the ASC is truncated, the object type is outside ADTS's 2-bit
    * profile range (1..4 — escaped types ≥ 32 included), the rate is
    * reserved (13/14) or explicit (15 — ADTS carries only the table
    * index), the channel configuration is 0 (PCE-borne) or > 7, or
    * the framed length overflows the 13-bit field. */
  def ascToAdts(asc: Array[Byte], frame: Array[Byte]): Array[Byte] = {
    if (asc == null || asc.length < 2 || frame == null) return null
    try {
      val r = new BitReader(asc)
      val objectType = r.u(5) // 31-escape lands ≥ 32: never ADTS-framable
      if (objectType < 1 || objectType > 4) return null
      val freqIndex = r.u(4)
      if (freqIndex >= 13) return null
      val channels = r.u(4)
      if (channels < 1 || channels > 7) return null
      val frameLen = 7 + frame.length
      if (frameLen >= (1 << 13)) return null
      val w = new NalKernels.BitWriter
      w.u(0xfff, 12)         // syncword
      w.u(0, 1)              // ID: MPEG-4
      w.u(0, 2)              // layer (always 00)
      w.u(1, 1)              // protection_absent
      w.u(objectType - 1, 2) // profile = audioObjectType - 1
      w.u(freqIndex, 4)      // sampling_frequency_index
      w.u(0, 1)              // private_bit
      w.u(channels, 3)       // channel_configuration
      w.u(0, 1); w.u(0, 1)   // original/copy, home
      w.u(0, 1); w.u(0, 1)   // copyright id bit / start
      w.u(frameLen, 13)      // aac_frame_length (header + payload)
      w.u(0x7ff, 11)         // buffer fullness: VBR
      w.u(0, 2)              // number_of_raw_data_blocks - 1
      val header = w.toBytes // 56 bits = 7 bytes exactly
      val out = new Array[Byte](7 + frame.length)
      System.arraycopy(header, 0, out, 0, 7)
      System.arraycopy(frame, 0, out, 7, frame.length)
      out
    } catch { case _: IndexOutOfBoundsException => null }
  }

  /** `graft_adts_parse(bytes)`: re-parse an ADTS frame's header back
    * into struct(object_type, sample_rate, channels, frame_length,
    * payload_bytes) — the verification half of [[ascToAdts]]. Null on
    * a bad syncword, a non-00 layer, a reserved rate index, or a
    * frame length inconsistent with the buffer. */
  def adtsParse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 7) return null
    try {
      val r = new BitReader(bytes)
      if (r.u(12) != 0xfff) return null
      r.u(1)                          // ID
      if (r.u(2) != 0) return null    // layer is always 00
      val protAbsent = r.u(1)
      val profile = r.u(2)
      val freqIndex = r.u(4)
      if (freqIndex >= 13) return null
      r.u(1)                          // private_bit
      val channels = r.u(3)
      r.u(4)                          // original/home/copyright bits
      val frameLen = r.u(13)
      val hdr = if (protAbsent == 1) 7 else 9
      if (frameLen < hdr || frameLen > bytes.length) return null
      InternalRow((profile + 1).toLong, AacRates(freqIndex).toLong,
        channels.toLong, frameLen.toLong, (frameLen - hdr).toLong)
    } catch { case _: IndexOutOfBoundsException => null }
  }

  /** `graft_aac_asc`: decode an AudioSpecificConfig into
    * struct(object_type, sample_rate, channels) — the 31-escape and the
    * explicit-rate (index 15) branches handled per the spec; null on a
    * truncated blob or a reserved frequency index (13/14). */
  def aacAsc(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 2) return null
    try {
      val r = new BitReader(bytes)
      var objectType = r.u(5)
      if (objectType == 31) objectType = 32 + r.u(6)
      val freqIndex = r.u(4)
      val rate =
        if (freqIndex == 15) r.u(24)
        else if (freqIndex < AacRates.length) AacRates(freqIndex)
        else return null // 13/14 reserved
      val channels = r.u(4)
      InternalRow(objectType.toLong, rate.toLong, channels.toLong)
    } catch { case _: IndexOutOfBoundsException => null }
  }
}

object AacAsc {
  val ascType: StructType = StructType(Seq(
    StructField("object_type", LongType),
    StructField("sample_rate", LongType),
    StructField("channels", LongType)))
}

object AdtsParse {
  val adtsType: StructType = StructType(Seq(
    StructField("object_type", LongType),
    StructField("sample_rate", LongType),
    StructField("channels", LongType),
    StructField("frame_length", LongType),
    StructField("payload_bytes", LongType)))
}
