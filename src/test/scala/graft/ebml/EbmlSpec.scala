package graft.ebml

import org.scalatest.funsuite.AnyFunSuite
import graft.ebml.Ebml._

class EbmlSpec extends AnyFunSuite {

  test("varint ids decode at 1-4 byte widths (ebml.py:185-197)") {
    assert(readId(Array(0x81.toByte), 0) == (0x81L, 1))
    assert(readId(Array(0x42.toByte, 0x86.toByte), 0) == (0x4286L, 2))
    assert(readId(Array(0x2a.toByte, 0xd7.toByte, 0xb1.toByte), 0) == (0x2ad7b1L, 3))
    assert(readId(Array(0x1a.toByte, 0x45.toByte, 0xdf.toByte, 0xa3.toByte), 0) ==
      (0x1a45dfa3L, 4))
    intercept[EbmlException](readId(Array(0x00.toByte), 0))
  }

  test("varint sizes decode, strip markers, flag unknown (ebml.py:199-247)") {
    assert(readSize(Array(0x81.toByte), 0) == (1L, 1))
    assert(readSize(Array(0x42.toByte, 0x00.toByte), 0) == (0x200L, 2))
    // fixed 8-byte encoding used by the writer
    val eight = Array[Byte](0x01, 0, 0, 0, 0, 0, 0, 0x2a)
    assert(readSize(eight, 0) == (42L, 8))
    // unknown-size sentinels: all value bits set
    assert(readSize(Array(0xff.toByte), 0) == (-1L, 1))
    assert(readSize(Array(0x7f.toByte, 0xff.toByte), 0) == (-1L, 2))
    intercept[EbmlException](readSize(Array(0x00.toByte), 0))
  }

  test("typed payloads: uint, float, utf8, date (ebml.py:307-349)") {
    val f8 = element(0x4489L, {
      val bits = java.lang.Double.doubleToLongBits(2.5)
      uintBytes(bits, 8)
    })
    val ts = element(0xe7L, uintBytes(123456789L, 8))
    val title = element(0x7ba9L, utf8("graft"))
    val date = element(0x4461L, uintBytes(1000L, 8)) // ns since 2001
    val els = elements(concat(f8, ts, title, date))
    assert(els.map(_.name) == Seq("Duration", "Timecode", "Title", "DateUTC"))
    assert(els(0).doubleValue == 2.5)
    assert(els(1).longValue == 123456789L)
    assert(els(2).stringValue == "graft")
    assert(els(3).longValue == 1000L)
  }

  test("continuous stream splits at each EBML header (parser.py:362-375)") {
    val f1 = EbmlFunctions.buildFragment(1L, 1000L, 10L, 100L, "aa")
    val f2 = EbmlFunctions.buildFragment(2L, 2000L, 11L, 200L, "bbbb")
    val f3 = EbmlFunctions.buildFragment(3L, 3000L, 12L, 300L, "c")
    val stream = concat(f1, f2, f3)
    val got = splitFragments(stream)
    assert(got.map(_._1) == Seq(0L, f1.length.toLong, (f1.length + f2.length).toLong))
    assert(got.map(_._2.toSeq) == Seq(f1.toSeq, f2.toSeq, f3.toSeq))
    // each slice re-parses to its own tag set
    assert(got.map(s => Ebml.tags(s._2)(EbmlFunctions.FragmentNumber)) == Seq("1", "2", "3"))
    // a truncated tail (partial last fragment) is dropped, complete ones kept
    val cut = java.util.Arrays.copyOfRange(stream, 0, f1.length + f2.length + 40)
    assert(splitFragments(cut).map(_._1) == Seq(0L, f1.length.toLong))
    // garbage-only input yields nothing
    assert(splitFragments(Array[Byte](0, 0, 0)).isEmpty)
  }

  test("unknown-size segments split at the next header, not the buffer end") {
    // live-streamed MKV encodes the Segment with the unknown-size VINT;
    // the fragment then ends only where the next EBML header begins
    val header = element(0x1a45dfa3L, concat(
      element(0x4282L, utf8("matroska")), element(0x4285L, uintBytes(2L, 1))))
    def unknownSegment(fragId: String): Array[Byte] = {
      val tags = element(0x1254c367L, element(0x7373L,
        simpleTag(EbmlFunctions.FragmentNumber, fragId)))
      // 0x18538067 id bytes + 0xFF (1-byte unknown-size VINT) + children
      concat(Array(0x18.toByte, 0x53.toByte, 0x80.toByte, 0x67.toByte,
        0xff.toByte), tags)
    }
    val f1 = concat(header, unknownSegment("1"))
    val f2 = concat(header, unknownSegment("2"))
    val got = splitFragments(concat(f1, f2))
    assert(got.map(_._1) == Seq(0L, f1.length.toLong),
      s"unknown-size segment swallowed the boundary: ${got.map(_._1)}")
    assert(got.map(s => Ebml.tags(s._2)(EbmlFunctions.FragmentNumber)) == Seq("1", "2"))
  }

  test("fragment round-trip: tags and positions (parser.py:352-366)") {
    val blob = EbmlFunctions.buildFragment(42L, 1700000000123L, 7L, 1234L, """{"k": 9}""")
    val tg = Ebml.tags(blob)
    assert(tg(EbmlFunctions.FragmentNumber) == "42")
    assert(tg(EbmlFunctions.ProducerTs) == "1700000000123")
    assert(tg(EbmlFunctions.ServerTs) == "1700000000123")
    assert(tg(EbmlFunctions.MillisBehind) == "0")
    assert(tg(EbmlFunctions.ContinuationToken) == "tok-42")
    assert(tg(EbmlFunctions.UserIdTag) == "7")
    assert(tg(EbmlFunctions.ValueCentsTag) == "1234")

    val els = elements(blob)
    assert(els.length == 31)
    // positions strictly increase and stay in range (ebml.py Position)
    assert(els.map(_.position) == els.map(_.position).sorted)
    assert(els.head.position == 0 && els.last.position < blob.length)
    assert(els.head.name == "EBML")
    assert(els.count(_.name == "SimpleTag") == 7)
  }

  test("block payload survives the SimpleBlock header (parser.py demux)") {
    val blob = EbmlFunctions.buildFragment(1L, 10L, 2L, 3L, "payload-bytes")
    val bs = blocks(blob)
    assert(bs.length == 1)
    assert(new String(bs.head.drop(4), "UTF-8") == "payload-bytes")
  }

  test("block lacing round-trips: Xiph, EBML, fixed (Matroska spec)") {
    def payloadOf(block: Array[Byte]): Array[Byte] = {
      // strip the element head (id + fixed 8-byte size varint)
      val (_, idLen) = readId(block, 0)
      val (_, szLen) = readSize(block, idLen)
      java.util.Arrays.copyOfRange(block, idLen + szLen, block.length)
    }
    def frame(len: Int, seed: Int): Array[Byte] =
      Array.tabulate(len)(i => ((i * 31 + seed) & 0xff).toByte)
    // Xiph: a 255-multiple size needs a 0 terminator byte; shrinking,
    // growing, and equal neighbors all round-trip
    val xiphFrames = Seq(frame(300, 1), frame(255, 2), frame(7, 3), frame(7, 4))
    val xb = payloadOf(simpleBlockLaced(xiphFrames, LaceXiph))
    assert(blockFrames(xb).map(_.toSeq) == xiphFrames.map(_.toSeq))
    // EBML: signed deltas cover negative (-293), zero, and positive
    val ebmlFrames = Seq(frame(300, 5), frame(7, 6), frame(7, 7), frame(500, 8))
    val eb = payloadOf(simpleBlockLaced(ebmlFrames, LaceEbml))
    assert(blockFrames(eb).map(_.toSeq) == ebmlFrames.map(_.toSeq))
    // fixed: equal sizes, no size table on the wire
    val fixedFrames = (0 until 5).map(i => frame(64, 10 + i))
    val fb = payloadOf(simpleBlockLaced(fixedFrames, LaceFixed))
    assert(blockFrames(fb).map(_.toSeq) == fixedFrames.map(_.toSeq))
    assert(fb.length == 5 + 5 * 64) // header + payloads only
    // unequal sizes must be rejected for fixed lacing
    intercept[IllegalArgumentException](
      simpleBlockLaced(Seq(frame(3, 1), frame(4, 2)), LaceFixed))
    // lacing-free writer output parses as one frame through the same path
    val lf = payloadOf(simpleBlock(frame(9, 9)))
    assert(blockFrames(lf).map(_.toSeq) == Seq(frame(9, 9).toSeq))
    // single-frame laces carry no size table (the implied-last rule)
    for (mode <- Seq(LaceXiph, LaceEbml, LaceFixed)) {
      val one = payloadOf(simpleBlockLaced(Seq(frame(11, 1)), mode))
      assert(blockFrames(one).map(_.toSeq) == Seq(frame(11, 1).toSeq), s"mode $mode")
    }
    // malformed laces throw, never mis-slice: overrunning Xiph size
    val bad = payloadOf(simpleBlockLaced(Seq(frame(10, 1), frame(10, 2)), LaceXiph))
    bad(4 + 1) = 0x7f // inflate the first lace size past the payload
    intercept[EbmlException](blockFrames(bad))
    // a TRUNCATED EBML size table must also surface as EbmlException
    // (the documented malformed-lace contract), not an array overrun
    val ebmlBad = payloadOf(simpleBlockLaced(
      Seq(frame(300, 1), frame(7, 2), frame(7, 3)), LaceEbml))
    intercept[EbmlException](blockFrames(ebmlBad.take(6))) // cut mid-vint
    intercept[EbmlException](blockFrames(Array[Byte]()))   // empty block
    // firstBlock surfaces the FIRST lace of a laced fragment
    val laced = EbmlFunctions.buildFragment(1L, 10L, 2L, 3L, "tags-only")
    val kern = EbmlKernels.firstBlock(laced)
    assert(kern != null) // existing lacing-free path unchanged
  }

  test("laced audio fragment: firstBlock returns the first lace") {
    // hand-build a fragment: EBML header + segment carrying one laced block
    val block = simpleBlockLaced(
      Seq("frame-A".getBytes("UTF-8"), "frame-BB".getBytes("UTF-8"),
        "frame-CCC".getBytes("UTF-8")), LaceEbml)
    val seg = element(0x18538067L, block) // Segment
    val head = element(0x1a45dfa3L, element(0x4285L, uintBytes(2L, 1))) // EBML/DocTypeReadVersion
    val first = EbmlKernels.firstBlock(head ++ seg)
    assert(first != null && new String(first, "UTF-8") == "frame-A")
  }

  test("unknown-size master runs to container end") {
    // Segment with unknown size (0xFF) containing one Timecode element
    val inner = element(0xe7L, uintBytes(5L, 8))
    val seg = concat(Array(0x18.toByte, 0x53.toByte, 0x80.toByte, 0x67.toByte,
      0xff.toByte), inner)
    val els = elements(seg)
    assert(els.map(_.name) == Seq("Segment", "Timecode"))
    assert(els(0).size == -1L)
    assert(els(1).longValue == 5L)
  }

  test("filtered walk skips uninteresting leaves but descends masters (ebml.py:307-327)") {
    val blob = EbmlFunctions.buildFragment(42L, 1700000000123L, 7L, 1234L, "x")
    val interesting = Set("Segment", "TagName", "TagString", "DocTypeReadVersion")
    val filtered = elements(blob, interesting)
    val full = elements(blob).filter(e => e.name != null && interesting.contains(e.name))
    assert(filtered.map(e => (e.name, e.position)) == full.map(e => (e.name, e.position)))
    // the reference's exact interesting set finds the fragment boundary + tags
    assert(filtered.count(_.name == "TagName") == 7)
    assert(filtered.exists(_.name == "DocTypeReadVersion"))
  }

  test("single-buffer encode is byte-identical to the composed writer") {
    // every mm oracle depends on the exact layout; the fast writer must
    // produce the same bytes as the readable element()/concat() form,
    // including edge shapes (empty props, max-width numbers)
    for ((id, ts, uid, vc, props) <- Seq(
        (42L, 1700000000123L, 7L, 1234L, """{"k":12}"""),
        (0L, 0L, 0L, 0L, ""),
        (Long.MaxValue, Long.MaxValue, Long.MaxValue, Long.MaxValue, "街道" * 100))) {
      val fast = EbmlFunctions.buildFragment(id, ts, uid, vc, props)
      val composed = EbmlFunctions.buildFragmentComposed(id, ts, uid, vc, props)
      assert(java.util.Arrays.equals(fast, composed), s"mismatch for id=$id")
    }
  }

  test("single-buffer track encode is byte-identical to the composed writer") {
    // the Tracks element (CodecID, CodecPrivate, TrackType from the
    // CodecID namespace) must sit between Tags and Cluster exactly as
    // the composed form nests it: video and audio codec ids, an empty
    // CodecPrivate, max-width numbers
    for ((id, ts, uid, vc, codecId, priv, frame) <- Seq(
        (42L, 1700000000123L, 7L, 1234L, "V_MPEG4/ISO/AVC",
          Array[Byte](1, 0x64, 0, 0x1f, -1), "\u0000\u0001frame"),
        (3L, 99L, 2L, -5L, "A_AAC", Array[Byte](0x12, 0x10), "pcm"),
        (0L, 0L, 0L, 0L, "V_MPEGH/ISO/HEVC", Array.emptyByteArray, ""),
        (Long.MaxValue, Long.MaxValue, Long.MaxValue, Long.MaxValue,
          "A_OPUS", Array.fill[Byte](300)(-128), "街道" * 100))) {
      val fast = EbmlFunctions.buildFragmentTrack(id, ts, uid, vc, codecId,
        priv, utf8(frame))
      val composed = EbmlFunctions.buildFragmentComposed(id, ts, uid, vc,
        frame, Some((codecId, priv)))
      assert(java.util.Arrays.equals(fast, composed),
        s"mismatch for id=$id codec=$codecId")
    }
  }

  test("truncated tail stops the walk instead of throwing (stream end)") {
    val blob = EbmlFunctions.buildFragment(1L, 10L, 2L, 3L, "x")
    val truncated = blob ++ Array(0x42.toByte) // dangling partial head
    assert(elements(truncated).length == elements(blob).length)
    val cut = blob.take(blob.length / 2)
    assert(elements(cut).nonEmpty) // parses the intact prefix
  }

  test("head-only kernel walk matches the full walk's heads exactly") {
    // EbmlKernels.elementsArray (the ebml_elements expression) skips
    // payload decode; its (name, size, position) stream must equal the
    // full decoding walk's on intact, truncated, AND unknown-id input
    def heads(blob: Array[Byte]): Seq[(String, Long, Long)] = {
      val arr = EbmlKernels.elementsArray(blob)
      (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 3)
        (r.getUTF8String(0).toString, r.getLong(1), r.getLong(2))
      }
    }
    def fullHeads(blob: Array[Byte]): Seq[(String, Long, Long)] =
      elements(blob).map(e =>
        (if (e.name == null) f"0x${e.id}%x" else e.name, e.size, e.position))
    val blob = EbmlFunctions.buildFragment(7L, 123456789L, 3L, 555L, "payload")
    assert(heads(blob) == fullHeads(blob))
    val cut = blob.take(blob.length / 2)
    assert(heads(cut) == fullHeads(cut))
    // unknown id: hex-formatted name, same either way
    val unknown = element(0x6ee9L, utf8("zz")) ++ blob
    assert(heads(unknown) == fullHeads(unknown))
    assert(heads(unknown).head._1 == "0x6ee9")
  }

  test("trackInfo scopes to the FIRST TrackEntry — multi-track fragments never pair fields across tracks") {
    // Tracks with two entries: video track WITHOUT CodecPrivate first,
    // audio track WITH CodecPrivate second — the advisory's case
    val cid1 = utf8("V_MPEG4/ISO/AVC")
    val cid2 = utf8("A_AAC")
    val cp2 = Array[Byte](0x12, 0x10)
    val e1 = 9L + cid1.length
    val e2 = (9L + cid2.length) + (10L + cp2.length)
    val tracksPayload = (9L + e1) + (9L + e2)
    val w = new Writer(new Array[Byte]((12L + tracksPayload).toInt))
    w.head(0x1654ae6bL, tracksPayload)
    w.head(0xaeL, e1)
    w.head(0x86L, cid1.length.toLong); w.bytes(cid1)
    w.head(0xaeL, e2)
    w.head(0x86L, cid2.length.toLong); w.bytes(cid2)
    w.head(0x63a2L, cp2.length.toLong); w.bytes(cp2)
    val row = EbmlKernels.trackInfo(w.buf)
    assert(row != null)
    assert(row.getUTF8String(0).toString == "V_MPEG4/ISO/AVC")
    assert(row.isNullAt(1),
      "CodecPrivate must NOT be taken from the second TrackEntry")
    // order flipped: the full (cid, cp) pair comes from the first entry
    val w2 = new Writer(new Array[Byte]((12L + tracksPayload).toInt))
    w2.head(0x1654ae6bL, tracksPayload)
    w2.head(0xaeL, e2)
    w2.head(0x86L, cid2.length.toLong); w2.bytes(cid2)
    w2.head(0x63a2L, cp2.length.toLong); w2.bytes(cp2)
    w2.head(0xaeL, e1)
    w2.head(0x86L, cid1.length.toLong); w2.bytes(cid1)
    val row2 = EbmlKernels.trackInfo(w2.buf)
    assert(row2 != null)
    assert(row2.getUTF8String(0).toString == "A_AAC")
    assert(java.util.Arrays.equals(row2.getBinary(1), cp2))
    // leaves OUTSIDE any TrackEntry are never collected
    val loose = element(0x86L, cid1)
    assert(EbmlKernels.trackInfo(loose) == null)
    // a loose CodecPrivate INSIDE Tracks but AFTER the first entry's
    // payload (belonging to no track) must not pair with the first
    // track's CodecID — the scope is the entry's exact byte range
    val loosePayload = (9L + e1) + (10L + cp2.length)
    val w3 = new Writer(new Array[Byte]((12L + loosePayload).toInt))
    w3.head(0x1654ae6bL, loosePayload)
    w3.head(0xaeL, e1)
    w3.head(0x86L, cid1.length.toLong); w3.bytes(cid1)
    w3.head(0x63a2L, cp2.length.toLong); w3.bytes(cp2)
    val row3 = EbmlKernels.trackInfo(w3.buf)
    assert(row3 != null)
    assert(row3.getUTF8String(0).toString == "V_MPEG4/ISO/AVC")
    assert(row3.isNullAt(1),
      "a loose CodecPrivate after the first entry must NOT be collected")
  }

  test("CRC-32: armed masters verify, corruption fails, CRC-free blobs are vacuously valid (Matroska §CRC-32)") {
    // the generator's fragments carry no CRC-32 → vacuously valid, and
    // the tag/element walks are unaffected
    val plain = EbmlFunctions.buildFragment(5L, 1700000000000L, 2L, 99L, "{}")
    assert(crcValid(plain))

    // arm a Tags master: CRC-32 first, checksumming the rest of the payload
    val inner = concat(simpleTag("K", "V"), simpleTag("K2", "V2"))
    val armed = element(0x1254c367L, concat(crc32Element(inner), inner))
    assert(crcValid(armed))
    // the element walk surfaces the CRC element by name and still
    // finds the tags behind it (round-trip)
    val els = elements(armed)
    assert(els.exists(_.name == "CRC-32"))
    val blob2 = concat(armed)
    assert(Ebml.tags(blob2) == Map("K" -> "V", "K2" -> "V2"))

    // corrupt one payload byte AFTER the CRC element → invalid
    val corruptPayload = armed.clone()
    corruptPayload(corruptPayload.length - 1) =
      (corruptPayload(corruptPayload.length - 1) ^ 0x01).toByte
    assert(!crcValid(corruptPayload))
    // corrupt the stored CRC itself → invalid
    val corruptCrc = armed.clone()
    // heads are id + the writer's fixed 8-byte size varint
    val crcPayloadPos = idLen(0x1254c367L) + 8 + idLen(Crc32Id) + 8
    corruptCrc(crcPayloadPos) = (corruptCrc(crcPayloadPos) ^ 0x01).toByte
    assert(!crcValid(corruptCrc))

    // nested arming: Segment armed around an armed Tags child — both
    // verify; corrupting the inner payload fails BOTH scopes
    val segPayload = concat(crc32Element(armed), armed)
    val seg = element(0x18538067L, segPayload)
    assert(crcValid(seg))
    val segCorrupt = seg.clone()
    segCorrupt(segCorrupt.length - 1) =
      (segCorrupt(segCorrupt.length - 1) ^ 0x01).toByte
    assert(!crcValid(segCorrupt))

    // spec placement violations: a CRC-32 that is not its scope's
    // first element, or with a payload != 4 bytes, is malformed
    val misplaced = element(0x1254c367L, concat(inner, crc32Element(inner)))
    assert(!crcValid(misplaced))
    val badSize = element(0x1254c367L,
      concat(element(Crc32Id, Array[Byte](1, 2, 3)), inner))
    assert(!crcValid(badSize))
  }
}
