package graft.ebml

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The EBML byte-walk kernels behind the ebml_* functions
  * ([[graft.plans.Kernels]]) — the round-6 replacement for the ScalaUDF
  * family that previously carried the multimodal path (SURVEY §5 named
  * this exact upgrade). The walk logic is [[Ebml]]'s; what changed is
  * the execution shape: a ScalaUDF pays CatalystTypeConverters both
  * ways on every row (byte[] copies in, case-class reflection/encoder
  * out), while a [[graft.plans.KernelCall]] of these statics reads
  * `byte[]`/UTF8String straight off the Tungsten row and emits
  * InternalRow/ArrayData directly, inside whole-stage codegen. The mm_*
  * family is 37 of the 192 catalog queries, and ebml_tags and
  * ebml_split_fragments run on every ConsumerApp micro-batch: the binary
  * path is the reference's core loop (ebml.py's reader / parser.py's
  * fragment walk), so this is the hottest per-row surface in the repo.
  */
object EbmlKernels {
  import EbmlFunctions._

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  /** The 9-field AWS tag struct of [[EbmlFunctions.FragmentTags]]. */
  def tagsRow(blob: Array[Byte]): InternalRow = {
    val m = Ebml.tags(blob)
    def g(k: String): UTF8String = m.get(k).map(u8).orNull
    InternalRow(g(FragmentNumber), g(ServerTs), g(ProducerTs),
      g(MillisBehind), g(ContinuationToken), g(UserIdTag), g(ValueCentsTag),
      g(ErrorCode), g(ErrorId))
  }

  /** Known element names pre-encoded once — the walk emits shared
    * UTF8String references instead of re-encoding per element. */
  private val idNames: java.util.HashMap[java.lang.Long, UTF8String] = {
    val m = new java.util.HashMap[java.lang.Long, UTF8String]()
    Ebml.IdTable.foreach { case (id, (name, _)) => m.put(id, u8(name)) }
    m
  }

  /** Element walk with head positions (ebml.py Position semantics).
    * HEAD-ONLY: the (name, size, position) projection needs no payload,
    * so unlike [[Ebml.elements]] this walk never decodes one — leaves
    * are skipped by size (the reference's InterestingElementNames
    * fast-forward applied to everything), no Element/String allocation
    * per node. Traversal order, container clamping, and truncated-tail
    * tolerance are identical to [[Ebml.elements]]; EbmlSpec pins the
    * head fields equal between the two walks. */
  def elementsArray(buf: Array[Byte]): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    def walk(from: Int, to: Int): Unit = {
      var pos = from
      var open = true
      while (open && pos < to) try {
        val start = pos
        val (id, idLen) = Ebml.readId(buf, pos)
        pos += idLen
        val (size, szLen) = Ebml.readSize(buf, pos)
        pos += szLen
        val known = Ebml.IdTable.getOrElse(id, null)
        val isMaster = known != null && known._2 == Ebml.MASTER
        val end = if (size < 0) to else (pos + size.toInt).min(to)
        // mirror the full walk's truncated-leaf rule: stop, don't emit
        if (!isMaster && size >= 0 && pos + size > to)
          throw new Ebml.EbmlException("truncated leaf payload")
        val name =
          if (known == null) u8(f"0x$id%x") else idNames.get(id: java.lang.Long)
        out += InternalRow(name, size, start.toLong)
        if (isMaster) walk(pos, end)
        pos = end
      } catch {
        case _: Ebml.EbmlException | _: ArrayIndexOutOfBoundsException =>
          open = false
      }
    }
    walk(0, buf.length)
    new GenericArrayData(out.toArray)
  }

  /** Continuous-stream fragment slices (parser.py:362-375 boundaries). */
  def splitArray(blob: Array[Byte]): ArrayData =
    new GenericArrayData(Ebml.splitFragments(blob).map {
      case (p, b) => InternalRow(p, b): Any
    }.toArray)

  /** First media block's FIRST frame payload, or null when the
    * fragment has no blocks. Lace-aware (round 17): a laced audio
    * block's first lace is a frame like any other; the graft writer's
    * lacing-free blocks take the single-frame fast path unchanged. */
  def firstBlock(blob: Array[Byte]): Array[Byte] =
    Ebml.blocks(blob).headOption.flatMap { b =>
      try Ebml.blockFrames(b).headOption
      catch {
        case _: Ebml.EbmlException | _: ArrayIndexOutOfBoundsException => None
      }
    }.orNull

  /** Concatenate an array-of-binary column into one stream payload. */
  def concatAll(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val parts = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { parts(i) = arr.getBinary(i); i += 1 }
    Ebml.concat(parts.toIndexedSeq: _*)
  }

  /** The three encoders take every argument non-null: their Column
    * helpers ([[EbmlFunctions]]) coalesce a null props/frame/codec
    * argument to empty, so only a null numeric input nulls the fragment. */
  def encode(eventId: Long, tsMs: Long, userId: Long, valueC: Long,
      props: UTF8String): Array[Byte] =
    EbmlFunctions.buildFragment(eventId, tsMs, userId, valueC, props.toString)

  def encodeFrame(eventId: Long, tsMs: Long, userId: Long, valueC: Long,
      frame: Array[Byte]): Array[Byte] =
    EbmlFunctions.buildFragmentFrame(eventId, tsMs, userId, valueC, frame)

  def encodeTrack(eventId: Long, tsMs: Long, userId: Long, valueC: Long,
      codecId: UTF8String, codecPrivate: Array[Byte],
      frame: Array[Byte]): Array[Byte] =
    EbmlFunctions.buildFragmentTrack(eventId, tsMs, userId, valueC,
      codecId.toString, codecPrivate, frame)

  private val TrackLeaves = Set("CodecID", "CodecPrivate")

  /** First TrackEntry's (codec_id, codec_private); null when the
    * fragment has no TrackEntry. Collection is scoped to EXACTLY the
    * first TrackEntry's payload byte range (head re-read for the id
    * and size varint widths), so leaves from a later track — or loose
    * leaves between entries — can never pair with the first track's
    * fields. The filtered walks skip every other leaf by size; media
    * payloads are never read. */
  def trackInfo(blob: Array[Byte]): InternalRow = {
    val entry = Ebml.elements(blob, Set("TrackEntry"))
      .find(_.name == "TrackEntry").orNull
    if (entry == null) return null
    val pos = entry.position.toInt
    val bounds =
      try {
        val (_, idLen) = Ebml.readId(blob, pos)
        val (size, szLen) = Ebml.readSize(blob, pos + idLen)
        val start = pos + idLen + szLen
        // An unknown-size (size < 0) TrackEntry has no delimited payload:
        // scoping "to end of blob" would let a LATER track's CodecPrivate
        // pair with this track's CodecID — treat it as malformed instead.
        if (size < 0) return null
        val end = math.min(blob.length.toLong, start + size).toInt
        (start, end)
      } catch {
        case _: Ebml.EbmlException | _: ArrayIndexOutOfBoundsException =>
          return null // truncated head: no readable first entry
      }
    var cid: UTF8String = null
    var cp: Array[Byte] = null
    Ebml.elements(blob, TrackLeaves, bounds._1, bounds._2).foreach { e =>
      if (e.name == "CodecID" && cid == null && e.stringValue != null)
        cid = u8(e.stringValue)
      else if (e.name == "CodecPrivate" && cp == null) cp = e.bytesValue
    }
    if (cid == null && cp == null) null else InternalRow(cid, cp)
  }
}

object EbmlExpressions {
  /** Must mirror [[EbmlFunctions.FragmentTags]] field-for-field: the
    * mm_* oracle schemas are pinned to these names. */
  val tagsType: StructType = StructType(Seq(
    "fragment_number", "server_ts", "producer_ts", "millis_behind",
    "continuation_token", "user_id", "value_cents", "error_code",
    "error_id").map(StructField(_, StringType)))

  val elementType: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("size", LongType),
    StructField("position", LongType)))

  val sliceType: StructType = StructType(Seq(
    StructField("position", LongType),
    StructField("fragment", BinaryType)))

  val trackInfoType: StructType = StructType(Seq(
    StructField("codec_id", StringType),
    StructField("codec_private", BinaryType)))
}
