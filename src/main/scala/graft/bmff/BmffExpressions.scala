package graft.bmff

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Kernels.call

/** The BMFF kernels behind the bmff_* functions
  * ([[graft.plans.Kernels]]) — the [[graft.ebml.EbmlKernels]] execution
  * shape (byte[] straight off the Tungsten row, InternalRow/ArrayData
  * out, one static call inside whole-stage codegen) applied to the MP4
  * walk. */
object BmffKernels {

  def encodeClip(eventId: Long, tsMs: Long, userId: Long, valueC: Long,
      props: UTF8String): Array[Byte] =
    Bmff.buildClip(eventId, tsMs, userId, valueC, props.getBytes)

  /** The readers are total: bytes that [[Bmff]] cannot parse give null,
    * so one bad clip does not fail its query. Only [[Bmff.BmffException]]
    * is caught; any other throw is a reader bug and stays loud. */
  private def orNull[T >: Null](read: => T): T =
    try read catch { case _: Bmff.BmffException => null }

  def boxesArray(buf: Array[Byte]): ArrayData = orNull {
    val bs = Bmff.boxes(buf)
    val rows = new Array[Any](bs.length)
    var i = 0
    while (i < bs.length) {
      val b = bs(i)
      rows(i) = InternalRow(UTF8String.fromString(b.typ), b.pos,
        b.size, b.depth.toLong)
      i += 1
    }
    new GenericArrayData(rows)
  }

  def clipRow(buf: Array[Byte]): InternalRow = orNull {
    val c = Bmff.clip(buf)
    InternalRow(c.seq32, c.baseMs, c.eventId, c.userId, c.valueC, c.mdatLen)
  }

  def clipPayload(buf: Array[Byte]): Array[Byte] = orNull(Bmff.clipPayload(buf))

  def splitArray(buf: Array[Byte]): ArrayData = orNull {
    val cs = Bmff.splitClips(buf)
    val rows = new Array[Any](cs.length)
    var i = 0
    while (i < cs.length) {
      rows(i) = InternalRow(cs(i)._1, cs(i)._2)
      i += 1
    }
    new GenericArrayData(rows)
  }
}

object BmffExpressions {
  val boxType: StructType = StructType(Seq(
    StructField("typ", StringType),
    StructField("position", LongType),
    StructField("size", LongType),
    StructField("depth", LongType)))

  val clipType: StructType = StructType(Seq(
    "seq32", "base_ms", "event_id", "user_id", "value_c", "mdat_len")
    .map(StructField(_, LongType)))

  val sliceType: StructType = StructType(Seq(
    StructField("position", LongType),
    StructField("clip", BinaryType)))
}

/** Column-level API, mirroring [[graft.ebml.EbmlFunctions]]. */
object BmffFunctions {
  /** Null when a numeric input is null; a null props encodes as empty. */
  def encodeClip(eventId: Column, tsMs: Column, userId: Column,
      valueC: Column, props: Column): Column =
    call("bmff_encode_clip", eventId, tsMs, userId, valueC, coalesce(props, lit("")))

  def parseBoxes(blob: Column): Column = call("bmff_boxes", blob)

  def parseClip(blob: Column): Column = call("bmff_clip", blob)

  def clipPayload(blob: Column): Column = call("bmff_clip_payload", blob)

  def splitClips(stream: Column): Column = call("bmff_split_clips", stream)
}
