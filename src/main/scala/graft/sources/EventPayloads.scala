package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import graft.bmff.BmffFunctions
import graft.ebml.EbmlFunctions
import graft.functions.{cents, nanosToMs}

/** The media fixture of an events row: testdata has no binary column,
  * so the multimodal queries and the capture archive encode each row as
  * a container payload — an MKV fragment or an fMP4 clip carrying the
  * row's (event_id, ts_ms, user_id, value cents) and a block payload.
  */
private[graft] object EventPayloads {

  /** `events` with `ts_ms` (the ns `ts` in ms) and the `encode` column
    * under `name`. `sorted` applies the global event_id order BEFORE
    * the encode projection: range-partition sampling for the final
    * sort then only evaluates the raw scan to pick split points,
    * instead of running encode+parse twice (measured 2x on the mm
    * queries). The projection above the sort preserves row order, and
    * fragment_number == event_id, so results are byte-identical to
    * sorting the parsed output. */
  def apply(events: DataFrame, name: String, encode: Column,
      sorted: Boolean = true): DataFrame = {
    val ms = events.withColumn("ts_ms", nanosToMs(col("ts")))
    (if (sorted) ms.orderBy("event_id") else ms).withColumn(name, encode)
  }

  /** MKV fragment whose SimpleBlock holds the row's `props` text. */
  def mkvProps: Column = EbmlFunctions.encodeFragment(
    col("event_id"), col("ts_ms"), col("user_id"), cents(col("value")),
    col("props"))

  /** MKV fragment whose SimpleBlock holds `frame`. */
  def mkvFrame(frame: Column): Column = EbmlFunctions.encodeFragmentFrame(
    col("event_id"), col("ts_ms"), col("user_id"), cents(col("value")),
    frame)

  /** MKV fragment with a Tracks element (CodecID, CodecPrivate) and
    * `frame` in its SimpleBlock. */
  def mkvTrack(codecId: Column, codecPrivate: Column, frame: Column): Column =
    EbmlFunctions.encodeFragmentTrack(
      col("event_id"), col("ts_ms"), col("user_id"), cents(col("value")),
      codecId, codecPrivate, frame)

  /** One-fragment fMP4 clip whose mdat holds the row's `props` text. */
  def mp4Props: Column = BmffFunctions.encodeClip(
    col("event_id"), col("ts_ms"), col("user_id"), cents(col("value")),
    col("props"))
}
