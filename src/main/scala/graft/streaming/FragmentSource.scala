package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ingestion layer the reference calls GetMedia (parser.py:272-310):
  * establish a media stream, read fragment payloads, and on reconnect
  * resume from the last committed position.
  *
  * Spark-native form: a file/directory stream of fragment blobs — one
  * file per fragment, the unit GetMedia delivers — consumed by Structured
  * Streaming's file source. The reference's StartSelector mapping
  * (parser.py:292-303) becomes:
  *
  *   - `StartSelectorType: NOW`                → start with a fresh
  *     checkpoint location: only files arriving from now on are read;
  *   - `StartSelectorType: CONTINUATION_TOKEN` → restart with the SAME
  *     checkpoint location: the file-source commit log and the state
  *     store are the durable continuation token, so the query resumes
  *     exactly after the last committed fragment — even if already-read
  *     files have since been deleted (the reference's pipe is likewise
  *     gone after a reconnect).
  *
  * At cluster scale the directory is an object-store prefix; listing and
  * per-fragment parsing distribute across executors, and the checkpoint
  * lives on shared storage so any driver can resume the stream.
  */
object FragmentSource {

  /** The binaryFile source's fixed schema — streaming file sources
    * require it spelled out. */
  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Stream of raw fragment blobs from a directory: one file = one
    * fragment payload. `maxFilesPerTrigger` bounds micro-batch size the
    * way the reference's chunked `stream.read(...)` bounds one pipe
    * write (parser.py:325-333).
    *
    * Size note: the binaryFile source materializes a WHOLE payload file
    * as one row — right for file-per-fragment or modestly-chunked
    * GetMedia captures (MKV fragments are seconds of media), but an
    * operator pointing this at multi-GB payload archives should re-chunk
    * them upstream; a row must fit in executor memory. */
  def fragmentStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(col("content").as("blob"), col("path"))

  /** Continuous-payload stream: GetMedia delivers fragments back to back
    * on one connection, so a payload file may hold MANY fragments. Each
    * file is split at its EBML-header boundaries (parser.py:362-375) into
    * per-fragment rows carrying the absolute position inside the payload
    * — the same (file, position) pair the reference uses to associate
    * tags with packets. Splitting is per-row (no shuffle), so the stream
    * stays embarrassingly parallel. */
  def continuousStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1000): DataFrame =
    fragmentStream(spark, dir, maxFilesPerTrigger)
      .select(col("path"),
        explode(graft.ebml.EbmlFunctions.splitFragments(col("blob"))).as("fr"))
      .select(col("path"), col("fr.position").as("position"),
        col("fr.fragment").as("blob"))

  /** The full live pipeline from a directory source: blobs → EBML tags →
    * watermarked windowed per-producer rates (EventStreams). Payload
    * files holding several concatenated fragments are split first. Point
    * the writeStream at a checkpoint location to make it resumable. */
  def fragmentRates(spark: SparkSession, dir: String): DataFrame =
    EventStreams.fragmentPipeline(continuousStream(spark, dir))

  /** B13b — the GetClip/HLS ingestion path (round 15): the SAME
    * binaryFile source consuming fMP4 segment files, each split at its
    * top-level ftyp boundaries ([[graft.bmff.Bmff.splitClips]] — the
    * A8 back-to-back rule on the second container) and every clip
    * parsed to its typed fields. Stateless per-row split + parse, no
    * shuffle, no state store; the checkpoint is the continuation token
    * exactly as for the MKV path. A consumer that switches Kinesis
    * Video endpoints changes ONE source call, nothing downstream. */
  def clipStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1000): DataFrame =
    fragmentStream(spark, dir, maxFilesPerTrigger)
      .select(col("path"),
        explode(graft.bmff.BmffFunctions.splitClips(col("blob"))).as("fr"))
      .select(col("path"), col("fr.position").as("position"),
        graft.bmff.BmffFunctions.parseClip(col("fr.clip")).as("c"))
      .select(col("path"), col("position"),
        col("c.event_id").as("event_id"),
        col("c.base_ms").as("producer_ms"),
        col("c.user_id").as("user_id"),
        col("c.value_c").as("value_c"))
}
