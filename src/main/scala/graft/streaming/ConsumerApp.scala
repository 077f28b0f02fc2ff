package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ebml.EbmlFunctions
import graft.functions.{batchStamp, intDiv}
import graft.sources.Retention

/** The reference application end to end (parser.py's Parser lifecycle) as
  * ONE resumable streaming query:
  *
  *   GetMedia payloads   → directory of payload files (FragmentSource)
  *   fragment boundaries → per-fragment rows with positions (splitter)
  *   tag extraction      → typed fragment records (EbmlFunctions)
  *   reconnect replays   → replayDedup inside the watermark horizon
  *   frame persistence   → time-bucketed store with newest-N partition
  *                         eviction (Retention, parser.py:475-481)
  *
  * Kill the process and start it again with the same checkpoint: the
  * query resumes after the last committed payload (the continuation
  * token), dedup state intact. The split and tag stage is per-row and
  * spreads over the executors. The store write is one task per
  * micro-batch, and since it adds no shuffle, that task also runs the
  * batch's dedup state partitions (the state keeps its partition count).
  * A batch's tag records are ~100 bytes per fragment, so one task keeps
  * up, and it writes one file per bucket per batch instead of one per
  * state partition: fewer files to create, commit and read back.
  */
object ConsumerApp {

  /** Typed fragment records from a payload directory. */
  def fragmentRecords(spark: SparkSession, inDir: String): DataFrame =
    FragmentSource.continuousStream(spark, inDir)
      .withColumn("tg", EbmlFunctions.parseTags(col("blob")))
      .select(
        col("tg.fragment_number").cast("long").as("fragment_number"),
        col("tg.user_id").cast("long").as("producer_id"),
        timestamp_millis(col("tg.producer_ts").cast("long")).as("producer_time"),
        col("tg.millis_behind").cast("long").as("millis_behind"),
        col("tg.continuation_token").as("token"),
        col("position"))

  /** Persist one micro-batch IDEMPOTENTLY: foreachBatch re-executes a
    * batch after a failure, so a plain append would double-write its
    * fragments. Dynamic partition overwrite keyed by (bucket, batch id)
    * makes the retry replace exactly its own partitions instead. Old
    * buckets are evicted after the write (parser.py:475-481).
    *
    * One task writes the batch (`coalesce(1)` after the state operator).
    * The batch id reaches the generated code as a reference, not a
    * literal, so the write stage compiles once per query rather than
    * once per batch. */
  def persistBatch(batch: DataFrame, batchId: Long, storeDir: String,
      keepNewest: Int): Unit = {
    batch.coalesce(1).withColumn("ingest_batch", batchStamp(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "ingest_batch")
      .parquet(storeDir)
    Retention.evictOldPartitions(batch, storeDir, "bucket", keepNewest)
    ()
  }

  /** Start the consumer: dedup replayed fragments, persist them bucketed
    * by producer time (zero-padded so retention order is lexicographic),
    * keep only the newest `keepNewest` buckets. */
  def start(spark: SparkSession, inDir: String, storeDir: String,
      checkpointDir: String, keepNewest: Int = 24,
      bucketMs: Long = 600000L): StreamingQuery = {
    Retention.requireKeep(keepNewest) // here, not in the first foreachBatch
    EventStreams.replayDedup(fragmentRecords(spark, inDir),
        tsCol = "producer_time", idCol = "fragment_number")
      .withColumn("bucket", format_string("%019d",
        intDiv(unix_millis(col("producer_time")), bucketMs)))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        persistBatch(batch, batchId, storeDir, keepNewest)
      }
      .start()
  }
}
