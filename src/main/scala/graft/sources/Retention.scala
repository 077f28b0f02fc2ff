package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Bounded frame-store semantics (parser.py:475-481): the reference keeps
  * at most FrameQueueMaxLength frames and deletes the EVICTED frame's
  * file from disk as it falls off the queue. The Spark-native form keys
  * the store by a partition column (time bucket / fragment group) and
  * deletes whole partitions that fall out of the newest-N window —
  * file-level eviction expressed as partition-level retention, through
  * the Hadoop FileSystem API so the same code runs on local disk, HDFS,
  * or an object store.
  */
object Retention {

  /** Append `df` partitioned by `partitionCol`, then evict all but the
    * newest `keepNewest` partitions (lexicographic partition-value order —
    * use zero-padded buckets for time). Returns the evicted values. */
  def writeWithRetention(df: DataFrame, dir: String, partitionCol: String,
      keepNewest: Int): Seq[String] = {
    requireKeep(keepNewest)
    df.write.mode("append").partitionBy(partitionCol).parquet(dir)
    evictOldPartitions(df, dir, partitionCol, keepNewest)
  }

  /** Delete partitions beyond the newest `keepNewest` (the queue-overflow
    * branch of the reference's frame loop). */
  def evictOldPartitions(df: DataFrame, dir: String, partitionCol: String,
      keepNewest: Int): Seq[String] = {
    requireKeep(keepNewest)
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return Nil
    val prefix = partitionCol + "="
    val parts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .sortBy(_.getPath.getName)
    val evict = parts.dropRight(keepNewest)
    evict.foreach(s => fs.delete(s.getPath, true))
    evict.map(_.getPath.getName.stripPrefix(prefix))
  }

  /** A window below one partition would delete every bucket, the batch
    * just written included. */
  private[graft] def requireKeep(keepNewest: Int): Unit =
    require(keepNewest >= 1, s"keepNewest must be at least 1, got $keepNewest")
}
