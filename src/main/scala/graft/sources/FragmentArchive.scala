package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Materializes the events table as an on-disk GetMedia capture archive
  * — payload files of back-to-back MKV fragments — for the `ebml`
  * DataSourceV2 to read ([[EbmlDataSource]]). This is the test-side
  * stand-in for what a real deployment already has: an object-store
  * prefix of archived media payloads (parser.py's cv2.imwrite tree,
  * :483-486, at archive scale).
  *
  * The write runs once per source generation ([[Fixtures.once]]) and is
  * distributed: fragments pack into per-group payload files exactly
  * like the continuous-stream shape (Multimodal.splitCore), and each task writes
  * its groups through the Hadoop filesystem API — the same code targets
  * local disk or an object store. One groupBy shuffle, then
  * embarrassingly parallel encode+write.
  */
object FragmentArchive {

  /** Builds (once) and returns the archive directory for `sfDir`'s
    * events. Payloads hold `groupSize` fragments each, concatenated in
    * event order. */
  def materialize(t: Tables, sfDir: String, groupSize: Long = 100L): String = {
    val spark = t.events.sparkSession
    import graft.ebml.EbmlFunctions
    import graft.functions._
    // v2: archives carry a _MANIFEST (per-file tag ranges for the ebml
    // source's file-skip pushdown); the version in the name keeps a
    // v1 archive from being read without one
    Fixtures.once(spark, s"ebml_archive_v2_g$groupSize", sfDir) { outStr =>
      // ship the session Hadoop conf entries into the write tasks
      // (shared HadoopConfShip pattern with the ebml source reader)
      val confEntries = HadoopConfShip.capture(spark)
      EventPayloads(t.events, "blob", EventPayloads.mkvProps, sorted = false)
        .withColumn("grp", intDiv(col("event_id"), groupSize))
        .groupBy("grp")
        .agg(sort_array(collect_list(struct(col("event_id"), col("blob"))))
          .as("parts"))
        .select(col("grp"), EbmlFunctions.concatBlobs(
          transform(col("parts"), p => p.getField("blob"))).as("payload"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val taskFs = new Path(outStr)
            .getFileSystem(HadoopConfShip.rebuild(confEntries))
          rows.foreach { r =>
            val p = new Path(outStr, f"payload_${r.getLong(0)}%06d.mkv")
            val os = taskFs.create(p, true)
            try os.write(r.getAs[Array[Byte]](1)) finally os.close()
          }
        }
      // the capture MANIFEST: per-payload-file min/max of the tag
      // columns a reader filters on (fragment_number = event_id,
      // producer_ts = ts_ms) — the row-group-stats idea for a media
      // archive, letting the ebml source's pushdown skip whole files.
      // File-count-sized (one line per payload), collected and written
      // driver-side like the listing the reader already does.
      val manifest = t.events
        .withColumn("ts_ms", nanosToMs(col("ts")))
        .withColumn("grp", intDiv(col("event_id"), groupSize))
        .groupBy("grp")
        .agg(min("event_id").as("minF"), max("event_id").as("maxF"),
          min("ts_ms").as("minT"), max("ts_ms").as("maxT"))
        .collect()
        .map(r => f"payload_${r.getLong(0)}%06d.mkv," +
          s"${r.getLong(1)},${r.getLong(2)},${r.getLong(3)},${r.getLong(4)}")
        .sorted.mkString("\n")
      val mfPath = new Path(outStr, "_MANIFEST")
      val mf = mfPath.getFileSystem(spark.sessionState.newHadoopConf())
        .create(mfPath, true)
      try mf.write(manifest.getBytes("UTF-8")) finally mf.close()
    }
  }
}
