package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Hashing

/** H13 MERGE upsert: content semantics, touched-partition-only rewrite,
  * empty-bucket sweep, replay idempotency. The oracle query
  * (merge_upsert) pins the full-state content at sf0.01; these pin the
  * STORAGE behavior — which partitions a merge may touch. */
class SnapshotSpec extends SparkSpec {

  private val B = Snapshot.DefaultBuckets
  private def bucket(k: Long): Long = {
    val m = Hashing.mix64(k) % B
    if (m < 0) m + B else m
  }

  private def freshDir(): String =
    tempDir("graft_snapshot_spec") + "/snap"

  private def baseDf(keys: Seq[Long]) = {
    import spark.implicits._
    keys.map(k => (k, s"v$k")).toDF("k", "payload")
  }

  test("merge applies upsert/insert/delete and is replay-idempotent") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.writeBase(baseDf(1L to 20L), "k", dir)
    val batch = Seq(
      (3L, "v3-new", "U"),   // replace
      (100L, "v100", "U"),   // insert (new key)
      (7L, null.asInstanceOf[String], "D") // delete
    ).toDF("k", "payload", "op")
    Snapshot.merge(spark, dir, batch, "k")
    val expect = ((1L to 20L).filterNot(_ == 7L).map(k =>
      k -> (if (k == 3L) "v3-new" else s"v$k")) :+ (100L -> "v100")).toMap
    def state() = Snapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == expect)
    // replay: merging the same batch into the merged state is a no-op
    Snapshot.merge(spark, dir, batch, "k")
    assert(state() == expect)
  }

  test("untouched partitions are neither rewritten nor scanned (touched-only contract)") {
    import spark.implicits._
    val dir = freshDir()
    val keys = (1L to 200L)
    Snapshot.writeBase(baseDf(keys), "k", dir)
    // a single-key batch touches exactly one bucket
    val k0 = 5L
    val batch = Seq((k0, "changed", "U")).toDF("k", "payload", "op")
    val touchedBucket = bucket(k0)
    def partFiles(b: Long): Set[(String, Long)] = {
      val d = new java.io.File(s"$dir/bucket=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val before = (0L until B).map(b => b -> partFiles(b)).toMap
    // the scan the merge builds prunes at the partition level
    val prunedPlan = spark.read.parquet(dir)
      .filter(col("bucket").isin(touchedBucket))
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters"),
      s"bucket filter did not reach PartitionFilters:\n$prunedPlan")
    Snapshot.merge(spark, dir, batch, "k")
    val after = (0L until B).map(b => b -> partFiles(b)).toMap
    for (b <- 0L until B if b != touchedBucket)
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    assert(after(touchedBucket) != before(touchedBucket),
      "touched bucket was not rewritten")
    // and the content survived intact
    val got = Snapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(k0) == "changed" && got.size == keys.size)
  }

  private def cdcBatch(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v", "op", "payload")
      .select(col("k"), col("v").as("ver"), col("op"), col("payload"))
  }

  private def cdcState(dir: String): Map[Long, (Long, String)] =
    Snapshot.readLive(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  test("mergeCdc: version discipline — an older change arriving later cannot regress state") {
    val dir = freshDir()
    Snapshot.mergeCdc(spark, dir, cdcBatch(Seq((1L, 5L, "U", "v5"))), "k")
    Snapshot.mergeCdc(spark, dir, cdcBatch(Seq((1L, 3L, "U", "v3-stale"))), "k")
    assert(cdcState(dir) == Map(1L -> (5L, "v5")))
  }

  test("mergeCdc: tombstones block resurrection by stale upserts, newer upserts revive") {
    val dir = freshDir()
    Snapshot.mergeCdc(spark, dir, cdcBatch(Seq((1L, 10L, "D", "x"), (2L, 1L, "U", "a"))), "k")
    // stale upsert (ver 7 < tombstone ver 10) must NOT resurrect key 1
    Snapshot.mergeCdc(spark, dir, cdcBatch(Seq((1L, 7L, "U", "stale"))), "k")
    assert(cdcState(dir) == Map(2L -> (1L, "a")))
    // a genuinely newer upsert revives it
    Snapshot.mergeCdc(spark, dir, cdcBatch(Seq((1L, 12L, "U", "revived"))), "k")
    assert(cdcState(dir) == Map(1L -> (12L, "revived"), 2L -> (1L, "a")))
  }

  test("mergeCdc: end state is batch-split invariant and equals the latest-wins election") {
    import spark.implicits._
    // a changelog of 60 changes over 12 keys, versions shuffled across
    // batches deterministically
    val changes = (1L to 60L).map { v =>
      val k = v % 12
      val op = if (Hashing.mix64(v) % 4 == 0) "D" else "U"
      (k, v, op, s"p$v")
    }
    val expect = changes.groupBy(_._1).map { case (k, cs) =>
      k -> cs.maxBy(_._2)
    }.collect { case (k, (_, v, "U", p)) => k -> (v, p) }.toMap
    for (nSplits <- Seq(1, 3, 5)) {
      val dir = freshDir()
      // interleaved assignment + reversed application order: batches
      // arrive thoroughly out of version order
      val batches = (0 until nSplits).reverse.map(i =>
        changes.filter(c => (c._2 % nSplits) == i))
      batches.foreach(b => Snapshot.mergeCdc(spark, dir, cdcBatch(b), "k"))
      assert(cdcState(dir) == expect, s"state diverged at $nSplits splits")
      // replaying every batch again is a no-op
      batches.foreach(b => Snapshot.mergeCdc(spark, dir, cdcBatch(b), "k"))
      assert(cdcState(dir) == expect, s"replay changed state at $nSplits splits")
    }
  }

  test("mergeCdc as a streaming sink: foreachBatch loop over a MemoryStream changelog ≡ latest-wins") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    val input = MemoryStream[(Long, Long, String, String)]
    val q = input.toDF().toDF("k", "v", "op", "payload")
      .select(col("k"), col("v").as("ver"), col("op"), col("payload"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Snapshot.mergeCdc(spark, dir, batch, "k")
      }
      .outputMode("append")
      .option("checkpointLocation", tempDir("cdc_ck"))
      .start()
    input.addData((1L, 2L, "U", "b1"), (2L, 1L, "U", "x"))
    q.processAllAvailable()
    input.addData((1L, 1L, "U", "stale"), (2L, 5L, "D", ""))
    q.processAllAvailable()
    input.addData((3L, 9L, "U", "new"))
    q.processAllAvailable()
    q.stop()
    assert(cdcState(dir) == Map(1L -> (2L, "b1"), 3L -> (9L, "new")))
  }

  test("compaction bin-packs merge-fragmented partitions losslessly; large files untouched (H14)") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.writeBase(baseDf(1L to 200L), "k", dir)
    // fragment: five single-key merges each leave another small file in
    // the touched partition
    for (k <- Seq(5L, 5L + 16L, 5L + 32L, 5L + 48L, 5L + 64L)) {
      val b = Seq((k, s"u$k", "U")).toDF("k", "payload", "op")
      Snapshot.merge(spark, dir, b, "k")
    }
    def contents() = Snapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def nFiles() = (0L until B.toLong).map { b =>
      val d = new java.io.File(s"$dir/bucket=$b")
      if (d.exists()) d.listFiles().count(_.getName.endsWith(".parquet")) else 0
    }.sum
    val want = contents()
    val fragmented = nFiles()
    // everything here is tiny, so with a 1 MiB small-file threshold all
    // files pack; huge target -> exactly one output file per partition
    val stats = Compaction.compact(spark, dir,
      targetBytes = 1L << 30, smallBytes = 1L << 20)
    assert(stats.filesBefore == fragmented)
    assert(stats.filesAfter < fragmented, s"no packing happened: $stats")
    assert(nFiles() == stats.filesAfter)
    assert(contents() == want, "compaction changed table content")
    // idempotent: a second pass finds <= 1 small file per partition
    val again = Compaction.compact(spark, dir,
      targetBytes = 1L << 30, smallBytes = 1L << 20)
    assert(again.partitionsCompacted == 0 && nFiles() == stats.filesAfter)
    // smallBytes = 1: nothing qualifies as small -> untouched no-op
    val files0 = (0L until B.toLong).flatMap { b =>
      val d = new java.io.File(s"$dir/bucket=$b")
      if (d.exists()) d.listFiles().map(f => f.getName -> f.lastModified()) else Nil
    }.toSet
    val noop = Compaction.compact(spark, dir, smallBytes = 1L)
    assert(noop.partitionsCompacted == 0 && noop.bytesRewritten == 0L)
    val files1 = (0L until B.toLong).flatMap { b =>
      val d = new java.io.File(s"$dir/bucket=$b")
      if (d.exists()) d.listFiles().map(f => f.getName -> f.lastModified()) else Nil
    }.toSet
    assert(files1 == files0, "no-op compaction touched files")
  }

  test("lifecycle: merge -> compact -> merge preserves content and the maintenance loop composes (H13+H14)") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.writeBase(baseDf(1L to 100L), "k", dir)
    def upd(k: Long) = Seq((k, s"u$k", "U")).toDF("k", "payload", "op")
    // fragment with three merges, compact, then merge AGAIN into the
    // compacted layout — the weekly maintenance loop a real table runs
    Seq(7L, 23L, 39L).foreach(k => Snapshot.merge(spark, dir, upd(k), "k"))
    Compaction.compact(spark, dir, targetBytes = 1L << 30, smallBytes = 1L << 20)
    Snapshot.merge(spark, dir, upd(55L), "k")
    val got = Snapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = (1L to 100L).map(k =>
      k -> (if (Seq(7L, 23L, 39L, 55L).contains(k)) s"u$k" else s"v$k")).toMap
    assert(got == expect, "content diverged across the maintenance loop")
    // and compacted files are real inputs to the next merge: the final
    // merge read the compacted partition without error and the swept
    // staging dirs are gone
    (0L until B.toLong).foreach { b =>
      val d = new java.io.File(s"$dir/bucket=$b")
      if (d.exists())
        assert(!d.listFiles().exists(_.getName == "_compact_tmp"))
    }
  }

  test("compaction crash recovery: a run killed between move-in and delete converges, no duplicates (H14)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = freshDir()
    // 8-way parallel base write: every bucket lands several files
    Snapshot.writeBase(baseDf(1L to 200L).repartition(8), "k", dir)
    val want = Snapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // construct the EXACT post-crash state: staged files moved in,
    // redo marker present, old small files NOT yet deleted
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.startsWith("bucket="))
      .maxBy(s => fs.listStatus(s.getPath).count(_.getPath.getName.endsWith(".parquet")))
      .getPath
    val smalls = fs.listStatus(part)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(smalls.length >= 2, "fixture must be fragmented")
    // stage a combined file the way compact() would
    val tmp = new Path(part, "_compact_tmp")
    spark.read.option("basePath", dir)
      .parquet(smalls.map(_.getPath.toString): _*)
      .drop("bucket").coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val pending = new Path(part, "_compact_pending")
    val o = fs.create(pending, true)
    o.write(smalls.map(_.getPath.getName).mkString("\n").getBytes("UTF-8"))
    o.close()
    // "crash" happened: move HALF the staged files in (here: the one
    // staged file stays in tmp — the crash-before-any-rename case),
    // then a second scenario below covers crash-after-renames
    // scenario A: recovery must finish the moves and delete the smalls
    // (smallBytes = 1 => the pass does recovery ONLY, leaving the other
    // partitions fragmented for scenario B)
    val statsA = Compaction.compact(spark, dir, smallBytes = 1L)
    val gotA = Snapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotA == want, "recovery diverged (crash before renames)")
    assert(!fs.exists(pending) && !fs.exists(tmp))
    val _ = statsA
    // scenario B: crash AFTER the renames, before the deletes — the
    // reviewed duplicate window. Re-fragment a DIFFERENT partition (the
    // first one still holding >= 2 files), stage, move in, leave
    // marker + old smalls in place.
    val want2 = want
    val part2 = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.startsWith("bucket="))
      .filter(_.getPath != part)
      .find(s => fs.listStatus(s.getPath)
        .count(x => x.isFile && x.getPath.getName.endsWith(".parquet")) >= 2)
      .map(_.getPath).getOrElse(fail("no second fragmented partition"))
    val tmp2 = new Path(part2, "_compact_tmp")
    val pending2 = new Path(part2, "_compact_pending")
    val smalls2 = fs.listStatus(part2)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(smalls2.length >= 2)
    spark.read.option("basePath", dir)
      .parquet(smalls2.map(_.getPath.toString): _*)
      .drop("bucket").coalesce(1)
      .write.mode("overwrite").parquet(tmp2.toString)
    val o2 = fs.create(pending2, true)
    o2.write(smalls2.map(_.getPath.getName).mkString("\n").getBytes("UTF-8"))
    o2.close()
    fs.listStatus(tmp2).filter(_.getPath.getName.endsWith(".parquet")).foreach { s =>
      fs.rename(s.getPath, new Path(part2, "compacted-" + s.getPath.getName))
    }
    // duplicates are now VISIBLE (moved-in copy + undeleted originals);
    // recovery must fold them away, not bake them in
    Compaction.compact(spark, dir, targetBytes = 1L << 30, smallBytes = 1L << 20)
    val gotB = Snapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotB == want2, "recovery baked in the crash-window duplicates")
    assert(Snapshot.read(spark, dir).count() == want2.size.toLong)
  }

  test("a bucket whose rows are all deleted is swept (dynamic overwrite writes nothing there)") {
    import spark.implicits._
    val dir = freshDir()
    // find a bucket with few keys among 1..40, delete ALL of them
    val keys = (1L to 40L)
    val byBucket = keys.groupBy(bucket)
    val (victim, victimKeys) = byBucket.minBy(_._2.size)
    Snapshot.writeBase(baseDf(keys), "k", dir)
    val batch = victimKeys.map(k => (k, null.asInstanceOf[String], "D"))
      .toDF("k", "payload", "op")
    Snapshot.merge(spark, dir, batch, "k")
    assert(!new java.io.File(s"$dir/bucket=$victim").exists(),
      s"emptied bucket $victim still has files")
    val got = Snapshot.read(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got == keys.toSet -- victimKeys)
  }

  test("point lookups scan one bucket: live hit, tombstoned None, absent None (B30)") {
    import spark.implicits._
    val dir = freshDir()
    Snapshot.writeBase(baseDf(1L to 200L), "k", dir)
    // merge-store lookup: a hit returns the payload, a miss None
    assert(Snapshot.lookup(spark, dir, "k", 42L)
      .map(_.getString(1)).contains("v42"))
    assert(Snapshot.lookup(spark, dir, "k", 9999L).isEmpty)
    // the read actually touches ONE bucket directory
    val files = spark.read.parquet(dir)
      .filter(col("bucket") === bucket(42L) && col("k") === 42L)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(files.nonEmpty &&
      files.map(f => f.substring(f.indexOf("bucket="))
        .split("/").head).size == 1, files.toString)
    // CDC-store lookup: tombstones resolve to None (the readLive
    // contract at point-read cost)
    val cdcDir = freshDir()
    val changes = Seq(
      (1L, 10L, 1L, "U", "a"), (2L, 10L, 2L, "U", "b"),
      (2L, 20L, 3L, "D", null.asInstanceOf[String]))
      .toDF("k", "ts_ms", "event_id", "op", "payload")
      .select(col("k"), struct(col("ts_ms"), col("event_id")).as("ver"),
        col("op"), col("payload"))
    Snapshot.mergeCdc(spark, cdcDir, changes, "k")
    assert(Snapshot.lookupLive(spark, cdcDir, "k", 1L)
      .map(_.getString(2)).contains("a"))
    assert(Snapshot.lookupLive(spark, cdcDir, "k", 2L).isEmpty,
      "tombstoned key must resolve to None")
    assert(Snapshot.lookupLive(spark, cdcDir, "k", 3L).isEmpty)
  }
}
