package graft.sources

import graft.SparkSpec
import graft.sources.FrameRing.Frame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class FrameRingSpec extends SparkSpec {

  private def freshDir(): String =
    tempDir("graft_frame_ring") +
      "/store"

  private def mkPayload(id: Long): Array[Byte] =
    Array[Byte](id.toByte, (id + 1).toByte)

  test("catch_frame fold: gap thinning from the last ACCEPTED frame, bounded eviction, late drop") {
    val frames = (0L to 9L).map(i =>
      Frame(i * 100L, i, s"t$i", mkPayload(i)))
    // gap 250ms over 100ms-spaced frames: greedy keeps 0, 300, 600, 900
    val thinned = FrameRing.foldRing(Nil, frames, 10, 250L)
    assert(thinned.map(_.ts_ms) == Seq(0L, 300L, 600L, 900L))
    // eviction keeps the NEWEST maxLen, and the gap rule survives it
    // (it depends only on the newest accepted frame)
    val bounded = FrameRing.foldRing(Nil, frames, 3, 250L)
    assert(bounded.map(_.ts_ms) == Seq(300L, 600L, 900L))
    // an arrival behind the newest accepted frame is dropped
    val late = FrameRing.foldRing(bounded,
      Seq(Frame(700L, 99L, "late", mkPayload(99L))), 3, 250L)
    assert(late == bounded)
    // incremental fold ≡ one-shot fold on any split point
    (1 to 9).foreach { cut =>
      val (a, b) = frames.splitAt(cut)
      assert(FrameRing.foldRing(FrameRing.foldRing(Nil, a, 3, 250L),
        b, 3, 250L) == bounded, s"split at $cut diverges")
    }
  }

  test("streamed maintenance ≡ batch bootstrap; accessors are reference-faithful; point read scans ONE bucket (B29)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val streamDir = freshDir()
    val batchDir = freshDir()
    val maxLen = 3
    val gap = 150L
    // two streams whose keys land in DIFFERENT buckets, frames arriving
    // across three micro-batches
    val s1 = 7L
    val s2 = 11L
    val all = Seq(
      (s1, 0L, 1L, "a", mkPayload(1L)), (s2, 0L, 2L, "x", mkPayload(2L)),
      (s1, 100L, 3L, "b", mkPayload(3L)), (s1, 200L, 4L, "c", mkPayload(4L)),
      (s2, 500L, 5L, "y", mkPayload(5L)), (s1, 400L, 6L, "d", mkPayload(6L)),
      (s1, 600L, 7L, "e", mkPayload(7L)), (s1, 900L, 8L, "f", mkPayload(8L)))
    val input = MemoryStream[(Long, Long, Long, String, Array[Byte])]
    val q = FrameRing.maintainStream(
        input.toDF().toDF("stream_id", "ts_ms", "frame_id", "tags", "payload"),
        streamDir, maxLen, gap)
      .option("checkpointLocation",
        tempDir("frame_ring_ck"))
      .start()
    try {
      input.addData(all.take(3): _*); q.processAllAvailable()
      input.addData(all.slice(3, 6): _*); q.processAllAvailable()
      input.addData(all.drop(6): _*); q.processAllAvailable()
    } finally q.stop()
    // one-shot batch bootstrap over the union
    FrameRing.applyBatch(spark, batchDir,
      all.toDF("stream_id", "ts_ms", "frame_id", "tags", "payload"),
      maxLen, gap)
    for (sid <- Seq(s1, s2)) {
      val streamed = FrameRing.ringOf(spark, streamDir, sid)
        .map(f => (f.ts_ms, f.frame_id, f.tags, f.payload.toSeq))
      val batch = FrameRing.ringOf(spark, batchDir, sid)
        .map(f => (f.ts_ms, f.frame_id, f.tags, f.payload.toSeq))
      assert(streamed == batch, s"stream $sid: $streamed != $batch")
    }
    // driver replay: s1 greedy at gap 150 accepts ts 0,200,400,600,900
    // → newest 3 = (400,6),(600,7),(900,8)
    val r1 = FrameRing.ringOf(spark, streamDir, s1)
    assert(r1.map(f => (f.ts_ms, f.frame_id)) ==
      Seq((400L, 6L), (600L, 7L), (900L, 8L)), r1.map(_.ts_ms).toString)
    // GetLastFrame = newest; GetFrame indexes the CURRENT queue with
    // None outside bounds (parser.py:489-513)
    assert(FrameRing.lastFrame(spark, streamDir, s1).map(_.frame_id)
      .contains(8L))
    assert(FrameRing.frameAt(spark, streamDir, s1, 0).map(_.frame_id)
      .contains(6L))
    assert(FrameRing.frameAt(spark, streamDir, s1, 3).isEmpty)
    assert(FrameRing.frameAt(spark, streamDir, s1, -1).isEmpty)
    assert(FrameRing.lastFrame(spark, streamDir, 999L).isEmpty)
    // the store holds ≥ 2 bucket partitions, and the point read touches
    // exactly ONE of them (partition pruning on the key bucket)
    // (the bucket partition column reads back as int — cast for the set)
    val allBuckets = spark.read.parquet(streamDir)
      .select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(allBuckets.size >= 2, s"fixture collapsed to $allBuckets")
    val touched = spark.read.parquet(streamDir)
      .filter(col("bucket") === (
        ((graft.functions.Hashing.mix64(s1) % 32) + 32) % 32) &&
        col("stream_id") === s1)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(touched.nonEmpty && touched.forall(_.contains("bucket=")),
      touched.toString)
    assert(touched.map(f => f.substring(f.indexOf("bucket="))
      .split("/").head).size == 1,
      s"point read touched multiple buckets: $touched")
  }

  test("E2E on the second container: fMP4 segments -> clip stream -> ring store -> GetLastFrame (B13b . B29)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    // the full reference pipeline shape on the GetClip/HLS side: a
    // directory of fMP4 segments ingests through the clip splitter,
    // maintains the bounded per-stream ring, and serves point reads —
    // one query graph from bytes on disk to GetLastFrame
    val inDir = tempDir("graft_e2e_clips")
    val storeDir = freshDir()
    def clipOf(id: Long, ts: Long, uid: Long) =
      graft.bmff.Bmff.buildClip(id, ts, uid, id * 3L,
        s"p$id".getBytes("UTF-8"))
    // stream 5: three frames, 200ms apart; stream 6: one frame.
    // frames 1+2 arrive as ONE two-clip segment
    Files.write(Paths.get(inDir, "seg1.mp4"),
      graft.bmff.Bmff.concat(clipOf(1L, 100L, 5L), clipOf(2L, 300L, 5L)))
    Files.write(Paths.get(inDir, "seg2.mp4"), clipOf(3L, 500L, 5L))
    Files.write(Paths.get(inDir, "seg3.mp4"), clipOf(4L, 100L, 6L))
    import org.apache.spark.sql.functions._
    val frames = graft.streaming.FragmentSource.clipStream(spark, inDir)
      .select(col("user_id").as("stream_id"),
        col("producer_ms").as("ts_ms"),
        col("event_id").as("frame_id"),
        col("path").as("tags"),
        encode(col("value_c").cast("string"), "UTF-8").as("payload"))
    val q = FrameRing.maintainStream(frames, storeDir, maxLen = 2)
      .option("checkpointLocation",
        tempDir("graft_e2e_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    // maxLen 2 evicts stream 5's oldest frame; GetLastFrame = newest
    val r5 = FrameRing.ringOf(spark, storeDir, 5L)
    assert(r5.map(f => (f.ts_ms, f.frame_id)) ==
      Seq((300L, 2L), (500L, 3L)), r5.map(_.frame_id).toString)
    assert(FrameRing.lastFrame(spark, storeDir, 5L).map(_.frame_id)
      .contains(3L))
    assert(new String(FrameRing.lastFrame(spark, storeDir, 5L).get.payload,
      "UTF-8") == "9") // value_c = 3 * 3
    assert(FrameRing.frameAt(spark, storeDir, 6L, 0).map(_.frame_id)
      .contains(4L))
    assert(FrameRing.frameAt(spark, storeDir, 6L, 1).isEmpty)
  }

  test("LIVE e2e with kill/resume: fMP4 segments -> clip stream -> thinned ring across 3 runs, accessors mid-stream, final state == batch bootstrap") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    // the reference's whole live loop (parser.py:411-513) as ONE
    // resumable query graph: segments on disk → clip split → typed
    // frames → gap-thinned bounded ring → point reads. The query is
    // KILLED twice; each restart reuses the checkpoint (the
    // CONTINUATION_TOKEN analog) and consumed segments are deleted
    // between runs, like the reference's drained pipe.
    val inDir = tempDir("graft_live_clips")
    val storeDir = freshDir()
    val ckDir = tempDir("graft_live_ck")
    val maxLen = 2
    val gap = 300L
    def clipOf(id: Long, ts: Long, uid: Long) =
      graft.bmff.Bmff.buildClip(id, ts, uid, id * 3L,
        s"p$id".getBytes("UTF-8"))
    // stream 5 frames at ts 100,300,500,700,900 (gap 300 keeps
    // 100,500,900; maxLen 2 evicts 100); stream 6 one frame per run
    val all = Seq( // (clip_id, ts, uid)
      (1L, 100L, 5L), (2L, 300L, 5L),            // run 1 (one segment)
      (10L, 50L, 6L),                            // run 1
      (3L, 500L, 5L), (4L, 700L, 5L),            // run 2 (one segment)
      (5L, 900L, 5L), (11L, 400L, 6L))           // run 3 (one segment)
    def seg(name: String, clips: (Long, Long, Long)*): Unit =
      Files.write(Paths.get(inDir, name), graft.bmff.Bmff.concat(
        clips.map { case (id, ts, uid) => clipOf(id, ts, uid) }: _*))
    def runOnce(): Unit = {
      val frames = graft.streaming.FragmentSource.clipStream(spark, inDir)
        .select(col("user_id").as("stream_id"),
          col("producer_ms").as("ts_ms"),
          col("event_id").as("frame_id"),
          col("path").as("tags"),
          encode(col("value_c").cast("string"), "UTF-8").as("payload"))
      val q = FrameRing.maintainStream(frames, storeDir, maxLen, gap)
        .option("checkpointLocation", ckDir).start()
      try q.processAllAvailable() finally q.stop() // the kill
    }
    // run 1
    seg("seg1.mp4", all(0), all(1)); seg("seg2.mp4", all(2))
    runOnce()
    // MID-STREAM accessors: greedy at gap 300 over {100,300} keeps 100
    assert(FrameRing.lastFrame(spark, storeDir, 5L).map(_.frame_id)
      .contains(1L))
    assert(FrameRing.frameAt(spark, storeDir, 6L, 0).map(_.frame_id)
      .contains(10L))
    // consumed segments vanish; only the checkpoint remembers them
    Files.delete(Paths.get(inDir, "seg1.mp4"))
    Files.delete(Paths.get(inDir, "seg2.mp4"))
    // run 2: resume, not replay
    seg("seg3.mp4", all(3), all(4))
    runOnce()
    // greedy over {100,300,500,700} keeps 100,500 — both buffered
    val mid = FrameRing.ringOf(spark, storeDir, 5L).map(_.ts_ms)
    assert(mid == Seq(100L, 500L), mid.toString)
    // run 3
    Files.delete(Paths.get(inDir, "seg3.mp4"))
    seg("seg4.mp4", all(5), all(6))
    runOnce()
    // final ring ≡ the ONE-SHOT batch bootstrap over all seven frames
    val bootDir = freshDir()
    FrameRing.applyBatch(spark, bootDir,
      all.map { case (id, ts, uid) =>
        (uid, ts, id, "x", s"${id * 3L}".getBytes("UTF-8")) }
        .toDF("stream_id", "ts_ms", "frame_id", "tags", "payload"),
      maxLen, gap)
    for (sid <- Seq(5L, 6L)) {
      val live = FrameRing.ringOf(spark, storeDir, sid)
        .map(f => (f.ts_ms, f.frame_id, new String(f.payload, "UTF-8")))
      val boot = FrameRing.ringOf(spark, bootDir, sid)
        .map(f => (f.ts_ms, f.frame_id, new String(f.payload, "UTF-8")))
      assert(live == boot, s"stream $sid: live $live != bootstrap $boot")
    }
    // stream 5 thinned to (500,3),(900,5); GetFrame indexes the queue
    assert(FrameRing.ringOf(spark, storeDir, 5L)
      .map(f => (f.ts_ms, f.frame_id)) == Seq((500L, 3L), (900L, 5L)))
    assert(FrameRing.lastFrame(spark, storeDir, 5L).map(_.frame_id)
      .contains(5L))
    assert(FrameRing.frameAt(spark, storeDir, 5L, 2).isEmpty)
    assert(FrameRing.ringOf(spark, storeDir, 6L)
      .map(f => (f.ts_ms, f.frame_id)) == Seq((50L, 10L), (400L, 11L)))
  }

  test("a co-bucketed stream with NO arrivals survives a batch that rewrites its bucket") {
    import spark.implicits._
    val dir = freshDir()
    def bucketOf(id: Long): Long = {
      val m = graft.functions.Hashing.mix64(id) % 32
      if (m < 0) m + 32 else m
    }
    val s1 = 1L
    val s2 = (2L to 10000L).find(i => bucketOf(i) == bucketOf(s1)).get
    // batch 1: both streams land in the SAME bucket partition
    FrameRing.applyBatch(spark, dir,
      Seq((s1, 10L, 1L, "a", mkPayload(1L)),
          (s2, 20L, 2L, "b", mkPayload(2L)))
        .toDF("stream_id", "ts_ms", "frame_id", "tags", "payload"),
      maxLen = 3)
    // batch 2: only s1 arrives — the overwrite of their shared bucket
    // must carry s2's ring through unchanged
    FrameRing.applyBatch(spark, dir,
      Seq((s1, 30L, 3L, "c", mkPayload(3L)))
        .toDF("stream_id", "ts_ms", "frame_id", "tags", "payload"),
      maxLen = 3)
    assert(FrameRing.ringOf(spark, dir, s1).map(_.frame_id) == Seq(1L, 3L))
    assert(FrameRing.ringOf(spark, dir, s2).map(_.frame_id) == Seq(2L),
      s"s2 ($s2, bucket ${bucketOf(s2)}) lost its ring")
  }

  test("micro-batch replay is a no-op: batch-id stamp + identity skip (idempotent sink)") {
    import spark.implicits._
    val dir = freshDir()
    val b0 = Seq((1L, 10L, 1L, "a", mkPayload(1L)),
        (1L, 10L, 2L, "b", mkPayload(2L)))
      .toDF("stream_id", "ts_ms", "frame_id", "tags", "payload")
    FrameRing.applyBatch(spark, dir, b0, maxLen = 5, minGapMs = 0L,
      batchId = Some(0L))
    val once = FrameRing.ringOf(spark, dir, 1L).map(_.frame_id)
    assert(once == Seq(1L, 2L))
    // crash-after-publish replay: same batch id → stamped no-op
    FrameRing.applyBatch(spark, dir, b0, maxLen = 5, minGapMs = 0L,
      batchId = Some(0L))
    assert(FrameRing.ringOf(spark, dir, 1L).map(_.frame_id) == Seq(1L, 2L))
    // crash-BEFORE-stamp window: the same arrivals re-presented under a
    // NEW id must not re-append frames the ring still holds (identity
    // skip — with minGapMs=0 the gap rule alone would re-accept ts==last)
    FrameRing.applyBatch(spark, dir, b0, maxLen = 5, minGapMs = 0L,
      batchId = Some(1L))
    assert(FrameRing.ringOf(spark, dir, 1L).map(_.frame_id) == Seq(1L, 2L))
    // and the fold itself pins the skip
    val ring = FrameRing.foldRing(Nil,
      Seq(Frame(10L, 1L, "a", mkPayload(1L))), 5, 0L)
    assert(FrameRing.foldRing(ring,
      Seq(Frame(10L, 1L, "a", mkPayload(1L))), 5, 0L) == ring)
    // EVICTED-frame replay (round-17 ADVICE): a single batch of
    // same-timestamp frames overflowing maxLen evicts the oldest; a
    // crash-before-stamp replay re-presents the evicted frame, which a
    // ring-membership check alone would re-accept (ts == last, gap 0).
    // Monotone (ts_ms, frame_id) admission rejects it — replay no-op.
    val burst = (1L to 4L).map(i => Frame(10L, i, s"f$i", mkPayload(i)))
    val over = FrameRing.foldRing(Nil, burst, 3, 0L)
    assert(over.map(_.frame_id) == Seq(2L, 3L, 4L)) // frame 1 evicted
    assert(FrameRing.foldRing(over, burst, 3, 0L) == over)
  }

  test("StartCatchFrames/StopCatchFrames: frames arriving while paused are dropped, resume picks up cleanly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = freshDir()
    @volatile var catching = true
    val input = MemoryStream[(Long, Long, Long, String, Array[Byte])]
    val q = FrameRing.maintainStream(
        input.toDF().toDF("stream_id", "ts_ms", "frame_id", "tags", "payload"),
        dir, maxLen = 5, catching = () => catching)
      .option("checkpointLocation",
        tempDir("frame_ring_gate_ck"))
      .start()
    try {
      input.addData((1L, 10L, 1L, "a", mkPayload(1L)))
      q.processAllAvailable()
      assert(FrameRing.ringOf(spark, dir, 1L).map(_.frame_id) == Seq(1L))
      catching = false // StopCatchFrames (parser.py:521-527)
      input.addData((1L, 20L, 2L, "b", mkPayload(2L)))
      q.processAllAvailable()
      assert(FrameRing.ringOf(spark, dir, 1L).map(_.frame_id) == Seq(1L),
        "paused maintainer must drop arrivals and leave the ring untouched")
      catching = true // StartCatchFrames
      input.addData((1L, 30L, 3L, "c", mkPayload(3L)))
      q.processAllAvailable()
      assert(FrameRing.ringOf(spark, dir, 1L).map(_.frame_id) == Seq(1L, 3L))
    } finally q.stop()
  }

  test("an empty micro-batch is a no-op: no schema-less store, later batches unharmed") {
    import spark.implicits._
    val dir = freshDir()
    val empty = Seq.empty[(Long, Long, Long, String, Array[Byte])]
      .toDF("stream_id", "ts_ms", "frame_id", "tags", "payload")
    FrameRing.applyBatch(spark, dir, empty, maxLen = 3)
    assert(!new java.io.File(dir).exists(),
      "an empty first batch must not create a store directory")
    FrameRing.applyBatch(spark, dir,
      Seq((1L, 10L, 1L, "a", mkPayload(1L)))
        .toDF("stream_id", "ts_ms", "frame_id", "tags", "payload"),
      maxLen = 3)
    FrameRing.applyBatch(spark, dir, empty, maxLen = 3)
    assert(FrameRing.lastFrame(spark, dir, 1L).map(_.frame_id).contains(1L))
  }
}
