package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.ImageKernels

class FrameIndexSpec extends SparkSpec {

  private def freshSeq = pmod(graft.functions.intDiv(col("frame_id"), 10L), lit(8L))

  test("index probe emits exactly the full-library pairs with a fresh endpoint (G7 ≡ G6 slice)") {
    val dir = FrameIndex.materialize(t, sfDir)
    val fresh = Multimodal.sampledFrames(t).filter(freshSeq === 6L)
    val probed = FrameIndex.dedupBatch(fresh, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val freshIds = fresh.select("frame_id").collect().map(_.getLong(0)).toSet
    val full = Multimodal.mmFrameDedup(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(p => freshIds.contains(p._1) || freshIds.contains(p._2)).toSet
    assert(probed == full,
      s"probe ${probed.size} != full-slice ${full.size}: " +
        s"missing ${(full -- probed).take(5)}, extra ${(probed -- full).take(5)}")
    assert(probed.nonEmpty, "the seq == 6 ingest slice must carry family frames")
  }

  test("the probe never re-decodes settled media: no source scan in the returned plan") {
    val dir = FrameIndex.materialize(t, sfDir)
    val fresh = Multimodal.sampledFrames(t).filter(freshSeq === 6L)
    val probe = FrameIndex.dedupBatch(fresh, dir)
    probe.collect()
    val roots = scanRoots(probe)
    // batch signatures are checkpointed at call time, the settled side
    // is the bands parquet — the executed probe plan reads NO events
    // source at all
    assert(!roots.exists(_.getName == "events.parquet"),
      s"probe plan rescans the media source: $roots")
    assert(roots.exists(_.getName == "bands"), s"probe plan does not read the index: $roots")
  }

  private def frame(bits: Long): Array[Byte] = ImageKernels.bmpEncode(bits)

  test("curateKeepers: settled wins at any id; within-batch min-id survives; novel frames pass") {
    import spark.implicits._
    val dir = tempDir("graft_fi_keep")
    // settled library: one frame with pattern A at id 500
    FrameIndex.build(Seq((500L, frame(0x0F0FL))).toDF("frame_id", "frame"), dir)
    // batch: id 100 dups settled-500 (smaller id — settled must STILL
    // win), ids 200/201 near-dup each other (min survives), id 300 novel
    val batch = Seq(
      (100L, frame(0x0F0FL)),
      (200L, frame(0xAA00L)), (201L, frame(0xAA01L)),
      (300L, frame(0x1234567890abcdefL))).toDF("frame_id", "frame")
    val kept = FrameIndex.curateKeepers(batch, dir).select("frame_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(200L, 300L), s"kept $kept")
  }

  test("compact folds batches into base; a crash before the sweep leaves duplicates the probe's distinct folds") {
    import spark.implicits._
    val dir = tempDir("graft_fi_compact")
    FrameIndex.build(Seq((1L, frame(0x1111L))).toDF("frame_id", "frame"), dir)
    FrameIndex.appendBatch(Seq((2L, frame(0x2222_0000_FFFFL))).toDF("frame_id", "frame"), 3L, dir)
    // crash seam: base now holds the folded rows AND batch 3 still exists
    intercept[IllegalStateException] {
      FrameIndex.compactImpl(spark, dir, Long.MaxValue, crashBeforeSweep = true)
    }
    assert(FrameIndex.compactInProgress(spark, dir))
    val rows = spark.read.parquet(s"$dir/bands")
    assert(rows.filter("frame_id = 2").count() == 14,
      "crash window: frame 2's 7 band rows duplicated across base + batch dir")
    // the probe still emits each candidate pair exactly once
    val pairs = FrameIndex.dedupBatch(
      Seq((20L, frame(0x2222_0000_FFFEL))).toDF("frame_id", "frame"), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((2L, 20L)), s"got ${pairs.toSeq}")
    // re-running compact clears the window and the marker
    FrameIndex.compact(spark, dir)
    assert(!FrameIndex.compactInProgress(spark, dir))
    assert(spark.read.parquet(s"$dir/bands").filter("frame_id = 2").count() == 7)
    assert(spark.read.parquet(s"$dir/bands")
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(FrameIndex.BaseBatch))
  }

  test("curateStream: probe-keep-index loop drops cross-batch near-dups (G7b)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft_fi_stream")
    val (dir, keptDir, ckpt) = (s"$root/index", s"$root/kept", s"$root/ckpt")
    FrameIndex.build(Seq((1L, frame(0x1111L))).toDF("frame_id", "frame"), dir)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val query = FrameIndex.curateStream(
      input.toDF().toDF("frame_id", "frame"), dir, keptDir, ckpt)
    try {
      // batch 0: near-dup of settled 1 (dropped) + novel (kept, indexed)
      input.addData((10L, frame(0x1110L)), (11L, frame(0xBEEFL)))
      query.processAllAvailable()
      // batch 1: near-dup of batch-0 KEEPER 11 -> dropped via the
      // index the stream itself maintains; one more novel frame
      input.addData((20L, frame(0xBEEDL)), (21L, frame(0x7777000077770000L)))
      query.processAllAvailable()
      val kept = spark.read.parquet(keptDir).select("frame_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L, 21L), s"kept $kept")
    } finally query.stop()
  }
}
