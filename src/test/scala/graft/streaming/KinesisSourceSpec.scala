package graft.streaming

import KinesisSource._

/** The option mapping IS the integration (the connector itself is not
  * reachable in this sandbox) — pin each StartSelector's translation to
  * the reference semantics it encodes (parser.py:292-303), then prove
  * the checkpoint side of the contract end-to-end through the directory
  * analog so a cluster deploy is a config swap. */
class KinesisSourceSpec extends graft.SparkSpec {

  private val base = KinesisOptions("video-stream", "us-west-2")

  test("the full selector → (options, checkpoint) round-trip table") {
    // one row per selector mode: the COMPLETE option map the connector
    // receives (per the public format("kinesis") contract: streamName /
    // region / startingPosition / startingTimestamp) and whether the
    // previous run's checkpoint is reused. Any connector swap must
    // reproduce this table — it is the reference's StartSelector
    // semantics (parser.py:292-303) in Spark terms.
    val table = Seq(
      (Now: StartSelector,
        Map("streamName" -> "video-stream", "region" -> "us-west-2",
          "startingPosition" -> "LATEST"),
        /*reuses chk*/ false),
      (TrimHorizon: StartSelector,
        Map("streamName" -> "video-stream", "region" -> "us-west-2",
          "startingPosition" -> "TRIM_HORIZON"),
        false),
      (AtTimestamp(1700000000000L): StartSelector,
        Map("streamName" -> "video-stream", "region" -> "us-west-2",
          "startingPosition" -> "AT_TIMESTAMP",
          "startingTimestamp" -> "1700000000000"),
        false),
      (ContinuationToken("/chk/run1"): StartSelector,
        Map("streamName" -> "video-stream", "region" -> "us-west-2",
          "startingPosition" -> "LATEST"),
        true))
    for ((sel, expectOpts, reuses) <- table) {
      val o = base.copy(start = sel)
      assert(sourceOptions(o) == expectOpts, s"option map for $sel")
      val chk = checkpointLocation(o, "/tmp/fresh")
      assert((chk == "/chk/run1") == reuses && (chk == "/tmp/fresh") == !reuses,
        s"checkpoint choice for $sel: got $chk")
    }
  }

  test("resume-after-kill: NOW then CONTINUATION_TOKEN consumes each record exactly once") {
    // the deploy-parity e2e: the SAME stream(...) entry a cluster uses,
    // driven through the directory analog. Run 1 starts NOW (fresh
    // checkpoint), commits records 1-3, dies; run 2 restarts with
    // CONTINUATION_TOKEN (the run-1 checkpoint) and must see ONLY 4-6 —
    // no replay of committed records, no gap — even though the run-1
    // files are gone (the reference's drained pipe).
    import java.nio.file.{Files, Paths}
    val inDir = tempDir("graft_kin_in")
    val outDir = tempDir("graft_kin_out") + "/got"
    val freshChk = tempDir("graft_kin_chk")
    def writeFrag(i: Int): Unit =
      Files.write(Paths.get(inDir, f"frag$i%05d.mkv"),
        graft.ebml.EbmlFunctions.buildFragment(
          i.toLong, 1704067200000L + i * 1000L, 7L, 100L, s"f$i"))
    def runOnce(o: KinesisOptions): Unit = {
      val chk = checkpointLocation(o, freshChk)
      val q = KinesisSource.stream(spark, o, Some(inDir))
        .select(graft.ebml.EbmlFunctions.parseTags(org.apache.spark.sql.functions.col("blob"))
          .getField("fragment_number").cast("long").as("fragment_number"))
        .writeStream
        .option("checkpointLocation", chk)
        .format("parquet")
        .option("path", outDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    (1 to 3).foreach(writeFrag)
    runOnce(base.copy(start = Now))
    (1 to 3).foreach(i => Files.delete(Paths.get(inDir, f"frag$i%05d.mkv")))
    (4 to 6).foreach(writeFrag)
    runOnce(base.copy(start = ContinuationToken(freshChk)))
    val got = spark.read.parquet(outDir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 6L), s"expected each fragment exactly once, got $got")
  }

  test("NOW maps to LATEST with a fresh checkpoint") {
    val o = base.copy(start = Now)
    assert(sourceOptions(o) == Map(
      "streamName" -> "video-stream",
      "region" -> "us-west-2",
      "startingPosition" -> "LATEST"))
    assert(checkpointLocation(o, "/tmp/fresh") == "/tmp/fresh")
  }

  test("CONTINUATION_TOKEN maps to reusing the previous checkpoint") {
    val o = base.copy(start = ContinuationToken("/chk/run1"))
    // the position option is irrelevant on restart — the commit log wins
    assert(sourceOptions(o)("startingPosition") == "LATEST")
    assert(checkpointLocation(o, "/tmp/fresh") == "/chk/run1")
  }

  test("backfill selectors map to horizon / timestamp positions") {
    assert(sourceOptions(base.copy(start = TrimHorizon))("startingPosition")
      == "TRIM_HORIZON")
    val at = sourceOptions(base.copy(start = AtTimestamp(1700000000000L)))
    assert(at("startingPosition") == "AT_TIMESTAMP")
    assert(at("startingTimestamp") == "1700000000000")
  }

  test("explicit GetDataEndpoint result flows through as endpointUrl") {
    val o = base.copy(endpointUrl = Some("https://e.example"))
    assert(sourceOptions(o)("endpointUrl") == "https://e.example")
  }
}
