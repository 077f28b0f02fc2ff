package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The persisted text-dedup index: incremental batch dedup must be
  * indistinguishable from the full-corpus recompute, replays must be
  * no-ops, compaction must be invisible to probes, and the probe plan
  * must never rescan the settled corpus. */
class TextIndexSpec extends SparkSpec {

  private def freshDir(): String =
    tempDir("graft-text-index-spec")

  private val isNew = pmod(col("doc_id"), lit(8L)) === 7L

  private def settled: DataFrame = t.documents.filter(!isNew)
  private def batch: DataFrame = t.documents.filter(isNew)

  test("curateKeepers is invariant to the sized probe-join width") {
    // a 64-byte target forces the probe joins' reducer width far above
    // the session's 4 (the index is a few KB even at spec SF) — the
    // keeper set may not change, only the partitioning may
    val dir = freshDir()
    TextIndex.build(settled, dir)
    def ids() = TextIndex.curateKeepers(batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids()
    assert(TextIndex.indexBytes(spark, dir) > 0L)
    spark.conf.set("spark.graft.shuffle.targetPartitionBytes", "64")
    try assert(ids() == base)
    finally spark.conf.unset("spark.graft.shuffle.targetPartitionBytes")
  }

  test("maintenance refuses a pre-v2 index directory") {
    // a bands/ table without the _FORMAT_v2 marker was written by the
    // pre-slimming code (band rows carry a sigs array); writing slim
    // rows next to it would mix parquet schemas in one table — the
    // gate must fail loudly instead
    val dir = freshDir()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "bands"))
    val e = intercept[IllegalArgumentException] {
      TextIndex.append(batch, dir)
    }
    assert(e.getMessage.contains("_FORMAT_v2") &&
      e.getMessage.contains("migrate"), e.getMessage)
  }

  test("build over a pre-v2 directory succeeds (static overwrite replaces it)") {
    // the gate message says "rebuild with TextIndex.build" — so build
    // itself must not refuse the same directory it prescribes rebuilding
    val dir = freshDir()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "bands"))
    TextIndex.build(settled, dir)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_FORMAT_v2")))
    TextIndex.append(batch, dir) // and maintenance now proceeds
  }

  /** Plants a faithful v1 artifact: a v2 build whose bands table is
    * rewritten WITH the old stored sigs array column and whose format
    * marker is removed. */
  private def plantV1(docs: DataFrame): String = {
    val dir = freshDir()
    TextIndex.build(docs, dir)
    val v1Rows = spark.read.parquet(s"$dir/bands")
      .withColumn("sigs", array(col("sig"), col("sig"), col("sig"), col("sig")))
      .select("doc_id", "band", "sig", "sigs", "bk", "ingest_batch")
      .localCheckpoint(true)
    v1Rows.write.mode("overwrite").partitionBy("ingest_batch", "bk")
      .parquet(s"$dir/bands_v1_tmp")
    val fsDir = new java.io.File(dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(fsDir, "bands"))
    assert(new java.io.File(fsDir, "bands_v1_tmp")
      .renameTo(new java.io.File(fsDir, "bands")))
    new java.io.File(fsDir, "_FORMAT_v2").delete()
    dir
  }

  test("migrate: a planted v1 directory becomes v2, search-identical, maintainable") {
    val dir = plantV1(settled)
    val twin = freshDir() // the v2-built expectation
    TextIndex.build(settled, twin)
    val want = TextIndex.dedupBatch(batch, twin).collect().toSeq
    // pre-migration: maintenance refuses, and the old sigs column is there
    intercept[IllegalArgumentException] { TextIndex.append(batch, dir) }
    assert(spark.read.parquet(s"$dir/bands").columns.contains("sigs"))
    TextIndex.migrate(spark, dir)
    assert(!spark.read.parquet(s"$dir/bands").columns.contains("sigs"),
      "migration kept the v1 sigs column")
    assert(TextIndex.dedupBatch(batch, dir).collect().toSeq == want,
      "migrated index diverged from a v2 build of the same corpus")
    TextIndex.append(batch, dir) // maintenance proceeds post-migration
    TextIndex.migrate(spark, dir) // idempotent no-op on a v2 dir
    assert(TextIndex.dedupBatch(batch, twin).collect().toSeq == want)
  }

  test("migrate: crash before the swap resumes; the gate refuses mid-migration") {
    val dir = plantV1(settled)
    val twin = freshDir()
    TextIndex.build(settled, twin)
    val want = TextIndex.dedupBatch(batch, twin).collect().toSeq
    intercept[IllegalStateException] {
      TextIndex.migrateImpl(spark, dir, crashBeforeSwap = true)
    }
    // mid-migration: staging exists, no marker — maintenance must refuse
    // with the migration message, not the v1 message
    val e = intercept[IllegalArgumentException] { TextIndex.append(batch, dir) }
    assert(e.getMessage.contains("in-progress"), e.getMessage)
    // the re-run restages (idempotent dynamic overwrite) and completes
    TextIndex.migrate(spark, dir)
    assert(TextIndex.dedupBatch(batch, dir).collect().toSeq == want)
    assert(!new java.io.File(dir, "bands_migrate_staging").exists())
    assert(!new java.io.File(dir, "_MIGRATE_SWAP").exists())
  }

  test("batch dedup equals the full-corpus recompute restricted to new docs") {
    val dir = freshDir()
    TextIndex.build(settled, dir)
    val got = TextIndex.dedupBatch(batch, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

    // band rows: the full-corpus candidate set, pairs touching a new doc
    val wantBand = Dedup.minhashCandidates(t)
      .filter(col("id_a") % 8 === 7 || col("id_b") % 8 === 7)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), "band"))
    // exact rows: smallest doc_id per text group, for new docs above it
    val groups = t.documents.groupBy("text")
      .agg(min("doc_id").as("mn"))
    val wantExact = t.documents.filter(isNew).join(groups, "text")
      .filter(col("mn") < col("doc_id"))
      .select(col("mn"), col("doc_id"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), "exact"))

    assert(got.sorted == (wantBand ++ wantExact).sorted,
      s"incremental dedup diverged from the full recompute: " +
        s"got ${got.size} rows, want ${wantBand.size + wantExact.size}")
    // the synthetic corpus has no exact-text duplicates (dedup_exact is
    // all singletons), so the real-data equality exercises the band
    // tier; the exact tier gets its own fixture below
    assert(wantBand.nonEmpty, "fixture must exercise the band tier")
  }

  test("exact tier elects the full-corpus keeper across settled and batch") {
    import spark.implicits._
    val dir = freshDir()
    // texts: A duplicated settled+batch+batch, B batch-only duplicate
    // pair, C unique. Tokens made distinct enough that no band fires.
    def doc(id: Long, text: String) = (id, text)
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    val settledDocs = mk(Seq(
      doc(1L, "alpha beta gamma delta epsilon zeta"),
      doc(2L, "one two three four five six seven")))
    val batchDocs = mk(Seq(
      doc(10L, "alpha beta gamma delta epsilon zeta"), // dup of settled 1
      doc(11L, "red orange yellow green blue indigo"),
      doc(12L, "red orange yellow green blue indigo"), // dup of batch 11
      doc(13L, "unique snowflake document here now")))
    TextIndex.build(settledDocs, dir)
    val got = TextIndex.dedupBatch(batchDocs, dir)
      .filter(col("reason") === "exact")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((1L, 10L), (11L, 12L)),
      s"exact tier wrong: $got")
  }

  test("replayed appendBatch is a no-op; compact is probe-invisible") {
    val dir = freshDir()
    TextIndex.build(t.documents.filter(pmod(col("doc_id"), lit(8L)) < 6L), dir)
    val b0 = t.documents.filter(pmod(col("doc_id"), lit(8L)) === 6L)
    TextIndex.appendBatch(b0, 0L, dir)
    val before = TextIndex.dedupBatch(batch, dir).collect().toSeq
    // replay the same micro-batch: dynamic overwrite must replace, not
    // duplicate — row counts and the probe result stay identical
    TextIndex.appendBatch(b0, 0L, dir)
    val hashRows = spark.read.parquet(s"$dir/hashes").count()
    assert(hashRows == t.documents.filter(pmod(col("doc_id"), lit(8L)) < 7L).count(),
      s"replayed appendBatch duplicated hash rows: $hashRows")
    assert(TextIndex.dedupBatch(batch, dir).collect().toSeq == before)
    // compact folds the batch partitions into base, result unchanged
    TextIndex.compact(spark, dir)
    assert(TextIndex.dedupBatch(batch, dir).collect().toSeq == before,
      "compact changed the probe result")
    for (table <- Seq("hashes", "bands")) {
      val dirs = new java.io.File(s"$dir/$table").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("ingest_batch="))
      assert(dirs.toSeq == Seq("ingest_batch=-1"),
        s"$table still has unfolded batch dirs: ${dirs.mkString(",")}")
    }
  }

  test("curateStream: two micro-batches equal the sequential batch-mode gate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir(); val ckpt = freshDir()
    val keepersDir = freshDir() + "/keepers"
    TextIndex.build(settled, dir)
    // expectation: the SAME sequence of batch-mode gate + append calls
    // against a twin index
    val dir2 = freshDir()
    TextIndex.build(settled, dir2)
    val h1 = batch.filter(pmod(col("doc_id"), lit(16L)) === 7L)
    val h2 = batch.filter(pmod(col("doc_id"), lit(16L)) === 15L)
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val e1 = ids(TextIndex.curateKeepers(h1, dir2))
    TextIndex.appendBatch(h1, 0L, dir2)
    val e2 = ids(TextIndex.curateKeepers(h2, dir2))

    val input = MemoryStream[(Long, String)]
    val query = TextIndex.curateStream(
      input.toDF().toDF("doc_id", "text"), dir, ckpt, keepersDir)
    def feed(half: DataFrame): Unit = {
      input.addData(half.select("doc_id", "text").as[(Long, String)]
        .collect().toIndexedSeq: _*)
      query.processAllAvailable()
    }
    try { feed(h1); feed(h2) } finally query.stop()

    assert(ids(spark.read.parquet(keepersDir)) == (e1 ++ e2),
      "streamed keepers diverged from the sequential batch-mode gate")
    // the index absorbed BOTH full batches — keepers and dropped alike
    assert(spark.read.parquet(s"$dir/hashes").count() ==
      settled.count() + h1.count() + h2.count())
  }

  test("curateStream survives a stop/restart on the same checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir(); val ckpt = freshDir()
    val keepersDir = freshDir() + "/keepers"
    TextIndex.build(settled, dir)
    val dir2 = freshDir()
    TextIndex.build(settled, dir2)
    val h1 = batch.filter(pmod(col("doc_id"), lit(16L)) === 7L)
    val h2 = batch.filter(pmod(col("doc_id"), lit(16L)) === 15L)
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val e1 = ids(TextIndex.curateKeepers(h1, dir2))
    TextIndex.appendBatch(h1, 0L, dir2)
    val e2 = ids(TextIndex.curateKeepers(h2, dir2))
    // one source, two query incarnations: the restart is in the QUERY
    // (offset recovery + run re-registration on the same checkpoint)
    val input = MemoryStream[(Long, String)]
    def feedOnce(half: DataFrame): Unit = {
      val query = TextIndex.curateStream(
        input.toDF().toDF("doc_id", "text"), dir, ckpt, keepersDir)
      try {
        input.addData(half.select("doc_id", "text").as[(Long, String)]
          .collect().toIndexedSeq: _*)
        query.processAllAvailable()
      } finally query.stop()
    }
    feedOnce(h1)
    feedOnce(h2)
    assert(ids(spark.read.parquet(keepersDir)) == (e1 ++ e2),
      "restart on the same checkpoint diverged from the sequential gate")
    assert(spark.read.parquet(s"$dir/hashes").count() ==
      settled.count() + h1.count() + h2.count())
  }

  test("crash-replay guard: a batch that already indexed itself replays identically") {
    val dir = freshDir()
    TextIndex.build(settled, dir)
    val pairsBefore = TextIndex.dedupBatch(batch, dir).collect().toSeq
    val keepersBefore = TextIndex.curateKeepers(batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the crash window: appendBatch committed, the sink/checkpoint didn't
    TextIndex.appendBatch(batch, 7L, dir)
    // with the exclusion guard the replay is bit-identical
    assert(TextIndex.dedupBatch(batch, dir, Some(7L)).collect().toSeq
      == pairsBefore)
    assert(TextIndex.curateKeepers(batch, dir, Some(7L))
      .select("doc_id").collect().map(_.getLong(0)).toSet == keepersBefore)
    // without it the batch probes its OWN band signatures: every
    // in-batch pair re-emits through the cross tier (both orientations),
    // so the pair report is corrupted — the guard is load-bearing
    assert(TextIndex.dedupBatch(batch, dir).collect().length
      > pairsBefore.length)
  }

  test("settled wins at any id: the reverse exact probe catches token-empty duplicates") {
    import spark.implicits._
    val dir = freshDir()
    // token-empty texts (no [a-z] runs): the band tier can't see them,
    // and the pair report's exact tier elects only smaller-id keepers —
    // the reverse probe is the only tier that can drop batch doc 7
    val settledDocs = Seq(
      (20L, "1234 5678 90"),
      (21L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val batchDocs = Seq(
      (7L, "1234 5678 90"), // settled copy exists at a LARGER id — drop
      (8L, "42 42 42 42")   // unique token-empty — keeps
    ).toDF("doc_id", "text")
    TextIndex.build(settledDocs, dir)
    val kept = TextIndex.curateKeepers(batchDocs, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(8L),
      s"settled-wins violated for a larger-id settled duplicate: kept=$kept")
  }

  test("crashed compact leaves the marker; probes stay identical; re-run clears it") {
    val dir = freshDir()
    TextIndex.build(t.documents.filter(pmod(col("doc_id"), lit(8L)) < 6L), dir)
    TextIndex.appendBatch(
      t.documents.filter(pmod(col("doc_id"), lit(8L)) === 6L), 0L, dir)
    val before = TextIndex.dedupBatch(batch, dir).collect().toSeq
    assert(!TextIndex.compactInProgress(spark, dir))
    // crash after the band fold, before its sweep: every settled band row
    // now exists in BOTH base and its original batch directory
    intercept[IllegalStateException] {
      TextIndex.compactImpl(spark, dir, Long.MaxValue, crashBeforeSweep = true)
    }
    assert(TextIndex.compactInProgress(spark, dir),
      "crash window is not observable: marker missing")
    // probing DURING the window: the cross tier's distinct folds the
    // duplicated band rows — candidate pairs surface exactly once
    assert(TextIndex.dedupBatch(batch, dir).collect().toSeq == before,
      "duplicated index rows leaked duplicate candidate pairs")
    // the re-run completes the sweep, clears the marker, and probes
    // stay identical
    TextIndex.compact(spark, dir)
    assert(!TextIndex.compactInProgress(spark, dir), "marker not cleared")
    assert(TextIndex.dedupBatch(batch, dir).collect().toSeq == before)
  }

  test("the probe plan never rescans the documents source") {
    val dir = freshDir()
    TextIndex.build(settled, dir)
    val out = TextIndex.dedupBatch(batch, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"dedupBatch plan rescans the corpus:\n$plan")
    // and no exchange ever carries text: the only columns wider than a
    // hash are the 4-long sigs arrays
    assert(!plan.contains("text#"), s"probe plan carries raw text:\n$plan")
  }
}
