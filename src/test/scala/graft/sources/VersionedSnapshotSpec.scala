package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedSnapshotSpec extends SparkSpec {

  private def ver(ts: Long, id: Long) = struct(lit(ts).as("ts_ms"),
    lit(id).as("event_id"))

  private def freshDir(): String =
    tempDir("vsnap") + "/t"

  private def liveMap(path: String, v: Long): Map[Long, (String, Long)] =
    VersionedSnapshot.readLiveAsOf(spark, path, v)
      .select(col("k"), col("typ"), col("ver.event_id"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap

  private def batch(rows: Seq[(Long, Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("k", "ts_ms", "event_id", "op", "typ")
      .select(col("k"), struct(col("ts_ms"), col("event_id")).as("ver"),
        col("op"), col("typ"))
  }

  test("as-of reads reconstruct every historical state, incl. after-delete and stale-upsert insulation") {
    import spark.implicits._
    val dir = freshDir()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L))
      .select("k", "ver", "typ")
    assert(VersionedSnapshot.init(base, "k", dir) == 0L)
    // v1: update k=1, insert k=4
    val v1 = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((1L, 10L, 1L, "U", "a2"), (4L, 10L, 2L, "U", "d"))), "k")
    assert(v1 == 1L)
    // v2: DELETE k=2
    val v2 = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((2L, 20L, 3L, "D", "x"))), "k")
    // v3: an OUT-OF-ORDER older upsert for k=2 (ver 15 < the delete's
    // 20) — must NOT resurrect the tombstone; plus a fresh k=5
    val v3 = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((2L, 15L, 4L, "U", "zombie"), (5L, 30L, 5L, "U", "e"))), "k")
    assert(liveMap(dir, 0L).keySet == Set(1L, 2L, 3L))
    assert(liveMap(dir, v1) ==
      Map(1L -> ("a2", 1L), 2L -> ("b", 0L), 3L -> ("c", 0L), 4L -> ("d", 2L)))
    // as-of-after-delete: v2 lacks k=2, v1 still HAS it
    assert(!liveMap(dir, v2).contains(2L))
    assert(liveMap(dir, v1).contains(2L))
    // the stale upsert stayed dead at v3; k=5 arrived
    val m3 = liveMap(dir, v3)
    assert(!m3.contains(2L) && m3(5L) == ("e", 5L))
    // and the tombstone is PRESENT in the raw as-of view with deleted=true
    val raw3 = VersionedSnapshot.readAsOf(spark, dir, v3)
      .filter(col("k") === 2L).select("deleted").collect()
    assert(raw3.map(_.getBoolean(0)).toSeq == Seq(true))
  }

  test("a commit writes ONLY its touched buckets; untouched data directories stay byte-identical") {
    import spark.implicits._
    val dir = freshDir()
    // 64 keys spread across the 16 buckets
    val base = (1L to 64L).map(k => (k, s"t$k")).toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(base, "k", dir)
    val v1 = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((7L, 10L, 1L, "U", "u7"))), "k")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the new commit dir holds exactly ONE bucket= subdirectory — the
    // one key 7 hashes to; the copy-on-write claim, structurally
    val commitBuckets = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/data/v=$v1"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("bucket="))
    assert(commitBuckets.length == 1, commitBuckets.toSeq.toString)
    // v=0's files were not touched (no rewrite, no delete)
    val v0files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data/v=0"))
    assert(v0files.nonEmpty)
  }

  test("compaction preserves every historical version and the current content; vacuum trims the window") {
    import spark.implicits._
    val dir = freshDir()
    val base = (1L to 20L).map(k => (k, s"t$k")).toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(base, "k", dir)
    VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((3L, 10L, 1L, "U", "u3"), (21L, 10L, 2L, "U", "n21"))), "k")
    val v2 = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((5L, 20L, 3L, "D", "x"))), "k")
    val before = (0L to v2).map(v => v -> liveMap(dir, v)).toMap
    val vc = VersionedSnapshot.compactVersions(spark, dir)
    assert(vc == v2 + 1)
    // every prior version reads identically, and the compacted version
    // equals the pre-compact current state
    (0L to v2).foreach(v => assert(liveMap(dir, v) == before(v),
      s"version $v changed under compaction"))
    assert(liveMap(dir, vc) == before(v2))
    // the compacted commit references ONLY its own directory
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // vacuum to [v2, vc]: v0/v1 manifests go, and after the compact
    // nothing references data/v=0 or v=1 anymore — both are swept
    VersionedSnapshot.vacuum(spark, dir, retainFrom = v2)
    intercept[IllegalArgumentException] {
      VersionedSnapshot.readLiveAsOf(spark, dir, 0L).collect()
    }
    assert(liveMap(dir, v2) == before(v2)) // retained window intact
    assert(liveMap(dir, vc) == before(v2))
    // strict retention check: a data dir survives iff some RETAINED
    // manifest (v2 or vc) maps a bucket to it — v2 still references the
    // v=1 and v=2 commit dirs it was built from, so they stay; anything
    // only version 0/1-manifests referenced is swept
    val kept = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val refCommits = Seq(v2, vc).flatMap { v =>
      val p = new org.apache.hadoop.fs.Path(dir,
        f"_manifests/v$v%06d.manifest")
      val in = fs.open(p)
      val lines = scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      in.close()
      lines.filterNot(_.startsWith("#")).map(_.split("=")(1).toLong)
    }.toSet
    assert(kept == refCommits.map(c => s"v=$c"),
      s"kept $kept != referenced $refCommits")
  }

  test("table_changes classifies insert/update/delete incl. tombstone revival; same-version diff is empty") {
    import spark.implicits._
    val dir = freshDir()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(base, "k", dir) // v0
    val v1 = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((5L, 5L, 1L, "D", "x"))), "k") // tombstone for a NEW key
    // range (v1, v4]: update k=1, delete k=2, insert k=6, revive k=5
    // past its tombstone with a newer upsert; k=3/4 untouched
    VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((1L, 10L, 2L, "U", "a2"), (2L, 10L, 3L, "D", "x"))), "k")
    VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((6L, 20L, 4L, "U", "f"), (5L, 20L, 5L, "U", "alive"))), "k")
    val v4 = VersionedSnapshot.currentVersion(spark, dir)
    val got = VersionedSnapshot.tableChanges(spark, dir, v1, v4)
      .select(col("k"), col("change"), col("ver.event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "update", 2L), (2L, "delete", 3L),
      (6L, "insert", 4L), (5L, "insert", 5L)), got.toString)
    // identical versions diff to nothing (manifest pruning leaves no
    // remapped bucket to scan at all)
    assert(VersionedSnapshot.tableChanges(spark, dir, v4, v4).count() == 0L)
  }

  test("diff from an empty v0 classifies every live key as insert; in-range insert+delete pairs fall out") {
    import spark.implicits._
    val dir = freshDir()
    // exactly how a stream-seeded table starts: v0 initialized EMPTY,
    // every bucket of later commits is new since v0 (the round-14
    // advisory case: the old code returned an empty change set here)
    val empty = Seq.empty[(Long, String)].toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(empty, "k", dir)
    VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((1L, 10L, 1L, "U", "a"), (2L, 10L, 2L, "U", "b"))), "k")
    val vN = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((2L, 20L, 3L, "D", "x"), (3L, 20L, 4L, "U", "c"))), "k")
    val got = VersionedSnapshot.tableChanges(spark, dir, 0L, vN)
      .select(col("k"), col("change"), col("ver.event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // k=2 was inserted AND deleted inside the range: not a change vs v0
    assert(got == Set((1L, "insert", 1L), (3L, "insert", 4L)), got.toString)
  }

  test("manifest-declared key survives a caller's column order; re-keying an existing table fails loudly") {
    import spark.implicits._
    val dir = freshDir()
    // init frame deliberately lists ver FIRST — the pre-header reader
    // inferred the key positionally and would have diffed on 'ver'
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("ver", "typ", "k")
    VersionedSnapshot.init(base, "k", dir)
    val vN = VersionedSnapshot.applyChanges(spark, dir,
      batch(Seq((1L, 10L, 1L, "U", "a2"), (9L, 10L, 2L, "U", "i"))), "k")
    val got = VersionedSnapshot.tableChanges(spark, dir, 0L, vN)
      .select(col("k"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "update"), (9L, "insert")), got.toString)
    // a commit declaring a different key or bucket count must fail with
    // the declared-vs-stamped contract, never silently mis-route
    val eKey = intercept[IllegalArgumentException] {
      VersionedSnapshot.applyChanges(spark, dir,
        batch(Seq((5L, 30L, 3L, "U", "e"))).withColumnRenamed("k", "typ2")
          .withColumnRenamed("typ", "k").withColumnRenamed("typ2", "typ"),
        "typ")
    }
    assert(eKey.getMessage.contains("keyed by 'k'"), eKey.getMessage)
    val eBuckets = intercept[IllegalArgumentException] {
      VersionedSnapshot.applyChanges(spark, dir,
        batch(Seq((5L, 30L, 3L, "U", "e"))), "k",
        buckets = Snapshot.DefaultBuckets * 2)
    }
    assert(eBuckets.getMessage.contains("buckets"), eBuckets.getMessage)
  }

  test("diffing a never-written table states the contract instead of crashing opaquely") {
    import spark.implicits._
    val dir = freshDir()
    val empty = Seq.empty[(Long, String)].toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(empty, "k", dir)
    val e = intercept[IllegalArgumentException] {
      VersionedSnapshot.tableChanges(spark, dir, 0L, 0L)
    }
    assert(e.getMessage.contains("maps no buckets"), e.getMessage)
  }

  test("streamed commits: one version per micro-batch, batch-stamped manifests make replays exact no-ops (H16c)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir()
    val base = Seq((1L, "a")).toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(base, "k", dir)
    // direct idempotency: the SAME batch id commits exactly once
    val b = batch(Seq((2L, 10L, 1L, "U", "b")))
    val v1 = VersionedSnapshot.applyChangesBatch(spark, dir, b, "k", 7L)
    val v1again = VersionedSnapshot.applyChangesBatch(spark, dir, b, "k", 7L)
    assert(v1 == 1L && v1again == 1L,
      s"replayed batch must not double-commit: $v1 / $v1again")
    assert(VersionedSnapshot.manifestBatchId(spark, dir, v1).contains(7L))
    // e2e: a changelog stream commits one version per micro-batch and
    // the final live state is the latest-wins election
    val input = MemoryStream[(Long, Long, Long, String, String)]
    val changes = input.toDF().toDF("k", "ts_ms", "event_id", "op", "typ")
      .select(col("k"), struct(col("ts_ms"), col("event_id")).as("ver"),
        col("op"), col("typ"))
    val ck = tempDir("vsnap_ck")
    val q = VersionedSnapshot.applyChangesStream(changes, dir, "k", ck)
    try {
      input.addData((3L, 20L, 2L, "U", "c"), (1L, 20L, 3L, "D", "x"))
      q.processAllAvailable()
      input.addData((3L, 30L, 4L, "U", "c2"))
      q.processAllAvailable()
    } finally q.stop()
    val cur = VersionedSnapshot.currentVersion(spark, dir)
    assert(cur == v1 + 2, s"expected one version per micro-batch, at $cur")
    assert(liveMap(dir, cur) ==
      Map(2L -> ("b", 1L), 3L -> ("c2", 4L)))
    // a reader pinned at v1 is untouched by the stream's commits
    assert(liveMap(dir, v1) == Map(1L -> ("a", 0L), 2L -> ("b", 1L)))
  }

  test("H16c crash e2e: killed AFTER a version publishes, BEFORE the checkpoint commits — restart replays the batch as a no-op, no double version") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir()
    val base = Seq((1L, "a")).toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(base, "k", dir)
    val input = MemoryStream[(Long, Long, Long, String, String)]
    val changes = input.toDF().toDF("k", "ts_ms", "event_id", "op", "typ")
      .select(col("k"), struct(col("ts_ms"), col("event_id")).as("ver"),
        col("op"), col("typ"))
    val ck = tempDir("vsnap_crash_ck")
    // the applyChangesStream sink with a crash injected IN the window
    // the stamp exists to close: the manifest rename (publish) has
    // happened, the micro-batch epoch commit has not
    @volatile var crashArmed = false
    def start() = changes.writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        VersionedSnapshot.applyChangesBatch(b.sparkSession, dir,
          b.localCheckpoint(true), "k", id)
        if (crashArmed && id == 1L) {
          crashArmed = false
          throw new RuntimeException("injected crash after publish")
        }
        ()
      }
      .start()
    val q1 = start()
    try {
      input.addData((2L, 10L, 1L, "U", "b"))
      q1.processAllAvailable() // batch 0 → v1, committed cleanly
      assert(VersionedSnapshot.currentVersion(spark, dir) == 1L)
      crashArmed = true
      input.addData((3L, 20L, 2L, "U", "c"))
      intercept[Exception](q1.processAllAvailable()) // batch 1 → v2, then dies
    } finally q1.stop()
    // the crash landed exactly in the window: v2 IS published...
    assert(VersionedSnapshot.currentVersion(spark, dir) == 2L)
    assert(VersionedSnapshot.manifestBatchId(spark, dir, 2L).contains(1L))
    // ...and the restart replays batch 1 (checkpoint never advanced),
    // which the stamp turns into a no-op — still v2, stamped once
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(VersionedSnapshot.currentVersion(spark, dir) == 2L,
        "replayed publish must not double-commit")
      // and the stream keeps going: the NEXT batch commits v3
      input.addData((3L, 30L, 3L, "U", "c2"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(VersionedSnapshot.currentVersion(spark, dir) == 3L)
    assert(liveMap(dir, 3L) ==
      Map(1L -> ("a", 0L), 2L -> ("b", 1L), 3L -> ("c2", 3L)))
    // history intact under the crash: every version readable
    assert(liveMap(dir, 2L) ==
      Map(1L -> ("a", 0L), 2L -> ("b", 1L), 3L -> ("c", 2L)))
  }

  test("replaying a batch converges: re-applying produces a new version with identical content") {
    import spark.implicits._
    val dir = freshDir()
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "typ")
      .withColumn("ver", ver(0L, 0L)).select("k", "ver", "typ")
    VersionedSnapshot.init(base, "k", dir)
    val b = batch(Seq((1L, 10L, 1L, "U", "a2"), (2L, 10L, 2L, "D", "x")))
    val v1 = VersionedSnapshot.applyChanges(spark, dir, b, "k")
    val v2 = VersionedSnapshot.applyChanges(spark, dir, b, "k")
    assert(liveMap(dir, v1) == liveMap(dir, v2))
    assert(liveMap(dir, v2) == Map(1L -> ("a2", 1L)))
  }
}
