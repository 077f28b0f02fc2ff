package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** H16 — SNAPSHOT TIME TRAVEL: version manifests over [[Snapshot]]'s
  * hash-bucketed layout (round 14; the natural completion of the
  * lakehouse trio — H13 merge, H13b versioned CDC apply, H14
  * compaction), the Delta/Iceberg `VERSION AS OF` read re-expressed as
  * plain parquet + a manifest directory.
  *
  * Why [[Snapshot.mergeCdc]] alone cannot time-travel: dynamic
  * partition overwrite REPLACES the touched buckets' files, so history
  * is physically gone the moment a merge lands. The versioned table is
  * therefore COPY-ON-WRITE:
  *
  *   - `data/v=N/bucket=B/` — immutable parquet written by commit N;
  *     a commit writes ONLY the buckets it touched, never rewrites or
  *     deletes an earlier commit's files.
  *   - `_manifests/vN.manifest` — the table AT version N as a
  *     (bucket → commit) map: which commit's directory holds each
  *     bucket's current rows. Bucket-count-sized (≤ `buckets` lines),
  *     written to a temp name and atomically renamed (the [[Compaction]]
  *     redo-marker rule: a half-written manifest must never be a
  *     readable version).
  *
  * A commit = data first, manifest rename last — a crash anywhere
  * leaves an orphan `data/v=N` directory that the retried commit
  * overwrites, never a visible half-version. Reading AS OF v groups the
  * manifest by commit and unions one partition-pruned scan per commit
  * — no shuffle, file-level pruning, manifests never touch row data.
  *
  * Change application is [[Snapshot.mergeCdc]]'s versioned tombstone
  * discipline verbatim: a change applies only at `ver` >= the stored
  * version, deletes write tombstones, so out-of-order and replayed
  * batches converge — and EVERY historical version keeps its own view
  * of the tombstones (the as-of-after-delete spec).
  *
  * Scale shape: per-commit cost ∝ touched partitions (the H13 claim,
  * now with history); per-read cost ∝ the buckets actually scanned
  * (partition pruning inside each commit branch); manifest IO is
  * bucket-count-sized driver work. [[compactVersions]] is the
  * file-count maintenance loop: folds the CURRENT version's buckets
  * into one fresh commit and publishes it as a new version — prior
  * manifests keep pointing at the old directories, so every historical
  * read is byte-identical before and after (spec-pinned);
  * [[vacuum]] is the retention step that finally deletes data
  * directories no retained manifest references.
  *
  * Ref: no analog in SergiyStoyan/AwsKinesisConsumer (the consumer
  * keeps only newest-N frames, parser.py:470-481); this is the archive
  * counterpart its downstream store would need for reproducible
  * training-data snapshots ("train on the corpus exactly as it stood
  * on date D").
  */
object VersionedSnapshot {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestPath(path: String, v: Long) =
    new Path(path, f"_manifests/v$v%06d.manifest")

  /** Largest published version, or -1 for an uninitialized table. */
  def currentVersion(spark: SparkSession, path: String): Long = {
    val dir = new Path(path, "_manifests")
    val fs = fsOf(spark, path)
    if (!fs.exists(dir)) return -1L
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      .foldLeft(-1L)(math.max)
  }

  private def readManifest(spark: SparkSession, path: String,
      v: Long): Map[Long, Long] = {
    val fs = fsOf(spark, path)
    val p = manifestPath(path, v)
    require(fs.exists(p), s"no version $v at $path (manifest missing)")
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
    lines.filterNot(_.startsWith("#")).map { l =>
      val Array(b, c) = l.split("=", 2); b.toLong -> c.toLong
    }.toMap
  }

  /** The ingest-batch id stamped into version `v`'s manifest (None for
    * non-stream commits) — the [[applyChangesBatch]] replay decision. */
  def manifestBatchId(spark: SparkSession, path: String,
      v: Long): Option[Long] = {
    val fs = fsOf(spark, path)
    val p = manifestPath(path, v)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList
    finally in.close()
    lines.find(_.startsWith("#batch="))
      .map(_.stripPrefix("#batch=").toLong)
  }

  /** The table's key-column name and bucket count as stamped into
    * version `v`'s manifest header (round 15 — the round-14 advisory:
    * the key must be DECLARED table metadata, never inferred from a
    * commit's column order). None for pre-header manifests. */
  private def readTableMeta(spark: SparkSession, path: String,
      v: Long): (Option[String], Option[Int]) = {
    val fs = fsOf(spark, path)
    val p = manifestPath(path, v)
    require(fs.exists(p), s"no version $v at $path (manifest missing)")
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList
    finally in.close()
    (lines.find(_.startsWith("#key=")).map(_.stripPrefix("#key=")),
      lines.find(_.startsWith("#buckets="))
        .map(_.stripPrefix("#buckets=").toInt))
  }

  /** Validate a commit's declared (keyCol, buckets) against the table's
    * stamped metadata — a caller re-keying or re-bucketing an existing
    * table mis-routes every row, so it must fail LOUDLY, not mis-merge.
    * Pre-header tables (no stamp) validate vacuously. */
  private def requireTableMeta(spark: SparkSession, path: String,
      v: Long, keyCol: String, buckets: Int): Unit = {
    val (k, b) = readTableMeta(spark, path, v)
    require(k.forall(_ == keyCol),
      s"$path is keyed by '${k.get}' but the commit declares '$keyCol'")
    require(b.forall(_ == buckets),
      s"$path has ${b.get} buckets but the commit declares $buckets")
  }

  /** Publish manifest `v`: temp write + atomic rename (all-or-nothing —
    * a reader can never observe a truncated bucket map). The header
    * stamps the table's key column and bucket count alongside the
    * optional ingest-batch id. */
  private def writeManifest(spark: SparkSession, path: String, v: Long,
      entries: Map[Long, Long], keyCol: String, buckets: Int,
      batchId: Option[Long] = None): Unit = {
    val fs = fsOf(spark, path)
    val target = manifestPath(path, v)
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = fs.create(tmp, true)
    val body = Seq(s"#key=$keyCol", s"#buckets=$buckets") ++
      batchId.map(id => s"#batch=$id").toSeq ++
      entries.toSeq.sorted.map { case (b, c) => s"$b=$c" }
    out.write(body.mkString("\n").getBytes("UTF-8"))
    out.close()
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"could not publish manifest $target")
  }

  /** Initialize version 0 from a (key, payload) frame: rows stored in
    * the CDC layout (ver struct + tombstone flag) so later
    * [[applyChanges]] commits compose. `ver` must be present (the
    * initial load's version column, e.g. struct(ts_ms, id)). */
  def init(df: DataFrame, keyCol: String, path: String,
      buckets: Int = Snapshot.DefaultBuckets): Long = {
    val spark = df.sparkSession
    require(currentVersion(spark, path) < 0L,
      s"$path is already a versioned snapshot")
    // key first in the stored layout regardless of the caller's column
    // order (the round-14 advisory: pre-header readers inferred the key
    // from position — the layout now guarantees it AND the manifest
    // declares it)
    val rest = df.columns.filterNot(_ == keyCol).toSeq
    val withB = df
      .select(col(keyCol) +: rest.map(col): _*)
      .withColumn("deleted", lit(false))
      .withColumn("bucket", Snapshot.bucketOf(col(keyCol), buckets))
    withB.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/data/v=0")
    val present = withB.select("bucket").distinct()
      .collect().map(_.getLong(0))
    writeManifest(spark, path, 0L, present.map(_ -> 0L).toMap,
      keyCol, buckets)
    0L
  }

  /** Apply one CDC batch as a NEW VERSION (copy-on-write
    * [[Snapshot.mergeCdc]]): `changes` carries keyCol, an orderable
    * `ver`, `op` ("U"/"D"), and payload. Touched buckets are rewritten
    * into `data/v=<new>`; untouched buckets keep their manifest entry —
    * their files are not opened, let alone rewritten. Returns the new
    * version. Replay-safe: a crashed commit never published its
    * manifest, and the retry overwrites the orphan data directory. */
  def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
      keyCol: String, buckets: Int = Snapshot.DefaultBuckets): Long =
    applyChangesImpl(spark, path, changes, keyCol, buckets, None)

  /** One STREAM micro-batch as one published version, idempotently:
    * the committing manifest is stamped with the micro-batch id, so a
    * replayed batch (crash after publish, before the checkpoint
    * advanced) sees its own id on the current version and SKIPS
    * instead of double-committing — the manifest rename is the atomic
    * commit point, so the decision is exact. A crash BEFORE publish
    * leaves only an orphan data dir the retry overwrites (the
    * applyChanges contract). Used by [[applyChangesStream]]. */
  def applyChangesBatch(spark: SparkSession, path: String,
      batch: DataFrame, keyCol: String, batchId: Long,
      buckets: Int = Snapshot.DefaultBuckets): Long = {
    val cur = currentVersion(spark, path)
    if (cur >= 0L && manifestBatchId(spark, path, cur).contains(batchId)) cur
    else applyChangesImpl(spark, path, batch, keyCol, buckets, Some(batchId))
  }

  /** H16c — continuous versioned ingestion: every micro-batch of a CDC
    * changelog stream becomes ONE published, time-travelable version
    * (the B19 idempotent-persist rule lifted to whole versions): crash
    * replays converge to the identical history, and a reader holding
    * any version keeps reading it unchanged while the stream commits
    * ahead. Single writer per table path (the manifest counter is the
    * commit sequence). */
  def applyChangesStream(changes: DataFrame, path: String, keyCol: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyChangesBatch(batch.sparkSession, path,
          batch.localCheckpoint(true), keyCol, batchId)
        ()
      }
      .start()

  private def applyChangesImpl(spark: SparkSession, path: String,
      changes: DataFrame, keyCol: String, buckets: Int,
      batchId: Option[Long]): Long = {
    val cur = currentVersion(spark, path)
    require(cur >= 0L, s"$path is not initialized (call init first)")
    requireTableMeta(spark, path, cur, keyCol, buckets)
    val manifest = readManifest(spark, path, cur)
    val payloadCols = changes.columns.filterNot(
      c => c == keyCol || c == "ver" || c == "op").toSeq
    // within-batch winner per key — the B23 max-struct election
    // (ver leads the ordering and is unique per change)
    val winner = changes
      .select(col(keyCol), struct(
        (col("ver") +: col("op") +: payloadCols.map(col)): _*).as("w"))
      .groupBy(keyCol).agg(max(col("w")).as("w"))
      .select(col(keyCol) +: col("w.ver").as("ver") +:
        col("w.op").as("op") +: payloadCols.map(c => col(s"w.$c").as(c)): _*)
    val bb = winner.withColumn("bucket",
      Snapshot.bucketOf(col(keyCol), buckets))
    val touched = bb.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    if (touched.isEmpty) return cur
    def stored(deleted: org.apache.spark.sql.Column) = struct(
      (col("ver") +: payloadCols.map(col)) :+ deleted.as("deleted") :+
        col("bucket"): _*)
    val chg = bb.select(col(keyCol), stored(col("op") === "D").as("c"))
    // base side: the touched buckets as of `cur`, one pruned scan per
    // commit directory that still holds one of them
    val baseBranches = manifest.filter(t => touched(t._1)).toSeq
      .groupBy(_._2).toSeq.map { case (commit, entries) =>
        spark.read.parquet(s"$path/data/v=$commit")
          .filter(col("bucket").isin(entries.map(_._1): _*))
      }
    val joined = baseBranches.reduceOption(_ unionByName _) match {
      case Some(base) =>
        base.select(col(keyCol), stored(col("deleted")).as("b"))
          .join(chg, Seq(keyCol), "full_outer")
      case None =>
        chg.withColumn("b", lit(null).cast(chg.schema("c").dataType))
    }
    val picked = when(col("c").isNull, col("b"))
      .when(col("b").isNull, col("c"))
      .when(col("c.ver") >= col("b.ver"), col("c"))
      .otherwise(col("b"))
    val merged = joined.select(col(keyCol), picked.as("st"))
      .select(col(keyCol), col("st.*"))
    val next = cur + 1L
    merged.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/data/v=$next")
    writeManifest(spark, path, next,
      manifest ++ touched.map(_ -> next), keyCol, buckets, batchId)
    next
  }

  /** The table AS OF `version`, tombstones and layout included: one
    * partition-pruned scan per commit the manifest references, no
    * shuffle. */
  def readAsOf(spark: SparkSession, path: String, version: Long): DataFrame = {
    val manifest = readManifest(spark, path, version)
    readBuckets(spark, path, manifest)
      .getOrElse(throw new IllegalArgumentException(
        s"version $version of $path maps no buckets"))
  }

  private def readBuckets(spark: SparkSession, path: String,
      entries: Map[Long, Long]): Option[DataFrame] =
    entries.toSeq.groupBy(_._2).toSeq
      .sortBy(_._1).map { case (commit, es) =>
        spark.read.parquet(s"$path/data/v=$commit")
          .filter(col("bucket").isin(es.map(_._1): _*))
      }.reduceOption(_ unionByName _)

  /** H16b — `table_changes(fromV, toV]`: the keyed CHANGE SET between
    * two published versions (Delta's Change Data Feed read), classified
    * insert / update / delete by comparing each key's stored
    * (ver, deleted) state at the two versions. The read is pruned at
    * the MANIFEST level before any file opens: a bucket whose manifest
    * entry is identical in both versions points at the same immutable
    * commit directory — byte-identical by construction — so only
    * REMAPPED buckets are scanned on either side. A day's incremental
    * consumer therefore reads the touched slice of the table, never
    * the 100 TB of settled buckets. One key-hash join over the pruned
    * slice; tombstone semantics carry through (a key deleted in the
    * range emits 'delete' with the tombstone's version; a tombstone
    * overwritten by a NEWER upsert emits 'insert'). */
  def tableChanges(spark: SparkSession, path: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val mFrom = readManifest(spark, path, fromV)
    val mTo = readManifest(spark, path, toV)
    // a table whose to-version maps no buckets has never committed a
    // row: there is no parquet anywhere to shape an empty frame from,
    // so fail with the contract instead of a NoSuchElementException
    // (manifest keys only grow, so mFrom ⊆ mTo — both are empty here)
    require(mTo.nonEmpty,
      s"version $toV of $path maps no buckets (the table is empty at " +
        s"$toV); no rows have ever committed, so ($fromV,$toV] has no " +
        "change set")
    // manifest-level pruning: only remapped buckets can differ
    val changed = (mTo.toSet -- mFrom.toSet).map(_._1) ++
      (mFrom.keySet -- mTo.keySet)
    // the key is DECLARED in the manifest header; the positional
    // fallback serves pre-header tables only (key-first is guaranteed
    // by both init and applyChanges)
    val keyCol = readTableMeta(spark, path, toV)._1.getOrElse(
      spark.read.parquet(s"$path/data/v=${mTo.values.toSeq.max}")
        .columns.head)
    def side(m: Map[Long, Long], p: String) =
      readBuckets(spark, path, m.filter(e => changed(e._1)))
        .map(_.select(col(keyCol),
          struct(col("ver"), col("deleted")).as(s"${p}st")))
    (side(mFrom, "o_"), side(mTo, "n_")) match {
      case (Some(o), Some(n)) =>
        o.join(n, Seq(keyCol), "full_outer")
          .withColumn("change",
            when((col("o_st").isNull || col("o_st.deleted")) &&
              col("n_st").isNotNull && !col("n_st.deleted"), "insert")
              .when(col("o_st").isNotNull && !col("o_st.deleted") &&
                col("n_st").isNotNull && col("n_st.deleted"), "delete")
              .when(col("o_st").isNotNull && !col("o_st.deleted") &&
                col("n_st").isNotNull && !col("n_st.deleted") &&
                !(col("n_st.ver") <=> col("o_st.ver")), "update"))
          .filter(col("change").isNotNull)
          .select(col(keyCol), col("change"),
            coalesce(col("n_st.ver"), col("o_st.ver")).as("ver"))
      case (None, Some(n)) =>
        // EVERY remapped bucket is new since fromV (e.g. diffing from
        // an empty v0 — the round-14 advisory): each live key in them
        // is an insert; in-range insert+delete pairs (tombstones) fall
        // out, matching the full-outer classification
        n.filter(!col("n_st.deleted"))
          .select(col(keyCol), lit("insert").as("change"),
            col("n_st.ver").as("ver"))
      case (Some(o), None) =>
        // the mirror (cannot arise while manifest keys only grow, but
        // the classification is total): live from-side keys with no
        // to-side bucket are deletes
        o.filter(!col("o_st.deleted"))
          .select(col(keyCol), lit("delete").as("change"),
            col("o_st.ver").as("ver"))
      case (None, None) =>
        // no remapped buckets at all (fromV == toV): genuinely empty
        // change set with the table's own schema
        spark.read.parquet(s"$path/data/v=${mTo.values.toSeq.max}")
          .filter(lit(false))
          .select(col(keyCol), lit("").as("change"), col("ver"))
    }
  }

  /** The LIVE rows as of `version` (tombstones and layout dropped) —
    * the user-facing `SELECT * FROM t VERSION AS OF v`. */
  def readLiveAsOf(spark: SparkSession, path: String,
      version: Long): DataFrame =
    readAsOf(spark, path, version).filter(!col("deleted"))
      .drop("deleted", "bucket")

  /** File-count maintenance: fold the CURRENT version's buckets into a
    * single fresh commit and publish it as a new version with identical
    * logical content. Prior manifests keep referencing the old
    * directories — every historical read is byte-identical before and
    * after (the compaction-preserves-versions spec). */
  def compactVersions(spark: SparkSession, path: String): Long = {
    val cur = currentVersion(spark, path)
    require(cur >= 0L, s"$path is not initialized")
    val next = cur + 1L
    val all = readAsOf(spark, path, cur)
    all.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/data/v=$next")
    // carry the table metadata through (pre-header tables: infer the
    // key positionally once and stamp it going forward; the bucket
    // count is recoverable from the manifest's own key set upper bound
    // only via the default, which every pre-header writer used)
    val (k, b) = readTableMeta(spark, path, cur)
    writeManifest(spark, path, next,
      readManifest(spark, path, cur).keySet.map(_ -> next).toMap,
      k.getOrElse(all.columns.head), b.getOrElse(Snapshot.DefaultBuckets))
    next
  }

  /** Retention: drop manifests OLDER than `retainFrom` and delete every
    * `data/v=` directory no surviving manifest references. The
    * time-travel window becomes [retainFrom, current]. */
  def vacuum(spark: SparkSession, path: String, retainFrom: Long): Unit = {
    val fs = fsOf(spark, path)
    val cur = currentVersion(spark, path)
    require(retainFrom <= cur, s"retainFrom $retainFrom > current $cur")
    val versions = (0L to cur).filter(v =>
      fs.exists(manifestPath(path, v)))
    val (drop, keep) = versions.partition(_ < retainFrom)
    val referenced = keep.flatMap(v =>
      readManifest(spark, path, v).values).toSet
    drop.foreach(v => fs.delete(manifestPath(path, v), false))
    val dataDir = new Path(path, "data")
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => p.getName.startsWith("v=") &&
          !referenced(p.getName.stripPrefix("v=").toLong))
        .foreach(fs.delete(_, true))
    }
  }

  /** Builds (once per source generation, [[Fixtures.once]]) the
    * 5-version history both H16 queries read: v0 empty init, then one
    * version per out-of-order changelog slice — v1={3}, v2={3,1},
    * v3+={0}, v4+={2}. */
  private def materializeHistory(t: Tables, sfDir: String): String = {
    val spark = t.events.sparkSession
    val changes = t.events
      .withColumn("ts_ms", graft.functions.nanosToMs(col("ts")))
      .select(col("user_id"),
        struct(col("ts_ms"), col("event_id")).as("ver"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("event_type").as("typ"),
        graft.functions.cents(col("value")).as("value_c"),
        col("event_id"))
    Fixtures.once(spark, s"tt_snapshot_v2_b${Snapshot.DefaultBuckets}", sfDir) { out =>
      def slice(i: Int) = changes.filter(col("event_id") % 4 === i)
        .drop("event_id")
      init(slice(3).filter(lit(false)).drop("op"), "user_id", out)
      for (i <- Seq(3, 1, 0, 2)) applyChanges(spark, out, slice(i), "user_id")
    }
  }

  /** The [Q:snapshot_changes] fixture: `table_changes(v2, v4]` over the
    * same history — every user whose state CHANGED after version 2,
    * classified insert / update / delete with the winning version's
    * (ts, id). The oracle replays both versions' latest-wins elections
    * relationally and classifies from scratch, so the hash gate proves
    * the manifest-pruned incremental read equals the full two-version
    * diff — including tombstone transitions in both directions. */
  def changesQuery(t: Tables, sfDir: String): DataFrame = {
    val spark = t.events.sparkSession
    val dir = materializeHistory(t, sfDir)
    tableChanges(spark, dir, 2L, 4L)
      .select(col("user_id"), col("change"),
        col("ver.event_id").as("last_event_id"),
        col("ver.ts_ms").as("last_ms"))
      .orderBy("user_id")
  }

  /** The [Q:snapshot_time_travel] fixture: the merge_cdc changelog
    * (events keyed by user_id, ver = (ts_ms, event_id), op = D on
    * 'error') applied in the SAME out-of-order batch sequence
    * (event_id % 4 slices 3 → 1 → 0 → 2), each as one published
    * version — then read back AS OF version 2, i.e. the table as it
    * stood when only slices {3, 1} had landed, AFTER versions 3 and 4
    * exist. The oracle replays the latest-wins election restricted to
    * those two slices, so the hash gate proves historical reads are
    * insulated from later commits — including later deletes and later
    * re-upserts (slice 0/2 rows are invisible however they interleave).
    * History builds once; the benched query is the
    * manifest-driven pruned read, which is the feature. */
  def timeTravelQuery(t: Tables, sfDir: String): DataFrame = {
    val spark = t.events.sparkSession
    val dir = materializeHistory(t, sfDir)
    readLiveAsOf(spark, dir, 2L)
      .select(col("user_id"), col("ver.event_id").as("last_event_id"),
        col("ver.ts_ms").as("last_ms"), col("typ").as("last_type"),
        col("value_c").as("last_value_c"))
      .orderBy("user_id")
  }
}
