package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.{batchStamp, words}
import graft.sources.{Fixtures, Tables}

/** Persisted TEXT-dedup index — the F-side twin of [[VectorIndex]]
  * (round-6 verdict #2 ask): the curation pipeline's exact-hash and
  * MinHash-band state as a durable artifact, so a NEW ingest batch
  * dedups against the settled corpus by probing the index instead of
  * re-tokenizing and re-signing 100 TB of settled text per run — the
  * continuous-consumer shape of the reference
  * (SergiyStoyan/AwsKinesisConsumer parser.py:272-310 processes the
  * stream incrementally, never re-reading settled fragments) applied
  * to corpus curation.
  *
  * Artifact layout under `dir`:
  *   - `hashes/` — (doc_id, h1, h2): the 128-bit content-hash set of
  *     [[Dedup.dedupExact]] (~24 B/row — 0.01% of the corpus it
  *     indexes), partitioned by (ingest_batch, hb = h1 mod 64).
  *   - `bands/` — (doc_id, band, sig): the exploded MinHash band
  *     signatures of [[Dedup.minhashCandidates]]' geometry (4 bands ×
  *     10 rows; exactly-once emission is the probe's candidate-sized
  *     distinct, so no signature array is stored — the round-10 v2
  *     format, ~40% smaller); partitioned by (ingest_batch,
  *     sb = sig mod 64). A `_FORMAT_v2` marker gates maintenance:
  *     writes into a pre-v2 directory fail loudly instead of mixing
  *     schemas (rebuild the index, or keep maintaining it with the
  *     code that built it).
  *
  * The (ingest_batch, bucket) layout is the [[VectorIndex]] discipline:
  * `ingest_batch` is the idempotency key replayed micro-batches
  * dynamic-overwrite into ([[appendBatch]]), and [[compact]] folds
  * settled batches into the base partition so directory counts stay
  * bounded under continuous ingest. The hash-prefix bucket key keeps
  * individual files block-sized at corpus scale and gives the probe
  * joins a dynamic-partition-pruning handle for small batches.
  *
  * No raw text is ever stored — the index carries hashes and band
  * signatures only, so every probe exchange is ids+hashes wide.
  */
object TextIndex {

  /** Base partition id: [[build]]'s own rows, the fold target of
    * [[compact]]. Ad-hoc [[append]] defaults to [[AdhocBatch]]. */
  val BaseBatch = -1L
  val AdhocBatch = -2L

  /** Hash-prefix partition fanout of both tables. 64 directories per
    * ingest batch: enough for block-sized files at 100 TB-corpus index
    * volume (~TB-scale index), few enough that small-SF tests stay
    * listable. */
  val Buckets = 64

  /** Per-document signature row: the exact-dedup content hash pair
    * (identical arithmetic to [[Dedup.dedupExact]]) plus the MinHash
    * band signature array (identical kernel + tokenization to
    * [[Dedup.minhashCandidates]] — a token-empty document gets an
    * empty array and so never lands in the bands table, mirroring the
    * candidate path's n > 0 filter). */
  private def signatures(docs: DataFrame): DataFrame = {
    docs.select(
      col("doc_id"),
      xxhash64(col("text")).as("h1"),
      xxhash64(lit(1L), col("text")).as("h2"),
      call_function("graft_minhash_bands",
        array_sort(array_distinct(words(col("text"))))).as("sigs"))
  }

  /** The two artifact writes shared by [[build]] / [[append]] /
    * [[appendBatch]] — `sigs` must already be persisted/checkpointed by
    * the caller (two writes over an unpersisted frame would recompute
    * the signatures and, on a non-replay-deterministic input, could
    * desynchronize the tables). */
  private def writeTables(sigs: DataFrame, dir: String, ingestBatch: Long,
      mode: String, dynamic: Boolean): Unit = {
    // A full rebuild (static overwrite) replaces both tables wholesale,
    // so a pre-v2 bands/ directory is about to be deleted anyway — it
    // may stamp over one instead of sending the caller to "rebuild with
    // TextIndex.build" from inside TextIndex.build itself. The stamp
    // moves AFTER the writes on that path: a rebuild that dies mid-way
    // must not leave a marker legitimizing a leftover old-schema table.
    val isRebuild = mode == "overwrite" && !dynamic
    stampOrCheckFormat(sigs.sparkSession, dir, isRebuild = isRebuild,
      deferStamp = isRebuild)
    def w(df: DataFrame, table: String): Unit = {
      val base = df.withColumn("ingest_batch", batchStamp(ingestBatch))
        .write.mode(mode)
      (if (dynamic) base.option("partitionOverwriteMode", "dynamic") else base)
        .partitionBy("ingest_batch", "bk")
        .parquet(s"$dir/$table")
    }
    w(sigs.select(col("doc_id"), col("h1"), col("h2"),
      pmod(col("h1"), lit(Buckets.toLong)).as("bk")), "hashes")
    // (doc_id, band, sig, bk) only — the round-10 slimming: the probe's
    // exactly-once emission is its candidate distinct, so nothing reads
    // a stored signature array and dropping it cuts the band table ~40%
    w(sigs.select(col("doc_id"),
        posexplode(col("sigs")).as(Seq("band", "sig")))
      .select(col("doc_id"), col("band"), col("sig"),
        pmod(col("sig"), lit(Buckets.toLong)).as("bk")), "bands")
    if (isRebuild) stampOrCheckFormat(sigs.sparkSession, dir,
      isRebuild = true)
  }

  /** The band-table format gate: a `_FORMAT_v2` marker is stamped on
    * first write into a dir; an EXISTING index without it was written
    * by the pre-slimming code (its band rows carry a sigs array), and
    * maintaining it with this code would mix parquet schemas in one
    * table — spark.read.parquet infers from an arbitrary footer, so
    * reads and compact() would flip schema nondeterministically. Fail
    * loudly instead: rebuild the index (or compact/maintain it with
    * the code that built it). `isRebuild` marks [[build]]'s static
    * overwrite, which replaces the whole table and may therefore stamp
    * over a pre-v2 directory without the check; with `deferStamp` it
    * only checks (the rebuild stamps in a second call AFTER its writes
    * land, so a half-done rebuild never leaves a marker over an
    * old-schema table). */
  private def stampOrCheckFormat(spark: SparkSession, dir: String,
      isRebuild: Boolean = false, deferStamp: Boolean = false): Unit = {
    val marker = new Path(dir, "_FORMAT_v2")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (isRebuild) {
      // a full rebuild replaces the tables wholesale, so any half-done
      // migration's leftovers must go too — otherwise a later migrate
      // re-run would rename a STALE staging table over the fresh bands
      fs.delete(new Path(dir, MigrateSwap), false)
      fs.delete(new Path(dir, MigrateStaging), true)
    }
    if (!fs.exists(marker)) {
      require(isRebuild || (!fs.exists(new Path(dir, MigrateSwap)) &&
          !fs.exists(new Path(dir, MigrateStaging))),
        s"text index at $dir has an in-progress v1→v2 migration — " +
          "re-run TextIndex.migrate to completion before maintaining it")
      require(isRebuild || !fs.exists(new Path(dir, "bands")),
        s"text index at $dir was written by a pre-v2 build (no _FORMAT_v2 " +
          "marker but a bands/ table exists) — its band rows carry the old " +
          "sigs array column; run TextIndex.migrate (in-place, no corpus " +
          "re-scan) or rebuild with TextIndex.build before maintaining it " +
          "with this version")
      if (!deferStamp) {
        fs.mkdirs(marker.getParent)
        fs.create(marker, true).close()
      }
    }
  }

  private val MigrateStaging = "bands_migrate_staging"
  private val MigrateSwap = "_MIGRATE_SWAP"

  /** In-place v1→v2 migration of a pre-slimming index: rewrites the
    * bands table WITHOUT the stored sigs array (the round-10 format
    * change), then stamps `_FORMAT_v2` — the alternative to "rebuild
    * the index", which at 100 TB re-scans the corpus the incremental
    * index exists to avoid. This touches only the band table (hash-
    * sized rows, no text, no re-tokenization).
    *
    * Replay-safe in the [[appendBatch]] discipline: the slim rows are
    * staged one ingest-batch partition at a time by dynamic partition
    * overwrite (a crashed staging pass re-runs and overwrites exactly
    * its own partitions), and the swap is resumable — a `_MIGRATE_SWAP`
    * marker written only after staging completes drives the
    * delete+rename+stamp sequence, so a crash at ANY point re-runs to
    * the identical final state. The maintenance gate refuses the
    * directory while either migration artifact exists, so a
    * mid-migration index can only be migrated (or rebuilt), never
    * appended to. Idempotent: a v2 directory returns immediately. */
  def migrate(spark: SparkSession, dir: String): Unit =
    migrateImpl(spark, dir, crashBeforeSwap = false)

  /** [[migrate]] with a test seam: `crashBeforeSwap` dies after staging
    * completes but before the swap marker — the widest resume window. */
  private[graft] def migrateImpl(spark: SparkSession, dir: String,
      crashBeforeSwap: Boolean): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val marker = new Path(dir, "_FORMAT_v2")
    val fs = marker.getFileSystem(conf)
    if (fs.exists(marker)) return
    val bands = new Path(dir, "bands")
    val staging = new Path(dir, MigrateStaging)
    val swap = new Path(dir, MigrateSwap)
    if (!fs.exists(swap)) {
      require(fs.exists(bands), s"nothing to migrate at $dir: no bands/")
      // stage batch-by-batch: one ingest_batch partition per write, so
      // peak shuffle is one batch's bands, not the whole table, and a
      // replayed pass overwrites exactly its own partitions
      val all = spark.read.parquet(bands.toString)
      val batchIds = fs.listStatus(bands).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("ingest_batch="))
        .map(_.stripPrefix("ingest_batch=").toLong).sorted
      for (id <- batchIds) {
        all.filter(col("ingest_batch") === batchStamp(id))
          .select(col("doc_id"), col("band"), col("sig"), col("bk"),
            col("ingest_batch"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch", "bk")
          .parquet(staging.toString)
      }
      if (crashBeforeSwap) throw new IllegalStateException(
        "simulated migrate crash before swap (test seam)")
      fs.create(swap, true).close()
    }
    // swap phase, resumable from the marker: staging may already have
    // been renamed by a crashed prior run
    if (fs.exists(staging)) {
      if (fs.exists(bands)) fs.delete(bands, true)
      require(fs.rename(staging, bands),
        s"rename $staging -> $bands failed; re-run migrate")
    }
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(swap, false)
    ()
  }

  /** Build the index over a settled corpus: one corpus scan computes
    * both signature families; everything written is hash-sized. */
  def build(docs: DataFrame, dir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    val sigs = signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try writeTables(sigs, dir, BaseBatch, "overwrite", dynamic = false)
    finally { sigs.unpersist(blocking = false); () }
  }

  /** Ad-hoc append of new documents (plain append — NOT replay-safe;
    * streaming maintenance uses [[appendBatch]]). */
  def append(newDocs: DataFrame, dir: String,
      ingestBatch: Long = AdhocBatch): Unit = {
    import org.apache.spark.storage.StorageLevel
    val sigs = signatures(newDocs).persist(StorageLevel.MEMORY_AND_DISK)
    try writeTables(sigs, dir, ingestBatch, "append", dynamic = false)
    finally { sigs.unpersist(blocking = false); () }
  }

  /** One micro-batch of index maintenance, IDEMPOTENTLY: dynamic
    * partition overwrite keyed by (ingest_batch, bucket) makes a
    * replayed batch replace exactly its own partitions — the
    * [[VectorIndex.appendBatch]] / ConsumerApp.persistBatch rule.
    * Single-writer per ingest_batch id (callers namespace concurrent
    * streams, the [[VectorIndex.appendStream]] pattern). */
  def appendBatch(batch: DataFrame, batchId: Long, dir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    val sigs = signatures(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try writeTables(sigs, dir, batchId, "overwrite", dynamic = true)
    finally { sigs.unpersist(blocking = false); () }
  }

  /** Dedup an ingest batch against the index (and itself) WITHOUT
    * touching settled text. Output, sorted by (id_a, id_b, reason):
    *   - ('exact') id_b is a batch document whose text already exists
    *     under a smaller doc_id (settled or earlier-in-batch); id_a is
    *     the smallest such id — the keeper [[Dedup.dedupExact]] would
    *     elect over the full corpus.
    *   - ('band') (id_a, id_b) share a MinHash band — EXACTLY the
    *     pairs [[Dedup.minhashCandidates]] over the full corpus emits
    *     that involve at least one batch document (TextIndexSpec pins
    *     the equality; the DuckDB oracle replays both rules).
    *
    * Scale shape: the batch signatures are computed once
    * (localCheckpoint — the returned plan contains NO scan of the
    * documents source), then two hash-wide probe joins against the
    * index tables. The batch side is ingest-sized, so Catalyst
    * broadcasts it under the threshold and the bucket equi-condition
    * gives dynamic partition pruning a handle; above the threshold
    * both joins shuffle on hash keys — never on text.
    *
    * `excludeBatch` drops one ingest partition from BOTH index tables
    * (partition-column filter ⇒ pruned at planning time): a replayed
    * micro-batch that already ran [[appendBatch]] before crashing
    * would otherwise probe its OWN signatures and flag every document
    * as a duplicate of itself ([[curateStream]] passes its namespaced
    * batch id here). */
  def dedupBatch(newDocs: DataFrame, dir: String,
      excludeBatch: Option[Long] = None): DataFrame =
    dedupBatchCore(newDocs, dir, excludeBatch)
      .orderBy("id_a", "id_b", "reason")

  /** [[dedupBatch]] without the presentation sort — for consumers that
    * immediately re-shuffle the pairs (the D10 indexed clustering
    * harness verifies and closes over them; a global sort there is a
    * wasted exchange + job). */
  private[operators] def dedupBatchCore(newDocs: DataFrame, dir: String,
      excludeBatch: Option[Long] = None): DataFrame =
    dedupBatchFrom(signatures(newDocs).localCheckpoint(true), dir,
      excludeBatch)

  /** [[dedupBatch]] from ALREADY-CHECKPOINTED batch signatures — the
    * form [[curateKeepers]] uses so its reverse exact probe reads the
    * same frame as the pair probe (one tokenize+minhash pass per batch,
    * and no chance of the two tiers seeing different hashes under a
    * non-replay-deterministic batch). */
  private def dedupBatchFrom(bSigs: DataFrame, dir: String,
      excludeBatch: Option[Long]): DataFrame = {
    val spark = bSigs.sparkSession
    warnIfCompacting(spark, dir)
    def idx(table: String): DataFrame = {
      val df = spark.read.parquet(s"$dir/$table")
      excludeBatch.fold(df)(b => df.filter(col("ingest_batch") =!= batchStamp(b)))
    }
    val idxHashes = idx("hashes")
    val idxBands = idx("bands")
    // exact tier: smallest same-content id over settled ∪ batch. The
    // batch side unions in so within-batch duplicates resolve to the
    // same keeper the full-corpus recompute would pick.
    val pool = idxHashes.select(col("doc_id"), col("h1"), col("h2"))
      .unionByName(bSigs.select(col("doc_id"), col("h1"), col("h2")))
    val exact = bSigs.as("nw")
      .join(pool.as("p"),
        col("p.h1") === col("nw.h1") && col("p.h2") === col("nw.h2") &&
          col("p.doc_id") < col("nw.doc_id"))
      .groupBy(col("nw.doc_id"))
      .agg(min(col("p.doc_id")).as("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"), lit("exact").as("reason"))
    // band tier, within the batch: the candidate engine itself
    val within = Dedup.candidatesOf(bSigs.select(col("doc_id"), col("sigs")))
      .select(col("id_a"), col("id_b"), lit("band").as("reason"))
    // band tier, batch × settled: probe the persisted band table. The
    // bucket equality is implied by sig equality — it's there purely as
    // the dynamic-partition-pruning handle on the index scan. The
    // distinct below is the exactly-once emission for multi-band
    // agreements too (the round-10 slimming: no signature arrays carried
    // on either side, no stored array column read from the index).
    val probe = bSigs.select(col("doc_id"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    val cross = probe.as("x")
      .join(idxBands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("y.bk") === pmod(col("x.sig"), lit(Buckets.toLong)))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        lit("band").as("reason"))
      // candidate-sized distinct: a compact that died between its fold
      // and its sweep leaves each settled band row in BOTH the base and
      // its original batch directory, which would re-emit every cross
      // pair once per copy — keeper election downstream must see each
      // candidate pair exactly once
      .distinct()
    exact.unionByName(within).unionByName(cross)
  }

  /** On-disk bytes of the persisted index under `dir` — the sizing
    * input for the probe joins' reducer width
    * ([[Dedup.sizedShufflePartitions]]): the settled tables are the
    * corpus-scaled side of every probe exchange and their stored size
    * is exact and free (one FS content summary, no Spark job). At bench
    * SF the rule floors to the session width (plans/times untouched);
    * at the sf10 ladder rung the unsized probe join dies on
    * SparkOutOfMemoryError at the 8 g bench heap — per-task build/agg
    * state grows with the corpus on a constant reducer count
    * (optimization guide §2.2/§5). */
  private[operators] def indexBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** The curation-gate keeper rule shared by [[curateStream]] and
    * batch callers: a batch document is DROPPED iff it is the larger
    * id of a [[dedupBatch]] pair whose other side is also in the
    * batch (the min-id representative survives, the batch curation
    * pipeline's keeper election), or EITHER side of a pair whose other
    * side is settled — the settled copy wins at any id, because it
    * cannot be unshipped at ingest time. Greedy per pair, like every
    * curation tier here: a doc dropped for duplicating a settled doc
    * still drags its own in-batch near-dups down with it. */
  def curateKeepers(batch: DataFrame, dir: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    // ONE signature pass per batch: the pair probe and the reverse
    // exact probe below both read this checkpointed frame
    val bSigs = signatures(batch).localCheckpoint(true)
    // the probe joins materialize HERE (eager checkpoint): size their
    // reducer count from the settled index bytes, not the session
    // constant — at 100× data the constant-width join's per-task state
    // OOMs the 8 g heap (see [[indexBytes]])
    val pairs = Dedup.withInitialPartitions(spark,
        Dedup.sizedShufflePartitions(spark, indexBytes(spark, dir))) {
      val p0 = dedupBatchFrom(bSigs, dir, excludeBatch)
        .filter(col("id_a") =!= col("id_b"))
      graft.tools.StagePlans.record(p0, "curate/index_probe")
      p0.localCheckpoint(true) // candidate-sized; feeds two branches
    }
    val batchIds = batch.select(col("doc_id"))
    val asB = pairs.select(col("id_b").as("doc_id"))
    val asA = pairs
      .join(batchIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
        "left_anti")
      .select(col("id_a").as("doc_id"))
    // REVERSE exact probe: a settled document with identical text at a
    // LARGER id still wins — [[dedupBatch]]'s exact tier elects only
    // smaller-id keepers (its pair contract), and the band tier covers
    // the larger-id case only when the document tokenizes; a
    // token-empty batch doc would otherwise survive alongside its
    // settled copy. Hash-wide probe of the settled hashes table, same
    // exclusion guard.
    val settledHashes = {
      val df = spark.read.parquet(s"$dir/hashes")
      excludeBatch.fold(df)(b => df.filter(col("ingest_batch") =!= batchStamp(b)))
    }
    val revExact = bSigs.as("nw")
      .join(settledHashes.as("p"),
        col("p.h1") === col("nw.h1") && col("p.h2") === col("nw.h2") &&
          col("p.doc_id") > col("nw.doc_id"))
      .select(col("nw.doc_id").as("doc_id"))
    batch.join(asB.unionByName(asA).unionByName(revExact).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** D7b — the CONTINUOUS curation gate: the whole incremental-curation
    * loop (probe the settled index, keep the novel documents, index the
    * batch) as ONE resumable streaming query — the reference consumer's
    * continuous shape (SergiyStoyan/AwsKinesisConsumer parser.py:272-310
    * never re-reads settled fragments) applied to corpus curation end
    * to end. Per micro-batch, in order:
    *   1. [[curateKeepers]] probes the index EXCLUDING the batch's own
    *      namespaced ingest partition (see [[dedupBatch]]'s
    *      `excludeBatch` — the crash-replay guard);
    *   2. keepers persist by dynamic partition overwrite keyed on the
    *      namespaced batch id (the B19 idempotent-persist rule);
    *   3. [[appendBatch]] indexes the FULL batch — keepers and dropped
    *      docs alike, so a later near-dup of a dropped doc is still
    *      caught — under the same namespaced id.
    * Every step is a deterministic function of (index state minus own
    * partition, batch content) and overwrites only its own partitions,
    * so a crash anywhere replays to identical keepers and an identical
    * index. Run-id namespacing and collision registration are
    * [[VectorIndex.appendStream]]'s: same checkpoint ⇒ same namespace
    * (replays overwrite themselves), different checkpoint ⇒ disjoint,
    * collisions fail loudly at start. */
  def curateStream(docs: DataFrame, dir: String, checkpointDir: String,
      keepersDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val runId = VectorIndex.streamRunId(checkpointDir)
    VectorIndex.registerRun(docs.sparkSession, dir, runId, checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        require(batchId < (1L << 40),
          s"micro-batch id $batchId overflows the 40-bit batch namespace")
        val id = runId | batchId
        val b = batch.localCheckpoint(true)
        curateKeepers(b, dir, excludeBatch = Some(id))
          .withColumn("ingest_batch", batchStamp(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(keepersDir)
        appendBatch(b, id, dir)
      }
      .start()
  }

  /** Fold settled ingest batches into the base partition — bounded
    * directory counts under continuous ingest, search-identical
    * results ([[VectorIndex.compact]]'s staging discipline: stage the
    * merged base OUTSIDE the table, dynamic-overwrite the base
    * partitions, sweep the folded directories). Idempotent: the merge
    * deduplicates by natural key — (doc_id) for hashes, (doc_id, band)
    * for bands — and signatures are deterministic functions of the
    * text, so replays collapse to identical rows. Single writer per
    * index dir assumed (the [[VectorIndex.compact]] contract). */
  def compact(spark: SparkSession, dir: String,
      upToBatch: Long = Long.MaxValue): Unit =
    compactImpl(spark, dir, upToBatch, crashBeforeSweep = false)

  /** True while a [[compact]] is mid-fold or died before its sweep —
    * the probe-side observability hook for the crash window (the
    * [[VectorIndex.compactInProgress]] pattern): during it a settled
    * band row exists in both the base and its original batch directory,
    * so [[dedupBatch]]'s cross tier relies on its distinct() and logs a
    * warning rather than failing. */
  def compactInProgress(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_COMPACT_INPROGRESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def warnIfCompacting(spark: SparkSession, dir: String): Unit =
    if (compactInProgress(spark, dir))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupBatch on $dir during an in-progress/crashed compact: " +
          "duplicated index rows are folded by the probe's distinct; " +
          "re-run compact to clear the marker")

  /** [[compact]] with a test seam: `crashBeforeSweep` aborts after the
    * band table's fold, before its directory sweep — the widest version
    * of the crash window the marker exists to make visible, and the one
    * that duplicates the rows [[dedupBatch]]'s cross-tier distinct()
    * must fold. */
  private[graft] def compactImpl(spark: SparkSession, dir: String,
      upToBatch: Long, crashBeforeSweep: Boolean): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val markerPath = new Path(dir, "_COMPACT_INPROGRESS")
    val markerFs = markerPath.getFileSystem(conf)
    var wroteAny = false
    for ((table, key) <- Seq("hashes" -> Seq("doc_id"),
        "bands" -> Seq("doc_id", "band"))) {
      val root = new Path(s"$dir/$table")
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) {
        val batchDirs = fs.listStatus(root).toSeq
          .filter(_.isDirectory)
          .map(_.getPath)
          .filter(_.getName.startsWith("ingest_batch="))
          .filter { p =>
            val id = p.getName.stripPrefix("ingest_batch=").toLong
            (id >= 0L && id <= upToBatch) ||
              (id == AdhocBatch && upToBatch == Long.MaxValue)
          }
        if (batchDirs.nonEmpty) {
          if (!wroteAny) { markerFs.create(markerPath, true).close(); wroteAny = true }
          val staging = new Path(s"$dir/${table}_compact_staging")
          val settled = col("ingest_batch") === BaseBatch ||
            (col("ingest_batch") >= 0L && col("ingest_batch") <= upToBatch) ||
            (if (upToBatch == Long.MaxValue)
              col("ingest_batch") === AdhocBatch else lit(false))
          spark.read.parquet(s"$dir/$table")
            .filter(settled)
            .dropDuplicates(key)
            .withColumn("ingest_batch", lit(BaseBatch))
            .write.mode("overwrite").parquet(staging.toString)
          spark.read.parquet(staging.toString)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch", "bk")
            .parquet(s"$dir/$table")
          if (crashBeforeSweep && table == "bands")
            throw new IllegalStateException(
              "simulated compact crash before sweep (test seam)")
          batchDirs.foreach(fs.delete(_, true))
          fs.delete(staging, true)
        }
      }
    }
    if (wroteAny) { markerFs.delete(markerPath, false); () }
  }

  /** Builds (once per source generation) the index for `sfDir`'s SETTLED
    * documents — doc_id % 8 in [0, 6] — exercising the full lifecycle
    * (base build on % 8 < 6, an idempotently replayed appendBatch of
    * % 8 == 6, then compact), and returns its directory. The % 8 == 7
    * slice is the "new ingest" [[SparkEntry]]'s dedup_incremental
    * query dedups against it. */
  def materialize(t: Tables, sfDir: String): String = {
    val spark = t.documents.sparkSession
    // v2: the round-10 band-table slimming dropped the stored sigs
    // column — the version bump rebuilds any v1 artifact rather than
    // letting compact() union mixed schemas
    Fixtures.once(spark, s"text_index_v2_b$Buckets", sfDir) { out =>
      val docs = t.documents
      build(docs.filter(pmod(col("doc_id"), lit(8L)) < 6L), out)
      val batch = docs.filter(pmod(col("doc_id"), lit(8L)) === 6L)
      appendBatch(batch, 0L, out)
      appendBatch(batch, 0L, out) // replay: must be a no-op
      compact(spark, out)
    }
  }
}
