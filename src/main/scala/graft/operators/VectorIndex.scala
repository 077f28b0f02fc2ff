package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.batchStamp
import graft.sources.{Fixtures, Tables}

/** PERSISTED vector index — the deployment shape of IVF+PQ at 100 TB:
  * fit ONCE, write the artifact to tables, search MANY times against it.
  * The inline operators (Similarity.ivfPqTopK and friends) refit their
  * models per materialization — correct and self-contained for a bench,
  * but a real corpus amortizes its index over millions of queries (the
  * reference's consumer, parser.py:272-310, runs continuously; its
  * analytics must not refit per query batch).
  *
  * Artifact layout under `dir` (all parquet):
  *   - `centroids`: (cell int, centroid array<double>) — coarse
  *     quantizer over UNIT vectors; model-sized (kCells × dim).
  *   - `codebook`: (j int, c int, vec array<double>) — per-subspace
  *     residual PQ codebooks; model-sized (m × pqCells × dim/m).
  *   - `codes`: (n_id long, codes array<int>), PARTITIONED BY
  *     (ingest_batch, cell) — the compressed corpus, ~m bytes of
  *     payload per row (the ~64× compression). Partitioning by cell
  *     turns query routing into parquet PARTITION PRUNING: a search's
  *     scan physically reads nprobe/kCells of the archive.
  *   - `vectors`: (n_id long, v array<double>), PARTITIONED BY
  *     (ingest_batch, cell) — the UNIT vectors, cell-partitioned like
  *     `codes`, so the EXACT tier's vector read partition-prunes to the
  *     probed cells instead of joining the full corpus (the round-5
  *     scale flaw: `searchIvfTopK` joined the unpartitioned embeddings
  *     table on n_id — a full-corpus scan + corpus-wide shuffle per
  *     query batch). This is the classic IVFFlat inverted-list layout:
  *     the index stores the vectors it ranks, trading one extra copy of
  *     the corpus for searches that touch nprobe/kCells of it.
  *   - `health`: (ingest_batch, n, mean_res2, p95_res2, occ_skew) —
  *     per-ingest model-health telemetry; see [[driftReport]].
  *   - `_MODEL_VERSION`: a fresh random stamp written by every [[fit]].
  *     [[loadModel]] revalidates its cache against it, so a refit from
  *     ANOTHER process (the documented deployment: long-running search
  *     service + scheduled rebuild) is picked up instead of silently
  *     scoring new codes against stale cached models.
  *
  * Search loads the two model tables driver-side (the same model-class
  * state as inline fits hold in memory — doubles round-trip parquet
  * bit-exactly) and runs the SAME Similarity.ivfPqSearchStage as the
  * inline operator, so prefit results are identical to ivfPqTopK at
  * equal parameters (IvfSpec pins the equality, the zero-fit-job
  * property, and the codes-only scan).
  */
object VectorIndex {

  /** Job-group tag on every fit-side job — lets a listener (and the
    * spec) prove the search path launches NO fit work. */
  val FitJobGroup = "graft-index-fit"

  /** Base partition id: the fit's own rows, and the fold target of
    * [[compact]]. Ad-hoc [[append]] defaults to [[AdhocBatch]]. */
  val BaseBatch = -1L
  val AdhocBatch = -2L

  /** Fit the coarse + residual-PQ models on `embeddings` and write the
    * artifact under `dir`. All Lloyd/fit jobs run inside the
    * [[FitJobGroup]] job group. */
  def fit(embeddings: DataFrame, dir: String, kCells: Int = 8,
      m: Int = 8, pqCells: Int = 16, iters: Int = 5): Unit = {
    import org.apache.spark.storage.StorageLevel
    val spark = embeddings.sparkSession
    val sc = spark.sparkContext
    sc.setJobGroup(FitJobGroup, s"IVF+PQ index fit -> $dir",
      interruptOnCancel = false)
    try {
      val vecs = Similarity.unitized(embeddings)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dim = vecs.select(size(col("v"))).head().getInt(0)
      require(dim % m == 0,
        s"embedding dim $dim must be divisible by m=$m subspaces")
      val fitted = Similarity.fitIvfPq(vecs, dim, kCells, m, pqCells, iters)
      import spark.implicits._
      // model tables: tiny, single-file writes
      fitted.coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      (for {
        j <- fitted.codebook.indices
        c <- fitted.codebook(j).indices
      } yield (j, c, fitted.codebook(j)(c).toSeq)).toDF("j", "c", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
      // the compressed corpus, partitioned by (ingest_batch, cell):
      // cell gives routed partition PRUNING; the ingest_batch level is
      // the idempotency key incremental/streaming appends overwrite
      // into (fit itself is the base batch and statically overwrites all)
      fitted.codes.withColumn("ingest_batch", lit(BaseBatch))
        .write.mode("overwrite").partitionBy("ingest_batch", "cell")
        .parquet(s"$dir/codes")
      // the exact tier's inverted lists: unit vectors under the SAME
      // (ingest_batch, cell) layout, so its scan prunes like the codes'
      fitted.residuals
        .select(col("cell"), col("vec_id").as("n_id"), col("v"))
        .withColumn("ingest_batch", lit(BaseBatch))
        .write.mode("overwrite").partitionBy("ingest_batch", "cell")
        .parquet(s"$dir/vectors")
      // fit-time health baseline: residual-norm distribution + cell
      // occupancy skew of the corpus the models were fit ON — the
      // reference point driftReport compares ingests against
      writeHealth(
        fitted.residuals.select(col("cell"),
          call_function("graft_norm2", col("res")).as("res2")),
        dir, BaseBatch, kCells)
      fitted.residuals.unpersist(blocking = false)
      vecs.unpersist(blocking = false)
      // stamp the new model generation, then drop any cached copy: a
      // loadModel in ANY process revalidates against the stamp
      writeVersion(spark, dir)
      modelCache.remove(dir)
      ()
    } finally sc.clearJobGroup()
  }

  private def writeVersion(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, "_MODEL_VERSION")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    out.close()
  }

  private def readVersion(spark: SparkSession, dir: String): String = {
    val p = new Path(dir, "_MODEL_VERSION")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) "unversioned"
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
  }

  /** Model cache: the artifact's models are immutable for a given model
    * GENERATION (appends only add codes; a refit rewrites the
    * `_MODEL_VERSION` stamp), so search-many pays the two model-table
    * reads once per generation instead of per query batch. Entries are
    * model-sized (kCells×dim + m×pqCells×dim doubles), but dirs are
    * unbounded over a long-lived service — LRU-bounded at
    * [[ModelCacheBound]] so the cache can never grow past a handful of
    * models no matter how many indexes one JVM serves. */
  private[operators] val ModelCacheBound = 8
  private val modelCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        (String, (Array[Array[Double]], Array[Array[Array[Double]]]))](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            (String, (Array[Array[Double]], Array[Array[Array[Double]]]))])
          : Boolean = size() > ModelCacheBound
    })

  private[operators] def modelCacheSize: Int = modelCache.size()

  /** Driver-side model load: (coarse centroids, PQ codebook). Two tiny
    * parquet reads on first use per model generation — the cache
    * revalidates the `_MODEL_VERSION` stamp (one filesystem read) on
    * every hit, so an out-of-process refit is loaded fresh instead of
    * silently scoring against stale models (the round-5 advice). */
  def loadModel(spark: SparkSession,
      dir: String): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val version = readVersion(spark, dir)
    val cached = modelCache.get(dir)
    if (cached != null && cached._1 == version) return cached._2
    // columns selected BY NAME before collect: the read must not depend
    // on the artifact's written field order surviving schema evolution
    val coarse = spark.read.parquet(s"$dir/centroids")
      .select("cell", "centroid").orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    val cbRows = spark.read.parquet(s"$dir/codebook")
      .select("j", "c", "vec").orderBy("j", "c").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val kc = cbRows.map(_._2).max + 1
    val codebook = Array.ofDim[Array[Double]](m, kc)
    cbRows.foreach { case (j, c, v) => codebook(j)(c) = v }
    val loaded = (coarse, codebook)
    modelCache.put(dir, (version, loaded))
    loaded
  }

  /** Search-only IVF+PQ top-k against a prefit artifact: NO fit jobs —
    * the models load driver-side, the codes table is scanned with the
    * probed cells pruned at the parquet partition level, and the exact
    * re-rank touches `corpus` only for the candidate ids. `corpus` must
    * be the frame the index was fit on (codes reference its vec_ids);
    * `queries` carries (vec_id, v, norm) — the Similarity.ivfTopKOf
    * contract and id-space caveat. */
  def searchTopK(corpus: DataFrame, queries: DataFrame, dir: String,
      k: Int = 5, nprobe: Int = 3, rerank: Int = 100): DataFrame = {
    val spark = corpus.sparkSession
    warnIfCompacting(spark, dir)
    val (coarse, codebook) = loadModel(spark, dir)
    val codes = spark.read.parquet(s"$dir/codes")
    Similarity.ivfPqSearchStage(codes, coarse, codebook, queries,
      Similarity.withNorm(corpus), k, nprobe, rerank, pruneCells = true)
  }

  /** Search-only IVF (exact-vector) top-k against the prefit artifact —
    * the EXACT-tier sibling of [[searchTopK]]: queries route through
    * the persisted centroids and rank by exact cosine against the
    * artifact's own cell-partitioned `vectors` table, so the ONLY
    * data-sized scan partition-prunes to the probed cells exactly like
    * the codes scan (round 5 joined the full unpartitioned corpus on
    * n_id here — at 100 TB a full-corpus scan + corpus-wide shuffle per
    * query batch; now a query batch physically reads nprobe/kCells of
    * the archive, and there is no embeddings scan in the plan at all).
    * Cosine over unit vectors is the plain dot product, so ranking is
    * unchanged. Still zero fit jobs. Note the routing model is the
    * artifact's UNIT-vector quantizer, so results match the compressed
    * tiers' routing, not Similarity.ivfTopKOf's raw-vector inline fit —
    * both are valid IVF indexes; an artifact must be searched with its
    * own quantizer. */
  def searchIvfTopK(queries: DataFrame, dir: String,
      k: Int = 5, nprobe: Int = 3): DataFrame =
    ivfExactSearch(queries, dir, k, nprobe, None, broadcastQueries = true)

  /** E14b — the knn-JOIN deploy arm: every indexed vector's top-k
    * neighbors straight from the prefit artifact — ZERO fit jobs
    * (models load driver-side), and BOTH sides of the cell join are
    * the artifact's own cell-partitioned vectors table, so the join
    * is co-located by construction and nothing rescans the corpus.
    * The probe side is corpus-sized, so the E14 block salt applies
    * (the kCells-key collapse lesson). At nprobe = kCells the result
    * is EXACTLY the brute unit-cosine knn of the indexed set —
    * VectorCurateSpec pins it against a driver recompute. */
  def knnJoinIndexed(spark: SparkSession, dir: String, k: Int = 3,
      nprobe: Int = 2, saltBlocks: Int = 16): DataFrame = {
    val vecs = spark.read.parquet(s"$dir/vectors")
      .select(col("n_id").as("vec_id"), col("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
    ivfExactSearch(vecs, dir, k, nprobe, None,
      broadcastQueries = false, saltBlocks = saltBlocks)
  }

  /** Incremental embedding NEAR-DUP gate — the vector-side sibling of
    * [[TextIndex.dedupBatch]]: which vectors of a new ingest batch
    * near-duplicate the settled corpus, decided by probing the prefit
    * artifact (exact-tier IVF search, top-k per query, kept at the dup
    * threshold on the rounded cosine) instead of re-running the
    * corpus-wide LSH self-join per ingest. Recall is the IVF probe
    * recall — the scale trade every tier here prices; within-batch
    * pairs come from the existing LSH path over the (ingest-sized)
    * batch alone.
    *
    * `excludeNeighbor` is [[TextIndex.dedupBatch]]'s excludeBatch in
    * predicate form (the artifact's inverted lists have no batch
    * namespace to prune by — membership is decided per n_id row):
    * when the batch is already indexed — an [[appendBatch]] replay, or
    * a gate re-run after ingest — its own rows must not shadow the
    * settled neighbors or claim rank slots, so the predicate filters
    * the member side BEFORE ranking. */
  def nearDupBatch(newVecs: DataFrame, dir: String, tau: Double = 0.4,
      k: Int = 5, nprobe: Int = 3,
      excludeNeighbor: Option[org.apache.spark.sql.Column] = None): DataFrame =
    ivfExactSearch(newVecs, dir, k, nprobe, excludeNeighbor,
      broadcastQueries = false)
      .filter(col("cos4") >= tau)

  /** `broadcastQueries` encodes the caller's size contract on the probe
    * side of the cell join: [[searchIvfTopK]] vouches its frame is
    * QUERY-sized (a handful of lookups — the broadcast hint skips the
    * exchange), while [[nearDupBatch]] feeds an INGEST batch that is
    * sf-proportional and, ×nprobe exploded with its vector payload,
    * ~1.6 KB/row — a forced broadcast of a 10M-vector ingest is a
    * ~16 GB executor OOM at exactly the scale the gate exists for. With
    * the hint off, Catalyst/AQE size-gates the join (broadcast below
    * the threshold, shuffle on `cell` above it) — the same discipline
    * [[TextIndex.dedupBatch]] applies to its batch side. The
    * Window.partitionBy(q_id) re-rank above tolerates either layout, so
    * results are identical in both regimes. */
  private def ivfExactSearch(queries: DataFrame, dir: String, k: Int,
      nprobe: Int,
      excludeNeighbor: Option[org.apache.spark.sql.Column],
      broadcastQueries: Boolean, saltBlocks: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    warnIfCompacting(spark, dir)
    val (coarse, _) = loadModel(spark, dir)
    // unit-space routing AND ranking (the quantizer was fit on unit
    // vectors; cosine is scale-invariant)
    val qUnit = queries.select(col("vec_id"),
        call_function("graft_vec_scale", col("v"),
          lit(1.0) / sqrt(col("norm"))).as("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
    val q = qUnit
      .withColumn("cell", explode(Similarity.probeCells(coarse, nprobe)))
      .select(col("cell"), col("vec_id").as("q_id"), col("v").as("v_q"))
    val probed = q.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    // the artifact's inverted lists, pruned to the probed cells at the
    // parquet partition level — the exact tier's only data-sized scan
    val members0 = spark.read.parquet(s"$dir/vectors")
      .filter(col("cell").isin(probed: _*))
    val members = excludeNeighbor.fold(members0)(p => members0.filter(!p))
      .select(col("cell"), col("n_id"), col("v").as("v_n"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    // three probe-side regimes: query-sized → broadcast hint;
    // ingest-sized → AQE size-gates the cell join; CORPUS-sized
    // (knnJoinIndexed) → the kCells-key join collapses under AQE (the
    // E14 lesson: join inputs look tiny, the blow-up is at output), so
    // a deterministic block salt + explicit-count repartition restores
    // parallelism — each pair still meets exactly once
    val joined =
      if (broadcastQueries) broadcast(q).join(members, "cell")
      else if (saltBlocks > 0) {
        val cores = spark.sparkContext.defaultParallelism
        val mB = members
          .withColumn("blk", pmod(col("n_id"), lit(saltBlocks.toLong)))
          .repartition(cores, col("cell"), col("blk"))
        val qB = q
          .withColumn("blk",
            explode(typedLit((0L until saltBlocks).toArray)))
          .repartition(cores, col("cell"), col("blk"))
        qB.join(mB, Seq("cell", "blk"))
      } else q.join(members, "cell")
    joined
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", call_function("graft_dot", col("v_q"), col("v_n")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rnk")
  }

  /** Per-query ADC tables are built DRIVER-side (each is m×pqCells
    * floats), so [[searchAdc]]'s probe frame must be query-sized, never
    * an sf-proportional ingest — the bound turns a silent driver OOM
    * into a loud contract error. */
  val MaxAdcQueries = 10000

  /** Approximate ADC-only search: (q_id, rnk, n_id, adc) straight off
    * the codes table — no exact re-rank, so the returned plan's ONLY
    * file scan is `dir/codes` (model tables are driver-held constants,
    * queries broadcast). The first-response tier for latency-bound
    * callers; [[searchTopK]] is the exact-scored tier. The query side
    * collects to the driver (the ADC tables are per-query model-sized
    * constants), so it is capped at `maxQueries` ([[MaxAdcQueries]]) —
    * batch-scale probes belong on [[searchTopK]]/[[nearDupBatch]],
    * whose query side stays distributed. */
  def searchAdc(queries: DataFrame, dir: String, k: Int = 5,
      nprobe: Int = 3, maxQueries: Int = MaxAdcQueries): DataFrame = {
    val spark = queries.sparkSession
    warnIfCompacting(spark, dir)
    val (coarse, codebook) = loadModel(spark, dir)
    val qUnit = queries.select(col("vec_id"),
        call_function("graft_vec_scale", col("v"),
          lit(1.0) / sqrt(col("norm"))).as("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
    val qRaw = qUnit
      .withColumn("probes", Similarity.probeCells(coarse, nprobe))
      .select(col("vec_id"), col("v"), col("probes"))
      .limit(maxQueries + 1).collect()
    require(qRaw.length <= maxQueries,
      s"searchAdc received more than $maxQueries queries; the ADC tier " +
        "collects its query side driver-side — route batch-scale probes " +
        "through searchTopK or nearDupBatch")
    val qRows = qRaw.map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
      r.getSeq[Int](2).toArray))
    val routed = qRows.flatMap { case (qid, qu, probes) =>
      probes.map(cell =>
        (qid, cell, Similarity.adcTableOf(qu, coarse(cell), codebook).toSeq))
    }
    import spark.implicits._
    val queriesDf = routed.toSeq.toDF("q_id", "cell", "tbl")
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(routed.map(_._2).distinct.toSeq: _*))
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))
    codes.join(broadcast(queriesDf), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", call_function("graft_pq_adc", col("tbl"), col("codes")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("adc"))
      .orderBy("q_id", "rnk")
  }

  /** INCREMENTAL maintenance — the deployment's steady state: the
    * reference consumer ingests continuously, so new vectors must join
    * the index without a refit. New rows are assigned to the EXISTING
    * coarse cells and coded against the EXISTING residual codebooks
    * (model quality degrades only as the data distribution drifts —
    * the standard IVF+PQ operating assumption; [[driftReport]] carries
    * the refit signal), and their codes + vectors APPEND into the cell
    * partitions. Zero fit jobs; a subsequent search sees old and new
    * rows identically.
    *
    * At-least-once semantics: mode `append` double-indexes on a job
    * re-run after failure. For exactly-once, pass a UNIQUE
    * `ingestBatch` per logical batch and use [[appendBatch]] (dynamic
    * partition overwrite — the retry replaces its own partitions); the
    * streaming path does exactly that. A later [[compact]] also
    * deduplicates by n_id, so duplicates are self-healing. */
  def append(newVecs: DataFrame, dir: String,
      ingestBatch: Long = AdhocBatch): Unit =
    writeEncoded(codeAgainstModel(newVecs, dir, ingestBatch), dir,
      ingestBatch, loadModel(newVecs.sparkSession, dir)._1.length,
      dynamicOverwrite = false)

  /** The shared write stage of [[append]] and [[appendBatch]]: the
    * encoded frame is PERSISTED across its three consumers (codes
    * write, vectors write, health aggregation) — without the pin each
    * action would recompute the encode, and an input frame that is not
    * replay-deterministic (a sample, a re-read of a changing source)
    * could assign the same row to DIFFERENT cells in the codes and
    * vectors tables, silently desynchronizing the ADC and exact tiers. */
  private def writeEncoded(enc0: DataFrame, dir: String, ingestBatch: Long,
      kCells: Int, dynamicOverwrite: Boolean): Unit = {
    import org.apache.spark.storage.StorageLevel
    val enc = enc0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def writer(df: DataFrame) =
        (if (dynamicOverwrite)
          df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
        else df.write.mode("append"))
          .partitionBy("ingest_batch", "cell")
      writer(enc.select("cell", "n_id", "codes", "ingest_batch"))
        .parquet(s"$dir/codes")
      writer(enc.select("cell", "n_id", "v", "ingest_batch"))
        .parquet(s"$dir/vectors")
      writeHealth(enc.select(col("cell"), col("res2")), dir, ingestBatch,
        kCells)
    } finally { enc.unpersist(blocking = false); () }
  }

  /** New rows assigned + coded against the PERSISTED models — the
    * shared encode stage of [[append]] and [[appendBatch]]. Returns
    * (cell, n_id, codes, v, res2, ingest_batch): the codes-table
    * payload, the vectors-table payload, and the health signal. */
  private def codeAgainstModel(newVecs: DataFrame, dir: String,
      ingestBatch: Long): DataFrame = {
    val spark = newVecs.sparkSession
    val (coarse, codebook) = loadModel(spark, dir)
    val m = codebook.length
    val flat = codebook.flatMap(_.flatMap(_.toSeq))
    val unit = Similarity.unitized(newVecs)
      .select(col("vec_id"), col("u").as("v"),
        call_function("graft_norm2", col("u")).as("norm"))
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    unit
      .withColumn("cell", Similarity.nearestCentroid(coarse).getField("cid"))
      .withColumn("res", call_function("graft_vec_sub", col("v"),
        element_at(coarseLit, col("cell") + 1)))
      .select(col("cell"), col("vec_id").as("n_id"),
        call_function("graft_pq_assign", col("res"),
          typedLit(flat.toSeq), lit(m)).as("codes"),
        col("v"),
        call_function("graft_norm2", col("res")).as("res2"))
      .withColumn("ingest_batch", batchStamp(ingestBatch))
  }

  /** One micro-batch of streaming maintenance, IDEMPOTENTLY: foreachBatch
    * re-executes a batch after a failure, so a plain append would
    * double-index its vectors. Dynamic partition overwrite keyed by
    * (ingest_batch = the micro-batch id, cell) makes the retry replace
    * exactly its own partitions — the ConsumerApp.persistBatch rule
    * applied to index maintenance. */
  def appendBatch(batch: DataFrame, batchId: Long, dir: String): Unit =
    writeEncoded(codeAgainstModel(batch, dir, batchId), dir, batchId,
      loadModel(batch.sparkSession, dir)._1.length,
      dynamicOverwrite = true)

  /** STREAMING index maintenance: embeddings arriving on a stream join
    * the prefit index per micro-batch (assigned + coded against the
    * persisted models, replay-safe) — the consumer's feature pipeline
    * feeding search continuously without ever refitting inline.
    *
    * The partition key is NAMESPACED by a run id derived from the
    * checkpoint dir: a restart with the SAME checkpoint replays into
    * its own partitions (idempotent), while a new checkpoint — or a
    * second stream feeding the same index — gets disjoint ingest_batch
    * ids instead of silently overwriting the earlier run's batches
    * 0,1,2,... (the round-5 advice). */
  def appendStream(vecs: DataFrame, dir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val runId = streamRunId(checkpointDir)
    registerRun(vecs.sparkSession, dir, runId, checkpointDir)
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the namespace OR is only injective below 2^40 micro-batches —
        // past it the id would silently bleed into another run's space,
        // so fail loudly instead (2^40 batches = ~35k years at 1/sec)
        require(batchId < (1L << 40),
          s"micro-batch id $batchId overflows the 40-bit batch namespace")
        appendBatch(batch, runId | batchId, dir)
      }
      .start()
  }

  /** Curation-gate keeper rule for VECTORS — the E-side twin of
    * [[TextIndex.curateKeepers]]: a batch vector is DROPPED iff it
    * near-duplicates the settled corpus at `tau` (decided by the
    * [[nearDupBatch]] probe against the prefit artifact — the settled
    * copy wins at any id, because it cannot be unshipped at ingest
    * time), or it is the larger id of an LSH-verified within-batch
    * near-dup pair ([[Dedup.embeddingPairsLshOf]] over the ingest-sized
    * batch alone — the min-id representative survives). Greedy per
    * pair, like the text gate: a vector dropped for duplicating settled
    * still drags its own in-batch near-dups down with it. Recall is
    * each tier's own: IVF probe recall against settled, LSH bucket
    * recall within the batch — the documented scale trade of both
    * paths.
    *
    * `excludeBatch` is [[TextIndex.dedupBatch]]'s crash-replay guard in
    * this index's terms: a replayed micro-batch that already ran
    * [[appendBatch]] before crashing would otherwise probe its OWN rows
    * in the inverted lists (shadowing settled neighbors and claiming
    * rank slots). The id becomes an `ingest_batch` predicate on the
    * member side — a partition-column filter, pruned at planning time.
    * `excludeNeighbor` overrides that guard with an arbitrary member
    * predicate for batches the artifact indexed WITHOUT a batch
    * namespace (e.g. rows the fit itself covered — the
    * curate_embed_incremental driver query excludes its slice by
    * `n_id % 8 = 7`).
    */
  def curateKeepers(batch: DataFrame, dir: String, tau: Double = 0.4,
      excludeBatch: Option[Long] = None,
      excludeNeighbor: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val guard = excludeNeighbor.orElse(
      excludeBatch.map(id => col("ingest_batch") === batchStamp(id)))
    val settledDup =
      nearDupBatch(Similarity.withNorm(batch), dir, tau,
        excludeNeighbor = guard)
        .select(col("q_id").as("vec_id"))
    val withinDup = Dedup.embeddingPairsLshOf(batch, tau)
      .select(col("id_b").as("vec_id"))
    batch.join(settledDup.unionByName(withinDup).distinct(),
      Seq("vec_id"), "left_anti")
  }

  /** The CONTINUOUS curation gate for vectors — the E-side twin of
    * [[TextIndex.curateStream]] and the missing piece of the consumer
    * shape (the reference, SergiyStoyan/AwsKinesisConsumer
    * parser.py:272-310, processes its stream incrementally and never
    * re-reads settled data): probe the settled index, keep the novel
    * vectors, index the full batch — ONE resumable streaming query.
    * Per micro-batch, in order:
    *   1. [[curateKeepers]] probes the artifact EXCLUDING the batch's
    *      own namespaced ingest partition (the crash-replay guard);
    *   2. keepers persist by dynamic partition overwrite keyed on the
    *      namespaced batch id (the B19 idempotent-persist rule);
    *   3. [[appendBatch]] indexes the FULL batch — keepers and dropped
    *      vectors alike, so a later near-dup of a dropped vector is
    *      still caught — under the same namespaced id.
    * Every step is a deterministic function of (index state minus own
    * partition, batch content) and overwrites only its own partitions,
    * so a crash anywhere replays to identical keepers and an identical
    * index. Run-id namespacing and collision registration are
    * [[appendStream]]'s: same checkpoint ⇒ same namespace (replays
    * overwrite themselves), different checkpoint ⇒ disjoint ids,
    * collisions fail loudly at start. */
  def curateStream(vecs: DataFrame, dir: String, checkpointDir: String,
      keepersDir: String, tau: Double = 0.4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val runId = streamRunId(checkpointDir)
    registerRun(vecs.sparkSession, dir, runId, checkpointDir)
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        require(batchId < (1L << 40),
          s"micro-batch id $batchId overflows the 40-bit batch namespace")
        val id = runId | batchId
        val b = batch.localCheckpoint(true)
        curateKeepers(b, dir, tau, excludeBatch = Some(id))
          .withColumn("ingest_batch", batchStamp(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(keepersDir)
        appendBatch(b, id, dir)
      }
      .start()
  }

  /** Stable positive run id from the checkpoint path: 23 high bits of
    * its MD5 shifted above a 40-bit batch counter — same checkpoint ⇒
    * same namespace (replays overwrite themselves), different
    * checkpoint ⇒ disjoint ids up to 2^40 micro-batches per run. */
  private[graft] def streamRunId(checkpointDir: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
    val h = java.nio.ByteBuffer.wrap(md).getLong(0)
    ((h & 0x7FFFFFL) | 0x1L) << 40 // never 0: keeps run ids clear of raw batch ids
  }

  /** Record run-id → checkpoint ownership under `dir/_runs/` and FAIL
    * if the 23-bit namespace ever hashes two different checkpoints to
    * the same run id (birthday ~1% at ~400 streams sharing one index) —
    * a collision would let one stream's dynamic-overwrite silently
    * replace another's batches. Idempotent for the same checkpoint, so
    * restarts of a stream re-register without error.
    *
    * CONCURRENCY: the exists-then-create sequence is not atomic, so
    * `create(overwrite = false)` is the arbiter — of two streams racing
    * to first-register the same namespace exactly one create succeeds
    * (an atomic create-if-absent on HDFS and local filesystems; object
    * stores without it degrade to best-effort, the documented limit of
    * marker files there). The loser's create throws, and it falls back
    * to reading the winner's file and arbitrating exactly as if the
    * file had existed all along — same-checkpoint re-registration
    * passes, a true collision fails loudly. */
  private[graft] def registerRun(spark: SparkSession, dir: String,
      runId: Long, checkpointDir: String): Unit = {
    val p = new Path(
      s"$dir/_runs/run_${java.lang.Long.toHexString(runId >>> 40)}")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def arbitrate(): Unit = {
      def readOwner(): String = {
        val in = fs.open(p)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8")
        finally in.close()
      }
      // an empty read can be (a) a WINNER mid-write — its create
      // succeeded but its payload isn't visible yet — or (b) a stream
      // that died between create and write. Retry briefly so (a)
      // resolves to the normal owner comparison; only a PERSISTENTLY
      // empty file is diagnosed as corrupt. Without the corrupt branch
      // a dead registration would forever read as a collision against
      // '', locking out every stream including the true owner.
      // 2 s budget: generous against scheduler/GC pauses on a loaded
      // host (this is a stream-startup path — the wait is paid once and
      // only in the race/crash window)
      var owner = readOwner()
      var tries = 0
      while (owner.isEmpty && tries < 20) {
        Thread.sleep(100L); owner = readOwner(); tries += 1
      }
      require(owner.nonEmpty,
        s"corrupt run registration $p on index $dir (owner file still " +
          "empty after retries — a registering stream died between " +
          "create and write); verify no OTHER live stream is registering " +
          "this namespace right now, then delete the marker file and " +
          "restart the stream")
      require(owner == checkpointDir,
        s"stream run-id collision on index $dir: checkpoint " +
          s"'$checkpointDir' hashes to the namespace already owned by " +
          s"'$owner' — use a different checkpoint path")
    }
    if (fs.exists(p)) arbitrate()
    else {
      fs.mkdirs(p.getParent)
      // only a LOST RACE falls through to arbitration: create(p, false)
      // is the arbiter. The typed FileAlreadyExists exceptions always
      // mean "someone else won"; some Hadoop FS implementations signal
      // the same condition as a plain IOException, so that branch
      // re-checks existence — file now present ⇒ lost race, otherwise a
      // genuine transient failure (permissions, disk) propagates as
      // itself, not as a misleading FileNotFoundException from
      // arbitrate()'s open
      val won =
        try {
          val out = fs.create(p, false)
          try out.write(checkpointDir.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
          case e: java.io.IOException =>
            if (fs.exists(p)) false else throw e
        }
      if (!won) arbitrate()
    }
  }

  /** Fold settled ingest batches into the base partition — the
    * streaming small-file fix: a long-running [[appendStream]] leaves
    * one (ingest_batch, cell) directory per micro-batch forever, and
    * search-side listing + scan-split cost grows without bound. Folds
    * every batch in [0, upToBatch] (plus ad-hoc [[AdhocBatch]] rows
    * when `upToBatch` is Long.MaxValue) into `ingest_batch=-1`,
    * leaving at most ONE directory per cell for the settled data.
    *
    * Idempotent and replay-safe: the merge deduplicates by (cell,
    * n_id) — codes for a given n_id are deterministic under a fixed
    * model generation, so rows duplicated by a crash between the
    * overwrite and the directory sweep collapse to the same payload,
    * and a re-run (or a replayed compact after success) is a no-op.
    * Searches DURING a crashed compact's window may see a duplicated
    * candidate id; ranks behind it shift by one until the re-run
    * sweeps the folded directories. That window is OBSERVABLE: a
    * `_COMPACT_INPROGRESS` marker is written before the first fold and
    * cleared after the last sweep, and every search logs a warning
    * while it is present ([[compactInProgress]]), so an operator can
    * tell "duplicate ranks because a compact died" from silent
    * corruption. Pass `upToBatch` = the newest
    * batch known SETTLED (e.g. watermark-old) so in-flight streaming
    * batches — which may still be re-delivered by a replay — are left
    * in their own overwrite-addressable partitions.
    *
    * SINGLE-WRITER assumption: `upToBatch` is one global threshold
    * over the raw ingest_batch ids, so with TWO streams feeding one
    * index a threshold settled for one run also folds the other run's
    * numerically-smaller in-flight batches — a later replay of a
    * folded batch re-inserts rows already merged into base (transient
    * duplicates until the next compact; never data loss, because the
    * merge dedups by (cell, n_id)). Run compact from ONE maintenance
    * job per index, quiesced or watermark-lagged past every feeding
    * stream — the same discipline the reference's single consumer
    * process embodies. */
  def compact(spark: SparkSession, dir: String,
      upToBatch: Long = Long.MaxValue): Unit =
    compactImpl(spark, dir, upToBatch, crashBeforeSweep = false)

  /** True while a [[compact]] is mid-fold or died before its sweep —
    * the search-side observability hook for the crash window. */
  def compactInProgress(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_COMPACT_INPROGRESS")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def warnIfCompacting(spark: SparkSession, dir: String): Unit =
    if (compactInProgress(spark, dir))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"search on $dir during an in-progress/crashed compact: " +
          "candidate ids may appear twice until compact re-runs")

  /** [[compact]] with a test seam: `crashBeforeSweep` aborts after the
    * first table's fold, before any directory sweep — the exact crash
    * window the marker exists to make visible. */
  private[graft] def compactImpl(spark: SparkSession, dir: String,
      upToBatch: Long, crashBeforeSweep: Boolean): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val markerPath = new Path(dir, "_COMPACT_INPROGRESS")
    val markerFs = markerPath.getFileSystem(conf)
    var wroteAny = false
    for (table <- Seq("codes", "vectors")) {
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
          // the settled range as a predicate, not an isin over (possibly
          // thousands of) listed batch ids — partition-prunes identically
          val settled = col("ingest_batch") === BaseBatch ||
            (col("ingest_batch") >= 0L && col("ingest_batch") <= upToBatch) ||
            (if (upToBatch == Long.MaxValue)
              col("ingest_batch") === AdhocBatch else lit(false))
          // 1. stage the merged base OUTSIDE the table (never read and
          //    overwrite the same path in one job)
          spark.read.parquet(s"$dir/$table")
            .filter(settled)
            .dropDuplicates("cell", "n_id")
            .withColumn("ingest_batch", lit(BaseBatch))
            .write.mode("overwrite").parquet(staging.toString)
          // 2. fold into the base partitions (dynamic overwrite:
          //    replaces exactly the base cells, leaves live batches)
          spark.read.parquet(staging.toString)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch", "cell")
            .parquet(s"$dir/$table")
          // 3. sweep the folded directories + staging
          if (crashBeforeSweep)
            throw new IllegalStateException(
              "simulated compact crash before sweep (test seam)")
          batchDirs.foreach(fs.delete(_, true))
          fs.delete(staging, true)
        }
      }
    }
    if (wroteAny) { markerFs.delete(markerPath, false); () }
    // health rows for folded batches fold into the base row is NOT
    // done: telemetry keeps per-ingest history by design
  }

  /** REBALANCE — the scheduled rebuild [[driftReport]] signals: refit
    * BOTH models on the index's OWN vectors table (never the corpus)
    * and re-code everything against them, folding every ingest
    * partition into a fresh base generation (fit's static overwrite
    * truncates the codes/vectors tables, so post-drift cell skew
    * disappears along with the accumulated batch directories —
    * rebalance subsumes [[compact]] for the data it covers).
    * Corpus-sized by design: ONE scheduled job, amortized over the
    * searches between rebuilds — against the per-query cost the inline
    * operators pay to refit. The n_id space is preserved, and
    * `_MODEL_VERSION` rotates, so long-running searchers (any process)
    * pick the new generation up on their next [[loadModel]]
    * revalidation instead of scoring against stale models. The vectors
    * are snapshotted before the refit because [[fit]] overwrites the
    * very table it would otherwise still be lazily reading. Per-ingest
    * health HISTORY is kept; the base row becomes the new fit's
    * baseline, so post-rebalance ingests are judged against the model
    * that will actually score them. Inherits [[fit]]'s deterministic
    * init contract: n_ids 0..kCells-1 must exist in the index (true
    * for any index this library fit). */
  def rebalance(spark: SparkSession, dir: String, kCells: Int = 8,
      m: Int = 8, pqCells: Int = 16, iters: Int = 5): Unit = {
    val staging = new Path(s"$dir/rebalance_snapshot")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    spark.read.parquet(s"$dir/vectors")
      .select(col("n_id").as("vec_id"), col("v").as("embedding"))
      .write.mode("overwrite").parquet(staging.toString)
    fit(spark.read.parquet(staging.toString), dir, kCells, m, pqCells, iters)
    fs.delete(staging, true)
    ()
  }

  /** Per-ingest model-health row: n, mean/p95 of the squared residual
    * norm (distance of each vector to its coarse centroid — the
    * distribution-shift signal: drifted data lands far from every
    * existing centroid), and cell-occupancy skew = max cell count ×
    * kCells / n (1.0 = uniform routing, kCells = everything in one
    * cell — normalized over ALL model cells, so a batch that slams one
    * cell reads as skewed even though the empty cells never appear in
    * the groupBy). Keyed by ingest_batch with dynamic overwrite, so a
    * replayed streaming batch replaces its own telemetry row. */
  private def writeHealth(resids: DataFrame, dir: String,
      ingestBatch: Long, kCells: Int): Unit = {
    // p95_res2 is the BATCH-level 95th percentile, so it aggregates over
    // the ungrouped residuals — a max over per-cell p95s would let one
    // small hot cell overstate the batch stat the column name promises
    val global = resids
      .agg(percentile_approx(col("res2"), lit(0.95), lit(1000)).as("p95"))
    val byCell = resids.groupBy("cell")
      .agg(count(lit(1)).as("cnt"), sum("res2").as("s"))
    byCell
      .agg(sum("cnt").cast("long").as("n"),
        (sum("s") / sum("cnt")).as("mean_res2"),
        (max("cnt") * lit(kCells.toDouble) / sum("cnt")).as("occ_skew"))
      .crossJoin(broadcast(global.select(col("p95").as("p95_res2"))))
      .select(col("n"), col("mean_res2"), col("p95_res2"), col("occ_skew"))
      .withColumn("ingest_batch", batchStamp(ingestBatch))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(s"$dir/health")
  }

  /** The refit signal: per-ingest health vs the fit-time baseline.
    * Two complementary signals: `res2_ratio` (the batch's mean squared
    * residual over the baseline's — vectors the fitted centroids never
    * saw land far from all of them) and `occ_skew` (routing imbalance —
    * a new mode collapses onto one cell, 1.0 = uniform, kCells = all in
    * one cell). In-distribution ingests sit near the baseline on both;
    * a sustained excursion above the caller's thresholds is the trigger
    * for the scheduled rebuild the scaladoc promises ([[fit]] on
    * current data, then [[compact]]). Model-sized read; no corpus
    * scan. */
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    val health = spark.read.parquet(s"$dir/health")
    val base = health.filter(col("ingest_batch") === BaseBatch)
      .select(col("mean_res2").as("base_mean_res2"))
    health.crossJoin(broadcast(base))
      .withColumn("res2_ratio", col("mean_res2") / col("base_mean_res2"))
      // partition-column read-back infers int; pin the contract type
      .select(col("ingest_batch").cast("long").as("ingest_batch"),
        col("n"), col("mean_res2"), col("p95_res2"), col("occ_skew"),
        col("res2_ratio"))
      .orderBy("ingest_batch")
  }

  /** Builds (once per source generation) the index for `sfDir`'s
    * embeddings at the default ivfPqTopK parameters and returns its
    * directory — the test-side stand-in for an artifact a deployment
    * already has (the FragmentArchive pattern). */
  def materialize(t: Tables, sfDir: String): String = {
    val spark = t.embeddings.sparkSession
    // the name carries a layout version + the fit params: a code or
    // parameter change must never silently search a stale artifact left
    // by an earlier run in the shared tmpdir
    Fixtures.once(spark, "vec_index_v3_k8_m8_pq16_i5", sfDir) {
      fit(t.embeddings, _)
    }
  }
}
