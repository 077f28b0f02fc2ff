package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Sketches
import graft.plans.VectorFunctions
import graft.sources.Tables

/** Similarity search over the embedding column (SURVEY §2E).
  *
  * Scale notes: brute-force top-k is the correctness baseline (query set ⋈
  * full corpus — the broadcast-queries pattern: the small query set
  * broadcasts, the corpus streams, nothing shuffles). The LSH variant
  * buckets the corpus with ONE shuffle on the bucket id, confining
  * candidate generation to bucket-local pairs — the scale path. Vector
  * kernels are tight JVM UDFs (see Sketches) with oracle-identical
  * left-fold accumulation.
  */
object Similarity {

  /** Embeddings with float→double cast and precomputed squared norm. */
  def withNorm(embeddings: DataFrame): DataFrame = {
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
  }

  /** E1 — brute-force cosine top-k: queries are vec_id < 10, k=5. */
  def annBruteTopK(t: Tables, k: Int = 5): DataFrame = {
    val vecs = withNorm(t.embeddings)
    val q = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) / (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rnk")
  }

  /** E16 — CONTRASTIVE PAIR MINING (round 16): the embedding-training
    * data builder — for each anchor, its nearest SAME-label vector as
    * the positive and the k highest-cosine DIFFERENT-label vectors as
    * HARD negatives (the pairs a contrastive/triplet loss learns most
    * from; random negatives are trivially separable). One scored pass
    * (the E1 broadcast-anchor join, same bit-reproducible cosine fold)
    * split by label agreement into two rank windows; vectors are
    * dropped before either window, so the q_id rank exchanges carry
    * (q_id, n_id, cos) only. Anchors with no same-label peer mine
    * nothing (inner join — a supervised pair needs its positive).
    *
    * Scale shape: anchors are a query BATCH (broadcast); the corpus is
    * scanned once. Corpus-wide mining (negatives for EVERY vector)
    * composes [[knnJoinOf]]'s cell join instead of the broadcast —
    * same downstream label split. `corpus` is any (vec_id, embedding,
    * label) frame; `anchors` selects the anchor batch. */
  def contrastivePairsOf(corpus: DataFrame,
      anchors: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val vecs = corpus.select(col("vec_id"),
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
    val q = vecs.filter(anchors)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("v_q"), col("norm").as("norm_q"))
    val c = vecs.select(col("vec_id").as("n_id"),
      col("label").as("n_label"), col("v").as("v_n"),
      col("norm").as("norm_n"))
    val scored = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      // vectors end here: the rank exchange carries ids + cos only
      .select(col("q_id"),
        (col("n_label") === col("q_label")).cast("int").as("agree"),
        col("n_id"), col("cos"))
    minedFromScored(scored, k)
  }

  /** The shared rank-and-pair stage of both E16 forms: ONE window pass
    * partitioned by (q_id, label-agreement) ranks positives and
    * negatives together, so the pos and neg branches read the SAME
    * exchange (ReusedExchange — the scored pass, the expensive cell
    * join in the corpus-wide form, computes once, not twice; filtering
    * by label BEFORE the window would split the exchanges and double
    * it). */
  private def minedFromScored(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id", "agree")
      .orderBy(col("cos").desc, col("n_id"))
    val ranked = scored.withColumn("rnk", row_number().over(w).cast("long"))
    val pos = ranked.filter(col("agree") === 1 && col("rnk") === 1L)
      .select(col("q_id"), col("n_id").as("pos_id"),
        round(col("cos"), 4).as("pos_cos4"))
    val neg = ranked.filter(col("agree") === 0 && col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id").as("neg_id"),
        round(col("cos"), 4).as("neg_cos4"))
    pos.join(neg, Seq("q_id"))
      .select(col("q_id"), col("pos_id"), col("pos_cos4"),
        col("rnk"), col("neg_id"), col("neg_cos4"))
      .orderBy("q_id", "rnk")
  }

  /** E16's CORPUS-WIDE form: hard negatives (and the nearest positive)
    * for EVERY vector — the full-dataset mining pass before a
    * contrastive training run, built on the E14 cell join instead of
    * the broadcast (anchors are the corpus itself, so the probe side is
    * corpus-sized and shuffles once on the cell id; the E14 block salt
    * keeps parallelism under AQE). At full probe (nprobe = kCells)
    * candidates are unconditionally complete, so the output equals
    * [[contrastivePairsOf]] over every anchor — the spec's equivalence
    * pin; smaller nprobe prices the usual IVF recall trade. Size the
    * grid with [[kCellsFor]] so candidate volume stays linear in n. */
  def contrastivePairsAll(corpus: DataFrame, k: Int, kCells: Int,
      nprobe: Int, iters: Int, blocks: Int = 16): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val vecs = corpus.select(col("vec_id"),
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val scored = cellJoin(vecs, kCells, nprobe, iters, blocks, labels = true)
      // vectors end here (the E14 rule): the rank exchange carries
      // (q_id, agree, n_id, cos) only — and it is ONE exchange, shared
      // by the pos and neg branches (minedFromScored), so the
      // corpus-sized cell join computes once
      .select(col("q_id"),
        (col("n_label") === col("q_label")).cast("int").as("agree"),
        col("n_id"), col("cos"))
    val out = minedFromScored(scored, k)
    vecs.unpersist(blocking = false)
    out
  }

  /** E12 — MAXIMAL MARGINAL RELEVANCE re-ranking (round 13 — the
    * retrieval-diversity step between ANN candidate generation and a
    * RAG consumer: plain top-k returns near-duplicate passages; MMR
    * greedily picks argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s),
    * trading relevance against redundancy). Carbonell & Goldstein 1998.
    *
    * Determinism: every cosine goes through the SAME sequential fold as
    * E1 (graft_dot ↔ the oracle's list_reduce), λ and 1−λ are passed as
    * two explicit literals (computing 1−0.7 in the driver would yield
    * 0.30000000000000004 and diverge from the oracle's 0.3), and every
    * argmax breaks float ties by candidate id — so the greedy chain is
    * bit-reproducible and DuckDB replays it as n chained CTEs.
    *
    * Scale shape: the EXPENSIVE stage is candidate generation, which is
    * E1/E2/E5's job (brute here as the oracle tier; swap the prefit
    * index at scale). Everything after operates on the candidate set —
    * (queries × m) rows — so the n greedy rounds and the m² pairwise
    * sims are query-batch-sized by construction, never corpus-sized:
    * localCheckpoints keep the round plans shallow, and the only
    * corpus-sized work is the one E1 scan. */
  def mmrTopKOf(embeddings: DataFrame, m: Int, n: Int,
      lam: Double, lamBar: Double): DataFrame = {
    val vecs = withNorm(embeddings)
    val q = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n"))
    val wRel = Window.partitionBy("q_id").orderBy(col("rel").desc, col("n_id"))
    val cands = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("rel",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(wRel))
      .filter(col("rnk") <= m)
      .select(col("q_id"), col("n_id"), col("rel"), col("v_n"), col("norm_n"))
      .localCheckpoint(true)
    mmrFromCandidates(cands, n, lam, lamBar)
  }

  /** E12 over the E5 PREFIT INDEX (round 14 — the round-13 verdict's
    * candidate-source parameterization): candidate generation is
    * [[VectorIndex.searchTopK]] — partition-pruned to the probed cells,
    * ZERO fit jobs — and the greedy diversity stage is the SAME
    * [[mmrFromCandidates]] code the oracle tier runs, so index-sourced
    * MMR ≡ oracle-tier MMR wherever the index's exact-reranked top-m
    * equals E1's (nprobe = kCells makes that unconditional; smaller
    * nprobe prices the usual IVF recall trade). `rel` is recomputed
    * with the E1 fold over the original vectors (one candidate-id
    * broadcast join back to the corpus — batch-sized), so the greedy
    * arithmetic is bit-identical to the oracle tier's, not a rounded
    * surface value. `queries` carries (vec_id, v, norm) — the
    * searchTopK contract. */
  def mmrTopKIndexed(corpus: DataFrame, queries: DataFrame, dir: String,
      m: Int = 20, n: Int = 5, lam: Double = 0.7, lamBar: Double = 0.3,
      nprobe: Int = 3, rerank: Int = 100): DataFrame = {
    val hits = VectorIndex.searchTopK(corpus, queries, dir, m, nprobe, rerank)
      .select(col("q_id"), col("n_id"))
    val qn = queries.select(col("vec_id").as("q_id"),
      col("v").as("v_q"), col("norm").as("norm_q"))
    val cv = withNorm(corpus).select(col("vec_id").as("n_id"),
      col("v").as("v_n"), col("norm").as("norm_n"))
    val cands = hits
      .join(broadcast(qn), "q_id")
      .join(cv, "n_id")
      .withColumn("rel",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .select(col("q_id"), col("n_id"), col("rel"), col("v_n"), col("norm_n"))
      .localCheckpoint(true)
    mmrFromCandidates(cands, n, lam, lamBar)
  }

  /** The greedy MMR stage over ANY candidate frame
    * (q_id, n_id, rel, v_n, norm_n) — query-batch-sized by
    * construction; shared verbatim by the E1 oracle tier and the E5
    * index tier so the two provably run the same selection chain. */
  private def mmrFromCandidates(cands: DataFrame, n: Int,
      lam: Double, lamBar: Double): DataFrame = {
    val wRel = Window.partitionBy("q_id").orderBy(col("rel").desc, col("n_id"))
    val a = cands.select(col("q_id"), col("n_id").as("c_id"),
      col("v_n").as("v_a"), col("norm_n").as("norm_a"))
    val b = cands.select(col("q_id").as("q2"), col("n_id").as("s_id"),
      col("v_n").as("v_b"), col("norm_n").as("norm_b"))
    val sims = a.join(b, col("q_id") === col("q2") && col("c_id") =!= col("s_id"))
      .select(col("q_id"), col("c_id"), col("s_id"),
        (call_function("graft_dot", col("v_a"), col("v_b")) /
          (sqrt(col("norm_a")) * sqrt(col("norm_b")))).as("sim"))
      .localCheckpoint(true)
    val lean = cands.select("q_id", "n_id", "rel")
    var selAll = lean
      .withColumn("rn", row_number().over(wRel))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), lit(1L).as("mmr_rank"),
        (lit(lam) * col("rel")).as("score"))
      .localCheckpoint(true)
    for (r <- 2 to n) {
      val wScore = Window.partitionBy("q_id").orderBy(col("score").desc, col("n_id"))
      val maxsim = sims
        .join(selAll.select(col("q_id").as("qs"), col("n_id").as("sp")),
          col("q_id") === col("qs") && col("s_id") === col("sp"))
        .groupBy(col("q_id"), col("c_id")).agg(max(col("sim")).as("ms"))
      val pick = lean
        .join(selAll.select(col("q_id").as("qp"), col("n_id").as("np")),
          col("q_id") === col("qp") && col("n_id") === col("np"), "left_anti")
        .join(maxsim.select(col("q_id").as("qm"), col("c_id"), col("ms")),
          col("q_id") === col("qm") && col("n_id") === col("c_id"))
        .withColumn("score", lit(lam) * col("rel") - lit(lamBar) * col("ms"))
        .withColumn("rn", row_number().over(wScore))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("n_id"), lit(r.toLong).as("mmr_rank"), col("score"))
      selAll = selAll.unionByName(pick).localCheckpoint(true)
    }
    selAll
      .select(col("q_id"), col("mmr_rank"), col("n_id"),
        round(col("score"), 4).as("score4"))
      .orderBy("q_id", "mmr_rank")
  }

  /** One (d, cid) struct per centroid — the shared distance arithmetic
    * BOTH corpus-side assignment and query-side routing build on; a
    * single definition keeps the two provably in agreement. */
  private def cellStructs(cs: Array[Array[Double]]): IndexedSeq[org.apache.spark.sql.Column] =
    cs.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val normC = { var s = 0.0; var j = 0; while (j < c.length) { s += c(j) * c(j); j += 1 }; s }
      struct(
        greatest(lit(0.0),
          col("norm") - lit(2.0) * call_function("graft_dot", col("v"), typedLit(c.toSeq))
            + lit(normC)).as("d"),
        lit(i).as("cid"))
    }

  /** Nearest-centroid struct (d, cid) as PURE CODEGEN arithmetic:
    * dist²(v,c) = |v|² − 2⟨v,c⟩ + |c|², with |v|² precomputed per row,
    * |c|² a driver-side constant, and ⟨v,c⟩ the native dot kernel
    * against a literal centroid — no UDF, no per-row Seq[Double] boxing
    * (the round-2 assign UDF boxed every element of every vector, every
    * iteration). argmin = array_min over (d, cid) structs: lexicographic
    * ordering breaks distance ties toward the lowest cid, matching the
    * UDF loop it replaces. greatest(0, ·) clamps the −1e-16 the expansion
    * can produce for a vector sitting on its centroid. */
  private[operators] def nearestCentroid(cs: Array[Array[Double]]): org.apache.spark.sql.Column =
    array_min(array(cellStructs(cs): _*))

  /** Fixed bucket count of the canonical Lloyd reduction: buckets are
    * `vec_id % LloydBuckets` — data-independent, so an external replay
    * (the DuckDB oracle) reproduces the exact fold structure. */
  private[operators] val LloydBuckets = 4096

  /** Lloyd iterations until the model stops moving (max centroid shift²
    * <= eps) or `maxIters` — round 2 always ran the full budget even
    * after the fixpoint. Returns (centroids, rounds actually run);
    * `vecs` must already carry (vec_id, v, norm).
    *
    * CANONICAL-ORDER reduction (round-6): the per-cell mean was the one
    * float-nondeterministic step in the whole IVF family — the mergeable
    * `graft_vec_sum` partials merged in shuffle-arrival order, so the
    * fixpoint differed bit-wise run to run and no external oracle could
    * replay it. Now the sum is a FIXED fold tree, independent of
    * partitioning and scheduling:
    *   - level 1: rows bucket by `vec_id % LloydBuckets`; each bucket's
    *     rows fold in ascending vec_id order into per-cell partials
    *     (one per-partition imperative walk over the bucketed+sorted
    *     working set — NO shuffle per iteration; the one corpus shuffle
    *     happens ONCE, before the loop);
    *   - level 2: each cell's ≤LloydBuckets partials fold in ascending
    *     bucket order (array_sort + a left-fold `aggregate`, group
    *     payload ≤ LloydBuckets×dim doubles ≈ 2 MB at dim 64).
    * Every float lands in the same place every run on any cluster
    * layout, which is what lets OracleSql.ivfAssign replay the entire
    * fit in DuckDB and the driver hash-compare the result. Cost vs the
    * old shape: one extra corpus shuffle+sort per FIT (not per
    * iteration) — the price of bit-reproducibility. */
  private def lloyd(vecs: DataFrame, k: Int, maxIters: Int,
      eps: Double): (Array[Array[Double]], Int) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // deterministic init: the k lowest vec_ids
    var centroids: Array[Array[Double]] = vecs.filter(col("vec_id") < k)
      .orderBy("vec_id").select("v").collect().map(_.getSeq[Double](0).toArray)
    require(centroids.length == k,
      s"lloyd needs vec_ids 0..${k - 1} present for deterministic init, " +
        s"found ${centroids.length} (the pqModel init contract)")
    val dim = centroids(0).length
    val cores = spark.sparkContext.defaultParallelism
    // the canonical working set: each bucket wholly inside one
    // partition, rows sorted (bucket, vec_id) — built and shuffled ONCE
    val working = vecs
      .select(pmod(col("vec_id"), lit(LloydBuckets.toLong)).cast("int").as("b"),
        col("vec_id"), col("v"), col("norm"))
      .repartition(cores, col("b"))
      .sortWithinPartitions("b", "vec_id")
      .as[(Int, Long, Array[Double], Double)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIters && moved > eps) {
      val cen = centroids
      val cenNorm2 = cen.map { c =>
        var s = 0.0; var j = 0
        while (j < c.length) { s += c(j) * c(j); j += 1 }; s
      }
      // level 1: per-(bucket, cell) sums folded in vec_id order. The
      // assignment arithmetic mirrors nearestCentroid/cellStructs
      // exactly: d = max(0, norm − 2·⟨v,c⟩ + |c|²), left-fold dot,
      // strict-less argmin (ties to the lowest cid).
      val partials = working.mapPartitions { rows =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Array[Double], Long)]
        var curB = -1
        var acc: Array[Array[Double]] = null
        var cnt: Array[Long] = null
        def flush(): Unit = if (curB >= 0) {
          var c = 0
          while (c < k) {
            if (cnt(c) > 0L)
              out += ((curB, c, acc(c), cnt(c)))
            c += 1
          }
        }
        rows.foreach { case (b, _, v, norm) =>
          if (b != curB) {
            flush(); curB = b
            acc = Array.fill(k)(new Array[Double](dim))
            cnt = new Array[Long](k)
          }
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val cc = cen(c)
            var dot = 0.0; var i = 0
            while (i < dim) { dot += v(i) * cc(i); i += 1 }
            val d = math.max(0.0, norm - 2.0 * dot + cenNorm2(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          val a = acc(best)
          var i = 0
          while (i < dim) { a(i) += v(i); i += 1 }
          cnt(best) += 1L
        }
        flush()
        out.iterator
      }.toDF("b", "cid", "s", "cnt")
      // level 2: per-cell fold of the bucket partials in bucket order
      val zero = typedLit(Seq.fill(dim)(0.0))
      val means = partials
        .groupBy("cid")
        .agg(
          aggregate(
            array_sort(collect_list(struct(col("b"), col("s")))),
            zero,
            (a, e) => zip_with(a, e.getField("s"), (x, y) => x + y)).as("s"),
          sum("cnt").as("cnt"))
        .collect()
      // a cluster that attracted no points KEEPS its previous centroid —
      // round 1 silently zeroed it, creating a phantom cell at the origin
      // that could capture small-norm vectors on the next assignment
      val next = centroids.map(_.clone)
      means.foreach { r =>
        val cell = next(r.getInt(0))
        val s = r.getSeq[Double](1)
        val n = r.getLong(2).toDouble
        var j = 0
        while (j < cell.length && j < s.length) { cell(j) = s(j) / n; j += 1 }
      }
      // convergence is a driver-side fold over the k×dim model — no job
      moved = centroids.zip(next).map { case (a, b) =>
        var s = 0.0; var j = 0
        while (j < a.length) { val x = a(j) - b(j); s += x * x; j += 1 }
        s
      }.max
      centroids = next
      it += 1
    }
    working.unpersist(blocking = false)
    (centroids, it)
  }

  /** Fit-only entry exposing the convergence behavior (IvfSpec uses the
    * round count; callers wanting just the model use this too). */
  def ivfModel(embeddings: DataFrame, k: Int = 8, maxIters: Int = 20,
      eps: Double = 1e-9): (Array[Array[Double]], Int) = {
    import org.apache.spark.storage.StorageLevel
    val vecs = withNorm(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    try lloyd(vecs, k, maxIters, eps)
    finally vecs.unpersist(blocking = false)
  }

  /** E3 — IVF coarse quantizer: Lloyd's k-means over the corpus (each
    * iteration = one broadcast of k·dim doubles out, one groupBy shuffle
    * back — the standard distributed k-means shape; only the k×64 model
    * ever touches the driver, never data). Returns (vec_id, cid, dist2)
    * for any (vec_id, embedding) frame. */
  def ivfAssignVecs(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
      eps: Double = 1e-9): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // persist across Lloyd iterations: each iteration materializes the
    // working set once; without this the parquet scan + norm cast reruns
    // per iteration (round-1 debt). MEMORY_AND_DISK so a 100 TB corpus
    // spills instead of OOMing; released after the model converges.
    val vecs = withNorm(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    val (centroids, _) = lloyd(vecs, k, iters, eps)
    val cores = embeddings.sparkSession.sparkContext.defaultParallelism
    val out = vecs.withColumn("a", nearestCentroid(centroids))
      .select(col("vec_id"), col("a.cid").cast("long").as("cid"),
        round(col("a.d"), 4).as("dist2"))
      // exchange barrier before the global sort: orderBy's range
      // sampling re-executes its child, and with the working set
      // unpersisted below that child is the full scan + assignment —
      // the sampling job writes this shuffle once and the sort reads
      // its files, so the corpus is scanned and assigned exactly ONCE
      // per materialization (r3 verdict #7 measured it twice;
      // IvfSpec counts the passes)
      .repartition(cores, col("vec_id"))
      .orderBy("vec_id")
    // BLOCKING release: the returned lazy plan re-derives the working
    // set, and the IvfSpec pass-count contract (exactly 2 corpus scans)
    // only holds if the cache is deterministically GONE before the plan
    // can materialize — an async removal raced the caller's first job,
    // sometimes half-serving it from surviving blocks (round-4 advice)
    vecs.unpersist(blocking = true)
    out
  }

  /** The fitted model's cells ordered by distance to v, nearest `nprobe`
    * kept — the query-side routing of IVF search. Same codegen distance
    * arithmetic as [[nearestCentroid]]; array_sort on (d, cid) structs
    * orders lexicographically, so ties go to the lowest cid. */
  private[operators] def probeCells(cs: Array[Array[Double]], nprobe: Int): org.apache.spark.sql.Column =
    transform(slice(array_sort(array(cellStructs(cs): _*)), 1, nprobe),
      s => s.getField("cid"))

  /** E3b — IVF top-k SEARCH: fit the coarse quantizer, assign the corpus
    * to cells (each vector lands in exactly ONE cell, so candidates need
    * no dedup), route each query to its `nprobe` nearest cells, and
    * exact-rank inside them. The search shuffle is one join keyed on the
    * cell id with the query side broadcast — the IVF promise that a
    * query scans nprobe/kCells of the corpus instead of all of it.
    * Hash-exact oracle since round 6 (OracleSql.ivfTopK replays the
    * canonical fit + routing + re-rank); SimilaritySpec measures
    * recall@5 vs brute. */
  def ivfTopK(t: Tables, k: Int = 5, kCells: Int = 8, nprobe: Int = 3,
      iters: Int = 5): DataFrame =
    ivfTopKOf(t.embeddings, withNorm(t.embeddings).filter(col("vec_id") < 10),
      k, kCells, nprobe, iters)

  /** Library form over an arbitrary query frame — the [[annLshTopKOf]]
    * contract: `queries` carries (vec_id, v, norm), typically a
    * [[withNorm]] projection of any vector set. A query sharing a
    * vec_id with a corpus row is treated as that row and excluded from
    * its own neighbors; external query sets should use ids outside the
    * corpus id space. The coarse quantizer is fit on the CORPUS only —
    * queries route through the fitted model without influencing it. */
  def ivfTopKOf(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      kCells: Int = 8, nprobe: Int = 3, iters: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val vecs = withNorm(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    val (centroids, _) = lloyd(vecs, kCells, iters, 1e-9)
    val corpusCells = vecs
      .withColumn("cell", nearestCentroid(centroids).getField("cid"))
      .select(col("cell"), col("vec_id").as("n_id"),
        col("v").as("v_n"), col("norm").as("norm_n"))
    val q = queries
      .withColumn("cell", explode(probeCells(centroids, nprobe)))
      .select(col("cell"), col("vec_id").as("q_id"),
        col("v").as("v_q"), col("norm").as("norm_q"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val out = broadcast(q).join(corpusCells, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rnk")
    vecs.unpersist(blocking = false) // model frozen; the returned plan re-derives
    out
  }

  /** E15 — FILTERED vector search: top-k under a metadata predicate —
    * the feature every production vector store ships (per-tenant,
    * per-language, per-license retrieval), with the one semantic that
    * separates correct implementations from broken ones: the filter
    * applies BEFORE the ranking, so the query returns the true top-k
    * OF THE FILTERED SET. Post-filtering an unfiltered top-k — the
    * classic bug — returns fewer than k rows and silently misses every
    * qualifying neighbor that sat outside the unfiltered top-k
    * (SimilaritySpec plants exactly that case). The index is fit on
    * the FULL corpus (one model serves every predicate — queries
    * filter, fits don't), and the predicate lands on the data side
    * BEFORE assignment/ranking, where Catalyst pushes it into the
    * corpus scan: at 100 TB a selective tenant filter prunes
    * row-groups before a single distance is computed. */
  def annFilteredTopK(t: Tables, k: Int = 5, kCells: Int = 8,
      nprobe: Int = 3, iters: Int = 5): DataFrame =
    ivfTopKFilteredOf(t.embeddings,
      withNorm(t.embeddings).filter(col("vec_id") < 10),
      col("label") === 3L, k, kCells, nprobe, iters)

  /** Library form: `corpus` carries (vec_id, embedding, <attribute
    * columns>); `dataFilter` is any predicate over those attributes. */
  def ivfTopKFilteredOf(corpus: DataFrame, queries: DataFrame,
      dataFilter: Column, k: Int = 5, kCells: Int = 8, nprobe: Int = 3,
      iters: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val fitVecs = withNorm(corpus.select("vec_id", "embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (centroids, _) = lloyd(fitVecs, kCells, iters, 1e-9)
    val rest = corpus.columns
      .filterNot(c => c == "vec_id" || c == "embedding").map(col).toSeq
    val corpusCells = corpus
      .select(col("vec_id") +: col("embedding").cast("array<double>").as("v")
        +: rest: _*)
      .filter(dataFilter) // BEFORE assignment/ranking — pushed to scan
      .withColumn("norm", call_function("graft_norm2", col("v")))
      .withColumn("cell", nearestCentroid(centroids).getField("cid"))
      .select(col("cell"), col("vec_id").as("n_id"),
        col("v").as("v_n"), col("norm").as("norm_n"))
    val q = queries
      .withColumn("cell", explode(probeCells(centroids, nprobe)))
      .select(col("cell"), col("vec_id").as("q_id"),
        col("v").as("v_q"), col("norm").as("norm_q"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val out = broadcast(q).join(corpusCells, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rnk")
    fitVecs.unpersist(blocking = false)
    out
  }

  /** E14 — k-NN similarity JOIN: every corpus vector gets its top-k
    * neighbors — the all-rows form of E3b's per-query search, and the
    * primitive under embedding-cluster curation, semantic dedup
    * candidate generation, and graph construction over a corpus. Brute
    * force is O(n²) in vectors; the IVF join bounds candidates to the
    * probed cells: fit the coarse quantizer once, assign every vector
    * to its ONE data cell, explode every vector into its `nprobe`
    * nearest cells as a probe, and join probe↔data on the cell id.
    *
    * Scale shape — where this differs from [[ivfTopKOf]]: the probe
    * side is CORPUS-sized (not a broadcastable query batch), so the
    * join is a shuffle join keyed on the cell id — each side crosses
    * the wire exactly once, and candidate volume is
    * Σ_cell |probes| · |data| ≈ n²·nprobe/kCells, tuned by kCells
    * (deployments size cells to executor memory, thousands of cells at
    * 100 TB — the cell key fans out; the bench fixture's 8 cells are a
    * recall-oriented small-SF setting). Vectors are DROPPED before the
    * per-query top-k window, so the second exchange carries only
    * (q_id, n_id, cos) — 24 B per candidate, never vector payloads.
    * Hash-exact oracle: the canonical Lloyd fit + routing + the
    * bit-proven cosine fold replay end to end (the ivf_topk pattern
    * with the probe filter removed). `corpus` is any (vec_id,
    * embedding) frame; `blocks` salts the cell join ([[cellJoin]]).
    * Pass `kCells = kCellsFor(corpus.count(), occupancy)` when the
    * corpus size is not known a priori: one count job sizes the grid. */
  def knnJoinOf(corpus: DataFrame, k: Int, kCells: Int, nprobe: Int,
      iters: Int, blocks: Int = 16): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val vecs = withNorm(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val out = cellJoin(vecs, kCells, nprobe, iters, blocks, labels = false)
      // vectors end here: the rank exchange carries (q_id, n_id, cos)
      .select(col("q_id"), col("n_id"), col("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rnk")
    vecs.unpersist(blocking = false) // model frozen; the plan re-derives
    out
  }

  /** The coarse quantizer fit on `vecs` (vec_id, v, norm, …) and its two
    * cell assignments: every vector in its ONE data cell, and every
    * vector exploded into its `nprobe` nearest cells as a probe — each
    * as `vecs` plus a `cell` column. */
  private def cellAssign(vecs: DataFrame, kCells: Int, nprobe: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val (centroids, _) = lloyd(vecs, kCells, iters, 1e-9)
    (vecs.withColumn("cell", nearestCentroid(centroids).getField("cid")),
      vecs.withColumn("cell", explode(probeCells(centroids, nprobe))))
  }

  /** The salted IVF cell join of [[knnJoinOf]] and
    * [[contrastivePairsAll]]: every (probe q_id, data n_id) pair that
    * shares a cell, self-pairs dropped, with vectors, norms and `cos`;
    * `labels` carries `label` along as q_label / n_label. `vecs`
    * (vec_id, [label,] v, norm) is the caller's persisted frame.
    * `blocks` salts the join: a kCells-key join bounds parallelism to
    * kCells — and AQE, seeing only the TINY join inputs, coalesces it
    * further (the blow-up is at join OUTPUT, invisible to size-based
    * planning; measured 6.4 s → the salted form). The data side takes
    * a deterministic block (n_id mod blocks), the probe side replicates
    * into every block — each pair still meets exactly once — and the
    * explicit-count repartition is the AQE barrier (the jaccardPairsOf
    * rule). Deployments with thousands of cells can set blocks = 1. */
  private def cellJoin(vecs: DataFrame, kCells: Int, nprobe: Int,
      iters: Int, blocks: Int, labels: Boolean): DataFrame = {
    val cores = vecs.sparkSession.sparkContext.defaultParallelism
    val (data, probes) = cellAssign(vecs, kCells, nprobe, iters)
    def side(cells: DataFrame, id: String, p: String): DataFrame =
      cells.select(Seq(col("cell"), col("vec_id").as(id)) ++
        (if (labels) Seq(col("label").as(s"${p}_label")) else Nil) ++
        Seq(col("v").as(s"v_$p"), col("norm").as(s"norm_$p")): _*)
    val d = side(data, "n_id", "n")
      .withColumn("blk", pmod(col("n_id"), lit(blocks.toLong)))
      .repartition(cores, col("cell"), col("blk"))
    val q = side(probes, "q_id", "q")
      .withColumn("blk", explode(typedLit((0L until blocks).toArray)))
      .repartition(cores, col("cell"), col("blk"))
    q.join(d, Seq("cell", "blk"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
  }

  /** E14's sizing rule made EXECUTABLE (round 16): [[knnJoinOf]]'s
    * candidate volume is Σ_cell |probes|·|data| ≈ n·nprobe·occupancy
    * once cells hold ~`targetOccupancy` vectors each — LINEAR in n,
    * where a FIXED kCells makes it n²·nprobe/kCells (the bench
    * fixture's documented quadratic-by-construction shape). kCells was
    * a caller constant with the growth contract living in prose; this
    * is that contract as code: ⌈n / targetOccupancy⌉ cells (≥ 1), so
    * per-cell candidate work and executor memory stay CONSTANT as the
    * corpus grows — at 100 TB the cell count fans out into the
    * thousands and the cell-keyed shuffle join scales with it. */
  def kCellsFor(n: Long, targetOccupancy: Long = 256L): Int = {
    require(targetOccupancy > 0L,
      s"targetOccupancy must be positive, got $targetOccupancy")
    val cells = (n + targetOccupancy - 1L) / targetOccupancy
    math.min(math.max(cells, 1L), Int.MaxValue.toLong).toInt
  }

  /** The EXACT candidate-pair volume [[knnJoinOf]] would generate at
    * these settings — Σ_cell |probes(cell)| · |data(cell)|, computed
    * from two per-cell COUNT aggregates joined on the cell id (pairs
    * are never materialized, so probing the 10× growth shape of a
    * sizing policy costs two groupBys, not the join itself). Includes
    * the q_id = n_id self-pairs the join filters, a constant +n. */
  def knnJoinCandidateVolume(corpus: DataFrame, kCells: Int, nprobe: Int,
      iters: Int): Long = {
    val (data, probes) = cellAssign(withNorm(corpus), kCells, nprobe, iters)
    val dataCnt = data.groupBy("cell").agg(count(lit(1)).as("nd"))
    val probeCnt = probes.groupBy("cell").agg(count(lit(1)).as("np"))
    probeCnt.join(dataCnt, Seq("cell"))
      .agg(coalesce(sum(col("np") * col("nd")), lit(0L)))
      .collect()(0).getLong(0)
  }

  /** Per-subspace codebooks fit with the SAME Lloyd loop as IVF (each
    * subspace is just k-means over a slice of the persisted unit
    * vectors — cache-served scans, graft_vec_sum means). Returns
    * [m][kCells][subDim]. */
  def pqModel(unitVecs: DataFrame, dim: Int, m: Int = 8, kCells: Int = 16,
      iters: Int = 5): Array[Array[Array[Double]]] = {
    // silent integer division would drop the trailing dim % m
    // dimensions from codebooks, codes, AND ADC tables — quantization
    // quality degrades with no error (round-4 self-review finding)
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m subspaces")
    val sub = dim / m
    val spark = unitVecs.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // FUSED fit: the m subspace k-means run in lockstep — each Lloyd
    // iteration is one pass over the working set producing all m×kCells
    // partials at once, instead of m independent fits × iters tiny
    // jobs. Convergence is joint: stop when NO subspace's centroids
    // move. Since round 6 the reduction is the CANONICAL fold tree of
    // [[lloyd]] (vec_id%LloydBuckets buckets folded in vec_id order,
    // bucket partials folded in bucket order, per (subspace, cell)) —
    // bit-reproducible independent of partitioning, which is what lets
    // OracleSql replay the PQ fit and the driver hash-check pq_topk.
    val initRows = unitVecs.filter(col("vec_id") < kCells).orderBy("vec_id")
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(initRows.length == kCells,
      s"need vec_ids 0..${kCells - 1} present for deterministic init")
    var model: Array[Array[Array[Double]]] = Array.tabulate(m)(j =>
      Array.tabulate(kCells)(c =>
        java.util.Arrays.copyOfRange(initRows(c), j * sub, (j + 1) * sub)))
    val cores = spark.sparkContext.defaultParallelism
    val working = unitVecs
      .select(pmod(col("vec_id"), lit(LloydBuckets.toLong)).cast("int").as("b"),
        col("vec_id"), col("v"))
      .repartition(cores, col("b"))
      .sortWithinPartitions("b", "vec_id")
      .as[(Int, Long, Array[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    var it = 0
    var moved = Double.MaxValue
    while (it < iters && moved > 1e-9) {
      val flat = flatModel(model)
      val mL = m; val kL = kCells; val subL = sub
      // level 1: per-(bucket, subspace, cell) slice sums folded in
      // vec_id order; the per-subspace argmin is EXACTLY
      // PqAssignKernel.assign's arithmetic (strict less, lowest cell)
      val partials = working.mapPartitions { rows =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Int, Array[Double], Long)]
        var curB = -1
        var acc: Array[Array[Double]] = null
        var cnt: Array[Long] = null
        def flush(): Unit = if (curB >= 0) {
          var jc = 0
          while (jc < mL * kL) {
            if (cnt(jc) > 0L)
              out += ((curB, jc / kL, jc % kL, acc(jc), cnt(jc)))
            jc += 1
          }
        }
        rows.foreach { case (b, _, v) =>
          if (b != curB) {
            flush(); curB = b
            acc = Array.fill(mL * kL)(new Array[Double](subL))
            cnt = new Array[Long](mL * kL)
          }
          var j = 0
          while (j < mL) {
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < kL) {
              var d = 0.0
              var x = 0
              val base = (j * kL + c) * subL
              while (x < subL) {
                val diff = v(j * subL + x) - flat(base + x)
                d += diff * diff
                x += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            val a = acc(j * kL + best)
            var x = 0
            while (x < subL) { a(x) += v(j * subL + x); x += 1 }
            cnt(j * kL + best) += 1L
            j += 1
          }
        }
        flush()
        out.iterator
      }.toDF("b", "j", "cid", "s", "cnt")
      // level 2: per-(subspace, cell) fold of bucket partials in bucket order
      val zero = typedLit(Seq.fill(sub)(0.0))
      val sums = partials
        .groupBy("j", "cid")
        .agg(
          aggregate(
            array_sort(collect_list(struct(col("b"), col("s")))),
            zero,
            (a, e) => zip_with(a, e.getField("s"), (x, y) => x + y)).as("sum"),
          sum("cnt").as("cnt"))
        .collect()
      // empty cells keep their previous centroid (the IVF rule)
      val next = model.map(_.map(_.clone))
      sums.foreach { r =>
        val cell = next(r.getInt(0))(r.getInt(1))
        val s = r.getSeq[Double](2)
        val n = r.getLong(3).toDouble
        var x = 0
        while (x < sub && x < s.length) { cell(x) = s(x) / n; x += 1 }
      }
      moved = model.indices.map { j =>
        model(j).zip(next(j)).map { case (a, b) =>
          var t = 0.0; var x = 0
          while (x < a.length) { val d = a(x) - b(x); t += d * d; x += 1 }
          t
        }.max
      }.max
      model = next
      it += 1
    }
    working.unpersist(blocking = false)
    model
  }

  /** Codebook flattened to the kernel layout [j][c][x]. */
  private def flatModel(model: Array[Array[Array[Double]]]): Array[Double] =
    model.flatMap(_.flatten)

  /** PQ code column: all m subspace argmins in ONE graft_pq_assign
    * kernel call against the flat codebook literal (see
    * [[graft.plans.PqAssignKernel]] for why the per-cell expression-tree
    * form was replaced). */
  private def pqCodeCol(model: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    call_function("graft_pq_assign", col("u"),
      typedLit(flatModel(model).toSeq), lit(model.length))

  /** Exact cosine re-rank: the shared pass 2 of every
    * candidate-generating ANN operator — `cand` carries (q_id, n_id)
    * pairs, `q`/`c` the projected query and corpus vector frames. One
    * definition keeps the output contract (ranking, tie-break,
    * rounding) identical across operators. */
  private def rerankExact(cand: DataFrame, q: DataFrame, c: DataFrame,
      k: Int): DataFrame = {
    val wr = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    cand
      .join(broadcast(q), "q_id")
      .join(c, "n_id")
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "rnk")
  }

  /** Corpus frame with (vec_id, v, norm, u) — u the unit vector every
    * PQ path quantizes (on units, L2 order ⇔ cosine order). */
  private[operators] def unitized(corpus: DataFrame): DataFrame =
    withNorm(corpus)
      .withColumn("u", call_function("graft_vec_scale", col("v"),
        lit(1.0) / sqrt(col("norm"))))

  /** Query-side ADC table against one codebook: entry (j, c) =
    * ‖q_j − cen_j − codebook_j(c)‖² over the subspace, with `cen = null`
    * for flat (non-residual) PQ. ONE definition serves the inline
    * operators and the prefit-index search so their arithmetic is
    * bit-identical. */
  private[operators] def adcTableOf(qu: Array[Double], cen: Array[Double],
      model: Array[Array[Array[Double]]]): Array[Double] = {
    val m = model.length
    val kc = model(0).length
    val sub = model(0)(0).length
    val tbl = new Array[Double](m * kc)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < kc) {
        var d = 0.0; var x = 0
        while (x < sub) {
          val base =
            if (cen == null) qu(j * sub + x)
            else qu(j * sub + x) - cen(j * sub + x)
          val r = base - model(j)(c)(x)
          d += r * r; x += 1
        }
        tbl(j * kc + c) = d
        c += 1
      }
      j += 1
    }
    tbl
  }

  /** Driver-side unit query vectors from a (vec_id, v, norm) frame —
    * the ADC-table inputs. The QUERY set is collected (m×kCells doubles
    * of table per query), never the corpus: the contract is interactive
    * batch-sized query sets, like [[rerankExact]]'s broadcast. */
  private def unitQueryRows(queries: DataFrame): Array[(Long, Array[Double])] =
    queries.select(col("vec_id"),
        call_function("graft_vec_scale", col("v"),
          lit(1.0) / sqrt(col("norm"))).as("u"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** E4 — PRODUCT QUANTIZATION: the vector-compression ANN path. Unit
    * vectors split into `m` subspaces; each subspace gets its own
    * k-means codebook (`kCells` centroids), and a vector's code is its
    * m nearest-centroid ids — 64 doubles (512 B) compress to m small
    * ints (m bytes on disk). Search is ADC: the query precomputes an
    * m×kCells distance table (driver-side, model-sized) and the
    * compressed corpus is scanned with ONE codegen table-lookup loop
    * per row (graft_pq_adc) — at 100 TB the first-pass scan reads and
    * computes ~64× less than raw vectors. The approximate top `rerank`
    * candidates are then exactly re-ranked by cosine (a join back on
    * the candidate ids only). On unit vectors L2 and cosine order
    * identically (||a−b||² = 2−2cos), so ADC ranking targets the same
    * ground truth as E1. Rows-only; SimilaritySpec measures recall@5
    * and pins the compression arithmetic. */
  def pqTopK(t: Tables, k: Int = 5, m: Int = 8, kCells: Int = 16,
      iters: Int = 5, rerank: Int = 100): DataFrame =
    pqTopKOf(t.embeddings, withNorm(t.embeddings).filter(col("vec_id") < 10),
      k, m, kCells, iters, rerank)

  /** Library form of E4 over an arbitrary (vec_id, v, norm) query frame
    * (the [[ivfTopKOf]] contract and id-space caveat). Codebooks are fit
    * on the CORPUS only. */
  def pqTopKOf(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      m: Int = 8, kCells: Int = 16, iters: Int = 5,
      rerank: Int = 100): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = corpus.sparkSession
    val vecs = unitized(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m subspaces")
    val model = pqModel(vecs.select(col("vec_id"), col("u").as("v")), dim, m, kCells, iters)
    // compressed corpus: only (vec_id, codes) flows into the first-pass
    // scan — at scale this is the table you PERSIST, 64× smaller than
    // the embeddings
    val codes = vecs.select(col("vec_id").as("n_id"),
      pqCodeCol(model).as("codes"))
    // query-side ADC tables: model-sized driver work (|Q| × m × kCells)
    val qRows = unitQueryRows(queries)
    import spark.implicits._
    val queriesDf = qRows.map { case (qid, qu) =>
      (qid, adcTableOf(qu, null, model).toSeq)
    }.toSeq.toDF("q_id", "tbl")
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))
    // pass 1: compressed scan — broadcast the queries+tables, one
    // codegen lookup loop per (query, row)
    val cand = codes.crossJoin(broadcast(queriesDf))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", call_function("graft_pq_adc", col("tbl"), col("codes")))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= rerank)
      .select("q_id", "n_id")
    // pass 2: exact cosine re-rank on the tiny candidate set only
    val out = rerankExact(cand,
      queries.select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q")),
      vecs.select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n")),
      k)
    vecs.unpersist(blocking = false) // model + codes derive once more at materialization
    out
  }

  /** E4b — IVF+PQ: the composite index every large-scale vector store
    * runs. The coarse quantizer (IVF, unit vectors) routes; inside the
    * routed cells the scan reads PQ codes of the RESIDUAL (vector minus
    * its cell centroid — residuals concentrate near zero, so the same
    * codebook budget quantizes them much finer than raw vectors). Per
    * (query, probed cell) the ADC table is built from the query's
    * residual against that cell — driver-side, model-sized — and the
    * compressed scan is one graft_pq_adc loop per row, keyed by cell:
    * a query touches nprobe/kCells of the corpus AND reads only m
    * ints per row. Exact cosine re-rank of the top candidates, so
    * surfaced scores are exact. Rows-only; spec measures recall@5. */
  def ivfPqTopK(t: Tables, k: Int = 5, kCells: Int = 8, nprobe: Int = 3,
      m: Int = 8, pqCells: Int = 16, iters: Int = 5,
      rerank: Int = 100): DataFrame =
    ivfPqTopKOf(t.embeddings,
      withNorm(t.embeddings).filter(col("vec_id") < 10),
      k, kCells, nprobe, m, pqCells, iters, rerank)

  /** The fitted IVF+PQ artifact: coarse centroids, residual codebooks,
    * and the compressed corpus frame (cell, n_id, codes). `residuals`
    * is the persisted working frame backing `codes` — the caller
    * releases it once codes are materialized (or the plan escapes). */
  private[operators] final case class IvfPqFit(
      coarse: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]],
      codes: DataFrame,
      residuals: DataFrame)

  /** Fit coarse + residual-PQ models over a [[unitized]] (persisted)
    * corpus frame. ONE definition serves the inline operator and the
    * persisted index ([[VectorIndex.fit]]) so a reloaded artifact
    * reproduces the inline search bit for bit. */
  private[operators] def fitIvfPq(vecs: DataFrame, dim: Int, kCells: Int,
      m: Int, pqCells: Int, iters: Int): IvfPqFit = {
    import org.apache.spark.storage.StorageLevel
    // coarse quantizer over unit vectors (L2 on units ⇔ cosine order)
    val unitF = vecs.select(col("vec_id"), col("u").as("v"),
      call_function("graft_norm2", col("u")).as("norm"))
    val (coarse, _) = lloyd(unitF, kCells, iters, 1e-9)
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    // residuals, then PQ codebooks fit on THEM. Persisted: the fused
    // fit runs ~iters+1 actions over this frame, and without the cache
    // each one would recompute the coarse assignment (kCells dot
    // products per row) plus the subtraction over the whole corpus
    val withRes = unitF
      .withColumn("cell", nearestCentroid(coarse).getField("cid"))
      .withColumn("res", call_function("graft_vec_sub", col("v"),
        element_at(coarseLit, col("cell") + 1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val model = pqModel(withRes.select(col("vec_id"), col("res").as("v")),
      dim, m, pqCells, iters)
    val codes = withRes.select(col("cell"), col("vec_id").as("n_id"),
      call_function("graft_pq_assign", col("res"),
        typedLit(flatModel(model).toSeq), lit(m)).as("codes"))
    IvfPqFit(coarse, model, codes, withRes)
  }

  /** The routed compressed SEARCH over a (cell, n_id, codes) frame with
    * driver-held models — shared by the inline operator (codes fresh
    * from the fit) and the prefit-index search (codes read back from
    * parquet). `queries`/`corpus` carry (vec_id, v, norm);
    * `pruneCells = true` pre-filters the codes frame to the probed
    * cells driver-side, which on a cell-partitioned codes TABLE becomes
    * parquet partition pruning — the scan physically reads only
    * nprobe/kCells of the archive. */
  private[operators] def ivfPqSearchStage(codes: DataFrame,
      coarse: Array[Array[Double]], model: Array[Array[Array[Double]]],
      queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      rerank: Int, pruneCells: Boolean = false): DataFrame = {
    val spark = codes.sparkSession
    // query routing + per-(query, cell) residual ADC tables: driver
    // work over |Q| queries × nprobe cells × m × pqCells doubles
    val qUnit = queries.select(col("vec_id"),
        call_function("graft_vec_scale", col("v"),
          lit(1.0) / sqrt(col("norm"))).as("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
    val qRows = qUnit
      .withColumn("probes", probeCells(coarse, nprobe))
      .select(col("vec_id"), col("v"), col("probes")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getSeq[Int](2).toArray))
    val routed = qRows.flatMap { case (qid, qu, probes) =>
      probes.map(cell => (qid, cell, adcTableOf(qu, coarse(cell), model).toSeq))
    }
    import spark.implicits._
    val queriesDf = routed.toSeq.toDF("q_id", "cell", "tbl")
    val codesIn =
      if (pruneCells) codes.filter(col("cell").isin(routed.map(_._2).distinct.toSeq: _*))
      else codes
    val w = Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))
    // pass 1: compressed routed scan — join on the CELL key, queries
    // broadcast: a query reads only its nprobe cells' codes
    val cand = codesIn.join(broadcast(queriesDf), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", call_function("graft_pq_adc", col("tbl"), col("codes")))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= rerank)
      .select("q_id", "n_id")
    // pass 2: exact cosine re-rank of the candidates only
    rerankExact(cand,
      queries.select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q")),
      corpus.select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n")),
      k)
  }

  /** Library form of E4b over an arbitrary (vec_id, v, norm) query
    * frame (the [[ivfTopKOf]] contract and id-space caveat). Models are
    * fit INLINE per materialization — the self-contained bench shape;
    * the deployment shape (fit once, search many) is
    * [[VectorIndex]]. */
  def ivfPqTopKOf(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      kCells: Int = 8, nprobe: Int = 3, m: Int = 8, pqCells: Int = 16,
      iters: Int = 5, rerank: Int = 100): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val vecs = unitized(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must be divisible by m=$m subspaces")
    val fit = fitIvfPq(vecs, dim, kCells, m, pqCells, iters)
    val out = ivfPqSearchStage(fit.codes, fit.coarse, fit.codebook,
      queries, vecs.select(col("vec_id"), col("v"), col("norm")),
      k, nprobe, rerank)
    fit.residuals.unpersist(blocking = false) // models frozen
    vecs.unpersist(blocking = false) // the plan re-derives once
    out
  }

  /** E2 — LSH-bucketed ANN: 8 hyperplane tables × 6 bits; candidates share
    * any table bucket; exact cosine re-ranks candidates. The query side
    * MULTIPROBES: base bucket plus every 1-bit flip per table (round-1
    * recall@5 was 0.2 with exact-bucket probing; multiprobe lifts it
    * without adding corpus-side volume). Hash-exact oracle (OracleSql
    * .annLshTopK replays buckets + multiprobe + re-rank); SimilaritySpec
    * asserts recall@5 >= 0.6 vs E1. ONE shuffle on bucket id. */
  def annLshTopK(t: Tables, k: Int = 5, tables: Int = 8, bits: Int = 6): DataFrame =
    annLshTopKOf(t.embeddings, withNorm(t.embeddings).filter(col("vec_id") < 10),
      k, tables, bits)

  /** Library form over an arbitrary query frame: `queries` carries
    * (vec_id, v, norm) — typically a [[withNorm]] projection of any
    * vector set, not necessarily drawn from the corpus. A query sharing
    * a vec_id with a corpus row is treated as that row and excluded
    * from its own neighbors; external query sets should use ids outside
    * the corpus id space. Scale note: the probe explode inherits the
    * query frame's partitioning — a very large external query set read
    * from few input splits should be repartitioned by the CALLER before
    * this (the operator cannot cheaply know the set's size, and an
    * unconditional repartition would tax the common small-query case). */
  def annLshTopKOf(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      tables: Int = 8, bits: Int = 6): DataFrame = {
    val (cand, vecs) = lshCandidates(corpus, queries, tables, bits)
    rerankExact(cand,
      queries.select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q")),
      vecs.select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n")),
      k)
  }

  /** The shared E2/E9 candidate stage: multiprobed query buckets joined
    * to corpus buckets, exactly-once per (q, n) pair. Returns the
    * candidate pairs and the norm'd corpus frame the caller re-ranks
    * against. */
  private def lshCandidates(corpus: DataFrame, queries: DataFrame,
      tables: Int, bits: Int): (DataFrame, DataFrame) = {
    val vecs = withNorm(corpus)
      .withColumn("buckets",
        call_function("graft_lsh_buckets", col("v"), lit(tables), lit(bits)))
    val qb = queries
      .withColumn("probes",
        call_function("graft_lsh_probes", col("v"), lit(tables), lit(bits)))
      .select(col("vec_id").as("q_id"), explode(col("probes")).as("bucket"))
    val cb = vecs.select(col("vec_id").as("n_id"),
      explode(col("buckets")).as("bucket"))
    // exactly-once emission (the D5b pattern): a candidate matching in
    // several tables surfaces once per table; both explodes ship
    // (bucket, id) ONLY and a candidate-sized DISTINCT collapses the
    // multi-table duplicates. The alternative — carrying each side's
    // bucket/probe arrays through the exchange to elect the first
    // agreeing table arithmetically — inflates the corpus-side bucket
    // exchange by the array width, which at 100 TB is the whole job
    // (measured on the D5b twin: the slim+DISTINCT form is also faster
    // at bench scale).
    val cand = qb.join(cb, "bucket")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .distinct()
    (cand, vecs)
  }

  /** E9 — RADIUS (threshold) search: every bucket-candidate neighbor at
    * exact cosine ≥ τ, the range-query twin of E2's top-k ("everything
    * this similar", not "the 5 most similar") — the retrieval shape
    * semantic dedup and near-dup auditing run against external query
    * sets. Candidate generation is exactly the E2 stage (multiprobed
    * LSH buckets, exactly-once pairs); the re-rank window is replaced
    * by a pure cosine filter, so unlike top-k there is NO per-query
    * window pass — the verdict is per-pair and the plan stays one
    * bucket-join + one filter. Exact over the banded candidate set BY
    * CONSTRUCTION (the F6b framing); candidate recall is the E2
    * multiprobe's. Cosine arithmetic is the bit-stable graft_dot fold,
    * so the ≥ τ cut cannot waver on an engine's ULP. */
  def annRadiusOf(corpus: DataFrame, queries: DataFrame, tau: Double = 0.35,
      tables: Int = 8, bits: Int = 6): DataFrame = {
    val (cand, vecs) = lshCandidates(corpus, queries, tables, bits)
    cand
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("v").as("v_q"), col("norm").as("norm_q"))), "q_id")
      .join(vecs.select(col("vec_id").as("n_id"),
        col("v").as("v_n"), col("norm").as("norm_n")), "n_id")
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .filter(col("cos") >= tau)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos4"))
      .orderBy("q_id", "n_id")
  }

  /** The E9 query shape: corpus vectors vec_id < 10 as the query set. */
  def annRadius(t: Tables, tau: Double = 0.35): DataFrame =
    annRadiusOf(t.embeddings, withNorm(t.embeddings).filter(col("vec_id") < 10), tau)

  /** E8 — SQ8 SCALAR QUANTIZATION top-k (FAISS's SQ8 / Milvus
    * IVF_SQ8's flat tier): per-dimension affine uint8 codes against a
    * driver-fit (min, range) model. Where PQ (E4) spends its budget on
    * joint subspace codebooks, SQ8 keeps one byte PER DIMENSION —
    * 8× smaller than float64 with near-exact recall, the standard
    * memory/recall point between raw vectors and PQ.
    *
    * Scale shape: the fit is one partial-aggregated min/max pass (the
    * exchange carries tasks × dim partials; only 2×dim doubles reach
    * the driver — model-sized, like the IVF centroids). The stored
    * table is (n_id, codes) — the 8×-compressed scan a deployment
    * persists; the ADC pass derives the dequantized view INSIDE the
    * scan's codegen (graft_sq8_dequant against literal model arrays —
    * stored bytes, derived doubles, nothing materialized), scores
    * approximate cosine, and rank-limits to `rerank` candidates per
    * query (WindowGroupLimit). Exact cosine re-rank on the candidate
    * set only, so surfaced scores are exact — the E-family contract.
    *
    * Oracle-replayable end to end: min/max is order-independent, and
    * encode/dequant/ADC are fixed-order double arithmetic the DuckDB
    * twin recomputes bit-identically. */
  def sq8TopK(t: Tables, k: Int = 5, rerank: Int = 32): DataFrame =
    sq8TopKOf(t.embeddings,
      withNorm(t.embeddings).filter(col("vec_id") < 10), k, rerank)

  /** The same search over any corpus/queries pair; queries carry
    * (vec_id, v, norm). */
  def sq8TopKOf(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      rerank: Int = 32): DataFrame = {
    val vecs = withNorm(corpus)
    // fit: per-dim (min, range) — partial-aggregated, model-sized
    val mm = vecs
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
    val dim = mm.length
    val mins = new Array[Double](dim)
    val scales = new Array[Double](dim)
    mm.foreach { r =>
      val d = r.getInt(0)
      mins(d) = r.getDouble(1)
      scales(d) = r.getDouble(2) - r.getDouble(1)
    }
    val minsC = typedLit(mins.toSeq)
    val scalesC = typedLit(scales.toSeq)
    // the 8x-compressed corpus: only (n_id, codes) persists/flows
    val codes = vecs.select(col("vec_id").as("n_id"),
      call_function("graft_sq8_encode", col("v"), minsC, scalesC).as("codes"))
    val q = queries.select(col("vec_id").as("q_id"),
      col("v").as("v_q"), col("norm").as("norm_q"))
    val w = Window.partitionBy("q_id").orderBy(col("adc").desc, col("n_id"))
    val cand = codes.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("dq",
        call_function("graft_sq8_dequant", col("codes"), minsC, scalesC))
      .withColumn("adc",
        call_function("graft_dot", col("v_q"), col("dq")) /
          (sqrt(col("norm_q")) * sqrt(call_function("graft_norm2", col("dq")))))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= rerank)
      .select("q_id", "n_id")
    rerankExact(cand, q,
      vecs.select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n")),
      k)
  }

  /** E8b — IVF_SQ8 composite (FAISS IndexIVFScalarQuantizer with
    * by_residual=false; Milvus's IVF_SQ8): the coarse quantizer routes
    * (E3's Lloyd fit — a query touches nprobe/kCells of the corpus)
    * and the routed cells are scanned in SQ8 codes (E8's global
    * per-dim affine uint8 — 8× less read per row), dequantized inside
    * the scan's codegen for the approximate-cosine candidate window,
    * then exact-cosine re-ranked. Candidates need no dedup: a corpus
    * vector lives in exactly one cell. The global (not per-cell) SQ
    * model keeps the fit one pass and the oracle replay exact; FAISS's
    * by_residual=true variant refines precision per cell at the cost
    * of a residual pass — E4b already covers the residual-coding idea
    * with PQ. */
  def ivfSq8TopK(t: Tables, k: Int = 5, kCells: Int = 8, nprobe: Int = 3,
      iters: Int = 5, rerank: Int = 32): DataFrame =
    ivfSq8TopKOf(t.embeddings,
      withNorm(t.embeddings).filter(col("vec_id") < 10),
      k, kCells, nprobe, iters, rerank)

  def ivfSq8TopKOf(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      kCells: Int = 8, nprobe: Int = 3, iters: Int = 5,
      rerank: Int = 32): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val vecs = withNorm(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    val (centroids, _) = lloyd(vecs, kCells, iters, 1e-9)
    // SQ8 fit: global per-dim (min, range), one partial-aggregated pass
    val mm = vecs
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
    val mins = new Array[Double](mm.length)
    val scales = new Array[Double](mm.length)
    mm.foreach { r =>
      val d = r.getInt(0)
      mins(d) = r.getDouble(1)
      scales(d) = r.getDouble(2) - r.getDouble(1)
    }
    val minsC = typedLit(mins.toSeq)
    val scalesC = typedLit(scales.toSeq)
    // the deployment table: (cell, n_id, codes) — partition-prunable by
    // cell, 8x smaller than the vectors
    val codesCells = vecs
      .withColumn("cell", nearestCentroid(centroids).getField("cid"))
      .select(col("cell"), col("vec_id").as("n_id"),
        call_function("graft_sq8_encode", col("v"), minsC, scalesC).as("codes"))
    val q = queries
      .withColumn("cell", explode(probeCells(centroids, nprobe)))
      .select(col("cell"), col("vec_id").as("q_id"),
        col("v").as("v_q"), col("norm").as("norm_q"))
    val w = Window.partitionBy("q_id").orderBy(col("adc").desc, col("n_id"))
    val cand = broadcast(q).join(codesCells, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("dq",
        call_function("graft_sq8_dequant", col("codes"), minsC, scalesC))
      .withColumn("adc",
        call_function("graft_dot", col("v_q"), col("dq")) /
          (sqrt(col("norm_q")) * sqrt(call_function("graft_norm2", col("dq")))))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= rerank)
      .select("q_id", "n_id")
    val out = rerankExact(cand,
      queries.select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q")),
      vecs.select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n")),
      k)
    vecs.unpersist(blocking = false) // model frozen; the returned plan re-derives
    out
  }

  /** E10 — kNN majority-vote CLASSIFICATION (label propagation): each
    * held-out vector (vec_id % 10 == 0) takes the majority label of its
    * k exact-cosine nearest LABELED neighbors; ties break by (votes
    * desc, best neighbor rank asc, label asc) — fully deterministic.
    * This is the standard embedding-space auto-labeling step (classify
    * new documents by their nearest curated neighbors).
    *
    * The exact-cosine tier is the correctness baseline (the E1
    * broadcast-queries shape: queries broadcast, corpus streams,
    * nothing shuffles before the per-(query,label) vote partials); at
    * deploy scale the SAME [[voteLabels]] vote runs over any ANN
    * candidate frame — the IVF composition is spec-pinned equivalent. */
  def knnClassify(t: Tables, k: Int = 5): DataFrame = {
    val vecs = withNorm(t.embeddings)
    val held = col("vec_id") % 10 === 0
    val q = vecs.filter(held)
      .select(col("vec_id").as("q_id"), col("v").as("v_q"), col("norm").as("norm_q"))
    val c = vecs.filter(!held)
      .select(col("vec_id").as("n_id"), col("v").as("v_n"), col("norm").as("norm_n"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val topk = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos",
        call_function("graft_dot", col("v_q"), col("v_n")) /
          (sqrt(col("norm_q")) * sqrt(col("norm_n"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"))
    val labels = t.embeddings.filter(!held)
      .select(col("vec_id").as("n_id"), col("label"))
    val truth = t.embeddings.filter(held)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"))
    voteLabels(topk, labels)
      .join(broadcast(truth), "q_id")
      .select(col("q_id"), col("true_label"), col("pred_label"), col("votes"))
      .orderBy("q_id")
  }

  /** Majority vote over ANY (q_id, rnk, n_id) neighbor frame — composes
    * with every top-k search in this file and with [[VectorIndex]]
    * searches. The candidate frame is query-batch-sized, so it
    * BROADCASTS and the corpus-scale label table streams past it — no
    * label-table shuffle; the vote agg carries per-(query,label)
    * partials only. */
  def voteLabels(topk: DataFrame, labels: DataFrame): DataFrame = {
    val votes = broadcast(topk).join(labels, "n_id")
      .groupBy("q_id", "label")
      .agg(count(lit(1)).as("votes"), min(col("rnk")).as("best_rnk"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("best_rnk"), col("label"))
    votes.withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
  }

  /** E11 — per-label embedding-space COHESION monitor (round 13): for
    * every label, the class size, centroid norm, and the
    * average/min/max cosine of members to their own centroid — the
    * health dashboard an embedding table needs before anyone trusts it
    * for dedup, search, or kNN labeling (a label whose min-cosine
    * collapses is polluted; a centroid norm near 0 means the class is
    * incoherent). The F28 drift monitor for the vector modality.
    *
    * Bit-stability WITHOUT a canonical shuffle (a deliberate contrast
    * to the Lloyd fold): components are QUANTIZED to 2^-20 grid longs
    * at the scan (the F19 micro-nat rule applied per dimension), so the
    * per-(label, dim) sums are exact int64 and order-INDEPENDENT; the
    * dequantized centroid is a fixed two-division sequence, and member
    * cosines quantize to micro-units before the exact-int label agg.
    * The 2^-20 rounding of the mean is the priced trade for never
    * re-shuffling the corpus.
    *
    * Scale shape: vectors NEVER cross an exchange — the component
    * explode partial-aggregates map-side to ≤ labels×dim rows per
    * task, centroids are model-sized and broadcast back onto the
    * checkpointed scan, and the final agg carries 5 ints per label. */
  def embedStatsOf(embeddings: DataFrame): DataFrame = {
    val Q = (1L << 20).toDouble
    val vecs = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", call_function("graft_norm2", col("v")))
      .localCheckpoint(false)
    val comp = vecs
      .select(col("label"), posexplode(expr(
        s"transform(v, x -> cast(round(x * ${Q}D) as bigint))"))
        .as(Seq("j", "q")))
      .groupBy("label", "j")
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("nv"))
    val cents = comp
      .withColumn("m",
        (col("sq").cast("double") / col("nv").cast("double")) / lit(Q))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(j, m))), s -> s.m)")
        .as("c"))
      .withColumn("cnorm", call_function("graft_norm2", col("c")))
    // min/max quantize at 4dp DIRECTLY and the output is a plain
    // division with NO second round: an integer micro-count divided by
    // 1e6 lands exactly on a .xxxx5 decimal whenever it's ≡50 mod 100,
    // and there Spark's shortest-decimal Round and DuckDB's
    // binary-double round split — re-rounding a quantized integer is
    // the one place the 4dp discipline is structurally ON the boundary
    val cos = vecs.join(broadcast(cents), "label")
      .withColumn("cos", call_function("graft_dot", col("v"), col("c"))
        / (sqrt(col("norm")) * sqrt(col("cnorm"))))
      .withColumn("cos_u", round(col("cos") * 1e6).cast("long"))
      .withColumn("cos_4", round(col("cos") * 1e4).cast("long"))
    cos.groupBy("label")
      .agg(count(lit(1)).as("n"), max(col("cnorm")).as("cn"),
        sum(col("cos_u")).as("su"), min(col("cos_4")).as("mn4"),
        max(col("cos_4")).as("mx4"))
      .select(col("label"), col("n"),
        round(sqrt(col("cn")), 4).as("centroid_norm4"),
        round(col("su").cast("double") / col("n").cast("double") / 1e6, 4)
          .as("avg_cos4"),
        (col("mn4").cast("double") / 1e4).as("min_cos4"),
        (col("mx4").cast("double") / 1e4).as("max_cos4"))
      .orderBy("label")
  }

  /** The E13 position weights — w_i = round(10⁶ / log₂(i+1)) — and
    * their prefix sums, computed ONCE on the driver and inlined as
    * literals into BOTH engines' plans (the oracle SQL embeds the same
    * Scala-computed constants), so no cross-engine log evaluation can
    * ever disagree. */
  private[graft] def ndcgWeights(k: Int): (Seq[Long], Seq[Long]) = {
    val w = (1 to k).map(i =>
      math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
    (w, w.scanLeft(0L)(_ + _).tail)
  }

  /** E13 — RETRIEVAL-QUALITY census (recall@k, MRR, nDCG@k): score a
    * candidate ranking against a ground-truth ranking per query — the
    * eval loop every ANN/retrieval deployment runs before trading
    * recall for speed (exactly how this repo's own E2/E3b/E4b tiers
    * were tuned, now as a first-class operator). Default arms: the E2
    * LSH ranking as the SYSTEM, the E1 brute-force ranking as TRUTH.
    *
    * EXACT-INTEGER discipline: relevance is binary membership in the
    * truth top-k; recall@k = (hits·1000) div |truth|; MRR in
    * micro-units = max over hits of (10⁶ div rank) — the max IS the
    * first relevant rank's reciprocal since div is antitone in rank;
    * DCG in micro-units = Σ w[rank] over hits with the driver-inlined
    * weight literals ([[ndcgWeights]]); nDCG = (dcg·1000) div
    * prefix[min(|truth|, k)]. No float crosses any gate.
    *
    * Scale shape: both inputs are query-batch-sized (q×k rows — the
    * heavy lifting happened in the arms), so the join/agg here is
    * broadcast-trivial at any corpus scale; the operator's cost IS its
    * arms. */
  def retrievalQuality(t: Tables, k: Int = 5): DataFrame =
    retrievalQualityOf(annLshTopK(t, k), annBruteTopK(t, k), k)

  /** Library form over any (q_id, rnk, n_id) system/truth rankings. */
  def retrievalQualityOf(sys: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    val (w, pre) = ndcgWeights(k)
    val truthSet = truth.select(col("q_id"), col("n_id"), lit(1L).as("rel"))
    val tc = truth.groupBy("q_id").agg(count(lit(1)).as("k_truth"))
    sys.select(col("q_id"), col("rnk"), col("n_id"))
      // the documented @k truncation: a caller passing a DEEPER system
      // ranking must not index past the weight table (out-of-bounds
      // element_at under ANSI, silent null DCG otherwise)
      .filter(col("rnk") <= lit(k.toLong))
      .join(truthSet, Seq("q_id", "n_id"), "left")
      .select(col("q_id"), col("rnk"),
        coalesce(col("rel"), lit(0L)).as("rel"))
      .withColumn("w_u",
        element_at(typedLit(w.toArray), col("rnk").cast("int")))
      .groupBy("q_id")
      .agg(sum(col("rel")).as("n_hits"),
        max(col("rel") *
          call_function("div", lit(1000000L), col("rnk"))).as("mrr_u"),
        sum(col("rel") * col("w_u")).as("dcg_u"))
      .join(tc, "q_id")
      .select(col("q_id"), col("n_hits"),
        call_function("div", col("n_hits") * 1000L,
          least(col("k_truth"), lit(k.toLong))).as("recall_permille"),
        col("mrr_u"), col("dcg_u"),
        call_function("div", col("dcg_u") * 1000L,
          element_at(typedLit(pre.toArray),
            least(col("k_truth"), lit(k.toLong)).cast("int")))
          .as("ndcg_permille"))
      .orderBy("q_id")
  }
}
