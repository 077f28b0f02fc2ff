package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  /** (query, neighbor) pairs — rank-insensitive for recall. */
  private def topk(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq

  test("brute-force top-k matches a driver-side recompute for one query") {
    val vecs = t.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = vecs(0L)
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(5).map(_._1)
    val got = Similarity.annBruteTopK(t).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(got == expected)
  }

  test("multiprobe lsh top-k achieves recall@5 >= 0.6 vs brute force") {
    val brute = topk(Similarity.annBruteTopK(t)).toSet
    val lsh = topk(Similarity.annLshTopK(t))
    assert(lsh.nonEmpty, "LSH must produce candidates at sf0.001")
    // every lsh hit for (q, rank) must be a true corpus member with exact cos
    val recall = lsh.toSet.intersect(brute).size.toDouble / brute.size
    info(s"lsh recall@5 vs brute = $recall (lsh rows=${lsh.size})")
    assert(recall >= 0.6)
  }

  test("ivf top-k search reaches recall@5 >= 0.6 vs brute force") {
    val brute = topk(Similarity.annBruteTopK(t)).toSet
    val ivf = topk(Similarity.ivfTopK(t))
    assert(ivf.nonEmpty)
    val recall = ivf.toSet.intersect(brute).size.toDouble / brute.size
    info(s"ivf recall@5 vs brute (nprobe=3/8 cells) = $recall")
    assert(recall >= 0.6)
  }

  test("pq top-k reaches recall@5 >= 0.6 vs brute force") {
    val brute = topk(Similarity.annBruteTopK(t)).toSet
    val pq = topk(Similarity.pqTopK(t))
    assert(pq.nonEmpty)
    val recall = pq.toSet.intersect(brute).size.toDouble / brute.size
    info(s"pq recall@5 vs brute (m=8, 16 cells, rerank=100) = $recall")
    assert(recall >= 0.6)
    // surfaced cosines are EXACT (the re-rank pass computes them from
    // raw vectors): recompute each surfaced pair driver-side with the
    // same left-fold arithmetic — keyed per pair, not via brute's
    // top-50, so a candidate outside the global top-50 (legal: ADC may
    // route past it) cannot flake the check
    val vecs = t.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosOf(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    Similarity.pqTopK(t).collect().foreach { r =>
      val expected = math.rint(cosOf(vecs(r.getLong(0)), vecs(r.getLong(2))) * 1e4)
      assert(math.rint(r.getDouble(3) * 1e4) == expected,
        s"inexact cosine at (${r.getLong(0)}, ${r.getLong(2)})")
    }
  }

  test("ivf+pq top-k reaches recall@5 >= 0.6 vs brute force") {
    val brute = topk(Similarity.annBruteTopK(t)).toSet
    val df = Similarity.ivfPqTopK(t) // one fit serves recall AND plan checks
    val ivfpq = topk(df)
    assert(ivfpq.nonEmpty)
    val recall = ivfpq.toSet.intersect(brute).size.toDouble / brute.size
    info(s"ivf+pq recall@5 vs brute (nprobe=3/8 cells, m=8 residual pq) = $recall")
    assert(recall >= 0.6)
    // the routed compressed scan joins on the cell key with the query
    // side broadcast — no cartesian, no nested loop
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic scan in:\n$plan")
  }

  test("pq adc kernel equals a driver-side table-lookup sum") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val table = (0 until 12).map(_.toDouble * 1.5) // m=3 subspaces, k=4
    val codes = Seq(Seq(2, 0, 3), Seq(1, 1, 1), Seq(0, 3, 2))
    val got = codes.toDF("codes")
      .select(call_function("graft_pq_adc",
        typedLit(table), col("codes").cast("array<int>")).as("s"))
      .collect().map(_.getDouble(0)).toSeq
    val expected = codes.map(cs =>
      cs.zipWithIndex.map { case (c, j) => table(j * 4 + c) }.sum)
    assert(got == expected)
  }

  test("lsh top-k accepts external query vectors (ids outside the corpus)") {
    import org.apache.spark.sql.functions._
    // external queries = copies of corpus vectors 0-4 under fresh ids:
    // each must find its origin as the top neighbor at cosine 1.0
    val queries = Similarity.withNorm(t.embeddings)
      .filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val top1 = Similarity.annLshTopKOf(t.embeddings, queries).collect()
      .filter(_.getLong(1) == 1L)
      .map(r => (r.getLong(0) - 1000000L, r.getLong(2), r.getDouble(3)))
    assert(top1.length == 5)
    top1.foreach { case (orig, nId, cos) =>
      assert(nId == orig, s"query $orig found $nId first")
      assert(cos == 1.0)
    }
  }

  /** Driver-side brute cosine top-k for EXTERNAL query vectors — the
    * ground truth the *Of library forms are measured against. */
  private def bruteOf(queries: Seq[(Long, Array[Double])], k: Int = 5): Set[(Long, Long)] = {
    val corpus = t.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    queries.flatMap { case (qid, qv) =>
      corpus.map { case (nid, nv) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(k).map(p => (qid, p._1))
    }.toSet
  }

  /** External query frame: corpus vectors 0-4 copied under fresh ids
    * outside the corpus id space (the *Of contract). */
  private def externalQueries = {
    import org.apache.spark.sql.functions._
    Similarity.withNorm(t.embeddings)
      .filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
  }

  private def externalQueryVecs: Seq[(Long, Array[Double])] =
    t.embeddings.collect()
      .filter(_.getLong(0) < 5)
      .map(r => (r.getLong(0) + 1000000L, r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq

  test("ivf top-k accepts external query vectors (ids outside the corpus)") {
    val got = topk(Similarity.ivfTopKOf(t.embeddings, externalQueries))
    val brute = bruteOf(externalQueryVecs)
    assert(got.nonEmpty)
    // each external copy of corpus vector i must find i itself (cos 1.0
    // routes to i's own cell), and overall recall vs the driver-side
    // brute ground truth must clear the operator's floor
    (0 until 5).foreach { i =>
      assert(got.contains((1000000L + i, i.toLong)), s"query $i lost its origin")
    }
    val recall = got.toSet.intersect(brute).size.toDouble / brute.size
    info(s"external-query ivf recall@5 = $recall")
    assert(recall >= 0.6)
  }

  test("pq top-k accepts external query vectors (ids outside the corpus)") {
    val got = topk(Similarity.pqTopKOf(t.embeddings, externalQueries))
    val brute = bruteOf(externalQueryVecs)
    assert(got.nonEmpty)
    (0 until 5).foreach { i =>
      assert(got.contains((1000000L + i, i.toLong)), s"query $i lost its origin")
    }
    val recall = got.toSet.intersect(brute).size.toDouble / brute.size
    info(s"external-query pq recall@5 = $recall")
    assert(recall >= 0.6)
  }

  test("ivf+pq top-k accepts external query vectors (ids outside the corpus)") {
    val got = topk(Similarity.ivfPqTopKOf(t.embeddings, externalQueries))
    val brute = bruteOf(externalQueryVecs)
    assert(got.nonEmpty)
    (0 until 5).foreach { i =>
      assert(got.contains((1000000L + i, i.toLong)), s"query $i lost its origin")
    }
    val recall = got.toSet.intersect(brute).size.toDouble / brute.size
    info(s"external-query ivf+pq recall@5 = $recall")
    assert(recall >= 0.6)
  }

  test("radius search: every pair verifies, agrees with top-k, no window pass (E9)") {
    val tau = 0.35
    val radius = Similarity.annRadius(t, tau)
    val got = radius.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty, "fixture must produce in-radius candidates")
    // every emitted pair verifies against a driver-side exact cosine
    val vecs = t.embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    got.foreach { case ((q, n), c4) =>
      val c = cos(vecs(q), vecs(n))
      assert(c >= tau, s"($q,$n) below radius: $c")
      assert(math.abs(c - c4) < 5e-5, s"($q,$n) cos4 drifted from exact")
    }
    // shared candidate stage: every E2 top-k hit at cos4 ≥ τ must be
    // in the radius set (the two operators differ only in the cut)
    val pairs = got.map(_._1).toSet
    Similarity.annLshTopK(t).collect()
      .filter(_.getDouble(3) >= tau + 1e-4)
      .foreach(r => assert(pairs.contains((r.getLong(0), r.getLong(2))),
        s"top-k pair (${r.getLong(0)},${r.getLong(2)}) missing from radius"))
    // the per-pair verdict needs NO per-query window pass (unlike top-k)
    val plan = radius.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"radius must not plan a window:\n$plan")
  }

  test("lsh candidate dedup is id-only: one distinct, nothing corpus-sized") {
    // round-10 reversal of the round-6 pin: the first-agree arithmetic
    // needed both sides' bucket/probe ARRAYS carried through the bucket
    // exchange — at 100 TB that array payload is the job (the D5b twin
    // measured the slim explode + candidate-sized DISTINCT strictly
    // faster). The pin is now: exactly ONE aggregate pair in the plan
    // (the candidate distinct — partial+final over (q_id, n_id) ids
    // only), top-k still a window, and PlanSpec separately asserts the
    // bucket exchange carries no array columns.
    val plan = Similarity.annLshTopK(t).queryExecution.executedPlan.toString
    val aggs = plan.split("\n").filter(_.contains("HashAggregate"))
    assert(aggs.nonEmpty, s"candidate distinct disappeared from:\n$plan")
    assert(aggs.forall(l => l.contains("q_id") && l.contains("n_id") &&
      !l.contains("v#") && !l.contains("probes") && !l.contains("buckets")),
      s"aggregate carries more than candidate ids:\n${aggs.mkString("\n")}")
  }

  test("sq8 top-k reaches recall@5 >= 0.9 vs brute force") {
    // 8 bits per dim loses almost nothing at rerank=32 — far tighter
    // than the PQ tiers' 0.6 bar
    val brute = topk(Similarity.annBruteTopK(t)).toSet
    val sq8 = topk(Similarity.sq8TopK(t))
    val recall = sq8.toSet.intersect(brute).size.toDouble / brute.size
    info(s"sq8 recall@5 vs brute (rerank=32) = $recall")
    assert(recall >= 0.9)
  }

  test("sq8 encode/dequant round-trip error stays within half a quantization step") {
    import org.apache.spark.sql.functions._
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // fit the same model the operator fits
    val mm = vecs.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx")).collect()
    val dim = mm.length
    val mins = new Array[Double](dim); val scales = new Array[Double](dim)
    mm.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1)
      scales(r.getInt(0)) = r.getDouble(2) - r.getDouble(1)
    }
    val rows = vecs
      .withColumn("dq", call_function("graft_sq8_dequant",
        call_function("graft_sq8_encode", col("v"),
          typedLit(mins.toSeq), typedLit(scales.toSeq)),
        typedLit(mins.toSeq), typedLit(scales.toSeq)))
      .select(col("v"), col("dq")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0); val dq = r.getSeq[Double](1)
      v.indices.foreach { i =>
        val halfStep = scales(i) / 255.0 / 2.0 + 1e-12
        assert(math.abs(v(i) - dq(i)) <= halfStep,
          s"dim $i: |${v(i)} - ${dq(i)}| > $halfStep")
      }
    }
  }

  test("ivf_sq8 composite reaches recall@5 >= 0.6 vs brute force") {
    // bounded by the coarse routing (nprobe 3 of 8 cells), like E3b —
    // the SQ8 coding inside the probed cells loses almost nothing
    val brute = topk(Similarity.annBruteTopK(t)).toSet
    val df = Similarity.ivfSq8TopK(t)
    val got = topk(df)
    val recall = got.toSet.intersect(brute).size.toDouble / brute.size
    info(s"ivf_sq8 recall@5 vs brute (nprobe=3/8, rerank=32) = $recall")
    assert(recall >= 0.6)
    // every query emits exactly k rows and ranks are 1..k
    val byQ = df.collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to 5L))
    }
    // the compressed first pass: its candidate windows keep rank-limit
    // pushdown, like pq/sq8
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("WindowGroupLimit").length - 1 >= 2, plan)
  }

  test("sq8 candidate and re-rank windows keep rank-limit pushdown") {
    val df = Similarity.sq8TopK(t)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    val limits = plan.split("WindowGroupLimit").length - 1
    assert(limits >= 2,
      s"expected rank-limit pushdown on ADC AND re-rank windows, saw $limits:\n$plan")
  }

  test("knn classification matches a driver recompute (E10)") {
    val rows = t.embeddings.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val corpus = rows.filter(_._1 % 10 != 0)
    val expected = rows.filter(_._1 % 10 == 0).map { case (qid, qv, truth) =>
      val nn = corpus.map { case (id, v, lab) => (id, cos(qv, v), lab) }
        .sortBy { case (id, c, _) => (-c, id) }.take(5).zipWithIndex
      val (lab, (votes, best)) = nn
        .groupBy(_._1._3)
        .map { case (l, g) => l -> (g.length.toLong, g.map(_._2).min) }
        .toSeq.minBy { case (l, (n, b)) => (-n, b, l) }
      (qid, truth, lab, votes)
    }.sortBy(_._1)
    val got = Similarity.knnClassify(t).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got == expected.toSeq)
    assert(got.nonEmpty)
  }

  test("knn vote tie-breaks: best-rank beats label order, label breaks full ties (E10)") {
    import spark.implicits._
    // q1: labels {7,9} tie 2-2 — 9 holds the rank-1 neighbor, so 9 wins;
    // q2: labels {3,5} tie 2-2 AND tie on best rank pattern? no — make a
    //     full tie: 3 at ranks (1,4), 5 at ranks (2,3): best 1 vs 2 — 3 wins;
    // q3: exact full tie is impossible on best_rnk (ranks are distinct),
    //     so pin the label tiebreak with equal votes via equal-best
    //     impossibility — instead: single-vote-each, label asc after rank?
    //     ranks distinct => best_rnk always breaks; assert that.
    val topk = Seq(
      (1L, 1L, 101L), (1L, 2L, 102L), (1L, 3L, 103L), (1L, 4L, 104L),
      (2L, 1L, 201L), (2L, 2L, 202L), (2L, 3L, 203L), (2L, 4L, 204L))
      .toDF("q_id", "rnk", "n_id")
    val labels = Seq(
      (101L, 9), (102L, 7), (103L, 7), (104L, 9),
      (201L, 3), (202L, 5), (203L, 5), (204L, 3))
      .toDF("n_id", "label")
    val got = Similarity.voteLabels(topk, labels).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 9, 2L), (2L, 3, 2L)))
  }

  test("knn vote composes with the IVF candidate path (E10 scale shape)") {
    import org.apache.spark.sql.functions._
    val ivfTopk = Similarity.ivfTopKOf(
      t.embeddings,
      Similarity.withNorm(t.embeddings.filter(col("vec_id") % 10 === 0)))
      .select("q_id", "rnk", "n_id")
    val labels = t.embeddings.select(col("vec_id").as("n_id"), col("label"))
    val cand = ivfTopk.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val labMap = labels.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val expected = cand.groupBy(_._1).map { case (q, g) =>
      val (lab, (votes, _)) = g.groupBy(x => labMap(x._3))
        .map { case (l, v) => l -> (v.length.toLong, v.map(_._2).min) }
        .toSeq.minBy { case (l, (n, b)) => (-n, b, l) }
      (q, lab, votes)
    }.toSeq.sortBy(_._1)
    val got = Similarity.voteLabels(ivfTopk, labels).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == expected && got.nonEmpty)
  }

  test("embed stats: driver recompute + partitioning independence (E11)") {
    val raw = t.embeddings.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val Q = (1L << 20).toDouble
    val byLabel = raw.groupBy(_._2)
    val expected = byLabel.map { case (lab, vs) =>
      val dim = vs.head._3.length
      // quantized component sums -> dequantized centroid
      val sq = Array.fill(dim)(0L)
      vs.foreach { case (_, _, v) =>
        for (j <- 0 until dim)
          sq(j) += BigDecimal(v(j) * Q)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }
      val c = sq.map(s => (s.toDouble / vs.length.toDouble) / Q)
      def fold(xs: Array[Double]): Double = xs.foldLeft(0.0)(_ + _)
      val cn = fold(c.map(x => x * x))
      val cosUs = vs.map { case (_, _, v) =>
        val cos = fold(v.indices.map(j => v(j) * c(j)).toArray) /
          (math.sqrt(fold(v.map(x => x * x))) * math.sqrt(cn))
        (BigDecimal(cos * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
          BigDecimal(cos * 1e4).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      lab -> (vs.length.toLong,
        BigDecimal(math.sqrt(cn)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        cosUs.map(_._2).min.toDouble / 1e4, cosUs.map(_._2).max.toDouble / 1e4)
    }
    val got = Similarity.embedStatsOf(t.embeddings).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got.size == expected.size)
    expected.foreach { case (lab, e) => assert(got(lab) == e, s"label $lab") }
    // the quantized-sum design is order-INDEPENDENT by construction —
    // no canonical shuffle needed (deliberate contrast to the Lloyd fold)
    val again = Similarity.embedStatsOf(t.embeddings.repartition(7))
      .collect().map(_.toSeq).toSet
    assert(again == Similarity.embedStatsOf(t.embeddings).collect().map(_.toSeq).toSet)
  }

  test("MMR re-ranking skips the near-duplicate a plain top-k would keep (E12)") {
    import spark.implicits._
    // query 0 = e_x; candidates: 10 and 11 are EXACT duplicates closest
    // to the query, 12 is relevant but diverse. Plain top-2 = {10, 11};
    // MMR (diversity-weighted) must pick 10 then 12 — the duplicate's
    // sim-to-selected is exactly 1, so its margin collapses.
    val vecs = Seq(
      (0L, Array(1.0f, 0f, 0f)),
      (10L, Array(1.0f, 0.05f, 0f)),
      (11L, Array(1.0f, 0.05f, 0f)),
      (12L, Array(0.8f, 0f, 0.6f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrTopKOf(vecs, m = 3, n = 2, lam = 0.3, lamBar = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1L, 10L), (0L, 2L, 12L)),
      s"MMR must diversify: ${got.mkString(",")}")
    // relevance-only weighting degenerates to plain top-k order
    val rel = Similarity.mmrTopKOf(vecs, m = 3, n = 2, lam = 1.0, lamBar = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rel.toSeq == Seq((0L, 1L, 10L), (0L, 2L, 11L)))
  }

  test("index-sourced MMR equals the oracle tier with zero fit jobs (E12 over E5)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_mmr_idx")
    VectorIndex.fit(t.embeddings, dir)
    val fitJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).flatMap(Option(_))
        if (g.contains(VectorIndex.FitJobGroup)) { fitJobs.incrementAndGet(); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val queries = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 10)
      // nprobe = every cell and rerank >= corpus make the index's
      // exact-reranked top-m unconditionally E1's top-m, so the shared
      // greedy stage must land on the identical selection chain
      val idx = Similarity.mmrTopKIndexed(t.embeddings, queries, dir,
          nprobe = 8, rerank = 100000)
        .collect().map(_.toSeq).toSeq
      val oracle = Similarity.mmrTopKOf(t.embeddings, 20, 5, 0.7, 0.3).collect().map(_.toSeq).toSeq
      assert(idx == oracle, "index-sourced MMR diverged from the oracle tier")
      Thread.sleep(300) // drain async listener events
      assert(fitJobs.get == 0,
        s"index-sourced MMR launched ${fitJobs.get} fit jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("filtered search returns the true top-k OF THE FILTERED SET; post-filtering would return nothing (E15)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // label-a vectors hug the query; label-b vectors sit further out —
    // the UNFILTERED top-3 is all-a, so post-filtering it for b yields
    // the empty set while true filtered search yields the 3 nearest b's
    def v(x: Float, y: Float, tail: Float): Array[Float] =
      Array(x, y) ++ Array.fill(6)(tail)
    val corpus = (
      (0 to 4).map(i => (i.toLong, v(1f, 0.01f * (i + 1), 0f), "a")) ++
      (5 to 9).map(i => (i.toLong, v(0.3f, 1f, 0.05f * (i + 1)), "b"))
    ).toDF("vec_id", "embedding", "label")
    val queries = Similarity.withNorm(
      Seq((100L, v(1f, 0f, 0f))).toDF("vec_id", "embedding"))
    val filtered = Similarity.ivfTopKFilteredOf(corpus, queries,
        col("label") === "b", k = 3, kCells = 2, nprobe = 2, iters = 2)
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    assert(filtered.length == 3 && filtered.forall(_._1 >= 5L),
      s"filtered search must return label-b neighbors: ${filtered.toSeq}")
    val unfiltered = Similarity.ivfTopKOf(
        corpus.select("vec_id", "embedding"), queries,
        k = 3, kCells = 2, nprobe = 2, iters = 2)
      .collect().map(_.getLong(2))
    assert(unfiltered.forall(_ <= 4L),
      s"planted geometry broken: unfiltered top-3 ${unfiltered.toSeq}")
    assert(unfiltered.toSet.intersect(filtered.map(_._1).toSet).isEmpty,
      "post-filtering the unfiltered top-k would have returned nothing — " +
        "the planted case no longer distinguishes the semantics")
  }

  test("knn join: recall vs brute truth; vectors never cross the rank exchange (E14)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    import org.apache.spark.sql.functions.col
    val k = 3
    val df = Similarity.knnJoinOf(t.embeddings, k, 8, 2, 3)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))) // (q_id, n_id)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // brute truth on the fixture corpus, driver-side
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (-cos(vecs(q), vecs(n)), n)).take(k).toSet
    }.toMap
    assert(got.size == vecs.size, s"every vector must get neighbors")
    val recall = got.map { case (q, ns) =>
      (ns intersect truth(q)).size.toDouble / k }.sum / got.size
    assert(recall >= 0.5, f"IVF knn-join recall@3 $recall%.3f < 0.5")
    // structural pin: the per-query rank exchange (hashpartitioning on
    // q_id) carries only (q_id, n_id, cos) — no vector arrays; the one
    // exchange allowed to carry vectors is the cell-keyed join
    df.collect() // finalize AQE
    def kids(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    def walk(n: SparkPlan): Seq[SparkPlan] = n +: kids(n).flatMap(walk)
    val rankExchanges = walk(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike
        if e.outputPartitioning.toString.contains("q_id") => e }
    assert(rankExchanges.nonEmpty, "expected a q_id rank exchange")
    rankExchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"vectors crossed the rank exchange: ${e.output.map(_.name)}")
    }
  }

  test("contrastive pairs: nearest same-label positive + k hardest different-label negatives (E16)") {
    import org.apache.spark.sql.functions.col
    val k = 5
    val rows = Similarity.contrastivePairsOf(t.embeddings,
      org.apache.spark.sql.functions.col("vec_id") < 10, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // driver-side replay over the raw fixture
    val all = t.embeddings.collect().map(r => (r.getLong(0),
      r.getInt(2).toLong,
      r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (q <- all.filter(_._1 < 10)) {
      val (qid, qlab, qv) = q
      val scored = all.filter(_._1 != qid)
        .map { case (id, lab, v) => (id, lab, cos(qv, v)) }
        .sortBy { case (id, _, c) => (-c, id) }
      val truePos = scored.filter(_._2 == qlab).head
      val trueNegs = scored.filter(_._2 != qlab).take(k)
      val mined = rows.filter(_._1 == qid).sortBy(_._4)
      assert(mined.length == k, s"anchor $qid mined ${mined.length} pairs")
      assert(mined.forall(_._2 == truePos._1),
        s"anchor $qid positive ${mined.head._2} != nearest same-label ${truePos._1}")
      assert(mined.map(_._5).toSeq == trueNegs.map(_._1),
        s"anchor $qid negatives diverge from the true hardest $k")
      // hard negatives by construction: every neg cos4 is recorded and
      // the positive really shares the label / negatives really don't
      val labOf = all.map(x => x._1 -> x._2).toMap
      assert(labOf(mined.head._2) == qlab)
      assert(mined.forall(m => labOf(m._5) != qlab))
    }
  }

  test("corpus-wide contrastive mining at full probe equals the per-anchor form for every vector (E16)") {
    import org.apache.spark.sql.functions.{col, lit}
    val k = 3
    val allDf = Similarity.contrastivePairsAll(t.embeddings, k,
      kCells = 8, nprobe = 8, iters = 3)
    val all = allDf.collect().map(_.toSeq).toSeq
    val anchored = Similarity.contrastivePairsOf(t.embeddings, lit(true), k)
      .collect().map(_.toSeq).toSeq
    assert(all == anchored,
      "full-probe corpus-wide mining must equal the broadcast-anchor form")
    // structural pin: the pos and neg branches share ONE rank exchange
    // (ReusedExchange) — the corpus-sized cell join computes once, not
    // twice (filtering by label before the window would split it)
    val plan = allDf.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"pos/neg branches must reuse the scored exchange:\n$plan")
    // every corpus vector with a same-label peer mines exactly k pairs
    val n = t.embeddings.count()
    assert(all.map(_.head).distinct.size == n.toInt)
    assert(all.size == n * k)
    // the grid sized from the counted corpus is the same contract at
    // the kCellsFor grid
    val sized = Similarity.contrastivePairsAll(t.embeddings, k,
      Similarity.kCellsFor(t.embeddings.count(), 64L), nprobe = 8,
      iters = 3)
    val manual = Similarity.contrastivePairsAll(t.embeddings, k,
      Similarity.kCellsFor(n, 64L), nprobe = 8, iters = 3)
    assert(sized.collect().map(_.toSeq).toSeq ==
      manual.collect().map(_.toSeq).toSeq)
  }

  test("kCellsFor: occupancy bounds and the 10x linear candidate volume of the SIZED knn join (E14)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // occupancy bounds: n/kCells never exceeds the target, and one
    // cell fewer would (the grid is as coarse as the target allows)
    for (n <- Seq(1L, 255L, 256L, 257L, 10000L, 1000000L);
         occ <- Seq(64L, 256L, 1024L)) {
      val cells = Similarity.kCellsFor(n, occ)
      assert(cells >= 1, s"n=$n occ=$occ")
      assert(n <= cells.toLong * occ,
        s"occupancy ${n.toDouble / cells} above target $occ at n=$n")
      assert(cells == 1 || n > (cells - 1L) * occ,
        s"grid finer than the target requires: $cells cells at n=$n occ=$occ")
    }
    assert(Similarity.kCellsFor(0L) == 1)
    intercept[IllegalArgumentException](Similarity.kCellsFor(10L, 0L))
    // the 10x probe, executable: deterministic synthetic corpora at n
    // and 10n, both sized by the SAME occupancy target — candidate
    // volume must grow ~linearly (the fixed-kCells form grows ~100x)
    def corpus(n: Int) = (0 until n).map { i =>
      val v = Array.tabulate(4) { d =>
        (graft.functions.Hashing.mix64(i.toLong * 4 + d) % 1000L).toFloat / 1000f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val occ = 50L
    val (n1, n2) = (300, 3000)
    val v1 = Similarity.knnJoinCandidateVolume(corpus(n1),
      Similarity.kCellsFor(n1, occ), nprobe = 2, iters = 3)
    val v2 = Similarity.knnJoinCandidateVolume(corpus(n2),
      Similarity.kCellsFor(n2, occ), nprobe = 2, iters = 3)
    info(s"sized candidate volume: n=$n1 -> $v1, n=$n2 -> $v2 " +
      f"(ratio ${v2.toDouble / v1}%.1f at 10x data)")
    // linear shape with headroom for Lloyd cell imbalance; quadratic
    // would be ~100x
    assert(v2.toDouble / v1 <= 30.0,
      s"candidate volume grew ${v2.toDouble / v1}x at 10x data — not linear")
    // absolute bound: nprobe * occupancy * n, with imbalance slack
    assert(v2 <= 2L * occ * n2 * 6L,
      s"volume $v2 exceeds the occupancy model's bound")
    // and the grid sized from the counted corpus IS the contract:
    // identical rows to knnJoinOf at the kCellsFor grid
    val small = corpus(120)
    val sized = Similarity.knnJoinOf(small, k = 3,
      Similarity.kCellsFor(small.count(), occ), nprobe = 2, iters = 3)
      .collect().toSeq
    val manual = Similarity.knnJoinOf(small, k = 3,
      Similarity.kCellsFor(120L, occ), nprobe = 2, iters = 3)
      .collect().toSeq
    assert(sized == manual)
  }

  test("indexed knn-join at full probe equals the brute knn with zero fit jobs (E14b)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_knn_idx")
    VectorIndex.fit(t.embeddings, dir)
    val fitJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).flatMap(Option(_))
        if (g.contains(VectorIndex.FitJobGroup)) { fitJobs.incrementAndGet(); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val k = 3
      // nprobe = every cell ⇒ the artifact join sees ALL candidates, so
      // the result must be exactly the brute unit-cosine knn
      val got = VectorIndex.knnJoinIndexed(spark, dir, k, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val vecs = t.embeddings
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val truth = vecs.keys.map { q =>
        q -> vecs.keys.filter(_ != q).toSeq
          .sortBy(n => (-cos(vecs(q), vecs(n)), n)).take(k).toSet
      }.toMap
      assert(got.size == vecs.size)
      assert(got == truth, "indexed knn-join at full probe != brute knn")
      Thread.sleep(300) // drain async listener events
      assert(fitJobs.get == 0,
        s"indexed knn-join launched ${fitJobs.get} fit jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("retrieval-quality census: planted rankings hit every metric branch exactly (E13)") {
    import spark.implicits._
    val k = 5
    val (w, pre) = Similarity.ndcgWeights(k)
    // q1: truth {a,b,c}, system finds b@1, miss@2, a@3 → 2 hits
    // q2: perfect ranking → recall 1000, ndcg 1000, mrr 1e6
    // q3: nothing found → all zeros
    val truth = Seq(
      (1L, 1L, 101L), (1L, 2L, 102L), (1L, 3L, 103L),
      (2L, 1L, 201L), (2L, 2L, 202L),
      (3L, 1L, 301L)).toDF("q_id", "rnk", "n_id")
    val sys = Seq(
      (1L, 1L, 102L), (1L, 2L, 999L), (1L, 3L, 101L),
      (2L, 1L, 201L), (2L, 2L, 202L),
      (3L, 1L, 888L)).toDF("q_id", "rnk", "n_id")
    val got = Similarity.retrievalQualityOf(sys, truth, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val exp = Seq(
      (1L, 2L, 2L * 1000 / 3, 1000000L, w(0) + w(2),
        (w(0) + w(2)) * 1000 / pre(2)),
      (2L, 2L, 1000L, 1000000L, w(0) + w(1), 1000L),
      (3L, 0L, 0L, 0L, 0L, 0L))
    assert(got == exp, s"\ngot=$got\nexp=$exp")
    // the full-arm form runs on the fixture corpus and bounds hold
    val full = Similarity.retrievalQuality(t).collect()
    assert(full.length == 10)
    assert(full.forall { r =>
      val rec = r.getLong(2); val nd = r.getLong(5)
      rec >= 0 && rec <= 1000 && nd >= 0 && nd <= 1000
    })
  }

  test("knnJoinSized threads targetOccupancy into the grid (E14b, not the fixed-kCells path)") {
    // the sizing rule itself — since round 20 the benched fixture runs
    // occupancy 128, where the gate SF's 500 vectors give 4 cells,
    // DIVERGENT from knn_join's fixed 8 (the r19 verdict's degeneracy
    // fix: at the old occupancy 64 both resolved to 8 at sf0.01 and
    // only this spec could catch a collapse into the fixed path)
    assert(Similarity.kCellsFor(500L, 128L) == 4)   // the sf0.01 gate value
    assert(Similarity.kCellsFor(2000L, 128L) == 16) // the sf0.1 bench shape
    assert(Similarity.kCellsFor(20000L, 128L) == 157) // sf1
    assert(Similarity.kCellsFor(500L, 64L) == 8)   // the old degenerate pin
    assert(Similarity.kCellsFor(200L, 64L) == 4)
    assert(Similarity.kCellsFor(1L, 256L) == 1)    // floor at one cell
    // threading: over a 200-row corpus, the grid sized from the count
    // must be row-identical to the explicit kCells=4 grid (same Lloyd
    // seed), and NOT to the fixed-8 grid the advisory warned about
    val corpus = t.embeddings.orderBy("vec_id").limit(200)
    val sized = Similarity.knnJoinOf(corpus, k = 3,
      kCells = Similarity.kCellsFor(corpus.count(), 64L), nprobe = 2,
      iters = 3).collect().toSeq
    val explicit4 = Similarity.knnJoinOf(corpus, k = 3, kCells = 4,
      nprobe = 2, iters = 3, blocks = 16).collect().toSeq
    assert(sized == explicit4,
      "kCellsFor(200, 64) over 200 rows must equal knnJoinOf(kCells=4)")
  }
}
