package graft.operators

import graft.SparkSpec

class IvfSpec extends SparkSpec {

  test("ivf assigns every vector to exactly one of k centroids") {
    val rows = Similarity.ivfAssignVecs(t.embeddings, k = 8, iters = 2).collect()
    assert(rows.length == t.embeddings.count())
    val cids = rows.map(_.getLong(1)).toSet
    assert(cids.subsetOf((0L until 8L).toSet))
    assert(cids.size > 1, "degenerate clustering: everything in one cell")
    assert(rows.forall(_.getDouble(2) >= 0.0))
  }

  test("empty cluster keeps its previous centroid instead of zeroing") {
    import spark.implicits._
    // vec 0 and vec 1 are identical, so init centroids coincide and
    // cluster 1 goes empty on the first assignment. With the round-1
    // zeroing bug, centroid 1 became the origin and captured the
    // small-norm vec 2 (dist2 ~0.02); keeping the previous centroid
    // leaves vec 2 with the real cluster-0 mean.
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)),
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(0.1f, 0.1f))).toDF("vec_id", "embedding")
    val rows = Similarity.ivfAssignVecs(vecs, k = 2, iters = 1).collect()
    val vec2 = rows.find(_.getLong(0) == 2L).get
    assert(vec2.getLong(1) == 0L, "vec 2 captured by a phantom cell")
    assert(vec2.getDouble(2) > 0.5, "vec 2 distance says centroid was zeroed")
  }

  test("lloyd stops at the fixpoint, not the iteration budget") {
    // once assignments stop changing the recomputed means are identical
    // and the centroid shift is exactly zero — the loop must exit there
    val (model, rounds) = Similarity.ivfModel(t.embeddings, k = 8, maxIters = 50)
    info(s"converged after $rounds rounds")
    assert(rounds < 50)
    assert(model.length == 8)
  }

  test("iterations do not increase total distortion") {
    val d1 = Similarity.ivfAssignVecs(t.embeddings, k = 8, iters = 1)
      .collect().map(_.getDouble(2)).sum
    val d3 = Similarity.ivfAssignVecs(t.embeddings, k = 8, iters = 3)
      .collect().map(_.getDouble(2)).sum
    info(s"distortion iters=1: $d1, iters=3: $d3")
    assert(d3 <= d1 * 1.001)
  }

  test("vector-sum aggregate equals driver-side element-wise sums") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val data = Seq(
      (0L, Array(1.0, 2.0, 3.0)), (0L, Array(0.5, -1.0, 4.0)),
      (1L, Array(10.0, 0.0, -2.0)), (0L, Array(2.5, 2.0, 3.0)))
    val got = data.toDF("g", "v")
      .repartition(4) // force partial buffers + a merge across tasks
      .groupBy("g").agg(call_function("graft_vec_sum", col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expected = data.groupBy(_._1).map { case (g, rows) =>
      g -> rows.map(_._2).reduce((a, b) => a.zip(b).map { case (x, y) => x + y }).toSeq
    }
    expected.foreach { case (g, e) =>
      got(g).zip(e).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12, s"group $g") }
    }
  }

  test("vector-sum of all-empty-array groups survives the exchange as empty, not null") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a group whose rows are all zero-length arrays holds a zero-length
    // buffer; with the old empty-bytes encoding the shuffle-exchanged
    // partial deserialized back to null, so the same query answered
    // empty-array without a shuffle and NULL with one (round-4 advice)
    val rows = Seq((0L, Array.empty[Double]), (0L, Array.empty[Double]),
      (1L, Array(1.0, 2.0)))
    val got = rows.toDF("g", "v")
      .repartition(4, col("g")) // force serialized partials across tasks
      .groupBy("g").agg(call_function("graft_vec_sum", col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(got(0L).contains(Seq.empty[Double]),
      s"all-empty group collapsed to ${got(0L)} after the exchange")
    assert(got(1L).contains(Seq(1.0, 2.0)))
  }

  test("prefit index search equals the inline ivf+pq search row for row") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_eq")
    VectorIndex.fit(t.embeddings, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val inline = rows(Similarity.ivfPqTopK(t))
    val prefit = rows(VectorIndex.searchTopK(t.embeddings,
      Similarity.withNorm(t.embeddings).filter(col("vec_id") < 10), dir))
    // same params, same fit code, doubles round-tripped through parquet
    // bit-exactly → identical results, not merely similar recall
    assert(prefit == inline)
  }

  test("prefit search launches zero fit jobs and a fit-independent job count") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).flatMap(Option(_))
        groups.add(g.getOrElse(""))
      }
    }
    // listener delivery is async: poll until the seen-job count is
    // stable for a while before reading it
    def settle(): Seq[String] = {
      var last = -1
      var same = 0
      while (same < 5) {
        Thread.sleep(100)
        val n = groups.size()
        if (n == last) same += 1 else { same = 0; last = n }
      }
      import scala.jdk.CollectionConverters._
      groups.asScala.toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // two indexes fit at different Lloyd budgets: fit cost scales
      // with iters, search cost must NOT — that asymmetry IS the
      // fit/search split
      val dirA = tempDir("graft_idx_a")
      val dirB = tempDir("graft_idx_b")
      VectorIndex.fit(t.embeddings, dirA, iters = 1)
      VectorIndex.fit(t.embeddings, dirB, iters = 5)
      val fitJobs = settle()
      assert(fitJobs.count(_ == VectorIndex.FitJobGroup) > 0,
        "fit jobs must carry the fit job group")
      val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 10)
      groups.clear()
      VectorIndex.searchTopK(t.embeddings, q, dirA)
        .write.format("noop").mode("overwrite").save()
      val searchA = settle()
      groups.clear()
      VectorIndex.searchTopK(t.embeddings, q, dirB)
        .write.format("noop").mode("overwrite").save()
      val searchB = settle()
      assert(searchA.nonEmpty && searchB.nonEmpty)
      // ZERO fit-tagged jobs in the search path
      assert(!searchA.exists(_ == VectorIndex.FitJobGroup),
        s"search launched fit jobs: $searchA")
      assert(!searchB.exists(_ == VectorIndex.FitJobGroup),
        s"search launched fit jobs: $searchB")
      // job count independent of the fit budget (iters=1 vs 5), and a
      // small constant — not a hidden re-fit
      info(s"search job counts: A=${searchA.size}, B=${searchB.size}")
      assert(searchA.size == searchB.size,
        s"search job count tracks fit iters: ${searchA.size} vs ${searchB.size}")
      // 18 observed: 2 model-table collects, the query collect, and the
      // AQE stage jobs of the routed scan + window + 2-join re-rank —
      // each a constant of the PLAN, none scaling with the fit budget
      assert(searchA.size <= 24, s"search path launched ${searchA.size} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("prefit exact-tier ivf search reaches recall >= 0.6 with zero fit jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_ivf")
    VectorIndex.fit(t.embeddings, dir)
    val fitGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).flatMap(Option(_))
        if (g.contains(VectorIndex.FitJobGroup)) fitGroups.add(g.get)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 10)
      val got = VectorIndex.searchIvfTopK(q, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val brute = Similarity.annBruteTopK(t).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got.nonEmpty)
      val recall = got.intersect(brute).size.toDouble / brute.size
      info(s"prefit ivf exact-tier recall@5 = $recall")
      assert(recall >= 0.6)
      Thread.sleep(1000) // let async listener events drain
      assert(fitGroups.isEmpty, s"exact-tier search launched fit jobs: $fitGroups")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("exact-tier search scans only the pruned vectors table, never the corpus") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_exact_plan")
    VectorIndex.fit(t.embeddings, dir)
    val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 3)
    val df = VectorIndex.searchIvfTopK(q, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the round-5 flaw: the exact tier joined the FULL unpartitioned
    // embeddings table on n_id — a corpus scan + corpus-wide shuffle
    // per query batch. Now the ranking side reads the artifact's
    // cell-partitioned vectors table; the embeddings table may appear
    // ONLY as the query frame's own scan, which must carry the
    // query-sized pushdown (vec_id < 3) — never an unfiltered corpus
    // read.
    val scans = plan.split("\n").filter(l =>
      l.contains("FileScan") || l.contains("BatchScan"))
    val corpusScans = scans.filter(_.contains("embeddings"))
    assert(corpusScans.forall(_.contains("LessThan(vec_id,3)")),
      s"exact tier scans the corpus beyond the query rows:\n${corpusScans.mkString("\n")}")
    val dataScans = scans.filterNot(_.contains("embeddings"))
    assert(dataScans.exists(_.contains("vectors")),
      s"no vectors-table scan in exact tier:\n${scans.mkString("\n")}")
    val vecScan = dataScans.find(_.contains("vectors")).get
    assert(vecScan.matches(".*PartitionFilters: \\[.*cell.*"),
      s"vectors scan not partition-pruned:\n$vecScan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic scan in:\n$plan")
  }

  test("compaction folds streamed batches to one directory per cell, search-identically") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_compact")
    val first = t.embeddings.filter(col("vec_id") < 300)
    VectorIndex.fit(first, dir)
    // three "micro-batches" land as three ingest_batch directories
    Seq((300L, 360L, 0L), (360L, 420L, 1L), (420L, 500L, 2L)).foreach {
      case (lo, hi, b) =>
        VectorIndex.appendBatch(
          t.embeddings.filter(col("vec_id") >= lo && col("vec_id") < hi), b, dir)
    }
    def batchDirs(table: String): Set[String] = {
      val root = new org.apache.hadoop.fs.Path(s"$dir/$table")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("ingest_batch=")).toSet
    }
    assert(batchDirs("codes") ==
      Set("ingest_batch=-1", "ingest_batch=0", "ingest_batch=1", "ingest_batch=2"))
    val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 10)
    def results() = VectorIndex.searchTopK(t.embeddings, q, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    def exactResults() = VectorIndex.searchIvfTopK(q, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val before = results()
    val beforeExact = exactResults()
    VectorIndex.compact(spark, dir)
    // one directory per table level: only the base batch remains
    assert(batchDirs("codes") == Set("ingest_batch=-1"),
      s"codes not folded: ${batchDirs("codes")}")
    assert(batchDirs("vectors") == Set("ingest_batch=-1"),
      s"vectors not folded: ${batchDirs("vectors")}")
    val n = spark.read.parquet(s"$dir/codes").count()
    assert(n == t.embeddings.count(), s"compaction lost rows: $n")
    assert(results() == before, "compaction changed searchTopK results")
    assert(exactResults() == beforeExact, "compaction changed exact-tier results")
    // a replayed compact is a no-op
    VectorIndex.compact(spark, dir)
    assert(batchDirs("codes") == Set("ingest_batch=-1"))
    assert(spark.read.parquet(s"$dir/codes").count() == n)
    assert(results() == before, "replayed compaction changed results")
  }

  test("crashed compact leaves the in-progress marker; the re-run clears it search-identically") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_crash")
    VectorIndex.fit(t.embeddings.filter(col("vec_id") < 350), dir)
    Seq((350L, 420L, 0L), (420L, 500L, 1L)).foreach { case (lo, hi, b) =>
      VectorIndex.appendBatch(
        t.embeddings.filter(col("vec_id") >= lo && col("vec_id") < hi), b, dir)
    }
    val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 10)
    def results() = VectorIndex.searchTopK(t.embeddings, q, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val before = results()
    assert(!VectorIndex.compactInProgress(spark, dir))
    // the crash window: fold done for the first table, no sweep yet
    intercept[IllegalStateException] {
      VectorIndex.compactImpl(spark, dir, Long.MaxValue, crashBeforeSweep = true)
    }
    assert(VectorIndex.compactInProgress(spark, dir),
      "marker must survive a compact that died before its sweep")
    // searches still run (and warn). Inside the window duplicated
    // candidate ids ARE visible — the documented degradation the marker
    // exists to flag — so assert the stable invariants instead of full
    // equality: k rows per query, and rank-1 unchanged (a duplicate can
    // only repeat an id, never beat the true max).
    val during = results()
    assert(during.size == before.size, "row count changed in crash window")
    assert(during.filter(_._2 == 1L) == before.filter(_._2 == 1L),
      "rank-1 results changed inside the crash window")
    // the re-run completes the fold, sweeps, and clears the marker
    VectorIndex.compact(spark, dir)
    assert(!VectorIndex.compactInProgress(spark, dir),
      "marker must clear after a completed compact")
    assert(results() == before, "re-run compact changed search results")
    assert(spark.read.parquet(s"$dir/codes").count() == t.embeddings.count())
  }

  test("drift report flags shifted-distribution appends, not in-distribution ones") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tempDir("graft_idx_drift")
    VectorIndex.fit(t.embeddings.filter(col("vec_id") < 400), dir)
    // batch 0: in-distribution — more rows drawn from the same corpus
    VectorIndex.appendBatch(
      t.embeddings.filter(col("vec_id") >= 400), 0L, dir)
    // batch 1: drifted — a new MODE the fit never saw: every vector
    // points the same direction (plus a small per-row wobble), so the
    // whole batch routes into one cell and occupancy skew pins kCells
    val drifted = t.embeddings.filter(col("vec_id") >= 400)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(sequence(1, 64), i -> cast(1.0 + 0.001 * pmod(vec_id * i, 7) as float))"
        ).as("embedding"))
    VectorIndex.appendBatch(drifted, 1L, dir)
    val rep = VectorIndex.driftReport(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(5), r.getDouble(4))).toMap
    info(s"(res2_ratio, occ_skew): base=${rep(-1L)}, in-dist=${rep(0L)}, drifted=${rep(1L)}")
    assert(math.abs(rep(-1L)._1 - 1.0) < 1e-9, "baseline must self-report ratio 1.0")
    // in-distribution: near-baseline residuals, near-baseline routing
    assert(rep(0L)._1 < 1.5, s"in-distribution append flagged as drift: ${rep(0L)}")
    assert(rep(0L)._2 < rep(-1L)._2 * 2.0,
      s"in-distribution append flagged as skewed: ${rep(0L)._2} vs base ${rep(-1L)._2}")
    // drifted: the one-mode batch must stand clearly apart on routing
    assert(rep(1L)._2 > 6.0 && rep(1L)._2 > rep(0L)._2 * 2.0,
      s"drifted append not separated: occ_skew ${rep(1L)._2} vs in-dist ${rep(0L)._2}")
  }

  test("rebalance refits from the artifact's own vectors and heals drift skew") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_rebal")
    VectorIndex.fit(t.embeddings.filter(col("vec_id") < 400), dir)
    VectorIndex.appendBatch(t.embeddings.filter(col("vec_id") >= 400), 0L, dir)
    // the same one-mode drifted batch the drift-report test uses: under
    // the original model it routes entirely into one cell
    val drifted = t.embeddings.filter(col("vec_id") >= 400)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(sequence(1, 64), i -> cast(1.0 + 0.001 * pmod(vec_id * i, 7) as float))"
        ).as("embedding"))
    VectorIndex.appendBatch(drifted, 1L, dir)
    val skewBefore = VectorIndex.driftReport(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val oldCoarse = VectorIndex.loadModel(spark, dir)._1.map(_.toSeq).toSeq
    val total = spark.read.parquet(s"$dir/codes").count()

    VectorIndex.rebalance(spark, dir)

    // every ingest partition folded into the fresh base generation
    def dirs(table: String): Set[String] = {
      val root = new org.apache.hadoop.fs.Path(s"$dir/$table")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("ingest_batch=")).toSet
    }
    assert(dirs("codes") == Set("ingest_batch=-1"))
    assert(dirs("vectors") == Set("ingest_batch=-1"))
    assert(spark.read.parquet(s"$dir/codes").count() == total, "rows lost")
    assert(!new java.io.File(s"$dir/rebalance_snapshot").exists(),
      "snapshot not cleaned up")
    // the model generation rotated: the refit saw the drifted mode
    val newCoarse = VectorIndex.loadModel(spark, dir)._1.map(_.toSeq).toSeq
    assert(newCoarse != oldCoarse, "rebalance did not refit the models")
    // the healed baseline routes the post-drift corpus far more evenly
    // than the old model routed the drifted batch
    val baseSkew = VectorIndex.driftReport(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
      .apply(VectorIndex.BaseBatch)
    assert(baseSkew < skewBefore(1L) / 2.0,
      s"rebalance did not heal routing skew: $baseSkew vs ${skewBefore(1L)}")
    // search contract intact against the new generation (corpus must
    // cover the appended ids for the exact re-rank)
    val corpus = t.embeddings.select("vec_id", "embedding").unionByName(
      drifted.select(col("vec_id"), col("embedding").cast("array<float>")))
    val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 3)
    val rows = VectorIndex.searchTopK(corpus, q, dir).collect()
    assert(rows.length == 3 * 5, s"searchTopK returned ${rows.length} rows")
  }

  test("loadModel revalidates against the artifact's version stamp") {
    import org.apache.spark.sql.functions.col
    // simulate the deployment: a long-lived search JVM caches the
    // model, an out-of-process refit rewrites the artifact — the next
    // load must pick up the new generation, not serve the stale cache
    val dirA = tempDir("graft_idx_vA")
    val dirB = tempDir("graft_idx_vB")
    // both slices keep vec_ids 0..k-1 (the deterministic-init contract)
    // but differ beyond them, so the two fits produce different models
    VectorIndex.fit(t.embeddings.filter(col("vec_id") < 100), dirA, iters = 1)
    VectorIndex.fit(t.embeddings.filter(col("vec_id") < 300), dirB, iters = 1)
    val staleA = VectorIndex.loadModel(spark, dirA)._1
    // an external process replaces dirA's artifact with dirB's content
    // (bypassing this JVM's fit-side cache invalidation entirely)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dirA).getFileSystem(conf)
    for (f <- Seq("centroids", "codebook", "_MODEL_VERSION")) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$dirA/$f"), true)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$dirB/$f"),
        fs, new org.apache.hadoop.fs.Path(s"$dirA/$f"),
        false, conf)
    }
    val fresh = VectorIndex.loadModel(spark, dirA)._1
    val expect = VectorIndex.loadModel(spark, dirB)._1
    assert(fresh.map(_.toSeq).toSeq == expect.map(_.toSeq).toSeq,
      "stale cached model served after an out-of-process refit")
    assert(fresh.map(_.toSeq).toSeq != staleA.map(_.toSeq).toSeq)
  }

  test("model cache is LRU-bounded") {
    assert(VectorIndex.modelCacheSize <= VectorIndex.ModelCacheBound,
      s"model cache grew past the bound: ${VectorIndex.modelCacheSize}")
  }

  test("adc-only prefit search scans only the codes table") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_adc")
    VectorIndex.fit(t.embeddings, dir)
    val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 3)
    val df = VectorIndex.searchAdc(q, dir)
    val out = df.collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) <= 5L))
    // the model tables are driver-held constants and there is no exact
    // re-rank: every file scan in the plan reads the codes table, never
    // the raw embeddings or the model tables
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.split("\n").filter(l =>
      l.contains("FileScan") || l.contains("BatchScan"))
    assert(scans.nonEmpty, s"no file scans found in:\n$plan")
    assert(scans.forall(_.contains("codes")),
      s"non-codes scan in adc search:\n${scans.mkString("\n")}")
    assert(!plan.contains("embeddings.parquet") &&
      !plan.contains("centroids") && !plan.contains("codebook"),
      s"adc search reads beyond the codes table:\n$plan")
  }

  test("incremental append joins the index without refit and is searchable") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_app")
    val first = t.embeddings.filter(col("vec_id") < 250)
    val rest = t.embeddings.filter(col("vec_id") >= 250)
    VectorIndex.fit(first, dir)
    VectorIndex.append(rest, dir)
    // the codes table now covers the whole corpus
    val nCodes = spark.read.parquet(s"$dir/codes").count()
    assert(nCodes == t.embeddings.count(), s"codes rows $nCodes")
    // external copies of APPENDED vectors must find their origin at
    // cos 1.0 rank 1 — the appended rows are routed into the right
    // cells and ranked like originally-indexed rows
    val appendedIds = rest.select("vec_id").limit(3).collect().map(_.getLong(0))
    val queries = Similarity.withNorm(t.embeddings)
      .filter(col("vec_id").isin(appendedIds: _*))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val top1 = VectorIndex.searchTopK(t.embeddings, queries, dir).collect()
      .filter(_.getLong(1) == 1L)
      .map(r => (r.getLong(0) - 1000000L, r.getLong(2), r.getDouble(3)))
    assert(top1.length == appendedIds.length)
    top1.foreach { case (orig, nId, cos) =>
      assert(nId == orig, s"appended query $orig found $nId first")
      assert(cos == 1.0)
    }
  }

  test("prefit search prunes the codes scan to the probed cells") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_idx_prune")
    VectorIndex.fit(t.embeddings, dir)
    val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 3)
    val df = VectorIndex.searchTopK(t.embeddings, q, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the cell-partitioned codes table must be read through partition
    // pruning (the physical nprobe/kCells promise), not a full scan
    val codesScan = plan.split("\n").find(l =>
      l.contains("FileScan") && l.contains("codes"))
    assert(codesScan.isDefined, s"no codes scan found in:\n$plan")
    assert(codesScan.get.contains("PartitionFilters: [cell") ||
      codesScan.get.contains("PartitionFilters: [isnotnull(cell") ||
      codesScan.get.matches(".*PartitionFilters: \\[.*cell.*"),
      s"codes scan not partition-pruned:\n${codesScan.get}")
    // the routed scan joins on the cell key with the query side
    // broadcast — never a quadratic operator
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic scan in:\n$plan")
  }

  test("ivf assignment scans the corpus exactly twice end to end") {
    // one pass materializes the Lloyd working set (persisted across
    // iterations), one pass computes the returned assignment — the
    // orderBy's range-sampling job must reuse the barrier exchange, not
    // re-run the scan+assign subtree (r3 verdict #7: the unpersisted
    // plan paid it twice)
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("ivf_scan_passes")
    val base = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j) % 17).toFloat)))
    val rdd = spark.sparkContext.parallelize(base, 4)
      .mapPartitions { it => acc.add(1L); it }
    val embeddings = rdd.toDF("vec_id", "embedding")
    Similarity.ivfAssignVecs(embeddings, k = 4, iters = 3)
      .write.format("noop").mode("overwrite").save()
    val passes = acc.value / 4 // 4 partitions per full pass
    info(s"corpus passes = $passes")
    assert(passes == 2L, s"expected 2 corpus passes, saw $passes")
  }

  test("run registration is idempotent per checkpoint and fails on a namespace collision") {
    val dir = tempDir("graft_idx_runs")
    val runId = VectorIndex.streamRunId("/tmp/ckpt_a")
    // first registration claims the namespace; a restart of the same
    // stream (same checkpoint) re-registers without error
    VectorIndex.registerRun(spark, dir, runId, "/tmp/ckpt_a")
    VectorIndex.registerRun(spark, dir, runId, "/tmp/ckpt_a")
    // a DIFFERENT checkpoint that hashes to the same 23-bit namespace
    // must fail loudly instead of silently overwriting the first
    // stream's batches
    val e = intercept[IllegalArgumentException] {
      VectorIndex.registerRun(spark, dir, runId, "/tmp/ckpt_b")
    }
    assert(e.getMessage.contains("collision"))
    // disjoint namespaces coexist
    VectorIndex.registerRun(spark, dir,
      VectorIndex.streamRunId("/tmp/ckpt_b"), "/tmp/ckpt_b")
  }

  test("a marker filled while the loser is retrying resolves to normal arbitration") {
    // the race-window case: the create winner has made the file but not
    // yet written its checkpoint path when the loser starts reading.
    // The loser's retry loop must pick up the late payload and arbitrate
    // normally — succeed for the same checkpoint, collision for another —
    // rather than declaring the registration corrupt.
    val dir = tempDir("graft_idx_runs3")
    val runId = VectorIndex.streamRunId("/tmp/ckpt_race")
    val marker = java.nio.file.Paths.get(
      s"$dir/_runs/run_${java.lang.Long.toHexString(runId >>> 40)}")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker, Array.emptyByteArray) // created, unwritten
    val writer = new Thread(() => {
      Thread.sleep(200L)
      java.nio.file.Files.write(marker, "/tmp/ckpt_race".getBytes("UTF-8"))
    })
    writer.start()
    try VectorIndex.registerRun(spark, dir, runId, "/tmp/ckpt_race") // must not throw
    finally writer.join()
  }

  test("an empty run marker reports corrupt registration, not a collision") {
    // a registering stream that dies between create and write leaves a
    // 0-byte owner file; without the dedicated check the TRUE owner's
    // restart would forever read as a collision against ''
    val dir = tempDir("graft_idx_runs2")
    val runId = VectorIndex.streamRunId("/tmp/ckpt_c")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/_runs"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$dir/_runs/run_${java.lang.Long.toHexString(runId >>> 40)}"),
      Array.emptyByteArray)
    val e = intercept[IllegalArgumentException] {
      VectorIndex.registerRun(spark, dir, runId, "/tmp/ckpt_c")
    }
    assert(e.getMessage.contains("corrupt") &&
      e.getMessage.contains("delete the marker"),
      s"wrong diagnosis for an empty owner file: ${e.getMessage}")
  }

  test("nearDupBatch at full probe equals the exact cross-slice pair set") {
    import org.apache.spark.sql.functions._
    val dir = VectorIndex.materialize(t, sfDir)
    val batch = Similarity.withNorm(t.embeddings)
      .filter(pmod(col("vec_id"), lit(8L)) === 7L)
    // nprobe = kCells makes the exact-tier search exhaustive, so the
    // gate must find EXACTLY the brute-force (batch, settled) pairs at
    // the threshold — the incremental probe loses nothing but probe
    // recall, and here probe recall is 1
    val got = VectorIndex.nearDupBatch(batch, dir, tau = 0.4, k = 1000,
        nprobe = 8,
        excludeNeighbor = Some(pmod(col("n_id"), lit(8L)) === 7L))
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.embeddingPairs(t, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 8 == 7) != (b % 8 == 7) }
      .map { case (a, b) => if (a % 8 == 7) (a, b) else (b, a) }.toSet
    assert(want.nonEmpty, "fixture must contain cross-slice near-dups")
    assert(got == want,
      s"gate diverged from brute force: extra=${got -- want} missing=${want -- got}")
  }

  test("nearDupBatch shuffles the cell join above the broadcast threshold; searchIvfTopK pins its broadcast") {
    // round-7 verdict #1: ivfExactSearch force-broadcast the probe side,
    // which is WRONG for nearDupBatch's sf-proportional ingest batch (a
    // 10M-vector ingest is a ~16 GB broadcast — executor OOM at exactly
    // the scale the gate exists for). The size contract is now the
    // caller's: searchIvfTopK vouches query-sized and keeps the hint;
    // nearDupBatch lets Catalyst/AQE size-gate. Pin BOTH regimes (the
    // C12b pattern): results identical either way, and with broadcasts
    // disabled the gate's cell join must plan a shuffle join while the
    // query-sized tier still plans its hinted broadcast.
    import org.apache.spark.sql.functions._
    val dir = VectorIndex.materialize(t, sfDir)
    val batch = Similarity.withNorm(t.embeddings)
      .filter(pmod(col("vec_id"), lit(8L)) === 7L)
    val guard = Some(pmod(col("n_id"), lit(8L)) === 7L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // the collect in rows() already finalized the adaptive plan
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // regime 1 (defaults): the small test batch broadcasts via AQE's
    // own size gate — the correct below-threshold plan
    val below = rows(VectorIndex.nearDupBatch(batch, dir, excludeNeighbor = guard))
    // regime 2: no broadcast candidates at all — the 100 TB shape
    val savedA = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // getOption, not get(key, ""): the bytes-typed conf entry rejects the
    // empty-string default at read time (INVALID_CONF_VALUE.TYPE_MISMATCH)
    val savedB = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val gate = VectorIndex.nearDupBatch(batch, dir, excludeNeighbor = guard)
      val above = rows(gate) // also finalizes the adaptive plan
      val gatePlan = finalPlan(gate)
      assert(!gatePlan.contains("BroadcastHashJoin"),
        s"nearDupBatch still forces a broadcast of the ingest batch:\n$gatePlan")
      assert(gatePlan.contains("SortMergeJoin") ||
        gatePlan.contains("ShuffledHashJoin"),
        s"no shuffle join in the above-threshold gate plan:\n$gatePlan")
      assert(gatePlan.split("\n").exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("cell")),
        s"cell join not shuffled on cell:\n$gatePlan")
      assert(above == below,
        "join regime changed nearDupBatch results — the re-rank must tolerate both layouts")
      // the query-sized tier's hint must survive: a handful of lookups
      // should never pay a corpus-wide exchange just because the session
      // disabled automatic broadcasts
      val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 3)
      val topk = VectorIndex.searchIvfTopK(q, dir)
      topk.collect() // finalize the adaptive plan
      val topkPlan = finalPlan(topk)
      assert(topkPlan.contains("BroadcastHashJoin"),
        s"searchIvfTopK lost its query-side broadcast hint:\n$topkPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedA)
      savedB.fold(
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
    }
  }

  test("nearDupBatch's exclusion guard keeps indexed batch rows out of the ranks") {
    import org.apache.spark.sql.functions._
    val dir = VectorIndex.materialize(t, sfDir)
    val batch = Similarity.withNorm(t.embeddings)
      .filter(pmod(col("vec_id"), lit(8L)) === 7L)
    val guarded = VectorIndex.nearDupBatch(batch, dir,
      excludeNeighbor = Some(pmod(col("n_id"), lit(8L)) === 7L)).collect()
    assert(guarded.forall(_.getLong(2) % 8 != 7),
      "excluded slice leaked into the neighbor side")
    // without the guard the batch's own indexed rows take rank slots:
    // every batch vector's nearest neighbor set changes (its own copy
    // is NOT emitted — the q_id <> n_id filter — but near-identical
    // batch rows shadow settled ones), so the guard is load-bearing
    // whenever the probed index already contains the batch
    val unguarded = VectorIndex.nearDupBatch(batch, dir).collect()
    assert(unguarded.exists(_.getLong(2) % 8 == 7),
      "fixture too weak: unguarded gate never surfaced a batch row")
  }
}
