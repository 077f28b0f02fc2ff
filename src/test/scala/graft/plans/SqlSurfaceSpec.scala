package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.TextOps

/** The pure-SQL surface: a user who speaks only `spark.sql` gets the
  * same engine — temp views over the tables, graft native functions
  * callable from SQL (installed by `GraftExtensions`, which the shipped
  * session sets; nothing here registers them), identical results to the
  * DataFrame operators. */
class SqlSurfaceSpec extends SparkSpec {

  test("every graft function is installed, also in a newSession") {
    val names = VectorFunctions.builders.map(_._1)
    for (s <- Seq(spark, spark.newSession())) {
      val missing = names.filterNot(s.catalog.functionExists)
      assert(missing.isEmpty, s"not installed: $missing")
    }
  }

  test("native kernels are callable from SQL and match the operators") {
    t.documents.createOrReplaceTempView("documents_v")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_fingerprint(text) AS fp FROM documents_v ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOps = TextOps.fingerprint(t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaOps)
  }

  test("round-4 kernels (ngrams, scale, adc, vec_sum) work from SQL") {
    t.documents.createOrReplaceTempView("documents_v")
    t.embeddings.createOrReplaceTempView("embeddings_v")
    // word n-grams with an explicit width literal
    val g = spark.sql(
      """SELECT size(graft_word_ngrams(regexp_extract_all(lower(text),'[a-z]+', 0), 3)) AS n
         FROM documents_v LIMIT 50""").collect().map(_.getInt(0))
    assert(g.forall(_ >= 0) && g.exists(_ > 0))
    // scale + vec_sum as an aggregate over scaled vectors
    val s = spark.sql(
      """SELECT graft_vec_sum(graft_vec_scale(cast(embedding as array<double>), 2.0)) AS sv,
           graft_vec_sum(cast(embedding as array<double>)) AS v
         FROM embeddings_v""").collect().head
    val doubled = s.getSeq[Double](0)
    val base = s.getSeq[Double](1)
    doubled.zip(base).foreach { case (d, b) => assert(math.abs(d - 2 * b) < 1e-9) }
    // adc: table [0,1,2,3] per single subspace, code [2] -> 2.0
    val adc = spark.sql(
      "SELECT graft_pq_adc(array(0D,1D,2D,3D), array(2)) AS d").collect().head.getDouble(0)
    assert(adc == 2.0)
    // vec_sub + pq_assign round out the PQ kernel family from SQL
    val sub = spark.sql(
      "SELECT graft_vec_sub(array(3D,5D), array(1D,2D)) AS d").collect().head.getSeq[Double](0)
    assert(sub == Seq(2.0, 3.0))
    val assign = spark.sql(
      "SELECT graft_pq_assign(array(0.9D, 5.1D), array(0D,1D,5D,6D), 2) AS c")
      .collect().head.getSeq[Int](0)
    assert(assign == Seq(1, 0), s"got $assign") // 0.9→cell1 (1.0), 5.1→cell0 (5.0)
    // the scalar mixing primitive (bottom-k sampling's hash order)
    val mixed = spark.sql("SELECT graft_mix64(1) AS h").collect().head.getLong(0)
    assert(mixed == graft.functions.Hashing.mix64(1L))
    // the per-token hash primitive (the C10e sketch's plan-level hash)
    val hs = spark.sql("SELECT graft_hash_str('the') AS h").collect().head.getLong(0)
    assert(hs == graft.functions.Hashing.hashString("the"))
  }

  test("graft_pq_adc rejects malformed shapes loudly instead of misreading") {
    def failsNaming(sql: String): Unit = {
      val e = intercept[Throwable] { spark.sql(sql).collect() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("graft_pq_adc")),
        s"error does not name graft_pq_adc: $e")
    }
    // empty code array: previously ArithmeticException from a division
    // deep in eval with no function name
    failsNaming("SELECT graft_pq_adc(array(0D,1D), cast(array() as array<int>))")
    // table not a multiple of m: previously a silent wrong-slot read
    // returning a plausible distance
    failsNaming("SELECT graft_pq_adc(array(0D,1D,2D), array(0, 1))")
    // out-of-range code id (interpreted-path bounds check)
    failsNaming("SELECT graft_pq_adc(array(0D,1D,2D,3D), array(7))")
  }

  test("integer-literal arguments outside their range fail naming function and argument") {
    def failsWith(sql: String, parts: String*): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      val msgs = chain(e).flatMap(c => Option(c.getMessage))
      assert(msgs.exists(m => parts.forall(m.contains)),
        s"expected an error naming ${parts.mkString(", ")}: $msgs")
    }
    // a long tables count used to wrap to an int (2 buckets)
    failsWith("SELECT graft_lsh_buckets(array(1D, -1D), 4294967298, 3)",
      "graft_lsh_buckets", "tables")
    // k used to wrap to 1 and pass the [1,16] check
    failsWith("SELECT graft_bloom_contains(X'FF', 5L, 4294967297)",
      "graft_bloom_contains", "k")
    // 40 bits spill into the table tag in the high 32 bits
    failsWith("SELECT graft_lsh_buckets(array(1D, -1D), 1, 40)",
      "graft_lsh_buckets", "bits")
  }

  test("an analytics query expressed in SQL matches its DataFrame twin") {
    t.orders.createOrReplaceTempView("orders_v")
    val viaSql = spark.sql(
      """SELECT o_custkey, count(*) AS n,
           cast(sum(cast(round(o_totalprice*100) as bigint)) as bigint) AS sum_c
         FROM orders_v GROUP BY o_custkey ORDER BY o_custkey""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaDf = t.orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.cents(col("o_totalprice"))).as("sum_c"))
      .orderBy("o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaSql.sameElements(viaDf))
  }

  test("round-11 vector/text kernels (sq8, nfc) work from SQL") {
    // sq8 round-trip from SQL: dequant(encode(v)) stays within half a step
    val r = spark.sql(
      """SELECT graft_sq8_dequant(
           graft_sq8_encode(array(0.1D, 0.5D, 0.9D), array(0D, 0D, 0D), array(1D, 1D, 1D)),
           array(0D, 0D, 0D), array(1D, 1D, 1D)) AS dq""").collect().head.getSeq[Double](0)
    Seq(0.1, 0.5, 0.9).zip(r).foreach { case (x, d) =>
      assert(math.abs(x - d) <= 0.5 / 255.0 + 1e-12, s"$x -> $d")
    }
    // nfc from SQL: decomposed e + combining acute folds to one codepoint
    val n = spark.sql("SELECT length(graft_nfc('cafe\u0301')) AS l, graft_nfc('cafe\u0301') AS s")
      .collect().head
    assert(n.getInt(0) == 4 && n.getString(1) == "caf\u00e9")
  }

  test("round-11 sorted-contains kernel works from SQL and matches a linear probe") {
    // membership over a sorted literal — present, absent, boundary ends
    val rows = spark.sql(
      """SELECT graft_sorted_contains(array(-9L, 0L, 3L, 7L, 100L), x) AS hit
         FROM VALUES (-9L), (0L), (7L), (100L), (1L), (-10L), (101L) AS t(x)""")
      .collect().map(_.getBoolean(0))
    assert(rows.toSeq == Seq(true, true, true, true, false, false, false))
    // empty list never matches
    assert(!spark.sql("SELECT graft_sorted_contains(array(), 5L) AS h")
      .collect().head.getBoolean(0))
    // agreement with array_contains over a real hashed column
    t.documents.createOrReplaceTempView("documents_sc")
    val sorted = spark.sql(
      "SELECT sort_array(collect_list(xxhash64(text))) FROM documents_sc " +
      "WHERE doc_id % 7 = 0").collect().head.getSeq[Long](0)
    val lst = sorted.map(h => s"${h}L").mkString("array(", ", ", ")")
    val cmp = spark.sql(
      s"""SELECT graft_sorted_contains($lst, xxhash64(text)) AS bs,
           array_contains($lst, xxhash64(text)) AS lin
         FROM documents_sc""").collect()
    assert(cmp.forall(r => r.getBoolean(0) == r.getBoolean(1)))
    assert(cmp.exists(_.getBoolean(0)) && cmp.exists(!_.getBoolean(0)))
  }

  test("round-11 kernels (rep_stats, topk_freq) work from SQL") {
    t.documents.createOrReplaceTempView("documents_v")
    // rep_stats: counter layout position 1 = ceil(n_words / block_n)
    val blocks = spark.sql(
      """SELECT doc_id,
           element_at(graft_rep_stats(split(text, ' '), 8), 1) AS nb,
           size(split(text, ' ')) AS nw
         FROM documents_v ORDER BY doc_id""").collect()
    blocks.foreach { r =>
      assert(r.getLong(1) == (r.getInt(2) + 7L) / 8L, s"doc ${r.getLong(0)}")
    }
    // topk_freq from SQL equals the operator's exact-regime table
    val viaSql = spark.sql(
      """SELECT e.term AS term, e.cnt AS cnt FROM (
           SELECT explode(s) AS e FROM (
             SELECT graft_topk_freq(term, 1024) AS s FROM (
               SELECT explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS term
               FROM documents_v)))""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = t.documents
      .select(explode(graft.functions.words(col("text"))).as("term"))
      .groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == exact)
  }

  test("round-16 augmentation kernels (bmp_patches, bmp_flip, wav_gain) work from SQL") {
    // patches of the flipped image, end to end in SQL
    val tiles = spark.sql(
      """SELECT pt.py, pt.px, pt.sum_luma FROM (
           SELECT explode(graft_bmp_patches(
             graft_bmp_flip(graft_bmp_encode(0)), 4)) AS pt)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = {
      val arr = ImageKernels.bmpPatches(
        ImageKernels.bmpFlipH(ImageKernels.bmpEncode(0L)), 4)
      (0 until arr.numElements()).map { i =>
        val s = arr.getStruct(i, 5); (s.getLong(0), s.getLong(1), s.getLong(3))
      }
    }
    assert(tiles == direct)
    // gain through the SQL surface matches the kernel
    val g = spark.sql(
      """SELECT f.peak, f.sum_abs FROM (
           SELECT graft_wav_features(graft_wav_gain(
             graft_wav_encode(7, false), 1250)) AS f)""").collect()(0)
    val gd = AudioKernels.wavFeatures(
      AudioKernels.wavGain(AudioKernels.wavEncode(7L, silent = false), 1250))
    assert(g.getLong(0) == gd.getLong(2) && g.getLong(1) == gd.getLong(3))
    // the literal contract rejects a non-literal patch size loudly
    val err = intercept[Exception](spark.sql(
      "SELECT graft_bmp_patches(graft_bmp_encode(0), cast(rand()*4 as int))")
      .collect())
    assert(err.getMessage.toLowerCase.contains("literal"),
      s"non-literal p must fail with the literal contract: ${err.getMessage}")
  }

  test("round-17 NAL kernels (h264_encode, nal_units, nal_format, sps_dims) work from SQL") {
    // event 4 / user 3: Annex-B, 2 slices, Main profile, 112x62 cropped
    val r = spark.sql(
      """SELECT graft_nal_format(es) AS fmt,
           size(graft_nal_units(es)) AS n,
           graft_sps_dims(es).profile_idc AS p,
           graft_sps_dims(es).width AS w,
           graft_sps_dims(es).height AS h
         FROM (SELECT graft_h264_encode(4, 3) AS es)""").collect()(0)
    assert(r.getString(0) == "annexb")
    assert(r.getInt(1) == 4)
    assert(r.getLong(2) == 77L && r.getLong(3) == 112L && r.getLong(4) == 62L)
  }

  test("round-13 audio kernels (wav_encode, wav_features) work from SQL") {
    val r = spark.sql(
      """SELECT f.sample_rate, f.n_samples, f.peak, f.env_sig FROM (
           SELECT graft_wav_features(graft_wav_encode(7, false)) AS f)""")
      .collect()(0)
    val direct = graft.plans.AudioKernels.wavFeatures(
      graft.plans.AudioKernels.wavEncode(7L, silent = false))
    assert(r.getLong(0) == 8000L)
    assert(r.getLong(1) == 64L)
    assert(r.getLong(2) == direct.getLong(2))
    assert(r.getLong(3) == direct.getLong(5))
  }
}
