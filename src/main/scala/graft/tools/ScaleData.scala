package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Scale-probe data generator (round-6 verdict #8): synthesizes an
  * sf1-shaped `documents` + `embeddings` corpus from the driver's sf0.1
  * tables so the LSH/cluster family can be wall-clocked at 10× the
  * bench SF — the cheapest empirical check that the "no O(n²)
  * anywhere" claims hold off the toy scale.
  *
  * This data feeds PERFORMANCE probes only, never correctness gates —
  * the oracle queries keep reading the driver-owned testdata untouched.
  *
  * Replication must not inflate the near-dup structure: copying text or
  * vectors verbatim would make every row a cross-replica exact/near
  * duplicate, turning each original document into a clique of `factor`
  * copies — candidate-pair output would grow quadratically in the
  * replica count, which no real 10× corpus does. Instead each replica
  * is decorrelated deterministically:
  *   - documents: replica i Caesar-shifts letters by i (`translate`),
  *     preserving whitespace/length/token structure (so per-doc work is
  *     unchanged) while rewriting every shingle hash — replicas are
  *     unrelated documents to every dedup tier, and the WITHIN-replica
  *     duplicate structure is preserved exactly.
  *   - embeddings: replica i rotates the 64-dim vector by 6i positions
  *     — norm-preserving, and a rotation of an unstructured vector is
  *     uncorrelated with the original, so no cross-replica near-dup
  *     pairs appear. Rotations are injective only for i < 32 (6i mod 64
  *     repeats with period 32), so replicas 32+ additionally multiply
  *     by a seeded ±1 sign mask — still norm-preserving, and two
  *     replicas sharing a rotation but not a mask have expected
  *     cosine ≈ 0.
  *   - events: replica i shifts event_id by the id stride and ts by
  *     i·(span + 1 h) — per-user history grows ×factor (the long-
  *     retention shape), so windows, sessionization, and the range
  *     join see genuinely longer per-key timelines, not duplicated
  *     instants.
  *   - orders/lineitem: replica i shifts the shared o_orderkey /
  *     l_orderkey join key; customer/part/supplier keys stay — facts
  *     grow ×factor over fixed dims, the realistic warehouse shape
  *     (fan-outs stay linear).
  * Ids offset by i·10^9 keep replicas disjoint. The remaining dims copy
  * through unchanged.
  */
object ScaleData {
  val IdStride = 1000000000L

  private val Lower = ('a' to 'z').mkString
  private val Upper = ('A' to 'Z').mkString

  /** Replica i's alphabet mapping. i < 26: the original Caesar rotation
    * (bit-compatible with every committed sf1 artifact). i ≥ 26: a
    * seeded Fisher-Yates permutation of the alphabet — the rotation
    * space is exhausted, and wrapping would recreate exact duplicates
    * (a quadratic cross-replica clique per original document, the
    * precise artifact this decorrelation exists to prevent). The
    * permutation is a pure function of i, so the corpus is
    * reproducible run to run. */
  private def alphabetMap(i: Int): (String, String) = {
    def rot(s: String) = s.drop(i % 26) + s.take(i % 26)
    if (i < 26) (Lower + Upper, rot(Lower) + rot(Upper))
    else {
      val rnd = new scala.util.Random(0x9e3779b97f4a7c15L ^ i.toLong)
      val perm = rnd.shuffle(('a' to 'z').toVector).mkString
      (Lower + Upper, perm + perm.toUpperCase)
    }
  }

  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    // no two replicas may share a mapping: identical mappings applied
    // to the same source text are verbatim copies — a silent quadratic
    // near-dup clique per original. Checked exhaustively up front
    // (O(factor²) driver-side string compares) instead of trusted.
    val maps = (0 until factor).map(alphabetMap(_)._2)
    require(maps.distinct.length == maps.length,
      s"scaleDocuments factor $factor produced colliding alphabet " +
        "mappings — replicas would be exact duplicates")
    (0 until factor).map { i =>
      val (from, to) = alphabetMap(i)
      docs.select(
        (col("doc_id") + lit(i * IdStride)).as("doc_id"),
        (if (i == 0) col("text") else translate(col("text"), from, to))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** Replica i's sign mask. i < 32: identity (rotations alone are
    * injective there, and this keeps replicas 0-9 bit-compatible with
    * every committed sf1 artifact). i ≥ 32: a seeded ±1 pattern —
    * without it, replicas i and i+32 share the rotation and every
    * vector gains exact cross-replica copies (quadratic near-dup
    * cliques in the ANN/dedup_embed family at factor 100). */
  private def signMask(i: Int): Array[Float] =
    if (i < 32) Array.fill(64)(1.0f)
    else {
      val rnd = new scala.util.Random(0x2545f4914f6cdd1dL ^ i.toLong)
      Array.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    }

  def scaleEmbeddings(embs: DataFrame, factor: Int): DataFrame = {
    // same up-front distinctness contract as scaleDocuments: two
    // replicas with an identical (rotation, mask) transform would emit
    // verbatim vector copies
    val transforms = (0 until factor).map(i => ((i * 6) % 64, signMask(i).toSeq))
    require(transforms.distinct.length == transforms.length,
      s"scaleEmbeddings factor $factor produced colliding transforms — " +
        "replica vectors would be exact duplicates")
    (0 until factor).map { i =>
      val r = (i * 6) % 64
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      val masked =
        if (i < 32) rotated
        else zip_with(rotated, array(signMask(i).map(lit(_)).toSeq: _*),
          (x, m) => x * m)
      embs.select(
        (col("vec_id") + lit(i * IdStride)).as("vec_id"),
        masked.as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  /** Replica i: event_id shifted by the id stride, ts shifted by
    * i·spanNs — same users, ×factor longer per-user history. `events`
    * must already carry the epoch-long-ns ts contract
    * ([[graft.sources.Tables.normalizeEventsTs]]). */
  def scaleEvents(events: DataFrame, factor: Int, spanNs: Long): DataFrame =
    (0 until factor).map { i =>
      events.select(
        (col("event_id") + lit(i * IdStride)).as("event_id"),
        (col("ts") + lit(i * spanNs)).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)

  /** Replica i shifts the shared order join key on both fact tables;
    * dim keys (custkey/partkey/suppkey) stay, so fan-outs are linear. */
  def scaleByOrderKey(df: DataFrame, keyCol: String, factor: Int): DataFrame =
    (0 until factor).map { i =>
      df.withColumn(keyCol, col(keyCol) + lit(i * IdStride))
    }.reduce(_ unionByName _)

  private val AllTables = Seq("documents", "embeddings", "events",
    "orders", "lineitem", "region", "nation", "customer", "supplier",
    "part")

  /** args: [srcDir] [outDir] [factor] [tables]. `tables` is an optional
    * comma-separated subset (e.g. "documents,embeddings" for the 100×
    * deploy-tier slice) — [[graft.sources.Tables]] loads lazily per
    * name, so a partial dir serves isolated SPARK_GRAFT_BENCH_ONLY
    * probes of queries that touch only the written tables. */
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val tables: Set[String] = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(AllTables.toSet)
    val unknown = tables -- AllTables.toSet
    require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(",")}")
    val spark = graft.core.GraftSession.builder("graft-scaledata").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tables("documents"))
      scaleDocuments(spark.read.parquet(s"$src/documents.parquet"), factor)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/documents.parquet")
    if (tables("embeddings"))
      scaleEmbeddings(spark.read.parquet(s"$src/embeddings.parquet"), factor)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/embeddings.parquet")
    if (tables("events")) {
      val ev = graft.sources.Tables.normalizeEventsTs(
        spark.read.parquet(s"$src/events.parquet"))
      val tsRange = ev.agg(min("ts"), max("ts")).head()
      require(!tsRange.isNullAt(0),
        s"$src/events.parquet is empty — cannot derive the replica time span")
      val spanNs = tsRange.getLong(1) - tsRange.getLong(0) + 3600L * 1000000000L
      scaleEvents(ev, factor, spanNs)
        .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    if (tables("orders"))
      scaleByOrderKey(spark.read.parquet(s"$src/orders.parquet"),
          "o_orderkey", factor)
        .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    if (tables("lineitem"))
      scaleByOrderKey(spark.read.parquet(s"$src/lineitem.parquet"),
          "l_orderkey", factor)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/lineitem.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part")
         if tables(t))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    println(s"scaled $src -> $out x$factor (${tables.toSeq.sorted.mkString(",")})")
    spark.stop()
  }
}
