package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.{Fixtures, Tables}

/** F22b — persisted INVERTED INDEX + zero-rescan BM25 search: the
  * deployment shape of [[TextOps.bm25TopKOf]], following the
  * [[TextIndex]]/[[VectorIndex]]/[[SpanIndex]] incremental-curation
  * discipline. The inline F22 query re-tokenizes the corpus per search;
  * a retrieval deployment builds the posting lists ONCE and serves
  * every query from them — corpus text is never read again.
  *
  * Artifacts:
  *  - `postings/` — one row per (doc, term): (term, doc_id, tf, len),
  *    partitioned by (ingest_batch, bk) with bk = xxhash64(term) mod
  *    64. The term bucket is the partition-pruning handle: a q-term
  *    query reads at most q of 64 buckets per batch, and the term
  *    equality predicate pushes into the parquet scan within them.
  *    `len` is denormalized into the posting (Lucene's norms file,
  *    fused) so scoring needs no doc-table join.
  *  - `stats/` — one (n_docs, l_total) row per ingest batch,
  *    partitioned by ingest_batch; search re-aggregates the per-batch
  *    rows (batches are disjoint document sets, so the sums compose).
  *
  * Search reads the pruned postings, derives per-term df by counting
  * posting rows (exact — postings are unique per (doc, term)), and
  * runs [[TextOps.bm25Rank]] — the arithmetic-identical core the
  * inline query uses, so `search(corpus terms)` ≡ `bm25TopK(corpus)`
  * hash-exactly (spec-pinned AND replayed by the same DuckDB oracle).
  *
  * Maintenance: [[appendBatch]] writes by dynamic partition overwrite
  * keyed (ingest_batch, bk) — a replayed micro-batch replaces exactly
  * its own partitions (the B19 idempotency rule), and its stats row
  * overwrites its own ingest_batch partition likewise. Batches must be
  * disjoint document sets (the [[TextIndex]] contract).
  *
  * Scale: build is two exchanges of posting-sized rows (doc-term tf
  * agg, then the per-doc len window) — one-time, corpus-scale;
  * search is Θ(matched postings): q pruned bucket reads, a broadcast
  * of q idf rows + 1 stats row, one per-doc partial agg, TakeOrdered.
  * A 100 TB corpus's index is ~TB-scale; a query touches q/64 of it. */
object SearchIndex {

  val BaseBatch = -1L
  val Buckets = 64

  /** Posting rows for one document batch: tokenization identical to
    * [[TextOps.bm25TopKOf]] (shared `words`), so tf/len/df/n_docs all
    * agree with the inline query. Token-empty documents produce no
    * postings and do not count in stats — the inline per-doc agg has
    * the same property (explode drops them). */
  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("len", sum(col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .select(col("term"), col("doc_id"), col("tf"), col("len"),
        pmod(xxhash64(col("term")), lit(Buckets.toLong)).as("bk"))

  private def write(docs: DataFrame, dir: String, ingestBatch: Long,
      mode: String, dynamic: Boolean): Unit = {
    val posts = postings(docs).localCheckpoint()
    def w(df: DataFrame, table: String, parts: Seq[String]): Unit = {
      val base = df.withColumn("ingest_batch", batchStamp(ingestBatch))
        .write.mode(mode)
      (if (dynamic) base.option("partitionOverwriteMode", "dynamic") else base)
        .partitionBy(parts: _*)
        .parquet(s"$dir/$table")
    }
    w(posts, "postings", Seq("ingest_batch", "bk"))
    // per-batch corpus stats: distinct docs (= docs with >= 1 token)
    // and total token mass; sums compose across disjoint batches
    w(posts.groupBy("doc_id").agg(first(col("len")).as("len"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("l_total")),
      "stats", Seq("ingest_batch"))
  }

  /** Build over a settled corpus: one tokenization, posting rows out. */
  def build(docs: DataFrame, dir: String): Unit =
    write(docs, dir, BaseBatch, "overwrite", dynamic = false)

  /** One micro-batch of index maintenance, idempotently (dynamic
    * partition overwrite keyed on the batch's own partitions). */
  def appendBatch(batch: DataFrame, batchId: Long, dir: String): Unit =
    write(batch, dir, batchId, "overwrite", dynamic = true)

  /** BM25 top-k from the persisted index — NO corpus scan, no fit: the
    * postings read prunes to the query terms' buckets, and scoring is
    * [[TextOps.bm25Rank]] verbatim. Output ≡
    * [[TextOps.bm25TopKOf]](full corpus) with the same terms/k. */
  def search(spark: SparkSession, dir: String, queryTerms: Seq[String],
      k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "query terms must be non-empty and distinct")
    val bks = queryTerms
      .map(q => math.floorMod(xxhash64Literal(q), Buckets.toLong))
      .distinct
    val termTf = spark.read.parquet(s"$dir/postings")
      // bk first: the partition filter prunes directories before the
      // term predicate pushes into the surviving parquet scans
      .filter(col("bk").isin(bks: _*) && col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("len"), col("term"), col("tf"))
    val stats = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("l_total")).as("l_total"))
    TextOps.bm25Rank(termTf, stats, k)
  }

  /** Driver-side xxhash64 of a literal term, matching Spark's
    * xxhash64(col) (seed 42) — used to enumerate the pruned buckets. */
  private def xxhash64Literal(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L)
  }

  /** Driver-harness index over the sf corpus: settled = doc_id % 8 != 6
    * as the base build, % 8 == 6 appended as a batch and REPLAYED once
    * (the idempotency demonstration) — so the index covers the full
    * corpus and a search over it must equal the inline full-corpus
    * query. Built once per source generation
    * ([[graft.sources.Fixtures.once]]) so bench reruns reuse it. */
  def materialize(t: Tables, sfDir: String): String = {
    val spark = t.documents.sparkSession
    Fixtures.once(spark, s"search_index_v1_b$Buckets", sfDir) { out =>
      val m = pmod(col("doc_id"), lit(8L))
      build(t.documents.filter(m =!= 6L), out)
      val batch = t.documents.filter(m === 6L)
      appendBatch(batch, 0L, out)
      appendBatch(batch, 0L, out) // replay: must be a no-op
    }
  }
}
