package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.batchStamp
import graft.sources.{Fixtures, Tables}

/** D11b — persisted SPAN-HASH index + incremental duplicated-span
  * coverage: the D7/[[VectorIndex]]/[[FrameIndex]] incremental-curation
  * discipline applied to [[Dedup.spanCoverageOf]]'s sub-document spans,
  * the shape an ExactSubstr pipeline (Lee et al. 2022) actually runs —
  * crawls arrive in batches, and re-extracting every settled document's
  * spans per batch would re-scan the corpus the index exists to avoid.
  *
  * Artifact: `spans/` — DISTINCT (h1, h2) span hashes per ingest batch,
  * partitioned by (ingest_batch, bk) with bk = h1 mod 64 (the bucket is
  * the partition-pruning handle; 16 B/row, never span text). Distinct
  * multiplicity is sufficient: a batch span is duplicated iff it occurs
  * ≥ 2 times in the batch (window census) OR ≥ 1 time settled
  * (existence probe) — settled counts beyond existence never change the
  * verdict for a batch document.
  *
  * Probe ([[coverageBatch]]): batch spans are extracted once
  * (row-local), censused within the batch by the [[Dedup.spanCoverageOf]]
  * window, and probed against the settled table by a LEFT SEMI join —
  * semi-join semantics are insensitive to row multiplicity, so a
  * compact/crash window that duplicates an index row can never double a
  * hit (no distinct needed where [[TextIndex.dedupBatch]]'s cross tier
  * carries one). Output ≡ the full-corpus [[Dedup.spanCoverageOf]]
  * restricted to batch documents (SpanIndexSpec pins the equality; the
  * DuckDB oracle replays it).
  *
  * Maintenance: [[appendBatch]] writes by dynamic partition overwrite
  * keyed (ingest_batch, bk) — a replayed micro-batch replaces exactly
  * its own partitions (the B19 idempotency rule); `excludeBatch` drops
  * the batch's own partition from the probe (the crash-replay guard:
  * a batch that indexed itself before crashing would otherwise count
  * every one of its spans as settled). Batch-compaction follows
  * [[TextIndex.compact]]'s staging discipline verbatim with natural key
  * (h1, h2) — the semi-join probe is already correct under the crash
  * window, so this index does not re-implement it.
  *
  * Reference anchor: SergiyStoyan/AwsKinesisConsumer parser.py:272-310
  * (the consumer never re-reads settled fragments on resume) — the same
  * never-rescan-settled contract, applied to span dedup. */
object SpanIndex {

  val BaseBatch = -1L
  val Buckets = 64

  /** Default span length, shared with the [[Dedup.spanCoverageOf]] query. */
  val K = 5

  private def distinctSpans(docs: DataFrame, k: Int): DataFrame =
    Dedup.spanHashes(Dedup.spanToks(docs), k)
      .select(col("h1"), col("h2"))
      .distinct()
      .withColumn("bk", pmod(col("h1"), lit(Buckets.toLong)))

  private def write(spans: DataFrame, dir: String, ingestBatch: Long,
      mode: String, dynamic: Boolean): Unit = {
    val base = spans.withColumn("ingest_batch", batchStamp(ingestBatch))
      .write.mode(mode)
    (if (dynamic) base.option("partitionOverwriteMode", "dynamic") else base)
      .partitionBy("ingest_batch", "bk")
      .parquet(s"$dir/spans")
  }

  /** Build over a settled corpus: one scan, distinct hash rows out. */
  def build(docs: DataFrame, dir: String, k: Int = K): Unit =
    write(distinctSpans(docs, k), dir, BaseBatch, "overwrite",
      dynamic = false)

  /** One micro-batch of index maintenance, idempotently (dynamic
    * partition overwrite keyed on the batch's own partitions). */
  def appendBatch(batch: DataFrame, batchId: Long, dir: String,
      k: Int = K): Unit =
    write(distinctSpans(batch, k), dir, batchId, "overwrite",
      dynamic = true)

  /** Duplicated-span coverage of `newDocs` against (batch ∪ settled
    * index) WITHOUT touching settled text — output ≡
    * [[Dedup.spanCoverageOf]] over the full corpus, restricted to the
    * batch's documents. */
  def coverageBatch(newDocs: DataFrame, dir: String, k: Int = K,
      excludeBatch: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = newDocs.sparkSession
    // ONE batch tokenization pass: spans (twice: census + settled
    // probe) and the token-count side all read this checkpointed
    // frame, and the probe plan contains no scan of the batch source
    val toks = Dedup.spanToks(newDocs).localCheckpoint(true)
    val grams = Dedup.spanHashes(toks, k)
    val wDup = Window.partitionBy("h1", "h2")
    val withinHits = grams
      .withColumn("n_occ", count(lit(1)).over(wDup))
      .filter(col("n_occ") >= 2L)
      .select(col("doc_id"), col("s"))
    val idx = {
      val df = spark.read.parquet(s"$dir/spans")
      excludeBatch.fold(df)(b => df.filter(col("ingest_batch") =!= batchStamp(b)))
    }
    // the bucket equality is implied by h1 equality — it exists purely
    // as the dynamic-partition-pruning handle on the index scan
    val settledHits = grams.as("x")
      .join(idx.as("y"),
        col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2") &&
          col("y.bk") === pmod(col("x.h1"), lit(Buckets.toLong)),
        "left_semi")
      .select(col("doc_id"), col("s"))
    // a span can be both within-batch duplicated and settled — each
    // (doc, offset) hit must enter the interval union exactly once
    val hits = withinHits.unionByName(settledHits).distinct()
    Dedup.spanCoverageFromHits(toks, hits, k)
  }

  /** Driver-harness index over the sf corpus: settled = doc_id % 8 ∉
    * {6, 7} as the base build, % 8 == 6 as an appended batch (replayed
    * once — the idempotency demonstration), % 8 == 7 left fresh for
    * [[coverageBatch]]. Built once per source generation
    * ([[graft.sources.Fixtures.once]]) so bench reruns reuse it. */
  def materialize(t: Tables, sfDir: String): String = {
    val spark = t.documents.sparkSession
    Fixtures.once(spark, s"span_index_v1_k${K}_b$Buckets", sfDir) { out =>
      val m = pmod(col("doc_id"), lit(8L))
      build(t.documents.filter(m =!= 6L && m =!= 7L), out)
      val batch = t.documents.filter(m === 6L)
      appendBatch(batch, 0L, out)
      appendBatch(batch, 0L, out) // replay: must be a no-op
    }
  }
}
