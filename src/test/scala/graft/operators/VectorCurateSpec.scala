package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The vector-side streaming curation gate ([[VectorIndex.curateStream]]):
  * streamed micro-batches must be indistinguishable from the sequential
  * batch-mode gate, replays of an already-indexed batch must be
  * bit-identical (the excludeBatch guard), and the index must absorb
  * keepers and dropped vectors alike — the E-side twin of
  * TextIndexSpec's curation contract. */
class VectorCurateSpec extends SparkSpec {

  private def freshDir(): String =
    tempDir("graft-vec-curate")

  // settled corpus keeps vec_ids 0..439 (fit's deterministic init needs
  // the k lowest ids present); the "new ingest" is the 440..499 tail,
  // plus planted duplicates with ids far outside the corpus space:
  //   9000 — exact copy of settled vector 0 (must drop: settled wins)
  //   9001/9002 — two copies of vector 470's embedding inside the FIRST
  //   half (a within-batch near-dup pair; 470 itself arrives later)
  private def emb: DataFrame = t.embeddings.select("vec_id", "embedding")
  private def reId(src: Long, to: Long): DataFrame =
    emb.filter(col("vec_id") === src)
      .select(lit(to).as("vec_id"), col("embedding"))
  private def settled: DataFrame = emb.filter(col("vec_id") < 440L)
  private def h1: DataFrame =
    emb.filter(col("vec_id") >= 440L && col("vec_id") < 470L)
      .unionByName(reId(470L, 9001L)).unionByName(reId(470L, 9002L))
  private def h2: DataFrame =
    emb.filter(col("vec_id") >= 470L).unionByName(reId(0L, 9000L))

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  test("curateStream: two micro-batches equal the sequential batch-mode gate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir(); val ckpt = freshDir()
    val keepersDir = freshDir() + "/keepers"
    VectorIndex.fit(settled, dir)
    // expectation: the SAME sequence of batch-mode gate + append calls
    // against a twin artifact (fit is bit-deterministic, so the models
    // agree)
    val dir2 = freshDir()
    VectorIndex.fit(settled, dir2)
    val e1 = ids(VectorIndex.curateKeepers(h1, dir2))
    VectorIndex.appendBatch(h1, 0L, dir2)
    val e2 = ids(VectorIndex.curateKeepers(h2, dir2))

    val input = MemoryStream[(Long, Seq[Float])]
    val query = VectorIndex.curateStream(
      input.toDF().toDF("vec_id", "embedding"), dir, ckpt, keepersDir)
    def feed(half: DataFrame): Unit = {
      input.addData(half.select("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect().toIndexedSeq: _*)
      query.processAllAvailable()
    }
    try { feed(h1); feed(h2) } finally query.stop()

    val kept = ids(spark.read.parquet(keepersDir))
    assert(kept == (e1 ++ e2),
      "streamed keepers diverged from the sequential batch-mode gate")
    // the planted duplicates cannot survive: 9000 exact-dups settled
    // vector 0; 9002 is the larger id of the planted within-batch pair
    // (or a settled-tier casualty — either tier must catch it)
    assert(!kept.contains(9000L), "exact dup of a settled vector survived")
    assert(!kept.contains(9002L), "within-batch duplicate survived")
    // the index absorbed BOTH full batches — keepers and dropped alike
    assert(spark.read.parquet(s"$dir/codes").count() ==
      settled.count() + h1.count() + h2.count(),
      "index did not absorb the full batches")
  }

  test("curateStream survives a stop/restart on the same checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir(); val ckpt = freshDir()
    val keepersDir = freshDir() + "/keepers"
    VectorIndex.fit(settled, dir)
    val dir2 = freshDir()
    VectorIndex.fit(settled, dir2)
    val e1 = ids(VectorIndex.curateKeepers(h1, dir2))
    VectorIndex.appendBatch(h1, 0L, dir2)
    val e2 = ids(VectorIndex.curateKeepers(h2, dir2))

    // ONE source, TWO query incarnations: the restart is in the QUERY
    // (fresh StreamingQuery on the same checkpoint — offset recovery,
    // sink/state continuity, run re-registration), while the in-memory
    // source keeps its offset log alive across the stop, as a durable
    // source would
    val input = MemoryStream[(Long, Seq[Float])]
    def feedOnce(half: DataFrame): Unit = {
      val query = VectorIndex.curateStream(
        input.toDF().toDF("vec_id", "embedding"), dir, ckpt, keepersDir)
      try {
        input.addData(half.select("vec_id", "embedding")
          .as[(Long, Seq[Float])].collect().toIndexedSeq: _*)
        query.processAllAvailable()
      } finally query.stop()
    }
    feedOnce(h1) // run 1: batch, then STOP
    feedOnce(h2) // run 2: same checkpoint — re-registration must pass
    assert(ids(spark.read.parquet(keepersDir)) == (e1 ++ e2),
      "restart on the same checkpoint diverged from the sequential gate")
    assert(spark.read.parquet(s"$dir/codes").count() ==
      settled.count() + h1.count() + h2.count())
  }

  test("searchAdc rejects batch-scale query frames (driver-collect guard)") {
    val dir = VectorIndex.materialize(t, sfDir)
    val q = Similarity.withNorm(t.embeddings).filter(col("vec_id") < 4)
    intercept[IllegalArgumentException] {
      VectorIndex.searchAdc(q, dir, maxQueries = 3)
    }
    // at or under the bound the tier serves normally
    assert(VectorIndex.searchAdc(q, dir, maxQueries = 4).count() > 0)
  }

  test("crash-replay guard: an already-indexed batch replays identically") {
    val dir = freshDir()
    VectorIndex.fit(settled, dir)
    val batch = h1
    val pairsBefore = VectorIndex
      .nearDupBatch(Similarity.withNorm(batch), dir)
      .collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val keepersBefore = ids(VectorIndex.curateKeepers(batch, dir))
    // the crash window: appendBatch committed, the sink/checkpoint didn't
    VectorIndex.appendBatch(batch, 7L, dir)
    // with the exclusion guard the replay is bit-identical
    val guard = Some(7L)
    assert(VectorIndex
      .nearDupBatch(Similarity.withNorm(batch), dir,
        excludeNeighbor = guard.map(id => col("ingest_batch") === id))
      .collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      == pairsBefore, "guarded replay diverged from the pre-crash probe")
    assert(ids(VectorIndex.curateKeepers(batch, dir, excludeBatch = guard))
      == keepersBefore, "guarded replay elected different keepers")
    // without the guard the batch ranks against its OWN indexed rows —
    // the planted 9001/9002 pair alone adds two cos=1.0 hits — so the
    // guard is load-bearing
    assert(VectorIndex.nearDupBatch(Similarity.withNorm(batch), dir)
      .collect().length > pairsBefore.length,
      "unguarded replay should probe its own rows")
  }
}
