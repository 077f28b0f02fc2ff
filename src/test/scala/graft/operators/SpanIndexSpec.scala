package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SpanIndexSpec extends SparkSpec {

  test("probe equals the full-corpus span coverage on the fresh slice; replayed append is a no-op") {
    import spark.implicits._
    val dir = tempDir("graft_si")
    // settled: doc 1 carries the span [a b c d e]; docs 2/3 share
    // [q r s t u] settled-settled (must NOT leak into fresh coverage)
    val settled = Seq(
      (1L, "a b c d e f g h"),
      (2L, "q r s t u v w x"),
      (3L, "z z q r s t u y")).toDF("doc_id", "text")
    // fresh batch: doc 10 dups settled doc 1's span, doc 11 is novel,
    // docs 12/13 dup each other within the batch, doc 14 repeats its
    // own span internally
    val fresh = Seq(
      (10L, "x x a b c d e y"),
      (11L, "n o p hh ii jj kk"),
      (12L, "k l m n p q a b"),
      (13L, "y k l m n p q b"),
      (14L, "m m m m m m")).toDF("doc_id", "text")
    SpanIndex.build(settled, dir)
    val probed = SpanIndex.coverageBatch(fresh, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // ground truth: full-corpus census restricted to the batch docs
    val full = Dedup.spanCoverageOf(settled.unionByName(fresh), 5)
      .filter(col("doc_id") >= 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(probed == full, s"probe $probed != full-slice $full")
    // the fixture exercises every tier: settled hit, novel, in-batch
    // pair, in-batch self-repeat
    val byId = probed.map(r => r._1 -> r._3).toMap
    assert(byId(10L) == 5L && byId(11L) == 0L && byId(12L) > 0L
      && byId(13L) > 0L && byId(14L) == 6L, s"coverage $byId")
    // idempotent maintenance: appending the batch twice under one id
    // leaves the index equivalent, and the crash-replay guard excludes
    // the batch's own partition so self-spans don't count as settled
    SpanIndex.appendBatch(fresh, 1L, dir)
    SpanIndex.appendBatch(fresh, 1L, dir)
    val replayed = SpanIndex.coverageBatch(fresh, dir,
        excludeBatch = Some(1L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(replayed == full, s"excluded-replay $replayed != $full")
    // without the guard, every span of the batch is its own settled
    // duplicate — doc 11 must flip from 0 to full coverage
    val unguarded = SpanIndex.coverageBatch(fresh, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(unguarded(11L) == 7L, s"unguarded $unguarded")
  }

  test("the probe never re-extracts settled text: no documents scan in the plan") {
    val dir = SpanIndex.materialize(t, sfDir)
    val fresh = t.documents.filter(pmod(col("doc_id"), lit(8L)) === 7L)
    val probe = SpanIndex.coverageBatch(fresh, dir)
    probe.collect()
    val roots = scanRoots(probe)
    assert(!roots.exists(_.getName == "documents.parquet"),
      s"probe plan rescans the documents source: $roots")
    assert(roots.exists(_.getName == "spans"), s"probe plan does not read the index: $roots")
  }
}
