package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SearchIndexSpec extends SparkSpec {

  test("prefit search equals the inline full-corpus BM25; replayed append is a no-op (F22b)") {
    import spark.implicits._
    val dir = tempDir("graft_bm25")
    val settled = Seq(
      (1L, "stream of events arrives as a stream"),
      (2L, "vector search over a vector vector space"),
      (3L, "the customer ordered parts"),
      (4L, "nothing relevant here at all")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "customer stream analytics"),
      (11L, "")).toDF("doc_id", "text") // token-empty doc: no postings
    SearchIndex.build(settled, dir)
    SearchIndex.appendBatch(batch, 0L, dir)
    SearchIndex.appendBatch(batch, 0L, dir) // replay: must be a no-op
    val terms = Seq("stream", "vector", "customer")
    val got = SearchIndex.search(spark, dir, terms, k = 10).collect().map(_.toSeq)
    val inline = TextOps.bm25TopKOf(settled.unionByName(batch), terms, 10)
      .collect().map(_.toSeq)
    assert(got.toSeq == inline.toSeq && got.nonEmpty)
  }

  test("prefit search over the sf corpus is hash-identical to bm25TopK (F22b)") {
    val dir = SearchIndex.materialize(t, sfDir)
    val got = SearchIndex.search(spark, dir, Seq("stream", "vector", "customer"))
      .collect().map(_.toSeq)
    val inline = TextOps.bm25TopKOf(t.documents,
      Seq("stream", "vector", "customer"), 10).collect().map(_.toSeq)
    assert(got.toSeq == inline.toSeq && got.nonEmpty)
  }

  test("search never rescans corpus text and prunes to the query-term buckets") {
    val dir = SearchIndex.materialize(t, sfDir)
    val q = SearchIndex.search(spark, dir, Seq("stream", "vector", "customer"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val roots = scanRoots(q)
    assert(!roots.exists(_.getName == "documents.parquet"),
      s"search plan rescans the documents source: $roots")
    assert(roots.exists(_.getName == "postings"), s"search plan does not read the index: $roots")
    // the bk partition filter must reach the postings scan (directory
    // pruning), and the term predicate must push into the parquet scan
    assert("PartitionFilters: \\[[^\\]]*bk".r.findFirstIn(plan).nonEmpty,
      s"no bk partition filter on the postings scan:\n$plan")
    assert("PushedFilters: \\[[^\\]]*[Ii]n\\(term".r.findFirstIn(plan).nonEmpty,
      s"term predicate not pushed into the postings scan:\n$plan")
  }
}
