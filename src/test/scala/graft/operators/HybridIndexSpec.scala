package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** F32b — the hybrid-retrieval DEPLOY arm: served entirely from the
  * F22b inverted index and the persisted featurizer/E5 semantic
  * artifact, pinned equal to the inline oracle tier and pinned to
  * never rescan the corpus or launch fit jobs. */
class HybridIndexSpec extends SparkSpec {

  private val terms = Seq("stream", "vector", "customer")

  test("index-sourced hybrid equals the oracle-tier hybrid on the sf corpus (F32b)") {
    val lexDir = SearchIndex.materialize(t, sfDir)
    val semDir = TextOps.materializeHybridSemantic(t, sfDir)
    val got = TextOps.hybridSearchIndexed(spark, lexDir, semDir, terms)
      .collect().map(_.toSeq)
    val inline = TextOps.hybridSearchTopKOf(t.documents,
      Seq("stream", "vector", "customer"), 64, 20, 10, 60L).collect().map(_.toSeq)
    assert(got.toSeq == inline.toSeq && got.nonEmpty)
  }

  test("index-sourced hybrid never scans the documents source (F32b zero-rescan pin)") {
    val lexDir = SearchIndex.materialize(t, sfDir)
    val semDir = TextOps.materializeHybridSemantic(t, sfDir)
    val q = TextOps.hybridSearchIndexed(spark, lexDir, semDir, terms)
    q.collect()
    val roots = scanRoots(q)
    assert(!roots.exists(_.getName == "documents.parquet"),
      s"deploy hybrid rescans the corpus: $roots")
    // both index families must actually serve the query
    assert(roots.exists(_.getName == "postings"),
      s"lexical arm does not read the inverted index: $roots")
    assert(roots.exists(_.getName == "vectors_raw"),
      s"semantic arm does not read the artifact's raw vectors: $roots")
  }

  test("index-sourced hybrid launches zero fit jobs (F32b)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val lexDir = SearchIndex.materialize(t, sfDir)
    val semDir = TextOps.materializeHybridSemantic(t, sfDir) // fits happen HERE
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).flatMap(Option(_))
        groups.add(g.getOrElse(""))
      }
    }
    def settle(): Seq[String] = {
      var last = -1; var same = 0
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
      groups.clear()
      TextOps.hybridSearchIndexed(spark, lexDir, semDir, terms)
        .write.format("noop").mode("overwrite").save()
      val jobs = settle()
      assert(jobs.nonEmpty)
      assert(!jobs.exists(_ == VectorIndex.FitJobGroup),
        s"deploy hybrid launched fit jobs: $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
