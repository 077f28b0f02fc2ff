package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select`, the query-subset parser behind
  * SPARK_GRAFT_BENCH_ONLY, SPARK_GRAFT_VERIFY_ONLY, SPARK_GRAFT_COST_ONLY
  * and PlanDump's fourth argument. */
class SparkEntrySpec extends AnyFunSuite {

  test("select: blank or absent selects all; names come back trimmed and sorted") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    for (v <- Seq(None, Some(""), Some("   "), Some(" , ,")))
      assert(SparkEntry.select(v) == all, s"for $v")
    assert(SparkEntry.select(Some(" topk_orders ,q1_pricing_summary,topk_orders")) ==
      Seq("q1_pricing_summary", "topk_orders"))
  }

  test("select: an unknown name throws and names it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("q1_pricing_summary, no_such_query"))
    }
    assert(e.getMessage == "unknown queries: no_such_query", e.getMessage)
  }
}
