package graft

/** The catalog table and the tool loop: `SparkEntry.catalog` and the two
  * name-keyed maps derived from it, `SparkEntry.select` (the query-subset
  * parser behind SPARK_GRAFT_BENCH_ONLY, SPARK_GRAFT_VERIFY_ONLY,
  * SPARK_GRAFT_COST_ONLY and PlanDump's fourth argument) and
  * `SparkEntry.ToolRun.each`, the per-query loop of the tool mains. */
class SparkEntrySpec extends SparkSpec {

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

  test("the catalog holds 192 distinct names, each with a builder and an oracle") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.size == 192 && names.distinct.size == 192,
      s"${names.size} rows, ${names.distinct.size} names")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.catalog.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
    // a table initialized before the SQL vals its oracles interpolate
    // would hold the text "null" in place of each one
    val unset = SparkEntry.catalog.filter(q => "\\bnull\\b".r.findFirstIn(q.oracle).nonEmpty)
    assert(unset.isEmpty, s"oracles holding null: ${unset.map(_.name)}")
  }

  test("deriving the maps from two rows with one name throws and names it") {
    val q = SparkEntry.catalog.head
    val e = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(q, SparkEntry.catalog(1), q.copy(oracle = "SELECT 1")))
    }
    assert(e.getMessage == s"duplicate catalog queries: ${q.name}", e.getMessage)
  }

  test("the tool loop runs past a throwing query, returns its name and reports it") {
    val names = SparkEntry.select(
      Some("q1_pricing_summary,q3_shipping_priority,topk_orders"))
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val err = new java.io.ByteArrayOutputStream()
    val failed = Console.withErr(err) {
      new SparkEntry.ToolRun(spark, names, "spec").each { name =>
        ran += name
        if (name == "q3_shipping_priority") throw new IllegalStateException("boom")
      }
    }
    assert(ran == names)
    assert(failed == Seq("q3_shipping_priority"))
    assert(err.toString.linesIterator.toSeq == Seq("[spec] q3_shipping_priority failed: boom"),
      err.toString)
  }
}
