package graft

/** H18's serving surface across the driver contract: run each catalog
  * query once through `CostLedger.measure` (ONE production action per
  * query, metrics harvested from its own executed plan — zero extra jobs)
  * and print the ledger as JSON lines, one per query: what every query
  * scanned, shuffled, and emitted at the given scale factor. Runs in
  * [[SparkEntry.runTool]] (subset: SPARK_GRAFT_COST_ONLY=name,name).
  * Exits 1 naming every query that threw, so a scripted ledger cannot be
  * silently incomplete. */
object CostReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val failed = SparkEntry.runTool("graft-cost", "cost",
        sys.env.get("SPARK_GRAFT_COST_ONLY")) { run =>
      run.each { name =>
        val c = graft.operators.CostLedger.measure(name,
          SparkEntry.queries(name)(run.spark, sfDir))
        println(s"""{"query":"${c.query}","scan_rows":${c.scan_rows},""" +
          s""""scan_bytes":${c.scan_bytes},"scan_files":${c.scan_files},""" +
          s""""shuffle_bytes":${c.shuffle_bytes},""" +
          s""""shuffle_rows":${c.shuffle_rows},""" +
          s""""result_rows":${c.result_rows},"wall_ms":${c.wall_ms}}""")
      }
    }
    if (failed.nonEmpty) {
      System.err.println(s"[cost] ${failed.length} queries failed: " +
        failed.mkString(", "))
      System.exit(1)
    }
  }
}
