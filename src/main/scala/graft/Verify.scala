package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each catalog query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. Runs in [[SparkEntry.runTool]]
  * (subset: SPARK_GRAFT_VERIFY_ONLY=name,name). Exits 1 naming the
  * queries that threw: tools/parity.py compares only the result dirs that
  * exist. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.runTool("graft-verify", "verify",
        sys.env.get("SPARK_GRAFT_VERIFY_ONLY"), logLevel = "WARN") { run =>
      run.each { name =>
        SparkEntry.queries(name)(run.spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} queries failed: " +
        failed.mkString(", "))
      System.exit(1)
    }
  }
}
