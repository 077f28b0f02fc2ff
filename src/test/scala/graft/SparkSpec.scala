package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Shared local session for specs (small parallelism, exact configs the
  * driver uses — notably nanosAsLong for events.ts). The generated-class
  * cache size is static and JVM-global: the first session to generate
  * code fixes it, so the spec session takes GraftSession's. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries",
      graft.core.GraftSession.CodegenCacheEntries.toString)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
  lazy val t: Tables = Tables(spark, sfDir)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }
}
