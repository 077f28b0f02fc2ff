package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Shared local session for specs: the shipping session
  * (`graft.core.GraftSession.builder`, so `GraftExtensions` and every
  * other shipped setting are in force) with only three overrides —
  * `local[4]`, 4 shuffle partitions and a warehouse dir under /tmp. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.GraftSession.builder("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
  lazy val t: Tables = Tables(spark, sfDir)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }
}
