package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Fixtures, Tables}

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

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A fresh directory under `java.io.tmpdir`, deleted after the spec's
    * last test together with every `Fixtures.once` dir built from it as a
    * source (its path tag is new on each run, so nothing else reuses
    * them). */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix).toString
    tempDirs += dir
    dir
  }

  /** Root paths of every file scan in `df`'s executed plan, adaptive
    * query stages and subqueries included. Exact where the plan string is
    * not: Spark cuts a scan's Location at 100 characters. */
  def scanRoots(df: DataFrame): Seq[Path] = {
    object plans extends AdaptiveSparkPlanHelper
    plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case scan: FileSourceScanExec => scan.relation.location.rootPaths
    }.flatten
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try {
      val tmp = new File(System.getProperty("java.io.tmpdir")).listFiles().toSeq
      tempDirs.foreach { dir =>
        val key = s"_${Fixtures.pathTag(dir)}_"
        (new File(dir) +: tmp.filter(f =>
          f.getName.startsWith("graft_") && f.getName.contains(key)))
          .foreach(FileUtils.deleteQuietly)
      }
    } finally super.afterAll()
}
