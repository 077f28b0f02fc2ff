package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.{FragmentArchive, Tables}

/** One timed pass: wall seconds, and (query, build s, exec s) per query. */
final case class Pass(seconds: Double, queries: Seq[(String, Double, Double)])

/** Closed loop over a fixed list of `SparkEntry.queries`: one caller runs
  * each query in order, building the DataFrame (where eager fixpoint
  * rounds and checkpoints run) and then materializing it through the
  * noop sink. The untimed warm-up pass writes every result as parquet
  * under `out/`, with the oracle SQL in `out/oracle_sql.json`, for the
  * DuckDB compare of tools/parity.py. */
final class Queries(spark: SparkSession, dataDir: String, runDir: Path,
    names: Seq[String], tracer: Tracer) {
  private val catalog = SparkEntry.queries
  var attempted = 0L
  val failures = ArrayBuffer.empty[String]

  /** Frees the dead localCheckpoint blocks of the last query outside the
    * timer, as graft.Bench does between queries. */
  private def freeCheckpoints(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      if (r.isCheckpointed) r.unpersist(blocking = false)
    }

  private def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    } finally freeCheckpoints()
  }

  /** MB of the generated input tables. */
  def datasetMb: Double = {
    val s = Files.walk(Paths.get(dataDir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1048576.0
    finally s.close()
  }

  /** Builds the capture archive mm_source reads (first run in a fresh
    * tmpdir); returns its seconds, 0 when no listed query reads it. */
  def buildArchive(): Double =
    if (!names.contains("mm_source")) 0.0
    else tracer.span("sources.archive_build") {
      val t0 = System.nanoTime()
      attempt("archive")(FragmentArchive.materialize(Tables(spark, dataDir), dataDir))
      (System.nanoTime() - t0) / 1e9
    }

  /** Up to `n` payload files of the workload's own fragments: the
    * capture archive built from its events table. */
  def payloadFiles(n: Int): IndexedSeq[Array[Byte]] = {
    val archive = FragmentArchive.materialize(Tables(spark, dataDir), dataDir)
    val dir = Paths.get(archive.stripPrefix("file:"))
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".mkv")).toSeq.sorted
      .take(n).map(Files.readAllBytes).toIndexedSeq
    finally s.close()
  }

  /** The untimed warm-up pass; also writes each result and its oracle SQL. */
  def warmup(): Unit = {
    val out = runDir.resolve("out")
    names.foreach { n =>
      tracer.span(s"warmup.$n")(attempt(n) {
        catalog(n)(spark, dataDir).write.mode("overwrite").parquet(out.resolve(n).toString)
      })
    }
    Files.createDirectories(out)
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracle))
  }

  def pass(i: Int): Pass = tracer.span(s"pass.$i") {
    val t0 = System.nanoTime()
    val qs = names.map { n =>
      tracer.span(n) {
        var build, exec = Double.NaN
        attempt(n) {
          val a = System.nanoTime()
          val df = tracer.span("build")(catalog(n)(spark, dataDir))
          val b = System.nanoTime()
          tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
          build = (b - a) / 1e9
          exec = (System.nanoTime() - b) / 1e9
        }
        (n, build, exec)
      }
    }
    Pass((System.nanoTime() - t0) / 1e9, qs)
  }
}
