package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet reads that infer a path's schema once per file identity.
  *
  * `spark.read.parquet(path)` infers the schema eagerly, with a one-task
  * Spark job that reads a footer, each time a DataFrame over the path is
  * built. [[read]] infers it the first time and afterwards reads with
  * `.schema(s)`, which starts no job. An entry is keyed by the qualified
  * path and the session's schema-inference settings, and holds the schema
  * with the [[fingerprint]] of the files it was inferred from: a rewritten
  * path infers again and replaces its entry, and a session with other
  * settings gets an entry of its own. Only schemas are kept, never data;
  * the scan, its column pruning and its filter pushdown are those of a
  * plain read.
  */
private[graft] object ParquetSchemas {

  /** What parquet schema inference reads from the session: the type
    * mapping of `ParquetToSparkSchemaConverter`, schema merging and
    * summary files, and partition-column typing. */
  private val settings = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.CASE_SENSITIVE,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
    SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.VARIANT_ALLOW_READING_SHREDDED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED,
    SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES,
    SQLConf.PARTITION_COLUMN_TYPE_INFERENCE).map(_.key)

  private final case class Entry(fingerprint: Long, schema: StructType)

  // least recently used first; a schema is a few KB at most
  private val MaxEntries = 1024
  private val cache =
    new java.util.LinkedHashMap[(String, Seq[String]), Entry](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), Entry]): Boolean =
        size > MaxEntries
    }

  /** `spark.read.parquet(path)`, with the schema inferred at most once per
    * (path, settings) while the files under `path` stay the same. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val fp =
      try Some(fingerprint(fs, p))
      catch { case _: FileNotFoundException => None }
    fp match {
      // a missing path fails exactly as a plain read does
      case None => spark.read.parquet(path)
      case Some(f) =>
        val conf = spark.sessionState.conf
        val key = (fs.makeQualified(p).toString,
          settings.map(k => conf.getConfString(k)))
        cache.synchronized(Option(cache.get(key))).filter(_.fingerprint == f) match {
          case Some(e) => spark.read.schema(e.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            cache.synchronized(cache.put(key, Entry(f, df.schema)))
            df
        }
    }
  }

  /** Name, length and modification time of every file under `p`, folded in
    * name order (listing order is filesystem-dependent, and the fold is
    * order-sensitive). Directories fold their contents under their name. */
  def fingerprint(fs: FileSystem, p: Path): Long =
    fs.listStatus(p).sortBy(_.getPath.getName).map { s =>
      val name = s.getPath.getName.hashCode * 1000003L
      if (s.isDirectory) name ^ fingerprint(fs, s.getPath)
      else name ^ s.getLen * 31L ^ s.getModificationTime
    }.foldLeft(0L)(_ * 6364136223846793005L + _)
}
