package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory: every graft entry point, graftbench and the
  * spec session build through [[builder]], so the session they run is the
  * one that ships. It runs `local[$SPARK_GRAFT_CPUS]` (default 32) with as
  * many shuffle partitions (a cluster deploy sets ~2-3x total cores),
  * installs `GraftExtensions`, and sets UTC, AQE with skew join, local
  * scan splits, the generated-class cache and the `file:` filesystem. */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * JVM-global and sized once, by the first session that generates
    * code. At the default, a second pass over the 16 media queries (118
    * classes) recompiles most of them, and every miss also discards the
    * class's JIT-compiled code. One first pass over all of
    * `SparkEntry.queries` at sf0.001 (local[4]) compiles 2,558 distinct
    * classes, and each further pass 128 more; keeping them all costs
    * ~22 MB of metaspace over the default (~9 KB a class). 4,096 leaves
    * 1.6× headroom, so a full cache costs ~35 MB. A consumer's per-batch
    * watermark-predicate classes are evicted only once the cache is
    * full. */
  val CodegenCacheEntries: Int = 4096

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // native expressions + IntersectRewrite + AsOfJoinStrategy
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // if events.ts ships as parquet TIMESTAMP(NANOS), read it as long
      // nanos (exact); other encodings are normalized by Tables.apply
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // local small files: split scans so every core participates
      // (cluster deploys keep the 128m default)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      // static: fixed by the first session that generates code
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // file: without chmod/readlink processes (LocalFs.scala): stock
      // checksummed local filesystem, permission and link calls in-process
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
  }

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
