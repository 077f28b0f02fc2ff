package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local testing runs `local[32]`; the same settings are what we would ship
  * on a multi-executor cluster: AQE on (runtime re-plan + skew-join), UTC
  * session time, shuffle partitions sized to the parallelism at hand (32
  * locally; on a 1000-executor cluster this is set to ~2-3x total cores).
  */
object GraftSession {
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
