package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Co-located joins via bucketing (SURVEY §5): writing both sides
  * bucketed + sorted on the join key lets every later join on that key
  * read bucket-aligned files and skip its exchange entirely — the
  * standard answer for a fact⋈fact or stream-archive⋈dimension join
  * that runs every day at 100 TB. */
object Bucketing {
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").saveAsTable(table)

  /** The catalog-gate tag for [[materializeEnrich]]'s twins, in two
    * `_`-joined hex parts: a PATH part (which source directory) and a
    * FINGERPRINT part (which generation of it — name+len+mtime of every
    * file, two listings, no data read). The tag must change
    * whenever the SOURCE changes, not just the path string: a
    * regenerated sfDir under a live catalog entry would otherwise
    * silently serve stale bucketed twins. Keeping the parts separate
    * lets [[materializeEnrich]] sweep the dead generations of the SAME
    * source without touching other sources' live twins. The path part
    * is a 64-bit half of MD5 over the UTF-8 path bytes — an Int
    * hashCode (even widened) carries only 32 bits of entropy, and two
    * paths colliding on it would share a generation prefix, so one
    * source's sweep could drop the other's live twins. */
  private[graft] def dirTag(sfDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8"))
    f"${java.nio.ByteBuffer.wrap(md, 0, 8).getLong}%016x"
  }

  private[graft] def sourceTag(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    def fp(sub: String): Long = {
      val p = new Path(sfDir, sub)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L else ParquetSchemas.fingerprint(fs, p)
    }
    f"${dirTag(sfDir)}_${fp("events.parquet") ^
      java.lang.Long.rotateLeft(fp("customer.parquet"), 17)}%016x"
  }

  /** Materializes (once per session+sfDir, catalog-gated) the bucketed
    * twins of events and customer that the H10 driver query joins —
    * the test-side stand-in for fact tables a deployment keeps bucketed
    * on their daily join key (at 100 TB the bucket count scales with
    * the data; the co-location property is what's under test, not the
    * fanout). External tables under the JVM tmpdir: the files survive
    * the session, the catalog entry doesn't, so a fresh session deletes
    * and rewrites instead of tripping over the stale location. Returns
    * the (events, customer) table names. */
  def materializeEnrich(t: Tables, sfDir: String,
      buckets: Int = 8): (String, String) = {
    val spark = t.events.sparkSession
    val tag = sourceTag(spark, sfDir)
    def ensure(base: String, df: => DataFrame, key: String): String = {
      val tbl = s"${base}_$tag"
      if (!spark.catalog.tableExists(tbl)) {
        // the fingerprint half of the tag changes on every source
        // regeneration, so DEAD generations of this (base, source-path)
        // pair must be swept here or their catalog entries + tmpdir
        // files accumulate without bound. The sweep is scoped by the
        // path half, so other sources' live twins are untouched.
        val gen = s"${base}_${dirTag(sfDir)}_"
        spark.catalog.listTables().collect()
          .map(_.name).filter(n => n.startsWith(gen) && n != tbl)
          .foreach(old => spark.sql(s"DROP TABLE IF EXISTS $old"))
        val tmp = new Path(System.getProperty("java.io.tmpdir"))
        val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(tmp))
          fs.listStatus(tmp).map(_.getPath)
            .filter(_.getName.startsWith(s"graft_bucketed_$gen"))
            .foreach(p => fs.delete(p, true)) // dead generations + this
                                              // tag's earlier-session files
        df.write.bucketBy(buckets, key).sortBy(key)
          .option("path",
            new Path(tmp, s"graft_bucketed_$tbl").toString).saveAsTable(tbl)
      }
      tbl
    }
    (ensure("b_enrich_events", t.events.select("user_id", "value"),
        "user_id"),
      ensure("b_enrich_customer",
        t.customer.select("c_custkey", "c_mktsegment"), "c_custkey"))
  }
}
