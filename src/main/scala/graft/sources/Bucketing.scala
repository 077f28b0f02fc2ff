package graft.sources

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
    val tag = Fixtures.tag(spark, sfDir)
    def ensure(base: String, df: => DataFrame, key: String): String = {
      val tbl = s"${base}_$tag"
      if (!spark.catalog.tableExists(tbl)) {
        // the tag changes on every source regeneration, so DEAD
        // generations of this (base, source-path) pair are swept here or
        // their catalog entries and files accumulate without bound;
        // other sources' live twins are untouched
        val gen = s"${base}_${Fixtures.pathTag(sfDir)}_"
        spark.catalog.listTables().collect()
          .map(_.name).filter(n => n.startsWith(gen) && n != tbl)
          .foreach(old => spark.sql(s"DROP TABLE IF EXISTS $old"))
        val out = Fixtures.dir(s"bucketed_$base", tag)
        val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
        Fixtures.sweep(fs, s"bucketed_$base", sfDir, out)
        fs.delete(out, true) // this tag's files from an earlier session
        df.write.bucketBy(buckets, key).sortBy(key)
          .option("path", out.toString).saveAsTable(tbl)
      }
      tbl
    }
    (ensure("b_enrich_events", t.events.select("user_id", "value"),
        "user_id"),
      ensure("b_enrich_customer",
        t.customer.select("c_custkey", "c_mktsegment"), "c_custkey"))
  }
}
