package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** SURVEY §5: co-located joins via bucketing. Writing both fact tables
  * bucketed on the join key lets the join read bucket-aligned files and
  * skip the shuffle entirely — at 100 TB this turns the biggest exchange
  * in the plan into a free merge. */
class BucketingSpec extends SparkSpec {

  // the in-memory catalog resets between runs but the warehouse files
  // persist — clear them so CREATE TABLE AS doesn't hit LOCATION_EXISTS
  private def dropTables(names: String*): Unit = names.foreach { tbl =>
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = new java.io.File(s"/tmp/graft-test-warehouse/$tbl")
    if (dir.exists()) {
      java.nio.file.Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    dropTables("b_orders", "b_lineitem")
    Bucketing.writeBucketed(t.orders, "b_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(t.lineitem.select("l_orderkey", "l_quantity"),
      "b_lineitem", "l_orderkey", 8)

    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
    val n = joined.count()
    assert(n == t.lineitem.count()) // every lineitem has its order

    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("enrichEventsBucketed (the driver-gated H10 query) joins exchange-free") {
    // drop catalog + files so the query's catalog-gated materialize runs
    // from scratch in this session
    val tag = Fixtures.tag(spark, sfDir)
    for (base <- Seq("b_enrich_events", "b_enrich_customer")) {
      spark.sql(s"DROP TABLE IF EXISTS ${base}_$tag")
      val dir = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_${base}_$tag")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    val df = graft.operators.Analytics.enrichEventsBucketed(t, sfDir)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = graft.operators.Analytics.enrichEvents(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, "bucketed route diverged from enrich_events")
    // the JOIN must be exchange-free: the only allowed exchange is the
    // aggregation's own group-key shuffle
    val plan = df.queryExecution.executedPlan.toString
    val joinKeyExchanges = plan.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("user_id") || l.contains("c_custkey")))
    assert(joinKeyExchanges.isEmpty,
      s"bucketed join still shuffles on the join key:\n$plan")
    // and a second call reuses the catalog tables (no re-materialize)
    val again = graft.operators.Analytics.enrichEventsBucketed(t, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again == expected)
  }

  test("regenerating the source parquet invalidates the bucketed twins") {
    // the stale-cache trap: a regenerated sfDir under a live catalog
    // entry must NOT keep serving the old bucketed twins. The gate tag
    // fingerprints the source files, so a rewrite (new len/mtime) yields
    // a new tag → new table names → fresh materialize.
    val dir = tempDir("graft_regen")
    def writeSrc(userCap: Long): Unit = {
      t.events.filter(col("user_id") <= userCap)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      t.customer.write.mode("overwrite").parquet(s"$dir/customer.parquet")
    }
    writeSrc(10L)
    val t2 = Tables(spark, dir)
    val tagBefore = Fixtures.tag(spark, dir)
    val (e1, c1) = Bucketing.materializeEnrich(t2, dir)
    val n1 = spark.table(e1).count()
    writeSrc(20L) // the driver regenerates the parquet in place
    val tagAfter = Fixtures.tag(spark, dir)
    assert(tagAfter != tagBefore,
      "source regeneration did not change the fingerprint tag")
    val (e2, _) = Bucketing.materializeEnrich(Tables(spark, dir), dir)
    assert(e2 != e1, "regenerated source reused the stale bucketed table")
    assert(spark.table(e2).count() > n1,
      "the re-materialized twin must reflect the regenerated source")
    // the dead generation is swept (catalog + files), but only for THIS
    // source path — twins of other sfDirs in the session stay live
    assert(!spark.catalog.tableExists(e1),
      "stale bucketed table generation was not dropped")
    assert(!new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$e1").exists,
      "stale bucketed files were not swept")
  }

  test("bucketed events-customer enrichment: no join shuffle, same result") {
    dropTables("b_events", "b_customer")
    Bucketing.writeBucketed(
      t.events.select(col("user_id"), col("value")), "b_events", "user_id", 8)
    Bucketing.writeBucketed(t.customer.select("c_custkey", "c_mktsegment"),
      "b_customer", "c_custkey", 8)
    val joined = spark.table("b_events")
      .join(spark.table("b_customer"), col("user_id") === col("c_custkey"))
    val byBucket = joined
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.cents(col("value"))).as("sum_value_c"))
      .orderBy("c_mktsegment")
    // the join itself must be exchange-free (the agg may still shuffle)
    val joinPlan = joined.queryExecution.executedPlan.toString
    assert(!joinPlan.contains("Exchange hashpartitioning"), joinPlan)
    // and the bucketed route agrees with the enrich_events operator
    val expected = graft.operators.Analytics.enrichEvents(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val got = byBucket.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }
}
