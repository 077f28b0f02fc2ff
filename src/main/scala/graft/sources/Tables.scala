package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed accessors for the ten analytics tables.
  *
  * All reads go through a per-name loader so Catalyst keeps full
  * pushdown/pruning ability: a downstream `.select`/`.filter` reaches the
  * scan as `ReadSchema`/`PushedFilters`. The default loader is the
  * driver's parquet layout, and it resolves each table's schema once: the
  * first build infers it (a one-task Spark job), later builds over the
  * same files read with that schema and start no job
  * ([[ParquetSchemas]]; a rewritten table or a session with other parquet
  * type settings infers again). The data is never cached — at 100 TB the
  * scan must stream, and column pruning is worth more than a hot cache.
  * `TableFormats` builds Tables over CSV/JSON directories with the same
  * schemas.
  */
final class Tables(load: String => DataFrame) {
  private def t(name: String): DataFrame = load(name)

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame     = t("events")
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables =
    new Tables(name => {
      val df = ParquetSchemas.read(spark, s"$dir/$name.parquet")
      if (name == "events") normalizeEventsTs(df) else df
    })

  def fromLoader(load: String => DataFrame): Tables = new Tables(load)

  /** events.ts contract: epoch-long NANOSECONDS, whatever the parquet's
    * physical encoding. The generator has shipped this column both as
    * TIMESTAMP(NANOS) — which the session's `nanosAsLong=true` reads as the
    * long we want — and as TIMESTAMP(MICROS)/TIMESTAMP_NTZ, which Spark
    * reads as a timestamp type. Normalize the latter at the loader so every
    * downstream operator keeps exact integer-ns semantics
    * ([[graft.functions.nanosToMs]]): `unix_micros` is an exact long under
    * the UTC session (NTZ wall-time is UTC by the data contract), ×1000
    * restores the ns scale. One-sided fix: the DuckDB oracle's
    * `epoch_ms(ts)` works on TIMESTAMP directly and floor-divides to the
    * same millisecond values.
    */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        // cast(NTZ → Timestamp) interprets the wall-time in the SESSION
        // zone; the data contract says that wall-time is UTC, so any
        // other session zone would silently shift every ts by the zone
        // offset. Tables.apply accepts arbitrary sessions — fail loudly
        // instead.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
          s"events.ts is TIMESTAMP_NTZ (UTC wall-time by contract) but " +
            s"spark.sql.session.timeZone is '$tz' — the NTZ→instant cast " +
            "would shift every ts by the zone offset; set the session " +
            "timezone to UTC (GraftSession does)")
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case TimestampType =>
        // already an instant: unix_micros is zone-independent
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected LONG (ns) or a timestamp")
    }
}
