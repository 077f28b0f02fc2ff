package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column helpers shared across operators.
  *
  * Cross-engine determinism rules (SURVEY §4): money doubles become integer
  * cents before aggregation (bit-exact in Spark and the DuckDB oracle);
  * ratios are a single double division of exact integers (IEEE-identical);
  * timestamps are compared/output at millisecond granularity only.
  */
package object functions {

  /** Doubles carrying 2-decimal money/measure values -> exact integer cents. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Lowercase alpha word tokens (mirrors DuckDB
    * `regexp_extract_all(lower(x),'[a-z]+')`). */
  def words(c: Column): Column =
    call_function("regexp_extract_all", lower(c), lit("[a-z]+"), lit(0))

  /** Exact 64-bit integer division (ns values exceed 2^53, so double
    * division would corrupt them). */
  def intDiv(a: Column, b: Long): Column = call_function("div", a, lit(b))

  /** Epoch milliseconds from a long-nanos column (events.ts is normalized
    * to epoch-long ns by Tables.apply whatever its physical encoding).
    * Integer floor division — identical to DuckDB `epoch_ms(ts)` on the
    * same parquet. */
  def nanosToMs(c: Column): Column = intDiv(c, 1000000L)

  /** Exact integer-division bucketing of an epoch-ms column. */
  def msBucket(tsMs: Column, widthMs: Long): Column = intDiv(tsMs, widthMs)

  /** A micro-batch id for per-batch stamps and filters (`ingest_batch`).
    * Unlike `lit(id)` it is not compiled into the generated code, so a
    * `foreachBatch` sink compiles its stages once per query, not once
    * per batch ([[graft.plans.BatchStamp]]). */
  def batchStamp(id: Long): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(graft.plans.BatchStamp(id))
}
