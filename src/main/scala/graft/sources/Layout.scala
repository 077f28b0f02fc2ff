package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** H12 — Z-ORDER (Morton-curve) data layout for multi-column file
  * skipping (round 13; the Delta/Iceberg `OPTIMIZE ZORDER BY` technique
  * re-expressed as a plain-parquet write helper).
  *
  * A single-column sort gives tight parquet min/max footer stats — and
  * therefore file/row-group skipping — on THAT column only; every other
  * column's per-file span stays ~the global span, so predicates on it
  * scan everything. Interleaving the bits of several rank-normalized
  * keys into one Morton value and range-sorting on it bounds every
  * participating column's span per file at ~N_files^(-1/k) of its
  * domain: queries filtering on ANY of the k columns skip most files.
  * At 100 TB this is the difference between a point-lookup reading one
  * file and reading the whole table — without maintaining k sorted
  * copies.
  *
  * Spark shape: a driver-side min/max stats pass (2·k doubles — model
  * state, the F17/IVF-centroid class), a pure-projection Morton
  * expression (bit shifts and masks, whole-stage codegen'd), and ONE
  * `repartitionByRange` exchange feeding sorted writer tasks — exactly
  * the F14 shard-write topology with the z-value as the order key. No
  * UDF, no second pass; the data never shuffles twice.
  *
  * Ref: no analog in SergiyStoyan/AwsKinesisConsumer; this is the
  * archive-layout step a fragment store (B15/B19) would run at compact
  * time so tag/position lookups (H8's pushdown) prune at file level.
  */
object Layout {

  /** Bits per dimension: 16 gives 2^16 rank buckets per column —
    * far finer than any realistic file count — while k·16 ≤ 63 keeps
    * the interleaved value in a positive long for k ≤ 3. */
  private val BitsPerDim = 16

  /** The Morton interleave of `cols`, each affine-scaled to
    * [0, 2^16) by the PASSED (min, max) model: column i's bit b lands
    * at position b·k + i. Pure integer/bit arithmetic on longs —
    * codegen-friendly, deterministic, engine-portable. */
  private[graft] def mortonValue(cols: Seq[Column],
      stats: Seq[(Double, Double)]): Column = {
    require(cols.nonEmpty && cols.size <= 3, "zorder supports 1-3 columns")
    val k = cols.size
    val maxBucket = (1L << BitsPerDim) - 1L
    val scaled = cols.zip(stats).map { case (c, (lo, hi)) =>
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      // floor to a bucket; clamp so max lands in the top bucket and
      // out-of-model values (post-stats appends) stay in range
      greatest(lit(0L), least(lit(maxBucket),
        floor((c.cast("double") - lit(lo)) / lit(span)
          * lit((1L << BitsPerDim).toDouble)).cast("long")))
    }
    (0 until BitsPerDim).flatMap { b =>
      scaled.zipWithIndex.map { case (s, i) =>
        shiftleft(shiftrightunsigned(s, b).bitwiseAND(lit(1L)),
          b * k + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` under `dir` as `nFiles` parquet files range-sorted on
    * the Morton interleave of `zCols` — each writer task is one sorted
    * run, so every file's footer carries tight min/max for EVERY
    * z-column. Returns the per-column (min, max) model used. */
  def writeZOrdered(df: DataFrame, dir: String, zCols: Seq[String],
      nFiles: Int = 32): Seq[(Double, Double)] = {
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val stats = zCols.indices.map { i =>
      // min/max are null iff the column has no non-null values (or the
      // frame is empty) — fail with the cause instead of an opaque NPE
      require(!row.isNullAt(2 * i) && !row.isNullAt(2 * i + 1),
        s"zorder column '${zCols(i)}' has no non-null values; " +
          "cannot fit a (min, max) model for the Morton scaling")
      (row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }
    df.withColumn("__z", mortonValue(zCols.map(col), stats))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
    stats
  }

  /** H17 — DYNAMIC PARTITION PRUNING over a date-partitioned fact
    * (round 15): the other half of the layout story. Z-order (above)
    * skips FILES via footer stats against LITERAL predicates; DPP
    * skips PARTITIONS against predicates that only exist at RUNTIME —
    * a dimension-side filter whose surviving keys aren't known at plan
    * time. Catalyst injects a `dynamicpruning#` subquery into the fact
    * scan that reuses the join's broadcast result, so the fact side
    * lists and reads ONLY the surviving `day=` directories. At 100 TB
    * with daily
    * partitions this is the difference between scanning 3 years and
    * scanning the qualifying week — for free, no manual predicate.
    *
    * The fixture (built once, [[Fixtures.once]]) writes events
    * day-partitioned — the standard fact layout every warehouse uses —
    * and the query joins
    * it to a dim carrying the filter (day % 7 = 2: "Tuesdays"), whose
    * qualifying days are only known after the dim evaluates. The SPEC
    * pins both the injected `dynamicpruning` filter in the plan and
    * that the files actually read all belong to qualifying days. */
  def materializeDayPartitioned(t: Tables, sfDir: String): String = {
    val spark = t.events.sparkSession
    Fixtures.once(spark, "events_by_day_v1", sfDir) { out =>
      t.events.select(
          graft.functions.intDiv(graft.functions.nanosToMs(col("ts")),
            86400000L).as("day"),
          col("event_id"), col("user_id"), col("event_type"),
          graft.functions.cents(col("value")).as("value_c"))
        .write.partitionBy("day").parquet(out)
    }
  }

  /** The [Q:dpp_join] query: day-partitioned fact ⋈ filtered day dim,
    * per-day rollup. The dim derives from the raw events table (NOT
    * the partitioned fixture — its scan must not touch the fact), so
    * the qualifying day set is a runtime artifact of the broadcast. */
  def dppJoinQuery(t: Tables, sfDir: String): DataFrame = {
    val spark = t.events.sparkSession
    val dir = materializeDayPartitioned(t, sfDir)
    val fact = spark.read.parquet(dir)
    // the DIM side casts to the partition column's inferred int type —
    // a cast on the FACT side would sit between the scan and the join
    // key and defeat the pruning-filter injection
    val dim = t.events.select(graft.functions.intDiv(
        graft.functions.nanosToMs(col("ts")), 86400000L).as("day"))
      .distinct()
      .filter(pmod(col("day"), lit(7L)) === 2L)
      .select(col("day").cast("int").as("day"))
    fact.join(broadcast(dim), "day")
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"), sum(col("value_c")).as("value_cents"))
      .select(col("day").cast("long").as("day"), col("n_events"),
        col("value_cents"))
      .orderBy("day")
  }
}
