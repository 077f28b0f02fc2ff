package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Batch analytics core (SURVEY §2C).
  *
  * Scale notes: every query is a declarative single-pass plan — filters and
  * projections push into the parquet scan, aggregations are partial
  * (map-side) before their one shuffle, dimension tables are broadcast
  * explicitly, and no operator collects to the driver. At 100 TB the only
  * material costs here are the lineitem scan and one hash-shuffle each.
  */
object Analytics {

  /** C1/C2 — TPC-H Q1-style pricing summary: scan+filter pushdown, hash agg
    * with exact integer-cent sums, ratio as one double division. */
  def q1PricingSummary(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_c"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("sum_disc_c"),
        count(lit(1)).as("cnt"))
      .withColumn("avg_qty", col("sum_qty_c").cast("double") / col("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** C3 — shipping-priority style: selective dim filter, two joins, agg,
    * total-ordered top-k. The filtered customer side carries NO broadcast
    * hint: customer is sf-proportional, so the safe form is Catalyst/AQE's
    * size-gated broadcast — it broadcasts below
    * spark.sql.autoBroadcastJoinThreshold and shuffle-joins above
    * (unconditional hints OOM the driver at 100x scale; PlanSpec guards
    * both regimes). */
  def q3ShippingPriority(t: Tables): DataFrame = {
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t.orders
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t.lineitem
      .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        .as("revenue_c"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority"),
        col("revenue_c"))
      .orderBy(col("revenue_c").desc, col("l_orderkey"))
      .limit(10)
  }

  /** C4 — snowflake join across all 6 TPC-H-ish tables. Fixed-cardinality
    * dims (region 5 rows, nation 25) broadcast by hint; the
    * sf-proportional sides (customer, supplier) are size-gated by
    * Catalyst/AQE so the plan stays legal at any scale; the single
    * always-big shuffle is lineitem⋈orders. */
  def q5RegionRevenue(t: Tables): DataFrame = {
    val nr = t.nation
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = t.customer.join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey", "n_name")
    val ord = t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey")
    t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(t.supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        .as("revenue_c"))
      .orderBy(col("revenue_c").desc, col("n_name"))
  }

  /** C5 — total-ordered top-k (TakeOrderedAndProject: no global sort). */
  def topkOrders(t: Tables): DataFrame =
    t.orders
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
      .orderBy(col("price_c").desc, col("o_orderkey"))
      .limit(10)

  /** C6 — window functions: running sum + rank per customer (one shuffle on
    * o_custkey serves both windows). */
  def windowRunningSum(t: Tables): DataFrame = {
    val base = t.orders.select(
      col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
      cents(col("o_totalprice")).as("price_c"))
    val wRun = Window.partitionBy("o_custkey").orderBy(col("o_date"), col("o_orderkey"))
    val wRank = Window.partitionBy("o_custkey").orderBy(col("price_c").desc, col("o_orderkey"))
    base
      .withColumn("run_c", sum("price_c").over(wRun))
      .withColumn("rnk", rank().over(wRank).cast("long"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** C7 — distinct aggregates. */
  def distinctCounts(t: Tables): DataFrame =
    t.orders.agg(
      count_distinct(col("o_custkey")).as("n_cust"),
      count_distinct(col("o_orderstatus")).as("n_status"),
      count(lit(1)).as("n_orders"))

  /** C8 — left-semi + left-anti join against the orders fact. */
  def semiAntiJoin(t: Tables): DataFrame = {
    val okeys = t.orders.select("o_custkey")
    val semi = t.customer.join(okeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(1L).as("has_order"))
    val anti = t.customer.join(okeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(0L).as("has_order"))
    semi.unionAll(anti).orderBy("c_custkey")
  }

  /** C17 — LEFT OUTER join with an ON-clause filter (TPC-H Q13 shape):
    * every customer keeps its row even when NO order survives the
    * predicate, because the predicate lives in the JOIN condition — a
    * WHERE on the right side would drop the null-extended rows and
    * silently turn the outer join inner (the classic outer-join trap).
    * count(o_orderkey) counts only matched rows, so zero-order
    * customers land in the c_count=0 bucket. Output: the distribution
    * of customers by order count.
    *
    * Scale: one shuffle on the customer key serves both the join and
    * the first aggregation (the join's hash partitioning is reused);
    * the second aggregation groups the per-customer counts — at most
    * |distinct counts| rows, map-side partial. */
  def outerJoinDist(t: Tables): DataFrame =
    t.customer.select("c_custkey")
      .join(t.orders.select("o_orderkey", "o_custkey", "o_orderpriority"),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") === "1-URGENT",
        "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** C17b — FULL OUTER join with an ON-clause filter: both null-extension
    * directions in one result. Customers with no urgent order (or failing
    * the balance gate) surface as (segment, NO_ORDER); orders that miss
    * the gate — every non-urgent order, and urgent orders of low-balance
    * customers — surface as (NO_CUSTOMER, priority). A full-outer join
    * cannot broadcast (either side may null-extend), so the sort-merge
    * shuffle on the key is the correct shape at any scale; the aggregate
    * above it is group-count-sized. */
  def fullOuterJoinAgg(t: Tables): DataFrame =
    t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
      .join(
        t.orders.select("o_orderkey", "o_custkey", "o_orderpriority",
          "o_totalprice"),
        col("c_custkey") === col("o_custkey") &&
          col("c_acctbal") > 5000.0 &&
          col("o_orderpriority") === "1-URGENT",
        "full_outer")
      .groupBy(
        coalesce(col("c_mktsegment"), lit("NO_CUSTOMER")).as("segment"),
        coalesce(col("o_orderpriority"), lit("NO_ORDER")).as("priority"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_c"))
      .orderBy("segment", "priority")

  /** C9 — rollup over two grouping levels; NULL grouping keys masked so the
    * oracle comparison is order-stable. */
  def rollupAgg(t: Tables): DataFrame =
    t.orders
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_c"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_c"))
      .orderBy("status", "priority")

  /** C9b — CUBE multi-dimensional aggregate: every (status, priority)
    * subtotal combination in one pass (rollup covers only the
    * hierarchical prefixes). Same partial-agg shuffle shape as C9. */
  def cubeAgg(t: Tables): DataFrame =
    t.orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_c"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_c"))
      .orderBy("status", "priority")

  /** C9c — GROUPING SETS: the general multi-granularity aggregation
    * (rollup and cube are its special cases); one pass produces the
    * (priority, status), (priority), and grand-total granularities.
    * grouping_id disambiguates a rolled-up NULL from a data NULL, so
    * the output needs no sentinel strings. */
  def groupingSetsAgg(t: Tables): DataFrame =
    t.orders
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_c"))
      .select(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"), col("gid"), col("n"), col("sum_c"))
      .orderBy(col("gid"), col("priority").asc_nulls_first,
        col("status").asc_nulls_first)

  /** C6d — RANGE-frame window: a time-based sliding aggregate ("sum of
    * the last hour per user"), where the frame is bounded by the
    * ORDER-BY VALUE (epoch-ms), not row offsets — rows sharing a
    * timestamp always aggregate together, which a ROWS frame cannot
    * express. One user_id shuffle, exact integer cents. */
  def windowRangeSum(t: Tables, spanMs: Long = 3600000L): DataFrame = {
    import graft.functions._
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-spanMs, Window.currentRow)
    t.events
      .withColumn("ts_ms", nanosToMs(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        cents(col("value")).as("v_c"))
      .withColumn("sum_1h_c", sum(col("v_c")).over(w))
      .select("user_id", "event_id", "ts_ms", "sum_1h_c")
      .orderBy("user_id", "ts_ms", "event_id")
  }

  /** C10 — exact discrete percentiles via rank selection (no interpolation ⇒
    * integer output, zero cross-engine float risk). */
  def percentiles(t: Tables): DataFrame = {
    val s = t.events.select(
      col("event_type"), cents(col("value")).as("v_c"), col("event_id"))
    val w = Window.partitionBy("event_type").orderBy(col("v_c"), col("event_id"))
    // group sizes via a broadcast aggregate instead of a whole-partition
    // count window: saves the second sort pass over the full data
    val counts = s.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ranked = s
      .withColumn("rn", row_number().over(w))
      .join(broadcast(counts), "event_type")
    // one window pass for all quantiles: explode the (q, target-rank)
    // pairs instead of unioning two copies of the ranked subtree
    ranked
      .select(col("event_type"), col("v_c"), col("rn"),
        explode(array(
          struct(lit(0.5).as("q"), (floor((col("n") - 1) * 0.5) + 1).as("target")),
          struct(lit(0.9).as("q"), (floor((col("n") - 1) * 0.9) + 1).as("target"))))
          .as("qt"))
      .filter(col("rn") === col("qt.target"))
      .select(col("event_type"), col("qt.q").as("q"), col("v_c"))
      .orderBy("event_type", "q")
  }

  /** C10c — percentile SCALE path: a mergeable quantile sketch
    * (percentile_approx) computed as one partial+final aggregation — no
    * window, no per-key sort, so group cardinality never bounds
    * parallelism (the exact `percentiles` sorts each event_type's full
    * history in one task: correct as a small-SF oracle, fatal at 100 TB).
    * Rows-only driver check; PercentileSpec bounds the sketch against the
    * exact rank selection. */
  def approxPercentiles(t: Tables, accuracy: Int = 10000): DataFrame =
    t.events
      .groupBy("event_type")
      .agg(percentile_approx(cents(col("value")),
        array(lit(0.5), lit(0.9)), lit(accuracy)).as("p"))
      .select(col("event_type"), col("p")(0).as("p50_c"), col("p")(1).as("p90_c"))
      .orderBy("event_type")

  /** C21 — ROBUST outlier census per event_type: median absolute
    * deviation instead of mean/σ (B25's z-score is itself dragged by
    * the outliers it hunts; the MAD breaks down only past 50%
    * contamination). A value is outlying when |v − median| > 3·1.4826·
    * MAD — the Gaussian-consistent 3σ rule, applied as the EXACT
    * integer comparison dev·10000 > 44478·mad_c (no float threshold;
    * 3·1.4826 = 44478/10000 exactly). Medians are the C10 exact rank
    * rule (target = ⌊(n−1)·0.5⌋+1 over (value, event_id) order), in
    * integer cents.
    *
    * Scale shape: ONE scan, ONE exchange — the rank window, both
    * whole-partition median selections, the dev re-rank, and the final
    * census all chain on the same event_type partitioning (the
    * lagMonitor single-scan discipline: the second rank window re-sorts
    * in place, no new shuffle, no broadcast-back join). Exact-tier
    * caveat as `percentiles`: each type's history sorts in one task;
    * the 100 TB path replaces the rank windows with the C10c sketch
    * and keeps the same integer census. `events` is any (event_type,
    * value, event_id) frame. */
  def madOutliersOf(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val all = byType
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val target = floor((col("n") - 1) * 0.5) + 1
    val s = events.select(
      col("event_type"), cents(col("value")).as("v_c"), col("event_id"))
    s
      .withColumn("rn", row_number().over(
        byType.orderBy(col("v_c"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("med_c", max(when(col("rn") === target, col("v_c"))).over(all))
      .withColumn("dev", abs(col("v_c") - col("med_c")))
      .withColumn("rn2", row_number().over(
        byType.orderBy(col("dev"), col("event_id"))))
      .withColumn("mad_c", max(when(col("rn2") === target, col("dev"))).over(all))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("med_c")).as("med_c"),
        max(col("mad_c")).as("mad_c"),
        sum(when(col("dev") * 10000L > col("mad_c") * 44478L, 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"), col("med_c"), col("mad_c"),
        col("n_outliers"),
        call_function("div", col("n_outliers") * 1000L, col("n"))
          .as("outlier_pm"))
      .orderBy("event_type")
  }

  /** C11 — pivot (conditional aggregation) of event counts per user. */
  def pivotEventTypes(t: Tables): DataFrame =
    t.events
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .select(
        col("user_id"),
        coalesce(col("click"), lit(0L)).as("n_click"),
        coalesce(col("error"), lit(0L)).as("n_error"),
        coalesce(col("purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("signup"), lit(0L)).as("n_signup"),
        coalesce(col("view"), lit(0L)).as("n_view"))
      .orderBy("user_id")

  /** C12 — JSON extraction from the string `props` column. */
  def jsonExtract(t: Tables): DataFrame =
    t.events
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") > 50)
      .orderBy("event_id")

  /** C6b — navigation window functions: gap in days since the customer's
    * previous order (lag) and days until the next (lead); one shuffle on
    * o_custkey serves both. */
  def windowLeadLag(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_date"), col("o_orderkey"))
    t.orders
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"))
      .withColumn("prev_gap_days",
        datediff(col("o_date"), lag(col("o_date"), 1).over(w)).cast("long"))
      .withColumn("next_gap_days",
        datediff(lead(col("o_date"), 1).over(w), col("o_date")).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_date"), "yyyy-MM-dd").as("o_date"),
        col("prev_gap_days"), col("next_gap_days"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** C6c — distribution windows: ntile quartiles and percent_rank over
    * order totals per customer segment (the "which quartile is this
    * order in" shape; percent_rank is an exact rational of two window
    * counts, so it is bit-stable cross-engine). */
  def windowNtile(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("price_c"), col("o_orderkey"))
    t.orders
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .orderBy("o_orderkey")
  }

  /** C7b — set operators: INTERSECT and EXCEPT between the BUILDING-segment
    * customer set and the has-open-orders customer set, tagged and unioned
    * into one deterministic result. */
  def setOps(t: Tables): DataFrame = {
    val building = t.customer.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val open = t.orders.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val both = building.intersect(open).withColumn("tag", lit("both"))
    val onlyBuilding = building.except(open).withColumn("tag", lit("building_only"))
    both.unionAll(onlyBuilding).orderBy("tag", "c_custkey")
  }

  /** B-adjacent — stream enrichment: events joined to the customer
    * dimension and aggregated by market segment — the typical first
    * downstream consumer of a tagged fragment stream. Customer is
    * sf-proportional, so no broadcast hint: Catalyst/AQE broadcasts only
    * under the size threshold, otherwise this is a hash-shuffle join on
    * the key (or the bucketed co-located join — BucketingSpec proves that
    * variant shuffle-free for repeated consumption). */
  def enrichEvents(t: Tables): DataFrame =
    t.events
      .join(t.customer, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .orderBy("c_mktsegment")

  /** H10 — the CO-LOCATED variant of [[enrichEvents]]: the same
    * aggregation read from bucketed twins of events and customer
    * ([[graft.sources.Bucketing.materializeEnrich]], built once per
    * session), so the join consumes bucket-aligned files and plans NO
    * exchange on the join key — the repeated-consumption shape at
    * 100 TB, where the enrichment runs daily and the one-time bucketed
    * write amortizes the fact⋈dim shuffle away. The aggregation still
    * shuffles on its (tiny) group key; BucketingSpec pins the
    * exchange-free join, the driver oracle pins result equality with
    * the unbucketed form. */
  def enrichEventsBucketed(t: Tables, sfDir: String): DataFrame = {
    val spark = t.events.sparkSession
    val (ev, cu) = graft.sources.Bucketing.materializeEnrich(t, sfDir)
    spark.table(ev)
      .join(spark.table(cu), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .orderBy("c_mktsegment")
  }

  /** C2b — calendar aggregation: orders per year with exact-cent sums. */
  def yearlyOrders(t: Tables): DataFrame =
    t.orders
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_c"))
      .orderBy("yr")

  /** C1b — string-function projection over part (upper/replace/concat/
    * substring all behave identically in the oracle engine). */
  def stringFuncs(t: Tables): DataFrame =
    t.part.select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      regexp_replace(col("p_type"), " ", "_").as("type_u"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      substring(col("p_name"), 1, 10).as("name10"),
      length(col("p_name")).cast("long").as("name_len"))
      .orderBy("p_partkey")

  /** C20 — one-pass TABLE PROFILING (the Deequ / data-quality class of
    * operator a curation pipeline runs before trusting a new corpus
    * drop): per column, null count, exact distinct cardinality, min and
    * max (cast to string so the long form is type-uniform), and the HLL
    * estimate's bound gate (|approx − exact|·10 ≤ exact, the C10b
    * discipline — the profile carries its own evidence that the
    * approx tier is trustworthy).
    *
    * Scale shape: ONE corpus scan into a single global agg row — the
    * exact multi-column countDistinct plans as the standard Expand
    * (×|cols| row inflation pre-partial-agg), which is the price of the
    * exact tier; a 100 TB deploy drops the exact column and keeps the
    * HLL partials (no Expand, tasks × |cols| sketch partials on the
    * wire — the C10b shape). The per-column long form is a driver-side
    * explode of the ONE agg row, not a second pass. */
  def profileTableOf(df: DataFrame, cols: Seq[String],
      hashDistinct: Set[String] = Set.empty): DataFrame = {
    // wide text columns count distinct over a 64-bit content hash — the
    // D1 exchange discipline (the Expand branch and the distinct agg
    // carry 8 bytes, never the document); the oracle counts raw
    // strings, so a hash collision fails the gate loudly
    def d(c: String) =
      if (hashDistinct(c)) call_function("graft_hash_str", col(c)) else col(c)
    // TWO single-row aggs over the scan, not one: mixing exact
    // multi-distinct with imperative sketches forces every agg through
    // the Expand's two exchange rounds (measured 4.8 s vs 2.3 s split
    // at sf0.1) — the exact tier keeps its Expand over narrow/hashed
    // columns only, the streaming-friendly tier (HLL, nulls, min/max)
    // runs as one straight partial agg, and a 1×1 broadcast cross join
    // reunites them
    val exactAggs = count(lit(1)).as("n_rows") +:
      cols.map(c => countDistinct(d(c)).as(s"${c}_dist"))
    val restAggs = cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      approx_count_distinct(d(c), 0.02).as(s"${c}_adist"),
      min(col(c)).cast("string").as(s"${c}_min"),
      max(col(c)).cast("string").as(s"${c}_max"))
    }
    val one = df.agg(exactAggs.head, exactAggs.tail: _*)
      .crossJoin(broadcast(df.agg(restAggs.head, restAggs.tail: _*)))
    val entries = cols.map { c => struct(
      lit(c).as("col_name"),
      col(s"${c}_nulls").as("n_nulls"),
      col(s"${c}_dist").as("n_distinct"),
      (abs(col(s"${c}_adist") - col(s"${c}_dist")) * lit(10L) <=
        col(s"${c}_dist")).as("within_bound"),
      col(s"${c}_min").as("min_str"),
      col(s"${c}_max").as("max_str"))
    }
    one.select(col("n_rows"), explode(array(entries: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("n_rows"),
        col("e.n_nulls").as("n_nulls"), col("e.n_distinct").as("n_distinct"),
        col("e.within_bound").as("within_bound"),
        col("e.min_str").as("min_str"), col("e.max_str").as("max_str"))
      .orderBy("col_name")
  }

  /** C10b — HLL sketch: approximate distinct users per event type.
    * Rows-only oracle (sketch estimates are engine-specific); the spec
    * bounds the estimate against the exact count. */
  def approxDistinct(t: Tables): DataFrame =
    t.events
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** C10b, ORACLE-CHECKED form: the HLL estimate can't be replayed in
    * SQL, but its ERROR BOUND can — emit the exact distinct count
    * (hash-compared against DuckDB's) plus a within_bound boolean
    * (|estimate − exact| ≤ 10% relative, the AnalyticsSpec bound; the
    * oracle asserts `true`, so an out-of-bound sketch fails the hash
    * gate). Integer arithmetic only — nothing float-fragile. */
  def approxDistinctChecked(t: Tables): DataFrame = {
    val exact = t.events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    approxDistinct(t).join(exact, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) * 10L <=
          col("exact_users")).as("within_bound"))
      .orderBy("event_type")
  }

  /** C10c, ORACLE-CHECKED form: the exact rank-selected quantile values
    * (the hash-exact [[percentiles]] machinery, replayed by the oracle)
    * plus a within_bound boolean — the KLL estimate's empirical CDF
    * must straddle the target rank within 2% (the PercentileSpec bound):
    * count(v < est) ≤ (q+0.02)·n and count(v ≤ est) ≥ (q−0.02)·n, all
    * in integer percent arithmetic. The oracle asserts `true`. */
  def approxPercentilesChecked(t: Tables): DataFrame = {
    val s = t.events.select(col("event_type"), cents(col("value")).as("v_c"))
    val est = approxPercentiles(t)
      .select(col("event_type"), explode(array(
        struct(lit(0.5).as("q"), lit(50L).as("qpct"), col("p50_c").as("est_c")),
        struct(lit(0.9).as("q"), lit(90L).as("qpct"), col("p90_c").as("est_c"))))
        .as("e"))
      .select(col("event_type"), col("e.q").as("q"), col("e.qpct").as("qpct"),
        col("e.est_c").as("est_c"))
    val within = s.join(broadcast(est), "event_type")
      .groupBy("event_type", "q", "qpct")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v_c") < col("est_c"), 1L).otherwise(0L)).as("n_lt"),
        sum(when(col("v_c") <= col("est_c"), 1L).otherwise(0L)).as("n_le"))
      .select(col("event_type"), col("q"),
        (col("n_lt") * 100L <= (col("qpct") + 2L) * col("n") &&
          col("n_le") * 100L >= (col("qpct") - 2L) * col("n"))
          .as("within_bound"))
    percentiles(t).join(within, Seq("event_type", "q"))
      .select(col("event_type"), col("q"), col("v_c"), col("within_bound"))
      .orderBy("event_type", "q")
  }

  /** C18 — CORRELATED scalar subquery (TPC-H Q2 shape): each customer's
    * minimum-price order rows, written as the subquery a SQL user
    * writes. Catalyst DECORRELATES it — the per-row "run a query per
    * outer row" reading becomes one aggregate over the inner side plus
    * one equi-join on the correlation key (two shuffles on o_custkey,
    * no nested execution), which is why the form survives any scale
    * while a literal interpretation would be O(n) queries. */
  def correlatedMinOrder(t: Tables): DataFrame = {
    val spark = t.orders.sparkSession
    // per-call unique view name, dropped once the plan is ANALYZED
    // (spark.sql resolves the view eagerly; execution holds the
    // inlined relation) — a fixed name would clobber a user's view of
    // the same name and race concurrent calls on a shared session
    val vn = "graft_orders_v_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    t.orders.createOrReplaceTempView(vn)
    try spark.sql(
      s"""SELECT o_custkey, o_orderkey,
           cast(round(o_totalprice*100) as bigint) AS price_c
         FROM $vn o
         WHERE o_totalprice = (SELECT min(o2.o_totalprice)
                               FROM $vn o2
                               WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_custkey, o_orderkey""")
    finally { spark.catalog.dropTempView(vn); () }
  }

  /** C22 — iterative WEIGHTED GRAPH CENTRALITY (PageRank) over the
    * customer↔supplier purchase graph — the numeric-fixpoint class the
    * engine's iteration repertoire lacked (D6 components = boolean
    * fixpoint, H9 k-means = vector means): the published web-curation
    * role ranks link-graph nodes to weight crawl sources by importance;
    * here the bipartite graph is customers↔suppliers with edge weight
    * = lineitem count, and the rank surfaces structurally central
    * suppliers.
    *
    * EXACT-INTEGER discipline (the F19 micro-unit rule): ranks live in
    * micro-units (r₀ = 1,000,000), damping 0.85 as the exact rational
    * 17/20, per-edge contribution = (r·17·w) div (20·W_out) in int64
    * (floor ≡ truncation on positives, so Spark's `div` and DuckDB's
    * `//` agree bit-for-bit), teleport = 150,000 — the whole k-round
    * fixpoint replays exactly as k chained CTEs. Symmetric two-node
    * check: r stays exactly 1,000,000 (850,000 + 150,000), so the
    * quantization introduces no drift on regular graphs.
    *
    * Scale shape — the canonical Spark PageRank layout: edges build
    * once (pair-dedup agg + an explicit src repartition), then
    * CACHE — an InMemoryRelation preserves its outputPartitioning
    * through AQE, so every round's rank join finds the edge side
    * already hash-partitioned by src and NEVER re-shuffles the
    * edge-scale relation (localCheckpoint would lose the partitioning
    * under AQE and re-exchange edges every round — measured 3 exchanges vs
    * 1 with AQE off; the cache is robust to both settings). Per round
    * only node-sized data moves: the rank table to the edges'
    * partitioning and the inflow partial-agg by dst. AnalyticsSpec
    * pins the claim structurally: no shuffle in the iteration plan has
    * the edges cache scan beneath it. Ranks are NOT collected — driver
    * state is nil. */
  def supplierPagerank(t: Tables, iters: Int = 6): DataFrame =
    pagerankOf(supplierEdges(t), iters)
      .filter(col("node") < CustomerNodeOffset)
      .select(col("node").as("s_suppkey"), col("r").as("rank_u"))
      .orderBy("s_suppkey")

  // customer ids shifted into a disjoint node-id space; 1e12 (the
  // Snapshot.mergeUpsertQuery rule) because s_suppkey grows 10,000
  // per SF and would cross a 1e7 offset at SF≈1,000 — silently
  // conflating supplier and shifted-customer nodes, invisible to the
  // oracle (which shares the constant)
  private val CustomerNodeOffset = 1000000000000L

  /** supplier_pagerank's graph: one weighted edge each way per
    * (customer, supplier) pair that shares an order line, weighted by
    * the line count; customers sit at [[CustomerNodeOffset]] + key. */
  private[graft] def supplierEdges(t: Tables): DataFrame = {
    val pairs = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .groupBy("c", "s").agg(count(lit(1)).as("w"))
    pairs.select((col("c") + CustomerNodeOffset).as("src"), col("s").as("dst"), col("w"))
      .unionByName(pairs.select(col("s").as("src"),
        (col("c") + CustomerNodeOffset).as("dst"), col("w")))
  }

  /** Library form over any weighted directed edge list (src, dst, w):
    * k rounds of the exact-integer PageRank update; returns (node, r)
    * in micro-units, unordered. The node universe is src ∪ dst;
    * DANGLING nodes (no out-edges) get the standard mass-redistribution
    * term — each round their damped mass is split uniformly as
    * (D·17) div (N·20) per node (exact floor division, so the k-round
    * fixpoint still replays as chained integer CTEs; the ≤N·20-unit
    * floor remainder per round is dropped deterministically, the same
    * rule as every per-edge contribution). Graphs with no dangling
    * nodes — detected ONCE from the node-sized cache, one boolean of
    * driver state — skip the term entirely, keeping their iteration
    * plan minimal (supplier_pagerank's bipartite symmetric graph takes
    * this path, so its benched plan and oracle are unchanged).
    *
    * Overflow headroom (the B25 decimal rule, with a guarded fast
    * path): the per-edge numerator r·17·w crosses int64 near
    * r·w ≈ 5.4e17, which a web-scale hub × heavy edge weight can
    * reach. A per-row bound check (one divide + branch) keeps regular
    * rows on the original int64 arithmetic — no BigDecimal ever
    * allocates on a regular graph — and routes only past-the-wrap rows
    * through decimal(38,0); both branches floor to the identical
    * micro-unit long below the wrap, and above it the value is exact
    * instead of silently negative.
    *
    * Cache lifecycle: the returned plan reads the final round's
    * checkpoint blocks, not the edges/nodes caches. The caches stay
    * persisted after return only so that a repeated invocation over
    * the same input reuses them: Spark's CacheManager keys entries by
    * CANONICALIZED plan, so repeats share one entry rather than
    * accumulating. A caller that is done with a given graph should
    * release them with `spark.catalog.clearCache()` — the
    * MEMORY_AND_DISK default means an unreleased graph degrades to
    * disk, never to OOM. */
  def pagerankOf(edges0: DataFrame, iters: Int): DataFrame =
    pagerankOf(edges0, iters, materializeLast = true)

  /** `materializeLast = false` keeps the FINAL round un-checkpointed so
    * its executed plan exposes one full iteration — the test seam for
    * the structural no-edge-shuffle pin (AnalyticsSpec). Results are
    * identical either way; every deploy/bench path takes the default. */
  private[graft] def pagerankOf(edges0: DataFrame, iters: Int,
      materializeLast: Boolean): DataFrame = {
    val outw = edges0.groupBy("src").agg(sum(col("w")).as("wout"))
    val edges = edges0.join(outw, "src")
      .repartition(col("src"))
      .persist()
    // node universe with the dangling flag, derived from the cached
    // edges (one exchange; dst-only nodes never appear as src)
    val nodes = edges.select(col("src").as("node"), lit(1L).as("out"))
      .unionByName(edges.select(col("dst").as("node"), lit(0L).as("out")))
      .groupBy("node").agg((max(col("out")) === 0L).as("dangling"))
      .persist()
    // model-sized driver scalars, read once from the node-sized cache
    // (one fused action: count + any-dangling)
    val meta = nodes.agg(count(lit(1)), max(col("dangling"))).collect()(0)
    val nTotal = meta.getLong(0)
    val hasDangling = !meta.isNullAt(1) && meta.getBoolean(1)
    // fast path: the numerator stays in int64 whenever r·17·w (and the
    // denominator wout·20) provably fit — one divide + branch per row —
    // so regular graphs never allocate a BigDecimal; only rows past the
    // wrap take the decimal tier, with the identical floored value
    // below it
    // integer FLOOR division for the bound: double `/` loses precision
    // above 2^53, misclassifying rows in the rounding band onto the
    // int64 path where they'd silently wrap; floor-div is conservative
    val fitsLong = col("r") <=
      call_function("div", lit(Long.MaxValue / 17L), col("w")) &&
      col("wout") <= lit(Long.MaxValue / 20L)
    val ct = when(fitsLong,
        call_function("div", col("r") * 17L * col("w"), col("wout") * 20L))
      .otherwise(call_function("div",
        col("r").cast("decimal(38,0)") * 17L * col("w"),
        col("wout").cast("decimal(38,0)") * 20L))
    // ranks stay (node, r) — the dangling flag lives only in the nodes
    // cache, so the no-dangling iteration plan is byte-identical to the
    // pre-dangling layout
    val nodeIds = nodes.select(col("node"))
    var ranks = nodeIds.withColumn("r", lit(1000000L))
    // per-round exchanges are edge-contribution-sized: size their
    // reducer count from the MATERIALIZED edge cache (the meta action
    // above filled it, so InMemoryRelation stats are actual bytes, not
    // estimates), never the session constant — the Dedup
    // connectedComponents rule (guide §2.2) applied to this loop
    val edgeBytes = {
      val s = edges.queryExecution.optimizedPlan.stats.sizeInBytes
      if (s.isValidLong) s.toLong else Long.MaxValue
    }
    val spark = edges.sparkSession
    Dedup.withInitialPartitions(spark,
      Dedup.sizedShufflePartitions(spark, edgeBytes)) {
    for (r <- 1 to iters) {
      val prev = ranks
      val contrib = edges.join(ranks, col("src") === col("node"))
        .select(col("dst"), ct.as("ct"))
        .groupBy("dst").agg(sum(col("ct")).as("inflow"))
      val base = nodeIds.join(contrib, col("node") === col("dst"), "left")
      ranks =
        if (!hasDangling)
          base.select(col("node"),
            (lit(150000L) + coalesce(col("inflow"), lit(0L))).as("r"))
        else {
          // this round's dangling mass D, redistributed uniformly: a
          // node-sized agg broadcast back as one row
          val dmass = ranks
            .join(nodes.filter(col("dangling")).select("node"), "node")
            .agg(coalesce(sum(col("r")), lit(0L)).as("dsum"))
          base.crossJoin(broadcast(dmass))
            .select(col("node"),
              (lit(150000L) + coalesce(col("inflow"), lit(0L)) +
                call_function("div",
                  col("dsum").cast("decimal(38,0)") * 17L,
                  lit(nTotal * 20L).cast("decimal(38,0)"))).as("r"))
        }
      // checkpoint bounds the lineage between rounds — INCLUDING the
      // last (round 20 advice): an un-checkpointed final round would
      // execute lazily after withInitialPartitions restores the
      // caller's conf, putting one full edge-contribution exchange
      // back on the constant session width (the exact spill/OOM class
      // the sizing targets) and dragging the whole iteration lineage
      // into the returned plan (the 2,194-line supplier_pagerank dump).
      // Materialized here, the returned plan is rank-sized blocks.
      if (r < iters || materializeLast) {
        // stage evidence for PlanDump: the final query plan reads the
        // last round's blocks, so the per-round iteration plan (the
        // one the no-edge-shuffle claim is about) is recorded here
        if (r == 1 || r == iters)
          graft.tools.StagePlans.record(ranks, s"pagerank/round_$r")
        ranks = ranks.localCheckpoint()
        // the superseded round's blocks are dead once the new round is
        // stored — free them now (ContextCleaner only unpersists on
        // driver GC, which a big-heap session may not run for the whole
        // job; the connectedComponents release rule)
        Dedup.freeLocalCheckpoint(prev)
      }
    }
    } // withInitialPartitions — every round, last included, ran sized;
      // the returned plan reads the final round's materialized blocks
    ranks
  }

  /** C23 — declarative DATA-QUALITY AUDIT (the Deequ/dbt-test role): a
    * catalog of constraint checks — referential integrity, key
    * uniqueness, null/empty payloads, domain membership — evaluated in
    * one submission, each as the violation COUNT a monitoring system
    * alerts on. Healthy tables audit to all-zero counts (this corpus
    * does — the point of the query); the library forms below are what a
    * user composes over their own tables, and the spec plants each
    * violation class to prove detection.
    *
    * Scale shape: every check is one scan + at most one exchange
    * (anti-join on the key for orphans — parent side broadcast when
    * dim-sized; partial-agg dedup census for uniqueness); checks are
    * independent branches of one union, so the scheduler overlaps
    * them. Nothing collects. */
  def dqAudit(t: Tables): DataFrame = {
    val checks: Seq[(String, DataFrame)] = Seq(
      "customer_orphan_nation" ->
        orphans(t.customer, t.nation, "c_nationkey", "n_nationkey"),
      "documents_duplicate_id" -> duplicateKeys(t.documents, Seq("doc_id")),
      "documents_empty_text" ->
        t.documents.filter(col("text").isNull || length(col("text")) === 0),
      "events_duplicate_id" -> duplicateKeys(t.events, Seq("event_id")),
      "events_negative_value" -> t.events.filter(col("value") < 0),
      "events_null_user" -> t.events.filter(col("user_id").isNull),
      "lineitem_duplicate_line" ->
        duplicateKeys(t.lineitem, Seq("l_orderkey", "l_linenumber")),
      "lineitem_orphan_order" ->
        orphans(t.lineitem, t.orders, "l_orderkey", "o_orderkey"),
      "lineitem_orphan_part" ->
        orphans(t.lineitem, t.part, "l_partkey", "p_partkey"),
      "lineitem_orphan_supplier" ->
        orphans(t.lineitem, t.supplier, "l_suppkey", "s_suppkey"),
      "orders_duplicate_key" -> duplicateKeys(t.orders, Seq("o_orderkey")),
      "orders_orphan_customer" ->
        orphans(t.orders, t.customer, "o_custkey", "c_custkey"),
      "orders_unknown_status" ->
        domainViolations(t.orders, "o_orderstatus", Seq("O", "F", "P")),
      "supplier_orphan_nation" ->
        orphans(t.supplier, t.nation, "s_nationkey", "n_nationkey"))
    checks.map { case (name, viol) =>
      viol.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    }.reduce(_ unionByName _).orderBy("check_name")
  }

  /** C23b/H15 — INLINE observability: the audit counters of [[dqAudit]]
    * piggybacked on a production pass via `Dataset.observe` — the
    * metrics are computed by the SAME scan that serves the query (an
    * AggregatingAccumulator fed from the plan's observe node), so a
    * 100 TB pipeline gets its row-quality telemetry for ZERO extra
    * jobs, scans, or shuffles. Returns the production result plus the
    * [[org.apache.spark.sql.Observation]] whose `get` yields the
    * counters once the query's action completes. Streaming queries get
    * the same numbers per micro-batch via
    * `StreamingQueryProgress.observedMetrics` — same plan node. */
  def observedSourceCensus(t: Tables)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("graft_dq")
    val observed = t.documents.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("n_empty_text"),
      sum(length(col("text")).cast("long")).as("total_chars"))
    val result = observed.groupBy("source")
      .agg(count(lit(1)).as("n_docs")).orderBy("source")
    (result, obs)
  }

  /** Referential-integrity violations: child rows whose foreign key has
    * no parent (NULL keys excluded — that is the null check's job). */
  def orphans(child: DataFrame, parent: DataFrame,
      fk: String, pk: String): DataFrame =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")

  /** Key-uniqueness violations: one row per key value occurring > 1
    * times (so the count is "how many keys are duplicated"). */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Domain-membership violations: rows whose column is outside the
    * allowed value set (NULL counts as a violation — an enum column
    * must be populated). */
  def domainViolations(df: DataFrame, c: String, allowed: Seq[String]): DataFrame =
    df.filter(col(c).isNull || !col(c).isin(allowed: _*))

  /** C13 — scalar-aggregate filter (orders above global average price); the
    * 1-row average is broadcast, not recomputed per row. */
  def aboveAvgFilter(t: Tables): DataFrame = {
    val avgRow = t.orders.agg(
      (sum(cents(col("o_totalprice"))).cast("double") / count(lit(1))).as("avg_c"))
    t.orders
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
      .crossJoin(broadcast(avgRow))
      .filter(col("price_c") > col("avg_c"))
      .select("o_orderkey", "price_c")
      .orderBy("o_orderkey")
  }
}
