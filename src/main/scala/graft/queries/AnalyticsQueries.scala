package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.core.Tables

/** General analytics surface (SURVEY.md §2.2): joins, windows, grouping
  * sets, set ops, sessionization, event-time windows, as-of join — the
  * query families a user of any analytics engine reaches for first.
  *
  * Scale design notes (audited via `.explain` in BENCH):
  *  - dimension joins (`region`, `nation`, small filtered sides) are
  *    explicitly `broadcast()`; fact-fact joins shuffle on the join key
  *    only after filter pushdown (`PushedFilters` reaches the scan).
  *  - windows partition by a bounded key (customer / user / brand), never
  *    an unpartitioned global window.
  *  - sessionization is lag+cumsum per user (state bounded per key);
  *    event-time windows use `window()`, which aggregates map-side.
  *  - the as-of join is ONE shuffle (union + per-key window), not a
  *    range-join explosion and not per-row lookups.
  *
  * Float determinism for oracle parity (SURVEY.md §4): sums of 2-decimal
  * money go through DECIMAL(18,2); per-row derived money (price×(1−disc))
  * through DECIMAL(18,4); free-form doubles through DECIMAL(28,10). Each
  * is exact under any summation order, then ONE cast to double.
  */
object AnalyticsQueries {

  /** Exact sum of a 2-decimal money column → double. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact average of a 2-decimal column → double (one IEEE division). */
  private def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Per-row revenue `extprice × (1 − discount)` has ≤4 decimal digits;
    * DECIMAL(18,4) makes the sum order-independent. */
  private def revenueSum: Column =
    sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
      .cast(DoubleType)

  // ---- §2.2 query implementations ----

  /** q1: multi-aggregate scan (TPC-H Q1 shape). Filter pushed to the
    * parquet scan; one hash aggregate with map-side partials. */
  def pricingSummary(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revenueSum.as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** q3: 3-way join + agg + top-k (TPC-H Q3 shape). The customer side is
    * segment-filtered then broadcast; orders⋈lineitem shuffles on the
    * order key. Top-k compiles to TakeOrderedAndProject (no global sort). */
  def shippingPriority(t: Tables): DataFrame =
    t.customer.filter(col("c_mktsegment") === "BUILDING")
      .join(t.orders.filter(col("o_orderdate") < lit("1998-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(t.lineitem.filter(col("l_shipdate") > lit("1998-01-01")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(revenueSum.as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)

  /** q5: 6-way join through the star schema (TPC-H Q5 shape). region and
    * nation broadcast; the fact chain shuffles once per key change. */
  def localSupplier(t: Tables): DataFrame =
    broadcast(t.region.filter(col("r_name") === "ASIA"))
      .join(broadcast(t.nation), col("r_regionkey") === col("n_regionkey"))
      .join(t.customer, col("n_nationkey") === col("c_nationkey"))
      .join(t.orders.filter(col("o_orderdate") >= lit("1996-01-01") &&
                            col("o_orderdate") < lit("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(t.supplier,
        col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(revenueSum.as("revenue"))

  /** Broadcast hash join of small dims — the plan must show
    * BroadcastHashJoin, zero shuffle on the dim side. */
  def broadcastDim(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))

  /** Left-semi (EXISTS): customers with at least one big order. */
  def semiJoin(t: Tables): DataFrame =
    t.customer
      .join(t.orders.filter(col("o_totalprice") > 100000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** Left-anti (NOT EXISTS): customers with no order in 2001+. */
  def antiJoin(t: Tables): DataFrame =
    t.customer
      .join(t.orders.filter(col("o_orderdate") >= lit("2001-01-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Top-N per group via row_number window (bounded partitions: brand). */
  def windowTopN(t: Tables, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(desc("p_retailprice"), asc("p_partkey"))
    t.part
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("p_brand"), col("p_partkey"), col("p_name"), col("p_retailprice"), col("rn"))
  }

  /** Running sum + lag over an ordered per-customer partition. Running
    * money goes through DECIMAL so every prefix sum is exact. */
  def windowRunning(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(asc("o_orderdate"), asc("o_orderkey"))
    t.orders.select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast(DoubleType).as("running_spend"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"))
  }

  /** Multi-column count(distinct) — Catalyst plans this as Expand +
    * two-phase aggregate, partials map-side. */
  def distinctAgg(t: Tables): DataFrame =
    t.lineitem.groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_partkey")).as("nd_parts"),
      countDistinct(col("l_suppkey")).as("nd_supps"),
      countDistinct(col("l_orderkey")).as("nd_orders"),
      count(lit(1)).as("n"))

  /** Scale-safe distinct counts: HyperLogLog++ sketches (fixed-size
    * partials, mergeable map-side, no Expand blow-up). The engine API
    * for 100 TB interactive use; `rsd` 0.01 ⇒ ~1% relative error with
    * a few KB of state per group. The exact variant stays as the
    * oracle-checked path; this mode is a first-class benched key
    * (`q_distinct_agg_approx`, the q_profile_hll convention) —
    * rows-only by design (HLL++ register values are engine-side), with
    * the ScaleOpsSpec differential bounding every column within 2% of
    * exact. */
  def distinctAggApprox(t: Tables, rsd: Double = 0.01): DataFrame =
    t.lineitem.groupBy(col("l_returnflag")).agg(
      approx_count_distinct(col("l_partkey"), rsd).as("nd_parts"),
      approx_count_distinct(col("l_suppkey"), rsd).as("nd_supps"),
      approx_count_distinct(col("l_orderkey"), rsd).as("nd_orders"),
      count(lit(1)).as("n"))

  /** The in-plan sketch-accuracy CHECK for [[distinctAggApprox]] — the
    * hash-checkable twin of `q_distinct_agg_approx` (whose raw HLL++
    * estimates have no DuckDB replay by construction): ONE grouped
    * aggregate computes BOTH the exact multi-distinct and the sketches,
    * and the output carries the exact counts plus a per-column
    * `*_within_2pct` = 1 iff |sketch − exact| ≤ tol·exact. The DuckDB
    * oracle recomputes the exact side and emits literal 1s, so a hash
    * MATCH positively certifies every sketch sat inside the declared
    * bound — the driver-visible form of Verify's spec-bound print. */
  def distinctAggCheck(t: Tables, rsd: Double = 0.01, tol: Double = 0.02): DataFrame = {
    def within(a: Column, e: Column): Column =
      (abs(a - e).cast("double") <= lit(tol) * e.cast("double")).cast("long")
    t.lineitem.groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"),
        countDistinct(col("l_orderkey")).as("nd_orders"),
        approx_count_distinct(col("l_partkey"), rsd).as("a_parts"),
        approx_count_distinct(col("l_suppkey"), rsd).as("a_supps"),
        approx_count_distinct(col("l_orderkey"), rsd).as("a_orders"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("nd_parts"), col("nd_supps"),
        col("nd_orders"), col("n"),
        within(col("a_parts"), col("nd_parts")).as("parts_within_2pct"),
        within(col("a_supps"), col("nd_supps")).as("supps_within_2pct"),
        within(col("a_orders"), col("nd_orders")).as("orders_within_2pct"))
  }

  /** ROLLUP grouping sets; rolled-up levels surfaced as 'ALL' (NULL
    * markers coalesced so the oracle compare is unambiguous). */
  def rollupOrders(t: Tables): DataFrame =
    t.orders.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_price"))

  /** CUBE grouping sets — all four (status, priority) combinations in
    * one Expand-based aggregate pass (complements ROLLUP's hierarchy). */
  def cubeOrders(t: Tables): DataFrame =
    t.orders.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_price"))

  /** Arbitrary GROUPING SETS — the non-hierarchical selection neither
    * ROLLUP nor CUBE expresses: (status, priority) detail, a
    * priority-only margin WITHOUT the status margin, and the grand
    * total, in ONE Expand-based aggregate pass (one scan, one shuffle —
    * the same plan class as rollup/cube; a UNION ALL of three
    * aggregates would scan three times). */
  def groupingSetsOrders(t: Tables): DataFrame =
    t.orders.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total_price"))

  /** Pivot with an explicit value list (no collect-distinct pre-pass —
    * at 100 TB an implicit pivot would scan once just to enumerate). */
  def pivotStatus(t: Tables): DataFrame =
    t.lineitem.groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"))

  /** UNION / INTERSECT / EXCEPT over nation-key sets, tagged per branch.
    *
    * All three set operations derive from ONE full-outer join of the two
    * distinct key sets (presence flags → tags via explode): 2 distinct
    * aggregations + 1 join instead of the literal three-branch plan's
    * repeated shuffles (8 exchanges → 3; audited). Results are identical
    * to the textbook UNION/INTERSECT/EXCEPT the oracle runs. */
  def setOps(t: Tables): DataFrame = {
    val custNations = t.customer.select(col("c_nationkey").as("nationkey"))
      .distinct().withColumn("in_c", lit(true))
    val richSuppNations = t.supplier.filter(col("s_acctbal") >= 8000)
      .select(col("s_nationkey").as("nationkey")).distinct().withColumn("in_s", lit(true))
    custNations.join(richSuppNations, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        explode(array_compact(array(
          lit("union"),
          when(col("in_c") && col("in_s"), "intersect"),
          when(col("in_c") && col("in_s").isNull, "except")))).as("op"))
  }

  /** String funcs (substr/upper/regexp) + date_trunc/extract, aggregated
    * so the output is compact at any scale. */
  def stringDate(t: Tables): DataFrame =
    t.orders.select(
      date_trunc("month", col("o_orderdate")).as("order_month"),
      year(col("o_orderdate")).as("order_year"),
      quarter(col("o_orderdate")).as("order_quarter"),
      substring(col("o_orderpriority"), 1, 1).as("prio_num"),
      upper(regexp_extract(col("o_orderpriority"), "^\\d-(.+)$", 1)).as("prio_word"))
      .groupBy(col("order_month"), col("order_year"), col("order_quarter"),
        col("prio_num"), col("prio_word"))
      .agg(count(lit(1)).as("n"))

  /** Sessionization: gap > 30 min ⇒ new session, via the generic
    * [[graft.ops.Temporal.sessionize]] operator (ONE shuffle on user_id,
    * reused by both window functions and the final aggregate). */
  def sessionize(t: Tables, gapMinutes: Int = 30): DataFrame =
    graft.ops.Temporal.sessionize(
      t.events.select(col("user_id"), col("ts"), col("event_id")),
      key = "user_id", ts = "ts", tieBreak = "event_id", gapMinutes = gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))

  /** Tumbling 1-hour event-time windows per event_type via `window()` —
    * aggregates map-side before the shuffle, unlike a sort-based bucketing. */
  def eventWindows(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 10))).cast(DoubleType).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** As-of join: each purchase ↔ the most recent click with
    * click.ts ≤ purchase.ts for the same user (ties on ts broken by the
    * larger event_id; purchases with no prior click are kept with
    * nulls) — the generic [[graft.ops.Temporal.asof]] operator applied
    * to purchases/clicks. One shuffle; no range-join explosion. */
  def asofJoin(t: Tables): DataFrame = {
    val e = t.events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_event_id"), col("value").as("click_value"))
    graft.ops.Temporal.asof(purchases, clicks,
      on = "user_id", leftTs = "ts", rightTs = "click_ts",
      rightPayload = Seq("click_ts", "click_event_id", "click_value"),
      rightTieBreak = "click_event_id")
      .select(
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("event_id").as("purchase_event_id"),
        col("asof_click_ts").as("click_ts"),
        col("asof_click_event_id").as("click_event_id"),
        col("asof_click_value").as("click_value"))
  }

  /** Time-RANGE window frame: per-customer 90-day trailing spend.
    * Ordered by an integer epoch column so the frame is a deterministic
    * µs range in both engines; money through DECIMAL as always. */
  def movingAvg(t: Tables, days: Int = 90): DataFrame = {
    val spanUs = days.toLong * 86400L * 1000000L
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("order_epoch_us"))
      .rangeBetween(-spanUs, 0)
    t.orders
      // NTZ → timestamp is an identity under the UTC session timezone
      .withColumn("order_epoch_us", unix_micros(col("o_orderdate").cast("timestamp")))
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast(DoubleType) /
          count(lit(1)).over(w)).as("trailing_avg"),
        count(lit(1)).over(w).as("n_in_window"))
      .drop("order_epoch_us")
  }

  /** Pearson correlation + OLS regression per group — with EXACT
    * aggregation: `corr()`/`covar_*` accumulate doubles and are
    * summation-order-dependent (different per partitioning, per
    * engine); here every moment (Σx, Σy, Σx², Σxy, Σy²) is a
    * DECIMAL-exact sum of ≤4-decimal products, converted once to
    * double (all magnitudes stay inside the 2⁵³ exact-integer range at
    * any realistic group size, so the conversion is value-exact), and
    * corr/slope/intercept are each ONE closed-form double expression
    * mirrored verbatim in the oracle. The rounded ratios can cross zero
    * from below, and `ROUND` keeps IEEE −0.0 in DuckDB but not in
    * Spark's BigDecimal HALF_UP round — `+ 0.0` after the round
    * (−0.0 + 0.0 = +0.0) normalizes the sign on BOTH sides so the
    * byte-level hash compare can't diverge on a signed zero. One
    * map-side-combined hash aggregate — the same scan shape as q1. */
  def corrRegression(lineitem: DataFrame): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(18, 2))
    val y = col("l_discount").cast(DecimalType(18, 2))
    def m(c: Column) = sum(c.cast(DecimalType(38, 4))).cast(DoubleType)
    def r4(c: Column) = round(c, 4) + lit(0.0)
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"), sum(y).cast(DoubleType).as("sy"),
        m(x * x).as("sxx"), m(x * y).as("sxy"), m(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        r4((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_disc"),
        r4((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        r4((col("sy") * col("sxx") - col("sx") * col("sxy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("intercept"))
  }

  /** Argmax aggregate: the highest-value order per status via `max_by`
    * with a packed deterministic ordering key (cents ⊕ orderkey). */
  def argmaxOrder(t: Tables): DataFrame =
    t.orders
      // round, don't truncate: 0.29*100 is 28.999… as a double; Spark's
      // cast truncates while DuckDB's rounds — round() agrees with the
      // oracle and keeps one-cent-apart prices correctly ordered
      .withColumn("ordkey",
        round(col("o_totalprice") * 100).cast("bigint") * lit(10000000000L) + col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("max_by(o_orderkey, ordkey)").as("top_orderkey"),
        max(col("o_totalprice")).as("top_totalprice"),
        count(lit(1)).as("n"))

  /** ntile quartiles of customers by account balance within segment —
    * the bucketing window family (ntile/percent_rank). */
  def ntileCustomers(t: Tables, buckets: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(asc("c_acctbal"), asc("c_custkey"))
    t.customer.select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      ntile(buckets).over(w).as("balance_quartile"))
  }

  /** FULL OUTER join: nations having rich customers vs nations having
    * rich suppliers — both sides partial, nulls in both directions. */
  def fullOuter(t: Tables): DataFrame = {
    val poorCust = t.customer.filter(col("c_acctbal") < -900)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_poor_customers"))
    val richSupp = t.supplier.filter(col("s_acctbal") >= 8000)
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_rich_suppliers"))
    poorCust.join(richSupp, Seq("nationkey"), "full_outer")
  }

  /** Fixed-width numeric histogram of order values — the profiling
    * aggregate behind any distribution dashboard. Bucket index is
    * `floor(x / width)` (IEEE division + floor are bit-identical across
    * engines, so bucket edges are deterministic); one scan with map-side
    * combine into ~dozens of buckets — the cheapest possible shape at
    * any corpus size. Exact decimal sum per bucket. */
  def histogram(t: Tables, width: Double = 20000.0): DataFrame =
    t.orders
      .select(floor(col("o_totalprice") / width).cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total_price"))
      .withColumn("bucket_lo", col("bucket") * width)

  /** Proximity join over the event stream: ordered pairs of same-user
    * events within 5 minutes — the banded θ-join (`Temporal
    * .proximityJoin`: equi-join on (user, time-bucket), never a per-user
    * cartesian) that backs co-occurrence / attribution analyses. */
  def proximityPairs(t: Tables, windowMinutes: Int = 5): DataFrame =
    graft.ops.Temporal.proximityJoin(
      t.events.select(col("user_id"), col("ts"), col("event_id")),
      key = "user_id", ts = "ts", id = "event_id", windowMinutes = windowMinutes)

  /** Weekly cohort retention: users bucketed by first-seen week, counted
    * per (cohort, week-offset) of later activity — the product-analytics
    * staple. Plan: distinct (user, week) first (map-side combine takes
    * the shuffle from |events| down to |user-weeks|), cohort via a
    * per-user window min (no second scan of events), then one final
    * aggregate. All three exchanges carry only user-week rows; at 100 TB
    * the heavy input collapses in the first partial aggregate. The
    * offset is exact integer days/7 — both engines truncate the same
    * Monday-aligned weeks. */
  def cohortRetention(t: Tables): DataFrame = {
    val userWeeks = t.events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    userWeeks
      .withColumn("cohort_week", min(col("wk")).over(w))
      .withColumn("week_offset", (datediff(col("wk"), col("cohort_week")) / lit(7)).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Time-grid resample + gap fill: each user's daily activity on a
    * dense per-user calendar (first to last active day), zero-filled
    * event counts and last-observation-carried-forward daily totals —
    * the telemetry/feature-store regularization step. The grid is built
    * per key with `sequence()` (output bounded by span×keys, never a
    * global calendar cross-join); the LOCF is one per-user ordered
    * window over the grid. Day totals go through DECIMAL(28,10) so the
    * carried value is bit-identical to the oracle's. */
  def resampleDaily(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 10))).cast(DoubleType).as("day_total"))
    val grid = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        col("day_total"),
        last(col("day_total"), ignoreNulls = true).over(w).as("filled_total"))
  }

  /** Ranking-window suite: percent_rank / cume_dist / nth_value over a
    * deterministic (balance, key) order per market segment — the
    * remaining window-function family §2.2 didn't already cover. The
    * order key is unique, so the rank doubles are the same IEEE
    * divisions in any engine; rounded to 4 per the float policy. */
  def rankSuite(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(asc("c_acctbal"), asc("c_custkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t.customer.select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      round(percent_rank().over(w), 4).as("pct_rank"),
      round(cume_dist().over(w), 4).as("cume"),
      nth_value(col("c_custkey"), 2).over(full).as("second_poorest_key"),
      last(col("c_custkey")).over(full).as("richest_key"))
  }

  /** Key-distribution skew report: the top-k hottest keys of a fact
    * table with their share of all rows and hotness (count / mean
    * count) — the governance artifact behind every salting decision
    * (q_skew_agg/q_skew_join pick their guards from exactly this
    * shape; at 100 TB you run this BEFORE choosing a join strategy).
    *
    * Plan: one map-side-combined key count, then TakeOrdered(k) for
    * the hot list and a 1-ROW global aggregate (total, n_keys)
    * crossJoined onto the k rows — the t_bm25 corpus-stats shape, a
    * broadcast of one row, never a single-partition window over the
    * unbounded key-count frame. All-integer numerators, one double
    * division each, ROUND(,4)+0.0. */
  def skewReport(t: Tables, k: Int = 5): DataFrame = {
    val counts = t.events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("user_id").asc).limit(k)
    val stats = counts.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
    top.crossJoin(broadcast(stats))
      .select(col("user_id"), col("n"),
        (round(col("n") / col("total"), 4) + lit(0.0)).as("share"),
        (round(col("n") * col("n_keys") / col("total"), 4) + lit(0.0)).as("hotness"))
  }

  /** Incremental aggregate maintenance — the two-level rollup pattern
    * every 100 TB ETL runs: the WEEKLY report is computed from the
    * materialized DAILY partials (count/sum re-merge; avg recomposed
    * from the merged sums at the end), never from raw history. The
    * algebraic-merge property (partials of partials ≡ direct) is what
    * makes a day's late data a one-partition patch instead of a
    * full-history rescan — spec-proven equal to the direct weekly
    * aggregate over raw events. Sums ride DECIMAL(18,2) end to end
    * (exact merge, any order), ONE double division for the avg. */
  def aggMerge(t: Tables): DataFrame =
    weeklyFromDaily(dailyPartials(t.events))

  /** First level of [[aggMerge]]: per-(user, day) purchase partials —
    * the unit the streaming maintainer ([[graft.streaming.AggMergeStream]])
    * appends per micro-batch. Algebraic (count/sum), so partials of
    * partials re-merge exactly. */
  def dailyPartials(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("total"))

  /** Second level of [[aggMerge]]: the weekly report off (merged) daily
    * partials. Input contract: ONE row per (user_id, day) — re-merge
    * multi-batch partials first (`AggMergeStream.daily`). */
  def weeklyFromDaily(daily: DataFrame): DataFrame =
    daily
      .groupBy(col("user_id"), date_trunc("week", col("day")).cast("date").as("week"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("total")).as("total_value"),
        count(lit(1)).as("n_days"))
      // avg rounded HALF-UP in EXACT integer arithmetic: the previous
      // ROUND(dbl-quotient, 4) hit decimal TIES at sf0.1 (a total of
      // 282.59 over 8 events = 35.32375 — Java BigDecimal sees the
      // binary expansion just below the tie while DuckDB's scaled
      // multiply lands on it, so 3 of 6644 rows hash-mismatched).
      // `total` is DECIMAL(·,2), so total×100 is an exact integer of
      // cents and round-half-away(total/n, 4) =
      // sign(cents)·((200·|cents| + n) div (2n)) / 10⁴ — tie-free on
      // both engines by construction. SIGN-STABLE: the division runs on
      // the absolute value only, so it never depends on an engine's
      // negative-operand convention (both Spark DIV and DuckDB //
      // truncate toward zero, measured, but nothing here relies on it)
      // — a refund/credit row with a negative weekly total rounds half
      // AWAY FROM ZERO identically on both engines.
      .withColumn("__cents", (col("total_value") * 100).cast("long"))
      .select(col("user_id"), col("week"), col("n_events"),
        col("total_value").cast("double").as("total_value"), col("n_days"),
        (expr("CAST(CAST(SIGN(__cents) AS BIGINT) * " +
            "((200 * ABS(__cents) + n_events) DIV (2 * n_events)) AS DOUBLE)")
          / lit(10000.0) + lit(0.0)).as("avg_value"))

  /** Grouped ROBUST statistics — median / MAD / outlier count per
    * market segment (the outlier-resistant complement of the moment
    * family: one corrupt feed can move a mean/std arbitrarily, median
    * and MAD have a 50% breakdown point — Hampel's rule `|x − med| >
    * 3·MAD` is the standard data-quality cut). Median and MAD are
    * PICKED data values (lower-neighbor rank ⌈n/2⌉ under the total
    * (value, key) order — the house percentile convention), so no
    * float arithmetic is manufactured: `|x − med|` and the 3·MAD
    * compare are the same IEEE ops in any engine, hash-exact with no
    * rounding discipline needed.
    *
    * Plan: two (rank-pass) windows + one aggregate, all partitioned by
    * the segment key — 3 shuffles on a #groups-bounded key (segments).
    * At 100 TB over an UNBOUNDED group key or raw populations, switch
    * to the sketch convention (`percentile_approx`, the
    * normReportApprox protocol) — MAD then needs two sketch passes
    * (med first, then |x−med|), same shape. */
  def robustStats(customer: DataFrame): DataFrame = {
    val seg = col("c_mktsegment")
    val wn = Window.partitionBy(seg)
    val w1 = wn.orderBy(asc("c_acctbal"), asc("c_custkey"))
    val firstPass = customer
      .select(seg, col("c_acctbal"), col("c_custkey"))
      .withColumn("rn", row_number().over(w1))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("med",
        max(when(col("rn") === expr("(n + 1) div 2"), col("c_acctbal"))).over(wn))
      .withColumn("absdev", abs(col("c_acctbal") - col("med")))
    val w2 = wn.orderBy(asc("absdev"), asc("c_custkey"))
    firstPass
      .withColumn("rn2", row_number().over(w2))
      .withColumn("mad",
        max(when(col("rn2") === expr("(n + 1) div 2"), col("absdev"))).over(wn))
      .groupBy(seg)
      .agg(count(lit(1)).as("n_customers"),
        max(col("med")).as("median"),
        max(col("mad")).as("mad"),
        sum(when(col("absdev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Year-over-year growth per month — the comparative time-series
    * report every revenue dashboard ships: monthly order count +
    * DECIMAL-exact revenue, each month LEFT-joined to itself 12 months
    * back, yoy_pct = (rev − prev)/prev. A self-join on the month KEY
    * rather than lag(12) over a dense window: a missing month (data
    * gap) must yield NULL, not silently compare against the 12th
    * PRESENT row back — correctness over a sparse calendar.
    *
    * Plan: one month aggregate (map-side combined, ≤ #months rows),
    * then a self-join of that tiny frame on an integer month index
    * (year·12+month — engine-exact arithmetic, no interval coercion);
    * cost is the scan + one #months-row join at any corpus size.
    * Revenue sums DECIMAL(18,2); ONE double division, ROUND(,4). */
  def yoyRevenue(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val mo = orders
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      .withColumn("mix", year(col("month")) * 12 + month(col("month")))
    val prev = mo.select(col("mix").as("pmix"), col("rev").as("prev_rev"))
    mo.join(prev, col("mix") === col("pmix") + 12, "left")
      .select(col("month"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        col("prev_rev").cast("double").as("prev_revenue"),
        when(col("prev_rev").isNull || col("prev_rev") === 0, lit(null).cast("double"))
          .otherwise(round((col("rev") - col("prev_rev")).cast("double")
            / col("prev_rev").cast("double"), 4) + lit(0.0)).as("yoy_pct"))
  }

  /** Cumulative unique users per week — growth-curve reporting WITHOUT
    * a distinct-over-window (which Spark cannot express and a naive
    * engine computes as an O(weeks × users) rescan): a user's first
    * active week is a plain min-aggregate, new-user counts per week
    * follow, and the cumulative curve is a running sum over the
    * ≤ #weeks-row aggregate (the documented tiny-frame unpartitioned
    * window). n_active (distinct users that week) rides the same
    * user-week frame for the new-vs-returning read.
    *
    * Plan: one DISTINCT user-week collapse (the q_cohort_retention
    * first stage — events collapse before anything else), one min per
    * user, two tiny aggregates, one ≤ #weeks window. Every shuffle key
    * is user_id or week; nothing rescans history. */
  def cumeUsers(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val active = uw.groupBy(col("week")).agg(count(lit(1)).as("n_active"))
    val firstWeek = uw.groupBy(col("user_id")).agg(min(col("week")).as("week"))
      .groupBy(col("week")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("week")).rowsBetween(Window.unboundedPreceding, 0)
    active.join(firstWeek, Seq("week"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_cume", sum(col("n_new")).over(w))
  }

  /** DAU / WAU stickiness per day — the engagement ratio every product
    * dashboard tracks, and the OTHER windowed-distinct trap ([[q_cume_users]]
    * avoids the cumulative one): WAU(d) = distinct users over [d−6, d]
    * is a distinct-over-sliding-window, inexpressible as a Spark
    * window and an O(days × users) rescan if computed naively. The
    * scalable form inverts it: each distinct user-DAY supports the 7
    * window ends d..d+6, so a bounded ×7 explode + one distinct +
    * one count aggregate computes every window in one pass.
    *
    * Plan: user-day collapse (the cohort first stage), DAU aggregate,
    * the ×7 date explode (integer fan-out, key columns only) →
    * distinct → WAU aggregate, inner join (drops past-corpus phantom
    * window ends). stickiness = DAU/WAU, ONE division, ROUND(,4). */
  def stickiness(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("i")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (round(col("dau").cast("double") / col("wau"), 4) + lit(0.0)).as("stickiness"))
  }

  /** ORDERED event funnel — view → click → purchase conversion with
    * the time-ordering constraint (a purchase BEFORE the first view
    * does not convert): per user, the FIRST timestamp of each step is
    * one conditional min-aggregate; the user reaches step k iff every
    * prior first-timestamp exists and is non-decreasing (ties count —
    * exact µs integers compare identically everywhere). The
    * user-journey complement of d_pipeline_funnel's document funnel
    * and q_cohort_retention's calendar retention.
    *
    * Plan: ONE user-keyed aggregate (conditional mins, map-side
    * combined), ONE 1-row global aggregate of the reach flags, then a
    * literal |steps|-row explode — no self-joins, no window over raw
    * events, cost = the scan at any history size. Counts exact
    * integers; conversion = ONE division, ROUND(,4). */
  def eventFunnel(events: DataFrame,
                  steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs steps")
    val firsts = events.filter(col("event_type").isin(steps: _*))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === steps.head, col("ts"))).as("t0"),
        steps.tail.zipWithIndex.map { case (s, i) =>
          min(when(col("event_type") === s, col("ts"))).as(s"t${i + 1}")
        }: _*)
    val reached: Seq[Column] = steps.indices.scanLeft(lit(true)) { (acc, k) =>
      if (k == 0) col("t0").isNotNull
      else acc && col(s"t$k").isNotNull && col(s"t${k - 1}") <= col(s"t$k")
    }.tail
    val totals = firsts.agg(
      sum(reached.head.cast("long")).as("n0"),
      reached.tail.zipWithIndex.map { case (e, i) =>
        sum(e.cast("long")).as(s"n${i + 1}")
      }: _*)
    totals.select(explode(array(steps.zipWithIndex.map { case (s, i) =>
      struct(lit(i + 1).as("step_idx"), lit(s).as("step"),
        col(s"n$i").as("n_users"),
        (round(col(s"n$i").cast("double") / col("n0"), 4) + lit(0.0)).as("frac"))
    }: _*)).as("x")).select(col("x.*"))
  }

  /** Market-basket co-occurrence with LIFT — association mining's
    * first report (Agrawal et al. 1993 lineage): for part pairs bought
    * in the same order, support = P(a,b) and lift =
    * P(a,b)/(P(a)·P(b)) — lift ≫ 1 is a real affinity, ≈ 1 is
    * coincidence of two popular items (what raw co-counts can't
    * separate). Top-k pairs by lift over a minimum pair count.
    *
    * Plan: the (order, part) DISTINCT collapse first, then a self-join
    * ON THE ORDER KEY — per-order fan-out is C(items/order, 2), a
    * BOUNDED constant (TPC-H ≤ 7 items ⇒ ≤ 21 pairs), never corpus²
    * (the q_proximity_join genre); pair counts aggregate map-side; the
    * 1-row order-count frame crossJoins on (the t_bm25 stats shape);
    * ranking is TakeOrdered on the raw double lift (IEEE-identical
    * from exact integer counts) with a (part_a, part_b) tie-break.
    * Counts exact integers; support/lift ROUND once at the end. */
  def basketLift(lineitem: DataFrame, minPairCount: Long = 3L, k: Int = 20): DataFrame = {
    // the distinct collapse feeds the order-count aggregate, the
    // per-part counts AND both self-join sides — four evaluations of the
    // scan+distinct without reuse. Lazily cached so the collapse is paid
    // once per action. Caching it REPARTITIONED by the order key (the
    // Catalog shingle-index recipe) measured WORSE, 1.36 -> 1.92 s: the
    // self-join's two exchanges were already deduplicated by
    // ReuseExchange, so the extra cache-populate shuffle bought nothing.
    val op = lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .cache()
    val nOrders = broadcast(op.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_orders")))
    val pc = op.groupBy(col("p")).agg(count(lit(1)).as("c"))
    val pairs = op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("part_a"), col("b.p").as("part_b"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= minPairCount)
    pairs
      .join(pc.select(col("p").as("part_a"), col("c").as("ca")), "part_a")
      .join(pc.select(col("p").as("part_b"), col("c").as("cb")), "part_b")
      .crossJoin(nOrders)
      .withColumn("lift_raw",
        (col("nab").cast("double") * col("n_orders")) / (col("ca") * col("cb")))
      .orderBy(desc("lift_raw"), asc("part_a"), asc("part_b"))
      .limit(k)
      .select(col("part_a"), col("part_b"), col("nab"),
        (round(col("nab").cast("double") / col("n_orders"), 6) + lit(0.0)).as("support"),
        (round(col("lift_raw"), 4) + lit(0.0)).as("lift"))
  }

  /** Revenue-concentration (Gini) report per order priority — the
    * inequality measure behind "does 1% of orders carry 50% of
    * revenue": G = 2·Σᵢ(i·xᵢ)/(n·Σx) − (n+1)/n over values sorted
    * ascending with rank i (the exact sample Gini from the Lorenz
    * order statistic; 0 = perfectly even, (n−1)/n = one order carries
    * everything). Concentration drives skew-handling policy — a
    * high-Gini key is exactly where salting and AQE skew splits pay.
    *
    * Determinism: the rank order is total ((value, orderkey)), the
    * moment sums are exact DECIMAL (rank·price is integer×2dp), and G
    * is one closed-form double expression ROUND(,4) — nothing to
    * drift. Plan: one rank window + one aggregate per priority
    * (#groups bounded); at unbounded group keys the rank pass needs
    * the same sharding rules as any per-key sort. */
  def giniReport(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(asc("x"), asc("o_orderkey"))
    orders
      .select(col("o_orderpriority"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("x"), col("o_orderkey"))
      .withColumn("r", row_number().over(w))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("x")).as("s0"),
        sum(col("r") * col("x")).as("s1"))
      .select(col("o_orderpriority"), col("n_orders"),
        col("s0").cast("double").as("total_revenue"),
        (round((lit(2.0) * col("s1").cast("double")) / (col("n_orders") * col("s0").cast("double"))
          - (col("n_orders") + 1).cast("double") / col("n_orders"), 4) + lit(0.0)).as("gini"))
  }

  // ---- driver wiring ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gini"               -> ((s, d) => giniReport(Tables(s, d).orders)),
    "q_basket_lift"        -> ((s, d) => basketLift(Tables(s, d).lineitem)),
    "q_event_funnel"       -> ((s, d) => eventFunnel(Tables(s, d).events)),
    "q_stickiness"         -> ((s, d) => stickiness(Tables(s, d).events)),
    "q_cume_users"         -> ((s, d) => cumeUsers(Tables(s, d).events)),
    "q_yoy"                -> ((s, d) => yoyRevenue(Tables(s, d).orders)),
    "q_robust_stats"       -> ((s, d) => robustStats(Tables(s, d).customer)),
    "q_agg_merge"          -> ((s, d) => aggMerge(Tables(s, d))),
    "q_skew_report"        -> ((s, d) => skewReport(Tables(s, d))),
    "q_cohort_retention"   -> ((s, d) => cohortRetention(Tables(s, d))),
    "q_resample"           -> ((s, d) => resampleDaily(Tables(s, d))),
    "q_rank_suite"         -> ((s, d) => rankSuite(Tables(s, d))),
    "q_histogram"          -> ((s, d) => histogram(Tables(s, d))),
    "q_proximity_join"     -> ((s, d) => proximityPairs(Tables(s, d))),
    "q_moving_avg"         -> ((s, d) => movingAvg(Tables(s, d))),
    "q_argmax"             -> ((s, d) => argmaxOrder(Tables(s, d))),
    "q_corr"               -> ((s, d) => corrRegression(Tables(s, d).lineitem)),
    "q_ntile"              -> ((s, d) => ntileCustomers(Tables(s, d))),
    "q_full_outer"         -> ((s, d) => fullOuter(Tables(s, d))),
    "q_cube"               -> ((s, d) => cubeOrders(Tables(s, d))),
    "q1_pricing_summary"   -> ((s, d) => pricingSummary(Tables(s, d))),
    "q3_shipping_priority" -> ((s, d) => shippingPriority(Tables(s, d))),
    "q5_local_supplier"    -> ((s, d) => localSupplier(Tables(s, d))),
    "q_broadcast_dim"      -> ((s, d) => broadcastDim(Tables(s, d))),
    "q_semi_join"          -> ((s, d) => semiJoin(Tables(s, d))),
    "q_anti_join"          -> ((s, d) => antiJoin(Tables(s, d))),
    "q_window_topn"        -> ((s, d) => windowTopN(Tables(s, d))),
    "q_window_running"     -> ((s, d) => windowRunning(Tables(s, d))),
    "q_distinct_agg"       -> ((s, d) => distinctAgg(Tables(s, d))),
    "q_distinct_agg_approx" -> ((s, d) => distinctAggApprox(Tables(s, d))),
    "q_distinct_agg_approx_check" -> ((s, d) => distinctAggCheck(Tables(s, d))),
    "q_rollup"             -> ((s, d) => rollupOrders(Tables(s, d))),
    "q_grouping_sets"      -> ((s, d) => groupingSetsOrders(Tables(s, d))),
    "q_pivot"              -> ((s, d) => pivotStatus(Tables(s, d))),
    "q_set_ops"            -> ((s, d) => setOps(Tables(s, d))),
    "q_string_date"        -> ((s, d) => stringDate(Tables(s, d))),
    "q_sessionize"         -> ((s, d) => sessionize(Tables(s, d))),
    "q_event_windows"      -> ((s, d) => eventWindows(Tables(s, d))),
    "q_asof_join"          -> ((s, d) => asofJoin(Tables(s, d))))

  private val revenueSql =
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"

  private val baseOracles: Map[String, String] = Map(
    // giniReport mirror: same total rank order, exact DECIMAL moment
    // sums, the same closed-form double expression.
    "q_gini" ->
      """WITH gr AS (SELECT o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS x, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS r
        |  FROM orders),
        |gm AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    SUM(x) AS s0, SUM(r * x) AS s1
        |  FROM gr GROUP BY 1)
        |SELECT o_orderpriority, n_orders, CAST(s0 AS DOUBLE) AS total_revenue,
        |  ROUND((2.0 * CAST(s1 AS DOUBLE)) / (n_orders * CAST(s0 AS DOUBLE))
        |        - CAST(n_orders + 1 AS DOUBLE) / n_orders, 4) + 0.0 AS gini
        |FROM gm""".stripMargin,
    // basketLift mirror: same distinct collapse, order-key self-join,
    // raw-double lift ranking with (part_a, part_b) tie-break, ROUND
    // only in the outer select.
    "q_basket_lift" ->
      """WITH bop AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |bn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM bop),
        |bpc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM bop GROUP BY 1),
        |bpp AS (SELECT a.p AS part_a, b.p AS part_b, CAST(COUNT(*) AS BIGINT) AS nab
        |  FROM bop a JOIN bop b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |bl AS (SELECT part_a, part_b, nab, bn.n_orders,
        |    (CAST(nab AS DOUBLE) * bn.n_orders) / (ca.c * cb.c) AS lift_raw
        |  FROM bpp CROSS JOIN bn
        |  JOIN bpc ca ON ca.p = bpp.part_a
        |  JOIN bpc cb ON cb.p = bpp.part_b
        |  ORDER BY lift_raw DESC, part_a, part_b LIMIT 20)
        |SELECT part_a, part_b, nab,
        |  ROUND(CAST(nab AS DOUBLE) / n_orders, 6) + 0.0 AS support,
        |  ROUND(lift_raw, 4) + 0.0 AS lift
        |FROM bl""".stripMargin,
    // eventFunnel mirror: conditional first-timestamp mins, the same
    // non-decreasing reach chain, one division per step.
    "q_event_funnel" ->
      """WITH efm AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t0,
        |    MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t1,
        |    MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t2
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase') GROUP BY 1),
        |efr AS (SELECT
        |    CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 <= t1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 <= t1
        |      AND t2 IS NOT NULL AND t1 <= t2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM efm)
        |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step, n0 AS n_users,
        |  ROUND(CAST(n0 AS DOUBLE) / n0, 4) + 0.0 AS frac FROM efr
        |UNION ALL SELECT CAST(2 AS INT), 'click', n1,
        |  ROUND(CAST(n1 AS DOUBLE) / n0, 4) + 0.0 FROM efr
        |UNION ALL SELECT CAST(3 AS INT), 'purchase', n2,
        |  ROUND(CAST(n2 AS DOUBLE) / n0, 4) + 0.0 FROM efr""".stripMargin,
    // stickiness mirror: same user-day collapse, the same ×7 window-end
    // explode, inner join drops phantom window ends past the corpus.
    "q_stickiness" ->
      """WITH sud AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |sda AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM sud GROUP BY 1),
        |swa AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau FROM (
        |    SELECT user_id, day + CAST(i AS INTEGER) AS day
        |    FROM sud, unnest(generate_series(0, 6)) AS t(i)) GROUP BY 1)
        |SELECT sda.day, sda.dau, swa.wau,
        |  ROUND(CAST(sda.dau AS DOUBLE) / swa.wau, 4) + 0.0 AS stickiness
        |FROM sda JOIN swa USING (day)""".stripMargin,
    // cumeUsers mirror: the same user-week collapse, min-week
    // new-user counts, running sum over the week frame.
    "q_cume_users" ->
      """WITH cuw AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
        |  FROM events),
        |ca AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active FROM cuw GROUP BY 1),
        |cf AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_new FROM (
        |    SELECT user_id, MIN(week) AS week FROM cuw GROUP BY 1) GROUP BY 1)
        |SELECT ca.week, ca.n_active, COALESCE(cf.n_new, 0) AS n_new,
        |  CAST(SUM(COALESCE(cf.n_new, 0)) OVER (ORDER BY ca.week
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cume
        |FROM ca LEFT JOIN cf USING (week)""".stripMargin,
    // yoyRevenue mirror: same month key, DECIMAL(18,2) sums, integer
    // month-index self-join, ONE double division, ROUND(,4).
    "q_yoy" ->
      """WITH ymo AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |ymi AS (SELECT *, year(month) * 12 + month(month) AS mix FROM ymo)
        |SELECT a.month, a.n_orders, CAST(a.rev AS DOUBLE) AS revenue,
        |  CAST(b.rev AS DOUBLE) AS prev_revenue,
        |  CASE WHEN b.rev IS NULL OR b.rev = 0 THEN NULL
        |       ELSE ROUND(CAST(a.rev - b.rev AS DOUBLE) / CAST(b.rev AS DOUBLE), 4) + 0.0
        |  END AS yoy_pct
        |FROM ymi a LEFT JOIN ymi b ON a.mix = b.mix + 12""".stripMargin,
    // robustStats mirror: the same lower-neighbor ⌈n/2⌉ picks under
    // the same total orders — median/MAD are DATA values, |x−med| and
    // 3·MAD are identical IEEE ops, nothing to round.
    "q_robust_stats" ->
      """WITH rc AS (SELECT c_mktsegment AS seg, c_acctbal AS bal, c_custkey AS k FROM customer),
        |rr1 AS (SELECT seg, bal, k,
        |    row_number() OVER (PARTITION BY seg ORDER BY bal, k) AS rn,
        |    COUNT(*) OVER (PARTITION BY seg) AS n FROM rc),
        |rm AS (SELECT seg, MAX(CASE WHEN rn = (n + 1) // 2 THEN bal END) AS med
        |  FROM rr1 GROUP BY 1),
        |rd AS (SELECT rr1.seg, rr1.bal, rr1.k, rr1.n, rm.med,
        |    ABS(rr1.bal - rm.med) AS absdev
        |  FROM rr1 JOIN rm ON rm.seg = rr1.seg),
        |rr2 AS (SELECT seg, bal, k, n, med, absdev,
        |    row_number() OVER (PARTITION BY seg ORDER BY absdev, k) AS rn2 FROM rd),
        |rmm AS (SELECT seg, MAX(CASE WHEN rn2 = (n + 1) // 2 THEN absdev END) AS mad
        |  FROM rr2 GROUP BY 1)
        |SELECT rr2.seg AS c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  MAX(rr2.med) AS median, MAX(rmm.mad) AS mad,
        |  CAST(SUM(CASE WHEN rr2.absdev > 3.0 * rmm.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM rr2 JOIN rmm ON rmm.seg = rr2.seg GROUP BY 1""".stripMargin,
    "q_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        |  FROM events),
        |c AS (SELECT user_id, wk,
        |    MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM uw)
        |SELECT cohort_week,
        |  CAST(datediff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
        |  COUNT(*) AS n_users
        |FROM c GROUP BY 1, 2""".stripMargin,
    "q_resample" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS day_total
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        |        FROM daily GROUP BY 1))
        |SELECT g.user_id, g.day, COALESCE(d.n, 0) AS n_events, d.day_total,
        |  last_value(d.day_total IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_total
        |FROM grid g LEFT JOIN daily d
        |  ON g.user_id = d.user_id AND g.day = d.day""".stripMargin,
    "q_rank_suite" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  ROUND(percent_rank() OVER w, 4) AS pct_rank,
        |  ROUND(cume_dist() OVER w, 4) AS cume,
        |  nth_value(c_custkey, 2) OVER wf AS second_poorest_key,
        |  last_value(c_custkey) OVER wf AS richest_key
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC),
        |  wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    // Mirror of aggMerge: the same daily-partial CTE re-merged weekly,
    // DECIMAL sums end to end, one double division.
    "q_agg_merge" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS total
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT user_id, CAST(date_trunc('week', day) AS DATE) AS week,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(SUM(total) AS DOUBLE) AS total_value,
        |  CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(CAST(SIGN(CAST(SUM(total) * 100 AS BIGINT)) AS BIGINT) *
        |       ((200 * ABS(CAST(SUM(total) * 100 AS BIGINT)) + SUM(n))
        |        // (2 * SUM(n))) AS DOUBLE) / 10000.0 + 0.0 AS avg_value
        |FROM daily GROUP BY 1, 2""".stripMargin,
    // Mirror of skewReport: integer count numerators, one double
    // division each, the same (n desc, user_id asc) top-k total order.
    "q_skew_report" ->
      """WITH counts AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |stats AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM counts),
        |top AS (SELECT user_id, CAST(n AS BIGINT) AS n FROM counts
        |        ORDER BY n DESC, user_id ASC LIMIT 5)
        |SELECT user_id, n,
        |  ROUND(CAST(n AS DOUBLE) / total, 4) + 0.0 AS share,
        |  ROUND(CAST(n * n_keys AS DOUBLE) / total, 4) + 0.0 AS hotness
        |FROM top CROSS JOIN stats""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(floor(o_totalprice / 20000.0) AS BIGINT) * 20000.0 AS bucket_lo
        |FROM orders GROUP BY 1""".stripMargin,
    "q_proximity_join" ->
      """SELECT a.user_id, a.event_id AS a_id, CAST(a.ts AS TIMESTAMP) AS a_ts,
        |  b.event_id AS b_id, CAST(b.ts AS TIMESTAMP) AS b_ts,
        |  epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS delta_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts > a.ts
        | AND epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) <= 300000000""".stripMargin,
    "q_moving_avg" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS trailing_avg,
        |  COUNT(*) OVER w AS n_in_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(epoch_us(o_orderdate) AS BIGINT)
        |  RANGE BETWEEN 7776000000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_corr" ->
      """WITH a AS (SELECT l_returnflag,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  ROUND((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0 AS corr_qty_disc,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 AS slope,
        |  ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 4) + 0.0 AS intercept
        |FROM a""".stripMargin,
    "q_argmax" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey,
        |    CAST(o_totalprice * 100 AS BIGINT) * 10000000000 + o_orderkey) AS top_orderkey,
        |  MAX(o_totalprice) AS top_totalprice,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q_ntile" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  ntile(4) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal ASC, c_custkey ASC) AS balance_quartile
        |FROM customer""".stripMargin,
    "q_full_outer" ->
      """WITH pc AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_poor_customers
        |            FROM customer WHERE c_acctbal < -900 GROUP BY 1),
        |     rs AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_rich_suppliers
        |            FROM supplier WHERE s_acctbal >= 8000 GROUP BY 1)
        |SELECT COALESCE(pc.nationkey, rs.nationkey) AS nationkey,
        |       n_poor_customers, n_rich_suppliers
        |FROM pc FULL OUTER JOIN rs ON pc.nationkey = rs.nationkey""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  $revenueSql AS sum_disc_price,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY 1, 2""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $revenueSql AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey ASC
         |LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      s"""SELECT n_name, $revenueSql AS revenue
         |FROM region
         |JOIN nation ON r_regionkey = n_regionkey
         |JOIN customer ON n_nationkey = c_nationkey
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY 1""".stripMargin,
    "q_broadcast_dim" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')""".stripMargin,
    "q_window_topn" ->
      """SELECT p_brand, p_partkey, p_name, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_name, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part)
        |WHERE rn <= 3""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  lag(o_totalprice, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
        |FROM orders""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  COUNT(DISTINCT l_orderkey) AS nd_orders,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderpriority), ())""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        |           WHERE s_acctbal >= 8000)
        |SELECT nationkey, 'union' AS op FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
        |UNION ALL
        |SELECT nationkey, 'intersect' AS op FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
        |UNION ALL
        |SELECT nationkey, 'except' AS op FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)""".stripMargin,
    "q_string_date" ->
      """SELECT date_trunc('month', o_orderdate) AS order_month,
        |  year(o_orderdate) AS order_year,
        |  quarter(o_orderdate) AS order_quarter,
        |  substr(o_orderpriority, 1, 1) AS prio_num,
        |  upper(regexp_extract(o_orderpriority, '^\d-(.+)$', 1)) AS prio_word,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess FROM g),
        |s AS (SELECT *, CAST(SUM(new_sess) OVER (
        |        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q_event_windows" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q_asof_join" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id AS ce, value AS cv
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, event_id AS pe
        |           FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.pts AS purchase_ts, p.pe AS purchase_event_id,
        |       c.cts AS click_ts, c.ce AS click_event_id, c.cv AS click_value
        |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.cts <= p.pts
        |QUALIFY row_number() OVER (PARTITION BY p.pe
        |  ORDER BY c.cts DESC NULLS LAST, c.ce DESC) = 1""".stripMargin)

  /** The check twin's oracle DERIVES from q_distinct_agg's: the exact
    * counts wrapped with literal pass flags (exact-vs-exact is within
    * any tolerance by definition) — a hash match certifies the Spark
    * side's computed `*_within_2pct` flags were all 1, i.e. every HLL
    * sketch sat inside the bound. Derived from the same SQL string so
    * the two oracles can never drift apart. */
  val oracles: Map[String, String] = baseOracles +
    ("q_distinct_agg_approx_check" ->
      s"""SELECT l_returnflag, nd_parts, nd_supps, nd_orders, n,
         |  CAST(1 AS BIGINT) AS parts_within_2pct,
         |  CAST(1 AS BIGINT) AS supps_within_2pct,
         |  CAST(1 AS BIGINT) AS orders_within_2pct
         |FROM (
         |${baseOracles("q_distinct_agg")}
         |) e""".stripMargin)
}
