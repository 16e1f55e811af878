package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.core.Catalog
import graft.etl.VehicleFeed

/** The reference's query surface (queries.go), re-expressed as declarative
  * DataFrame plans over the upserted vehicle table.
  *
  * Determinism policy for the DuckDB oracle compare (SURVEY.md §4): exact
  * decimal arithmetic for sums/avgs of 2-decimal data, ROUND(,4) for
  * ratios/percentiles, and a unique tie-break key on every top-k.
  */
object VehicleQueries {

  /** Exact average of a 2-decimal column: decimal sum (exact) → double →
    * one IEEE division. Bit-identical across engines, unlike avg(double)
    * whose result depends on summation order. */
  private def exactAvg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1))

  /** Route classification — faithful to queries.go:26-35 including its
    * CASE order (`y%` matches before `ynk%`, so commuter-rail ids class as
    * Bus; reproduced deliberately). */
  def routeType(id: Column): Column =
    when(id.startsWith("R-"), "Red Line")
      .when(id.startsWith("O-"), "Orange Line")
      .when(id.startsWith("G-"), "Green Line")
      .when(id.startsWith("B-"), "Blue Line")
      .when(id.startsWith("y"), "Bus")
      .when(id.startsWith("ynk"), "Commuter Rail")
      .otherwise("Other")

  /** 8-way cardinal bucketing with the North wrap-around
    * (queries.go:214-246). Sequential `when` = disjoint buckets. */
  def cardinalDirection(bearing: Column): Column =
    when(bearing >= 337.5 || bearing < 22.5, "North")
      .when(bearing < 67.5, "Northeast")
      .when(bearing < 112.5, "East")
      .when(bearing < 157.5, "Southeast")
      .when(bearing < 202.5, "South")
      .when(bearing < 247.5, "Southwest")
      .when(bearing < 292.5, "West")
      .otherwise("Northwest")

  // ---- query implementations over an upserted vehicles frame ----

  /** queries.go:10-18 — ORDER BY speed DESC LIMIT n, id tie-break. */
  def topFastest(vehicles: DataFrame, n: Int = 10): DataFrame =
    vehicles.orderBy(desc("speed"), asc("id")).limit(n)

  /** queries.go:21-45 — CASE prefix → count/avg/max. */
  def routeBreakdown(vehicles: DataFrame): DataFrame =
    vehicles
      .groupBy(routeType(col("id")).as("route_type"))
      .agg(count(lit(1)).as("n"),
           exactAvg(col("speed")).as("avg_speed"),
           max(col("speed")).as("max_speed"))

  /** queries.go:70-105 fleet overview (one row). */
  def summaryStats(vehicles: DataFrame): DataFrame =
    vehicles.agg(
      count(lit(1)).as("total_vehicles"),
      exactAvg(col("speed")).as("avg_speed"),
      max(col("speed")).as("max_speed"),
      min(col("speed")).as("min_speed"),
      count(when(col("speed") > 0, lit(1))).as("moving_vehicles"),
      count(when(col("speed") === 0, lit(1))).as("stationary_vehicles")
    ).withColumn("pct_moving",
      round(col("moving_vehicles") * lit(100.0) / col("total_vehicles"), 4))

  /** queries.go:107-115 — counts per current_status. */
  def statusCounts(vehicles: DataFrame): DataFrame =
    vehicles.groupBy(col("current_status")).agg(count(lit(1)).as("n"))

  /** queries.go:117-128 — occupancy distribution as % of fleet.
    *
    * INVARIANT: the unpartitioned window runs on the POST-AGGREGATION
    * frame — at most one row per occupancy status (single digits) — never
    * on the input table. Over the one-partition `Catalog.vehicles` the
    * aggregate's output is already a single partition, so the window
    * adds no exchange; over a multi-partition input it implies one
    * single-partition exchange of that handful of rows. Do not lift this
    * pattern onto raw data. */
  def occupancyPct(vehicles: DataFrame): DataFrame =
    vehicles.groupBy(col("occupancy_status")).agg(count(lit(1)).as("n"))
      .withColumn("pct", round(col("n") * lit(100.0) / sum("n").over(Window.partitionBy()), 4))

  /** queries.go:130-136 — direction 0/1 counts. */
  def directionCounts(vehicles: DataFrame): DataFrame =
    vehicles.groupBy(col("direction_id")).agg(count(lit(1)).as("n"))

  /** queries.go:147-166 — p50/p90/p95 of moving-vehicle speeds. The
    * reference approximates via LIMIT/OFFSET; we use exact interpolated
    * percentiles (= DuckDB quantile_cont).
    *
    * Scale note: exact `percentile` buffers every moving-vehicle speed in
    * ONE aggregation buffer — fine at oracle-check scale, an executor-OOM
    * risk at 100 TB. The engine API for clusters is
    * [[speedPercentilesApprox]]; this exact variant exists for oracle
    * parity (DuckDB `quantile_cont`). */
  def speedPercentiles(vehicles: DataFrame): DataFrame =
    vehicles.filter(col("speed") > 0).agg(
      round(expr("percentile(speed, 0.5)"), 4).as("p50"),
      round(expr("percentile(speed, 0.9)"), 4).as("p90"),
      round(expr("percentile(speed, 0.95)"), 4).as("p95"))

  /** Per-route percentiles of moving-vehicle speeds — percentile
    * aggregation with a GROUP BY (each group's buffer is bounded by the
    * route's fleet; the global-percentile memory caveat doesn't apply). */
  def routePercentiles(vehicles: DataFrame): DataFrame =
    vehicles.filter(col("speed") > 0)
      .groupBy(routeType(col("id")).as("route_type"))
      .agg(
        round(expr("percentile(speed, 0.5)"), 4).as("p50"),
        round(expr("percentile(speed, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n_moving"))

  /** Scale-safe percentiles: `approx_percentile` (KLL-style sketch, fixed
    * memory per partial, mergeable map-side) — the variant a 100 TB
    * deployment should call. accuracy=10000 ⇒ rank error ≤ 0.01%. */
  def speedPercentilesApprox(vehicles: DataFrame, accuracy: Int = 10000): DataFrame =
    vehicles.filter(col("speed") > 0).agg(
      expr(s"approx_percentile(speed, 0.5, $accuracy)").as("p50"),
      expr(s"approx_percentile(speed, 0.9, $accuracy)").as("p90"),
      expr(s"approx_percentile(speed, 0.95, $accuracy)").as("p95"))

  /** queries.go:193-211 — bearing BETWEEN target−δ AND target+δ. */
  def byBearing(vehicles: DataFrame, target: Double, delta: Double): DataFrame =
    vehicles
      .filter(col("bearing").between(target - delta, target + delta))
      .select(col("id"), col("label"), col("bearing"), col("speed"))

  /** Geo bounding-box filter over the stored coordinates — the natural
    * companion query to the reference's latitude/longitude columns
    * (load.go persists both; the reference exposes no geo query, so
    * this extends the surface). Pure conjunctive filter: it reaches the
    * parquet scan as PushedFilters, and a geo-partitioned layout at
    * scale would prune whole files before the scan. */
  def geoBox(vehicles: DataFrame, latMin: Double, latMax: Double,
             lonMin: Double, lonMax: Double): DataFrame =
    vehicles
      .filter(col("latitude").between(latMin, latMax) &&
        col("longitude").between(lonMin, lonMax))
      .select(col("id"), col("latitude"), col("longitude"), col("speed"))

  /** Telemetry gap detection: per vehicle, consecutive-observation gaps
    * exceeding `maxGapHours` — the data-quality monitor a fleet feed
    * needs (a silent vehicle is indistinguishable from a healthy one in
    * the latest-only table; the reference keeps no history at all).
    * One per-vehicle window (same shape as sessionization); over
    * `Catalog.observations` — the `v_gap_detection` key's input — the feed is
    * already hash-partitioned by id and sorted in window order, so the
    * shuffle and sort are paid once per session there and the window
    * runs straight off the cached scan (an unpartitioned feed gets the
    * shuffle Spark plans for it). `delta_us` is an exact integer µs
    * difference. */
  def gapDetection(feed: DataFrame, maxGapHours: Int = 24): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("updated_at"), col("obs_id"))
    val gapUs = maxGapHours.toLong * 3600L * 1000000L
    feed
      .select(col("id"), col("updated_at"), col("obs_id"))
      .withColumn("gap_start", lag(col("updated_at"), 1).over(w))
      .withColumn("delta_us", unix_micros(col("updated_at")) - unix_micros(col("gap_start")))
      .filter(col("delta_us") > gapUs)
      .select(col("id"), col("gap_start"), col("updated_at").as("gap_end"),
        col("delta_us"))
  }

  /** GPS-glitch ("teleport") detector over the full observation
    * history — the positional-plausibility twin of [[gapDetection]]'s
    * temporal check: consecutive same-vehicle observations whose
    * implied speed exceeds `maxDegPerHour` degrees/hour flag a
    * receiver glitch, a stale-cache replay, or an id collision.
    * Distance is the PLANAR degree metric √(Δlat²+Δlon²) — at transit
    * scale the detector needs an order-of-magnitude discriminator,
    * not geodesy, and the planar form keeps every operation
    * IEEE-exact (no trig — libm sin/cos are not correctly rounded;
    * sqrt is). The flag compare is CROSS-MULTIPLIED (d²·3600e6² >
    * max²·Δus²) so no division participates in the predicate; the
    * reported speed is ONE sqrt + ONE division, ROUND(,4).
    *
    * One per-vehicle window (shared order with gapDetection), whose
    * shuffle and sort are paid once per session in
    * `Catalog.observations`; all-integer µs deltas; zero-Δt pairs
    * (same-timestamp obs) are excluded — they are duplicate-feed
    * artifacts, not motion. */
  def teleportDetection(feed: DataFrame, maxDegPerHour: Double = 0.5): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("updated_at"), col("obs_id"))
    feed
      .select(col("id"), col("updated_at"), col("obs_id"),
        col("latitude"), col("longitude"))
      .withColumn("prev_ts", lag(col("updated_at"), 1).over(w))
      .withColumn("dlat", col("latitude") - lag(col("latitude"), 1).over(w))
      .withColumn("dlon", col("longitude") - lag(col("longitude"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .withColumn("delta_us", unix_micros(col("updated_at")) - unix_micros(col("prev_ts")))
      .filter(col("delta_us") > 0)
      .withColumn("d2", col("dlat") * col("dlat") + col("dlon") * col("dlon"))
      .filter(col("d2") * lit(3600.0e6) * lit(3600.0e6) >
        lit(maxDegPerHour * maxDegPerHour) * col("delta_us").cast("double") * col("delta_us").cast("double"))
      .select(col("id"), col("prev_ts").as("from_ts"), col("updated_at").as("to_ts"),
        col("delta_us"),
        (round(sqrt(col("d2")) * lit(3600.0e6) / col("delta_us"), 4) + lit(0.0))
          .as("deg_per_hour"))
  }

  /** Stop-dwell analytics over the FULL observation history (beyond the
    * reference's latest-only view): consecutive same-status runs per
    * vehicle become episodes (lag-change flag → cumulative sum — the
    * q_sessionize pattern), and each STOPPED_AT episode's dwell is the
    * exact µs span from its first to its last observation. Per vehicle:
    * episode count, total and max dwell. All-integer µs arithmetic —
    * nothing float to diverge on; single-observation episodes count
    * with dwell 0 (a stop seen once is still a stop).
    *
    * The per-vehicle partitioning feeds both the episode assignment
    * and the final aggregate. Over `Catalog.observations` the feed
    * already carries it (its shuffle and sort are paid once per
    * session there), so the key is two windows and two local
    * aggregations with no exchange. */
  def dwellTimes(feed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("updated_at"), col("obs_id"))
    feed
      .select(col("id"), col("current_status"), col("updated_at"), col("obs_id"))
      .withColumn("prev_status", lag(col("current_status"), 1).over(w))
      .withColumn("chg",
        when(col("prev_status").isNull ||
             col("prev_status") =!= col("current_status"), 1L).otherwise(0L))
      .withColumn("episode", sum(col("chg")).over(w))
      .groupBy(col("id"), col("episode"), col("current_status"))
      .agg((unix_micros(max(col("updated_at"))) -
            unix_micros(min(col("updated_at")))).as("dwell_us"))
      .filter(col("current_status") === "STOPPED_AT")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_stop_episodes"),
        sum(col("dwell_us")).as("total_dwell_us"),
        max(col("dwell_us")).as("max_dwell_us"))
  }

  /** Route-level service headway over the full observation history: the
    * time between CONSECUTIVE observations on a route (any vehicle —
    * the rider-facing cadence, vs [[gapDetection]]'s per-vehicle
    * silence), reported per route as observation count plus mean/max
    * headway. Exact integer µs deltas, ONE double division for the
    * mean, ROUND(,4)+0.0. One shuffle: the per-route window (the
    * per-vehicle layout of `Catalog.observations` does not serve a
    * per-route window, though it saves the feed's scan and derive);
    * the per-route aggregate reuses its partitioning. */
  def headway(feed: DataFrame): DataFrame =
    feed
      .select(routeType(col("id")).as("route_type"), col("updated_at"), col("obs_id"))
      .withColumn("prev_ts", lag(col("updated_at"), 1).over(
        Window.partitionBy(col("route_type")).orderBy(col("updated_at"), col("obs_id"))))
      .withColumn("delta_us", unix_micros(col("updated_at")) - unix_micros(col("prev_ts")))
      .groupBy(col("route_type"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("delta_us")).as("span_us"),
        (round(sum(col("delta_us")) / count(col("delta_us")), 4) + lit(0.0))
          .as("mean_headway_us"),
        max(col("delta_us")).as("max_headway_us"))

  /** Snapshot delta report — the CDC artifact an incremental load
    * publishes: compare the upserted table AS OF a watermark (here the
    * in-plan median obs_id — the deterministic stand-in for "previous
    * ingest's high-water mark") against the current upserted table,
    * and count ids per change class (added / changed / unchanged;
    * removed is structurally impossible under append-only upsert but
    * the arm is kept for the general contract). Both sides are the
    * same [[VehicleFeed.latest]] plan; the comparison is a FULL OUTER
    * join on the key (no broadcast strategy exists for full outer —
    * the q_full_outer precedent) collapsing to ≤ 4 rows. */
  def snapshotDiff(feed: DataFrame): DataFrame =
    snapshotDiffWith(feed, VehicleFeed.latest(_))

  /** The shared cut/upsert/full-outer/classify body of the two
    * snapshot-diff keys, parametrized on the upsert (plain latest vs
    * tombstone-aware) so a fix to the watermark or classification can
    * never desynchronize them. */
  private def snapshotDiffWith(feed: DataFrame,
                               upsert: DataFrame => DataFrame): DataFrame = {
    val cut = feed.agg(expr("percentile(obs_id, 0.5)").as("cut"))
    val oldSnap = upsert(
        feed.crossJoin(broadcast(cut)).filter(col("obs_id") <= col("cut")).drop("cut"))
      .select(col("id").as("old_id"), col("obs_id").as("old_obs"))
    val newSnap = upsert(feed)
      .select(col("id").as("new_id"), col("obs_id").as("new_obs"))
    newSnap.join(oldSnap, col("new_id") === col("old_id"), "full_outer")
      .select(
        when(col("old_id").isNull, "added")
          .when(col("new_id").isNull, "removed")
          .when(col("old_obs") =!= col("new_obs"), "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** The tombstone marker on the derived feed: `error` events map to
    * occupancy FEW_SEATS_AVAILABLE (SURVEY §4), standing in for a typed
    * DELETE record (a deregistration message in the live API). Kept as
    * one named predicate so the batch upsert, the batch diff and the
    * streaming CDC can never disagree on what a delete is. */
  val Tombstone: Column = col("occupancy_status") === "FEW_SEATS_AVAILABLE"

  /** Tombstone-aware Load/UPSERT — the general CDC form of the
    * reference's `INSERT OR REPLACE` (load.go:6-39): latest record per
    * key wins exactly as [[VehicleFeed.latest]], and a key whose WINNING
    * record is a tombstone is absent from the result (the delete took
    * effect; an older live record must not resurrect it — which is why
    * the filter runs AFTER the argmax, never before). Same single
    * map-side-combined shuffle as the plain upsert plus a scan-side
    * filter — no extra exchange at any scale.
    *
    * NULL occupancy is explicitly LIVE: a bare `!Tombstone` would drop
    * a null-status winner via three-valued logic (NULL === x is NULL,
    * !NULL is NULL → filtered), silently treating a missing-occupancy
    * record as deleted — and diverging from the streaming CDC, whose
    * JVM-side `!=` keeps nulls. The transform normalizes nulls to
    * UNKNOWN so no current feed hits this, but the intent is stated
    * in the predicate (and mirrored in the oracle SQL) rather than
    * left to 3VL coincidence. */
  def upsertTombstone(feed: DataFrame): DataFrame =
    VehicleFeed.latest(feed)
      .filter(col("occupancy_status").isNull || !Tombstone)

  /** [[snapshotDiff]] with deletes in the type system — the variant
    * that makes the `removed` arm REACHABLE (under append-only upsert
    * it is structurally impossible; with tombstones a key whose old-
    * watermark winner was live and whose overall winner is a tombstone
    * has genuinely left the table). Both sides are the tombstone-aware
    * upsert; the comparison is the same ≤4-row full-outer collapse. */
  def snapshotDiffTombstone(feed: DataFrame): DataFrame =
    snapshotDiffWith(feed, upsertTombstone)

  /** queries.go:214-270 — counts per cardinal direction. */
  def bearingSummary(vehicles: DataFrame): DataFrame =
    vehicles.groupBy(cardinalDirection(col("bearing")).as("direction"))
      .agg(count(lit(1)).as("n"))

  /** queries.go:274-278 — COUNT(*). */
  def countVehicles(vehicles: DataFrame): DataFrame =
    vehicles.agg(count(lit(1)).as("n"))

  /** queries.go:283-287 — point lookup. */
  def speedById(vehicles: DataFrame, id: String): DataFrame =
    vehicles.filter(col("id") === id).select(col("id"), col("speed"))

  // ---- driver wiring ----

  /** The latest-state keys, each as its operator over the upserted
    * vehicles table; [[queries]] serves them over the one-partition
    * `Catalog.vehicles`. The specs and `Audit` read the key set from
    * here. */
  val latestState: Map[String, DataFrame => DataFrame] = Map(
    "v_upsert_latest"  -> (v => v),
    "v_top10_fastest"  -> (v => topFastest(v)),
    "v_route_breakdown"-> (v => routeBreakdown(v)),
    "v_summary_stats"  -> (v => summaryStats(v)),
    "v_status_counts"  -> (v => statusCounts(v)),
    "v_occupancy_pct"  -> (v => occupancyPct(v)),
    "v_direction_counts" -> (v => directionCounts(v)),
    "v_speed_percentiles" -> (v => speedPercentiles(v)),
    "v_route_percentiles" -> (v => routePercentiles(v)),
    "v_bearing_filter" -> (v => byBearing(v, 90.0, 15.0)),
    "v_geo_bbox"       -> (v => geoBox(v, 42.90, 42.98, -71.8, -71.05)),
    "v_bearing_summary"-> (v => bearingSummary(v)),
    "v_count"          -> (v => countVehicles(v)),
    "v_speed_by_id"    -> (v => speedById(v, "R-42"))
  )

  /** The history keys, each as its operator over the full observation
    * feed; [[queries]] serves them over `Catalog.observations`. */
  val history: Map[String, DataFrame => DataFrame] = Map(
    "v_transform"      -> (f => f),
    "v_scd2_history"   -> (f => VehicleFeed.scd2History(f)),
    "v_gap_detection"  -> (f => gapDetection(f)),
    "v_teleport"       -> (f => teleportDetection(f)),
    "v_dwell_times"    -> (f => dwellTimes(f)),
    "v_headway"        -> (f => headway(f)),
    "v_snapshot_diff"  -> (f => snapshotDiff(f)),
    "v_upsert_tombstone" -> (f => upsertTombstone(f)),
    "v_snapshot_diff_tombstone" -> (f => snapshotDiffTombstone(f))
  )

  /** Every key, served by `Catalog.served`: the key's frame is built and
    * planned once per (session, dir) and every later call returns that
    * same frame. Each key qualifies because its one input is a
    * session-fixed Catalog entry and its parameters are constants; a
    * caller with its own parameters (a bearing, a box, an id) applies
    * the operator to `Catalog.vehicles` and gets a fresh frame. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    def serve(input: (SparkSession, String) => DataFrame, ops: Map[String, DataFrame => DataFrame]) =
      ops.map { case (k, op) =>
        k -> ((s: SparkSession, d: String) => Catalog.served(s, d, k)(op(input(s, d))))
      }
    serve(Catalog.observations, history) ++ serve(Catalog.vehicles, latestState)
  }

  /** DuckDB CTE mirroring VehicleFeed.fromEvents + latest (SURVEY.md §4). */
  val VehiclesCte: String =
    """WITH vehicles_all AS (
      |  SELECT
      |    concat(CASE user_id % 6 WHEN 0 THEN 'R-' WHEN 1 THEN 'O-' WHEN 2 THEN 'G-'
      |          WHEN 3 THEN 'B-' WHEN 4 THEN 'y' ELSE 'ynk' END,
      |          CAST(user_id AS VARCHAR)) AS id,
      |    CAST(user_id AS VARCHAR) AS label,
      |    42.0 + (event_id % 1000) / 1000.0 AS latitude,
      |    -71.0 - (user_id % 100) / 100.0 AS longitude,
      |    CASE WHEN event_type IN ('view','signup') THEN 0.0 ELSE value END AS speed,
      |    CAST(user_id % 2 AS INTEGER) AS direction_id,
      |    CASE event_type WHEN 'click' THEN 'IN_TRANSIT_TO'
      |         WHEN 'purchase' THEN 'INCOMING_AT'
      |         WHEN 'view' THEN 'STOPPED_AT' ELSE 'UNKNOWN' END AS current_status,
      |    CASE event_type WHEN 'signup' THEN 'MANY_SEATS_AVAILABLE'
      |         WHEN 'error' THEN 'FEW_SEATS_AVAILABLE' ELSE 'UNKNOWN' END AS occupancy_status,
      |    CAST(event_id % 360 AS INTEGER) AS bearing,
      |    ts AS updated_at,
      |    event_id AS obs_id
      |  FROM events
      |), vehicles AS (
      |  SELECT id, label, latitude, longitude, speed, direction_id,
      |         current_status, occupancy_status, bearing, updated_at, obs_id
      |  FROM (SELECT *, row_number() OVER (PARTITION BY id
      |          ORDER BY updated_at DESC, obs_id DESC) AS rn FROM vehicles_all)
      |  WHERE rn = 1
      |)""".stripMargin

  private val cardinalSql =
    """CASE WHEN bearing >= 337.5 OR bearing < 22.5 THEN 'North'
      |     WHEN bearing < 67.5 THEN 'Northeast'
      |     WHEN bearing < 112.5 THEN 'East'
      |     WHEN bearing < 157.5 THEN 'Southeast'
      |     WHEN bearing < 202.5 THEN 'South'
      |     WHEN bearing < 247.5 THEN 'Southwest'
      |     WHEN bearing < 292.5 THEN 'West'
      |     ELSE 'Northwest' END""".stripMargin

  val oracles: Map[String, String] = Map(
    "v_transform" -> s"$VehiclesCte SELECT * FROM vehicles_all",
    "v_upsert_latest" -> s"$VehiclesCte SELECT * FROM vehicles",
    // tombstone-aware upsert: filter AFTER the rn=1 collapse (a delete
    // whose record wins the argmax removes the key; an older live
    // record must not resurrect it)
    "v_upsert_tombstone" ->
      s"$VehiclesCte SELECT * FROM vehicles WHERE occupancy_status IS NULL OR occupancy_status <> 'FEW_SEATS_AVAILABLE'",
    "v_snapshot_diff_tombstone" ->
      s"""$VehiclesCte,
         |cut AS (SELECT quantile_cont(obs_id, 0.5) AS c FROM vehicles_all),
         |oldv AS (SELECT id, obs_id FROM (
         |    SELECT v.id, v.obs_id, v.occupancy_status,
         |      row_number() OVER (PARTITION BY v.id
         |      ORDER BY v.updated_at DESC, v.obs_id DESC) AS rn
         |    FROM vehicles_all v, cut WHERE v.obs_id <= cut.c)
         |  WHERE rn = 1 AND (occupancy_status IS NULL OR occupancy_status <> 'FEW_SEATS_AVAILABLE')),
         |newv AS (SELECT id, obs_id FROM vehicles
         |  WHERE occupancy_status IS NULL OR occupancy_status <> 'FEW_SEATS_AVAILABLE')
         |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |  SELECT CASE WHEN o.id IS NULL THEN 'added'
         |              WHEN nv.id IS NULL THEN 'removed'
         |              WHEN o.obs_id <> nv.obs_id THEN 'changed'
         |              ELSE 'unchanged' END AS change_type
         |  FROM newv nv FULL OUTER JOIN oldv o ON nv.id = o.id)
         |GROUP BY 1""".stripMargin,
    "v_scd2_history" ->
      s"""$VehiclesCte SELECT id, obs_id, speed, current_status,
         |  CAST(row_number() OVER w AS INT) AS version,
         |  updated_at AS valid_from,
         |  lead(updated_at) OVER w AS valid_to,
         |  CAST(lead(updated_at) OVER w IS NULL AS INT) AS is_current
         |FROM vehicles_all
         |WINDOW w AS (PARTITION BY id ORDER BY updated_at, obs_id)""".stripMargin,
    "v_top10_fastest" -> s"$VehiclesCte SELECT * FROM vehicles ORDER BY speed DESC, id LIMIT 10",
    "v_route_breakdown" ->
      s"""$VehiclesCte SELECT
         |  CASE WHEN id LIKE 'R-%' THEN 'Red Line'
         |       WHEN id LIKE 'O-%' THEN 'Orange Line'
         |       WHEN id LIKE 'G-%' THEN 'Green Line'
         |       WHEN id LIKE 'B-%' THEN 'Blue Line'
         |       WHEN id LIKE 'y%' THEN 'Bus'
         |       WHEN id LIKE 'ynk%' THEN 'Commuter Rail'
         |       ELSE 'Other' END AS route_type,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(speed AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_speed,
         |  MAX(speed) AS max_speed
         |FROM vehicles GROUP BY 1""".stripMargin,
    "v_summary_stats" ->
      s"""$VehiclesCte SELECT *,
         |  ROUND(moving_vehicles * 100.0 / total_vehicles, 4) AS pct_moving
         |FROM (SELECT
         |  COUNT(*) AS total_vehicles,
         |  CAST(SUM(CAST(speed AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_speed,
         |  MAX(speed) AS max_speed,
         |  MIN(speed) AS min_speed,
         |  COUNT(*) FILTER (WHERE speed > 0) AS moving_vehicles,
         |  COUNT(*) FILTER (WHERE speed = 0) AS stationary_vehicles
         |FROM vehicles)""".stripMargin,
    "v_status_counts" ->
      s"$VehiclesCte SELECT current_status, COUNT(*) AS n FROM vehicles GROUP BY 1",
    "v_occupancy_pct" ->
      s"""$VehiclesCte SELECT occupancy_status, n,
         |  ROUND(n * 100.0 / SUM(n) OVER (), 4) AS pct
         |FROM (SELECT occupancy_status, COUNT(*) AS n FROM vehicles GROUP BY 1)""".stripMargin,
    "v_direction_counts" ->
      s"$VehiclesCte SELECT direction_id, COUNT(*) AS n FROM vehicles GROUP BY 1",
    "v_speed_percentiles" ->
      s"""$VehiclesCte SELECT
         |  ROUND(quantile_cont(speed, 0.5), 4) AS p50,
         |  ROUND(quantile_cont(speed, 0.9), 4) AS p90,
         |  ROUND(quantile_cont(speed, 0.95), 4) AS p95
         |FROM vehicles WHERE speed > 0""".stripMargin,
    "v_route_percentiles" ->
      s"""$VehiclesCte SELECT
         |  CASE WHEN id LIKE 'R-%' THEN 'Red Line'
         |       WHEN id LIKE 'O-%' THEN 'Orange Line'
         |       WHEN id LIKE 'G-%' THEN 'Green Line'
         |       WHEN id LIKE 'B-%' THEN 'Blue Line'
         |       WHEN id LIKE 'y%' THEN 'Bus'
         |       WHEN id LIKE 'ynk%' THEN 'Commuter Rail'
         |       ELSE 'Other' END AS route_type,
         |  ROUND(quantile_cont(speed, 0.5), 4) AS p50,
         |  ROUND(quantile_cont(speed, 0.9), 4) AS p90,
         |  COUNT(*) AS n_moving
         |FROM vehicles WHERE speed > 0 GROUP BY 1""".stripMargin,
    // teleportDetection mirror: same window order, planar degree
    // metric, cross-multiplied flag predicate, one sqrt + one division
    // at the end.
    "v_teleport" ->
      s"""$VehiclesCte SELECT id, from_ts, to_ts, delta_us,
         |  ROUND(sqrt(d2) * 3600.0e6 / delta_us, 4) + 0.0 AS deg_per_hour
         |FROM (
         |  SELECT id,
         |    lag(updated_at) OVER w AS from_ts,
         |    updated_at AS to_ts,
         |    epoch_us(updated_at) - epoch_us(lag(updated_at) OVER w) AS delta_us,
         |    (latitude - lag(latitude) OVER w) * (latitude - lag(latitude) OVER w)
         |      + (longitude - lag(longitude) OVER w) * (longitude - lag(longitude) OVER w) AS d2
         |  FROM vehicles_all
         |  WINDOW w AS (PARTITION BY id ORDER BY updated_at, obs_id))
         |WHERE delta_us > 0
         |  AND d2 * 3600.0e6 * 3600.0e6 > 0.25 * CAST(delta_us AS DOUBLE) * CAST(delta_us AS DOUBLE)""".stripMargin,
    "v_gap_detection" ->
      s"""$VehiclesCte SELECT id, gap_start, gap_end, delta_us FROM (
         |  SELECT id,
         |    lag(updated_at) OVER w AS gap_start,
         |    updated_at AS gap_end,
         |    epoch_us(updated_at) - epoch_us(lag(updated_at) OVER w) AS delta_us
         |  FROM vehicles_all
         |  WINDOW w AS (PARTITION BY id ORDER BY updated_at, obs_id))
         |WHERE delta_us > 86400000000""".stripMargin,
    // Mirror of snapshotDiff: the same median watermark (quantile_cont
    // ≡ percentile), the same latest() row_number collapse per side,
    // the same full-outer CASE.
    "v_snapshot_diff" ->
      s"""$VehiclesCte,
         |cut AS (SELECT quantile_cont(obs_id, 0.5) AS c FROM vehicles_all),
         |oldv AS (SELECT id, obs_id FROM (
         |    SELECT v.id, v.obs_id, row_number() OVER (PARTITION BY v.id
         |      ORDER BY v.updated_at DESC, v.obs_id DESC) AS rn
         |    FROM vehicles_all v, cut WHERE v.obs_id <= cut.c)
         |  WHERE rn = 1),
         |newv AS (SELECT id, obs_id FROM vehicles)
         |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |  SELECT CASE WHEN o.id IS NULL THEN 'added'
         |              WHEN nv.id IS NULL THEN 'removed'
         |              WHEN o.obs_id <> nv.obs_id THEN 'changed'
         |              ELSE 'unchanged' END AS change_type
         |  FROM newv nv FULL OUTER JOIN oldv o ON nv.id = o.id)
         |GROUP BY 1""".stripMargin,
    // Mirror of headway: the reference's y-before-ynk CASE order, the
    // same per-route window, integer µs deltas, one double division.
    "v_headway" ->
      s"""$VehiclesCte,
         |rt AS (SELECT
         |    CASE WHEN id LIKE 'R-%' THEN 'Red Line'
         |         WHEN id LIKE 'O-%' THEN 'Orange Line'
         |         WHEN id LIKE 'G-%' THEN 'Green Line'
         |         WHEN id LIKE 'B-%' THEN 'Blue Line'
         |         WHEN id LIKE 'y%' THEN 'Bus'
         |         WHEN id LIKE 'ynk%' THEN 'Commuter Rail'
         |         ELSE 'Other' END AS route_type,
         |    updated_at, obs_id
         |  FROM vehicles_all),
         |dd AS (SELECT route_type,
         |    epoch_us(updated_at) - epoch_us(lag(updated_at) OVER w) AS delta_us
         |  FROM rt WINDOW w AS (PARTITION BY route_type ORDER BY updated_at, obs_id))
         |SELECT route_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
         |  CAST(SUM(delta_us) AS BIGINT) AS span_us,
         |  ROUND(CAST(SUM(delta_us) AS DOUBLE) / COUNT(delta_us), 4) + 0.0
         |    AS mean_headway_us,
         |  CAST(MAX(delta_us) AS BIGINT) AS max_headway_us
         |FROM dd GROUP BY 1""".stripMargin,
    // Mirror of dwellTimes: the same lag-change → cumulative-sum episode
    // assignment and all-integer µs spans (epoch_us ≡ unix_micros).
    "v_dwell_times" ->
      s"""$VehiclesCte,
         |e AS (SELECT id, current_status, updated_at, obs_id,
         |    CASE WHEN lag(current_status) OVER w IS NULL
         |           OR lag(current_status) OVER w <> current_status
         |         THEN 1 ELSE 0 END AS chg
         |  FROM vehicles_all
         |  WINDOW w AS (PARTITION BY id ORDER BY updated_at, obs_id)),
         |ep AS (SELECT id, current_status, updated_at,
         |    SUM(chg) OVER (PARTITION BY id ORDER BY updated_at, obs_id) AS episode
         |  FROM e),
         |dw AS (SELECT id, episode,
         |    epoch_us(MAX(updated_at)) - epoch_us(MIN(updated_at)) AS dwell_us
         |  FROM ep WHERE current_status = 'STOPPED_AT' GROUP BY id, episode)
         |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_stop_episodes,
         |  CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
         |  CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us
         |FROM dw GROUP BY 1""".stripMargin,
    "v_bearing_filter" ->
      s"$VehiclesCte SELECT id, label, bearing, speed FROM vehicles WHERE bearing BETWEEN 75.0 AND 105.0",
    "v_geo_bbox" ->
      s"""$VehiclesCte SELECT id, latitude, longitude, speed FROM vehicles
         |WHERE latitude BETWEEN 42.90 AND 42.98 AND longitude BETWEEN -71.8 AND -71.05""".stripMargin,
    "v_bearing_summary" ->
      s"$VehiclesCte SELECT $cardinalSql AS direction, COUNT(*) AS n FROM vehicles GROUP BY 1",
    "v_count" -> s"$VehiclesCte SELECT COUNT(*) AS n FROM vehicles",
    "v_speed_by_id" ->
      s"$VehiclesCte SELECT id, speed FROM vehicles WHERE id = 'R-42'"
  )
}
