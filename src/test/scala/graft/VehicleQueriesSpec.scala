package graft

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import graft.etl.VehicleFeed
import graft.queries.VehicleQueries
import graft.tools.Audit.planNodes

class VehicleQueriesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vehicles = VehicleFeed.vehiclesFromEvents(spark, TestSpark.sf0001).cache()

  test("top10: 10 rows sorted by speed desc (main_test.go:362-421)") {
    val rows = VehicleQueries.topFastest(vehicles).select("speed").collect().map(_.getDouble(0))
    assert(rows.length == 10)
    assert(rows.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("summary stats: avg/max consistent with direct agg (main_test.go:424-495)") {
    val s = VehicleQueries.summaryStats(vehicles).collect()(0)
    val total = vehicles.count()
    assert(s.getAs[Long]("total_vehicles") == total)
    assert(s.getAs[Long]("moving_vehicles") + s.getAs[Long]("stationary_vehicles") == total)
    val maxSpeed = vehicles.agg(max("speed")).collect()(0).getDouble(0)
    assert(s.getAs[Double]("max_speed") == maxSpeed)
  }

  test("route breakdown: reference CASE order puts ynk ids in Bus") {
    val rt = VehicleQueries.routeType(lit("ynk77"))
    assert(Seq("x").toDF("c").select(rt).collect()(0).getString(0) == "Bus")
    val counts = VehicleQueries.routeBreakdown(vehicles)
    assert(counts.filter($"route_type" === "Commuter Rail").count() == 0)
    assert(counts.agg(sum("n")).collect()(0).getLong(0) == vehicles.count())
  }

  test("bearing summary: 8 disjoint buckets cover everything, North wraps") {
    val d = VehicleQueries.cardinalDirection(col("b"))
    val got = Seq(0, 22, 23, 359, 338, 90, 180, 270).toDF("b").select(d).collect().map(_.getString(0))
    assert(got.toSeq == Seq("North", "North", "Northeast", "North", "North", "East", "South", "West"))
    val total = VehicleQueries.bearingSummary(vehicles).agg(sum("n")).collect()(0).getLong(0)
    assert(total == vehicles.count())
  }

  test("bearing filter: all results within the cone") {
    val out = VehicleQueries.byBearing(vehicles, 90.0, 15.0)
    assert(out.filter($"bearing" < 75 || $"bearing" > 105).count() == 0)
  }

  test("gap detection: flags exactly the over-threshold gaps, exact µs deltas") {
    import graft.etl.VehicleFeed
    val feed = VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)
    val gaps = VehicleQueries.gapDetection(feed, maxGapHours = 24).collect()
    assert(gaps.nonEmpty)
    gaps.foreach { r =>
      val delta = r.getAs[Long]("delta_us")
      assert(delta > 24L * 3600 * 1000000)
      // the reported delta is exactly gap_end − gap_start
      val span = r.getAs[java.sql.Timestamp]("gap_end").getTime -
        r.getAs[java.sql.Timestamp]("gap_start").getTime
      assert(math.abs(delta / 1000 - span) <= 1) // ms truncation slack
    }
    // raising the threshold strictly shrinks the set
    val wider = VehicleQueries.gapDetection(feed, maxGapHours = 48).count()
    assert(wider < gaps.length)
  }

  test("teleport detection: flags the implausible jump, not the slow drift; zero-Δt duplicates excluded") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val feed = Seq(
      // v1: 1.0-degree jump in one minute → 60 deg/hour, flagged
      ("v1", ts("2024-01-01 10:00:00"), 1L, 42.0, -71.0),
      ("v1", ts("2024-01-01 10:01:00"), 2L, 43.0, -71.0),
      // v2: 0.001 deg over an hour → 0.001 deg/hour, not flagged
      ("v2", ts("2024-01-01 10:00:00"), 3L, 42.0, -71.0),
      ("v2", ts("2024-01-01 11:00:00"), 4L, 42.001, -71.0),
      // v3: duplicate timestamp with a position change → Δt = 0, excluded
      ("v3", ts("2024-01-01 10:00:00"), 5L, 42.0, -71.0),
      ("v3", ts("2024-01-01 10:00:00"), 6L, 43.0, -71.0)
    ).toDF("id", "updated_at", "obs_id", "latitude", "longitude")
    val out = VehicleQueries.teleportDetection(feed).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("v1"))
    val r = out.head
    assert(r.getAs[Long]("delta_us") == 60L * 1000000)
    assert(math.abs(r.getAs[Double]("deg_per_hour") - 60.0) < 1e-9)
    // real feed: every flagged pair is genuinely over threshold, and the
    // planar speed recomputes from the window inputs
    val real = VehicleQueries.teleportDetection(
      graft.etl.VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)).collect()
    real.foreach { rr =>
      assert(rr.getAs[Double]("deg_per_hour") > 0.5)
      assert(rr.getAs[Long]("delta_us") > 0)
    }
    // a higher threshold strictly shrinks the flag set
    val stricter = VehicleQueries.teleportDetection(
      graft.etl.VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events),
      maxDegPerHour = 1.5).count()
    assert(stricter <= real.length)
  }

  test("geo bbox: exactly the vehicles inside the box, none outside") {
    val box = VehicleQueries.geoBox(vehicles, 42.90, 42.98, -71.8, -71.05).collect()
    assert(box.nonEmpty)
    assert(box.forall { r =>
      val (lat, lon) = (r.getAs[Double]("latitude"), r.getAs[Double]("longitude"))
      lat >= 42.90 && lat <= 42.98 && lon >= -71.8 && lon <= -71.05
    })
    val expected = vehicles.filter(
      $"latitude".between(42.90, 42.98) && $"longitude".between(-71.8, -71.05)).count()
    assert(box.length == expected)
    // a proper subset — the box filters, it doesn't pass everything
    assert(box.length < vehicles.count())
  }

  test("salted skew paths are result-identical to the plain plans") {
    import graft.ops.Skew
    val t = graft.core.Tables(spark, TestSpark.sf0001)
    val salted = Skew.saltedSum(t.lineitem, "l_returnflag", "l_orderkey",
        $"l_extendedprice".cast("decimal(18,2)"), salts = 16)
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val plain = t.lineitem.groupBy($"l_returnflag")
      .agg(sum($"l_extendedprice".cast("decimal(18,2)")).as("total"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(salted.view.mapValues(_.doubleValue).toMap ==
      plain.view.mapValues(_.doubleValue).toMap)
  }

  test("percentiles: ordered p50 <= p90 <= p95") {
    val r = VehicleQueries.speedPercentiles(vehicles).collect()(0)
    assert(r.getDouble(0) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(2))
  }

  test("speedPercentilesApprox: each quantile is a moving speed within the sketch's rank error") {
    val accuracy = 10000
    val r = VehicleQueries.speedPercentilesApprox(vehicles, accuracy).collect()(0)
    val speeds = vehicles.filter($"speed" > 0).select($"speed").collect().map(_.getDouble(0)).sorted
    val n = speeds.length
    assert(n > 0)
    Seq(0.5, 0.9, 0.95).zipWithIndex.foreach { case (q, i) =>
      val v = r.getDouble(i)
      assert(speeds.contains(v), s"p${(q * 100).toInt} = $v is not a moving speed")
      // ranks, not values: the exact percentile interpolates, the sketch
      // returns a sample; ties hold v at every rank in [lo, hi]
      val (lo, hi) = (speeds.count(_ < v) + 1, speeds.count(_ <= v))
      val target = math.ceil(q * n)
      val err = if (target >= lo && target <= hi) 0.0
        else math.min(math.abs(lo - target), math.abs(hi - target))
      assert(err <= n.toDouble / accuracy,
        s"q=$q: rank [$lo,$hi] of $n vs target $target beyond n/accuracy")
    }
  }

  test("upsert shrank the feed to one row per id") {
    assert(vehicles.groupBy("id").count().filter($"count" > 1).count() == 0)
  }

  test("dwellTimes: hand-built episode chain — split on status change, exact µs dwell") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // R-1: STOPPED(0s,10s) → TRANSIT(20s) → STOPPED(30s): two stop
    // episodes, dwells 10s and 0s. R-2: never stopped → absent.
    val feed = Seq(
      ("R-1", "STOPPED_AT", ts(0), 1L),
      ("R-1", "STOPPED_AT", ts(10), 2L),
      ("R-1", "IN_TRANSIT_TO", ts(20), 3L),
      ("R-1", "STOPPED_AT", ts(30), 4L),
      ("R-2", "IN_TRANSIT_TO", ts(0), 5L)
    ).toDF("id", "current_status", "updated_at", "obs_id")
    val got = VehicleQueries.dwellTimes(feed).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("R-1" -> ((2L, 10000000L, 10000000L))))
  }

  test("headway: hand feed — cross-vehicle deltas per route, exact mean/max") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // Red Line: obs at 0s (R-1), 10s (R-2), 30s (R-1) → deltas 10s, 20s
    // Bus: single observation → no deltas (mean over 0 deltas is null-free count 1 row)
    val feed = Seq(
      ("R-1", ts(0), 1L), ("R-2", ts(10), 2L), ("R-1", ts(30), 3L),
      ("y9", ts(5), 4L)
    ).toDF("id", "updated_at", "obs_id")
    val got = VehicleQueries.headway(feed).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_obs"), r.getAs[Long]("span_us"),
          Option(r.getAs[Any]("mean_headway_us")), r.getAs[Any]("max_headway_us"))))
      .toMap
    val red = got("Red Line")
    assert(red._1 == 3L && red._2 == 30000000L)
    assert(red._3.contains(15000000.0) && red._4 == 20000000L)
    assert(got("Bus")._1 == 1L)
  }

  test("snapshotDiff: hand feed exercises added/changed/unchanged at the median watermark") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // obs_ids {1,2,9,10} → median 5.5; old snapshot sees {A:1, B:2},
    // new sees {A:10, B:2, C:9} → A changed, B unchanged, C added
    val feed = Seq(
      ("A", ts(1), 1L), ("A", ts(10), 10L),
      ("B", ts(2), 2L),
      ("C", ts(9), 9L)
    ).toDF("id", "updated_at", "obs_id")
    val got = VehicleQueries.snapshotDiff(feed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("added" -> 1L, "changed" -> 1L, "unchanged" -> 1L))
  }

  test("snapshotDiff: change classes partition the fleet; counts match a JVM replay") {
    import graft.etl.VehicleFeed
    val feed = VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)
    val got = VehicleQueries.snapshotDiff(feed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // JVM replay of the same median-watermark split
    val rows = feed.select("id", "obs_id", "updated_at").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime))
    val cut = {
      val sorted = rows.map(_._2.toDouble).sorted
      val n = sorted.length
      if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    }
    def latest(rs: Array[(String, Long, Long)]) =
      rs.groupBy(_._1).map { case (id, xs) => id -> xs.maxBy(x => (x._3, x._2))._2 }
    val oldSnap = latest(rows.filter(_._2.toDouble <= cut))
    val newSnap = latest(rows)
    val expect = newSnap.keys.toSeq.map { id =>
      oldSnap.get(id) match {
        case None => "added"
        case Some(o) if o != newSnap(id) => "changed"
        case _ => "unchanged"
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expect)
    assert(got.values.sum == newSnap.size)
  }

  test("upsertTombstone: winning delete removes the key; older live record cannot resurrect; later live re-registers") {
    val base = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
    def v(id: String, minutes: Int, obs: Long, occ: String) =
      graft.streaming.Vehicle(id, id, 0, 0, 9.0, 0, "IN_TRANSIT_TO", occ, 0,
        new java.sql.Timestamp(base + minutes * 60000L), obs)
    val feed = Seq(
      v("A", 0, 1, "UNKNOWN"), v("A", 10, 2, "FEW_SEATS_AVAILABLE"), // delete wins
      v("B", 0, 3, "FEW_SEATS_AVAILABLE"), v("B", 10, 4, "UNKNOWN"), // re-registered
      v("C", 0, 5, "UNKNOWN"),                                       // plain live
      v("D", 0, 6, "FEW_SEATS_AVAILABLE")                            // only ever dead
    ).toDF()
    val got = VehicleQueries.upsertTombstone(feed).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Long]("obs_id")).toMap
    assert(got == Map("B" -> 4L, "C" -> 5L), s"unexpected survivors: $got")
    // the real feed: tombstone-aware upsert = plain upsert minus the
    // keys whose winner is a tombstone (filter AFTER argmax, proven by
    // recomputation)
    val realFeed = VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)
    val plain = VehicleFeed.latest(realFeed)
    val expectIds = plain.filter(!VehicleQueries.Tombstone)
      .select("id").collect().map(_.getString(0)).toSet
    val gotIds = VehicleQueries.upsertTombstone(realFeed)
      .select("id").collect().map(_.getString(0)).toSet
    assert(gotIds == expectIds)
    assert(gotIds.size < plain.count(), "testdata must contain at least one winning tombstone")
  }

  test("snapshotDiffTombstone: the removed arm is reachable and counts match a JVM reference") {
    val feed = VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)
    val rows = feed.select("id", "obs_id", "updated_at", "occupancy_status").collect()
    val cut = {
      val xs = rows.map(_.getLong(1).toDouble).sorted
      val n = xs.length
      if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
    }
    def winners(pred: org.apache.spark.sql.Row => Boolean): Map[String, (Long, Boolean)] =
      rows.filter(pred).groupBy(_.getString(0)).map { case (id, g) =>
        val w = g.maxBy(r => (r.getTimestamp(2).getTime, r.getTimestamp(2).getNanos, r.getLong(1)))
        id -> (w.getLong(1), w.getString(3) != "FEW_SEATS_AVAILABLE")
      }
    val oldLive = winners(_.getLong(1) <= cut).collect { case (id, (o, true)) => id -> o }
    val newLive = winners(_ => true).collect { case (id, (o, true)) => id -> o }
    val expect = (oldLive.keySet ++ newLive.keySet).toSeq.map { id =>
      (oldLive.get(id), newLive.get(id)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some(a), Some(b)) if a != b => "changed"
        case _ => "unchanged"
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = VehicleQueries.snapshotDiffTombstone(feed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got.getOrElse("removed", 0L) >= 1L,
      "testdata must exercise the removed arm (a live old winner whose overall winner is a tombstone)")
  }

  test("dwellTimes: real feed — totals bounded by observation spans, max <= total") {
    val feed = VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)
    val out = VehicleQueries.dwellTimes(feed).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("max_dwell_us") <= r.getAs[Long]("total_dwell_us"))
      assert(r.getAs[Long]("n_stop_episodes") >= 1L)
    }
  }

  /** The nine feed keys as the uncached operators over the plain
    * `fromEvents(Tables.events)` feed — the form every key ran before
    * the feed was served from `Catalog.observations`. */
  private val uncachedFeedKeys: Map[String, org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame] = Map(
    "v_transform" -> (f => f),
    "v_scd2_history" -> (f => VehicleFeed.scd2History(f)),
    "v_gap_detection" -> (f => VehicleQueries.gapDetection(f)),
    "v_teleport" -> (f => VehicleQueries.teleportDetection(f)),
    "v_dwell_times" -> (f => VehicleQueries.dwellTimes(f)),
    "v_headway" -> (f => VehicleQueries.headway(f)),
    "v_snapshot_diff" -> (f => VehicleQueries.snapshotDiff(f)),
    "v_upsert_tombstone" -> (f => VehicleQueries.upsertTombstone(f)),
    "v_snapshot_diff_tombstone" -> (f => VehicleQueries.snapshotDiffTombstone(f)))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("Catalog.observations: the nine feed keys return the rows of the uncached fromEvents form") {
    val dir = TestSpark.sf0001
    val feed = VehicleFeed.fromEvents(graft.core.Tables(spark, dir).events)
    uncachedFeedKeys.foreach { case (k, op) =>
      val served = SparkEntry.queries(k)(spark, dir)
      val plain = op(feed)
      assert(served.columns.toSeq == plain.columns.toSeq, k)
      val got = rows(served)
      // the default 0.5 deg/h teleport threshold flags nothing at this
      // scale; the low-threshold comparison below is its non-empty case
      if (k != "v_teleport") assert(got.nonEmpty, s"$k returned no rows at sf0.001")
      assert(got == rows(plain), s"$k: cached-feed rows differ from the uncached form")
    }
    val obs = graft.core.Catalog.observations(spark, dir)
    val jumps = rows(VehicleQueries.teleportDetection(obs, maxDegPerHour = 0.01))
    assert(jumps.nonEmpty)
    assert(jumps == rows(VehicleQueries.teleportDetection(feed, maxDegPerHour = 0.01)))
  }

  test("Audit.planNodes reaches v_snapshot_diff's SortMergeJoin and both of its cached sides") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = SparkEntry.queries("v_snapshot_diff")(spark, TestSpark.sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val smjs = planNodes(plan).collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"no SortMergeJoinExec in\n$plan")
    // the executed-plan text prints the first side's cached build (and an
    // "== Initial Plan ==" marker) before the second side; the walk reads both
    smjs.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        assert(planNodes(side).exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"a join side does not reach the cached observations\n$plan")
      }
    }
  }

  test("Catalog.observations: per-vehicle windows run straight off the cached scan (no Exchange or Sort)") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("v_scd2_history", "v_gap_detection", "v_dwell_times", "v_teleport").foreach { k =>
      val df = SparkEntry.queries(k)(spark, TestSpark.sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val windows = planNodes(plan).collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$k: no Window in\n$plan")
      windows.foreach { w =>
        // the operators under the Window, down to the leaf it reads
        val chain = planNodes(w).tail
        assert(chain.lastOption.exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"$k: the Window does not read the cached observations\n$plan")
        assert(!chain.exists(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[SortExec]),
          s"$k: Exchange or Sort between Window and InMemoryTableScan\n$plan")
      }
    }
  }

  test("Plans: v_dwell_times explains without the Exchange its executed plan does not have") {
    // an empty registry: the observations entry is persisted lazily and
    // not yet built, the state Plans meets in a fresh session
    graft.core.Catalog.clear(spark)
    val txt = graft.tools.Plans.planText(spark, TestSpark.sf0001, "v_dwell_times")
    // the operator tree without the cached relation's own build plan,
    // which the text prints (indented) under its InMemoryRelation line
    val tree = txt.linesIterator.drop(1).takeWhile(_.trim.nonEmpty).toSeq
    var buildDepth = Int.MaxValue
    val perQuery = tree.filter { line =>
      val depth = line.indexWhere(_.isLetterOrDigit)
      if (depth <= buildDepth) buildDepth = Int.MaxValue
      val own = buildDepth == Int.MaxValue
      if (own && line.contains("InMemoryRelation")) buildDepth = depth
      own
    }
    assert(perQuery.exists(_.contains("InMemoryTableScan")), txt)
    assert(!perQuery.exists(l => l.contains("Exchange") || l.contains("Sort")), txt)
  }

  test("Catalog.vehicles: the 14 latest-state keys return the rows of the uncached upsert") {
    val dir = TestSpark.sf0001
    val plain = VehicleFeed.vehiclesFromEvents(spark, dir)
    assert(VehicleQueries.latestState.size == 14)
    // the three lookups' fixed parameters may miss at this scale; their
    // non-empty cases follow
    val lookups = Set("v_bearing_filter", "v_geo_bbox", "v_speed_by_id")
    VehicleQueries.latestState.foreach { case (k, op) =>
      val served = SparkEntry.queries(k)(spark, dir)
      val expected = op(plain)
      assert(served.columns.toSeq == expected.columns.toSeq, k)
      val got = rows(served)
      if (!lookups(k)) assert(got.nonEmpty, s"$k returned no rows at sf0.001")
      assert(got == rows(expected), s"$k: cached-upsert rows differ from the uncached form")
    }
    val cached = graft.core.Catalog.vehicles(spark, dir)
    val id = plain.select("id").orderBy("id").head().getString(0)
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      v => VehicleQueries.byBearing(v, 180.0, 90.0),
      v => VehicleQueries.geoBox(v, 42.0, 43.0, -72.0, -71.0),
      v => VehicleQueries.speedById(v, id)
    ).foreach { op =>
      val hit = rows(op(cached))
      assert(hit.nonEmpty)
      assert(hit == rows(op(plain)))
    }
  }

  test("Catalog.vehicles: every latest-state plan runs without an Exchange") {
    import org.apache.spark.sql.execution.exchange.Exchange
    VehicleQueries.latestState.keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, TestSpark.sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val all = planNodes(plan)
      assert(all.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$k does not read the cached vehicles\n$plan")
      assert(!all.exists(_.isInstanceOf[Exchange]), s"$k plans an Exchange\n$plan")
    }
  }

  /** Key `k`'s operator over the uncached upsert or feed. */
  private def uncached(k: String): org.apache.spark.sql.DataFrame =
    VehicleQueries.latestState.get(k) match {
      case Some(op) => op(VehicleFeed.vehiclesFromEvents(spark, TestSpark.sf0001))
      case None => uncachedFeedKeys(k)(
        VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events))
    }

  // the lookups' fixed parameters and the default teleport threshold
  // may select nothing at sf0.001; their non-empty cases are above
  private val mayBeEmpty = Set("v_bearing_filter", "v_geo_bbox", "v_speed_by_id", "v_teleport")

  VehicleQueries.queries.keys.toSeq.sorted.foreach { k =>
    test(s"served $k: a second call returns the same frame and QueryExecution") {
      val first = SparkEntry.queries(k)(spark, TestSpark.sf0001)
      val second = SparkEntry.queries(k)(spark, TestSpark.sf0001)
      assert(second eq first, s"$k built a second frame")
      assert(second.queryExecution eq first.queryExecution)
    }

    test(s"served $k: three re-collects return the uncached operator's rows") {
      val served = SparkEntry.queries(k)(spark, TestSpark.sf0001)
      val expected = uncached(k)
      assert(served.columns.toSeq == expected.columns.toSeq)
      val want = rows(expected)
      if (!mayBeEmpty(k)) assert(want.nonEmpty, s"$k returned no rows at sf0.001")
      (1 to 3).foreach(i => assert(rows(served) == want, s"$k: collect $i differs"))
    }

    test(s"served $k: a warm call starts exactly one Spark job") {
      SparkEntry.queries(k)(spark, TestSpark.sf0001).collect()
      val jobs = jobsOf(SparkEntry.queries(k)(spark, TestSpark.sf0001).collect())
      assert(jobs == 1, s"a warm $k ran $jobs Spark jobs")
    }
  }

  /** Every Catalog registry entry (Bench's warm set), each with a
    * build that materializes what the entry holds; a build reads its
    * dependencies' entries too, and `clear` must release those as well. */
  private val registryEntries: Seq[(String, () => Unit)] = {
    import graft.core.{Catalog => C}
    val dir = TestSpark.sf0001
    Seq[(String, () => Unit)](
      "observations" -> (() => C.observations(spark, dir).count()),
      "vehicles" -> (() => C.vehicles(spark, dir).count()),
      "minhash_sigs" -> (() => C.minhashSignatures(spark, dir).count()),
      "doc_fps" -> (() => C.docFingerprints(spark, dir).count()),
      "shingled_docs" -> (() => C.shingledDocs(spark, dir).count()),
      "shingle_index" -> (() => C.shingleIndex(spark, dir).count()),
      "shingle_index_capped" -> (() => C.shingleIndex(spark, dir, Some(100)).count()),
      "dup_clusters" -> (() => C.dupClusters(spark, dir).count()),
      "eval_bloom" -> (() => C.evalNgramBloom(spark, dir)),
      "ivf" -> (() => C.ivfIndex(spark, dir)._2.count()),
      "ivf_live" -> (() => C.ivfIndexLive(spark, dir)._2.count()),
      "ivf_mrl" -> (() => C.ivfIndexMrl(spark, dir)._2.count()),
      "ivfpq" -> (() => C.ivfPqIndex(spark, dir)._3.count()),
      "canopy_pairs" -> (() => C.canopyPairs(spark, dir).count()),
      "semantic_cc" -> (() => C.semanticCc(spark, dir).count()),
      "semantic_survivors" -> (() => C.semanticSurvivors(spark, dir).count()),
      "pq" -> (() => C.pqIndex(spark, dir)._2.count()),
      "pq_curve_books" -> (() => C.pqCurveBooks(spark, dir, 2)),
      "opq" -> (() => C.opqIndex(spark, dir)._3.count()),
      "bpe" -> (() => { C.bpeModel(spark, dir)._2.count(); C.bpeCurve(spark, dir) }),
      "bpe_snapshot" -> (() => C.bpeModelSnapshot(spark, dir)._2.count()),
      "rank_snapshot" -> (() => C.rankSnapshot(spark, dir).count()),
      "host_graph" -> (() => C.hostGraph(spark, dir)),
      "dsir_feats" -> (() => C.dsirFeats(spark, dir).count()),
      "quality_model" -> (() => { C.qualityModel(spark, dir).count(); C.qualityScores(spark, dir).count() })
    )
  }
  // entries whose value is a driver-side model: nothing of theirs stays persisted
  private val scalarEntries = Set("eval_bloom", "pq_curve_books")

  /** The persisted-RDD count after a GC has dropped the RDDs nothing
    * references (the context tracks persisted RDDs weakly). */
  private def persistedAfterGc(): Int = {
    System.gc()
    spark.sparkContext.getPersistentRDDs.size
  }

  registryEntries.foreach { case (entry, build) =>
    test(s"Catalog.clear releases the $entry entry's cached blocks") {
      graft.core.Catalog.clear(spark)
      val before = persistedAfterGc()
      build()
      if (!scalarEntries(entry))
        assert(spark.sparkContext.getPersistentRDDs.size > before,
          "building the entry must persist its frame")
      graft.core.Catalog.clear(spark)
      val after = persistedAfterGc()
      assert(after == before, s"$entry left ${after - before} persisted RDD(s) after clear")
    }
  }

  // a caller-parameterized path: Cli's `--tau` runs the pair miner over
  // the session's index, so nothing it persists outlives a clear
  test("Catalog.clear releases what Cli's d_ngram_jaccard --tau run persisted") {
    graft.core.Catalog.clear(spark)
    val before = persistedAfterGc()
    Cli.run(spark, TestSpark.sf0001, "d_ngram_jaccard", Cli.Params(tau = 0.9)).collect()
    graft.core.Catalog.clear(spark)
    val after = persistedAfterGc()
    assert(after == before, s"d_ngram_jaccard --tau left ${after - before} persisted RDD(s) after clear")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val inPlan = graft.ops.Dedup.shingleIndexFrom(graft.ops.Dedup.shingled(docs))
    assert(inPlan.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the in-plan shingle index must not be cached outside the Catalog")
  }

  // two served keys: a one-stage plan over the vehicles and a plan with
  // a shuffle over the observations
  Seq("v_top10_fastest", "v_headway").foreach { k =>
    test(s"Catalog.clear releases the $k entry's cached blocks; the next call builds anew") {
      graft.core.Catalog.clear(spark)
      val before = persistedAfterGc()
      val held = SparkEntry.queries(k)(spark, TestSpark.sf0001)
      val heldRows = rows(held)
      assert(spark.sparkContext.getPersistentRDDs.size > before,
        "building the entry must persist its input")
      graft.core.Catalog.clear(spark)
      val after = persistedAfterGc()
      assert(after == before, s"$k left ${after - before} persisted RDD(s) after clear")
      val next = SparkEntry.queries(k)(spark, TestSpark.sf0001)
      assert(next ne held, s"$k served the cleared frame")
      assert(rows(next) == heldRows)
    }
  }
}
