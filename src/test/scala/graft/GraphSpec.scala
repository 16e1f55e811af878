package graft

import org.apache.spark.sql.functions._

import graft.ops.DomainGraph

/** PageRank over the host graph: hand-checkable fixpoints, a JVM
  * power-iteration reference, mass conservation, partition invariance. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // HITS over an edge list: one weight per (src, dst)
  private def hits(edges: org.apache.spark.sql.DataFrame) =
    DomainGraph.domainHitsFromWeights(
      edges.groupBy($"src", $"dst").agg(org.apache.spark.sql.functions.count("*").as("w")))

  test("domainRank: symmetric 2-cycle is the uniform fixpoint") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = DomainGraph.domainRank(edges).collect()
      .map(row => row.getString(0) -> row.getDouble(1)).toMap
    assert(r("a") == 0.5 && r("b") == 0.5)
  }

  test("domainRank: a sink-hub star ranks the hub highest; mass ≈ 1") {
    // spokes all link to hub; hub links back to one spoke
    val edges = Seq(("s1", "hub"), ("s2", "hub"), ("s3", "hub"), ("hub", "s1"))
      .toDF("src", "dst")
    val r = DomainGraph.domainRank(edges).collect()
      .map(row => row.getString(0) -> row.getDouble(1)).toMap
    // hub out-degree 1 funnels its whole mass to s1, so s1 ends highest;
    // hub (3 in-links) still dominates the unlinked spokes
    assert(r("s1") > r("hub") && r("hub") > r("s2"))
    assert(r("s2") == r("s3"), "symmetric spokes tie exactly")
    assert(math.abs(r.values.sum - 1.0) < 1e-4, s"mass ${r.values.sum}")
  }

  test("domainRank: matches a JVM power-iteration reference within round-6 slack") {
    val rnd = new scala.util.Random(5)
    val es = Seq.fill(200)((s"h${rnd.nextInt(12)}", s"h${rnd.nextInt(12)}"))
    val got = DomainGraph.domainRank(es.toDF("src", "dst")).collect()
      .map(row => row.getString(0) -> row.getDouble(1)).toMap
    // plain-double reference (no per-iteration decimal quantization);
    // the emitted value is ROUND(,6), so agreement is bounded by the
    // rounding half-ulp plus ~1e-9 of accumulated quantization drift
    val w = es.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val outW = es.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val in = w.toSeq.groupBy(_._1._2).view.mapValues(_.map {
        case ((u, _), wt) => 0.85 * r(u) * wt / outW(u)
      }.sum).toMap
      r = nodes.map(v => v -> (0.15 / n + in.getOrElse(v, 0.0))).toMap
    }
    assert(got.keySet == r.keySet)
    got.foreach { case (h, v) => assert(math.abs(v - r(h)) < 6e-7, s"$h: $v vs ${r(h)}") }
  }

  test("domainRank: partitioning-independent (decimal sums are order-free)") {
    val rnd = new scala.util.Random(9)
    val es = Seq.fill(300)((s"h${rnd.nextInt(15)}", s"h${rnd.nextInt(15)}"))
      .toDF("src", "dst")
    val a = DomainGraph.domainRank(es).collect()
      .map(row => (row.getString(0), row.getDouble(1))).sortBy(_._1)
    val b = DomainGraph.domainRank(es.repartition(13)).collect()
      .map(row => (row.getString(0), row.getDouble(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("domainRankDelta: warm refresh converges to the cold recompute; new hosts enter at prev 0; delta is the exact difference") {
    val rnd = new scala.util.Random(21)
    val oldEs = Seq.fill(300)((s"h${rnd.nextInt(15)}", s"h${rnd.nextInt(15)}"))
    // delta: a handful of new links, including a NEW host h99
    val deltaEs = Seq(("h0", "h99"), ("h99", "h1"), ("h2", "h3"), ("h2", "h3"))
    val prev = DomainGraph.domainRank(oldEs.toDF("src", "dst"))
    val full = (oldEs ++ deltaEs).toDF("src", "dst")
    val got = DomainGraph.domainRankDeltaFromWeights(
        full.groupBy($"src", $"dst").agg(count(lit(1)).as("w")), prev)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // one row per host of the NEW graph, including the new one
    assert(got.contains("h99") && got.size == 16)
    assert(got("h99")._2 == 0.0, "a new host has no previous rank")
    // delta is the exact IEEE difference of the two reported doubles
    got.values.foreach { case (pr, prev0, d) => assert(d == pr - prev0 + 0.0) }
    // the 3-iteration warm refresh lands near the cold 10-iteration
    // recompute, and STRICTLY closer than the stale ranks were — the
    // geometric-convergence property the operator exists for
    val cold = DomainGraph.domainRank(full).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val warmErr = cold.map { case (h, c) => math.abs(got(h)._1 - c) }.max
    val staleErr = cold.map { case (h, c) => math.abs(got(h)._2 - c) }.max
    // a new host shifts EVERY rank (teleport goes 1/15 → 1/16), so the
    // stale error is structural ~1e-2; three warm rounds shrink it
    // geometrically (damping³ ≈ 0.61 per-round factor on the residual)
    assert(warmErr < 5e-3, s"warm refresh must approximate cold, err=$warmErr")
    assert(warmErr < staleErr / 2,
      s"refresh must shrink the stale error (warm=$warmErr stale=$staleErr)")
    // mass is only conserved AT the fixed point — a warm start injects
    // the new host's uniform share and three rounds haven't fully
    // re-normalized; sanity-bound it rather than assert convergence
    val mass = got.values.map(_._1).sum
    assert(mass > 0.9 && mass < 1.1, s"mass $mass")
  }

  test("rankConvergence: exact-decimal JVM differential to the unit; geometric decay; max ≤ L1") {
    val rnd = new scala.util.Random(31)
    val es = Seq.fill(250)((s"h${rnd.nextInt(12)}", s"h${rnd.nextInt(12)}"))
    val got = DomainGraph.rankConvergenceFromTables(DomainGraph.edgeTables(es.toDF("src", "dst")))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == (1 to 10).toSet)
    // JVM reference replaying the SAME arithmetic: per-edge double term
    // quantized to decimal(28,10) via the shortest-string BigDecimal
    // (Spark's double→decimal cast), exact decimal sums, deltas read in
    // 1e-10 units — the spec must match to the LAST unit, no slack
    import java.math.{BigDecimal => JBD, RoundingMode}
    def q(d: Double) = JBD.valueOf(d).setScale(10, RoundingMode.HALF_UP)
    val w = es.groupBy(identity).view.mapValues(_.size).toMap
    val outW = es.groupBy(_._1).view.mapValues(_.size).toMap
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val tele = q((1.0 - 0.85) / n)
    var r = nodes.map(_ -> q(1.0 / n)).toMap
    val zero = JBD.ZERO.setScale(10)
    val ref = (1 to 10).map { _ =>
      val in = w.toSeq.groupBy(_._1._2).view.mapValues(_.map {
        case ((u, _), wt) => q(0.85 * r(u).doubleValue() * wt / outW(u))
      }.reduce(_.add(_))).toMap
      val next = nodes.map(v => v -> tele.add(in.getOrElse(v, zero))).toMap
      val ds = nodes.map(v =>
        next(v).subtract(r(v)).abs.movePointRight(10).longValueExact)
      r = next
      (ds.sum, ds.max)
    }
    (1 to 10).foreach { i =>
      assert(got(i) == ref(i - 1), s"iter $i: ${got(i)} vs ${ref(i - 1)}")
    }
    // the property the card exists to show: geometric decay (damping
    // 0.85 ⇒ ≥ 4× shrink well before round 10), and max ≤ L1 always
    assert(got(10)._1 < got(1)._1 / 4,
      s"deltas must decay geometrically: ${got(1)._1} → ${got(10)._1}")
    got.values.foreach { case (l1, mx) => assert(mx <= l1 && mx >= 0L) }
  }

  test("domainDegree: hand graph — distinct neighbors vs link weights, both orientations") {
    val es = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "a")).toDF("src", "dst")
    val got = DomainGraph.domainDegree(es).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      "a" -> ((2L, 3L, 1L, 1L)),   // out: {b,c}/3 links; in: {b}/1
      "b" -> ((1L, 1L, 1L, 2L)),   // out: {a}/1; in: {a}/2 links
      "c" -> ((0L, 0L, 1L, 1L))))  // sink: in only
  }

  test("domainHits: symmetric 2-cycle is the uniform fixpoint for both scores") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val got = hits(edges).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got == Map("a" -> ((0.5, 0.5)), "b" -> ((0.5, 0.5))))
  }

  test("domainHits: bipartite hand graph — hub/authority separation, L1 mass 1, role zeros") {
    // h1 links both authorities, h2 only the shared one: h1 is the
    // better hub; a1 (linked by both hubs) the better authority; pure
    // hubs carry authority 0, pure authorities hub 0
    val edges = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1")).toDF("src", "dst")
    val got = hits(edges).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set("h1", "h2", "a1", "a2"))
    assert(got("h1")._1 > got("h2")._1 && got("h2")._1 > 0.0)
    assert(got("a1")._2 > got("a2")._2 && got("a2")._2 > 0.0)
    assert(got("h1")._2 == 0.0 && got("h2")._2 == 0.0, "pure hubs: authority 0")
    assert(got("a1")._1 == 0.0 && got("a2")._1 == 0.0, "pure authorities: hub 0")
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-4)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-4)
  }

  test("domainHits: matches a JVM L1-normalized HITS reference within round-6 slack") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(200)((s"h${rnd.nextInt(12)}", s"h${rnd.nextInt(12)}"))
    val got = hits(es.toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val w = es.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size
    var a = nodes.map(_ -> 1.0 / n).toMap
    var h = Map.empty[String, Double]
    for (_ <- 1 to 5) {
      val hraw = nodes.map(u =>
        u -> w.collect { case ((`u`, v), wt) => wt * a(v) }.sum).toMap
      val hs = hraw.values.sum
      h = nodes.map(u => u -> hraw(u) / hs).toMap
      val araw = nodes.map(v =>
        v -> w.collect { case ((u, `v`), wt) => wt * h(u) }.sum).toMap
      val as = araw.values.sum
      a = nodes.map(v => v -> araw(v) / as).toMap
    }
    assert(got.keySet == nodes.toSet)
    got.foreach { case (host, (hv, av)) =>
      assert(math.abs(hv - h(host)) < 6e-7, s"hub $host: $hv vs ${h(host)}")
      assert(math.abs(av - a(host)) < 6e-7, s"auth $host: $av vs ${a(host)}")
    }
  }
}
