package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Host-graph analytics (SURVEY.md §2.3) — crawl-scheduling governance
  * over the link structure of a corpus: which domains does the crawl's
  * own link graph consider central? A crawl budget allocated by
  * PageRank-style centrality (the classic Page/Brin/Motwani/Winograd
  * formulation) spends fetches on hosts the web itself endorses, and a
  * training-mixture designer reads the same ranking as a proxy for
  * source authority (CommonCrawl publishes exactly this artifact per
  * snapshot).
  *
  * Scale shape: the rank vector NEVER leaves the cluster — each power
  * iteration is (ranks ⋈ weighted edges) on the source host + one
  * aggregate on the destination host, i.e. two key-column shuffles per
  * iteration over a table with one row per host; payload text/URLs are
  * not involved after the one-time edge aggregation. The iteration
  * count is fixed (default 10 — the standard "crawl-ranking quality"
  * horizon; convergence is geometric in the damping factor), so the
  * composed plan is a LINEAR chain of depth `iters` — unlike the
  * connected-components loop there is no self-referencing blow-up, so
  * no checkpointing is needed; at thousands of iterations one would
  * `localCheckpoint` every ~20 rounds purely to bound optimizer time.
  *
  * Oracle-exactness (the t_perplexity/d_dsir trick, iterated): each
  * iteration's contribution term `d · r(u) · w(u,v) / out(u)` is ONE
  * double expression on inputs both engines hold bit-identically (the
  * previous round's rank is a DECIMAL(28,10) — exact — and w/out are
  * integers), then the per-destination SUM runs in DECIMAL(28,10)
  * (exact, order-free), then teleport `(1−d)/N` (the same double on
  * both sides) is added in decimal. Rank vectors are therefore
  * bit-identical after EVERY iteration, and the final ROUND(,6)+0.0 is
  * cosmetic, not load-bearing.
  */
object DomainGraph {

  /** PageRank over a (src, dst) edge list (one row per link; parallel
    * links become weights). Returns (host, pagerank) for every node
    * that appears as a source or destination. Damping 0.85, uniform
    * teleport over the node set. Dangling hosts (no out-links) simply
    * contribute nothing — their mass exits through the teleport term,
    * the standard simplification for crawl ranking. The edge tables it
    * materializes ([[edgeTables]]) are its own and are released once
    * the rank vector is built; [[domainRankFromTables]] reads shared
    * tables and must not release them, so the two forms stay apart. */
  def domainRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame =
    domainRankImpl(edgeTables(edges), iters, damping, releaseTables = true)

  /** [[domainRank]] over the SHARED materialized edge tables
    * (`Catalog.hostGraph`): the four host-graph keys read one
    * edge aggregation/out-degree/node build per session instead of
    * re-materializing it per invocation — the stored link-weight table
    * a scheduled 100 TB rank refresh reads (RankStream's layout). */
  def domainRankFromTables(tables: (DataFrame, DataFrame, DataFrame, Long),
                           iters: Int = 10, damping: Double = 0.85): DataFrame =
    domainRankImpl(tables, iters, damping, releaseTables = false)

  private def domainRankImpl(tables: (DataFrame, DataFrame, DataFrame, Long),
                             iters: Int, damping: Double,
                             releaseTables: Boolean): DataFrame = {
    val (w, out, nodes, n) = tables
    val ranks0 = nodes.select(col("host"),
      lit(1.0 / n).cast("decimal(28,10)").as("r"))
    val ranks = powerIterations(w, out, nodes, n, ranks0, iters, damping)
    // the returned frame reads only the (materialized) final rank
    // vector — the loop inputs' blocks can go (never for the shared
    // Catalog tables: other keys serve off them)
    if (releaseTables) {
      DupClusters.release(w); DupClusters.release(out); DupClusters.release(nodes)
    }
    ranks.select(col("host"),
      (round(col("r").cast("double"), 6) + lit(0.0)).as("pagerank"))
  }

  /** The edge aggregation, out-degree table and node set are read by
    * EVERY iteration — materialize them once (DupClusters.materialize:
    * checkpoint-dir if configured, executor-local otherwise). Without
    * this, lineage re-derives the full edge groupBy per iteration —
    * the audit gate measured 73 shuffles for the naive chain vs ~4
    * with materialization. The node COUNT is the one scalar to the
    * driver (the teleport constant), never a data row. */
  private[graft] def edgeTables(edges: DataFrame): (DataFrame, DataFrame, DataFrame, Long) =
    edgeTablesFromWeights(
      edges.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")))

  /** Same derived tables over a PRE-AGGREGATED (src, dst, w) weight
    * table — the streaming maintainer's entry point: link weights are
    * additive counts, so [[graft.streaming.RankStream]] stores
    * per-batch weight partials and re-merges them on read; a refresh
    * then never rescans raw edges. */
  private def edgeTablesFromWeights(w0: DataFrame): (DataFrame, DataFrame, DataFrame, Long) = {
    val w = DupClusters.materialize(w0)
    val out = DupClusters.materialize(
      w.groupBy(col("src")).agg(sum(col("w")).as("out_w")))
    val nodes = DupClusters.materialize(
      w.select(col("src").as("host"))
        .union(w.select(col("dst").as("host"))).distinct())
    (w, out, nodes, nodes.count())
  }

  /** `iters` exact-decimal power iterations from `ranks0` — the shared
    * loop of [[domainRank]] (cold uniform start) and [[domainRankDeltaFromTables]]
    * (warm start from previous ranks). Returns the final (host, r)
    * decimal rank vector, materialized. */
  private def powerIterations(w: DataFrame, out: DataFrame, nodes: DataFrame,
                              n: Long, ranks0: DataFrame, iters: Int,
                              damping: Double): DataFrame = {
    val teleport = (1.0 - damping) / n
    var ranks = ranks0
    var lastMat: DataFrame = null
    for (i <- 1 to iters) {
      val next = oneIteration(w, out, nodes, teleport, damping, ranks)
      // Materialize every SECOND round's rank vector (one row per host,
      // plus the final one): the composed plan stays ≤ 2 iterations
      // deep — still bounded optimizer/shuffle growth, the GraphX-style
      // discipline for iterative jobs — while halving the
      // checkpoint round-trips, which dominate wall time at test SF
      // (each eager localCheckpoint is a full job). At cluster scale
      // the cost per iteration is the two key shuffles either way.
      // Previous rounds' blocks are released as in the CC loop.
      if (i % 2 == 0 || i == iters) {
        val m = DupClusters.materialize(next)
        if (lastMat != null) DupClusters.release(lastMat)
        lastMat = m
        ranks = m
      } else ranks = next
    }
    ranks
  }

  /** ONE exact-decimal power iteration (the shared step of every rank
    * loop): contribution join on the source host, destination-keyed
    * DECIMAL(28,10) sum, teleport re-add over the node set. */
  private def oneIteration(w: DataFrame, out: DataFrame, nodes: DataFrame,
                           teleport: Double, damping: Double,
                           ranks: DataFrame): DataFrame = {
    val contrib = w.join(out, "src")
      .join(ranks.withColumnRenamed("host", "src"), "src")
      .select(col("dst"),
        (lit(damping) * col("r").cast("double") * col("w") / col("out_w"))
          .cast("decimal(28,10)").as("t"))
      .groupBy(col("dst")).agg(sum(col("t")).as("in_r"))
    // The contribution SUM comes back as decimal(38,10); adding the
    // teleport decimal(28,10) directly would make Spark's precision-
    // loss rule adjust the result to SCALE 9 (p=39 → 38 forces a digit
    // out), silently rounding every rank to 1e-9 per iteration — the
    // DuckDB chain keeps scale 10, so "bit-identical per iteration"
    // would be off by ≤1e-9 (hidden by ROUND(,6), but load-bearing for
    // d_rank_convergence's exact 1e-10-unit deltas). Casting the sum
    // down to (28,10) first (same scale — lossless, ranks ≤ 1) keeps
    // the add at p=29, s=10: exact, truly bit-identical to the mirror.
    nodes
      .join(contrib.withColumnRenamed("dst", "host"), Seq("host"), "left")
      .select(col("host"),
        (lit(teleport).cast("decimal(28,10)") +
          coalesce(col("in_r"), lit(0).cast("decimal(28,10)"))
            .cast("decimal(28,10)")).as("r"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the weighted host
    * graph — the mutual-reinforcement COMPLEMENT of [[domainRank]]'s
    * single centrality: a good hub links to good authorities, a good
    * authority is linked from good hubs. Crawl governance reads the two
    * scores TOGETHER: a host with huge hub mass but no authority is a
    * directory/link-farm signature (PageRank can hide it — mass flows
    * through), while authority without hub mass marks a pure content
    * sink; [[domainDegree]] gives the raw-count version of the same
    * read, this gives the recursive one.
    *
    * Per iteration (weighted, L1-normalized): h_raw(u) = Σ_{u→v}
    * w(u,v)·a(v), h = h_raw/Σh_raw, then a_raw(v) = Σ_{u→v} w(u,v)·h(u),
    * a = a_raw/Σa_raw. L1 normalization replaces the textbook L2 — same
    * fixpoint direction (normalization only rescales), but the quotient
    * stays oracle-exact without a square root. Hosts with no out-links
    * carry hub 0; no in-links, authority 0 (the COALESCE arms).
    *
    * Oracle-exactness (the [[domainRank]] recipe extended to the
    * normalization): each contribution term w·score is ONE double
    * expression on inputs both engines hold bit-identically, summed in
    * DECIMAL(28,10) (exact, order-free); the per-round total is an
    * exact decimal sum of those sums, and the normalized score is ONE
    * double division raw/total CAST back to DECIMAL(28,10) — the same
    * double→decimal half-up rounding on both engines (scaled values
    * stay ≪ 2⁵³, so the decimal→double casts are correctly rounded).
    * Score vectors are therefore bit-identical after EVERY half-step.
    *
    * Plan: two key-column joins + two key aggregates per iteration over
    * one-row-per-host frames (the [[domainRank]] shape), plus two
    * single-partition windows over the ≤ #hosts-row score vector for
    * the normalizing totals (the documented model-scale exception
    * class); score vectors materialized per round, previous released —
    * ≤ 2 snapshots live at any time. Fixed horizon (default 5: HITS
    * converges geometrically in the principal eigengap; the
    * d_rank_convergence discipline applies if a deployment wants the
    * curve).
    *
    * Input: a PRE-AGGREGATED (src, dst, w) weight table (the
    * [[domainRankDeltaFromWeights]] convention; a raw edge list is one
    * `count` per (src, dst) away). Link weights are additive counts, so
    * the streaming maintainer ([[graft.streaming.RankStream]]) serves
    * HITS off its stored per-batch weight partials with arithmetic
    * bit-equal to the batch key over the same edge multiset. The weight
    * and node tables are materialized here and released once the score
    * vectors no longer need them. */
  def domainHitsFromWeights(w0: DataFrame, iters: Int = 5): DataFrame = {
    val w = DupClusters.materialize(w0)
    val nodes = DupClusters.materialize(
      w.select(col("src").as("host"))
        .union(w.select(col("dst").as("host"))).distinct())
    domainHitsImpl(w, nodes, nodes.count(), iters, releaseTables = true)
  }

  /** [[domainHitsFromWeights]] over the shared Catalog host-graph
    * tables (see [[domainRankFromTables]]; the out-degree table is
    * unused). They are never released here: other keys serve off them. */
  def domainHitsFromTables(tables: (DataFrame, DataFrame, DataFrame, Long),
                           iters: Int = 5): DataFrame =
    domainHitsImpl(tables._1, tables._3, tables._4, iters, releaseTables = false)

  private def domainHitsImpl(w: DataFrame, nodes: DataFrame, n: Long,
                             iters: Int, releaseTables: Boolean): DataFrame = {
    // hub scores only exist after a first half-step (h is derived from
    // a, never initialized) — a 0-iteration HITS has no defined output
    require(iters >= 1, s"HITS needs at least one iteration (got $iters)")
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // one half-step: raw = Σ w·score over `joinKey` edges grouped on
    // `outKey`, then the L1-normalizing double division
    def halfStep(score: DataFrame, joinKey: String, outKey: String): DataFrame = {
      val raw = w.join(score.withColumnRenamed("host", joinKey), joinKey)
        .select(col(outKey),
          (col("v").cast("double") * col("w")).cast("decimal(28,10)").as("t"))
        .groupBy(col(outKey)).agg(sum(col("t")).as("raw"))
      nodes
        .join(raw.withColumnRenamed(outKey, "host"), Seq("host"), "left")
        .select(col("host"),
          coalesce(col("raw"), lit(0).cast("decimal(28,10)")).as("raw"))
        .withColumn("tot", sum(col("raw")).over(all))
        .select(col("host"),
          (col("raw").cast("double") / col("tot").cast("double"))
            .cast("decimal(28,10)").as("v"))
    }
    var a = DupClusters.materialize(
      nodes.select(col("host"), lit(1.0 / n).cast("decimal(28,10)").as("v")))
    var h: DataFrame = null
    // materialize every SECOND iteration (both half-step vectors), not
    // every half-step — the powerIterations discipline applied here.
    // Lineage stays ≤ 2 iterations (4 half-steps) deep, bounding
    // optimizer/shuffle growth, while halving the eager checkpoint
    // round-trips that dominate wall time at test SF (each is a full
    // blocking job over a ≤ #hosts-row frame); ≤ 2 score snapshots are
    // live at any time.
    var live: List[DataFrame] = List(a)
    for (i <- 1 to iters) {
      val mat = i % 2 == 0 || i == iters
      // hub from authority: edges keyed on dst, grouped on src
      val hNext = halfStep(a, "dst", "src")
      h = if (mat) DupClusters.materialize(hNext) else hNext
      // authority from hub: edges keyed on src, grouped on dst (reads
      // the just-materialized hub on checkpoint rounds)
      val aNext = halfStep(h, "src", "dst")
      a = if (mat) DupClusters.materialize(aNext) else aNext
      if (mat) {
        live.foreach(DupClusters.release)
        live = List(h, a)
      }
    }
    val out = h.withColumnRenamed("v", "hv")
      .join(a.withColumnRenamed("v", "av"), Seq("host"))
      .select(col("host"),
        (round(col("hv").cast("double"), 6) + lit(0.0)).as("hub"),
        (round(col("av").cast("double"), 6) + lit(0.0)).as("authority"))
    if (releaseTables) { DupClusters.release(w); DupClusters.release(nodes) }
    out
  }

  /** PageRank CONVERGENCE curve — the governance card that justifies an
    * iteration count before anyone trusts [[domainRank]]'s horizon or
    * [[domainRankDeltaFromTables]]'s refresh depth: per power iteration, the L1
    * and max rank movement across the whole host set. Power iteration
    * converges geometrically in the damping factor, so the curve should
    * drop ~0.85× per round once transients pass — a curve that plateaus
    * early says the horizon is wasteful; one still falling at the last
    * round says it's too short. A scheduled 100-TB rank refresh reads
    * this once per graph regime change, then pins its iteration count.
    *
    * EXACT output, no float discipline needed: rank vectors are
    * DECIMAL(28,10) after every iteration (bit-identical on both
    * engines — see the class doc), so each per-host |r_i − r_{i−1}| is
    * an exact multiple of 10⁻¹⁰; the card reports L1/max in integer
    * 10⁻¹⁰ units (BIGINT), a lossless encoding both engines agree on to
    * the last unit.
    *
    * Plan: each iteration adds ONE host-keyed join of two one-row-per-
    * host rank vectors on top of the iteration's own two key shuffles,
    * materialized as one (host, r, rp) frame; the per-round 1-row delta
    * aggregates are lazy and evaluated together by the final
    * materialize of the union of `iters` 1-row cards, so the loop runs
    * one blocking job per iteration.
    *
    * `tables` are the host-graph tables ([[edgeTables]]; the serving
    * key reads the shared `Catalog.hostGraph`, see
    * [[domainRankFromTables]]); the caller owns their lifecycle. */
  def rankConvergenceFromTables(tables: (DataFrame, DataFrame, DataFrame, Long),
                                iters: Int = 10,
                                damping: Double = 0.85): DataFrame = {
    val (w, out, nodes, n) = tables
    val teleport = (1.0 - damping) / n
    // Retention: all `iters` rank snapshots stay live until the final
    // card union is computed (each is one row per host — for a
    // diagnostics card run on a 10⁸-host graph that is a few GB
    // cluster-wide, released in one sweep below; the SERVING loop,
    // powerIterations, keeps its ≤ 2-snapshot discipline).
    val init = DupClusters.materialize(
      nodes.select(col("host"), lit(1.0 / n).cast("decimal(28,10)").as("r")))
    var prev: DataFrame = init
    var mats = List(init)
    var deltas = List.empty[DataFrame]
    for (i <- 1 to iters) {
      val step = DupClusters.materialize(
        oneIteration(w, out, nodes, teleport, damping, prev)
          .join(prev.select(col("host"), col("r").as("rp")), "host"))
      mats ::= step
      deltas ::= step
        .select((abs(col("r") - col("rp")) * lit(10000000000L))
          .cast("long").as("d"))
        .agg(sum(col("d")).as("l1"), max(col("d")).as("mx"))
        .select(lit(i).as("iter"), col("l1").as("l1_delta_e10"),
          col("mx").as("max_delta_e10"))
      prev = step.select(col("host"), col("r"))
    }
    val cards = DupClusters.materialize(deltas.reverse.reduce(_ unionByName _))
    mats.foreach(DupClusters.release)
    cards
  }

  /** INCREMENTAL PageRank refresh — the 100-TB companion of
    * [[domainRank]]: instead of a cold 10-iteration recompute after
    * every crawl/ingest delta, WARM-START the power iteration from the
    * previous rank vector over the UPDATED edge set and run a few
    * iterations (default 3). Convergence of power iteration is
    * geometric from any start, so a small edge perturbation (the normal
    * delta case — ingest touches few hosts) is absorbed in 2–3 rounds;
    * hosts new to the graph start at the uniform 1/n mass. Per-round
    * cost and plan shape are IDENTICAL to the cold form (two key-column
    * shuffles over one-row-per-host tables) — the saving is the
    * iteration count, which is what dominates a scheduled refresh. The
    * report carries (pagerank, prev_rank, delta) so the refresh doubles
    * as the drift card: which hosts actually moved this delta.
    *
    * Oracle-exact like [[domainRank]]: the warm start is the PREVIOUS
    * key's ROUND(,6) output (a double both engines hold bit-identically)
    * cast back to DECIMAL(28,10), and each refresh iteration is the
    * same exact-decimal contribution sum — so rank vectors stay
    * bit-identical per iteration and the final delta is the same IEEE
    * subtraction of identical doubles.
    *
    * @param tables    the host-graph tables of the FULL updated edge list
    *                  (old ∪ delta): the shared `Catalog.hostGraph`, or
    *                  [[edgeTables]] in-plan; the caller owns their
    *                  lifecycle
    * @param prevRanks (host, pagerank) — [[domainRank]]'s output on the
    *                  pre-delta graph */
  def domainRankDeltaFromTables(tables: (DataFrame, DataFrame, DataFrame, Long),
                                prevRanks: DataFrame, iters: Int = 3,
                                damping: Double = 0.85): DataFrame =
    domainRankDeltaImpl(tables, prevRanks, iters, damping, releaseTables = false)

  /** [[domainRankDeltaFromTables]] over a pre-aggregated (src, dst, w)
    * weight table, built into host-graph tables and released after
    * the refresh — the serve path of the streaming rank maintainer
    * ([[graft.streaming.RankStream]]): identical arithmetic (weights
    * enter the contribution term as the same integer values whether
    * counted from raw edges or summed from stored partials), so the streamed
    * refresh is bit-equal to the batch delta over the same edge
    * multiset. An EMPTY prevRanks degrades to the cold uniform start
    * (the coalesce), so the first refresh doubles as [[domainRank]]
    * when run at the cold iteration count. */
  private[graft] def domainRankDeltaFromWeights(weights: DataFrame, prevRanks: DataFrame,
                                                iters: Int = 3,
                                                damping: Double = 0.85): DataFrame =
    domainRankDeltaImpl(edgeTablesFromWeights(weights), prevRanks, iters,
      damping, releaseTables = true)

  private def domainRankDeltaImpl(tables: (DataFrame, DataFrame, DataFrame, Long),
                                  prevRanks: DataFrame, iters: Int,
                                  damping: Double,
                                  releaseTables: Boolean): DataFrame = {
    val (w, out, nodes, n) = tables
    val prev = prevRanks.select(col("host"), col("pagerank").as("prev_rank"))
    val ranks0 = nodes
      .join(prev, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("prev_rank"), lit(1.0 / n))
          .cast("decimal(28,10)").as("r"))
    val ranks = powerIterations(w, out, nodes, n, ranks0, iters, damping)
    if (releaseTables) {
      DupClusters.release(w); DupClusters.release(out); DupClusters.release(nodes)
    }
    ranks
      .select(col("host"), (round(col("r").cast("double"), 6) + lit(0.0)).as("pagerank"))
      .join(prev, Seq("host"), "left")
      .select(col("host"), col("pagerank"),
        (coalesce(col("prev_rank"), lit(0.0)) + lit(0.0)).as("prev_rank"),
        (col("pagerank") - coalesce(col("prev_rank"), lit(0.0)) + lit(0.0)).as("delta"))
  }

  // ---- driver wiring ----

  import graft.core.Tables

  /** The test corpus has no link column, so the driver key runs over a
    * DETERMINISTIC synthetic host graph (the d_url_dedup convention,
    * UrlDedup.syntheticUrls): each document links its own source's
    * host to the host of source `(doc_id·7 + 3) mod 20` — a fixed
    * 20-node graph with data-dependent weights (self-loops included;
    * PageRank is well-defined with them), mirrored verbatim in the
    * oracle SQL. */
  private[graft] def syntheticEdges(documents: DataFrame): DataFrame =
    documents.select(
      concat(col("source"), lit(".example.com")).as("src"),
      concat(lit("src"), pmod(col("doc_id") * 7 + 3, lit(20)).cast("string"),
        lit(".example.com")).as("dst"))

  /** Host-graph degree/weight profile: per host, distinct out/in
    * neighbors and total out/in link weight — the structural companion
    * to [[domainRank]] (a host with huge in-weight from ONE neighbor is
    * a link-farm signature PageRank alone can hide; crawl schedulers
    * read both). One union of the edge list's two orientations (a
    * column swap, not a second scan of anything wider) → ONE host-keyed
    * aggregate with conditional distinct/sum arms — all integer counts,
    * nothing float. */
  def domainDegree(edges: DataFrame): DataFrame =
    edges.select(col("src").as("host"), col("dst").as("other"), lit(1).as("is_out"))
      .unionByName(
        edges.select(col("dst").as("host"), col("src").as("other"), lit(0).as("is_out")))
      .groupBy(col("host"))
      .agg(
        countDistinct(when(col("is_out") === 1, col("other"))).as("out_degree"),
        sum(when(col("is_out") === 1, 1L).otherwise(0L)).as("out_links"),
        countDistinct(when(col("is_out") === 0, col("other"))).as("in_degree"),
        sum(when(col("is_out") === 0, 1L).otherwise(0L)).as("in_links"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // r17: the four iterative keys read the SHARED materialized edge
    // tables (Catalog.hostGraph — one edge aggregation/out-degree/node
    // build per session, the stored link-weight layout RankStream
    // maintains) instead of re-materializing them per invocation
    "d_domain_rank" -> ((s, d) =>
      domainRankFromTables(graft.core.Catalog.hostGraph(s, d))),
    "d_domain_degree" -> ((s, d) => domainDegree(syntheticEdges(Tables(s, d).documents))),
    // incremental refresh fixture: the pre-delta graph is the corpus
    // minus every 50th document (the "yesterday" crawl); the delta
    // restores them — prev ranks come from the Catalog-cached snapshot
    // (in production the previous refresh's STORED output, this
    // operator's own input contract), the key times the 3 warm-start
    // iterations on the full graph
    "d_rank_delta" -> ((s, d) =>
      domainRankDeltaFromTables(graft.core.Catalog.hostGraph(s, d),
        graft.core.Catalog.rankSnapshot(s, d))),
    "d_rank_convergence" -> ((s, d) =>
      rankConvergenceFromTables(graft.core.Catalog.hostGraph(s, d))),
    "d_domain_hits" -> ((s, d) =>
      domainHitsFromTables(graft.core.Catalog.hostGraph(s, d))))

  /** 10 unrolled power iterations as generated CTEs — each one the
    * exact decimal-sum-of-double-terms shape the Scala plan runs (see
    * class doc: rank vectors are bit-identical per iteration, so any
    * iteration count oracle-matches). Literals are CAST to DOUBLE
    * before dividing: a bare `1.0` is a DECIMAL literal in DuckDB and
    * would divide in decimal, not IEEE double. */
  val oracles: Map[String, String] = {
    // One power iteration as a CTE, parameterized over the chain's
    // table names so the same generator serves the cold chain
    // (d_domain_rank) and BOTH chains of the delta key.
    def iterCte(cur: String, prev: String, e: String, o: String,
                nodes: String, cnt: String): String =
      s"""$cur AS (SELECT n.host,
         |    CAST((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / c.n AS DECIMAL(28,10))
         |      + COALESCE(s.in_r, CAST(0 AS DECIMAL(28,10))) AS r
         |  FROM $nodes n CROSS JOIN $cnt c LEFT JOIN (
         |    SELECT e.dst AS host,
         |      SUM(CAST(CAST(0.85 AS DOUBLE) * CAST(p.r AS DOUBLE) * e.w / o.out_w
         |        AS DECIMAL(28,10))) AS in_r
         |    FROM $e e JOIN $o o USING (src) JOIN $prev p ON p.host = e.src
         |    GROUP BY 1) s ON s.host = n.host)""".stripMargin
    val iterCtes = (1 to 10)
      .map(i => iterCte(s"r$i", s"r${i - 1}", "e", "o", "nodes", "cnt"))
      .mkString(",\n")
    // graph CTEs (edge weights, out-degrees, node set, count) over a
    // given links table, with a name suffix
    def graphCtes(links: String, sfx: String): String =
      s"""e$sfx AS (SELECT src, dst, COUNT(*) AS w FROM $links GROUP BY 1, 2),
         |o$sfx AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e$sfx GROUP BY 1),
         |nodes$sfx AS (SELECT src AS host FROM e$sfx UNION SELECT dst FROM e$sfx),
         |cnt$sfx AS (SELECT COUNT(*) AS n FROM nodes$sfx)""".stripMargin
    Map(
      "d_domain_rank" ->
        s"""WITH links AS (SELECT source || '.example.com' AS src,
           |    'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) || '.example.com' AS dst
           |  FROM documents),
           |e AS (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY 1, 2),
           |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e GROUP BY 1),
           |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
           |cnt AS (SELECT COUNT(*) AS n FROM nodes),
           |r0 AS (SELECT host, CAST(CAST(1.0 AS DOUBLE) / c.n AS DECIMAL(28,10)) AS r
           |  FROM nodes CROSS JOIN cnt c),
           |$iterCtes
           |SELECT host, ROUND(CAST(r AS DOUBLE), 6) + 0.0 AS pagerank FROM r10""".stripMargin,
      // domainRankDeltaFromTables mirror: the cold 10-iter chain on the pre-delta
      // graph (suffix `od`) → prev ranks at ROUND(,6) (the exact warm
      // start both engines hold bit-identically), then 3 refresh
      // iterations on the full graph from d0 = COALESCE(prev, 1/n).
      "d_rank_delta" ->
        (s"""WITH linksod AS (SELECT source || '.example.com' AS src,
            |    'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) || '.example.com' AS dst
            |  FROM documents WHERE doc_id % 50 <> 0),
            |${graphCtes("linksod", "od")},
            |rod0 AS (SELECT host, CAST(CAST(1.0 AS DOUBLE) / c.n AS DECIMAL(28,10)) AS r
            |  FROM nodesod CROSS JOIN cntod c),
            |""".stripMargin +
          (1 to 10).map(i =>
            iterCte(s"rod$i", s"rod${i - 1}", "eod", "ood", "nodesod", "cntod"))
            .mkString(",\n") + ",\n" +
          s"""prevd AS (SELECT host, ROUND(CAST(r AS DOUBLE), 6) + 0.0 AS prev_rank
             |  FROM rod10),
             |linksnw AS (SELECT source || '.example.com' AS src,
             |    'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) || '.example.com' AS dst
             |  FROM documents),
             |${graphCtes("linksnw", "nw")},
             |dnw0 AS (SELECT n.host,
             |    CAST(COALESCE(p.prev_rank, CAST(1.0 AS DOUBLE) / c.n) AS DECIMAL(28,10)) AS r
             |  FROM nodesnw n CROSS JOIN cntnw c LEFT JOIN prevd p ON p.host = n.host),
             |""".stripMargin +
          (1 to 3).map(i =>
            iterCte(s"dnw$i", s"dnw${i - 1}", "enw", "onw", "nodesnw", "cntnw"))
            .mkString(",\n") + "\n" +
          """SELECT f.host, ROUND(CAST(f.r AS DOUBLE), 6) + 0.0 AS pagerank,
            |  COALESCE(p.prev_rank, CAST(0.0 AS DOUBLE)) + 0.0 AS prev_rank,
            |  ROUND(CAST(f.r AS DOUBLE), 6) + 0.0
            |    - COALESCE(p.prev_rank, CAST(0.0 AS DOUBLE)) + 0.0 AS delta
            |FROM dnw3 f LEFT JOIN prevd p ON p.host = f.host""".stripMargin),
      // rankConvergenceFromTables mirror: the SAME r0..r10 decimal chain as
      // d_domain_rank, then one delta card per consecutive pair. Every
      // per-host |r_i − r_{i−1}| is an exact scale-10 decimal, so
      // ×10¹⁰ is an exact integer — both engines agree to the unit
      // (SUM goes HUGEINT in DuckDB → CAST back to BIGINT).
      "d_rank_convergence" ->
        (s"""WITH links AS (SELECT source || '.example.com' AS src,
            |    'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) || '.example.com' AS dst
            |  FROM documents),
            |e AS (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY 1, 2),
            |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e GROUP BY 1),
            |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
            |cnt AS (SELECT COUNT(*) AS n FROM nodes),
            |r0 AS (SELECT host, CAST(CAST(1.0 AS DOUBLE) / c.n AS DECIMAL(28,10)) AS r
            |  FROM nodes CROSS JOIN cnt c),
            |$iterCtes
            |""".stripMargin +
          (1 to 10).map(i =>
            s"""SELECT CAST($i AS INT) AS iter,
               |  CAST(SUM(CAST(ABS(a.r - b.r) * 10000000000 AS BIGINT)) AS BIGINT)
               |    AS l1_delta_e10,
               |  MAX(CAST(ABS(a.r - b.r) * 10000000000 AS BIGINT)) AS max_delta_e10
               |FROM r$i a JOIN r${i - 1} b ON a.host = b.host""".stripMargin)
            .mkString("\nUNION ALL\n")),
      // domainHitsFromWeights mirror: 5 unrolled (hub, authority) half-step pairs —
      // each the same decimal-sum-of-double-terms shape as the rank
      // chain plus the L1-normalizing raw/total double division CAST
      // back to DECIMAL(28,10) (score vectors bit-identical per
      // half-step, see domainHitsFromWeights scaladoc); the final ROUND(,6)+0.0
      // is cosmetic. Every per-half-step CTE is MATERIALIZED (the
      // s_opq_recall precedent): hraw/araw are each referenced twice
      // (the frame + its normalizing total), so DuckDB's default
      // inlining would double the plan per half-step — 2^10 copies of
      // the base chain by a5, a hang at ANY sf.
      "d_domain_hits" -> {
        def halfCtes(i: Int): String =
          s"""hraw$i AS MATERIALIZED (SELECT n.host, COALESCE(s.raw, CAST(0 AS DECIMAL(28,10))) AS raw
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.src AS host, SUM(CAST(CAST(p.v AS DOUBLE) * e.w AS DECIMAL(28,10))) AS raw
             |    FROM e JOIN a${i - 1} p ON p.host = e.dst GROUP BY 1) s ON s.host = n.host),
             |h$i AS MATERIALIZED (SELECT host, CAST(CAST(raw AS DOUBLE) / CAST(t.tot AS DOUBLE) AS DECIMAL(28,10)) AS v
             |  FROM hraw$i CROSS JOIN (SELECT SUM(raw) AS tot FROM hraw$i) t),
             |araw$i AS MATERIALIZED (SELECT n.host, COALESCE(s.raw, CAST(0 AS DECIMAL(28,10))) AS raw
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS host, SUM(CAST(CAST(p.v AS DOUBLE) * e.w AS DECIMAL(28,10))) AS raw
             |    FROM e JOIN h$i p ON p.host = e.src GROUP BY 1) s ON s.host = n.host),
             |a$i AS MATERIALIZED (SELECT host, CAST(CAST(raw AS DOUBLE) / CAST(t.tot AS DOUBLE) AS DECIMAL(28,10)) AS v
             |  FROM araw$i CROSS JOIN (SELECT SUM(raw) AS tot FROM araw$i) t)""".stripMargin
        s"""WITH links AS (SELECT source || '.example.com' AS src,
           |    'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) || '.example.com' AS dst
           |  FROM documents),
           |e AS (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY 1, 2),
           |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
           |cnt AS (SELECT COUNT(*) AS n FROM nodes),
           |a0 AS (SELECT host, CAST(CAST(1.0 AS DOUBLE) / c.n AS DECIMAL(28,10)) AS v
           |  FROM nodes CROSS JOIN cnt c),
           |${(1 to 5).map(halfCtes).mkString(",\n")}
           |SELECT h.host, ROUND(CAST(h.v AS DOUBLE), 6) + 0.0 AS hub,
           |  ROUND(CAST(a.v AS DOUBLE), 6) + 0.0 AS authority
           |FROM h5 h JOIN a5 a ON a.host = h.host""".stripMargin
      },
      // Mirror of domainDegree: the same two-orientation union and
      // conditional distinct/sum arms — all integer counts.
      "d_domain_degree" ->
        """WITH links AS (SELECT source || '.example.com' AS src,
          |    'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) || '.example.com' AS dst
          |  FROM documents),
          |u AS (SELECT src AS host, dst AS other, 1 AS is_out FROM links
          |      UNION ALL
          |      SELECT dst AS host, src AS other, 0 AS is_out FROM links)
          |SELECT host,
          |  CAST(COUNT(DISTINCT CASE WHEN is_out = 1 THEN other END) AS BIGINT) AS out_degree,
          |  CAST(SUM(CASE WHEN is_out = 1 THEN 1 ELSE 0 END) AS BIGINT) AS out_links,
          |  CAST(COUNT(DISTINCT CASE WHEN is_out = 0 THEN other END) AS BIGINT) AS in_degree,
          |  CAST(SUM(CASE WHEN is_out = 0 THEN 1 ELSE 0 END) AS BIGINT) AS in_links
          |FROM u GROUP BY 1""".stripMargin)
  }
}
