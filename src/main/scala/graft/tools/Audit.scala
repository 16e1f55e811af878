package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.core.GraftSession

/** Plan-shape audit over EVERY SparkEntry key: exchanges (shuffles),
  * join strategies, and codegen fallbacks per executed plan. Run with a
  * key name as an argument to print that plan in full.
  *
  *   sbt "runMain graft.tools.Audit"            # summary table
  *   sbt "runMain graft.tools.Audit --assert"   # gate mode: non-zero exit on violation
  *   sbt "runMain graft.tools.Audit q5_local_supplier"
  *
  * Gate rules (`--assert`), each counted by node class over
  * [[planNodes]]:
  *  - every key executes (no FAILED rows);
  *  - ZERO CartesianProduct anywhere;
  *  - BroadcastNestedLoopJoin only on the declared 1-row-broadcast
  *    keys (corpus-stats frames — a bnlj against a 1-row side is a scan,
  *    not a blow-up);
  *  - SortMergeJoin only on the declared fact×fact keys;
  *  - shuffle count per key (the key's own plan, not the
  *    once-per-session build of a cached relation it reads)
  *    within its declared budget (default [[DefaultMaxExchanges]] — a
  *    loose tripwire for plan explosions; tighter per-key budgets for
  *    the audited-hot keys).
  */
object Audit {

  /** Keys whose plan legitimately contains a BroadcastNestedLoopJoin:
    * every one is a crossJoin against a broadcast frame of one row (or
    * of ≤ k rows), never a blow-up. */
  private val BnljAllowed = Set(
    // crossJoin of the 1-row corpus-stats frame (N, Σdl, per-term df)
    // into the scan — a broadcast of one row, not a blow-up
    "t_bm25",
    // the 1-row corpus-stats frame of the lexical arm — the t_bm25
    // shape
    "s_hybrid_rrf",
    // the 1-row corpus-total frame crossJoined onto the 4-row stacked
    // threshold aggregate — the t_bm25 corpus-stats shape
    "t_decontam_curve",
    // the two 1-row radius aggregates (pair counts × distinct-doc
    // counts) crossJoined before the stack — the same shape
    "m_phash_curve",
    // the identical two-1-row-aggregate crossJoin, over the simhash
    // pair frame (the text twin of m_phash_curve)
    "d_simhash_curve",
    // the 1-row (total, n_keys) stats frame crossJoined onto the k-row
    // hot list — the t_bm25 corpus-stats shape
    "q_skew_report",
    // the 1-row N (tokenized-doc count) frame crossJoined into the
    // tf⋈df score — the t_bm25 corpus-stats shape
    "t_tfidf",
    // the 1-row median-watermark frame crossJoined into the old-snapshot
    // filter — the same corpus-stats shape
    "v_snapshot_diff",
    // the identical 1-row watermark crossJoin (the tombstone-aware diff
    // shares snapshotDiff's plan skeleton)
    "v_snapshot_diff_tombstone",
    // the 1-row τ (approx-quantile scalar) frame crossJoined into the
    // weight filter — the t_bm25 corpus-stats shape
    "d_dsir_threshold",
    // the same 1-row frame (the τ ARRAY — one sketch, f queries)
    // crossJoined into the conditional-sum sweep aggregate
    "d_dsir_curve",
    // the quality-model twins of the two shapes above (r15): the 1-row
    // tercile-τ array crossJoined into the bucket CASE / sweep aggregate
    "t_quality_model",
    "t_quality_model_curve",
    // the 1-row order-count frame crossJoined onto the pair-count
    // aggregate — the t_bm25 corpus-stats shape
    "q_basket_lift",
    // r16 opt: exact profile = one null/min/max pass crossJoined with
    // one 1-row countDistinct frame PER COLUMN (replacing the
    // Expand ×(#cols+1) multi-distinct rewrite and its two corpus
    // SortAggregates) — every BNLJ side is a single-row aggregate
    "q_profile",
    // its exact arm is the same per-column assembly
    "q_profile_hll_check",
    // TWO 1-row snapshot-total frames crossJoined onto the #sources-row
    // drift join — the t_bm25 corpus-stats shape, twice
    "t_corpus_drift",
    // hybridRrf's 1-row corpus-stats crossJoin, plus one k-row ranks
    // frame crossJoined onto the 5-row panel for the IDCG terms — every
    // BNLJ side is ≤ k rows
    "s_rank_metrics",
    // the same shapes again: the 1-row corpus-stats crossJoin of the
    // lexical rank list (read once for all rrfK candidates) and the
    // k-row ranks × 1-query panel IDCG frame
    "s_rrf_curve")

  /** Keys where a SortMergeJoin is the RIGHT strategy (fact×fact joins
    * of two comparably-sized distinct key sets). */
  private val SmjAllowed = Set("q_set_ops", "q_full_outer",
    // corpus ⋈ per-component survivor summary: both sides corpus-order
    // (the summary has one row per dup-group), a genuine fact×fact
    // equi-join — broadcast would be wrong at scale
    "d_semantic_dedup", "d_semantic_ivf",
    // members ⋈ CC assignment and members ⋈ per-component vecsum:
    // both corpus-order fact×fact equi-joins (the sum table has one
    // row per component ≈ corpus survivors) — broadcast would be
    // wrong at scale, exactly like the survivor-summary join above
    "d_semantic_medoid",
    // recomputes the corpus survivor set inline (same join as above)
    // before the batch×survivor check
    "d_semantic_cross",
    // full-outer fusion of two ≤100-row rank lists (full outer has no
    // broadcast strategy in Spark; an SMJ over two k-row sides is free)
    "s_hybrid_rrf",
    // full-outer of the two #sources-row snapshot aggregates (a source
    // may exist in only one snapshot) — the s_hybrid_rrf class
    "t_corpus_drift",
    // canopy-exploded embeddings self-join (candidates): both sides are
    // the corpus × nAssign — a genuine fact×fact equi-join on the
    // canopy id, same class as the d_semantic family above
    "s_hard_negatives",
    // the same canopy-exploded self-join (holdout × train candidates);
    // the train side is ~90% of the corpus — broadcast would be wrong
    "d_split_semantic",
    // holdout span stream ⋈ DISTINCT train span set: the train side is
    // ~90% of corpus spans — broadcast is impossible at scale, so the
    // span equi-join is a shuffle/SMJ join BY DESIGN (AQE picks
    // broadcast only at tiny sf)
    "d_split_leakage",
    // embeddings ⋈ documents PRIMARY-KEY 1:1 meta join (label + source
    // per id): both sides corpus-order — broadcast would be wrong at
    // scale; co-bucketed by id in the durable Store, so the production
    // form is zero-exchange
    "s_rank_metrics",
    // the same meta join + the s_hybrid_rrf full-outer fusion of two
    // ≤ 100-row rank lists (full outer has no broadcast strategy)
    "s_rrf_curve",
    // old-snapshot ⋈ new-snapshot FULL OUTER on the key: full outer has
    // no broadcast strategy in Spark (the q_full_outer precedent)
    "v_snapshot_diff",
    // the same full-outer pair with tombstone-filtered sides
    "v_snapshot_diff_tombstone",
    // refreshed-ranks ⋈ previous-ranks on the host key: two one-row-
    // per-host rank vectors (the v_snapshot_diff class — at web host
    // cardinality both sides are fact tables, broadcast would be
    // wrong; the warm-start init join is the same pair). AQE can't
    // size the materialized chain output, so SMJ is the planned
    // strategy
    "d_rank_delta",
    // the final hub ⋈ authority read-off of two materialized one-row-
    // per-host score vectors — the d_rank_delta class exactly
    "d_domain_hits",
    // corpus word fan-out ⋈ the Catalog-cached vocab segmentation on
    // the word key: at web scale the vocab is itself a fact table
    // (the documented d_split_leakage class — broadcast impossible),
    // and AQE cannot size the cached model frame at gate scale, so
    // the word-keyed shuffle join is the planned strategy; the
    // doc_id left-join back is the same corpus-order pair
    "t_bpe_apply",
    // the same corpus-word-fan-out ⋈ vocab model join (fertility serves
    // yesterday's snapshot-trained model over today's corpus) — at web
    // scale the vocab is a fact table, the t_bpe_apply class exactly
    "t_bpe_fertility",
    // the canopy candidate self-join (s_knn_ivf's plan) + the
    // neighbor-label key join against the corpus-order (vec_id, label)
    // projection — both genuine fact×fact equi-joins
    "s_knn_accuracy",
    // the CC closure's star read-off joins over the (already
    // materialized) edge-fixpoint frame — edge⋈assignment equi-joins,
    // the same class as the d_semantic survivor joins; AQE can't size
    // the persisted intermediate, so SMJ is the planned strategy
    "m_phash_clusters",
    // the (order, part) self-join on the order key: both sides the
    // same distinct collapse of the fact table — per-order fan-out is
    // C(items/order, 2), bounded, but the sides are corpus-order so
    // broadcast would be wrong at scale (the q_proximity_join class)
    "q_basket_lift",
    // assignment ⋈ the Catalog-cached materialized score frame on
    // doc_id (r16): BOTH sides are one-row-per-doc corpus-order fact
    // tables — broadcast would be wrong at 100 TB — and AQE cannot
    // size the cached LogicalRDD (the d_rank_delta/t_bpe_apply
    // class), so the doc-keyed shuffle join is the planned strategy;
    // pre-r16 the in-plan scores aggregate let AQE pick broadcast at
    // gate scale, which was the scale-WRONG plan dressed as the
    // cheap one
    "d_cluster_keep_quality")

  /** Loose per-key SHUFFLE tripwire (BroadcastExchange is data-movement
    * of a small side, not a corpus shuffle — it doesn't count);
    * multi-stage composites declare their real budget below. */
  private val DefaultMaxExchanges = 7
  private val MaxExchanges = Map(
    "d_pipeline_funnel" -> 10, // 5 composed stages, key-columns only
    "d_dup_clusters" -> 8,
    "d_cluster_keep" -> 8,
    // distinct (order, part) collapse feeding BOTH self-join sides +
    // the pair aggregate, two part-count joins, the 1-row stats frame,
    // and TakeOrdered — a declared multi-stage composite
    "q_basket_lift" -> 9,
    // banded phash pair mining + the CC closure's final-round star
    // read-off (the iterative rounds run to a materialized fixpoint
    // outside this executed plan; what remains is pairs → distinct →
    // assignment join → count over the tiny edge frame)
    "m_phash_clusters" -> 11,
    // full corpus-side semantic dedup (pairs + CC closure) composed
    // with the batch×survivor vetting join
    "d_semantic_cross" -> 10,
    // one top-k window exchange per probe setting (each a batch IVF
    // serve over the 5-query panel) and one for the exact panel; the
    // recall kernel counts the unioned top-k rows in one partition,
    // with no exchange
    "s_nprobe_curve" -> 5,
    // one top-k window exchange for the exact panel and one per prefix
    // length (each annTopKBatch's plan); the recall kernel adds none
    "s_mrl_recall" -> 5,
    // 4 β arms × a 2-phase union collapse, every exchange over the
    // localCheckpointed ≤ #sources-row quality frame (the corpus scan
    // is paid once at build time and is NOT in the audited plan) —
    // model-scale arms, not a corpus pipeline
    "d_anneal_curve" -> 8,
    // ONE full-outer fusion of the two ≤ 100-row rank lists (its two
    // exchanges), exploded over the 3 rrfK arms in one partition, plus
    // the meta join and the panel-count aggregates
    "s_rrf_curve" -> 5,
    // the exact panel's top-k window and one rerank window per arm (the
    // per-query ADC rankings are TakeOrdered, no exchange node); the
    // recall kernel adds none
    "s_opq_recall" -> 3,
    // the pair set is localCheckpointed at build time; the audited
    // plan is the two 1-row aggregates (pair counts + exploded
    // distinct-doc counts with its countDistinct expand) over it
    "m_phash_curve" -> 10,
    // one shard-repartition + 1-row aggregate PER candidate ctx (the
    // packing recurrence is inherently per-ctx — bin boundaries move):
    // 4 candidates × 2 key-column shuffles, each linear
    "t_pack_curve" -> 8,
    // the DSIR weights chain (bucket aggregate + window + per-doc
    // aggregate) feeds BOTH the sketch arm and the sweep scan (the
    // d_dsir_threshold shape), plus the 1-row stack aggregate
    "d_dsir_curve" -> 8,
    // r16 opt: one 2-exchange two-stage hash aggregate PER COLUMN for
    // the exact distinct counts (6 columns) + the null/min/max pass —
    // every exchange is over a ≤ #distinct(column) single-column frame,
    // replacing the Expand plan's two corpus-wide sorted exchanges
    "q_profile" -> 14,
    // the same per-column assembly + the single-pass HLL arm
    "q_profile_hll_check" -> 16) ++
    // the latest-state keys read the one-partition Catalog.vehicles and
    // run as one stage each: any shuffle is a per-query exchange come back
    graft.queries.VehicleQueries.latestState.keys.map(_ -> 0)

  /** The operators of `p` and its subqueries, looking through adaptive
    * wrappers and query stages; a reused exchange stands for the exchange
    * it reuses. A cached relation's build plan is not a child of its
    * scan, so it is left out: it runs once per session, not per query. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def main(args: Array[String]): Unit = {
    val assertMode = args.contains("--assert")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder("local[8]", "graft-audit")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var violations = List.empty[String]
    println(f"${"key"}%-22s sh  bhj smj shj  notes")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.count()
        val plan = df.queryExecution.executedPlan
        val nodes = planNodes(plan)
        def c(cls: Class[_]) = nodes.count(n => cls.isInstance(n))
        val shuffles = c(classOf[ShuffleExchangeLike])
        val (cart, bnlj, smj) = (c(classOf[CartesianProductExec]),
          c(classOf[BroadcastNestedLoopJoinExec]), c(classOf[SortMergeJoinExec]))
        val notes = Seq(
          if (smj > 0) Some("sort-merge join") else None,
          if (cart > 0) Some("CARTESIAN") else None,
          if (bnlj > 0) Some("bnlj") else None
        ).flatten.mkString(", ")
        println(f"$name%-22s $shuffles%-3d ${c(classOf[BroadcastHashJoinExec])}%-3d $smj%-3d ${c(classOf[ShuffledHashJoinExec])}%-3d  $notes")
        if (args.contains(name)) println(plan)
        if (assertMode) {
          if (cart > 0)
            violations ::= s"$name: CartesianProduct in executed plan"
          if (bnlj > 0 && !BnljAllowed(name))
            violations ::= s"$name: BroadcastNestedLoopJoin outside the 1-row-broadcast whitelist"
          if (smj > 0 && !SmjAllowed(name))
            violations ::= s"$name: SortMergeJoin outside the declared fact-join whitelist"
          val budget = MaxExchanges.getOrElse(name, DefaultMaxExchanges)
          if (shuffles > budget)
            violations ::= s"$name: $shuffles shuffle exchanges exceeds budget $budget"
        }
      } catch {
        case e: Throwable =>
          println(f"$name%-22s FAILED: ${e.getMessage.take(80)}")
          if (assertMode) violations ::= s"$name: FAILED ${e.getMessage.take(80)}"
      }
    }
    spark.stop()
    if (assertMode) {
      if (violations.nonEmpty) {
        System.err.println(s"[audit] ${violations.size} violation(s):")
        violations.reverse.foreach(v => System.err.println(s"[audit]   $v"))
        sys.exit(1)
      } else println("[audit] PASS: plan-shape gate clean over all keys")
    }
  }
}
