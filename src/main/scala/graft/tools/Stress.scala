package graft.tools
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.ops.{Dedup, DomainGraph, Search, Similarity, TextAnalysis}
/** Scale stress: replicate the sf0.1 corpus N× with distinct doc_ids and
  * run the dedup/similarity family. Verifies pair generation stays
  * bounded by real collisions (not corpus²) as rows grow. */
object Stress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    // "noexact" skips the certified-exact inverted-index arm
    // (ngram_jaccard) — the DOCUMENTED quadratic baseline the LSH
    // pipeline replaces; at the 200k ladder point it alone costs tens of
    // minutes and its cost model is already confirmed at 50k/100k.
    val noExact = args.drop(1).contains("noexact")
    // "embonly" re-runs just the embedding arms (plan-change A/B without
    // repaying the 10+-minute document arms)
    val embOnly = args.drop(1).contains("embonly")
    // "mixonly" = just the mixture-planning arms (the embonly idea for
    // the waterfill/anneal family)
    val mixOnly = args.drop(1).contains("mixonly")
    // "graphonly" = just the host-graph arms (rank + HITS) — the same
    // A/B idea for the graph family
    val graphOnly = args.drop(1).contains("graphonly")
    // core count from SPARK_GRAFT_CPUS (the Bench convention): the
    // stress ladder doubles as the CORE-SCALING probe at a corpus size
    // where work dominates overhead (the sf0.1 battery's 8-vs-32 ratios
    // only measure fixed plan/driver cost); shuffle partitions scale
    // with the cores, never a local constant
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.builder(s"local[$cpus]", "stress")
      .config("spark.sql.shuffle.partitions", 2 * cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, "/root/testdata/sf0.1")
    // n distinct variants per doc: suffix the text so replicas are NEAR dups
    // (same shingles mostly) but not exact, and doc_ids are unique
    val docs = t.documents.crossJoin(spark.range(n).withColumnRenamed("id", "rep"))
      .select((col("doc_id") * n + col("rep")).as("doc_id"),
              concat(col("text"), lit(" rep"), col("rep")).as("text"),
              col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(2 * cpus)
    println(s"[stress] corpus: ${docs.count()} docs")
    def time[T](label: String)(f: => T): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[stress] $label: ${(System.nanoTime()-t0)/1e9}%.1f s = $r")
    }
    // mixture planning: one scan-side token aggregate + model-
    // scale windows — cost must stay ∝ corpus scan as replicas grow
    // (the #sources-row waterfill is corpus-size-independent); the
    // curve's 4 β arms share ONE localCheckpointed aggregate, so the
    // sweep must cost ≈ the anneal plan + epsilon, not 4×
    def mixArms(d: org.apache.spark.sql.DataFrame): Unit = {
      time("mix_waterfill")(graft.ops.Sampling.mixWaterfill(d).count())
      time("anneal_curve")(graft.ops.Sampling.annealCurve(d).count())
    }
    if (mixOnly) { mixArms(docs); spark.stop(); return }
    def graphArms(): Unit = {
      time("domain_rank")(DomainGraph.domainRank(
        DomainGraph.syntheticEdges(docs)).count())
      // HITS: same claim as domain_rank — replicas multiply raw edges
      // only; the weight/node tables and both score vectors stay at
      // host cardinality, so the 10 half-steps (incl. the
      // L1-normalizing window over the ≤ #hosts frame) must cost ≈ the
      // sf0.1 run + the one bigger initial weight aggregate
      time("domain_hits")(DomainGraph.domainHitsFromWeights(
        DomainGraph.syntheticEdges(docs).groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("w"))).count())
    }
    if (graphOnly) { graphArms(); spark.stop(); return }
    if (!embOnly) {
    time("exact_dedup")(Dedup.exactDedup(docs).count())
    // canonical (NFC) dedup: must track exact_dedup — same one-hash
    // one-aggregate shape, the normalize kernel adds scan cost only
    time("canonical_dedup")(Dedup.exactDedupCanonical(docs).count())
    // iterated BPE: cost is bound by the VOCAB table, and the replica
    // construction barely grows vocab (replicas repeat the same words
    // plus one new repN token each) — rounds must stay ≈ flat as the
    // corpus doubles, proving the word-frequency factoring
    time("bpe_train")(TextAnalysis.bpeTrain(docs, rounds = 4).count())
    // chunk plan: pure scan-side explode — cost must stay ∝ corpus
    // tokens (fan-out len/stride per doc, no shuffle at any size)
    time("chunk_plan")(graft.ops.Packing.chunkPlan(docs).count())
    // weighted sample: scan-side score + TakeOrdered(k) — cost ∝ scan,
    // result stays k rows regardless of corpus size
    time("weighted_sample")(graft.ops.Sampling.weightedSample(docs).count())
    mixArms(docs)
    time("simhash_pairs")(Dedup.simhashPairs(docs).count())
    def candidates() = Dedup.minhashCandidatesFromSignatures(Dedup.minhashSignatures(docs))
    time("minhash_candidates")(candidates().count())
    if (!noExact) {
      // one shingle index for the two exact arms, held for both and
      // released after them; the capped index reads it three times
      val index = Dedup.shingleIndexFrom(Dedup.shingled(docs)).persist()
      val capped = Dedup.shingleIndexCapped(index, 100).persist()
      time("ngram_jaccard")(Dedup.ngramJaccardPairsFromIndex(index).count())
      // governance curve at the key's settings (dfCap=100, τ grid from
      // 0.7): the cap bounds BOILERPLATE skew (a df-n shingle's C(n,2)
      // fan-out), not honest duplication — this replica ladder's shared
      // shingles sit below the cap by construction (df ≈ replicas), so
      // the arm prices the curve's real mining cost on a
      // duplicate-heavy corpus; same documented-quadratic family as
      // ngram_jaccard, hence the same noexact skip (the LSH pipeline is
      // the corpus-scale path)
      time("dedup_curve")(Dedup.dedupCurveFromIndex(capped).count())
      capped.unpersist(); index.unpersist()
    }
    time("neardup_pipeline")(Dedup.nearDupPairs(docs).count())
    // CC closure over the LSH dedup graph: cost ∝ edges per round, and
    // the ROUND COUNT is the O(log n) claim — star-contraction rounds
    // must stay flat-ish as the corpus doubles (they track component
    // diameter, not corpus size)
    time("dup_clusters") {
      val cc = graft.ops.DupClusters.dupClusters(docs, candidates()).count()
      s"$cc assigned, ${graft.ops.DupClusters.lastRounds} CC rounds"
    }
    // pHash near-dup clusters over the replicated synthetic media —
    // the second CC consumer (hamming-ball edges); same rounds claim
    time("phash_clusters") {
      val cc = graft.ops.Multimodal
        .phashClusters(graft.ops.Multimodal.mediaWithPlantedNearDups(docs)).count()
      s"$cc clustered, ${graft.ops.DupClusters.lastRounds} CC rounds"
    }
    // span dedup: replicas share almost every k-token span, so this is
    // the worst-case duplication load — cost must stay ∝ corpus tokens
    time("span_dedup")(Dedup.spanDedup(docs).count())
    // dup matrix: pair mining is the neardup_pipeline cost (bounded by
    // LSH collisions); the matrix adds two source joins + a
    // ≤ sources²-row aggregate — must track neardup_pipeline, not pairs²
    time("dup_matrix")(Dedup.dupMatrixFromPairs(Dedup.nearDupPairs(docs), docs).count())
    // bm25: cost must stay ∝ corpus (scan-side tf/dl kernel + 1-row
    // stats broadcast + per-partition heaps) — replicas multiply the
    // scan, never the shuffle (top-k and stats are fixed-size)
    time("bm25_topk")(Search.bm25TopK(docs).count())
    // domain rank: replicas multiply the EDGE list n×; the aggregated
    // (src,dst) weight table, degree table, and rank vector stay at the
    // ORIGINAL host cardinality — iteration cost must scale with the
    // host table, not the raw edge count (weights collapse in the first
    // aggregate), so 10 iterations should cost ≈ the sf0.1 run + one
    // bigger initial aggregate
    graphArms()
    }
    val emb = t.embeddings
    time("ann_topk")(Similarity.annTopK(emb).count())
    time("embed_neardup")(Dedup.embedNearDup(emb).count())
    // embedding replicas: n jittered copies per vector (true near-dups).
    // label-bucketing pays O(replicas²) per label; the LSH/canopy
    // bucketers must stay bounded by real bucket collisions instead.
    val dim = 64
    val jitter = expr(
      s"transform(embedding, (v, i) -> cast(v + 0.001 * ((hash(vec_id, rep, i) % 1000) / 1000.0) as float))")
    val embN = emb.crossJoin(spark.range(n).withColumnRenamed("id", "rep"))
      .select((col("vec_id") * n + col("rep")).as("vec_id"),
              col("label"), jitter.as("embedding"))
      .repartition(2 * cpus)
    val nVec = embN.count()
    // the SCALING rule applied as code (Similarity.autoNlist): nlist
    // grows ∝ vectors so bucket width stays ≈ targetBucket — the ladder
    // showed the quadratic blow-up with this knob held fixed
    // (embed_canopy 5.9 → 49.7 s at 2×); with auto sizing the same arms
    // must go ≈ linear
    val autoK = Similarity.autoNlist(nVec)
    println(s"[stress] embeddings: $nVec vectors, auto nlist: $autoK")
    // fit ladder: the two-level remediation of the quadratic flat
    // fit. Per-iteration hier cost is O(fitN·√nlist·dim) with fitN
    // bounded by autoSampleDenom, so fit time must grow ≈ LINEARLY in
    // vectors even though nlist ∝ n; the two-level assignment of the
    // FULL corpus is O(n·√nlist·dim) — also ≈ linear. "flatfit" adds
    // the unbounded O(n·nlist·dim) flat fit for the quadratic contrast
    // (expensive by construction — that is the point).
    var hier: (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = null
    time("ivf_fit_hier") {
      val denom = Similarity.autoSampleDenom(nVec, autoK)
      hier = Similarity.ivfCentroidsHier(embN, autoK, iters = 2, sampleDenom = denom)
      s"nlist=$autoK denom=$denom lists=${hier._2.map(_.length).sum}"
    }
    time("ivf_assign_two_level")(
      embN.select(Similarity.twoLevelAssign(hier._1, hier._2).as("c"))
        .groupBy("c").count().count())
    // the THIRD assignment regime (past JoinedAssignMinNlist the
    // sub-centroid model broadcast-JOINS instead of inlining as a plan
    // literal), forced here below its threshold to A/B it against the
    // literal form on the same model: routing is spec-proven identical,
    // this arm gives the regime its perf datapoint
    time("ivf_assign_joined")(
      Similarity.twoLevelAssignJoined(embN, hier._1, hier._2)
        .groupBy("cluster").count().count())
    // refit ladder: the live-only rebuild (s_ann_refit's refit arm)
    // at scale — fit cost must track the hier arm (same recipe over the
    // ~3/4 live mass), and the recovery card must stay linear (3 batch
    // window passes + |panel| exact live scans; the boundary panel is
    // ONE corpus-scan window + a 10-row collect)
    val assignedStale = embN.withColumn("cluster",
      Similarity.twoLevelAssign(hier._1, hier._2))
    val flatStale = hier._2.flatten
    var liveFit: (Seq[Seq[Double]], org.apache.spark.sql.DataFrame) = null
    time("refit_fit_live") {
      val live = assignedStale.filter(Similarity.takedownLive).drop("cluster")
      val nLive = live.count()
      val kL = Similarity.autoNlist(nLive)
      val dL = Similarity.autoSampleDenom(nLive, kL)
      val h = Similarity.ivfCentroidsHier(live, kL, iters = 2, sampleDenom = dL)
      liveFit = (h._2.flatten,
        live.withColumn("cluster", Similarity.twoLevelAssign(h._1, h._2)))
      s"live=$nLive nlist=$kL denom=$dL"
    }
    time("refit_card")(
      Similarity.annRefitReport(flatStale, assignedStale, liveFit._1, liveFit._2)
        .collect().map(r => f"${r.getString(0)}=${r.getDouble(3)}%.2f").mkString(" "))
    // the single-level contrast arm fits on the SAME autoSampleDenom
    // sample as the hier arm — that isolates the per-candidate factor
    // (nlist vs √nlist) the remediation targets, and is the SCALING.md
    // ladder's documented methodology; the truly unbounded flat fit is
    // ~denom× more on top (sampleDenom = 1), noted there, not re-timed
    if (args.drop(1).contains("flatfit"))
      time("ivf_fit_flat_same_sample")(
        Similarity.ivfCentroids(embN, k = autoK, iters = 2,
          sampleDenom = Similarity.autoSampleDenom(nVec, autoK)).length)
    // OPQ fit: ONE fixed-point moment pass (2·dim longs to the driver)
    // + the sampled per-subspace PQ fit — scan-linear, fit decoupled
    // from corpus size by the hash-sample
    time("opq_fit") {
      val perm = Similarity.opqPermutation(embN)
      Similarity.pqCodebooks(Similarity.opqPermute(embN, perm),
        sampleDenom = 4).length
    }
    // MRL truncation-recall card over the replicated vectors: 25
    // independent TakeOrdered scan arms (5 exact + 20 truncated) — cost
    // must grow ∝ vectors (pure scans, per-partition heaps, the ≤ k-row
    // joins are size-independent), never vectors²
    time("mrl_recall")(Similarity.mrlRecallCurve(embN).count())
    time("embed_lsh_pairs")(Dedup.embedNearDupLsh(embN, tau = 0.99, nPlanes = 12).count())
    time("embed_canopy_pairs") {
      val cents = Similarity.ivfCentroids(embN, k = autoK, iters = 1, sampleDenom = 4)
      Dedup.embedNearDupClusters(embN, cents, tau = 0.99, nAssign = 2).count()
    }
    // full semantic dedup (canopy edges → CC closure → survivors): the
    // replica groups must collapse to ≈ the original vector count
    time("semantic_dedup") {
      val cents = Similarity.ivfCentroids(embN, k = autoK, iters = 1, sampleDenom = 4)
      Dedup.semanticDedupFromPairs(embN,
        Dedup.embedNearDupClusters(embN, cents, tau = 0.99, nAssign = 2)).count()
    }
    // canopy kNN graph over the replicated vectors: candidate work is
    // O(Σ bucket²) with buckets sized by nlist — auto-scaled k keeps
    // bucket width ≈ constant, so the graph build must stay near-linear
    // in vectors (never vectors²)
    time("knn_ivf") {
      val cents = Similarity.ivfCentroids(embN, k = autoK, iters = 1, sampleDenom = 4)
      Similarity.knnJoinCanopyFromPairs(Similarity.canopyCandidatePairs(embN, cents)).count()
    }
    spark.stop()
  }
}
