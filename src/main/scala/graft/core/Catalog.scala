package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Memoized derived frames shared across queries within a session.
  *
  * The reference keeps its post-Load state in a SQLite table that every
  * query reads; the Spark-native equivalent of "the loaded table" is a
  * persisted DataFrame. Without this, each of the 14 latest-state `v_*`
  * queries in one Verify/Bench run would re-derive and re-shuffle the
  * full upsert (14 scans + 14 shuffles); [[vehicles]] holds it as one
  * partition, so those queries plan no exchange at all. The history
  * `v_*` queries read the full observation feed
  * instead; [[observations]] persists it hash-partitioned by vehicle id
  * and sorted in window order, so their shuffle and sort are paid once
  * per session rather than once per call. `persist` is lazy — a single
  * query still pays exactly one derive (+ upsert or shuffle).
  *
  * Lifecycle: entries are keyed by (session, dir) and evicted lazily —
  * every lookup first drops entries whose session has been stopped, so
  * frames bound to dead sessions don't accumulate for the JVM lifetime
  * (a stopped session's cached blocks are already gone with its
  * BlockManager; this just drops the references). [[clear]] is the
  * explicit hook for tests / long-lived processes.
  */
object Catalog {
  private val vehiclesCache = TrieMap.empty[(SparkSession, String), DataFrame]
  private val observationsCache = TrieMap.empty[(SparkSession, String), DataFrame]
  private val sigCache = TrieMap.empty[(SparkSession, String), DataFrame]
  private val fpCache = TrieMap.empty[(SparkSession, String), DataFrame]
  private val ivfCache = TrieMap.empty[(SparkSession, String, Int), (Seq[Seq[Double]], DataFrame)]
  private val ccCache = TrieMap.empty[(SparkSession, String), DataFrame]
  private val pqCache = TrieMap.empty[(SparkSession, String), (Seq[Seq[Seq[Double]]], DataFrame)]
  private val ivfPqCache =
    TrieMap.empty[(SparkSession, String), (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame)]
  private val bloomCache = TrieMap.empty[(SparkSession, String), Option[Array[Byte]]]
  private val semCache = TrieMap.empty[(SparkSession, String), DataFrame]
  private val semCcCache = TrieMap.empty[(SparkSession, String), DataFrame]
  // resolved auto-nlist per corpus (one count() each — a scalar, no frame to unpersist)
  private val nlistCache = TrieMap.empty[(SparkSession, String), Int]
  private val opqCache =
    TrieMap.empty[(SparkSession, String), (Seq[Int], Seq[Seq[Seq[Double]]], DataFrame)]
  // keyed on rounds too (the ivfCache (session, dir, nlist) precedent):
  // a non-default rounds must not serve — or poison — the 8-round model
  // the oracle-gated t_bpe_train/t_bpe_apply keys replay.
  private val bpeCache =
    TrieMap.empty[(SparkSession, String, Int), (Seq[(Int, String, Long)], DataFrame)]
  private val rankCache = TrieMap.empty[(SparkSession, String), DataFrame]
  // keyed on m (the ivfCache (session, dir, nlist) precedent): the PQ
  // m-sweep fits one codebook tensor per candidate subquantizer count
  private val pqCurveCache =
    TrieMap.empty[(SparkSession, String, Int), Seq[Seq[Seq[Double]]]]
  // the BPE compression-curve scalars: |panel| (round, Σf, Σf·|syms|)
  // triples, keyed like bpeCache (the rounds the model trained) —
  // landed by the SAME hooked training run that fills bpeCache
  private val bpeCurveCache =
    TrieMap.empty[(SparkSession, String, Int), Seq[(Int, Long, Long)]]
  // the NB quality classifier (r16): ONE hooked training per
  // (session, dir) lands the 256-row fit artifact AND the materialized
  // per-doc score frame — t_quality_model, t_quality_model_curve and
  // d_cluster_keep_quality all serve off it (the bpeModel precedent);
  // the artifact is also what Store.saveQualityModel publishes for the
  // streaming gate's quality_model arm
  private val qmCache =
    TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]
  // the tokenized corpus and its shingle inverted index(es) (r17):
  // the FOURTH corpus-derived family a 100 TB pipeline materializes
  // once (next to fingerprints, signatures and dup clusters) — every
  // exact-overlap key was re-tokenizing the corpus per invocation
  private val shDocsCache = TrieMap.empty[(SparkSession, String), DataFrame]
  // keyed on the dfCap (0 = uncapped), the ivfCache per-nlist precedent
  private val shIdxCache = TrieMap.empty[(SparkSession, String, Int), DataFrame]
  // the materialized host-graph tables (w, out-degree, nodes, n) every
  // iterative graph key reads (r17) — the stored link-weight layout
  // RankStream maintains incrementally
  private val hostGraphCache =
    TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame, DataFrame, Long)]
  // the verified canopy candidate-pair frame (r17): s_knn_ivf,
  // s_hard_negatives and s_knn_accuracy each re-mined the identical
  // canopy self-join per invocation
  private val canopyPairsCache = TrieMap.empty[(SparkSession, String), DataFrame]
  // the hashed-bigram feature stream (r17): referenced by BOTH the
  // model aggregate and the scoring join of every DSIR-family key (and
  // the NB quality-model training), so the un-materialized form ran
  // the bigram kernel twice per action
  private val dsirFeatsCache = TrieMap.empty[(SparkSession, String), DataFrame]

  private def evictStopped(): Unit = {
    vehiclesCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    observationsCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    sigCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    fpCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    ivfCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    ccCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    pqCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    ivfPqCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    bloomCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    semCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    semCcCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    nlistCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    opqCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    bpeCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    rankCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    pqCurveCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    bpeCurveCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    qmCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    shDocsCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    shIdxCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    hostGraphCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    dsirFeatsCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    canopyPairsCache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
  }

  /** Unpersist and drop every cached frame for `spark` (all dirs). */
  def clear(spark: SparkSession): Unit = {
    def drop[K](cache: TrieMap[K, DataFrame], of: K => SparkSession): Unit =
      cache.keys.filter(k => of(k) eq spark).foreach { k =>
        cache.remove(k).foreach(df => if (!spark.sparkContext.isStopped) df.unpersist())
      }
    drop(vehiclesCache, (k: (SparkSession, String)) => k._1)
    drop(observationsCache, (k: (SparkSession, String)) => k._1)
    drop(sigCache, (k: (SparkSession, String)) => k._1)
    drop(fpCache, (k: (SparkSession, String)) => k._1)
    drop(ccCache, (k: (SparkSession, String)) => k._1)
    ivfCache.keys.filter(_._1 eq spark).foreach { k =>
      ivfCache.remove(k).foreach { case (_, df) =>
        if (!spark.sparkContext.isStopped) df.unpersist()
      }
    }
    pqCache.keys.filter(_._1 eq spark).foreach { k =>
      pqCache.remove(k).foreach { case (_, df) =>
        if (!spark.sparkContext.isStopped) df.unpersist()
      }
    }
    ivfPqCache.keys.filter(_._1 eq spark).foreach { k =>
      ivfPqCache.remove(k).foreach { case (_, _, df) =>
        if (!spark.sparkContext.isStopped) df.unpersist()
      }
    }
    bloomCache.keys.filter(_._1 eq spark).foreach(bloomCache.remove)
    drop(semCache, (k: (SparkSession, String)) => k._1)
    drop(semCcCache, (k: (SparkSession, String)) => k._1)
    nlistCache.keys.filter(_._1 eq spark).foreach(nlistCache.remove)
    opqCache.keys.filter(_._1 eq spark).foreach { k =>
      opqCache.remove(k).foreach { case (_, _, df) =>
        if (!spark.sparkContext.isStopped) df.unpersist()
      }
    }
    bpeCache.keys.filter(_._1 eq spark).foreach { k =>
      bpeCache.remove(k).foreach { case (_, df) =>
        if (!spark.sparkContext.isStopped) df.unpersist()
      }
    }
    drop(rankCache, (k: (SparkSession, String)) => k._1)
    pqCurveCache.keys.filter(_._1 eq spark).foreach(pqCurveCache.remove)
    // (the two curve caches hold value scalars — nothing to unpersist)
    bpeCurveCache.keys.filter(_._1 eq spark).foreach(bpeCurveCache.remove)
    // the quality-model frames are localCheckpoints — their blocks hang
    // off the LogicalRDD, so release them via DupClusters.release
    qmCache.keys.filter(_._1 eq spark).foreach { k =>
      qmCache.remove(k).foreach { case (m, sc) =>
        if (!spark.sparkContext.isStopped) {
          graft.ops.DupClusters.release(m)
          graft.ops.DupClusters.release(sc)
        }
      }
    }
    drop(shDocsCache, (k: (SparkSession, String)) => k._1)
    drop(dsirFeatsCache, (k: (SparkSession, String)) => k._1)
    drop(canopyPairsCache, (k: (SparkSession, String)) => k._1)
    shIdxCache.keys.filter(_._1 eq spark).foreach { k =>
      shIdxCache.remove(k).foreach(df =>
        if (!spark.sparkContext.isStopped) df.unpersist())
    }
    // host-graph tables are localCheckpoints — release via DupClusters
    hostGraphCache.keys.filter(_._1 eq spark).foreach { k =>
      hostGraphCache.remove(k).foreach { case (w, o, nodes, _) =>
        if (!spark.sparkContext.isStopped) {
          graft.ops.DupClusters.release(w)
          graft.ops.DupClusters.release(o)
          graft.ops.DupClusters.release(nodes)
        }
      }
    }
  }

  /** The verified canopy candidate-pair frame `(vec_id, label, nbr_id,
    * nbr_label, cos_sim)` for a dir's embeddings (cached, shared —
    * r17): the k-means-canopy blocked, least-shared-canopy-deduped,
    * exact-cosine-verified pair set that s_knn_ivf, s_hard_negatives
    * and s_knn_accuracy each re-mined per invocation. At scale this is
    * the stored kNN-graph candidate table an index-maintenance run
    * materializes before its consumers fan out. Centroids come from
    * the shared [[ivfIndex]] fit. */
  def canopyPairs(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    canopyPairsCache.getOrElseUpdate((spark, dir), {
      val (cents, _) = ivfIndex(spark, dir)
      graft.ops.Similarity.canopyCandidatePairs(
        Tables(spark, dir).embeddings, cents)
        .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** The hashed-bigram feature stream `(doc_id, source, b)` for a
    * dir's documents (cached, shared — r17): the four DSIR keys each
    * referenced it twice per action (model fit + scoring join), and
    * the NB quality-model training extracts the identical stream. At
    * scale this is the stored per-document feature table a selection
    * pipeline extracts once per corpus. */
  def dsirFeats(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    dsirFeatsCache.getOrElseUpdate(
      (spark, dir),
      graft.ops.Sampling.dsirFeats(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** The materialized host-graph tables (edge weights, out-degrees,
    * node set, node count) over the corpus's synthetic link graph
    * (cached, shared — r17): d_domain_rank, d_rank_delta,
    * d_rank_convergence and d_domain_hits each re-materialized the
    * identical three frames per invocation; at scale this is the stored
    * link-weight table a scheduled rank refresh reads
    * ([[graft.streaming.RankStream]] maintains it incrementally). */
  def hostGraph(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    evictStopped()
    hostGraphCache.getOrElseUpdate((spark, dir),
      graft.ops.DomainGraph.edgeTables(
        graft.ops.DomainGraph.syntheticEdges(Tables(spark, dir).documents)))
  }

  /** The tokenized corpus `(doc_id, shingles)` for a dir's documents
    * (cached, shared) — the set-valued sibling of [[docFingerprints]]:
    * every exact-overlap verifier (Jaccard on LSH candidates, the
    * calibration/tuning cards) reads the stored shingle sets instead of
    * re-tokenizing corpus text once per reference (guide §6 — at 100 TB
    * this is the materialized shingle table SCALING.md already assumes
    * for the signature family). */
  def shingledDocs(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    shDocsCache.getOrElseUpdate(
      (spark, dir),
      graft.ops.Dedup.shingled(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** The `(doc_id, len, shingle)` shingle inverted index over
    * [[shingledDocs]] (cached, shared; keyed per dfCap — `None` is the
    * full-vocabulary index, `Some(cap)` the capped universe whose `len`
    * is recounted over sub-cap shingles). The capped build reads the
    * MATERIALIZED uncapped index, so its df aggregate and anti-join
    * never re-tokenize the corpus. One owner for every index consumer
    * (d_ngram_jaccard, d_containment, d_dedup_curve)
    * — the in-session analogue of a durable posting-list table. */
  def shingleIndex(spark: SparkSession, dir: String,
                   dfCap: Option[Int] = None): DataFrame = {
    evictStopped()
    shIdxCache.getOrElseUpdate((spark, dir, dfCap.getOrElse(0)), {
      val base = dfCap match {
        case None =>
          graft.ops.Dedup.shingleIndexFrom(shingledDocs(spark, dir))
        case Some(cap) =>
          graft.ops.Dedup.shingleIndexCapped(shingleIndex(spark, dir, None), cap)
      }
      // Materialize HASH-PARTITIONED BY SHINGLE (guide §2.4): the cached
      // relation reports its partitioning, so the pair miners' index
      // self-join runs with ZERO additional exchanges — the one shuffle
      // here is paid once per session instead of twice per query.
      // Partition count comes from spark.sql.shuffle.partitions
      // (conf-driven, scale-adaptive), never a local constant.
      base.repartition(org.apache.spark.sql.functions.col("shingle"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** The upserted vehicles table for a scale-factor dir (cached, shared),
    * one row per vehicle, held as ONE partition. The upsert itself stays
    * parallel: its map side over the events scan and its final `max_by`
    * merge over the hash-partitioned shuffle. One more exchange then
    * moves the merged result — one row per vehicle, so fleet-bounded —
    * into a single partition, once per session when the entry is built.
    * The cached relation reports `SinglePartition`, so every latest-state
    * plan over it (aggregates, exact percentiles, the unpartitioned
    * window, top-k, the lookups) runs as one stage: no Exchange, one job,
    * one task. The data-scale history feed is [[observations]]. */
  def vehicles(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    vehiclesCache.getOrElseUpdate(
      (spark, dir),
      graft.etl.VehicleFeed.vehiclesFromEvents(spark, dir)
        .repartition(1)
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** The full vehicle observation feed for a scale-factor dir (cached,
    * shared): `VehicleFeed.fromEvents` over the events table,
    * hash-partitioned by `id` and sorted within partitions by
    * `(id, updated_at, obs_id)` — the order of every per-vehicle window.
    * The cached relation reports that partitioning and ordering, so the
    * history keys' per-vehicle windows (scd2, gap, dwell, teleport) plan
    * as `Window` directly over the in-memory scan with no exchange and
    * no sort, and the `latest`-based keys aggregate by id without a
    * shuffle. The one shuffle and sort are paid here, once per session
    * — the layout a trajectory store keeps on disk (each vehicle's
    * history in one partition, in time order). */
  def observations(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    observationsCache.getOrElseUpdate((spark, dir), {
      import org.apache.spark.sql.functions.col
      graft.etl.VehicleFeed.fromEvents(Tables(spark, dir).events)
        .repartition(col("id"))
        .sortWithinPartitions(col("id"), col("updated_at"), col("obs_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** The MinHash signature table for a dir's documents (cached, shared) —
    * the in-session analogue of the materialized signature table every
    * LSH-based dedup operator reads (SCALING.md: compute once, reuse). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    sigCache.getOrElseUpdate(
      (spark, dir),
      graft.ops.Dedup.minhashSignatures(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** The content-fingerprint table for a dir's documents (cached,
    * shared) — the in-session analogue of the durable
    * `Store.docFingerprints` table the cross-corpus ingest gate reads
    * instead of re-hashing corpus text. */
  def docFingerprints(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    fpCache.getOrElseUpdate(
      (spark, dir),
      graft.ops.Dedup.docFingerprints(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** The duplicate-cluster assignment (doc_id → cluster_id) for a dir's
    * documents (cached, shared): connected components over the near-dup +
    * exact-dup edge set, computed once per (session, dir) off the cached
    * signature table — at scale this is the materialized "cluster map"
    * table both `d_dup_clusters` and `d_cluster_keep` serve from. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    ccCache.getOrElseUpdate((spark, dir), {
      val docs = Tables(spark, dir).documents
      val candidates =
        graft.ops.Dedup.minhashCandidatesFromSignatures(minhashSignatures(spark, dir))
      graft.ops.DupClusters.dupClusters(docs, candidates)
        .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** The fitted IVF index for a dir's embeddings (cached, shared):
    * deterministic k-means centroids + the cluster-assigned corpus,
    * persisted. Fitting inside every query invocation was round 2's
    * slowest similarity path (two blocking Lloyd jobs per call); a fitted
    * index is a MODEL — built once per (session, dir, nlist), served
    * many times, exactly like [[minhashSignatures]]. */
  /** The fitted PQ index for a dir's embeddings (cached, shared):
    * deterministic per-subspace codebooks + the encoded code table,
    * persisted — the compressed-corpus counterpart of [[ivfIndex]]. */
  def pqIndex(spark: SparkSession, dir: String): (Seq[Seq[Seq[Double]]], DataFrame) = {
    evictStopped()
    pqCache.getOrElseUpdate((spark, dir), {
      val emb = Tables(spark, dir).embeddings
      val books = graft.ops.Similarity.pqCodebooks(emb)
      val codes = graft.ops.Similarity.pqCodes(emb, books)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (books, codes)
    })
  }

  /** The PQ codebook tensor for a dir's embeddings at a CANDIDATE
    * subquantizer count (cached, shared) — the per-m fits the
    * `s_pq_curve` tuning sweep reads: built once per (session, dir,
    * m), like [[ivfIndex]]'s per-nlist key. m = 8 aliases the serving
    * index's own books ([[pqIndex]] — the identical fit) so the sweep
    * never refits what serving already fitted. */
  def pqCurveBooks(spark: SparkSession, dir: String, m: Int): Seq[Seq[Seq[Double]]] = {
    evictStopped()
    if (m == 8) pqIndex(spark, dir)._1
    else pqCurveCache.getOrElseUpdate((spark, dir, m),
      graft.ops.Similarity.pqCodebooks(Tables(spark, dir).embeddings, m = m))
  }

  /** The permutation-OPQ index for a dir's embeddings (cached, shared):
    * the variance-balancing dimension permutation, the PQ codebooks
    * fitted on the PERMUTED corpus (both driver-scale model objects —
    * dim ints + dim×k doubles), and the persisted OPQ code table the
    * `s_ann_opq` serve scans — built once per (session, dir) like every
    * other fit. */
  def opqIndex(spark: SparkSession, dir: String)
      : (Seq[Int], Seq[Seq[Seq[Double]]], DataFrame) = {
    evictStopped()
    opqCache.getOrElseUpdate((spark, dir), {
      val emb = Tables(spark, dir).embeddings
      val perm = graft.ops.Similarity.opqPermutation(emb)
      val permuted = graft.ops.Similarity.opqPermute(emb, perm)
      val books = graft.ops.Similarity.pqCodebooks(permuted)
      val codes = graft.ops.Similarity.pqCodes(permuted, books)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (perm, books, codes)
    })
  }

  /** The decontamination Bloom sketch for a dir's eval source (cached,
    * shared): a fixed-size model built once per corpus, like the fitted
    * ANN indexes — every t_decontam_bloom invocation probes the same
    * sketch instead of re-aggregating the eval grams. */
  def evalNgramBloom(spark: SparkSession, dir: String): Option[Array[Byte]] = {
    evictStopped()
    bloomCache.getOrElseUpdate((spark, dir),
      graft.ops.TextAnalysis.evalNgramBloom(Tables(spark, dir).documents))
  }

  /** The fitted IVF-PQ index for a dir's embeddings (cached, shared):
    * the coarse quantizer's centroids (shared with [[ivfIndex]]), the
    * residual PQ codebooks, and the persisted (cluster, codes) table —
    * the compressed inverted-file layout `s_ann_ivfpq` serves from. */
  def ivfPqIndex(spark: SparkSession, dir: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) = {
    evictStopped()
    ivfPqCache.getOrElseUpdate((spark, dir), {
      val emb = Tables(spark, dir).embeddings
      val (cents, _) = ivfIndex(spark, dir)
      val books = graft.ops.Similarity.ivfPqCodebooks(emb, cents)
      val codes = graft.ops.Similarity.ivfPqCodes(emb, cents, books)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (cents, books, codes)
    })
  }

  /** The semantic-dedup SURVIVOR set for a dir's embeddings (cached,
    * shared): IVF-canopy edges → CC closure → min-id survivors, joined
    * back to their vectors with the single-nearest cluster attached —
    * (vec_id, label, embedding, cluster). The in-session form of the
    * durable survivor table (`Store.saveSemanticSurvivors`) that
    * incremental semantic vetting serves from. */
  def semanticSurvivors(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    semCache.getOrElseUpdate((spark, dir), {
      import org.apache.spark.sql.functions.col
      val (_, assigned) = ivfIndex(spark, dir)
      val keep = graft.ops.Dedup
        .semanticDedupFromCc(assigned.drop("cluster"), semanticCc(spark, dir))
        .select(col("vec_id"))
      assigned.join(keep, Seq("vec_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** The IVF-canopy semantic component assignment (vec_id → cluster_id)
    * for a dir's embeddings (cached, shared) — the VECTOR-space twin of
    * [[dupClusters]]'s doc-space cluster map (r16 opt): canopy pair
    * mining + the iterative large-star/small-star closure run once per
    * (session, dir) and the assignment is persisted; `d_semantic_ivf`,
    * `d_semantic_medoid` and [[semanticSurvivors]] all serve off it
    * (pre-r16 each serve re-mined the identical pair set and re-ran the
    * identical closure). At scale this is the durable cluster-map table
    * next to the survivor store. */
  def semanticCc(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    semCcCache.getOrElseUpdate((spark, dir), {
      import org.apache.spark.sql.functions.col
      val (cents, assigned) = ivfIndex(spark, dir)
      val emb = assigned.drop("cluster")
      graft.ops.DupClusters.connectedComponents(
        graft.ops.Dedup.embedNearDupClusters(emb, cents)
          .select(col("vec_a"), col("vec_b")),
        emb.select(col("vec_id")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** The PRE-DELTA host-rank snapshot for a dir (cached, shared): the
    * cold 10-iteration PageRank on the synthetic graph minus every
    * 50th document — `d_rank_delta`'s "yesterday" fixture. In
    * production the previous rank vector is a STORED artifact (the
    * last scheduled refresh's output — `domainRankDelta`'s own input
    * contract); the cache stands in for that table so the key times
    * the warm refresh, not the re-derivation of history. */
  def rankSnapshot(spark: SparkSession, dir: String): DataFrame = {
    evictStopped()
    rankCache.getOrElseUpdate((spark, dir), {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      graft.ops.DomainGraph.domainRank(graft.ops.DomainGraph.syntheticEdges(
          Tables(spark, dir).documents.filter(pmod(col("doc_id"), lit(50)) =!= 0)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** The trained BPE model for a dir's documents (cached, shared): the
    * merge table (driver-scale — `rounds` rows) plus the PERSISTED
    * final vocab segmentation. The tokenizer is a MODEL exactly like
    * the IVF/PQ fits — trained once per (session, dir), then
    * `t_bpe_train` reports the merges and `t_bpe_apply` serves
    * corpus-wide token counts off the segmentation table without
    * re-running the 8 sequential training rounds per invocation. */
  def bpeModel(spark: SparkSession, dir: String,
               rounds: Int = 8): (Seq[(Int, String, Long)], DataFrame) = {
    evictStopped()
    bpeCache.getOrElseUpdate((spark, dir, rounds), {
      // ONE hooked training lands the model AND the compression-curve
      // scalars (the hook's per-round aggregates are vocab-sized and
      // nearly free) — t_bpe_curve must never retrain what t_bpe_train
      // already trained
      val ((merges, syms), totals) = graft.ops.TextAnalysis
        .bpeLoopWithCurve(Tables(spark, dir).documents, rounds)
      bpeCurveCache.putIfAbsent((spark, dir, rounds), totals)
      (merges, syms) // syms is already persisted + materialized by the loop
    })
  }

  /** The BPE compression-curve scalars for a dir's documents (cached,
    * shared): landed by [[bpeModel]]'s hooked training run, so the
    * curve costs no training of its own — `t_bpe_curve` serves pure
    * integer arithmetic on them. The panel is the one
    * `TextAnalysis.BpePanel` constant (shared with the oracle
    * generator); no per-call panel here, so a cache hit can never
    * silently answer for different parameters. */
  def bpeCurve(spark: SparkSession, dir: String,
               rounds: Int = 8): Seq[(Int, Long, Long)] = {
    evictStopped()
    bpeCurveCache.get((spark, dir, rounds)) match {
      case Some(t) => t
      case None =>
        bpeModel(spark, dir, rounds) // the hooked training fills BOTH caches
        bpeCurveCache.getOrElseUpdate((spark, dir, rounds),
          // unreachable unless the model landed via some pre-hook path:
          // pay one standalone instrumented run rather than throw
          graft.ops.TextAnalysis.bpeCurveTotals(
            Tables(spark, dir).documents, rounds, graft.ops.TextAnalysis.BpePanel))
    }
  }

  /** The BPE model trained on the PREVIOUS corpus snapshot (the
    * d_rank_delta / t_corpus_drift fixture: corpus minus every 50th
    * doc) — `t_bpe_fertility`'s serving model. In production this is
    * yesterday's STORED tokenizer applied to today's crawl — the case
    * where out-of-vocabulary words genuinely exist; the snapshot-
    * trained cache stands in for that stored model. Keyed alongside
    * [[bpeModel]] by suffixing the dir (same cache, same eviction). */
  def bpeModelSnapshot(spark: SparkSession, dir: String,
                       rounds: Int = 8): (Seq[(Int, String, Long)], DataFrame) = {
    evictStopped()
    bpeCache.getOrElseUpdate((spark, dir + "#prev", rounds), {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      graft.ops.TextAnalysis.bpeLoop(
        Tables(spark, dir).documents.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        rounds)
    })
  }

  private def qmPair(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    evictStopped()
    qmCache.getOrElseUpdate((spark, dir),
      // trained over the SHARED materialized feature stream (r17) —
      // the fit no longer extracts its own copy of the bigram stream
      graft.ops.TextAnalysis.qualityModelFitScoresOverFeats(dsirFeats(spark, dir)))
  }

  /** The trained NB quality-model ARTIFACT for a dir's documents
    * (r16, cached, shared): the 256-row (bucket, log-odds) table —
    * the stored object `Store.saveQualityModel` publishes and the
    * streaming gate's quality_model arm serves against corpora the
    * model never saw. One hooked training per (session, dir) lands
    * this AND [[qualityScores]] (the bpeModel/bpeCurve precedent —
    * the classifier is a MODEL exactly like the IVF/PQ/BPE fits). */
  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    qmPair(spark, dir)._1

  /** The MATERIALIZED per-doc quality-score frame for a dir's
    * documents (r16, cached, shared): (doc_id, source, n_feats,
    * q_score) — `t_quality_model`'s tercile card,
    * `t_quality_model_curve`'s budget sweep and
    * `d_cluster_keep_quality`'s survivor argmax all read THIS frame;
    * the corpus token-stream scan and the NB fit run once per
    * (session, dir), never per serve. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    qmPair(spark, dir)._2

  /** `nlist <= 0` (the default) resolves the list count from the corpus
    * via [[graft.ops.Similarity.autoNlist]] — the SCALING.md sizing rule
    * (bucket width held ≈ constant as the corpus grows) applied
    * automatically instead of left as a manual knob. The resolved size
    * is itself memoized per (session, dir): ONE metadata-cheap count()
    * per corpus, then every fit-family consumer shares the same fitted
    * index. An explicit positive `nlist` still pins the size (tests,
    * recall/latency tuning).
    *
    * Two regimes, switched on [[graft.ops.Similarity.TwoLevelMinNlist]]:
    * up to nlist = 256 (n ≤ 65 536 — every oracle-gated corpus) the fit
    * is the EXACT flat Lloyd the DuckDB mirrors replay byte-for-byte;
    * past it the fit would go quadratic (nlist ∝ n, full-corpus
    * assignment per iteration), so the index switches to the scale
    * regime — hash-sampled hierarchical fit ([[graft.ops.Similarity
    * .autoSampleDenom]] + [[graft.ops.Similarity.ivfCentroidsHier]],
    * O(fitN·√nlist·dim)) and two-level routing ([[graft.ops.Similarity
    * .twoLevelAssign]], O(n·√nlist·dim)). The returned centroid matrix
    * is the hierarchical fit's in-order flattening, so every serving
    * consumer (probe selection, canopies, recall cards) reads the same
    * flat (cluster id → centroid) layout in both regimes. */
  def ivfIndex(spark: SparkSession, dir: String, nlist: Int = 0): (Seq[Seq[Double]], DataFrame) = {
    evictStopped()
    val emb = Tables(spark, dir).embeddings
    val k =
      if (nlist > 0) nlist
      else nlistCache.getOrElseUpdate((spark, dir),
        graft.ops.Similarity.autoNlist(emb.count()))
    ivfCache.getOrElseUpdate((spark, dir, k), fitIvf(emb, k))
  }

  /** The LIVE-ONLY refit of [[ivfIndex]] — the index the `s_ann_refit`
    * recovery card serves its refit arm from: the SAME fit recipe
    * (auto-nlist from the LIVE count, same regime switches) over the
    * corpus minus the tombstone set (the list-level takedown
    * `Similarity.takedownLive` defines over the STALE assignment — see
    * `Similarity.TakedownMod`'s scaladoc for why the refit card uses
    * list-correlated, not uniform, deletes). In
    * production this is the out-of-band rebuild `AnnStream.refitSignal`
    * recommends — fitted on live vectors only, then published over the
    * stale index via `Store`'s versioned swap (spec-proven in
    * StoreSpec); the dir-suffixed cache key stands in for that
    * published artifact. Cached independently of the stale index
    * (`#live` suffix — the bpeModelSnapshot convention). */
  def ivfIndexLive(spark: SparkSession, dir: String, nlist: Int = 0): (Seq[Seq[Double]], DataFrame) = {
    evictStopped()
    val live = ivfIndex(spark, dir)._2
      .filter(graft.ops.Similarity.takedownLive).drop("cluster")
    val k =
      if (nlist > 0) nlist
      else nlistCache.getOrElseUpdate((spark, dir + "#live"),
        graft.ops.Similarity.autoNlist(live.count()))
    ivfCache.getOrElseUpdate((spark, dir + "#live", k), fitIvf(live, k))
  }

  /** IVF index fitted in MRL PREFIX space (the first `shortDim`
    * coordinates) — the index arm of the `s_ann_mrl_ivf` funnel: the
    * Lloyd fit reads shortDim/D of every vector (the MRL cost saving
    * applied to the INDEX build, not just a scan tier), while the
    * returned assigned table carries the FULL vectors so the serve can
    * rerank in full precision. Assignment is scan-side on the sliced
    * column in the exact regime (no join — ONE pass over the corpus);
    * past [[graft.ops.Similarity.TwoLevelMinNlist]] it delegates to the
    * shared hier fit over the prefix projection and joins the cluster
    * ids back on vec_id (a co-locatable key join at corpus scale).
    * Cached under the `#mrl` dir suffix (the ivfIndexLive convention). */
  def ivfIndexMrl(spark: SparkSession, dir: String, shortDim: Int = 16,
                  nlist: Int = 0): (Seq[Seq[Double]], DataFrame) = {
    import org.apache.spark.sql.functions.{col, slice, typedlit}
    evictStopped()
    val emb = Tables(spark, dir).embeddings
    val pre = emb.select(col("vec_id"), col("label"),
      slice(col("embedding"), 1, shortDim).as("embedding"))
    val key = dir + s"#mrl$shortDim"
    val k =
      if (nlist > 0) nlist
      else nlistCache.getOrElseUpdate((spark, key),
        graft.ops.Similarity.autoNlist(emb.count()))
    ivfCache.getOrElseUpdate((spark, key, k), {
      if (k <= graft.ops.Similarity.TwoLevelMinNlist) {
        val cents = graft.ops.Similarity.ivfCentroids(pre, k)
        val assigned = emb
          .withColumn("cluster", graft.functions.GraftFunctions.nearestCentroid(
            slice(col("embedding"), 1, shortDim), typedlit(cents)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (cents, assigned)
      } else {
        val (cents, aPre) = fitIvf(pre, k)
        val assigned = emb
          .join(aPre.select(col("vec_id"), col("cluster")), "vec_id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        // materialize the joined frame, then release fitIvf's interim
        // prefix-space persist — only `assigned` is this entry's cached
        // value, and holding both would pin two corpus-scale frames for
        // the session lifetime (r13 review finding)
        assigned.count()
        aPre.unpersist()
        (cents, assigned)
      }
    })
  }

  /** Shared IVF fit body (regime switching per the [[ivfIndex]]
    * scaladoc), so the stale and live-refit indexes can never fit by
    * different recipes. */
  private def fitIvf(emb: DataFrame, k: Int): (Seq[Seq[Double]], DataFrame) = {
    import org.apache.spark.sql.functions.{col, typedlit}
    if (k <= graft.ops.Similarity.TwoLevelMinNlist) {
      val cents = graft.ops.Similarity.ivfCentroids(emb, k)
      val assigned = emb
        .withColumn("cluster",
          graft.functions.GraftFunctions.nearestCentroid(col("embedding"), typedlit(cents)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (cents, assigned)
    } else {
      val denom = graft.ops.Similarity.autoSampleDenom(emb.count(), k)
      val (supers, grouped) = graft.ops.Similarity.ivfCentroidsHier(emb, k, 2, denom)
      // third regime past JoinedAssignMinNlist: the sub-centroid model
      // is too big to inline as a plan literal, so it broadcast-joins
      // instead (routing-identical — spec-proven)
      val assigned =
        (if (k > graft.ops.Similarity.JoinedAssignMinNlist)
           graft.ops.Similarity.twoLevelAssignJoined(emb, supers, grouped)
         else emb.withColumn("cluster",
           graft.ops.Similarity.twoLevelAssign(supers, grouped)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (grouped.flatten, assigned)
    }
  }
}
