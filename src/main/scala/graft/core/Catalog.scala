package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
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
  * Registry: every getter is one entry of a single memo keyed by
  * (session, entry name, dir, parameter). The dir may carry a variant
  * suffix (`#prev`, `#live`, `#mrl16`) for an entry fitted over a
  * derived corpus; the parameter is the entry's one integer knob
  * (nlist, m, rounds, dfCap; 0 when it has none). Each key holds an
  * [[Entry]] that runs its build once: concurrent readers of one key
  * wait for the first build and get its value, readers of different
  * keys build concurrently, and a build that throws leaves the entry
  * unbuilt, so the next reader builds again. A build reads the entries
  * it depends on through their getters.
  *
  * Served keys: [[served]] holds a query key's planned frame in the
  * same registry, so a key answered again and again in one session is
  * analyzed, optimized and planned once, not once per call. A held
  * frame pins what its plan read when it was planned and, after its
  * first run, AQE's final plan with its shuffle and broadcast outputs.
  * Only a key whose input is itself a session-fixed entry qualifies:
  * the `VehicleQueries` keys over [[vehicles]] and [[observations]]. A
  * key over raw table files, whose file listing a held plan would
  * freeze, or one with a caller-supplied parameter builds a fresh
  * frame per call.
  *
  * Lifecycle: a lookup that misses first drops the entries whose
  * session has been stopped, so frames bound to dead sessions don't
  * accumulate for the JVM lifetime (a stopped session's cached blocks
  * are already gone with its BlockManager; this just drops the
  * references). A hit does no eviction: entries accumulate only
  * through misses, and a full-registry walk on every hit would cost
  * the hit more than the lookup itself. [[clear]]
  * drops a live session's entries and releases what each one holds by
  * one rule ([[release]]). It is the explicit hook for tests and
  * long-lived processes.
  */
object Catalog {
  private final case class Key(spark: SparkSession, entry: String, dir: String, param: Int)

  /** Runs `build` once, on the first read; a throwing build stays unbuilt. */
  private final class Entry(build: () => Any) {
    @volatile private var held: Option[Any] = None
    def built: Option[Any] = held
    def value: Any = held.getOrElse(synchronized {
      if (held.isEmpty) held = Some(build())
      held.get
    })
  }

  private val registry = TrieMap.empty[Key, Entry]

  private def memo[V](spark: SparkSession, entry: String, dir: String, param: Int = 0)
                     (build: => V): V = {
    val key = Key(spark, entry, dir, param)
    val e = registry.getOrElse(key, {
      registry.filterInPlace { case (k, _) => !k.spark.sparkContext.isStopped }
      val fresh = new Entry(() => build)
      registry.putIfAbsent(key, fresh).getOrElse(fresh)
    })
    e.value.asInstanceOf[V]
  }

  /** Drop every entry for `spark` (all dirs) and release what it held. */
  def clear(spark: SparkSession): Unit =
    registry.keys.filter(_.spark eq spark).foreach { k =>
      registry.remove(k).flatMap(_.built).foreach { v =>
        if (!spark.sparkContext.isStopped) release(v)
      }
    }

  /** The one release rule, over a held value: a frame leaves the cache
    * manager and gives up the localCheckpoint blocks its plan reads (a
    * checkpoint's blocks hang off its `LogicalRDD`, not the cache
    * manager, so `unpersist` alone cannot reach them — a persisted
    * frame over a checkpointed one would otherwise keep the latter's
    * blocks); a tuple releases each part; driver-side models and
    * scalars hold nothing. */
  private def release(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] =>
      df.unpersist()
      df.queryExecution.analyzed.foreach {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ =>
      }
    case _: Iterable[_] =>
    case t: Product => t.productIterator.foreach(release)
    case _ =>
  }

  /** Query key `key` over `dir`, built once per (session, dir, key):
    * every later caller gets the same `Dataset`, so a repeat `collect()`
    * skips analysis, optimization and physical planning and, after the
    * first run, AQE's re-planning as well.
    *
    * The frame is planned on its first use, not in the build. A plan
    * made before a lazily persisted input is materialized cannot see the
    * cached layout and starts with an exchange that AQE drops only once
    * the cache stage has run; a caller that materializes the input
    * first (`Audit` counts the frame before it reads the plan) thus
    * reads the same plan it would read from a fresh frame.
    *
    * `build` must read only session-fixed Catalog entries and take no
    * per-call parameter. The held frame keeps what its first run
    * materialized: a plan with a shuffle (`v_headway`,
    * `v_snapshot_diff*`) keeps its shuffle output and a broadcast its
    * broadcast value, and later runs read them instead of recomputing
    * them. That is correct only because the input is an entry that
    * does not change until [[clear]]. `clear` drops the held frame with
    * the entries it reads, and Spark's cleaner removes its shuffle
    * files once the dropped plan is garbage-collected. Several threads
    * may plan and collect a held frame at once. */
  def served(spark: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame =
    memo(spark, key, dir)(build)

  /** The verified canopy candidate-pair frame `(vec_id, label, nbr_id,
    * nbr_label, cos_sim)` for a dir's embeddings (cached, shared): the
    * k-means-canopy blocked, least-shared-canopy-deduped,
    * exact-cosine-verified pair set that s_knn_ivf, s_hard_negatives
    * and s_knn_accuracy each re-mined per invocation. At scale this is
    * the stored kNN-graph candidate table an index-maintenance run
    * materializes before its consumers fan out. Centroids come from
    * the shared [[ivfIndex]] fit. */
  def canopyPairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "canopy_pairs", dir) {
      val (cents, _) = ivfIndex(spark, dir)
      graft.ops.Similarity.canopyCandidatePairs(
        Tables(spark, dir).embeddings, cents)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The hashed-bigram feature stream `(doc_id, source, b)` for a
    * dir's documents (cached, shared): the four DSIR keys each
    * referenced it twice per action (model fit + scoring join), and
    * the NB quality-model training extracts the identical stream. At
    * scale this is the stored per-document feature table a selection
    * pipeline extracts once per corpus. */
  def dsirFeats(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "dsir_feats", dir) {
      graft.ops.Sampling.dsirFeats(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The materialized host-graph tables (edge weights, out-degrees,
    * node set, node count) over the corpus's synthetic link graph
    * (cached, shared): d_domain_rank, d_rank_delta,
    * d_rank_convergence and d_domain_hits each re-materialized the
    * identical three frames per invocation; at scale this is the stored
    * link-weight table a scheduled rank refresh reads
    * ([[graft.streaming.RankStream]] maintains it incrementally). */
  def hostGraph(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Long) =
    memo(spark, "host_graph", dir) {
      graft.ops.DomainGraph.edgeTables(
        graft.ops.DomainGraph.syntheticEdges(Tables(spark, dir).documents))
    }

  /** The tokenized corpus `(doc_id, shingles)` for a dir's documents
    * (cached, shared) — the set-valued sibling of [[docFingerprints]]:
    * every exact-overlap verifier (Jaccard on LSH candidates, the
    * calibration/tuning cards) reads the stored shingle sets instead of
    * re-tokenizing corpus text once per reference (guide §6 — at 100 TB
    * this is the materialized shingle table SCALING.md already assumes
    * for the signature family). */
  def shingledDocs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "shingled_docs", dir) {
      graft.ops.Dedup.shingled(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK)
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
                   dfCap: Option[Int] = None): DataFrame =
    memo(spark, "shingle_index", dir, dfCap.getOrElse(0)) {
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
  def vehicles(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "vehicles", dir) {
      graft.etl.VehicleFeed.vehiclesFromEvents(spark, dir)
        .repartition(1)
        .persist(StorageLevel.MEMORY_AND_DISK)
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
  def observations(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "observations", dir) {
      import org.apache.spark.sql.functions.col
      graft.etl.VehicleFeed.fromEvents(Tables(spark, dir).events)
        .repartition(col("id"))
        .sortWithinPartitions(col("id"), col("updated_at"), col("obs_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The MinHash signature table for a dir's documents (cached, shared) —
    * the in-session analogue of the materialized signature table every
    * LSH-based dedup operator reads (SCALING.md: compute once, reuse). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "minhash_sigs", dir) {
      graft.ops.Dedup.minhashSignatures(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The content-fingerprint table for a dir's documents (cached,
    * shared) — the in-session analogue of the durable
    * `Store.docFingerprints` table the cross-corpus ingest gate reads
    * instead of re-hashing corpus text. */
  def docFingerprints(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "doc_fps", dir) {
      graft.ops.Dedup.docFingerprints(Tables(spark, dir).documents)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The duplicate-cluster assignment (doc_id → cluster_id) for a dir's
    * documents (cached, shared): connected components over the near-dup +
    * exact-dup edge set, computed once per (session, dir) off the cached
    * signature table — at scale this is the materialized "cluster map"
    * table both `d_dup_clusters` and `d_cluster_keep` serve from. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "dup_clusters", dir) {
      val docs = Tables(spark, dir).documents
      val candidates =
        graft.ops.Dedup.minhashCandidatesFromSignatures(minhashSignatures(spark, dir))
      graft.ops.DupClusters.dupClusters(docs, candidates)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The fitted PQ index for a dir's embeddings (cached, shared):
    * deterministic per-subspace codebooks + the encoded code table,
    * persisted — the compressed-corpus counterpart of [[ivfIndex]]. */
  def pqIndex(spark: SparkSession, dir: String): (Seq[Seq[Seq[Double]]], DataFrame) =
    memo(spark, "pq", dir) {
      val emb = Tables(spark, dir).embeddings
      val books = graft.ops.Similarity.pqCodebooks(emb)
      val codes = graft.ops.Similarity.pqCodes(emb, books)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (books, codes)
    }

  /** The PQ codebook tensor for a dir's embeddings at a CANDIDATE
    * subquantizer count (cached, shared) — the per-m fits the
    * `s_pq_curve` tuning sweep reads: built once per (session, dir,
    * m), like [[ivfIndex]]'s per-nlist key. m = 8 aliases the serving
    * index's own books ([[pqIndex]] — the identical fit) so the sweep
    * never refits what serving already fitted. */
  def pqCurveBooks(spark: SparkSession, dir: String, m: Int): Seq[Seq[Seq[Double]]] =
    if (m == 8) pqIndex(spark, dir)._1
    else memo(spark, "pq_curve_books", dir, m) {
      graft.ops.Similarity.pqCodebooks(Tables(spark, dir).embeddings, m = m)
    }

  /** The permutation-OPQ index for a dir's embeddings (cached, shared):
    * the variance-balancing dimension permutation, the PQ codebooks
    * fitted on the PERMUTED corpus (both driver-scale model objects —
    * dim ints + dim×k doubles), and the persisted OPQ code table the
    * `s_ann_opq` serve scans — built once per (session, dir) like every
    * other fit. */
  def opqIndex(spark: SparkSession, dir: String)
      : (Seq[Int], Seq[Seq[Seq[Double]]], DataFrame) =
    memo(spark, "opq", dir) {
      val emb = Tables(spark, dir).embeddings
      val perm = graft.ops.Similarity.opqPermutation(emb)
      val permuted = graft.ops.Similarity.opqPermute(emb, perm)
      val books = graft.ops.Similarity.pqCodebooks(permuted)
      val codes = graft.ops.Similarity.pqCodes(permuted, books)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (perm, books, codes)
    }

  /** The decontamination Bloom sketch for a dir's eval source (cached,
    * shared): a fixed-size model built once per corpus, like the fitted
    * ANN indexes — every t_decontam_bloom invocation probes the same
    * sketch instead of re-aggregating the eval grams. */
  def evalNgramBloom(spark: SparkSession, dir: String): Option[Array[Byte]] =
    memo(spark, "eval_bloom", dir) {
      graft.ops.TextAnalysis.evalNgramBloom(Tables(spark, dir).documents)
    }

  /** The fitted IVF-PQ index for a dir's embeddings (cached, shared):
    * the coarse quantizer's centroids (shared with [[ivfIndex]]), the
    * residual PQ codebooks, and the persisted (cluster, codes) table —
    * the compressed inverted-file layout `s_ann_ivfpq` serves from. */
  def ivfPqIndex(spark: SparkSession, dir: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) =
    memo(spark, "ivfpq", dir) {
      val emb = Tables(spark, dir).embeddings
      val (cents, _) = ivfIndex(spark, dir)
      val books = graft.ops.Similarity.ivfPqCodebooks(emb, cents)
      val codes = graft.ops.Similarity.ivfPqCodes(emb, cents, books)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (cents, books, codes)
    }

  /** The semantic-dedup SURVIVOR set for a dir's embeddings (cached,
    * shared): IVF-canopy edges → CC closure → min-id survivors, joined
    * back to their vectors with the single-nearest cluster attached —
    * (vec_id, label, embedding, cluster). The in-session form of the
    * durable survivor table (`Store.saveSemanticSurvivors`) that
    * incremental semantic vetting serves from. */
  def semanticSurvivors(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "semantic_survivors", dir) {
      import org.apache.spark.sql.functions.col
      val (_, assigned) = ivfIndex(spark, dir)
      val keep = graft.ops.Dedup
        .semanticDedupFromCc(assigned.drop("cluster"), semanticCc(spark, dir))
        .select(col("vec_id"))
      assigned.join(keep, Seq("vec_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The IVF-canopy semantic component assignment (vec_id → cluster_id)
    * for a dir's embeddings (cached, shared) — the VECTOR-space twin of
    * [[dupClusters]]'s doc-space cluster map: canopy pair mining + the
    * iterative large-star/small-star closure run once per
    * (session, dir) and the assignment is persisted; `d_semantic_ivf`,
    * `d_semantic_medoid` and [[semanticSurvivors]] all serve off it.
    * At scale this is the durable cluster-map table next to the
    * survivor store. */
  def semanticCc(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "semantic_cc", dir) {
      import org.apache.spark.sql.functions.col
      val (cents, assigned) = ivfIndex(spark, dir)
      val emb = assigned.drop("cluster")
      graft.ops.DupClusters.connectedComponents(
        graft.ops.Dedup.embedNearDupClusters(emb, cents)
          .select(col("vec_a"), col("vec_b")),
        emb.select(col("vec_id")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The PRE-DELTA host-rank snapshot for a dir (cached, shared): the
    * cold 10-iteration PageRank on the synthetic graph minus every
    * 50th document — `d_rank_delta`'s "yesterday" fixture. In
    * production the previous rank vector is a STORED artifact (the
    * last scheduled refresh's output — `domainRankDeltaFromTables`' own
    * input contract); the cache stands in for that table so the key times
    * the warm refresh, not the re-derivation of history. */
  def rankSnapshot(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "rank_snapshot", dir) {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      graft.ops.DomainGraph.domainRank(graft.ops.DomainGraph.syntheticEdges(
          Tables(spark, dir).documents.filter(pmod(col("doc_id"), lit(50)) =!= 0)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** One hooked BPE training per (session, dir, rounds): the merge
    * table, the persisted final vocab segmentation, and the
    * compression-curve scalars the hook reads off each panel round's
    * already-persisted segmentation. [[bpeModel]] and [[bpeCurve]]
    * both serve from it, so the curve never retrains. Keyed on rounds:
    * a non-default rounds must not serve the 8-round model the
    * oracle-gated t_bpe_train/t_bpe_apply keys replay. */
  private def bpe(spark: SparkSession, dir: String, rounds: Int)
      : (Seq[(Int, String, Long)], DataFrame, Seq[(Int, Long, Long)]) =
    memo(spark, "bpe", dir, rounds) {
      val ((merges, syms), totals) = graft.ops.TextAnalysis
        .bpeLoopWithCurve(Tables(spark, dir).documents, rounds)
      (merges, syms, totals) // syms is already persisted + materialized by the loop
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
    val (merges, syms, _) = bpe(spark, dir, rounds)
    (merges, syms)
  }

  /** The BPE compression-curve scalars for a dir's documents (cached,
    * shared): landed by [[bpeModel]]'s hooked training run, so the
    * curve costs no training of its own — `t_bpe_curve` serves pure
    * integer arithmetic on them. The panel is the one
    * `TextAnalysis.BpePanel` constant (shared with the oracle
    * generator); no per-call panel here, so a cache hit can never
    * silently answer for different parameters. */
  def bpeCurve(spark: SparkSession, dir: String,
               rounds: Int = 8): Seq[(Int, Long, Long)] =
    bpe(spark, dir, rounds)._3

  /** The BPE model trained on the PREVIOUS corpus snapshot (the
    * d_rank_delta / t_corpus_drift fixture: corpus minus every 50th
    * doc) — `t_bpe_fertility`'s serving model. In production this is
    * yesterday's STORED tokenizer applied to today's crawl — the case
    * where out-of-vocabulary words genuinely exist; the snapshot-
    * trained entry stands in for that stored model (dir variant
    * `#prev`). */
  def bpeModelSnapshot(spark: SparkSession, dir: String,
                       rounds: Int = 8): (Seq[(Int, String, Long)], DataFrame) =
    memo(spark, "bpe_snapshot", dir + "#prev", rounds) {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      graft.ops.TextAnalysis.bpeLoop(
        Tables(spark, dir).documents.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        rounds)
    }

  /** The NB quality classifier: ONE training per (session, dir) lands
    * the 256-row fit artifact AND the materialized per-doc score frame,
    * trained over the shared [[dsirFeats]] stream. */
  private def qualityFit(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    memo(spark, "quality_model", dir) {
      graft.ops.TextAnalysis.qualityModelFitScoresOverFeats(dsirFeats(spark, dir))
    }

  /** The trained NB quality-model ARTIFACT for a dir's documents
    * (cached, shared): the 256-row (bucket, log-odds) table —
    * the stored object `Store.saveQualityModel` publishes and the
    * streaming gate's quality_model arm serves against corpora the
    * model never saw. One training per (session, dir) lands
    * this AND [[qualityScores]] (the classifier is a MODEL exactly like
    * the IVF/PQ/BPE fits). */
  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityFit(spark, dir)._1

  /** The MATERIALIZED per-doc quality-score frame for a dir's
    * documents (cached, shared): (doc_id, source, n_feats,
    * q_score) — `t_quality_model`'s tercile card,
    * `t_quality_model_curve`'s budget sweep and
    * `d_cluster_keep_quality`'s survivor argmax all read THIS frame;
    * the corpus token-stream scan and the NB fit run once per
    * (session, dir), never per serve. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    qualityFit(spark, dir)._2

  /** The auto-sized list count for a corpus (or corpus variant): ONE
    * metadata-cheap count() per (session, dir), then every fit-family
    * consumer shares the same fitted index. */
  private def autoNlist(spark: SparkSession, dir: String, corpus: => DataFrame): Int =
    memo(spark, "nlist", dir)(graft.ops.Similarity.autoNlist(corpus.count()))

  /** The fitted IVF index for a dir's embeddings (cached, shared):
    * deterministic k-means centroids + the cluster-assigned corpus,
    * persisted. Fitting inside every query invocation was the slowest
    * similarity path (two blocking Lloyd jobs per call); a fitted
    * index is a MODEL — built once per (session, dir, nlist), served
    * many times, exactly like [[minhashSignatures]].
    *
    * `nlist <= 0` (the default) resolves the list count from the corpus
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
    lazy val emb = Tables(spark, dir).embeddings
    val k = if (nlist > 0) nlist else autoNlist(spark, dir, emb)
    memo(spark, "ivf", dir, k)(fitIvf(emb, k))
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
    * StoreSpec); the `#live` dir variant stands in for that published
    * artifact, cached independently of the stale index. */
  def ivfIndexLive(spark: SparkSession, dir: String, nlist: Int = 0): (Seq[Seq[Double]], DataFrame) = {
    lazy val live = ivfIndex(spark, dir)._2
      .filter(graft.ops.Similarity.takedownLive).drop("cluster")
    val k = if (nlist > 0) nlist else autoNlist(spark, dir + "#live", live)
    memo(spark, "ivf", dir + "#live", k)(fitIvf(live, k))
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
    * Cached under the `#mrl<shortDim>` dir variant. */
  def ivfIndexMrl(spark: SparkSession, dir: String, shortDim: Int = 16,
                  nlist: Int = 0): (Seq[Seq[Double]], DataFrame) = {
    import org.apache.spark.sql.functions.{col, slice}
    lazy val emb = Tables(spark, dir).embeddings
    val variant = dir + s"#mrl$shortDim"
    val k = if (nlist > 0) nlist else autoNlist(spark, variant, emb)
    memo(spark, "ivf", variant, k) {
      val pre = emb.select(col("vec_id"), col("label"),
        slice(col("embedding"), 1, shortDim).as("embedding"))
      if (k <= graft.ops.Similarity.TwoLevelMinNlist) {
        val cents = graft.ops.Similarity.ivfCentroids(pre, k)
        val assigned = graft.ops.Similarity.mrlAssign(emb, cents, shortDim)
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
        // the session lifetime
        assigned.count()
        aPre.unpersist()
        (cents, assigned)
      }
    }
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
