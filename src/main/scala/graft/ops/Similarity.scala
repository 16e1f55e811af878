package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions

/** Similarity search over an embedding column (SURVEY.md §2.3).
  *
  * Two paths:
  *  - [[annTopK]] — brute-force cosine top-k against the query vector,
  *    shipped with the plan as a literal. The correctness baseline: one
  *    scan, cosine inside WholeStageCodegen (`graft_cosine`),
  *    `TakeOrderedAndProject` for the top-k (per-partition heaps, no
  *    global sort). At 100 TB this is the plan you run when you
  *    genuinely must rank everything.
  *  - [[annLshFromSignatures]] — the scale path: random-hyperplane signatures bucket
  *    the corpus; the query probes its own bucket plus all buckets within
  *    hamming 1 (multi-probe), as a bucket-id filter on the scan. Scan
  *    cost is unchanged (signatures are scan-side), but ranking touches
  *    only the probed buckets — ~(1+P)/2^P of the corpus for P planes.
  */
object Similarity {

  /** Deterministic hyperplanes: fixed-seed Gaussian components, shipped
    * as a literal (broadcast with the plan, never shuffled). Shared with
    * `Dedup.embedNearDupLsh` (same family of data-independent bucketers). */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Brute-force cosine top-k vs the embedding of `queryVecId`, among
    * the rows `pred` keeps. The correctness baseline: one scan, cosine
    * inside WholeStageCodegen, per-partition heaps for the top-k.
    *
    * `pred` is a metadata predicate ("nearest among docs with label ∈
    * {…}" / "from source X" / "after date D"), the vector-DB filtered
    * search. It lands on the scan before any cosine, so Catalyst pushes
    * it to the parquet reader (`PushedFilters`, spec-asserted) and the
    * top-k is the top-k of the filtered corpus, never a post-filtered
    * list that comes back short. The query vector itself need not pass
    * `pred`. */
  def annTopK(embeddings: DataFrame, queryVecId: Long = 0L, k: Int = 20,
              pred: Column = lit(true)): DataFrame =
    topKByCosine(embeddings.filter(pred && col("vec_id") =!= queryVecId),
        queryVector(embeddings, queryVecId), k)
      // `+ 0.0` kills IEEE −0.0 (a cosine in (−5e−5, 0) would round to
      // −0.0 in DuckDB but +0.0 in Spark — same class as the q_corr fix)
      .select(col("vec_id"), col("label"), (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))

  /** Batch ANN serving: exact top-k for a SET of query vectors in ONE
    * plan. The panel's query vectors reach the driver in one collect
    * ([[queryVectors]]) and ship with the plan as a literal; each corpus
    * row is exploded over them, scored by cosine in the scan, and each
    * query keeps its top k through one row_number window (its partial
    * limit runs before the exchange, so ≤ k rows per query and
    * partition are shuffled). The corpus is scanned once, however many
    * queries the panel holds — the correctness baseline for batch
    * serving; at corpus scale a query batch serves off the shared
    * IVF/PQ index instead ([[annIvfBatchFromIndex]], [[annPqFromIndex]]). */
  def annTopKBatch(embeddings: DataFrame, queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
                   k: Int = 10): DataFrame =
    topKBatch(embeddings, queryVectors(embeddings, queryVecIds), k)

  /** [[annTopKBatch]]'s plan over query vectors already on the driver,
    * so a card that serves one panel through several arms collects the
    * panel once. */
  private def topKBatch(embeddings: DataFrame, queries: Seq[(Long, Seq[Float])],
                        k: Int): DataFrame =
    topKPerQuery(embeddings
      .select(col("vec_id"), col("label"), col("embedding"), explode(typedlit(queries)).as("q"))
      .filter(col("vec_id") =!= col("q._1"))
      .select(col("q._1").as("query_id"), col("vec_id"), col("label"),
        GraftFunctions.cosine(col("embedding"), col("q._2")).as("cos")), "cos", k)
      .select(col("query_id"), col("vec_id"), col("label"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))

  /** The panel's query vectors `(vec_id, embedding)`, in panel order
    * ([[queryRows]]). */
  private def queryVectors(embeddings: DataFrame,
                           queryVecIds: Seq[Long]): Seq[(Long, Seq[Float])] =
    queryRows(embeddings, queryVecIds, col("embedding"))
      .map(r => r.getLong(0) -> r.getSeq[Float](1))

  /** One query's vector, for the single-query serves. */
  private[ops] def queryVector(embeddings: DataFrame, queryVecId: Long): Seq[Float] =
    queryVectors(embeddings, Seq(queryVecId)).head._2

  /** The panel's rows `(vec_id, cols…)`, in panel order, read from `df`
    * in one driver collect (≤ |panel| rows). Fails on an id the table
    * does not hold: a query with no vector has no top-k to serve or
    * count. */
  private def queryRows(df: DataFrame, queryVecIds: Seq[Long], cols: Column*): Seq[Row] = {
    val found = df.filter(col("vec_id").isin(queryVecIds: _*))
      .select(col("vec_id") +: cols: _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    val missing = queryVecIds.filterNot(found.contains)
    require(missing.isEmpty, s"query vec_ids not in the table: ${missing.mkString(", ")}")
    queryVecIds.distinct.map(found)
  }

  /** The single-query ranking step: the top `k` rows of `candidates` by
    * cosine of `vector` against the query vector `q`, which ships with
    * the plan as a literal, in column `score`; ties by vec_id ascending.
    * One scan and `TakeOrderedAndProject` (per-partition heaps, no
    * global sort). */
  private[ops] def topKByCosine(candidates: DataFrame, q: Seq[Float], k: Int,
                                vector: Column = col("embedding"),
                                score: String = "cos"): DataFrame =
    candidates.withColumn(score, GraftFunctions.cosine(vector, typedlit(q)))
      .orderBy(desc(score), asc("vec_id"))
      .limit(k)

  /** The `nProbe` lists whose centroids are nearest `q` by squared
    * distance (in doubles), ties broken by list id: the single-query IVF
    * serves' probe set, picked on the driver against the model-scale
    * centroid literal. */
  private def nearestLists(centroids: Seq[Seq[Double]], q: Seq[Float],
                           nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      (i, c.indices.map { j => val d = q(j).toDouble - c(j); d * d }.sum)
    }.sortBy(_._2).take(nProbe).map(_._1)

  /** Each query's top `k` rows of `df` by `score` descending, vec_id
    * ascending (the single-query serves' tie-break): one row_number
    * window per `query_id`. */
  private def topKPerQuery(df: DataFrame, score: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(desc(score), asc("vec_id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** The LSH index table: embeddings with their hyperplane bucket id.
    * bucket = Σ_p (dot(embedding, planes[p]) > 0) << p — scan-side via the
    * codegen'd graft_hyperplane_sig expression (the literal plane matrix
    * ships with the plan; no shuffle, no interpreted lambda per element).
    * Per-row and data-independent, so it runs identically over a batch
    * scan or a stream (`graft.streaming.AnnStream` maintains it
    * continuously) and the table grows by appending. */
  def withSignatures(embeddings: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planesCol = typedlit(hyperplanes(nPlanes, dim))
    embeddings
      .withColumn("bucket", GraftFunctions.hyperplaneSig(col("embedding"), planesCol))
      .select(col("vec_id"), col("label"), col("embedding"), col("bucket"))
  }

  /** Random-hyperplane LSH ANN served off a signature index
    * ([[withSignatures]] in-plan, or a materialized or stream-maintained
    * table): candidates are the rows whose bucket id is in the query's
    * multi-probe bucket set (own bucket + hamming-1 neighbors); top-k by
    * exact cosine among candidates only. The query's vector and bucket
    * come from the index in one driver read, so the probe set is a
    * literal `IN` list on the scan. */
  def annLshFromSignatures(index: DataFrame, queryVecId: Long = 0L, k: Int = 10,
                           nPlanes: Int = 8): DataFrame = {
    val q = queryRows(index, Seq(queryVecId), col("embedding"), col("bucket")).head
    val bucket = q.getLong(2)
    val probes = bucket +: (0 until nPlanes).map(p => bucket ^ (1L << p))
    topKByCosine(index.filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryVecId),
        q.getSeq[Float](1), k)
      .select(col("vec_id"), col("label"), col("bucket"), round(col("cos"), 4).as("cos_sim"))
  }

  /** SCALING.md's "size nlist ∝ corpus" rule as code:
    * `nlist = max(16, ⌈n / targetBucket⌉)` holds the EXPECTED IVF bucket
    * width ≈ `targetBucket` as the corpus grows — which is exactly what
    * keeps every O(Σ bucket²) consumer (canopy pair mining, semantic
    * dedup, the kNN-graph build) LINEAR in corpus size: with
    * nAssign-nearest canopies, Σ bucket² ≈ nAssign²·n·targetBucket.
    * The floor of 16 covers the test corpora (≤ 2000 vectors at
    * sf ≤ 0.1 → 16), so Catalog fits and every unrolled-Lloyd oracle are
    * bit-unchanged at gate scale; the rule only bites when the corpus
    * outgrows 16 × targetBucket. With nlist ∝ n, a flat Lloyd fit and a
    * flat nearest-of-nlist assignment are both O(n·nlist·dim) =
    * quadratic around n ≈ 10⁷ — remediated past [[TwoLevelMinNlist]] by
    * [[autoSampleDenom]] (bounds the FIT set) + [[ivfCentroidsHier]] /
    * [[twoLevelAssign]] (√nlist-routed fit and assignment), which
    * `Catalog.ivfIndex` switches to automatically. */
  def autoNlist(n: Long, targetBucket: Long = 256L): Int =
    math.max(16L, (n + targetBucket - 1) / targetBucket).toInt

  /** nlist above which `Catalog.ivfIndex` leaves the exact flat regime
    * (full-corpus Lloyd, flat nearest-of-nlist assignment — the form the
    * DuckDB oracles replay, `ivfFitCte`) for the SCALE regime
    * (hash-sampled hierarchical fit + two-level routing). With
    * autoNlist's 256-wide buckets this is n > 65 536 vectors — far above
    * every oracle-gated corpus (sf0.1 ≈ 2 000), so the switch can never
    * silently flip a CORRECTNESS key; past it the unrolled SQL replay is
    * impractical anyway and verification hands off to the planted-replica
    * specs + the Stress fit ladder. */
  val TwoLevelMinNlist: Int = 256

  /** Deterministic fit-sample sizing, the companion of [[autoNlist]]:
    * fit the coarse quantizer on the 1/denom xxhash64 sample of vec_ids
    * with an EXPECTED fit set of max(65 536, perCentroid·nlist) — at
    * least `perCentroid` (default 64) training points per centroid, so
    * the sample stays statistically sound while the fit cost drops from
    * O(n·nlist·dim) to O(n·√nlist·dim) under the hierarchical fit
    * (denom saturates near perCentroid/targetBucket·... ≈ 4 once
    * perCentroid·nlist dominates the floor). Returns 1 (no sampling —
    * byte-identical fit, oracle-replayable) whenever the corpus is
    * within the floor, which covers every gate corpus. */
  def autoSampleDenom(n: Long, nlist: Int, perCentroid: Long = 64L): Int = {
    val target = math.max(1L << 16, perCentroid * nlist)
    math.max(1L, n / target).toInt
  }

  /** Hierarchical (two-level) IVF coarse fit — the 100-TB form of
    * [[ivfCentroids]]: k1 = ⌈√nlist⌉ SUPER-centroids are fitted first
    * (plain deterministic Lloyd on the fit sample), the sample is routed
    * to its nearest super once, and then ALL super-groups' sub-centroids
    * (k2 = ⌈nlist/k1⌉ each) are fitted in FUSED Lloyd iterations — one
    * distributed job per iteration where each point only evaluates its
    * own group's k2 candidates (the `pqCodebooks` trick keyed by group).
    * Per-iteration cost is O(fitN·(k1+k2)·dim) = O(fitN·√nlist·dim),
    * never O(fitN·nlist·dim); with [[autoSampleDenom]] bounding fitN the
    * whole fit is subquadratic in the corpus even with nlist ∝ n.
    *
    * Returns (supers, grouped): the k1×dim super matrix and the ragged
    * per-group sub-centroid lists whose in-order flattening
    * (`grouped.flatten`) is the flat centroid matrix serving code
    * consumes — global cluster id = group offset + local index, exactly
    * what [[twoLevelAssign]] emits. Determinism matches [[ivfCentroids]]:
    * vec_id-ordered inits, fixed-point `graft_vecsum` means, empty
    * clusters keep their previous centroid; only model-sized rows reach
    * the driver (k1·k2 init embeddings + per-iteration (group, local,
    * sum, count) rows — the codebook, not data). A super-group that
    * captures no fit point keeps its super centroid as a lone
    * sub-centroid so routing stays total. */
  def ivfCentroidsHier(embeddings: DataFrame, nlist: Int, iters: Int = 2,
                       sampleDenom: Int = 1): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    import org.apache.spark.sql.expressions.Window
    require(nlist >= 1, s"need nlist >= 1, got $nlist")
    val k1 = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val k2 = math.ceil(nlist.toDouble / k1).toInt
    // the training sample is scanned 2·iters+2 times (super fit, init,
    // sub iterations) — persist it once instead of re-reading the corpus
    // per pass; it is bounded by autoSampleDenom (≈ max(65 536,
    // 64·nlist) rows), the standard cache-the-training-set shape
    // the sampleDenom <= 1 arm projects a fresh plan (select *) rather
    // than persisting the caller's frame directly: Spark's cache is
    // canonicalized-plan-keyed, so persist/unpersist on the argument
    // itself could evict a cache entry some OTHER component holds on
    // the same plan — the projection confines the persist to this fit
    val fitSet =
      (if (sampleDenom <= 1) embeddings.select(col("*"))
       else embeddings.filter(pmod(xxhash64(col("vec_id")), lit(sampleDenom)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ivfCentroidsHierOn(fitSet, k1, k2, iters)
    } finally fitSet.unpersist(blocking = false)
  }

  private def ivfCentroidsHierOn(fitSet: DataFrame, k1: Int, k2: Int,
                                 iters: Int): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    import org.apache.spark.sql.expressions.Window
    val supers = ivfCentroids(fitSet, k1, iters)
    val routed = fitSet.withColumn("sup",
      GraftFunctions.nearestCentroid(col("embedding"), typedlit(supers)))
    // init: per group, the k2 smallest vec_ids routed to it (k1·k2 rows
    // to the driver — the codebook init, same budget class as the flat
    // fit's k-row init)
    val w = Window.partitionBy(col("sup")).orderBy(col("vec_id"))
    val initRows = routed
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k2)
      .select(col("sup"), col("rn"), col("embedding")).collect()
    // range over the supers ACTUALLY fitted, not k1: a fit set smaller
    // than k1 yields fewer supers (ivfCentroids' limit-k init), and
    // routing (nearestCentroid over `supers`) only ever emits ids in
    // supers.indices — a phantom (0 until k1) group would index past
    // the end in the empty-group fallback.
    var grouped: Seq[Seq[Seq[Double]]] = supers.indices.map { g =>
      val own = initRows.filter(_.getInt(0) == g).sortBy(_.getInt(1))
        .map(_.getSeq[Float](2).map(_.toDouble).toSeq).toSeq
      if (own.nonEmpty) own else Seq(supers(g)) // empty group: route to the super itself
    }
    val scale = graft.functions.VectorSumFixed.Scale.toDouble
    for (_ <- 1 to iters) {
      val sums = routed
        .withColumn("loc", GraftFunctions.nearestCentroid(col("embedding"),
          element_at(typedlit(grouped), col("sup") + 1)))
        .groupBy(col("sup"), col("loc"))
        .agg(GraftFunctions.vecSum(col("embedding")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = sums.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
      grouped = grouped.indices.map { g =>
        grouped(g).indices.map { c =>
          byKey.get((g, c)) match {
            case Some(row) =>
              val n = row.getLong(3).toDouble
              row.getSeq[Long](2).map(s => s.toDouble / scale / n).toSeq
            case None => grouped(g)(c) // empty sub-cluster keeps its previous centroid
          }
        }
      }
    }
    (supers, grouped)
  }

  /** Two-level cluster-assignment column over a hierarchical fit:
    * nearest super (k1 candidates) → nearest sub-centroid within that
    * group (≤ k2 candidates) → GLOBAL cluster id (group offset + local
    * index, matching `grouped.flatten`'s flat layout). O(√nlist·dim)
    * per row instead of the flat rule's O(nlist·dim) — the assignment
    * side of the two-level remediation; routing is approximate at group
    * boundaries exactly as in every two-level IVF (recall is measured,
    * not assumed: s_recall_report's convention). All three stages are
    * codegen kernels on a literal model — scan-side, no shuffle. */
  def twoLevelAssign(supers: Seq[Seq[Double]], grouped: Seq[Seq[Seq[Double]]],
                     vec: Column = col("embedding")): Column = {
    val offsets = grouped.scanLeft(0)(_ + _.length).init
    val sup = GraftFunctions.nearestCentroid(vec, typedlit(supers))
    val loc = GraftFunctions.nearestCentroid(vec, element_at(typedlit(grouped), sup + 1))
    element_at(typedlit(offsets), sup + 1) + loc
  }

  /** nlist above which the centroid MODEL itself is too big to ship as
    * a plan literal (nlist×dim doubles ride inside every serialized
    * task at ~0.5 KB/centroid for dim 64 — ≈ 32 MB of plan bytes here,
    * growing to ~200 MB at nlist ≈ 4·10⁵) and [[twoLevelAssignJoined]]
    * takes over from [[twoLevelAssign]]. Far above every test corpus
    * (autoNlist reaches it at n ≈ 1.6·10⁷ vectors); the two forms are
    * routing-identical (spec-proven), so the switch is pure plumbing. */
  val JoinedAssignMinNlist = 65536

  /** [[twoLevelAssign]] for centroid models too large to inline in the
    * plan: the √nlist supers still ship as a literal for the first
    * routing hop (always small — ~632 at nlist = 4·10⁵), but the
    * per-group sub-centroid lists arrive via a BROADCAST JOIN on the
    * super id — the model moves once per executor as a torrent-
    * broadcast relation instead of riding inside every serialized
    * task. Routing arithmetic is bit-identical to the literal form
    * (same kernels, same operands — the sub-list just comes from the
    * joined row instead of an element_at on a literal). Returns the
    * input columns + `cluster` (a join needs a frame, not a column). */
  def twoLevelAssignJoined(embeddings: DataFrame, supers: Seq[Seq[Double]],
                           grouped: Seq[Seq[Seq[Double]]],
                           vec: Column = col("embedding")): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val offsets = grouped.scanLeft(0)(_ + _.length).init
    val model = grouped.zipWithIndex
      .map { case (subs, g) => (g, offsets(g), subs) }
      .toDF("__sup", "__offset", "__subs")
    embeddings
      .withColumn("__sup", GraftFunctions.nearestCentroid(vec, typedlit(supers)))
      .join(broadcast(model), Seq("__sup"))
      .withColumn("cluster",
        col("__offset") + GraftFunctions.nearestCentroid(vec, col("__subs")))
      .drop("__sup", "__offset", "__subs")
  }

  /** IVF coarse quantizer: k-means with deterministic init (embeddings
    * of the k smallest vec_ids) and fixed-point-exact centroid means, so
    * the index is identical across runs AND partitionings. Each Lloyd
    * iteration is ONE distributed job: assign (codegen
    * `graft_nearest_centroid`) + a map-side-combined `graft_vecsum`
    * aggregate that sums whole vectors per cluster — the shuffle carries
    * k rows of (cluster, sum-vector, count), never the corpus and never
    * a per-dimension explode. Only the k×dim centroid matrix reaches the
    * driver (that IS the model — collecting it is not a data loop).
    *
    * `sampleDenom`: fit on the deterministic 1/sampleDenom hash-sample of
    * vec_ids (`xxhash64(vec_id) % denom = 0`) — at corpus scale the
    * quantizer only needs a representative sample, so the fit cost is
    * decoupled from corpus size; assignment still covers every row. */
  def ivfCentroids(embeddings: DataFrame, k: Int = 16, iters: Int = 2,
                   sampleDenom: Int = 1): Seq[Seq[Double]] = {
    val fitSet =
      if (sampleDenom <= 1) embeddings
      else embeddings.filter(pmod(xxhash64(col("vec_id")), lit(sampleDenom)) === 0)
    var centroids: Seq[Seq[Double]] = fitSet.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val scale = graft.functions.VectorSumFixed.Scale.toDouble
    for (_ <- 1 to iters) {
      val sums = fitSet
        .withColumn("cluster", GraftFunctions.nearestCentroid(col("embedding"), typedlit(centroids)))
        .groupBy(col("cluster"))
        .agg(GraftFunctions.vecSum(col("embedding")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCluster = sums.map(r => r.getInt(0) -> r).toMap
      centroids = centroids.indices.map { c =>
        byCluster.get(c) match {
          case Some(row) =>
            val n = row.getLong(2).toDouble
            row.getSeq[Long](1).map(s => s.toDouble / scale / n).toSeq
          case None => centroids(c) // empty cluster keeps its previous centroid
        }
      }
    }
    centroids
  }

  /** IVF ANN over a PRE-FITTED index (centroids + cluster-assigned
    * corpus): probe the query's `nProbe` nearest lists, rank candidates
    * by exact cosine. The complement of [[annLshFromSignatures]]: IVF adapts to the
    * data distribution (clusters), LSH is data-independent. The fit
    * happens once (see `Catalog.ivfIndex`; one-off use fits in-plan:
    * [[ivfCentroids]], then a `graft_nearest_centroid` projection adds
    * `cluster`), exactly as a materialized signature table amortizes
    * LSH; ranking touches ~nProbe/nlist of the corpus.
    *
    * `pred` is [[annTopK]]'s pre-filter on the assigned-table scan
    * ("nearest within a language / license / date range"): it lands
    * before any cosine, so a selective filter prunes candidates at the
    * reader while the probe set still bounds the scan. A filter
    * correlated with cluster geometry can empty probed lists; raise
    * nProbe with filter selectivity. */
  def annIvfFromIndex(centroids: Seq[Seq[Double]], assigned: DataFrame,
                      queryVecId: Long = 0L, k: Int = 10, nProbe: Int = 2,
                      pred: Column = lit(true)): DataFrame = {
    val q = queryVector(assigned, queryVecId)
    topKByCosine(assigned.filter(col("cluster").isin(nearestLists(centroids, q, nProbe): _*) &&
        col("vec_id") =!= queryVecId && pred), q, k)
      .select(col("vec_id"), col("label"), col("cluster"), round(col("cos"), 4).as("cos_sim"))
  }

  /** BATCH IVF serving — the offline-inference shape: N queries
    * through the cached index in ONE plan. [[annTopKBatch]] is the
    * brute-force union-of-subplans baseline; this is the shape a
    * 100 TB batch job actually wants: the probe set for EVERY query is
    * computed scan-side against the literal centroid matrix
    * (`graft_nearest_centroids`, no driver round-trip per query), the
    * (query, cluster) probe frame broadcasts, and candidate generation
    * is ONE equi-join on the cluster id for all queries — the corpus
    * is scanned once regardless of |queries|, work ∝ Σ probed-list
    * sizes. Per-query top-k is a window over each query's ≤
    * nProbe-list candidates (bounded partitions), not a global sort.
    * Same serving semantics as [[annIvfFromIndex]] per query
    * (spec-proven equal). */
  def annIvfBatchFromIndex(centroids: Seq[Seq[Double]], assigned: DataFrame,
                           queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
                           k: Int = 10, nProbe: Int = 2): DataFrame = {
    val probes = assigned.filter(col("vec_id").isin(queryVecIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        explode(GraftFunctions.nearestCentroids(col("embedding"), typedlit(centroids),
          lit(nProbe))).as("cluster"))
    topKPerQuery(assigned
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", GraftFunctions.cosine(col("embedding"), col("q_embedding"))), "cos", k)
      .select(col("query_id"), col("vec_id"), col("label"), col("cluster"),
        round(col("cos"), 4).as("cos_sim"))
  }

  /** Product-quantization codebooks: an independent deterministic k-means
    * per contiguous dim/m-wide subspace (init = the subspace slices of
    * the k smallest vec_ids; fixed-point-exact means via `graft_vecsum`,
    * so the fit is bit-identical across runs and partitionings, like
    * [[ivfCentroids]]).
    *
    * All m subspace fits run FUSED: each Lloyd iteration is ONE
    * distributed job over a (vector × subspace) slice frame — assignment
    * picks each slice's codebook by subspace index, and the shuffle
    * carries m×k rows of (subspace, code, sum-vector, count). Only the
    * m×k×(dim/m) codebook tensor (= dim×k doubles) reaches the driver:
    * that IS the model. `sampleDenom` decouples fit cost from corpus
    * size exactly as in [[ivfCentroids]]. */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2,
                  dim: Int = 64, sampleDenom: Int = 1): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val fitSet =
      if (sampleDenom <= 1) embeddings
      else embeddings.filter(pmod(xxhash64(col("vec_id")), lit(sampleDenom)) === 0)
    val init = fitSet.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    var books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => init.toSeq.map(v => v.slice(j * sub, (j + 1) * sub).toSeq))
    val scale = graft.functions.VectorSumFixed.Scale.toDouble
    val slices = fitSet.select(posexplode(array((0 until m).map(j =>
      slice(col("embedding"), j * sub + 1, sub)): _*)).as(Seq("sub", "svec")))
    for (_ <- 1 to iters) {
      val sums = slices
        .withColumn("c", GraftFunctions.nearestCentroid(col("svec"),
          element_at(typedlit(books), col("sub") + 1)))
        .groupBy(col("sub"), col("c"))
        .agg(GraftFunctions.vecSum(col("svec")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = sums.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
      books = books.indices.map { j =>
        books(j).indices.map { c =>
          byKey.get((j, c)) match {
            case Some(row) =>
              val n = row.getLong(3).toDouble
              row.getSeq[Long](2).map(s => s.toDouble / scale / n).toSeq
            case None => books(j)(c) // empty code keeps its previous centroid
          }
        }
      }
    }
    books
  }

  /** Permutation-OPQ dimension allocation (Ge et al. 2013, "Optimized
    * Product Quantization", CVPR — the parametric/permutation variant,
    * a.k.a. eigenvalue allocation restricted to coordinate permutations):
    * PQ quantizes each subspace independently, so reconstruction error
    * concentrates in whichever subspace happens to carry the most
    * variance; re-ordering dimensions so every subspace receives a
    * BALANCED share of the variance spectrum reduces the worst
    * subspace's mse with zero serving-time cost (the permutation is a
    * free relabeling — ADC lookups are unchanged).
    *
    * Allocation: rank dimensions by variance (descending), then deal
    * them to the m subspaces in SERPENTINE order (1..m, m..1, …) — the
    * standard greedy-balance dealing, fully order-arithmetic.
    *
    * Determinism: the variance rank uses the exact integer score
    * n·Σ⟦S·x²⟧·S − (Σ⟦S·x⟧)² from the fixed-point first/second moment
    * aggregates (`graft_vecsum` / `graft_vecsum_sq` — ONE map-side-
    * combined pass, 2·dim longs to the driver: that IS the model), tie
    * broken by dimension index — bit-identical across runs,
    * partitionings, and engines (the DuckDB mirror replays the same
    * integer arithmetic in HUGEINT). Returns perm where `perm(p)` is
    * the source dimension feeding permuted position p. */
  def opqPermutation(embeddings: DataFrame, m: Int = 8, dim: Int = 64): Seq[Int] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val row = embeddings.agg(
      GraftFunctions.vecSum(col("embedding")).as("a"),
      GraftFunctions.vecSumSq(col("embedding")).as("b"),
      count(lit(1)).as("n")).collect()(0)
    val a = row.getSeq[Long](0)
    val b = row.getSeq[Long](1)
    val n = BigInt(row.getLong(2))
    val s = BigInt(graft.functions.VectorSumFixed.Scale)
    val score = (0 until dim).map(j => n * BigInt(b(j)) * s - BigInt(a(j)) * BigInt(a(j)))
    val order = (0 until dim).sortBy(j => (-score(j), j))
    val sub = dim / m
    val perm = new Array[Int](dim)
    for (r <- 0 until dim) {
      val round = r / m
      val posn = r % m
      val j = if (round % 2 == 0) posn else m - 1 - posn
      perm(j * sub + round) = order(r)
    }
    perm.toSeq
  }

  /** The permuted frame: embedding re-ordered by `perm` — dim literal
    * GetArrayItem projections (codegen, no HOF), so the permutation is
    * a zero-shuffle scan-side relabeling. */
  def opqPermute(embeddings: DataFrame, perm: Seq[Int]): DataFrame =
    embeddings.withColumn("embedding",
      array(perm.map(d => col("embedding").getItem(d)): _*))

  /** The OPQ delta card for [[pqErrorReport]]: per subspace, the plain
    * PQ fit's error next to the permutation-OPQ fit's error on the SAME
    * corpus — the "does rotating help" evidence s_pq_error's own
    * remediation note calls for, as a first-class measured artifact
    * (worst-subspace mse is the number to watch: permutation-OPQ exists
    * to pull it down toward the mean). Plan: two independent
    * scan-side error sweeps (each the s_pq_error plan) joined on the
    * m-row subspace id — broadcast, report-sized. */
  def opqErrorReport(embeddings: DataFrame, booksPq: Seq[Seq[Seq[Double]]],
                     perm: Seq[Int], booksOpq: Seq[Seq[Seq[Double]]]): DataFrame = {
    val pq = pqErrorReport(booksPq, embeddings)
      .select(col("sub"), col("n_vecs"),
        col("mse").as("mse_pq"), col("max_err").as("max_err_pq"))
    val opq = pqErrorReport(booksOpq, opqPermute(embeddings, perm))
      .select(col("sub"), col("mse").as("mse_opq"), col("max_err").as("max_err_opq"))
    pq.join(opq, "sub")
      .select(col("sub"), col("n_vecs"), col("mse_pq"), col("mse_opq"),
        col("max_err_pq"), col("max_err_opq"))
  }

  /** Serving under DELETES off a STALE index — the operational gap
    * between index refits that [[annIvfFromIndex]]'s pre-filter
    * form exists to close: vectors get tombstoned between refits
    * (takedowns, dedup removals), the fitted IVF lists still carry
    * them, and the serving path must (a) exclude them EXACTLY — the
    * tombstone predicate lands on the assigned-table SCAN, before any
    * cosine, so a deleted vector can never reach a top-k — and (b)
    * tell the operator what the stale lists cost in recall against the
    * exact top-k over LIVE vectors (the number that decides when
    * tombstone VOLUME, not just drift, should trigger the
    * AnnStream.refitSignal refit). Tombstone set = the deterministic
    * vec_id % 7 == 3 panel (~14% of the corpus — a heavy-delete
    * regime); the query panel is chosen live.
    *
    * Per query ([[recallCounts]] over one live exact panel and the
    * batch serve [[annIvfBatchFromIndex]] over the pre-filtered scan):
    * n_exact, n_served, n_hit, and n_leaked, a served-side count of
    * tombstoned hits (a LIVE assertion column — 0 by construction of
    * the pre-filter, and the oracle hash-checks it stays 0), recall as
    * the exact-integer half-away quotient. */
  def annTombstoneReport(embeddings: DataFrame, centroids: Seq[Seq[Double]],
                         assigned: DataFrame,
                         queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 4L, 5L),
                         k: Int = 10, nProbe: Int = 2): DataFrame = {
    queryVecIds.foreach(id => require(id % UniformTombMod != UniformTombRem,
      s"query $id is tombstoned — pick a live query"))
    val exact = annTopKBatch(embeddings.filter(uniformLive), queryVecIds, k)
    val served = annIvfBatchFromIndex(centroids, assigned.filter(uniformLive),
        queryVecIds, k, nProbe)
      .withColumn("n_leaked", when(!uniformLive, lit(1L)).otherwise(lit(0L)))
    recallCounts(exact, Seq("ivf" -> served), Seq("n_leaked"))
      .select(col("query_id"), col("n_exact"), col("n_served"), col("n_hit"),
        col("n_leaked"), recall)
  }

  /** The refit card's delete regime: a LIST-LEVEL takedown — every
    * vector ASSIGNED (by the stale index) to a cluster ≡ 1 (mod
    * [[TakedownMod]]) is tombstoned (4 of 16 lists ≈ 25% of the
    * corpus), modeling a semantic purge: moderation/dedup sweeps
    * operate on semantic CLUSTERS ("this spam campaign", "this
    * licensed-content group" — the SemDeDup removal unit), so real
    * purges hollow out whole inverted lists. Deliberately NOT the
    * uniform vec_id % 7 panel `s_ann_tombstone` uses, and not a
    * label/halfspace predicate either — all three were measured
    * recall-neutral on this corpus (uniform deletes leave centroids
    * unchanged in expectation; labels mix at ~0.18 purity inside lists
    * and an isotropic cloud's Voronoi cells align with no extrinsic
    * predicate, so those deletes are uniform PER LIST too). Only a
    * delete set defined by the lists themselves is guaranteed
    * geometry-correlated: the purged lists go 100% ghost while their
    * centroids keep attracting probes — which is the regime where the
    * stale index genuinely lies and a live-only refit genuinely
    * recovers (measured: boundary-panel recall 0.46 → 0.65 at sf0.01,
    * 0.41 → 0.52 at sf0.1). */
  val TakedownMod: Int = 4

  /** Liveness under the list takedown — a predicate on the STALE
    * assignment (`cluster` = the stale index's list id). */
  def takedownLive: Column = col("cluster") % lit(TakedownMod) =!= lit(1)

  /** The UNIFORM tombstone panel (`s_ann_tombstone`'s delete regime):
    * vec_id ≡ [[UniformTombRem]] (mod [[UniformTombMod]]) — one named
    * predicate + constants so the tombstone card, the index-health
    * card and their SQL mirrors can never disagree on which rows are
    * deleted (the takedownLive convention). */
  val UniformTombMod: Int = 7
  val UniformTombRem: Int = 3
  def uniformLive: Column =
    col("vec_id") % lit(UniformTombMod.toLong) =!= lit(UniformTombRem.toLong)

  /** Index-REFIT recovery card — the loop-closer behind
    * [[annTombstoneReport]]: that card measures what serving off STALE
    * lists costs under deletes; this one proves what the recommended
    * refit (AnnStream.refitSignal's out-of-band rebuild — here the
    * live-only `Catalog.ivfIndexLive` fit, published in production via
    * Store's versioned swap) buys back. Delete regime: the list-level
    * [[takedownLive]] purge, not the tombstone card's uniform %7 panel
    * — see [[TakedownMod]]'s scaladoc for the measured why. Per arm
    * (`stale` = the full-corpus fit with the live pre-filter on the
    * scan; `refit` = the same serve off the live-only re-fit, which
    * carries no tombstones by construction), recall@k of the served
    * top-k against the live exact brute-force top-k, aggregated over
    * the query panel (the [[opqRecallReport]] output shape).
    *
    * The panel is PREDICATE-DEFINED — the `nQueries` smallest live
    * vec_ids whose SECOND-nearest stale centroid is a purged list (a
    * fixed id list can't stay on the takedown boundary across corpora;
    * the ≤ nQueries-row collect is the query-vector class, and it
    * brings the panel's vectors for the exact arm along). These are
    * the BOUNDARY queries — the ones the purge actually affected: their
    * second probe lands on a 100%-ghost list, so the stale arm serves
    * on half its probe budget (measured: stale recall is IDENTICAL at
    * nProbe 1 and 2 for this panel — the second probe buys nothing),
    * while the refit arm's redistributed lists make both probes land on
    * live mass. A random panel instead measures ~parity: most queries
    * sit far from the purge and lose nothing — which is itself a
    * finding the tombstone card already covers.
    *
    * Serving is the BATCH window form ([[annIvfBatchFromIndex]] over
    * the pre-filtered scan), counted by [[recallCounts]] against one
    * exact-arm batch, so the card costs 3 window passes, not
    * 2·|panel| chained subplans. Recall is the exact-integer half-away
    * quotient. */
  def annRefitReport(centsStale: Seq[Seq[Double]], assignedStale: DataFrame,
                     centsLive: Seq[Seq[Double]], assignedLive: DataFrame,
                     nQueries: Int = 10, k: Int = 10, nProbe: Int = 2): DataFrame = {
    val live = assignedStale.filter(takedownLive)
    val panel: Seq[(Long, Seq[Float])] = live
      .withColumn("n2", GraftFunctions.nearestCentroids(
        col("embedding"), typedlit(centsStale), lit(2)).getItem(1))
      .filter(col("n2") % lit(TakedownMod) === lit(1))
      .orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
    // degenerate corpus/delete layout with NO boundary queries: match
    // the mirror's graceful n_exact = 0 rows (the kernel emits no row for
    // an arm that serves no query)
    if (panel.isEmpty) {
      val spark = assignedStale.sparkSession
      import spark.implicits._
      return Seq(("stale", 0L, 0L, 0.0), ("refit", 0L, 0L, 0.0))
        .toDF("arm", "n_exact", "n_hit", "recall")
    }
    val ids = panel.map(_._1)
    armRecall("arm", recallCounts(topKBatch(live, panel, k), Seq(
      "stale" -> annIvfBatchFromIndex(centsStale, live, ids, k, nProbe),
      "refit" -> annIvfBatchFromIndex(centsLive, assignedLive, ids, k, nProbe))))
  }

  /** The deterministic RE-EMBEDDING wave fixture: every vec_id ≡ 2
    * (mod 5) re-embedded under a different model — the replacement is
    * the CYCLIC DIMENSION SHIFT of the v1 vector (exact in both
    * engines; an isometry, so within-v2 neighbor structure equals the
    * original, while cross-version cosines are ~random — the actual
    * shape of an embedding-model upgrade: internally coherent,
    * mutually incomparable spaces; negation would instead be a
    * reflection of the SAME space, turning anti-correlated v1 rows
    * into matches). Tagged version 2 over the v1 corpus; the shift is
    * dim literal projections (codegen), not a `transform` HOF. */
  def reembeddedEvents(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val v1 = embeddings.withColumn("version", lit(1))
    val v2 = embeddings.filter(col("vec_id") % lit(5L) === lit(2L))
      .withColumn("embedding",
        array((0 until dim).map(i => col("embedding").getItem((i + 1) % dim)): _*))
      .withColumn("version", lit(2))
    v1.unionByName(v2)
  }

  /** Serving through a PARTIAL re-embedding wave — the UPDATE leg of
    * index maintenance (inserts = the append-only code streams,
    * deletes = tombstone/volume/refit; a model upgrade REPLACES
    * vectors): the upsert is latest-version-per-key (the reference's
    * own Load/UPSERT argmax — `VehicleFeed.latest` on (vec_id,
    * version), ONE map-side-combined shuffle), and the serve is the
    * brute-force top-k over the upserted corpus with `version` in the
    * output. The card makes MIXED-VERSION CONTAMINATION visible,
    * which is the operational point: v1 and v2 scores are not
    * comparable (cross-version cosines are noise), yet a mid-wave
    * top-k ranks them together — measured on this corpus the v2
    * query's served list is in fact MOSTLY v1 noise rows crowding out
    * its true (v2) neighbors, precisely the failure an operator gates
    * on before serving through a wave. Spec: the upsert removed every
    * re-embedded id's stale v1 row; within-v2 structure is the
    * original (the shift is an isometry); and the serve itself is the
    * deterministic hash-checked artifact carrying `version` per hit so
    * contamination is countable. */
  def annReembedServe(events: DataFrame, queryVecId: Long = 2L,
                      k: Int = 10): DataFrame = {
    // the upsert is per key: the query's highest version among its own
    // events is its upserted vector, read in one filtered scan with no
    // corpus-wide shuffle
    val q = queryVector(events.filter(col("vec_id") === queryVecId)
      .orderBy(desc("version")).limit(1), queryVecId)
    topKByCosine(graft.etl.VehicleFeed.latest(events, "vec_id", Seq("version"))
      .filter(col("vec_id") =!= queryVecId), q, k)
      .select(col("vec_id"), col("label"), col("version"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
  }

  /** Per-LIST index-health card — the BATCH twin of
    * `AnnStream.volumeSignal` (same quotient, same threshold), keyed
    * and oracle-checked so the volume trigger arm has a driver-visible
    * CORRECTNESS artifact: per list, fit-time size, CURRENT live
    * count, live_frac as the exact-integer half-away quotient, and
    * `refit_recommended` (BIGINT 0/1) when live_frac < minLiveFrac.
    * The delete load is the UNION of the two documented regimes — the
    * uniform vec_id % 7 tombstone panel (s_ann_tombstone) and the
    * [[takedownLive]] list purge (s_ann_refit) — so the card exercises
    * both shapes at once: purged lists read 0.0 and flag, surviving
    * lists read ~6/7 and stay quiet. ONE conditional aggregate over
    * the assigned table (map-side partials, ≤ nlist rows out); the
    * stream≡batch differential against volumeSignal is spec-proven. */
  def indexHealthReport(assigned: DataFrame, minLiveFrac: Double = 0.5): DataFrame = {
    val liveRow = uniformLive && takedownLive
    assigned
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_fit"),
        coalesce(sum(when(liveRow, lit(1L))), lit(0L)).as("n_live"))
      .select(col("cluster"), col("n_fit"), col("n_live"),
        expr("CAST((20000 * n_live + n_fit) DIV (2 * n_fit) AS DOUBLE) / 10000.0")
          .as("live_frac"))
      .withColumn("refit_recommended",
        (col("live_frac") < lit(minLiveFrac)).cast("long"))
  }

  /** OPQ RECALL card — the decision variable [[opqErrorReport]]'s MSE
    * only proxies (Ge et al. 2013's claim is better NN search, not
    * just lower quantization error; a rollout gates on recall): per
    * arm (plain PQ vs permutation-OPQ), recall@k of the served top-k
    * against the exact brute-force top-k, aggregated over the query
    * panel. Both serving arms are the shipped serve ([[pqServe]], the
    * plan of [[annPqFromIndex]] / [[annOpqFromIndex]] off the
    * Catalog-cached indexes) over the whole panel, counted by
    * [[recallCounts]] against one exact panel. The panel's vectors are
    * collected once (the OPQ arm permutes them on the driver), and
    * each arm costs |panel| code-table rankings and one broadcast
    * rerank. Recall is a quotient of exact integer counts →
    * the exact-integer half-away idiom. */
  def opqRecallReport(embeddings: DataFrame,
                      booksPq: Seq[Seq[Seq[Double]]], codesPq: DataFrame,
                      perm: Seq[Int], booksOpq: Seq[Seq[Seq[Double]]],
                      codesOpq: DataFrame,
                      queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
                      k: Int = 10): DataFrame = {
    val queries = queryVectors(embeddings, queryVecIds)
    armRecall("arm", recallCounts(topKBatch(embeddings, queries, k), Seq(
      "pq" -> pqServe(booksPq, codesPq, embeddings, queries, k),
      "opq" -> pqServe(booksOpq, codesOpq, opqPermute(embeddings, perm),
        queries.map { case (id, v) => id -> perm.map(v) }, k))))
  }

  /** The PQ code table: every embedding compressed to m small ints
    * (scan-side codegen `graft_pq_encode` — the codebook tensor ships
    * with the plan). At 100 TB this is the point of PQ: the code table
    * is ~dim×4/m× smaller than the float corpus (64 floats → 8 bytes
    * here), small enough to keep hot and scan for every query. */
  def pqCodes(embeddings: DataFrame, books: Seq[Seq[Seq[Double]]]): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      GraftFunctions.pqEncode(col("embedding"), typedlit(books)).as("codes"))

  /** PQ ANN served off a pre-fitted index: rank the CODE table by ADC
    * approximate cosine (m lookup-table reads per row, codegen — the
    * float corpus is never scanned), then re-rank the top k×rerank
    * candidates by exact cosine with one broadcast join back to the
    * embeddings. `Catalog.pqIndex` pays fit and encode once per corpus;
    * one-off use fits in-plan ([[pqCodebooks]], then [[pqCodes]]). The
    * plan is [[pqServe]]'s over a one-query panel. */
  def annPqFromIndex(books: Seq[Seq[Seq[Double]]], codes: DataFrame,
                     embeddings: DataFrame, queryVecId: Long = 0L, k: Int = 10,
                     rerank: Int = 4): DataFrame =
    pqServe(books, codes, embeddings, queryVectors(embeddings, Seq(queryVecId)), k, rerank)
      .drop("query_id")

  /** PQ serving for a query panel in one plan, from the panel's
    * vectors on the driver ([[queryVectors]]): each query's ADC
    * dot-product table is built there and ships with the plan. Per
    * query, the code table is ranked by ADC into its top k×rerank
    * candidates (`TakeOrderedAndProject`: per-partition heaps merged in
    * one partition), tagged with the query's id and vector. The union
    * of the ≤ |panel|·k·rerank candidates broadcasts back to the
    * embeddings once, and one row_number window ([[topKPerQuery]])
    * keeps each query's top k by exact cosine. Output
    * `(query_id, vec_id, label, cos_sim)`. */
  private def pqServe(books: Seq[Seq[Seq[Double]]], codes: DataFrame,
                      embeddings: DataFrame, queries: Seq[(Long, Seq[Float])], k: Int,
                      rerank: Int = 4): DataFrame = {
    val m = books.length
    val kk = books.head.length
    val norm2Lut: Seq[Double] =
      for (j <- 0 until m; c <- 0 until kk) yield books(j)(c).map(v => v * v).sum
    val cand = queries.map { case (id, v) =>
      val qVec = v.map(_.toDouble)
      val qNorm = math.sqrt(qVec.map(x => x * x).sum)
      val sub = qVec.length / m
      val dotLut: Seq[Double] = for (j <- 0 until m; c <- 0 until kk) yield {
        val cent = books(j)(c)
        val d = (0 until sub).map(i => qVec(j * sub + i) * cent(i)).sum
        if (qNorm == 0.0) 0.0 else d / qNorm
      }
      codes.filter(col("vec_id") =!= id)
        .withColumn("adc",
          GraftFunctions.pqAdcCosine(col("codes"), typedlit(dotLut), typedlit(norm2Lut)))
        .orderBy(desc("adc"), asc("vec_id"))
        .limit(k * rerank)
        .select(lit(id).as("query_id"), col("vec_id"), typedlit(v).as("q_embedding"))
    }.reduce(_ unionByName _)
    topKPerQuery(embeddings.join(broadcast(cand), "vec_id")
      .withColumn("cos", GraftFunctions.cosine(col("embedding"), col("q_embedding"))), "cos", k)
      .select(col("query_id"), col("vec_id"), col("label"), round(col("cos"), 4).as("cos_sim"))
  }

  /** OPQ-permuted PQ ANN served off the Catalog-cached OPQ index — the
    * end-to-end proof that adopting the permutation costs the serve
    * NOTHING: the query vector is permuted once (driver-side, like the
    * query collect every single-query serve already does), then the
    * plan IS [[annPqFromIndex]] over the permuted frame — same ADC
    * LUTs, same code-table-only ranking, same exact-cosine rerank
    * (cosine is permutation-invariant; the rerank folds in the permuted
    * layout on both engines, and the ROUND(,4) output convention makes
    * the reassociation moot). */
  def annOpqFromIndex(perm: Seq[Int], books: Seq[Seq[Seq[Double]]], codes: DataFrame,
                      embeddings: DataFrame, queryVecId: Long = 0L,
                      k: Int = 10): DataFrame =
    annPqFromIndex(books, codes, opqPermute(embeddings, perm), queryVecId, k)

  // ---- IVF-PQ: coarse quantizer + product-quantized residuals ----

  /** Every embedding with its coarse cluster and coarse RESIDUAL
    * (embedding − assigned centroid) in place of the raw embedding —
    * both scan-side codegen kernels, so building this is one pass. */
  private def residualFrame(embeddings: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    embeddings
      .withColumn("cluster",
        GraftFunctions.nearestCentroid(col("embedding"), typedlit(cents)))
      .withColumn("embedding",
        GraftFunctions.vecResidual(col("embedding"), typedlit(cents), col("cluster")))

  /** PQ codebooks fit on coarse RESIDUALS (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search", §IV: residuals carry far
    * less energy than raw vectors, so the same code budget quantizes
    * them much more precisely). One codebook shared across lists — the
    * standard IVFADC layout. Deterministic for the same reasons as
    * [[pqCodebooks]] (which does the actual fitting, over the residual
    * frame). */
  def ivfPqCodebooks(embeddings: DataFrame, cents: Seq[Seq[Double]], m: Int = 8,
                     k: Int = 16, iters: Int = 2, dim: Int = 64,
                     sampleDenom: Int = 1): Seq[Seq[Seq[Double]]] =
    pqCodebooks(residualFrame(embeddings, cents), m, k, iters, dim, sampleDenom)

  /** The IVF-PQ code table: `(vec_id, label, cluster, codes)` — the
    * inverted-list id plus the m-byte residual code. At 100 TB this
    * table is bucketed/partitioned by `cluster`, so an nProbe query
    * scans only its probed lists' partitions. */
  def ivfPqCodes(embeddings: DataFrame, cents: Seq[Seq[Double]],
                 books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val r = residualFrame(embeddings, cents)
    r.select(col("vec_id"), col("label"), col("cluster"),
      GraftFunctions.pqEncode(col("embedding"), typedlit(books)).as("codes"))
  }

  /** IVF-PQ ANN served off a pre-fitted index: probe the query's
    * `nProbe` nearest coarse lists; within each list, rank codes by ADC
    * approximate cosine against PER-LIST lookup tables (x ≈ centroid_c
    * + residual codeword decomposes per subspace, so the centroid folds
    * straight into the LUTs and the existing `graft_pq_adc_cosine`
    * kernel serves unchanged); exact-cosine rerank of the top k×rerank.
    * The float corpus is touched only for the k×rerank rerank rows —
    * the serving scan is nProbe/nlist of an already m-byte-per-row
    * table. `Catalog.ivfPqIndex` pays both fits and the encode once;
    * one-off use fits in-plan ([[ivfCentroids]], [[ivfPqCodebooks]],
    * [[ivfPqCodes]]). */
  def annIvfPqFromIndex(cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
                        codes: DataFrame, embeddings: DataFrame,
                        queryVecId: Long = 0L, k: Int = 10, nProbe: Int = 4,
                        rerank: Int = 4): DataFrame = {
    val q = queryVector(embeddings, queryVecId)
    val qVec = q.map(_.toDouble)
    val qNorm = math.sqrt(qVec.map(v => v * v).sum)
    val m = books.length
    val kk = books.head.length
    val sub = qVec.length / m
    val adcBranches = nearestLists(cents, q, nProbe).map { c =>
      val cent = cents(c)
      val dotLut: Seq[Double] = for (j <- 0 until m; code <- 0 until kk) yield {
        val b = books(j)(code)
        val d = (0 until sub).map(i => qVec(j * sub + i) * (cent(j * sub + i) + b(i))).sum
        if (qNorm == 0.0) 0.0 else d / qNorm
      }
      val norm2Lut: Seq[Double] = for (j <- 0 until m; code <- 0 until kk) yield
        (0 until sub).map { i =>
          val x = cent(j * sub + i) + books(j)(code)(i); x * x
        }.sum
      codes.filter(col("cluster") === c && col("vec_id") =!= queryVecId)
        .withColumn("adc",
          GraftFunctions.pqAdcCosine(col("codes"), typedlit(dotLut), typedlit(norm2Lut)))
    }
    val cand = adcBranches.reduce(_ unionByName _)
      .orderBy(desc("adc"), asc("vec_id"))
      .limit(k * rerank)
      .select(col("vec_id"))
    topKByCosine(embeddings.join(broadcast(cand), "vec_id"), q, k)
      .select(col("vec_id"), col("label"), round(col("cos"), 4).as("cos_sim"))
  }

  /** Exact k-NN GRAPH construction (the all-vectors analog of
    * [[annTopK]]'s one-query ranking): for EVERY vector, its `k`
    * nearest neighbors by cosine within its `label` block. The k-NN
    * graph is the substrate for semantic clustering, density-based
    * curation (prototypes/outliers), and graph-walk dedup — a
    * first-class corpus artifact, not a per-query answer.
    *
    * This is the ORACLE form: a semantic blocking key makes the
    * neighbor set SQL-expressible, but it is O(bucket²) — the same
    * declared trade as `Dedup.embedNearDup`, confined to blocks. The
    * scale path is [[knnJoinCanopyFromPairs]] over
    * [[canopyCandidatePairs]]: same top-k contract, candidates from the
    * k-means canopy blocker instead of exhaustive blocks.
    * Ranking is on the ROUNDED cosine (what the row emits) with an
    * nbr_id tie-break — a total order both engines agree on; `+ 0.0`
    * kills IEEE −0.0 (same class as the annTopK fix). */
  def knnJoin(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"), col("embedding"))
    // bounded `graft_topk_pairs` heap instead of a row_number window:
    // the per-vector top-k truncates MAP-SIDE, so the only shuffle of
    // the O(Σ block²) pair frame is the label join itself (see
    // knnJoinCanopyFromPairs; result identical by the same ordering)
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", GraftFunctions.cosine(col("a.embedding"), col("b.embedding")))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        col("a.label").as("label"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(GraftFunctions.topkPairs(col("nbr_id"), col("cos_sim"), lit(k)).as("nn"))
      .select(col("vec_id"), col("label"), posexplode(col("nn")).as(Seq("off", "s")))
      .select(col("vec_id"), col("s.nbr_id").as("nbr_id"), col("label"),
        col("s.cos_sim").as("cos_sim"),
        (col("off") + 1).cast("int").as("knn_rank"))
  }

  /** The verified canopy candidate-pair frame SHARED by
    * [[knnJoinCanopyFromPairs]], [[hardNegativesFromPairs]] and
    * [[knnLabelAccuracyFromPairs]]: `(vec_id, label, nbr_id, nbr_label,
    * cos_sim)`. Candidates come from the k-means CANOPY blocker: every
    * vector is assigned to its `nAssign` nearest centroids scan-side
    * (`graft_nearest_centroids`; the `Dedup.embedNearDupClusters`
    * blocking), and each candidate sharing ≥ 1 canopy is verified with
    * exact cosine at report rounding. Candidate work is O(Σ bucket²),
    * bounded by sizing nlist ∝ corpus/target-bucket — never O(n²).
    * `Catalog.canopyPairs` materializes it once per session off the
    * Catalog-cached IVF fit — the stored kNN-graph candidate table a
    * 100 TB index maintenance run writes before its consumers fan out.
    *
    * Pair-dedup happens SCAN-SIDE: each row carries its tiny canopies
    * array, and a pair is emitted only from its LEAST shared canopy
    * (array_intersect/array_min of two nAssign-length arrays, codegen),
    * so candidate rows never leave their canopy partition and no
    * distinct pass exists. */
  def canopyCandidatePairs(embeddings: DataFrame, centroids: Seq[Seq[Double]],
                           nAssign: Int = 2): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("label"), col("embedding"),
        GraftFunctions.nearestCentroids(col("embedding"),
          typedlit(centroids), lit(nAssign)).as("canopies"))
      .select(col("vec_id"), col("label"), col("embedding"), col("canopies"),
        explode(col("canopies")).as("canopy"))
    e.as("a")
      .join(e.as("b"),
        col("a.canopy") === col("b.canopy") && col("a.vec_id") =!= col("b.vec_id"))
      .filter(col("a.canopy") ===
        array_min(array_intersect(col("a.canopies"), col("b.canopies"))))
      .withColumn("cos", GraftFunctions.cosine(col("a.embedding"), col("b.embedding")))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("nbr_id"), col("b.label").as("nbr_label"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
  }

  /** k-NN graph at scale over the canopy candidate pairs
    * ([[canopyCandidatePairs]]; the `s_knn_ivf` key reads
    * `Catalog.canopyPairs`): for every vector, its `k` nearest in-canopy
    * neighbors by rounded cosine, nbr_id tie-break. Vectors with fewer
    * than k in-canopy candidates emit fewer rows (the standard
    * approximate-kNN recall trade; raise nAssign to trade candidates for
    * recall). The per-vector top-k is the bounded `graft_topk_pairs`
    * heap aggregate, truncated MAP-SIDE — the final shuffle ships ≤ k
    * entries per (vec, partition) instead of every candidate row.
    * Oracle-checked end to end (the fit replays portably, `ivfFitCte`);
    * the spec additionally proves planted replicas are rank-1 neighbors
    * and agreement with [[knnJoin]] on high-cosine neighbors. */
  def knnJoinCanopyFromPairs(pairs: DataFrame, k: Int = 5): DataFrame =
    pairs
      .groupBy(col("vec_id"))
      .agg(GraftFunctions.topkPairs(col("nbr_id"), col("cos_sim"), lit(k)).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")).as(Seq("off", "s")))
      .select(col("vec_id"), col("s.nbr_id").as("nbr_id"),
        col("s.cos_sim").as("cos_sim"),
        (col("off") + 1).cast("int").as("knn_rank"))

  /** HARD-NEGATIVE triplet mining for embedding training (the
    * in-batch-negatives upgrade every contrastive recipe reaches for):
    * per anchor vector, its best same-label neighbor (the positive)
    * and its most-similar DIFFERENT-label neighbor (the hard negative
    * — geometrically close yet differently labeled, the examples that
    * actually move a contrastive loss; random negatives are too easy
    * to carry gradient). Output: (vec_id, label, pos_id, pos_cos,
    * neg_id, neg_cos); anchors missing either arm in their canopies
    * drop (both arms are required to form a triplet).
    *
    * Candidates come from the k-means canopy blocker
    * ([[canopyCandidatePairs]] — Catalog-cached, over the IVF fit
    * shared with s_ann_ivf/s_knn_ivf) — which is exactly the
    * right candidate set semantically: a hard negative is by
    * definition inside the anchor's geometric neighborhood, so canopy
    * blocking is not an approximation trade here, it IS the
    * definition. O(Σ bucket²) work bounded by nlist sizing, exact
    * cosine verify; BOTH arms come from ONE conditional
    * `graft_topk_pairs` aggregate — the heap skips the other arm's
    * rows via the when()-null inputs, so the candidate frame is
    * aggregated once, map-side-truncated, with no distinct, no window
    * sort, no pos⋈neg arm join. Oracle-checked off the
    * portable fit CTE; spec plants cross-label near-duplicates and
    * asserts they are mined as the negatives. */
  def hardNegativesFromPairs(pairs: DataFrame): DataFrame = {
    val same = col("label") === col("nbr_label")
    pairs
      .groupBy(col("vec_id"), col("label"))
      .agg(
        GraftFunctions.topkPairs(when(same, col("nbr_id")),
          when(same, col("cos_sim")), lit(1)).as("pos"),
        GraftFunctions.topkPairs(when(!same, col("nbr_id")),
          when(!same, col("cos_sim")), lit(1)).as("neg"))
      .filter(size(col("pos")) === 1 && size(col("neg")) === 1)
      .select(col("vec_id"), col("label"),
        col("pos").getItem(0).getField("nbr_id").as("pos_id"),
        col("pos").getItem(0).getField("cos_sim").as("pos_cos"),
        col("neg").getItem(0).getField("nbr_id").as("neg_id"),
        col("neg").getItem(0).getField("cos_sim").as("neg_cos"))
  }

  /** Embedding-cohesion report per label — the embedding-quality
    * governance artifact (is each class/source a tight cluster or a
    * smear? a label whose cohesion drops after a re-embed run signals
    * model drift; min_cos names the worst outlier's similarity): per
    * label, member count, mean cosine-to-centroid and the minimum.
    *
    * Centroid = the label's fixed-point SUM vector (`graft_vecsum`, the
    * order-independent aggregate the IVF fit and the medoid policy
    * use — cosine is scale-invariant, so the unnormalized sum IS the
    * mean direction, no division, no float-order nondeterminism). Plan:
    * one vecsum aggregate to #labels rows, broadcast back, cosine
    * scan-side, one final aggregate — two label-keyed shuffles, linear.
    * Oracle-checked: the fixed-point rounding IS portably expressible —
    * DuckDB's exact floor(x)+[frac≥0.5] reproduces Java Math.round, the
    * dim-ordered FLOAT list reproduces the array<bigint>→array<float>
    * cast (see the oracle); plus spec coverage against a JVM reference
    * and on planted identical-member labels. */
  def centroidReport(embeddings: DataFrame): DataFrame = {
    val sums = embeddings.groupBy(col("label"))
      .agg(GraftFunctions.vecSum(col("embedding")).as("gsum"))
    // raw double cosines until the SINGLE final round — an intermediate
    // round(,6) manufactures 4th-decimal ties where Spark (shortest-
    // string BigDecimal) and DuckDB (exact binary) disagree
    embeddings.join(broadcast(sums), Seq("label"))
      .withColumn("c",
        GraftFunctions.cosine(col("embedding"), col("gsum").cast("array<float>")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (round(sum(col("c").cast("decimal(28,10)")).cast("double") / count(lit(1)), 4)
          + lit(0.0)).as("cohesion"),
        (round(min(col("c")), 4) + lit(0.0)).as("min_cos"))
  }

  /** K-means clustering report — the semantic-clustering governance
    * artifact off the SAME deterministic Lloyd fit the IVF family uses
    * (one fit per (session, dir) via `Catalog.ivfIndex`; this key adds
    * zero fit cost): per cluster, member count, label diversity, the
    * majority label and its purity. This is how a curation run reads
    * its clusters — a low-purity cluster means the embedding space
    * mixes concepts there (SemDeDup-style pruning inside it is risky);
    * a tiny singleton cluster names outliers worth inspecting.
    *
    * Input contract: a cluster-assigned frame (vec_id, label, cluster)
    * — the `Catalog.ivfIndex` assignment. Majority tie-break: (count
    * desc, label asc) — a total order, deterministic on both engines.
    * Plan: one (cluster, label) count aggregate (map-side combined),
    * then the per-cluster window passes over ≤ k×|labels| rows — the
    * tiny-aggregate window form, data never re-shuffles.
    * Oracle-checked: the deterministic Lloyd fit unrolls into portable
    * SQL (`ivfFitCte` — strict-< argmin assignment, Math.round
    * fixed-point sums, sum/1e9/n division, COALESCE for empty
    * clusters); spec additionally verifies planted well-separated
    * clusters (purity 1 recovery) and a JVM reference. */
  def kmeansReport(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy(col("cluster"))
    val top = byCluster.orderBy(col("n").desc, col("label").asc)
    assigned
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(top))
      .withColumn("n_vecs", sum(col("n")).over(byCluster))
      .withColumn("n_labels", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("n_vecs"), col("n_labels"),
        col("label").as("top_label"), col("n").as("top_label_n"),
        (round(col("n") / col("n_vecs"), 4) + lit(0.0)).as("purity"))
  }

  /** Simplified-silhouette clustering quality (the centroid form of
    * Rousseeuw 1987, the standard at scale — pairwise silhouette is
    * O(n²), this is O(n·k)): per point, a = distance to its OWN
    * centroid (assignment IS the argmin, so a is the nearest-centroid
    * distance) and b = distance to the best OTHER centroid (the
    * second-nearest); s = (b−a)/max(a,b) ∈ [0,1] here (a ≤ b by
    * construction). Per cluster: mean and worst silhouette — the
    * go/no-go companion to [[kmeansReport]]'s purity: low mean_sil
    * says the cluster overlaps a neighbor (SemDeDup pruning inside it
    * is risky), min_sil ≈ 0 names boundary points.
    *
    * Runs off the SAME Catalog-cached deterministic Lloyd fit as the
    * whole IVF family (zero added fit cost). Plan: ONE scan-side
    * codegen pass (`graft_centroid_dist2s` — the [d²₁st, d²₂nd] pair
    * in one centroid sweep, never a per-centroid explode) + one 16-row
    * aggregate; scales exactly as assignment does.
    *
    * Engine-exact: the kernel folds each d² in index order (the
    * DuckDB mirror's `list_sum` is the same fold — proven by the
    * hash-green fit family), √ is IEEE-correctly-rounded everywhere,
    * per-point sil is raw double arithmetic, and the cluster mean is
    * the DECIMAL(28,10)-sum / ONE-division / ROUND(,4) convention. */
  def silhouetteReport(centroids: Seq[Seq[Double]], assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // silhouette needs a SECOND-nearest centroid to exist: with k = 1
    // the kernel's d²₂nd stays sentinel (sil → 1 vacuously) while the
    // SQL mirror's rn=2 pick is absent (sil → NULL) — reject the
    // degenerate config instead of diverging between engines
    require(centroids.length >= 2,
      s"silhouette is undefined for k=${centroids.length} (< 2 clusters)")
    val dd = GraftFunctions.centroidDist2s(col("embedding"), typedlit(centroids))
    assigned
      .select(col("cluster"), sqrt(dd.getItem(0)).as("a"), sqrt(dd.getItem(1)).as("b"))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        (round(sum(col("sil").cast(DecimalType(28, 10))).cast("double") / count(lit(1)), 4)
          + lit(0.0)).as("mean_sil"),
        (round(min(col("sil")), 4) + lit(0.0)).as("min_sil"))
  }

  /** PQ quantization-error report — the "is m×k enough" card a PQ
    * rollout needs BEFORE trusting ADC ranking at 100 TB (the
    * s_recall_report genre, but measuring the CODEBOOK itself rather
    * than one serving path): per subspace, the mean and worst squared
    * distance between a vector's slice and its nearest codeword (what
    * compression loses), off the SAME Catalog-cached PQ fit the
    * serving keys use. A subspace whose mse dwarfs the others is where
    * reconstruction error concentrates — re-slice, raise k, or OPQ-
    * rotate there; max_err names outlier vectors PQ serves worst.
    *
    * Plan: ONE scan-side codegen sweep (`graft_pq_errors` — the
    * [min_c d²] per subspace in one pass, the distance-value twin of
    * `graft_pq_encode`), a bounded m-wide posexplode, one m-row
    * aggregate. Error folds in index order (the DuckDB mirror's
    * list_sum is the same fold); mean is the DECIMAL(28,10) sum / ONE
    * division / ROUND(,6) convention, max is a ROUND(,6) of an exact
    * min-over-codes value. */
  def pqErrorReport(books: Seq[Seq[Seq[Double]]], embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    embeddings
      .select(posexplode(GraftFunctions.pqErrors(col("embedding"), typedlit(books)))
        .as(Seq("sub", "err")))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"),
        (round(sum(col("err").cast(DecimalType(28, 10))).cast("double") / count(lit(1)), 6)
          + lit(0.0)).as("mse"),
        (round(max(col("err")), 6) + lit(0.0)).as("max_err"))
  }

  /** PQ subquantizer-count CURVE — the tuning sweep behind
    * [[pqCodebooks]]' single m = 8 (the compression/accuracy dial a PQ
    * rollout owns: code size is m·log₂k bits per vector, and
    * reconstruction error falls as m grows because each subspace
    * quantizes fewer dimensions with the same k codewords — Jégou et
    * al. 2011 §IV trades these explicitly): per candidate m, the
    * per-vector total squared reconstruction error (comparable ACROSS
    * m — subspace errors sum to the whole-vector error), the worst
    * single-subspace cell, and the code size that m costs. An index
    * owner reads this once per corpus regime, picks the knee, then
    * pins m; the curve completes the tuning-sweep suite
    * (d_lsh_tuning / s_nprobe_curve / t_decontam_curve /
    * m_phash_curve / t_pack_curve / d_temp_curve / t_quality_curve)
    * for the quantization modality.
    *
    * Plan: one [[pqCodebooks]] fit + one codegen `graft_pq_errors`
    * scan per candidate (per-m passes are irreducible — the codebook
    * tensor CHANGES shape with m, the t_pack_curve class), each
    * collapsing to a 1-row aggregate before the union; fits come from
    * [[graft.core.Catalog.pqCurveBooks]] (built once per (session,
    * dir, m) — the fit-once contract every serving key follows).
    * mse is the DECIMAL(28,10) sum / exact integer n_vecs / ROUND(,6)
    * convention of [[pqErrorReport]]. */
  def pqCurve(embeddings: DataFrame,
              booksFor: Int => Seq[Seq[Seq[Double]]],
              ms: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    ms.map { m =>
      embeddings
        .select(posexplode(GraftFunctions.pqErrors(col("embedding"),
          typedlit(booksFor(m)))).as(Seq("sub", "err")))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("err").cast(DecimalType(28, 10))).as("errsum"),
          max(col("err")).as("errmax"))
        .select(lit(m).as("m"),
          expr(s"n_cells DIV $m").as("n_vecs"),
          lit(m * 4).as("bits_per_vec"),
          (round(col("errsum").cast("double") / expr(s"n_cells DIV $m"), 6)
            + lit(0.0)).as("mse"),
          (round(col("errmax"), 6) + lit(0.0)).as("max_sub_err"))
    }.reduce(_ unionByName _)
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998) — the retrieval re-ranker that trades relevance
    * against redundancy: greedily pick argmax of
    * λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s), so a near-duplicate
    * of an already-selected hit is deferred in favor of novel results
    * (the RAG-context / eval-set-construction standard).
    *
    * Plan: candidate generation is the distributed [[annTopK]] plan
    * (per-partition heaps, no global sort); the greedy loop then runs
    * on the collected nCandidates×dim candidate MODEL — the same
    * driver-scale object as the IVF centroids, never corpus data (the
    * top-k result reaching the driver is already annTopK's contract).
    * At 100 TB nothing changes: candidates stay O(k), the corpus work
    * is all in the candidate scan. Determinism: relevance and pairwise
    * sims are ROUND(,4) before scoring, then the greedy loop runs in
    * integer BASIS POINTS (see the bp note below) — the selection
    * order and every reported score are exact, engine- and
    * partitioning-stable. Oracle-checked: the fixed-k greedy loop
    * UNROLLS into five argmax CTEs replaying the same integer
    * arithmetic; spec adds dup-deferral, rank-1 = top relevance, and a
    * JVM differential. */
  def mmrDiversify(spark: SparkSession, embeddings: DataFrame,
                   queryVecId: Long = 0L, k: Int = 5, nCandidates: Int = 20,
                   lambda: Double = 0.5): DataFrame = {
    // Driver-model contract: the collect below is O(nCandidates·dim) MODEL
    // data, never corpus data — the cap keeps an oversized argument from
    // silently turning it into a data-row collect.
    require(nCandidates <= 1000, s"nCandidates=$nCandidates exceeds the driver-model cap (1000)")
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    def r4(x: Double): Double = math.rint(x * 10000) / 10000 + 0.0
    // Scoring runs in integer BASIS POINTS of the already-4-decimal
    // inputs (score×10⁵ = λ·10·relBp − (1−λ)·10·msBp for λ = 0.5):
    // `0.5·rel − 0.5·maxSim` on doubles lands on exact 5th-decimal
    // ties whenever (rel − maxSim)·10⁴ is odd, where half-even
    // (math.rint) and half-away (other engines) diverge — integer
    // arithmetic makes both the SELECTION ORDER and the reported score
    // exact and engine-portable (this is what lets the key carry a
    // DuckDB oracle).
    def bp(x: Double): Long = math.rint(x * 10000).toLong
    val cands = annTopK(embeddings, queryVecId, nCandidates)
      .join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("label"), col("cos_sim"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getSeq[Float](3)))
      .sortBy { case (id, _, rel, _) => (-rel, id) }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double, Seq[Float], Long, Long)]
    val remaining = scala.collection.mutable.ArrayBuffer.from(cands)
    while (selected.length < math.min(k, cands.length)) {
      val scored = remaining.map { case c @ (id, _, rel, vec) =>
        val msBp = if (selected.isEmpty) 0L
          else selected.map(s => bp(r4(cosine(vec, s._4)))).max
        (c, msBp, 5L * bp(rel) - 5L * msBp)
      }
      val best = scored.minBy { case ((id, _, _, _), _, scoreBp) => (-scoreBp, id) }
      selected += ((best._1._1, best._1._2, best._1._3, best._1._4, best._2, best._3))
      remaining -= best._1
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, label, rel, _, msBp, scoreBp), i) =>
      (i + 1, id, label, rel, msBp.toDouble / 10000.0 + 0.0, scoreBp.toDouble / 100000.0 + 0.0)
    }.toSeq.toDF("rank", "vec_id", "label", "relevance", "max_sim_selected", "mmr_score")
  }

  /** The recall kernel of the ANN recall cards: per (arm, query_id),
    * `n_exact` (the exact panel's list), `n_served` (the arm's list)
    * and `n_hit` (vectors on both), plus each column named in `counts`,
    * a per-row served-side count, summed. `exact` = (query_id, vec_id),
    * the card's one exact panel; `arms` = each serving arm's label and
    * its rows (query_id, vec_id, counts…), any other column ignored.
    * The exact rows, exploded over the arm labels, and the labelled
    * served rows are tagged and unioned, so the plan reads the exact
    * panel once and joins nothing; two aggregates then count them, per
    * (arm, query, vector) and per (arm, query). Both sides are top-k
    * lists (one row per vector, ≤ |arms|·|panel|·k rows in all), so one
    * partition holds them and no aggregate here or in [[armRecall]]
    * needs an exchange. */
  private def recallCounts(exact: DataFrame, arms: Seq[(Any, DataFrame)],
                           counts: Seq[String] = Nil): DataFrame = {
    require(arms.map(_._1).distinct.size == arms.size, "arm labels must be distinct")
    val exactRows = exact.select(Seq(explode(array(arms.map(a => lit(a._1)): _*)).as("arm"),
      col("query_id"), col("vec_id"), lit(1L).as("e"), lit(0L).as("s")) ++
      counts.map(lit(0L).as(_)): _*)
    val servedRows = arms.map { case (label, rows) =>
      rows.select(Seq(lit(label).as("arm"), col("query_id"), col("vec_id"),
        lit(0L).as("e"), lit(1L).as("s")) ++ counts.map(col): _*)
    }
    servedRows.foldLeft(exactRows)(_ unionByName _)
      .coalesce(1)
      .groupBy(col("arm"), col("query_id"), col("vec_id"))
      .agg(max(col("e")).as("e"), max(col("s")).as("s") +: counts.map(c => sum(col(c)).as(c)): _*)
      .groupBy(col("arm"), col("query_id"))
      .agg(sum(col("e")).as("n_exact"), sum(col("s")).as("n_served") +:
        sum(col("e") * col("s")).as("n_hit") +: counts.map(c => sum(col(c)).as(c)): _*)
  }

  /** Recall@k from the `n_hit` / `n_exact` counts: the exact-integer
    * half-away ROUND(, 4) quotient, 0.0 on an empty exact list. */
  private def recall: Column =
    (when(col("n_exact") === 0L, lit(0.0)).otherwise(
      expr("CAST((20000 * n_hit + n_exact) DIV (2 * n_exact) AS DOUBLE)") / lit(10000.0))
      + lit(0.0)).as("recall")

  /** [[recallCounts]] summed over the query panel: one row per arm,
    * the arm column named `armName`. */
  private def armRecall(armName: String, counts: DataFrame): DataFrame =
    counts.groupBy(col("arm"))
      .agg(sum(col("n_exact")).as("n_exact"), sum(col("n_hit")).as("n_hit"))
      .select(col("arm").as(armName), col("n_exact"), col("n_hit"), recall)

  /** ANN index quality report: recall@k of the IVF serving path against
    * the exact brute-force top-k, per query — the evaluation artifact
    * that justifies an index's nProbe/nlist settings before a corpus
    * rollout (the FAISS-benchmark convention). Both arms are the
    * existing plans ([[annTopKBatch]] exact, [[annIvfBatchFromIndex]]
    * approx off the Catalog-cached fit), counted by [[recallCounts]].
    * Oracle-checked off the portable fit CTE (both arms replayed per
    * query); spec proves recall = 1.0 when every list is probed and
    * bounds recall in [0,1] otherwise. */
  def recallReport(embeddings: DataFrame, centroids: Seq[Seq[Double]],
                   assigned: DataFrame, queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
                   k: Int = 10, nProbe: Int = 2): DataFrame =
    recallCounts(annTopKBatch(embeddings, queryVecIds, k),
      Seq("ivf" -> annIvfBatchFromIndex(centroids, assigned, queryVecIds, k, nProbe)))
      .select(col("query_id"), col("n_exact"), col("n_hit"), recall)

  /** nProbe TUNING curve — the calibration sweep behind
    * [[recallReport]]'s single setting: recall@k of the IVF serving
    * path at EACH candidate probe count, aggregated over the query
    * panel. This is the artifact that PICKS a deployment's nProbe (the
    * FAISS-benchmark recall-vs-probes curve): serving cost grows
    * ∝ nProbe/nlist of the corpus per query, so the knee of this curve
    * is the cheapest setting that clears the recall target. Run once
    * per index fit / embedding-model change, then pin.
    *
    * One exact panel serves every probe setting ([[recallCounts]]), so
    * adding a probe setting costs one cluster-bounded batch serve
    * ([[annIvfBatchFromIndex]]), never an extra corpus scan. Recall is
    * a quotient of exact integer counts → the exact-integer half-away
    * idiom. */
  def nprobeCurve(embeddings: DataFrame, centroids: Seq[Seq[Double]],
                  assigned: DataFrame,
                  queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
                  k: Int = 10, probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    armRecall("n_probe", recallCounts(annTopKBatch(embeddings, queryVecIds, k),
      probes.map(np => np -> annIvfBatchFromIndex(centroids, assigned, queryVecIds, k, np))))
  }

  /** MATRYOSHKA truncation-recall curve — the embedding-dimension
    * calibration card (Kusupati et al. 2022, Matryoshka Representation
    * Learning): recall@k of brute-force cosine top-k computed on the
    * FIRST `d` coordinates only, against the full-dimension exact
    * top-k, aggregated over the query panel — one row per candidate
    * prefix length. MRL-trained models pack coarse-to-fine structure
    * into prefixes precisely so serving can read a d/D fraction of
    * every vector (d/D of the IO + compute on a scan tier, a d-dim
    * index elsewhere); this card is the artifact that PICKS the prefix
    * — the knee of the curve is the cheapest d clearing the recall
    * target. On a non-MRL embedding table the curve doubles as the
    * honesty check: low-d recall collapses, the reading that says
    * "don't truncate this model". Run once per embedding-model change,
    * then pin (the s_nprobe_curve governance discipline).
    *
    * Plan: one exact panel ([[annTopKBatch]]'s plan) and, per prefix
    * length, the same plan body over the prefix-sliced frame (so any
    * tie-break/rounding fix to the serving operator reaches the
    * calibration card), counted by [[recallCounts]]. The panel's
    * vectors are collected once and each arm takes their first d
    * coordinates on the driver. The slice is scan-side: each arm is
    * one scan reading ONLY slice(embedding, 1, d) and one top-k window,
    * which shuffles ≤ k rows per query and partition. Recall is a
    * quotient of exact integer counts → the exact-integer half-away
    * ROUND(,4) idiom. At 100 TB
    * the truncated arms run over a stored prefix-column table (or the
    * d-dim IVF fit) instead of slicing the full vectors — the card's
    * arithmetic is unchanged. */
  def mrlRecallCurve(embeddings: DataFrame,
                     queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
                     k: Int = 10, dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val queries = queryVectors(embeddings, queryVecIds)
    armRecall("mrl_dim", recallCounts(topKBatch(embeddings, queries, k),
      dims.map(dm => dm -> topKBatch(embeddings.select(col("vec_id"), col("label"),
          slice(col("embedding"), 1, dm).as("embedding")),
        queries.map { case (id, v) => id -> v.take(dm) }, k))))
  }

  /** The scan-tier prefix projection `Store.saveMrlPrefix` materializes
    * — ONE definition for the stored column and the in-session
    * projection the `s_ann_mrl` key serves from, so the two can never
    * drift. */
  def mrlPrefixProjection(embeddings: DataFrame, shortDim: Int = 16): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      slice(col("embedding"), 1, shortDim).as("prefix"))

  /** Two-stage MRL serving — the operator [[mrlRecallCurve]] calibrates:
    * stage 1 shortlists `shortlist` candidates by prefix cosine over
    * `prefixed` (the [[mrlPrefixProjection]] of the corpus: in-plan for
    * the `s_ann_mrl` key, or the stored tier `Store.saveMrlPrefix`
    * writes, `shortDim` coordinates wide), stage 2 reranks the
    * shortlist by FULL-dimension exact cosine and emits the top-k (the
    * standard MRL funnel retrieval, adaptive-retrieval style). The
    * query's full vector ships as the literal for both stages:
    * `graft_cosine` folds over the shorter of its two arrays, so against
    * the prefix column it scores the query's first `prefix`-width floats,
    * whatever width the tier was written at.
    *
    * Over the stored tier the funnel's IO claim holds at the SCAN tier,
    * not just the index: stage 1 reads ONLY (vec_id, prefix) — a
    * full-vector column prunes nothing WITHIN the vector, so the prefix
    * must be its own stored column to cut bytes (~shortDim/D of the
    * vector IO; measured in SCALING.md) — and stage 2 reads full vectors
    * for the ≤ `shortlist` survivors only, via a broadcast id-join back
    * to the full table (co-bucketed by vec_id in the Store →
    * zero-exchange at scale). The stored slice carries the same floats
    * the in-plan slice holds, so both prefix sources give bit-identical
    * output (spec-proven).
    *
    * Both stages are TakeOrderedAndProject (per-partition heaps; stage 2
    * sorts ≤ shortlist rows), no shuffle. Output carries both cosines so
    * the gap between shortlist rank and true rank stays visible per hit.
    * Degenerate settings recover [[annTopK]] exactly (shortlist ≥
    * corpus, or a full-dimension prefix) — spec-proven. */
  def annMrlServeFromPrefix(prefixed: DataFrame, embeddings: DataFrame,
                            queryVecId: Long = 0L, k: Int = 10,
                            shortlist: Int = 50): DataFrame = {
    val q = queryVector(embeddings, queryVecId)
    val short = topKByCosine(prefixed.filter(col("vec_id") =!= queryVecId),
        q, shortlist, col("prefix"), "cos_s")
      .select(col("vec_id"), col("cos_s"))
    topKByCosine(embeddings.join(broadcast(short), Seq("vec_id")), q, k)
      .select(col("vec_id"), col("label"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"),
        (round(col("cos_s"), 4) + lit(0.0)).as("cos_short"))
  }

  /** Route each vector to its prefix-fitted IVF list: `cluster` = the
    * nearest of `centroids` (fitted on the first `shortDim` coordinates)
    * by those coordinates alone, while the row keeps its FULL vector,
    * which the serve's full-dimension rerank requires. The one
    * assignment projection of the `s_ann_mrl_ivf` index: the batch fit
    * (`Catalog.ivfIndexMrl`, inline-centroid regime) and streamed
    * maintenance (arriving vectors appended to the assigned table) both
    * call it — one code path, two execution modes. Stateless, so a
    * stream appends; models refit out-of-band. Scale note: past
    * [[JoinedAssignMinNlist]] lists the centroid model is too big to
    * inline as a plan literal — route the stream through the
    * broadcast-joined assignment form there (the `twoLevelAssignJoined`
    * regime), same routing semantics. */
  def mrlAssign(embeddings: DataFrame, centroids: Seq[Seq[Double]],
                shortDim: Int = 16): DataFrame =
    embeddings.withColumn("cluster",
      GraftFunctions.nearestCentroid(slice(col("embedding"), 1, shortDim), typedlit(centroids)))

  /** Two-stage MRL funnel served off an IVF index FITTED IN PREFIX
    * SPACE ([[graft.core.Catalog.ivfIndexMrl]]) — the 100 TB form of
    * [[annMrlServeFromPrefix]], where the cost saving reaches the INDEX, not just
    * a scan tier: lists are built and probed on the first `shortDim`
    * coordinates (shortDim/D of the fit IO and the probe math),
    * candidates inside the nProbe probed lists are shortlisted by
    * prefix cosine, and only the ≤ `shortlist` survivors are reranked
    * by FULL-dimension cosine. The assigned table carries full vectors
    * (the rerank never re-joins at serve time); `s_mrl_recall` is the
    * card that picks `shortDim` before this index is built. Probes are
    * [[nearestLists]] of the query's prefix; both serving stages are
    * TakeOrderedAndProject over the pruned lists — work ∝ probed-list
    * sizes, never corpus. */
  def annMrlIvfFromIndex(centroids: Seq[Seq[Double]], assigned: DataFrame,
                         queryVecId: Long = 0L, k: Int = 10, shortDim: Int = 16,
                         shortlist: Int = 50, nProbe: Int = 2): DataFrame = {
    val q = queryVector(assigned, queryVecId)
    val qt = q.take(shortDim)
    val short = topKByCosine(assigned.filter(col("cluster").isin(
        nearestLists(centroids, qt, nProbe): _*) && col("vec_id") =!= queryVecId),
      qt, shortlist, slice(col("embedding"), 1, shortDim), "cos_s")
    topKByCosine(short, q, k)
      .select(col("vec_id"), col("label"), col("cluster"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"),
        (round(col("cos_s"), 4) + lit(0.0)).as("cos_short"))
  }

  /** Embedding drift monitor: per label, the cosine between the
    * centroids of two corpus partitions (A = even vec_id, B = odd — the
    * stand-in for "last ingest" vs "this ingest"; production passes any
    * partition predicate). A label whose half-centroids diverge
    * (drift_cos ≪ 1) moved in embedding space between batches — the
    * signal that cached ANN thresholds, IVF fits, and SemDeDup τ need
    * re-validation. Complements [[centroidReport]] (within-snapshot
    * cohesion) with the across-snapshot comparison.
    *
    * Two fixed-point vecsum aggregates (map-side partials, k rows
    * each — deterministic under any partitioning), joined on label (≤
    * #labels rows), cosine between the sum vectors (scale-invariant: no
    * division by counts needed). Oracle-checked via the same exact
    * fixed-point DuckDB mirror as centroidReport; spec: planted
    * identical halves → drift 1.0, orthogonal halves → 0.0, plus a JVM
    * differential. */
  def centroidDrift(embeddings: DataFrame): DataFrame = {
    def half(even: Boolean) = {
      val side = if (even) col("vec_id") % 2 === 0 else col("vec_id") % 2 =!= 0
      embeddings.filter(side).groupBy(col("label"))
        .agg(GraftFunctions.vecSum(col("embedding")).as(if (even) "sum_a" else "sum_b"),
          count(lit(1)).as(if (even) "n_a" else "n_b"))
    }
    // both sides are ≤ #labels aggregate rows — broadcast explicitly so
    // the plan never degrades to a sort-merge join on unknown sizes
    half(even = true).join(broadcast(half(even = false)), Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        (round(GraftFunctions.cosine(col("sum_a").cast("array<float>"),
          col("sum_b").cast("array<float>")), 4) + lit(0.0)).as("drift_cos"))
  }

  /** Embedding-norm quality report: per label, vector count,
    * zero/degenerate-norm count, and p50/p90 of the L2 norm — the
    * data-quality audit an embedding table gets before any cosine-based
    * operator trusts it (a zero-norm vector silently scores 0 against
    * everything; a norm-distribution shift between embedding-model
    * versions invalidates every cached threshold). Norms are computed
    * scan-side by the codegen `graft_vec_norm` kernel and ROUND(,4)
    * BEFORE aggregation so both engines interpolate percentiles over
    * identical values; one #labels-row aggregate (the
    * t_length_quantiles shape — exact percentile buffers one label's
    * norms per group, swap approx_percentile if labels ever outgrow an
    * executor). */
  def normReport(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        (round(GraftFunctions.vecNorm(col("embedding")), 4) + lit(0.0)).as("norm_r"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("norm_r") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        (round(expr("percentile(norm_r, 0.5)"), 4) + lit(0.0)).as("p50_norm"),
        (round(expr("percentile(norm_r, 0.9)"), 4) + lit(0.0)).as("p90_norm"))

  /** The 100 TB mode of [[normReport]]: GK approx-percentile sketches
    * (fixed-size mergeable partials) replace the exact percentile,
    * whose buffer holds one LABEL's entire norm population per group.
    * Quantiles are actual data values (already ROUND(,4) scan-side) at
    * rank error ≤ N/accuracy; below `accuracy` observations per label
    * the sketch is exact (rank ⌈q·N⌉ — the d_dsir_threshold regime),
    * so the key is hash-checked against a DuckDB explicit-rank mirror
    * at test SF. */
  def normReportApprox(embeddings: DataFrame, accuracy: Int = 10000): DataFrame =
    embeddings
      .select(col("label"),
        (round(GraftFunctions.vecNorm(col("embedding")), 4) + lit(0.0)).as("norm_r"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("norm_r") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        (percentile_approx(col("norm_r"), lit(0.5), lit(accuracy)) + lit(0.0)).as("p50_norm"),
        (percentile_approx(col("norm_r"), lit(0.9), lit(accuracy)) + lit(0.0)).as("p90_norm"))

  /** Leave-one-out 1-NN label consistency off the canopy kNN graph —
    * the cheapest meaningful probe of embedding quality against the
    * label column (if nearest neighbors rarely share labels, the space
    * does not separate the classes and every SemDeDup/clustering
    * decision built on it is suspect; the classic kNN-probe eval).
    * Per label: member count, top-1-neighbor-same-label count,
    * accuracy ROUND(,4)+0.0. The kNN arm is the [[knnJoinCanopyFromPairs]]
    * top-1 over the canopy candidate-pair frame
    * ([[canopyCandidatePairs]], Catalog-cached over the shared fit),
    * where the anchor's label rides the pair frame; the neighbor's
    * label arrives by one key join against the (vec_id, label)
    * projection — key columns only, the embedding payload is not
    * re-read. Oracle-checked off the portable fit CTE; spec: planted
    * tight same-label clusters recover accuracy 1.0. */
  def knnLabelAccuracyFromPairs(pairs: DataFrame, embeddings: DataFrame): DataFrame = {
    val top1 = pairs
      .groupBy(col("vec_id"), col("label"))
      .agg(GraftFunctions.topkPairs(col("nbr_id"), col("cos_sim"), lit(1)).as("nn"))
      .filter(size(col("nn")) === 1)
      .select(col("vec_id"), col("label"),
        col("nn").getItem(0).getField("nbr_id").as("nbr_id"))
    top1
      .join(embeddings.select(col("vec_id").as("nbr_id"), col("label").as("nbr_label")),
        "nbr_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nbr_label") === col("label"), 1L).otherwise(0L)).as("n_same"))
      .select(col("label"), col("n_vecs"), col("n_same"),
        (round(col("n_same") / col("n_vecs"), 4) + lit(0.0)).as("accuracy"))
  }

  /** Per-DIMENSION embedding health report: mean, std, min, max for
    * every coordinate of the embedding space — the dead/collapsed-
    * dimension detector (a dimension with ~zero std carries no
    * information and inflates every distance; a mean far from 0 on a
    * supposedly-centered model flags a preprocessing bug). Sums go
    * through DECIMAL(28,10) (the t_bm25 free-double discipline —
    * order-free under any partitioning), ONE double division each,
    * std from the exact moments, everything ROUND(,4)+0.0.
    *
    * Plan: posexplode of the embedding column → one `dim`-keyed
    * aggregate with map-side partials — each task emits ≤ dim rows, so
    * the shuffle is dim × tasks regardless of corpus size. */
  def dimReport(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "vf")))
      .select(col("dim"), col("vf").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(28, 10))).as("s1"),
        sum((col("v") * col("v")).cast(DecimalType(28, 10))).as("s2"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .withColumn("mu", col("s1").cast("double") / col("n"))
      .withColumn("m2", col("s2").cast("double") / col("n"))
      .select(col("dim"), col("n"),
        (round(col("mu"), 4) + lit(0.0)).as("mean_v"),
        (round(sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0))), 4) + lit(0.0))
          .as("std_v"),
        (round(col("mn"), 4) + lit(0.0)).as("min_v"),
        (round(col("mx"), 4) + lit(0.0)).as("max_v"))
  }

  // ---- driver wiring ----

  /** s_ann_ivf serves off the Catalog-cached fitted index (fit once per
    * (session, dir), like the shared MinHash signature table). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_ann_topk" -> ((s, d) => annTopK(Tables(s, d).embeddings)),
    "s_ann_filtered" -> ((s, d) =>
      annTopK(Tables(s, d).embeddings, pred = col("label").isin(1, 3, 5))),
    "s_ann_batch" -> ((s, d) => annTopKBatch(Tables(s, d).embeddings)),
    "s_ann_lsh"  -> ((s, d) => annLshFromSignatures(withSignatures(Tables(s, d).embeddings))),
    "s_ann_ivf"  -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      annIvfFromIndex(cents, assigned)
    }),
    "s_ann_ivf_filtered" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      annIvfFromIndex(cents, assigned, pred = col("label").isin(1, 3, 5))
    }),
    "s_ann_ivf_batch" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      annIvfBatchFromIndex(cents, assigned)
    }),
    "s_ann_pq"   -> ((s, d) => {
      val (books, codes) = graft.core.Catalog.pqIndex(s, d)
      annPqFromIndex(books, codes, Tables(s, d).embeddings)
    }),
    "s_ann_ivfpq" -> ((s, d) => {
      val (cents, books, codes) = graft.core.Catalog.ivfPqIndex(s, d)
      annIvfPqFromIndex(cents, books, codes, Tables(s, d).embeddings)
    }),
    "s_knn_join" -> ((s, d) => knnJoin(Tables(s, d).embeddings)),
    // r17: the three canopy-kNN keys serve off the SHARED materialized
    // candidate-pair table (Catalog.canopyPairs) instead of re-mining
    // the identical canopy self-join per invocation
    "s_knn_ivf" -> ((s, d) =>
      knnJoinCanopyFromPairs(graft.core.Catalog.canopyPairs(s, d))),
    "s_hard_negatives" -> ((s, d) =>
      hardNegativesFromPairs(graft.core.Catalog.canopyPairs(s, d))),
    "s_centroid_report" -> ((s, d) => centroidReport(Tables(s, d).embeddings)),
    "s_kmeans" -> ((s, d) => {
      val (_, assigned) = graft.core.Catalog.ivfIndex(s, d)
      kmeansReport(assigned)
    }),
    "s_silhouette" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      silhouetteReport(cents, assigned)
    }),
    "s_pq_error" -> ((s, d) => {
      val (books, _) = graft.core.Catalog.pqIndex(s, d)
      pqErrorReport(books, Tables(s, d).embeddings)
    }),
    "s_pq_curve" -> ((s, d) =>
      pqCurve(Tables(s, d).embeddings, m => graft.core.Catalog.pqCurveBooks(s, d, m))),
    "s_opq_error" -> ((s, d) => {
      val (booksPq, _) = graft.core.Catalog.pqIndex(s, d)
      val (perm, booksOpq, _) = graft.core.Catalog.opqIndex(s, d)
      opqErrorReport(Tables(s, d).embeddings, booksPq, perm, booksOpq)
    }),
    "s_ann_opq" -> ((s, d) => {
      val (perm, books, codes) = graft.core.Catalog.opqIndex(s, d)
      annOpqFromIndex(perm, books, codes, Tables(s, d).embeddings)
    }),
    "s_ann_tombstone" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      annTombstoneReport(Tables(s, d).embeddings, cents, assigned)
    }),
    "s_ann_refit" -> ((s, d) => {
      val (cS, aS) = graft.core.Catalog.ivfIndex(s, d)
      val (cL, aL) = graft.core.Catalog.ivfIndexLive(s, d)
      annRefitReport(cS, aS, cL, aL)
    }),
    "s_index_health" -> ((s, d) =>
      indexHealthReport(graft.core.Catalog.ivfIndex(s, d)._2)),
    "s_ann_reembed" -> ((s, d) =>
      annReembedServe(reembeddedEvents(Tables(s, d).embeddings))),
    "s_opq_recall" -> ((s, d) => {
      val (booksPq, codesPq) = graft.core.Catalog.pqIndex(s, d)
      val (perm, booksOpq, codesOpq) = graft.core.Catalog.opqIndex(s, d)
      opqRecallReport(Tables(s, d).embeddings, booksPq, codesPq,
        perm, booksOpq, codesOpq)
    }),
    "s_mmr_diversify" -> ((s, d) => mmrDiversify(s, Tables(s, d).embeddings)),
    "s_recall_report" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      recallReport(Tables(s, d).embeddings, cents, assigned)
    }),
    "s_mrl_recall" -> ((s, d) => mrlRecallCurve(Tables(s, d).embeddings)),
    "s_ann_mrl" -> ((s, d) => {
      val emb = Tables(s, d).embeddings
      annMrlServeFromPrefix(mrlPrefixProjection(emb, 16), emb)
    }),
    "s_ann_mrl_ivf" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndexMrl(s, d)
      annMrlIvfFromIndex(cents, assigned)
    }),
    "s_nprobe_curve" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      nprobeCurve(Tables(s, d).embeddings, cents, assigned)
    }),
    "s_norm_report" -> ((s, d) => normReport(Tables(s, d).embeddings)),
    "s_norm_report_approx" -> ((s, d) => normReportApprox(Tables(s, d).embeddings)),
    "s_centroid_drift" -> ((s, d) => centroidDrift(Tables(s, d).embeddings)),
    "s_dim_report" -> ((s, d) => dimReport(Tables(s, d).embeddings)),
    "s_knn_accuracy" -> ((s, d) => knnLabelAccuracyFromPairs(
      graft.core.Catalog.canopyPairs(s, d), Tables(s, d).embeddings)))

  // ---- portable SQL reproduction of the IVF fit (oracle support) ----
  //
  // The deterministic Lloyd fit is two UNROLLABLE iterations of pure,
  // engine-independent arithmetic: init = embeddings of the k smallest
  // vec_ids, assignment = strict-< argmin of an index-order double
  // accumulation (ties → lowest index == ORDER BY d2, c), update = the
  // fixed-point vecsum (Java Math.round ≡ floor(x)+[frac≥0.5], the
  // s_centroid_report-proven idiom) with `sum/1e9/n` double division
  // and empty clusters keeping their previous centroid (COALESCE).
  // That moves the whole fit-dependent key family — s_kmeans, the IVF
  // serving paths, canopy kNN, hard negatives, recall, and the
  // semantic-dedup scale forms — from rows-only to hash-checked.
  // DuckDB's `list_sum(list_transform(...))` is the same sequential
  // index-order fold as the kernels' loops (proven by the hash-green
  // embedding-family oracles since d_embed_lsh / s_centroid_report).

  /** Squared-L2 between a FLOAT[] column expr and a DOUBLE[] centroid
    * expr — the `graft_nearest_centroid(s)` distance, index-order. */
  private[ops] def d2Sql(e: String, c: String): String =
    s"list_sum(list_transform(list_zip($e, $c), " +
      s"p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"

  /** `graft_cosine` between two FLOAT[] exprs (zero-norm → 0). */
  private[ops] def cosSql(a: String, b: String): String =
    s"(CASE WHEN sqrt(list_sum(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) = 0 THEN 0" +
      s" ELSE list_sum(list_transform(list_zip($a, $b)," +
      s" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) END)"

  /** One Lloyd iteration: assignment vs `prev` → `a$i`, fixed-point
    * per-(cluster, dim) sums → `c$i` (empty clusters keep `prev`).
    * `p` prefixes every CTE name and the source frame (`${p}eiv`) so
    * the refit mirror can replay a SECOND, independently-sourced fit
    * in the same statement; p = "" reproduces the legacy text exactly. */
  private def lloydIterSql(i: Int, prev: String, p: String = ""): String =
    s"""${p}a$i AS (SELECT vec_id, c AS cluster FROM (
       |    SELECT e.vec_id, $prev.c,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2Sql("e.embedding", prev + ".cent")} ASC, $prev.c ASC) AS rn
       |    FROM ${p}eiv e CROSS JOIN $prev) WHERE rn = 1),
       |${p}x$i AS (SELECT ${p}a$i.cluster, CAST(pos - 1 AS INT) AS dim,
       |    CAST(vf AS DOUBLE) * 1000000000 AS sc
       |  FROM (SELECT vec_id, unnest(embedding) AS vf,
       |          unnest(generate_series(1, len(embedding))) AS pos FROM ${p}eiv) u
       |  JOIN ${p}a$i USING (vec_id)),
       |${p}s$i AS (SELECT cluster, dim,
       |    SUM(CAST(floor(sc) AS BIGINT) + CASE WHEN sc - floor(sc) >= 0.5 THEN 1 ELSE 0 END) AS sv,
       |    COUNT(*) AS n
       |  FROM ${p}x$i GROUP BY 1, 2),
       |${p}c${i}n AS (SELECT cluster, list(CAST(sv AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE) ORDER BY dim) AS cent
       |  FROM ${p}s$i GROUP BY 1),
       |${p}c$i AS (SELECT $prev.c AS c, COALESCE(${p}c${i}n.cent, $prev.cent) AS cent
       |  FROM $prev LEFT JOIN ${p}c${i}n ON ${p}c${i}n.cluster = $prev.c)""".stripMargin

  /** CTE chain `embeddings → c2` (fitted centroids), `af` (final
    * cluster-assigned corpus — `Catalog.ivfIndex`'s second half) and
    * `can` (the nAssign=2 canopy assignment). The init LIMIT replays
    * [[autoNlist]] as SQL (GREATEST(16, CEIL(n/256)) — a scalar-subquery
    * LIMIT, DuckDB-legal), so the mirror tracks the Spark fit for ANY
    * corpus in the exact regime, not only ≤ 16×256 rows; the replay
    * contract ends at n = 65 536 ([[TwoLevelMinNlist]]), where
    * `Catalog.ivfIndex` switches to the sampled hierarchical fit the
    * unrolled SQL cannot (and at that row count practically could not)
    * follow — past it, fit verification is the planted-replica specs +
    * the Stress ladder. */
  private[ops] def ivfFitCte: String =
    // delegate to the parametrized generator (ONE source of truth for
    // the oracle-critical unrolled Lloyd text — the r13 review's
    // anti-desync rule) + the canopy CTE only this legacy chain needs
    ivfFitCteFor("") + "," + "\n" +
      s"""can AS (SELECT e.vec_id, e.label, e.embedding, c AS canopy FROM (
         |    SELECT e.vec_id, c2.c AS c,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2Sql("e.embedding", "c2.cent")} ASC, c2.c ASC) AS rn
         |    FROM eiv e CROSS JOIN c2) x
         |  JOIN eiv e USING (vec_id) WHERE rn <= 2)""".stripMargin

  /** [[ivfFitCte]] generalized for the refit mirror: `p` prefixes every
    * CTE name, `srcWhere` filters the source frame (the live-only fit),
    * and `mat = true` marks the MULTI-REFERENCED outputs (`${p}eiv`,
    * `${p}c2`, `${p}af`) as MATERIALIZED — the t_bpe_train precedent:
    * DuckDB inlines CTEs per reference, so ten serve chains over one
    * statement otherwise re-expand the whole Lloyd chain per probe/serve
    * (the s_opq_recall sf0.1 32-thread bad_alloc class). Materializing
    * just the three shared frames (corpus-, nlist- and corpus-sized)
    * collapses that to one fit per statement. No canopy CTE (the refit
    * mirror doesn't serve kNN). Values are independent of
    * materialization — same deterministic arithmetic, computed once. */
  private def ivfFitCteFor(p: String, src: String = "embeddings",
                           srcWhere: String = "",
                           mat: Boolean = false): String = {
    val m = if (mat) "MATERIALIZED " else ""
    s"""${p}eiv AS $m(SELECT vec_id, label, embedding FROM $src$srcWhere),
       |${p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
       |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cent
       |  FROM (SELECT vec_id, embedding FROM ${p}eiv ORDER BY vec_id
       |        LIMIT GREATEST(16, CAST(CEIL(CAST((SELECT COUNT(*) FROM ${p}eiv) AS DOUBLE) / 256) AS BIGINT)))),
       |${lloydIterSql(1, s"${p}c0", p)},
       |${lloydIterSql(2, s"${p}c1", p).replace(s"${p}c2 AS (", s"${p}c2 AS $m(")},
       |${p}af AS $m(SELECT e.vec_id, e.label, e.embedding, a.cluster FROM ${p}eiv e
       |  JOIN (SELECT vec_id, c AS cluster FROM (
       |    SELECT e.vec_id, ${p}c2.c,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2Sql("e.embedding", s"${p}c2.cent")} ASC, ${p}c2.c ASC) AS rn
       |    FROM ${p}eiv e CROSS JOIN ${p}c2) WHERE rn = 1) a USING (vec_id))""".stripMargin
  }

  /** Canopy candidate pairs with their rounded cosines (directed — both
    * (a,b) and (b,a)), the shared stage of the kNN-graph keys. */
  private def canopyCandCte: String =
    s"""cp AS (SELECT DISTINCT a.vec_id AS vec_id, a.label AS label,
       |    b.vec_id AS nbr_id, b.label AS nbr_label,
       |    ROUND(${cosSql("a.embedding", "b.embedding")}, 4) + 0.0 AS cos_sim
       |  FROM can a JOIN can b ON a.canopy = b.canopy AND a.vec_id != b.vec_id)""".stripMargin

  /** Query vector + brute-force exact top-10 for one query id (shared
    * by the recall report and the nProbe curve). */
  private def recallQexCte(qid: Int): String =
    s"""q$qid AS (SELECT embedding AS qe FROM eiv WHERE vec_id = $qid),
       |ex$qid AS (SELECT vec_id FROM (
       |    SELECT e.vec_id, ${cosSql("e.embedding", s"q$qid.qe")} AS cos
       |    FROM eiv e CROSS JOIN q$qid WHERE e.vec_id != $qid
       |    ORDER BY cos DESC, vec_id ASC LIMIT 10))""".stripMargin

  /** The IVF approx arm for one (nProbe, query) cell: probe the np
    * nearest lists, exact rank within them. `tag` disambiguates CTE
    * names across probe settings. */
  private def recallApproxCte(qid: Int, np: Int, tag: String): String =
    s"""pr$tag$qid AS (SELECT c FROM (
       |    SELECT c2.c, row_number() OVER (ORDER BY ${d2Sql(s"q$qid.qe", "c2.cent")} ASC, c2.c ASC) AS rn
       |    FROM c2 CROSS JOIN q$qid) WHERE rn <= $np),
       |ap$tag$qid AS (SELECT vec_id FROM (
       |    SELECT af.vec_id, ${cosSql("af.embedding", s"q$qid.qe")} AS cos
       |    FROM af CROSS JOIN q$qid
       |    WHERE af.cluster IN (SELECT c FROM pr$tag$qid) AND af.vec_id != $qid
       |    ORDER BY cos DESC, vec_id ASC LIMIT 10))""".stripMargin

  /** Per-query CTEs for the recall report: exact brute-force top-k +
    * the IVF serving arm at nProbe=2, both with (cos desc, id) order. */
  private def recallQueryCte(qid: Int): String =
    recallQexCte(qid) + ",\n" + recallApproxCte(qid, 2, "")

  /** Tombstone-serving CTEs for one query: exact top-k over LIVE
    * vectors (vec_id % 7 != 3) + the stale-index IVF arm with the same
    * live pre-filter (the annTombstoneReport mirror). The fit CTE is
    * the FULL-corpus ivfFitCte — stale lists by construction. */
  private def tombQueryCte(qid: Int): String =
    s"""tq$qid AS (SELECT embedding AS qe FROM eiv WHERE vec_id = $qid),
       |tex$qid AS (SELECT vec_id FROM (
       |    SELECT e.vec_id, ${cosSql("e.embedding", s"tq$qid.qe")} AS cos
       |    FROM eiv e CROSS JOIN tq$qid WHERE e.vec_id != $qid AND e.vec_id % $UniformTombMod != $UniformTombRem
       |    ORDER BY cos DESC, vec_id ASC LIMIT 10)),
       |tpr$qid AS (SELECT c FROM (
       |    SELECT c2.c, row_number() OVER (ORDER BY ${d2Sql(s"tq$qid.qe", "c2.cent")} ASC, c2.c ASC) AS rn
       |    FROM c2 CROSS JOIN tq$qid) WHERE rn <= 2),
       |tap$qid AS (SELECT vec_id FROM (
       |    SELECT af.vec_id, ${cosSql("af.embedding", s"tq$qid.qe")} AS cos
       |    FROM af CROSS JOIN tq$qid
       |    WHERE af.cluster IN (SELECT c FROM tpr$qid)
       |      AND af.vec_id != $qid AND af.vec_id % $UniformTombMod != $UniformTombRem
       |    ORDER BY cos DESC, vec_id ASC LIMIT 10))""".stripMargin

  /** Refit-mirror serving CTEs, batch window form (no per-qid
    * unrolling — the panel is predicate-defined): `pr2` ranks every
    * live vector's SECOND-nearest stale centroid, `pan` = the 10
    * smallest live vec_ids whose second probe is a purged list (the
    * boundary panel — see annRefitReport's scaladoc); `rex` = per-query
    * live exact top-k; one (probe-rank, serve-rank) window pair per arm
    * over the stale (`c2`/`lveiv`-restricted `af`) and live-refit
    * (`lvc2`/`lvaf`) fits. The refit serve has no takedown filter —
    * `lvaf` is live-only by construction (and its cluster ids are NEW
    * list ids, which the stale-defined predicate must never touch). */
  private def refitServeCtes: String =
    s"""pr2 AS (SELECT vec_id, c AS n2 FROM (
       |    SELECT e.vec_id, c2.c,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${d2Sql("e.embedding", "c2.cent")} ASC, c2.c ASC) AS rn
       |    FROM lveiv e CROSS JOIN c2) WHERE rn = 2),
       |pan AS (SELECT e.vec_id AS query_id, e.embedding AS qe
       |  FROM lveiv e JOIN pr2 ON pr2.vec_id = e.vec_id
       |  WHERE pr2.n2 % $TakedownMod = 1 ORDER BY e.vec_id LIMIT 10),
       |rex AS (SELECT query_id, vec_id FROM (
       |    SELECT x.query_id, x.vec_id,
       |      row_number() OVER (PARTITION BY x.query_id ORDER BY x.cos DESC, x.vec_id ASC) AS rn
       |    FROM (SELECT p.query_id, e.vec_id, ${cosSql("e.embedding", "p.qe")} AS cos
       |          FROM lveiv e CROSS JOIN pan p WHERE e.vec_id != p.query_id) x)
       |  WHERE rn <= 10),
       |spr AS (SELECT query_id, c FROM (
       |    SELECT p.query_id, c2.c,
       |      row_number() OVER (PARTITION BY p.query_id ORDER BY ${d2Sql("p.qe", "c2.cent")} ASC, c2.c ASC) AS rn
       |    FROM c2 CROSS JOIN pan p) WHERE rn <= 2),
       |ssv AS (SELECT query_id, vec_id FROM (
       |    SELECT x.query_id, x.vec_id,
       |      row_number() OVER (PARTITION BY x.query_id ORDER BY x.cos DESC, x.vec_id ASC) AS rn
       |    FROM (SELECT p.query_id, e.vec_id, ${cosSql("e.embedding", "p.qe")} AS cos
       |          FROM lveiv e JOIN af ON af.vec_id = e.vec_id
       |          JOIN spr ON af.cluster = spr.c
       |          JOIN pan p ON p.query_id = spr.query_id
       |          WHERE e.vec_id != p.query_id) x)
       |  WHERE rn <= 10),
       |lpr AS (SELECT query_id, c FROM (
       |    SELECT p.query_id, lvc2.c,
       |      row_number() OVER (PARTITION BY p.query_id ORDER BY ${d2Sql("p.qe", "lvc2.cent")} ASC, lvc2.c ASC) AS rn
       |    FROM lvc2 CROSS JOIN pan p) WHERE rn <= 2),
       |lsv AS (SELECT query_id, vec_id FROM (
       |    SELECT x.query_id, x.vec_id,
       |      row_number() OVER (PARTITION BY x.query_id ORDER BY x.cos DESC, x.vec_id ASC) AS rn
       |    FROM (SELECT p.query_id, lvaf.vec_id, ${cosSql("lvaf.embedding", "p.qe")} AS cos
       |          FROM lvaf JOIN lpr ON lvaf.cluster = lpr.c
       |          JOIN pan p ON p.query_id = lpr.query_id
       |          WHERE lvaf.vec_id != p.query_id) x)
       |  WHERE rn <= 10)""".stripMargin

  private def tombQuerySelect(qid: Int): String =
    s"""SELECT CAST($qid AS BIGINT) AS query_id,
       |  CAST((SELECT COUNT(*) FROM tex$qid) AS BIGINT) AS n_exact,
       |  CAST((SELECT COUNT(*) FROM tap$qid) AS BIGINT) AS n_served,
       |  CAST((SELECT COUNT(*) FROM tex$qid e JOIN tap$qid a ON e.vec_id = a.vec_id) AS BIGINT) AS n_hit,
       |  CAST((SELECT COUNT(*) FROM tap$qid WHERE vec_id % $UniformTombMod = $UniformTombRem) AS BIGINT) AS n_leaked,
       |  (CASE WHEN (SELECT COUNT(*) FROM tex$qid) = 0 THEN 0.0 ELSE
       |    CAST((20000 * (SELECT COUNT(*) FROM tex$qid e JOIN tap$qid a ON e.vec_id = a.vec_id)
       |          + (SELECT COUNT(*) FROM tex$qid)) //
       |         (2 * (SELECT COUNT(*) FROM tex$qid)) AS DOUBLE) / 10000.0 END) + 0.0 AS recall""".stripMargin

  private def recallQuerySelect(qid: Int): String =
    s"""SELECT CAST($qid AS BIGINT) AS query_id,
       |  CAST((SELECT COUNT(*) FROM ex$qid) AS BIGINT) AS n_exact,
       |  CAST((SELECT COUNT(*) FROM ex$qid e JOIN ap$qid a ON e.vec_id = a.vec_id) AS BIGINT) AS n_hit,
       |  ROUND(CAST((SELECT COUNT(*) FROM ex$qid e JOIN ap$qid a ON e.vec_id = a.vec_id) AS DOUBLE)
       |        / (SELECT COUNT(*) FROM ex$qid), 4) + 0.0 AS recall""".stripMargin

  /** The 8-plane hyperplane signature as portable SQL — the same
    * shortest-repr double-literal shipping as Dedup's embedLshOracle
    * (round-trips to the identical binary64), strict `> 0.0` bit test. */
  private def annLshSigExpr: String =
    hyperplanes(8, 64).zipWithIndex.map { case (p, i) =>
      val lit = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip(embedding, $lit), " +
        s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) > 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** One fused per-subspace Lloyd iteration of the PQ fit over the
    * `sl` slice frame (same portable arithmetic as `lloydIterSql`,
    * keyed by (sub, code)); iteration 3's `pa3` is the ENCODE step
    * (assignment against the final books — unreferenced fit CTEs are
    * pruned by the engine). */
  private def pqIterSql(i: Int, prev: String, p: String = ""): String =
    s"""${p}pa$i AS (SELECT vec_id, sub, c AS code FROM (
       |    SELECT sl.vec_id, sl.sub, $prev.c,
       |      row_number() OVER (PARTITION BY sl.vec_id, sl.sub
       |        ORDER BY ${d2Sql("sl.svec", prev + ".cent")} ASC, $prev.c ASC) AS rn
       |    FROM ${p}sl sl JOIN $prev ON $prev.sub = sl.sub) WHERE rn = 1),
       |${p}px$i AS (SELECT pa.sub, pa.code, CAST(pos AS INT) AS dim,
       |    CAST(vf AS DOUBLE) * 1000000000 AS sc
       |  FROM (SELECT vec_id, sub, unnest(svec) AS vf,
       |          unnest(generate_series(1, len(svec))) AS pos FROM ${p}sl) u
       |  JOIN ${p}pa$i pa USING (vec_id, sub)),
       |${p}ps$i AS (SELECT sub, code, dim,
       |    SUM(CAST(floor(sc) AS BIGINT) + CASE WHEN sc - floor(sc) >= 0.5 THEN 1 ELSE 0 END) AS sv,
       |    COUNT(*) AS n
       |  FROM ${p}px$i GROUP BY 1, 2, 3),
       |${p}pb${i}n AS (SELECT sub, code, list(CAST(sv AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE) ORDER BY dim) AS cent
       |  FROM ${p}ps$i GROUP BY 1, 2),
       |${p}pb$i AS (SELECT $prev.sub, $prev.c, COALESCE(nb.cent, $prev.cent) AS cent
       |  FROM $prev LEFT JOIN ${p}pb${i}n nb ON nb.sub = $prev.sub AND nb.code = $prev.c)""".stripMargin

  /** PQ codebook fit + encode over `frame` (vec_id, embedding — raw
    * vectors for s_ann_pq, coarse residuals for s_ann_ivfpq): m=8
    * subspaces of 8 dims, k=16 codes, 2 iterations, init = the slices
    * of the 16 smallest vec_ids — `pqCodebooks` replayed portably. */
  /** The permutation-OPQ model as portable SQL over `eiv`: exact
    * integer variance scores from the kernels' fixed-point moments
    * (floor+carry rounding = Java Math.round), HUGEINT rank arithmetic,
    * serpentine dealing as pure rank arithmetic, and the permuted
    * frame `pm` as an ordered list() rebuild — shared by the
    * s_opq_error and s_ann_opq mirrors. */
  private def opqPermCte: String = opqPermCteOpt(mat = false)

  /** `mat = true` materializes the permuted frame `pm` (referenced by
    * the OPQ fit AND every OPQ serve chain — same recipe as
    * [[pqFitCte]]'s mat flag). */
  private def opqPermCteOpt(mat: Boolean): String =
    (if (mat) opqPermCteBody.replace("pm AS (", "pm AS MATERIALIZED (")
     else opqPermCteBody)

  private def opqPermCteBody: String =
    """vs AS (SELECT CAST(pos AS INT) - 1 AS dim,
      |    SUM(CAST(floor(sa) AS BIGINT) + CASE WHEN sa - floor(sa) >= 0.5 THEN 1 ELSE 0 END) AS a,
      |    SUM(CAST(floor(sb) AS BIGINT) + CASE WHEN sb - floor(sb) >= 0.5 THEN 1 ELSE 0 END) AS b,
      |    COUNT(*) AS n
      |  FROM (SELECT pos, CAST(vf AS DOUBLE) * 1000000000 AS sa,
      |          CAST(vf AS DOUBLE) * CAST(vf AS DOUBLE) * 1000000000 AS sb
      |        FROM (SELECT unnest(embedding) AS vf,
      |                unnest(generate_series(1, len(embedding))) AS pos FROM eiv) u0) u
      |  GROUP BY 1),
      |rk AS (SELECT dim,
      |    row_number() OVER (ORDER BY
      |      CAST(n AS HUGEINT) * CAST(b AS HUGEINT) * 1000000000
      |        - CAST(a AS HUGEINT) * CAST(a AS HUGEINT) DESC, dim ASC) - 1 AS r
      |  FROM vs),
      |perm AS (SELECT
      |    (CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END) * 8 + (r // 8) AS pos,
      |    dim FROM rk),
      |pm AS (SELECT vec_id, label,
      |    list(embedding[dim + 1] ORDER BY pos) AS embedding
      |  FROM eiv CROSS JOIN perm GROUP BY vec_id, label)""".stripMargin

  /** `mat = true` marks the MULTI-REFERENCED fit outputs (`${p}sl`,
    * the final books `${p}pb2`, the encode table `${p}pa3`) as
    * MATERIALIZED — the s_ann_refit/t_bpe_train recipe: DuckDB inlines
    * CTEs per reference, so a mirror with many serve chains otherwise
    * re-expands the whole per-subspace Lloyd chain per chain — the
    * s_opq_recall sf0.1 32-thread bad_alloc (BASELINE r12 note,
    * retired in r13). Values are materialization-independent. */
  private def pqFitCte(frame: String, p: String = "", m: Int = 8,
                       dim: Int = 64, mat: Boolean = false): String = {
    val w = dim / m
    val base = pqFitCteBody(frame, p, m, dim, w)
    if (!mat) base
    else Seq(s"${p}sl", s"${p}pb2", s"${p}pa3").foldLeft(base) { (s, c) =>
      s.replace(s"$c AS (", s"$c AS MATERIALIZED (")
    }
  }

  private def pqFitCteBody(frame: String, p: String, m: Int,
                           dim: Int, w: Int): String = {
    s"""${p}subs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),
       |${p}sl AS (SELECT vec_id, sub, embedding[sub*$w+1 : sub*$w+$w] AS svec
       |  FROM $frame CROSS JOIN ${p}subs),
       |${p}pinit AS (SELECT vec_id, embedding,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
       |  FROM (SELECT vec_id, embedding FROM $frame ORDER BY vec_id LIMIT 16)),
       |${p}pb0 AS (SELECT subs.sub, pinit.c,
       |    list_transform(pinit.embedding[subs.sub*$w+1 : subs.sub*$w+$w], v -> CAST(v AS DOUBLE)) AS cent
       |  FROM ${p}pinit pinit CROSS JOIN ${p}subs subs),
       |${pqIterSql(1, s"${p}pb0", p)},
       |${pqIterSql(2, s"${p}pb1", p)},
       |${pqIterSql(3, s"${p}pb2", p)}""".stripMargin
  }

  /** Query-vector CTE shared by the PQ serving mirrors. */
  private def pqQueryCte: String =
    """q AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qd,
      |    sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS qnorm,
      |    embedding AS qe
      |  FROM eiv WHERE vec_id = 0)""".stripMargin

  /** ADC ranking + exact rerank tail shared by the PQ serving mirrors:
    * the kernel folds LUT entries in SUBSPACE ORDER, so the SQL sums
    * `list(x ORDER BY sub)` — a bare SUM() has no guaranteed order. */
  private def pqServeTail: String =
    s"""cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id ASC LIMIT 40),
       |rr AS (SELECT e.vec_id, e.label, ${cosSql("e.embedding", "q.qe")} AS cos
       |  FROM eiv e JOIN cand USING (vec_id) CROSS JOIN q)
       |SELECT vec_id, label, ROUND(cos, 4) AS cos_sim
       |FROM rr ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin

  /** One PQ serving arm for one query id as a vec_id-set CTE chain —
    * the s_ann_pq mirror (query LUTs → subspace-ordered ADC fold →
    * LIMIT 40 candidates → exact-cosine rerank → top-10), parametrized
    * on (query, frame, books, codes) so the OPQ arm replays the same
    * serve over (pm, opb2, opa3). Used by the s_opq_recall mirror. */
  private def pqServeTopCte(qid: Int, p: String, frame: String,
                            books: String, codes: String): String =
    s"""${p}sq$qid AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qd,
       |    sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS qnorm,
       |    embedding AS qe
       |  FROM $frame WHERE vec_id = $qid),
       |${p}slut$qid AS (SELECT b.sub, b.c AS code,
       |    CASE WHEN q.qnorm = 0.0 THEN 0.0 ELSE
       |      list_sum(list_transform(generate_series(1, 8), i -> q.qd[b.sub*8 + i] * b.cent[i])) / q.qnorm END AS dot,
       |    list_sum(list_transform(b.cent, v -> v * v)) AS n2
       |  FROM $books b CROSS JOIN ${p}sq$qid q),
       |${p}sadc$qid AS (SELECT vec_id,
       |    CASE WHEN list_sum(list(n2 ORDER BY l.sub)) <= 0.0 THEN 0.0
       |         ELSE list_sum(list(dot ORDER BY l.sub)) / sqrt(list_sum(list(n2 ORDER BY l.sub))) END AS adc
       |  FROM $codes ca JOIN ${p}slut$qid l ON l.sub = ca.sub AND l.code = ca.code
       |  WHERE ca.vec_id != $qid
       |  GROUP BY vec_id),
       |${p}scand$qid AS (SELECT vec_id FROM ${p}sadc$qid ORDER BY adc DESC, vec_id ASC LIMIT 40),
       |${p}stop$qid AS (SELECT vec_id FROM (
       |    SELECT e.vec_id, ${cosSql("e.embedding", "q.qe")} AS cos
       |    FROM $frame e JOIN ${p}scand$qid USING (vec_id) CROSS JOIN ${p}sq$qid q)
       |  ORDER BY cos DESC, vec_id ASC LIMIT 10)""".stripMargin

  /** One unrolled MMR greedy step (i ≥ 2): max basis-point similarity
    * against every already-selected row, score×10⁵ in integers (the
    * same arithmetic the driver loop runs), (score desc, id) argmax. */
  private def mmrStepCte(i: Int): String = {
    val prev = (1 until i).map(j => s"s$j")
    val joins = prev.map(p => s"CROSS JOIN $p").mkString(" ")
    val notSel = prev.map(p => s"c.vec_id != $p.vec_id").mkString(" AND ")
    val msbp =
      if (prev.size == 1)
        s"CAST(round((ROUND(${cosSql("c.embedding", "s1.embedding")}, 4) + 0.0) * 10000) AS BIGINT)"
      else "greatest(" + prev.map(p =>
        s"CAST(round((ROUND(${cosSql("c.embedding", s"$p.embedding")}, 4) + 0.0) * 10000) AS BIGINT)")
        .mkString(", ") + ")"
    s"""s$i AS (SELECT vec_id, label, rel, relbp, embedding, msbp,
       |    5 * relbp - 5 * msbp AS scorebp FROM (
       |    SELECT c.vec_id, c.label, c.rel, c.relbp, c.embedding, $msbp AS msbp
       |    FROM cand c $joins WHERE $notSel)
       |  ORDER BY 5 * relbp - 5 * msbp DESC, vec_id ASC LIMIT 1)""".stripMargin
  }

  private def mmrRowSelect(i: Int): String =
    s"""SELECT $i AS rank, vec_id, label, rel AS relevance,
       |  CAST(msbp AS DOUBLE) / 10000.0 + 0.0 AS max_sim_selected,
       |  CAST(scorebp AS DOUBLE) / 100000.0 + 0.0 AS mmr_score FROM s$i""".stripMargin

  val oracles: Map[String, String] = Map(
    // Mirror of mmrDiversify: annTopK's 20 candidates, then the greedy
    // loop UNROLLED five times — each step an argmax over the not-yet-
    // selected candidates with the integer basis-point score the driver
    // loop itself computes (see mmrDiversify: that integerization is
    // what makes this key oracle-able at all).
    "s_mmr_diversify" -> {
      val q = "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)"
      val cand =
        s"""cand AS (SELECT vec_id, label, ROUND(cos, 4) + 0.0 AS rel,
           |    CAST(round((ROUND(cos, 4) + 0.0) * 10000) AS BIGINT) AS relbp, embedding
           |  FROM (SELECT e.vec_id, e.label, e.embedding,
           |      ${cosSql("e.embedding", "q.qe")} AS cos
           |    FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
           |    ORDER BY cos DESC, vec_id ASC LIMIT 20))""".stripMargin
      val s1 =
        """s1 AS (SELECT vec_id, label, rel, relbp, embedding,
          |    0::BIGINT AS msbp, 5 * relbp AS scorebp
          |  FROM cand ORDER BY relbp DESC, vec_id ASC LIMIT 1)""".stripMargin
      "WITH " + (Seq(q, cand, s1) ++ (2 to 5).map(mmrStepCte)).mkString(",\n") + "\n" +
        (1 to 5).map(mmrRowSelect).mkString("\nUNION ALL\n")
    },
    // Mirror of annPqFromIndex (Catalog.pqIndex fit + encode + ADC serve +
    // exact rerank): the per-subspace Lloyd fit replays portably
    // (pqFitCte), LUT entries are index-order list folds over the
    // final books, ADC = Σdot/√Σnorm2 in subspace order.
    // pqErrorReport mirror: the same PQ fit, per-(vec, sub) min-d² over
    // the final codebook (the kernel's min VALUE — tie order
    // irrelevant), then the DECIMAL(28,10) mean convention.
    "s_pq_error" ->
      ("WITH eiv AS (SELECT vec_id, label, embedding FROM embeddings),\n" +
        pqFitCte("eiv") + ",\n" +
        s"""pe AS (SELECT vec_id, sub, MIN(dd) AS err FROM (
           |    SELECT sl.vec_id, sl.sub, ${d2Sql("sl.svec", "pb2.cent")} AS dd
           |    FROM sl JOIN pb2 ON pb2.sub = sl.sub) x
           |  GROUP BY 1, 2)
           |SELECT CAST(sub AS INT) AS sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |  ROUND(CAST(SUM(CAST(err AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mse,
           |  ROUND(MAX(err), 6) + 0.0 AS max_err
           |FROM pe GROUP BY 1""".stripMargin),
    // pqCurve mirror: one prefixed portable Lloyd fit per candidate m
    // (pqFitCte templated on subspace count/width), the same
    // min-over-codes error sweep as s_pq_error per fit, 1-row collapse
    // each, unioned per m.
    "s_pq_curve" ->
      ("WITH eiv AS (SELECT vec_id, label, embedding FROM embeddings),\n" +
        Seq(2, 4, 8).map(m => pqFitCte("eiv", s"m${m}_", m)).mkString(",\n") + ",\n" +
        Seq(2, 4, 8).map(m =>
          s"""m${m}_pe AS (SELECT vec_id, sub, MIN(dd) AS err FROM (
             |    SELECT sl.vec_id, sl.sub, ${d2Sql("sl.svec", s"m${m}_pb2.cent")} AS dd
             |    FROM m${m}_sl sl JOIN m${m}_pb2 ON m${m}_pb2.sub = sl.sub) x
             |  GROUP BY 1, 2)""".stripMargin).mkString(",\n") + "\n" +
        Seq(2, 4, 8).map(m =>
          s"""SELECT CAST($m AS INT) AS m, CAST(COUNT(*) // $m AS BIGINT) AS n_vecs,
             |  CAST(${m * 4} AS INT) AS bits_per_vec,
             |  ROUND(CAST(SUM(CAST(err AS DECIMAL(28,10))) AS DOUBLE) / (COUNT(*) // $m), 6) + 0.0 AS mse,
             |  ROUND(MAX(err), 6) + 0.0 AS max_sub_err
             |FROM m${m}_pe""".stripMargin).mkString("\nUNION ALL\n")),
    // Mirror of opqErrorReport: the plain PQ fit + error sweep (as
    // s_pq_error), then the permutation-OPQ side — per-dim first/second
    // fixed-point moments with the kernels' floor+carry rounding, the
    // exact HUGEINT variance score n·B·S − A² (tie → dim asc), the
    // serpentine dealing as pure rank arithmetic, the permuted frame as
    // an ordered list() rebuild, and a SECOND (prefixed) Lloyd replay +
    // error sweep over it; m-row join on sub.
    "s_opq_error" ->
      ("WITH eiv AS (SELECT vec_id, label, embedding FROM embeddings),\n" +
        pqFitCte("eiv") + ",\n" +
        s"""pe AS (SELECT vec_id, sub, MIN(dd) AS err FROM (
           |    SELECT sl.vec_id, sl.sub, ${d2Sql("sl.svec", "pb2.cent")} AS dd
           |    FROM sl JOIN pb2 ON pb2.sub = sl.sub) x
           |  GROUP BY 1, 2),
           |perr AS (SELECT sub, COUNT(*) AS n_vecs,
           |    ROUND(CAST(SUM(CAST(err AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mse_pq,
           |    ROUND(MAX(err), 6) + 0.0 AS max_err_pq
           |  FROM pe GROUP BY 1),
           |""".stripMargin + opqPermCte + ",\n" +
        pqFitCte("pm", "o") + ",\n" +
        s"""ope AS (SELECT vec_id, sub, MIN(dd) AS err FROM (
           |    SELECT sl.vec_id, sl.sub, ${d2Sql("sl.svec", "opb2.cent")} AS dd
           |    FROM osl sl JOIN opb2 ON opb2.sub = sl.sub) x
           |  GROUP BY 1, 2),
           |operr AS (SELECT sub,
           |    ROUND(CAST(SUM(CAST(err AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mse_opq,
           |    ROUND(MAX(err), 6) + 0.0 AS max_err_opq
           |  FROM ope GROUP BY 1)
           |SELECT CAST(perr.sub AS INT) AS sub, CAST(n_vecs AS BIGINT) AS n_vecs,
           |  mse_pq, mse_opq, max_err_pq, max_err_opq
           |FROM perr JOIN operr ON operr.sub = perr.sub""".stripMargin),
    // Mirror of annOpqFromIndex: the shared permutation CTEs build the
    // permuted frame, a prefixed Lloyd replay fits the OPQ books, and
    // the serve is the s_ann_pq mirror verbatim over (pm, opb2, opa3) —
    // permuted query LUTs, code-table-only ADC ranking, exact-cosine
    // rerank in the permuted layout (permutation-invariant).
    "s_ann_opq" ->
      ("WITH eiv AS (SELECT vec_id, label, embedding FROM embeddings),\n" +
        opqPermCte + ",\n" +
        pqFitCte("pm", "o") + ",\n" +
        s"""oq AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qd,
           |    sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS qnorm,
           |    embedding AS qe
           |  FROM pm WHERE vec_id = 0),
           |olut AS (SELECT opb2.sub, opb2.c AS code,
           |    CASE WHEN q.qnorm = 0.0 THEN 0.0 ELSE
           |      list_sum(list_transform(generate_series(1, 8), i -> q.qd[opb2.sub*8 + i] * opb2.cent[i])) / q.qnorm END AS dot,
           |    list_sum(list_transform(opb2.cent, v -> v * v)) AS n2
           |  FROM opb2 CROSS JOIN oq q),
           |oadc AS (SELECT vec_id,
           |    CASE WHEN list_sum(list(n2 ORDER BY l.sub)) <= 0.0 THEN 0.0
           |         ELSE list_sum(list(dot ORDER BY l.sub)) / sqrt(list_sum(list(n2 ORDER BY l.sub))) END AS adc
           |  FROM opa3 JOIN olut l ON l.sub = opa3.sub AND l.code = opa3.code
           |  WHERE opa3.vec_id != 0
           |  GROUP BY vec_id),
           |ocand AS (SELECT vec_id FROM oadc ORDER BY adc DESC, vec_id ASC LIMIT 40),
           |orr AS (SELECT e.vec_id, e.label, ${cosSql("e.embedding", "q.qe")} AS cos
           |  FROM pm e JOIN ocand USING (vec_id) CROSS JOIN oq q)
           |SELECT vec_id, label, ROUND(cos, 4) AS cos_sim
           |FROM orr ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin),
    // opqRecallReport mirror: one plain-PQ fit + the permutation CTEs +
    // one prefixed OPQ fit, then per query the exact brute-force arm
    // (recallQexCte) and BOTH serving arms as pqServeTopCte chains; the
    // two output rows sum hits across the panel with the exact-integer
    // half-away recall (the s_nprobe_curve shape).
    "s_opq_recall" -> {
      val qids = 0 until 5
      def armSelect(arm: String, top: Int => String): String = {
        val e = qids.map(q => s"(SELECT COUNT(*) FROM ex$q)").mkString(" + ")
        val h = qids.map(q =>
          s"(SELECT COUNT(*) FROM ex$q e JOIN ${top(q)} a ON e.vec_id = a.vec_id)")
          .mkString(" + ")
        s"""SELECT '$arm' AS arm,
           |  CAST($e AS BIGINT) AS n_exact,
           |  CAST($h AS BIGINT) AS n_hit,
           |  (CASE WHEN ($e) = 0 THEN 0.0 ELSE
           |    CAST((20000 * ($h) + ($e)) // (2 * ($e)) AS DOUBLE) / 10000.0 END)
           |    + 0.0 AS recall""".stripMargin
      }
      // every multi-referenced fit output MATERIALIZED (eiv + both fit
      // chains + the permuted frame): the 10 serve chains + 5 exact
      // arms otherwise re-inline two unrolled Lloyd fits per reference
      // — the nondeterministic 32-thread bad_alloc at sf0.1 (BASELINE
      // r12 note, retired in r13 — sweep green at default threads)
      "WITH eiv AS MATERIALIZED (SELECT vec_id, label, embedding FROM embeddings),\n" +
        pqFitCte("eiv", mat = true) + ",\n" +
        opqPermCteOpt(mat = true) + ",\n" +
        pqFitCte("pm", "o", mat = true) + ",\n" +
        qids.map(recallQexCte).mkString(",\n") + ",\n" +
        qids.map(q => pqServeTopCte(q, "", "eiv", "pb2", "pa3")).mkString(",\n") + ",\n" +
        qids.map(q => pqServeTopCte(q, "o", "pm", "opb2", "opa3")).mkString(",\n") + "\n" +
        armSelect("pq", q => s"stop$q") + "\nUNION ALL\n" +
        armSelect("opq", q => s"ostop$q")
    },
    "s_ann_pq" ->
      ("WITH eiv AS (SELECT vec_id, label, embedding FROM embeddings),\n" +
        pqFitCte("eiv") + ",\n" + pqQueryCte + ",\n" +
        s"""lut AS (SELECT pb2.sub, pb2.c AS code,
           |    CASE WHEN q.qnorm = 0.0 THEN 0.0 ELSE
           |      list_sum(list_transform(generate_series(1, 8), i -> q.qd[pb2.sub*8 + i] * pb2.cent[i])) / q.qnorm END AS dot,
           |    list_sum(list_transform(pb2.cent, v -> v * v)) AS n2
           |  FROM pb2 CROSS JOIN q),
           |adc AS (SELECT vec_id,
           |    CASE WHEN list_sum(list(n2 ORDER BY lut.sub)) <= 0.0 THEN 0.0
           |         ELSE list_sum(list(dot ORDER BY lut.sub)) / sqrt(list_sum(list(n2 ORDER BY lut.sub))) END AS adc
           |  FROM pa3 JOIN lut ON lut.sub = pa3.sub AND lut.code = pa3.code
           |  WHERE pa3.vec_id != 0
           |  GROUP BY vec_id),
           |""".stripMargin + pqServeTail),
    // Mirror of annIvfPqFromIndex: coarse fit (ivfFitCte) → residual frame
    // (the vecResidual FLOAT cast is CAST(double − cent AS FLOAT)) →
    // PQ fit on residuals → per-probe LUTs with the centroid folded
    // into each codeword (the IVFADC decomposition) → ADC → rerank.
    "s_ann_ivfpq" ->
      ("WITH " + ivfFitCte + ",\n" +
        s"""rf AS (SELECT af.vec_id, af.label, af.cluster,
           |    list_transform(generate_series(1, len(af.embedding)),
           |      i -> CAST(CAST(af.embedding[i] AS DOUBLE) - cc.cent[i] AS FLOAT)) AS embedding
           |  FROM af JOIN c2 cc ON cc.c = af.cluster),
           |""".stripMargin +
        pqFitCte("rf") + ",\n" + pqQueryCte + ",\n" +
        s"""pr AS (SELECT c FROM (
           |    SELECT c2.c, row_number() OVER (ORDER BY ${d2Sql("q.qe", "c2.cent")} ASC, c2.c ASC) AS rn
           |    FROM c2 CROSS JOIN q) WHERE rn <= 4),
           |lut AS (SELECT cc.c AS probe, pb2.sub, pb2.c AS code,
           |    CASE WHEN q.qnorm = 0.0 THEN 0.0 ELSE
           |      list_sum(list_transform(generate_series(1, 8),
           |        i -> q.qd[pb2.sub*8 + i] * (cc.cent[pb2.sub*8 + i] + pb2.cent[i]))) / q.qnorm END AS dot,
           |    list_sum(list_transform(generate_series(1, 8),
           |      i -> (cc.cent[pb2.sub*8 + i] + pb2.cent[i]) * (cc.cent[pb2.sub*8 + i] + pb2.cent[i]))) AS n2
           |  FROM pb2 CROSS JOIN q JOIN (SELECT c2.c, c2.cent FROM c2 JOIN pr ON pr.c = c2.c) cc ON TRUE),
           |codes AS (SELECT rf.vec_id, rf.cluster, pa3.sub, pa3.code
           |  FROM rf JOIN pa3 ON pa3.vec_id = rf.vec_id
           |  WHERE rf.cluster IN (SELECT c FROM pr) AND rf.vec_id != 0),
           |adc AS (SELECT codes.vec_id,
           |    CASE WHEN list_sum(list(n2 ORDER BY lut.sub)) <= 0.0 THEN 0.0
           |         ELSE list_sum(list(dot ORDER BY lut.sub)) / sqrt(list_sum(list(n2 ORDER BY lut.sub))) END AS adc
           |  FROM codes JOIN lut ON lut.probe = codes.cluster AND lut.sub = codes.sub AND lut.code = codes.code
           |  GROUP BY codes.vec_id),
           |""".stripMargin + pqServeTail),
    // The fitted-index family: every key below replays the Lloyd fit
    // via ivfFitCte — see the block comment above it.
    "s_kmeans" ->
      s"""WITH $ivfFitCte,
         |cl AS (SELECT cluster, label, COUNT(*) AS n FROM af GROUP BY 1, 2),
         |w AS (SELECT cluster, label, n,
         |    row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label ASC) AS rn,
         |    SUM(n) OVER (PARTITION BY cluster) AS n_vecs,
         |    COUNT(*) OVER (PARTITION BY cluster) AS n_labels
         |  FROM cl)
         |SELECT cluster, CAST(n_vecs AS BIGINT) AS n_vecs,
         |  CAST(n_labels AS BIGINT) AS n_labels,
         |  label AS top_label, CAST(n AS BIGINT) AS top_label_n,
         |  ROUND(CAST(n AS DOUBLE) / n_vecs, 4) + 0.0 AS purity
         |FROM w WHERE rn = 1""".stripMargin,
    // silhouetteReport mirror: the same unrolled Lloyd fit, per-point
    // d² to every centroid ranked (d2 ASC, c ASC) — rn=1/rn=2 are the
    // kernel's strict-< nearest/second pair — then the DECIMAL(28,10)
    // mean convention.
    "s_silhouette" ->
      s"""WITH $ivfFitCte,
         |sdd AS (SELECT af.vec_id, af.cluster, ${d2Sql("af.embedding", "c2.cent")} AS d2, c2.c
         |  FROM af CROSS JOIN c2),
         |srk AS (SELECT vec_id, cluster, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c ASC) AS rn
         |  FROM sdd),
         |sab AS (SELECT vec_id, MAX(cluster) AS cluster,
         |    MAX(CASE WHEN rn = 1 THEN sqrt(d2) END) AS a,
         |    MAX(CASE WHEN rn = 2 THEN sqrt(d2) END) AS b
         |  FROM srk WHERE rn <= 2 GROUP BY vec_id),
         |ssv AS (SELECT cluster,
         |    CASE WHEN GREATEST(a, b) = 0 THEN 0.0 ELSE (b - a) / GREATEST(a, b) END AS sil
         |  FROM sab)
         |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  ROUND(CAST(SUM(CAST(sil AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) + 0.0 AS mean_sil,
         |  ROUND(MIN(sil), 4) + 0.0 AS min_sil
         |FROM ssv GROUP BY cluster""".stripMargin,
    // annIvfBatchFromIndex mirror: per query, the same probe-rank +
    // candidate-rank CTEs the recall report uses, unioned — the oracle
    // unions per-query subplans (its privilege); the Spark plan is the
    // single-join batch form, spec-proven equal per query.
    "s_ann_ivf_batch" -> {
      def one(qid: Int): String =
        s"""bq$qid AS (SELECT embedding AS qe FROM eiv WHERE vec_id = $qid),
           |bp$qid AS (SELECT c FROM (
           |    SELECT c2.c, row_number() OVER (ORDER BY ${d2Sql(s"bq$qid.qe", "c2.cent")} ASC, c2.c ASC) AS rn
           |    FROM c2 CROSS JOIN bq$qid) WHERE rn <= 2),
           |bs$qid AS (SELECT * FROM (
           |    SELECT CAST($qid AS BIGINT) AS query_id, af.vec_id, af.label, af.cluster,
           |      ${cosSql("af.embedding", s"bq$qid.qe")} AS cosr
           |    FROM af CROSS JOIN bq$qid
           |    WHERE af.cluster IN (SELECT c FROM bp$qid) AND af.vec_id != $qid)
           |  ORDER BY cosr DESC, vec_id ASC LIMIT 10)""".stripMargin
      val ids = Seq(0, 1, 2, 3, 4)
      s"WITH $ivfFitCte,\n" + ids.map(one).mkString(",\n") + "\n" +
        ids.map(q => s"SELECT query_id, vec_id, label, cluster, ROUND(cosr, 4) AS cos_sim FROM bs$q")
          .mkString("\nUNION ALL\n")
    },
    // annIvfFromIndex mirror with `pred`: the s_ann_ivf serve with the
    // label predicate applied BEFORE ranking (pre-filter semantics).
    "s_ann_ivf_filtered" ->
      s"""WITH $ivfFitCte,
         |q AS (SELECT embedding AS qe FROM eiv WHERE vec_id = 0),
         |pr AS (SELECT c FROM (
         |    SELECT c2.c, row_number() OVER (ORDER BY ${d2Sql("q.qe", "c2.cent")} ASC, c2.c ASC) AS rn
         |    FROM c2 CROSS JOIN q) WHERE rn <= 2),
         |cand AS (SELECT af.vec_id, af.label, af.cluster,
         |    ${cosSql("af.embedding", "q.qe")} AS cos
         |  FROM af CROSS JOIN q
         |  WHERE af.cluster IN (SELECT c FROM pr) AND af.vec_id != 0
         |    AND af.label IN (1, 3, 5))
         |SELECT vec_id, label, cluster, ROUND(cos, 4) AS cos_sim
         |FROM cand ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "s_ann_ivf" ->
      s"""WITH $ivfFitCte,
         |q AS (SELECT embedding AS qe FROM eiv WHERE vec_id = 0),
         |pr AS (SELECT c FROM (
         |    SELECT c2.c, row_number() OVER (ORDER BY ${d2Sql("q.qe", "c2.cent")} ASC, c2.c ASC) AS rn
         |    FROM c2 CROSS JOIN q) WHERE rn <= 2),
         |cand AS (SELECT af.vec_id, af.label, af.cluster,
         |    ${cosSql("af.embedding", "q.qe")} AS cos
         |  FROM af CROSS JOIN q
         |  WHERE af.cluster IN (SELECT c FROM pr) AND af.vec_id != 0)
         |SELECT vec_id, label, cluster, ROUND(cos, 4) AS cos_sim
         |FROM cand ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "s_knn_ivf" ->
      s"""WITH $ivfFitCte,
         |$canopyCandCte,
         |r AS (SELECT vec_id, nbr_id, cos_sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS knn_rank
         |  FROM cp)
         |SELECT vec_id, nbr_id, cos_sim, CAST(knn_rank AS INTEGER) AS knn_rank
         |FROM r WHERE knn_rank <= 5""".stripMargin,
    "s_knn_accuracy" ->
      s"""WITH $ivfFitCte,
         |$canopyCandCte,
         |t1 AS (SELECT vec_id, nbr_id FROM (
         |    SELECT vec_id, nbr_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS rn
         |    FROM cp) WHERE rn = 1),
         |j AS (SELECT e.label, CASE WHEN ne.label = e.label THEN 1 ELSE 0 END AS same
         |  FROM t1 JOIN eiv e ON e.vec_id = t1.vec_id JOIN eiv ne ON ne.vec_id = t1.nbr_id)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(same) AS BIGINT) AS n_same,
         |  ROUND(CAST(SUM(same) AS DOUBLE) / COUNT(*), 4) + 0.0 AS accuracy
         |FROM j GROUP BY 1""".stripMargin,
    "s_hard_negatives" ->
      s"""WITH $ivfFitCte,
         |$canopyCandCte,
         |pos AS (SELECT vec_id, label, nbr_id AS pos_id, cos_sim AS pos_cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS rn
         |    FROM cp WHERE label = nbr_label) WHERE rn = 1),
         |neg AS (SELECT vec_id, nbr_id AS neg_id, cos_sim AS neg_cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS rn
         |    FROM cp WHERE label != nbr_label) WHERE rn = 1)
         |SELECT pos.vec_id, pos.label, pos.pos_id, pos.pos_cos, neg.neg_id, neg.neg_cos
         |FROM pos JOIN neg USING (vec_id)""".stripMargin,
    "s_recall_report" ->
      ("WITH " + ivfFitCte + ",\n" +
        (0 until 5).map(recallQueryCte).mkString(",\n") + "\n" +
        (0 until 5).map(recallQuerySelect).mkString("\nUNION ALL\n")),
    // annTombstoneReport mirror: the FULL-corpus fit (stale lists by
    // construction) + per live query the live-filtered exact and
    // served arms, counts + the hash-checked n_leaked = 0 assertion +
    // exact-integer half-away recall.
    "s_ann_tombstone" ->
      ("WITH " + ivfFitCte + ",\n" +
        Seq(0, 1, 2, 4, 5).map(tombQueryCte).mkString(",\n") + "\n" +
        Seq(0, 1, 2, 4, 5).map(tombQuerySelect).mkString("\nUNION ALL\n")),
    // annReembedServe mirror: the v2 wave (cyclic dim shift — exact),
    // the latest-version-per-key upsert as a version-desc row_number,
    // the brute-force serve with version in the output.
    "s_ann_reembed" ->
      s"""WITH v1 AS (SELECT vec_id, label, embedding, 1 AS version FROM embeddings),
         |v2 AS (SELECT vec_id, label,
         |    embedding[2:64] || embedding[1:1] AS embedding,
         |    2 AS version
         |  FROM embeddings WHERE vec_id % 5 = 2),
         |ev AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
         |up AS (SELECT vec_id, label, embedding, version FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY version DESC) AS rn
         |    FROM ev) WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM up WHERE vec_id = 2)
         |SELECT vec_id, label, version, ROUND(cos, 4) + 0.0 AS cos_sim FROM (
         |  SELECT u.vec_id, u.label, u.version, ${cosSql("u.embedding", "q.qe")} AS cos
         |  FROM up u CROSS JOIN q WHERE u.vec_id != 2)
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // indexHealthReport mirror: the fit CTE's assigned table + one
    // conditional count per list under the union delete load, the
    // half-away live fraction and the 0/1 flag.
    "s_index_health" ->
      ("WITH " + ivfFitCteFor("") + "\n" +
        s"""SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_fit,
           |  CAST(COALESCE(SUM(CASE WHEN vec_id % $UniformTombMod != $UniformTombRem AND cluster % $TakedownMod != 1
           |                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_live,
           |  CAST((20000 * COALESCE(SUM(CASE WHEN vec_id % $UniformTombMod != $UniformTombRem AND cluster % $TakedownMod != 1
           |                              THEN 1 ELSE 0 END), 0) + COUNT(*)) //
           |       (2 * COUNT(*)) AS DOUBLE) / 10000.0 AS live_frac,
           |  CAST(CASE WHEN CAST((20000 * COALESCE(SUM(CASE WHEN vec_id % $UniformTombMod != $UniformTombRem AND cluster % $TakedownMod != 1
           |                                   THEN 1 ELSE 0 END), 0) + COUNT(*)) //
           |                 (2 * COUNT(*)) AS DOUBLE) / 10000.0 < 0.5
           |       THEN 1 ELSE 0 END AS BIGINT) AS refit_recommended
           |FROM af GROUP BY cluster""".stripMargin),
    // annRefitReport mirror: the full-corpus fit (stale, MATERIALIZED —
    // both serve windows reference it) + a SECOND live-only prefixed
    // fit (the Catalog.ivfIndexLive replay: source = the stale `af`
    // restricted to surviving lists, init/auto-nlist from that LIVE
    // frame), the boundary panel, the shared live exact arm and both
    // serving arms as batch windows, then the two per-arm panel
    // aggregates with the exact-integer half-away recall (the
    // s_opq_recall output shape).
    "s_ann_refit" -> {
      def armSelect(arm: String, sv: String): String =
        s"""SELECT '$arm' AS arm,
           |  CAST((SELECT COUNT(*) FROM rex) AS BIGINT) AS n_exact,
           |  CAST((SELECT COUNT(*) FROM rex e JOIN $sv a
           |        ON e.query_id = a.query_id AND e.vec_id = a.vec_id) AS BIGINT) AS n_hit,
           |  (CASE WHEN (SELECT COUNT(*) FROM rex) = 0 THEN 0.0 ELSE
           |    CAST((20000 * (SELECT COUNT(*) FROM rex e JOIN $sv a
           |                   ON e.query_id = a.query_id AND e.vec_id = a.vec_id)
           |          + (SELECT COUNT(*) FROM rex)) //
           |         (2 * (SELECT COUNT(*) FROM rex)) AS DOUBLE) / 10000.0 END)
           |    + 0.0 AS recall""".stripMargin
      "WITH " + ivfFitCteFor("", mat = true) + ",\n" +
        ivfFitCteFor("lv", src = "af",
          srcWhere = s" WHERE cluster % $TakedownMod != 1", mat = true) + ",\n" +
        refitServeCtes + "\n" +
        armSelect("stale", "ssv") + "\nUNION ALL\n" +
        armSelect("refit", "lsv")
    },
    // nprobeCurve mirror: the same fit CTE + ONE exact arm per query
    // shared across probe settings + one approx arm per (probe, query)
    // cell; per-probe totals summed over the panel, exact-integer
    // half-away recall.
    "s_nprobe_curve" -> {
      val qids = 0 until 5
      val probes = Seq(1, 2, 4, 8)
      def rowSelect(np: Int): String = {
        val ex = qids.map(q => s"(SELECT COUNT(*) FROM ex$q)").mkString(" + ")
        val hit = qids.map(q =>
          s"(SELECT COUNT(*) FROM ex$q e JOIN apn${np}x$q a ON e.vec_id = a.vec_id)")
          .mkString(" + ")
        s"""SELECT CAST($np AS INT) AS n_probe,
           |  CAST($ex AS BIGINT) AS n_exact,
           |  CAST($hit AS BIGINT) AS n_hit,
           |  (CASE WHEN ($ex) = 0 THEN 0.0 ELSE
           |    CAST((20000 * ($hit) + ($ex)) // (2 * ($ex)) AS DOUBLE) / 10000.0 END)
           |    + 0.0 AS recall""".stripMargin
      }
      "WITH " + ivfFitCte + ",\n" +
        qids.map(recallQexCte).mkString(",\n") + ",\n" +
        (for (np <- probes; q <- qids) yield recallApproxCte(q, np, s"n${np}x"))
          .mkString(",\n") + "\n" +
        probes.map(rowSelect).mkString("\nUNION ALL\n")
    },
    // mrlRecallCurve mirror: one exact full-dim top-10 CTE per query
    // (shared across prefix lengths) + one truncated arm per
    // (dim, query) cell — prefix slicing is DuckDB's 1-based inclusive
    // `embedding[1:d]`, the same index-order cosine fold over the
    // prefix; per-dim totals summed over the panel, exact-integer
    // half-away recall (the s_nprobe_curve output shape).
    "s_mrl_recall" -> {
      val qids = 0 until 5
      val dims = Seq(8, 16, 32, 64)
      def qCte(q: Int): String =
        s"""mq$q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $q),
           |mex$q AS (SELECT vec_id FROM (
           |    SELECT e.vec_id, ${cosSql("e.embedding", s"mq$q.qe")} AS cos
           |    FROM embeddings e CROSS JOIN mq$q WHERE e.vec_id != $q
           |    ORDER BY cos DESC, vec_id ASC LIMIT 10))""".stripMargin
      def tCte(q: Int, dm: Int): String =
        s"""mtr${dm}x$q AS (SELECT vec_id FROM (
           |    SELECT e.vec_id, ${cosSql(s"e.embedding[1:$dm]", s"mq$q.qe[1:$dm]")} AS cos
           |    FROM embeddings e CROSS JOIN mq$q WHERE e.vec_id != $q
           |    ORDER BY cos DESC, vec_id ASC LIMIT 10))""".stripMargin
      def rowSelect(dm: Int): String = {
        val ex = qids.map(q => s"(SELECT COUNT(*) FROM mex$q)").mkString(" + ")
        val hit = qids.map(q =>
          s"(SELECT COUNT(*) FROM mex$q e JOIN mtr${dm}x$q a ON e.vec_id = a.vec_id)")
          .mkString(" + ")
        s"""SELECT CAST($dm AS INT) AS mrl_dim,
           |  CAST($ex AS BIGINT) AS n_exact,
           |  CAST($hit AS BIGINT) AS n_hit,
           |  (CASE WHEN ($ex) = 0 THEN 0.0 ELSE
           |    CAST((20000 * ($hit) + ($ex)) // (2 * ($ex)) AS DOUBLE) / 10000.0 END)
           |    + 0.0 AS recall""".stripMargin
      }
      "WITH " + qids.map(qCte).mkString(",\n") + ",\n" +
        (for (dm <- dims; q <- qids) yield tCte(q, dm)).mkString(",\n") + "\n" +
        dims.map(rowSelect).mkString("\nUNION ALL\n")
    },
    // annMrlIvfFromIndex mirror: the SHARED Lloyd fit CTE generator
    // over the prefix-16 projection (the Catalog.ivfIndexMrl replay —
    // MATERIALIZED, the refit-mirror precedent), probes ranked by
    // prefix d2 with the list-id tie-break, the prefix-cosine shortlist
    // window over the probed lists' candidates joined back to the FULL
    // vectors, then the full-dim rerank.
    "s_ann_mrl_ivf" ->
      ("WITH " + ivfFitCteFor("mi",
        src = "(SELECT vec_id, label, embedding[1:16] AS embedding FROM embeddings)",
        mat = true) + ",\n" +
        s"""q AS (SELECT embedding AS qe, embedding[1:16] AS qt
           |  FROM embeddings WHERE vec_id = 0),
           |pr AS (SELECT c FROM (
           |    SELECT mic2.c, row_number() OVER (ORDER BY ${d2Sql("q.qt", "mic2.cent")} ASC, mic2.c ASC) AS rn
           |    FROM mic2 CROSS JOIN q) WHERE rn <= 2),
           |cand AS (SELECT e.vec_id, e.label, a.cluster, e.embedding, q.qe,
           |    ${cosSql("e.embedding[1:16]", "q.qt")} AS cos_s
           |  FROM embeddings e JOIN miaf a ON a.vec_id = e.vec_id CROSS JOIN q
           |  WHERE a.cluster IN (SELECT c FROM pr) AND e.vec_id != 0),
           |sl AS (SELECT vec_id, label, cluster, embedding, qe, cos_s FROM (
           |    SELECT cand.*, row_number() OVER (ORDER BY cos_s DESC, vec_id ASC) AS rn
           |    FROM cand) WHERE rn <= 50),
           |r AS (SELECT vec_id, label, cluster, cos_s,
           |    ${cosSql("embedding", "qe")} AS cos FROM sl)
           |SELECT vec_id, label, cluster, ROUND(cos, 4) + 0.0 AS cos_sim,
           |  ROUND(cos_s, 4) + 0.0 AS cos_short
           |FROM r ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin),
    // annMrlServeFromPrefix mirror: the prefix-cosine shortlist as a row_number
    // window (rn <= 50, raw-cosine order with the vec_id tie-break),
    // then the full-dim rerank limited to k — both cosines emitted at
    // ROUND(,4)+0.0, ranking on the raw doubles exactly as the plan.
    "s_ann_mrl" ->
      s"""WITH q AS (SELECT embedding AS qe, embedding[1:16] AS qt
         |  FROM embeddings WHERE vec_id = 0),
         |c1 AS (SELECT e.vec_id, e.label, e.embedding, q.qe,
         |    ${cosSql("e.embedding[1:16]", "q.qt")} AS cos_s
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0),
         |sl AS (SELECT vec_id, label, embedding, qe, cos_s FROM (
         |    SELECT c1.*, row_number() OVER (ORDER BY cos_s DESC, vec_id ASC) AS rn
         |    FROM c1) WHERE rn <= 50),
         |r AS (SELECT vec_id, label, cos_s,
         |    ${cosSql("embedding", "qe")} AS cos FROM sl)
         |SELECT vec_id, label, ROUND(cos, 4) + 0.0 AS cos_sim,
         |  ROUND(cos_s, 4) + 0.0 AS cos_short
         |FROM r ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "s_ann_lsh" ->
      s"""WITH s AS (SELECT vec_id, label, embedding, $annLshSigExpr AS bucket
         |  FROM embeddings),
         |q AS (SELECT embedding AS qe, bucket AS qb FROM s WHERE vec_id = 0),
         |probes AS (SELECT qb AS probe FROM q
         |  UNION ALL SELECT xor(qb, (1::BIGINT << p))
         |  FROM q CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS p)),
         |cand AS (SELECT s.vec_id, s.label, s.bucket,
         |    ${cosSql("s.embedding", "q.qe")} AS cos
         |  FROM s CROSS JOIN q
         |  WHERE s.bucket IN (SELECT probe FROM probes) AND s.vec_id != 0)
         |SELECT vec_id, label, CAST(bucket AS BIGINT) AS bucket,
         |  ROUND(cos, 4) AS cos_sim
         |FROM cand ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // Mirror of dimReport: zipped unnest (value + position align
    // positionally in DuckDB), the same DECIMAL(28,10) moment sums and
    // double expression shapes.
    "s_dim_report" ->
      """WITH x AS (SELECT unnest(embedding) AS vf,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings),
        |m AS (SELECT CAST(pos - 1 AS INT) AS dim, CAST(vf AS DOUBLE) AS v FROM x),
        |a AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mu,
        |    CAST(SUM(CAST(v * v AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS m2,
        |    MIN(v) AS mn, MAX(v) AS mx
        |  FROM m GROUP BY 1)
        |SELECT dim, n, ROUND(mu, 4) + 0.0 AS mean_v,
        |  ROUND(sqrt(greatest(m2 - mu * mu, 0.0)), 4) + 0.0 AS std_v,
        |  ROUND(mn, 4) + 0.0 AS min_v, ROUND(mx, 4) + 0.0 AS max_v
        |FROM a""".stripMargin,
    // Mirror of centroidReport: per-(label, dim) fixed-point sums via
    // zipped unnest — the scaled addend is Java Math.round semantics,
    // i.e. EXACT floor(x + 0.5), written floor(x) + [frac(x) >= 0.5]
    // (frac is exact by Sterbenz; a literal floor(x + 0.5) FP-add could
    // round across a boundary DuckDB-side and diverge by 1). Centroid
    // rebuilt as a FLOAT list in dim order (list ORDER BY ≡ the kernel's
    // array<bigint> → array<float> cast), then the s_ann_topk cosine
    // fold, ROUND(,6) per member, DECIMAL(28,10) cohesion sum.
    "s_centroid_report" ->
      """WITH x AS (SELECT label, unnest(embedding) AS vf,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings),
        |f AS (SELECT label, CAST(pos - 1 AS INT) AS dim,
        |    CAST(vf AS DOUBLE) * 1000000000 AS sc FROM x),
        |s AS (SELECT label, dim,
        |    SUM(CAST(floor(sc) AS BIGINT) +
        |        CASE WHEN sc - floor(sc) >= 0.5 THEN 1 ELSE 0 END) AS sv
        |  FROM f GROUP BY 1, 2),
        |c AS (SELECT label, list(CAST(sv AS FLOAT) ORDER BY dim) AS cent
        |  FROM s GROUP BY 1),
        |e AS (SELECT e.label,
        |    list_sum(list_transform(list_zip(e.embedding, c.cent),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(e.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(c.cent,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM embeddings e JOIN c USING (label)),
        |r AS (SELECT label,
        |    CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END AS cv
        |  FROM e)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  ROUND(CAST(SUM(CAST(cv AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) + 0.0
        |    AS cohesion,
        |  ROUND(MIN(cv), 4) + 0.0 AS min_cos
        |FROM r GROUP BY 1""".stripMargin,
    // Mirror of centroidDrift: the same fixed-point sums split by vec_id
    // parity, FLOAT centroid lists joined even×odd per label (inner, as
    // the Spark join), counts from one parity-conditional aggregate.
    "s_centroid_drift" ->
      """WITH x AS (SELECT label, vec_id % 2 = 0 AS ev, unnest(embedding) AS vf,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings),
        |f AS (SELECT label, ev, CAST(pos - 1 AS INT) AS dim,
        |    CAST(vf AS DOUBLE) * 1000000000 AS sc FROM x),
        |s AS (SELECT label, ev, dim,
        |    SUM(CAST(floor(sc) AS BIGINT) +
        |        CASE WHEN sc - floor(sc) >= 0.5 THEN 1 ELSE 0 END) AS sv
        |  FROM f GROUP BY 1, 2, 3),
        |c AS (SELECT label, ev, list(CAST(sv AS FLOAT) ORDER BY dim) AS cent
        |  FROM s GROUP BY 1, 2),
        |n AS (SELECT label,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM embeddings GROUP BY 1),
        |j AS (SELECT a.label AS label, a.cent AS ca, b.cent AS cb
        |  FROM c a JOIN c b ON a.label = b.label AND a.ev AND NOT b.ev),
        |d AS (SELECT label,
        |    list_sum(list_transform(list_zip(ca, cb),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(ca,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(cb,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM j)
        |SELECT n.label, n.n_a, n.n_b,
        |  ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) + 0.0
        |    AS drift_cos
        |FROM n JOIN d USING (label)""".stripMargin,
    // Mirror of normReport: the same index-order square fold (list_sum
    // over list_transform ≡ the kernel's loop), ROUND(,4)+0.0 BEFORE
    // aggregation, quantile_cont ≡ percentile.
    "s_norm_report" ->
      """WITH n AS (SELECT label,
        |  ROUND(sqrt(list_sum(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 4) + 0.0 AS norm_r
        |FROM embeddings)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN norm_r = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |  ROUND(quantile_cont(norm_r, 0.5), 4) + 0.0 AS p50_norm,
        |  ROUND(quantile_cont(norm_r, 0.9), 4) + 0.0 AS p90_norm
        |FROM n GROUP BY 1""".stripMargin,
    // Approx mode: GK exact regime below sketch capacity ⇒ value at
    // 1-based rank ⌈q·N⌉ of the ascending per-label norms — the
    // d_dsir_threshold explicit-rank formula; norms ROUND(,4)+0.0
    // scan-side exactly as the exact mode.
    "s_norm_report_approx" ->
      """WITH n AS (SELECT label,
        |  ROUND(sqrt(list_sum(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 4) + 0.0 AS norm_r
        |FROM embeddings),
        |r AS (SELECT label, norm_r,
        |    row_number() OVER (PARTITION BY label ORDER BY norm_r ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY label) AS cnt
        |  FROM n)
        |SELECT label, CAST(MAX(cnt) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN norm_r = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |  MAX(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN norm_r END) + 0.0 AS p50_norm,
        |  MAX(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN norm_r END) + 0.0 AS p90_norm
        |FROM r GROUP BY 1""".stripMargin,
    "s_ann_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
        |s AS (SELECT q.query_id, e.vec_id, e.label,
        |  list_sum(list_transform(list_zip(e.embedding, q.qe),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |  sqrt(list_sum(list_transform(e.embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |  sqrt(list_sum(list_transform(q.qe,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM embeddings e, q WHERE e.vec_id != q.query_id),
        |r AS (SELECT query_id, vec_id, label,
        |  ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) + 0.0 AS cos_sim,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY (CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END) DESC,
        |             vec_id ASC) AS rn
        |  FROM s)
        |SELECT query_id, vec_id, label, cos_sim FROM r WHERE rn <= 10""".stripMargin,
    "s_ann_filtered" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT e.vec_id, e.label,
        |  list_sum(list_transform(list_zip(e.embedding, q.qe),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |  sqrt(list_sum(list_transform(e.embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |  sqrt(list_sum(list_transform(q.qe,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM embeddings e, q WHERE e.vec_id != 0 AND e.label IN (1, 3, 5))
        |SELECT vec_id, label,
        |  ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) + 0.0 AS cos_sim
        |FROM s
        |ORDER BY (CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END) DESC, vec_id ASC
        |LIMIT 20""".stripMargin,
    "s_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT e.vec_id, e.label,
        |  list_sum(list_transform(list_zip(e.embedding, q.qe),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |  sqrt(list_sum(list_transform(e.embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |  sqrt(list_sum(list_transform(q.qe,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM embeddings e, q WHERE e.vec_id != 0)
        |SELECT vec_id, label,
        |  ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) + 0.0 AS cos_sim
        |FROM s
        |ORDER BY (CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END) DESC, vec_id ASC
        |LIMIT 20""".stripMargin,
    // Ranking is on the ROUNDED + 0.0-normalized cosine (the emitted
    // value) with an nbr_id tie-break — identical doubles on both
    // engines, so the per-vector top-5 SET is engine-independent.
    "s_knn_join" ->
      """WITH p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, a.label AS label,
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |  sqrt(list_sum(list_transform(a.embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |  sqrt(list_sum(list_transform(b.embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |s AS (SELECT vec_id, nbr_id, label,
        |  ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) + 0.0 AS cos_sim
        |  FROM p),
        |r AS (SELECT vec_id, nbr_id, label, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos_sim DESC, nbr_id ASC) AS INT) AS knn_rank
        |  FROM s)
        |SELECT vec_id, nbr_id, label, cos_sim, knn_rank FROM r
        |WHERE knn_rank <= 5""".stripMargin)
}
