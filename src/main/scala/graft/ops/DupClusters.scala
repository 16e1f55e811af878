package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: the step a production dedup pipeline
  * runs BETWEEN pair mining and row dropping (SURVEY.md §2.3). Near-dup
  * pairs are edges of a graph; the unit of deduplication is its
  * connected component (A≈B and B≈C must land in one cluster even when
  * A and C themselves fall below τ), and the survivor is one
  * representative per component.
  *
  * Components come from the alternating large-star/small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014): each round is two self-contained DataFrame jobs (a
  * groupBy-min and an equi-join back), the edge set only ever shrinks
  * toward stars, and convergence takes O(log n) rounds on any graph —
  * at 100 TB that is a handful of bounded shuffles, with NO driver-side
  * graph state (the driver sees one (count, checksum) scalar per round).
  * Label-propagation by contrast needs O(diameter) rounds, and
  * GraphX-style vertex programs would pin the whole graph in RDD land.
  */
object DupClusters {

  /** Minimum-reachable-id connected components.
    *
    * @param pairs    undirected edges — first two columns are the
    *                 endpoint ids (self-loops and duplicates tolerated)
    * @param vertices one column of vertex ids (isolated vertices become
    *                 singleton clusters)
    * @return (doc_id, cluster_id) with cluster_id = min id reachable
    *         from doc_id; deterministic for any partitioning.
    *
    * The returned frame reads the final converged edge set, which is
    * persisted and O(one row per non-root clustered vertex) — callers
    * that serve many queries should persist the assignment itself
    * (see `Catalog.dupClusters`).
    */
  /** Star-round count of the most recent [[connectedComponents]]
    * convergence in this JVM — instrumentation for the stress ladder's
    * O(log n) rounds claim (read by tools/Stress after a clustering
    * arm; never part of a query plan). */
  @volatile var lastRounds: Int = -1

  def connectedComponents(pairs: DataFrame, vertices: DataFrame,
                          maxRounds: Int = 25): DataFrame = {
    val Array(pa, pb) = pairs.columns.take(2)
    var edges = materialize(pairs
      .select(greatest(col(pa), col(pb)).as("u"), least(col(pa), col(pb)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    var sig = checksum(edges)
    var converged = sig._1 == 0L // no edges: all singletons
    var round = 0
    while (!converged && round < maxRounds) {
      // One large/small alternation per materialize. Round-pairing
      // MEASURED NEGATIVE TWICE (r17): (a) unmaterialized pairing made
      // every CC key 2-3× slower (each star references its input
      // twice — symmetrize feeds both the groupBy-min and the join —
      // so the inner round's subtree re-evaluates 2-3×); (b) pairing
      // with a lazily CACHED inner round was slower still
      // (d_semantic_dedup warm 3.5 -> 8.5 s: the per-round cache
      // write + InMemoryRelation read of the edge frame costs more
      // than the saved checkpoint job at every tested size). Star
      // rounds keep their per-round barrier.
      val next = materialize(smallStar(largeStar(edges)))
      val nextSig = checksum(next)
      // The checksum is a cheap fixpoint pre-filter; on a match, confirm
      // EXACTLY once before declaring convergence — a 64-bit-sum
      // collision between different edge sets would otherwise terminate
      // early and persist a silently-wrong cluster map. Both frames are
      // distinct row sets with equal counts (part of the checksum), so
      // one-direction exceptAll proves set equality.
      converged = nextSig == sig && next.exceptAll(edges).isEmpty
      release(edges) // previous round's blocks; `next` is already materialized
      edges = next
      sig = nextSig
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    lastRounds = round
    // Fixpoint of both star operations = stars rooted at each component's
    // minimum: every remaining edge is (member, root). The groupBy-min is
    // the star read-off (and guards the u > v invariant).
    val vCol = vertices.columns.head
    val assign = edges.groupBy(col("u").as("__cc_id")).agg(min(col("v")).as("__cc_root"))
    vertices
      .join(assign, col(vCol) === col("__cc_id"), "left")
      .select(col(vCol).as("doc_id"),
        coalesce(col("__cc_root"), col(vCol)).as("cluster_id"))
  }

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its neighborhood (including itself). Keeps the (u > v) edge
    * orientation: emitted edges are (bigger neighbor, component-min so
    * far). One groupBy-min + one equi-join. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    // no distinct here (r17): smallStar — always composed directly on
    // top — ends in its own distinct, and its groupBy-min absorbs
    // duplicate edges in the map-side partial aggregate, so the
    // large-star dedup exchange was a per-round shuffle that changed
    // no result. Each materialized round stays a distinct edge SET
    // (smallStar's closing distinct guarantees it).
  }

  /** Small-star: every node connects its SMALLER neighbors (and itself)
    * to the minimum of those. Edges stay (u > v) by construction. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    val toSmaller = e.join(m, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    toSmaller.union(m.select(col("u"), col("m").as("v"))).distinct()
  }

  /** Each round's edge plan references the previous round's several
    * times (symmetrize + self-join), so without truncation the logical
    * plan grows exponentially in rounds — checkpointing cuts the lineage
    * to the materialized round. Reliable (checkpoint-dir) when the
    * application configured one — the right choice for long cluster
    * jobs — executor-local otherwise (the per-round edge frame only
    * shrinks, so re-deriving a lost block means re-running rounds, an
    * availability trade local jobs happily make). */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Release a finished round's checkpoint blocks. Each round's
    * materialized frame is dead once the next round exists (the final
    * converged frame is the one exception — it backs the returned
    * assignment and stays); without this every clustering/refresh call
    * leaks O(rounds) cached RDDs for the session lifetime. The blocks
    * hang off the checkpointed Dataset's LogicalRDD, not the cache
    * manager, so `Dataset.unpersist` cannot reach them. Reliable
    * (checkpoint-dir) files are NOT deleted here — Spark only cleans
    * them with `spark.cleaner.referenceTracking.cleanCheckpoints=true`,
    * or by periodic directory cleanup. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => () // round-0 input before any materialize, or reliable-checkpoint plans
    }

  /** Scalar convergence signature: (edge count, order-independent content
    * checksum). The only thing the driver ever sees per round. */
  private def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
    val row = e
      .agg(count(lit(1)), sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")))
      .collect()(0)
    (row.getLong(0), Option(row.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The production dedup graph over a documents table:
    *  - near-dup edges: LSH candidates verified by exact Jaccard ≥ τ
    *    (identical to the full inverted-index pair set, oracle-proven);
    *  - exact-dup edges: one STAR edge per extra member of each
    *    normalized-hash group (hub = min doc_id) — linear in group size,
    *    never the quadratic within-group pair set, and it catches short
    *    (<3-token) exact dups that have no shingles. */
  def dupEdges(documents: DataFrame, candidates: DataFrame, tau: Double = 0.8): DataFrame = {
    val near = Dedup.jaccardOnCandidatesFrom(Dedup.shingled(documents), candidates, tau)
      .select(col("doc_a"), col("doc_b"))
    val hashed = documents.select(col("doc_id"), md5(Dedup.normText(col("text"))).as("h"))
    val hubs = hashed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("hub"), count(lit(1)).as("n"))
      .where(col("n") > 1)
      .select(col("h"), col("hub"))
    val exact = hashed.join(hubs, "h")
      .where(col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
    near.union(exact)
  }

  /** (doc_id, cluster_id) for EVERY document: cluster_id = min doc_id of
    * the near-dup component (singletons map to themselves). */
  def dupClusters(documents: DataFrame, candidates: DataFrame, tau: Double = 0.8): DataFrame =
    connectedComponents(dupEdges(documents, candidates, tau), documents.select(col("doc_id")))

  /** Incremental cluster-map refresh: when a new batch of documents (and
    * their near-dup pairs against the grown corpus) arrives, the stored
    * assignment re-enters the computation as its STAR EDGES (member →
    * root, one row per already-clustered doc) — which have the same
    * connectivity as the original edge set, are already the algorithm's
    * fixpoint shape, and are linear in corpus size. Only the new edges
    * perturb the stars, so convergence is fast; a full recompute over
    * all historical pairs is never needed (the same new-rows-only
    * contract as `Store.refreshMinhashSignatures`). */
  def refresh(storedAssignment: DataFrame, newPairs: DataFrame,
              vertices: DataFrame): DataFrame = {
    val starEdges = storedAssignment
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val Array(na, nb) = newPairs.columns.take(2)
    connectedComponents(
      starEdges.unionByName(newPairs.select(col(na).as("doc_a"), col(nb).as("doc_b"))),
      vertices)
  }

  /** Survivor rows after cluster-level dedup: each component's minimum
    * doc_id (singletons survive trivially). Left-semi join back, so the
    * full-width document rows never enter the clustering shuffles. */
  def clusterKeep(documents: DataFrame, assignment: DataFrame): DataFrame =
    documents.join(
      assignment.where(col("doc_id") === col("cluster_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** QUALITY-AWARE cluster-level dedup survivors (r15): keep each
    * component's BEST document by the model quality score
    * (`TextAnalysis.qualityModelScores`) instead of [[clusterKeep]]'s
    * min-id convention — near-dup clusters in a web corpus typically
    * mix a clean original with boilerplate-framed and truncated
    * copies, and min-id keeps whichever was crawled first. Ordering:
    * q_score DESC NULLS LAST (a doc with no bigram signal never beats
    * a scored sibling; an all-unscored cluster falls back to min
    * doc_id via the tie-break), doc_id ASC on ties — a total order,
    * the top-k convention. Output: one row per cluster with the
    * survivor's id/source, the cluster id/size, and the winning score.
    *
    * Plan: the assignment (key columns) joins the slim scores frame,
    * ONE window partitioned by cluster_id picks the argmax (clusters
    * are bounded by the dedup radius, never corpus-sized partitions),
    * sizes ride a groupBy of the same assignment; the full-width
    * document row enters only by the final survivor semi-join. */
  def clusterKeepQuality(documents: DataFrame, assignment: DataFrame,
                         scores: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("q_score").desc_nulls_last, col("doc_id").asc)
    val ranked = assignment
      .join(scores.select(col("doc_id"), col("q_score")), Seq("doc_id"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("q_score"))
    val sizes = assignment.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    documents.select(col("doc_id"), col("source"))
      .join(ranked, Seq("doc_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("source"), col("cluster_id"),
        col("cluster_size"), col("q_score"))
  }

  /** Duplicate-cluster SIZE DISTRIBUTION — the dedup governance summary
    * a corpus release publishes (how much of the corpus sits in
    * singletons vs 2-copies vs mega-clusters; a heavy tail here means
    * boilerplate or a crawler loop): per component size s, the number
    * of clusters and documents at that size. Two count aggregates over
    * the (doc_id, cluster_id) assignment — key columns only, the
    * second collapses to ≤ #distinct-sizes rows; n_docs = s ·
    * n_clusters derives in-plan (no extra sum). */
  def clusterSizes(assignment: DataFrame): DataFrame =
    assignment.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  // ---- driver wiring ----

  import graft.core.{Catalog, Tables}

  /** All keys serve off the Catalog-cached assignment (clustering runs
    * once per (session, dir), like the signature table it feeds from). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_cluster_sizes" -> ((s, d) => clusterSizes(Catalog.dupClusters(s, d))),
    "d_dup_clusters" -> ((s, d) => Catalog.dupClusters(s, d)),
    "d_cluster_keep" -> ((s, d) =>
      clusterKeep(Tables(s, d).documents, Catalog.dupClusters(s, d))),
    // scores come from the Catalog-cached quality model (r16): the
    // serve pays the bounded cluster window + slim joins only, never
    // an NB refit + double token-stream scan per invocation
    "d_cluster_keep_quality" -> ((s, d) =>
      clusterKeepQuality(Tables(s, d).documents, Catalog.dupClusters(s, d),
        Catalog.qualityScores(s, d))))

  /** DuckDB mirror: same edge set (exact-jaccard pairs ∪ exact-hash star
    * edges), components via a recursive transitive-closure CTE — DuckDB
    * has no iterative star contraction, but min-over-reachable is the
    * same fixpoint at oracle scale. */
  private def reachCte: String = {
    val shingles = Dedup.shingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
    s"""$shingles,
       |${Dedup.invPairCte},
       |near AS (SELECT doc_a, doc_b FROM p
       |         WHERE ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.8),
       |hx AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
       |       FROM documents),
       |hub AS (SELECT h, MIN(doc_id) AS hub FROM hx GROUP BY h HAVING COUNT(*) > 1),
       |exact AS (SELECT hub.hub AS doc_a, hx.doc_id AS doc_b
       |          FROM hx JOIN hub USING (h) WHERE hx.doc_id != hub.hub),
       |e0 AS (SELECT doc_a AS u, doc_b AS v FROM near
       |       UNION SELECT doc_a, doc_b FROM exact),
       |e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id),
       |assign AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d_dup_clusters" ->
      s"""$reachCte
         |SELECT id AS doc_id, root AS cluster_id FROM assign""".stripMargin,
    "d_cluster_keep" ->
      s"""$reachCte
         |SELECT doc.doc_id, doc.text, doc.lang, doc.source, doc.n_chars
         |FROM documents doc JOIN assign ON doc.doc_id = assign.id
         |WHERE assign.id = assign.root""".stripMargin,
    "d_cluster_sizes" ->
      s"""$reachCte,
         |sizes AS (SELECT root, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM assign GROUP BY 1)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  cluster_size * CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY 1""".stripMargin,
    // clusterKeepQuality mirror: the same closure + the shared NB
    // log-odds scorer (q_score over EVERY doc — the t_quality_model
    // chain), argmax per root with DESC NULLS LAST + id tie (both
    // engines' explicit null order), sizes off the same assignment.
    "d_cluster_keep_quality" ->
      s"""$reachCte,
         |qsk AS (SELECT doc_id, q_score FROM
         |  (${graft.ops.Sampling.nbLogOddsSql("src0", excludeTarget = false, "q_score")})),
         |rkq AS (SELECT a.id AS doc_id, a.root, qsk.q_score,
         |    row_number() OVER (PARTITION BY a.root
         |      ORDER BY qsk.q_score DESC NULLS LAST, a.id ASC) AS rn
         |  FROM assign a LEFT JOIN qsk ON qsk.doc_id = a.id),
         |csq AS (SELECT root, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM assign GROUP BY 1)
         |SELECT d.doc_id, d.source, rkq.root AS cluster_id,
         |  csq.cluster_size, rkq.q_score
         |FROM rkq
         |JOIN documents d ON d.doc_id = rkq.doc_id
         |JOIN csq ON csq.root = rkq.root
         |WHERE rkq.rn = 1""".stripMargin)
}
