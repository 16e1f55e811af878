package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions

/** Full-text retrieval over the corpus (SURVEY.md §2.3): Okapi BM25
  * keyword search and BM25+vector hybrid fusion — the two retrieval
  * primitives a training-data pipeline needs for "find documents about
  * X" curation queries and RAG-style eval-set construction.
  *
  * Reference scope note: the reference engine (mbta-etl) has no search
  * surface at all; these follow the published BM25 (Robertson/Spärck
  * Jones; the `ln(1 + (N-df+0.5)/(df+0.5))` non-negative idf variant
  * popularized by Lucene) and Reciprocal Rank Fusion (Cormack et al.
  * 2009, k=60) formulas.
  *
  * Plan shape (100 TB story):
  *  - Tokenization + per-term tf are SCAN-SIDE: `graft_stopword_profile`
  *    (one codegen tokenization pass per row against the literal term
  *    lists) yields `[dl, tf_term1, …]` — no explode of the token
  *    stream, the corpus text never shuffles.
  *  - Corpus stats (N, Σdl, per-term df) are ONE tiny map-side-combined
  *    aggregate producing a single row, recombined via broadcast
  *    (`crossJoin` of a 1-row frame).
  *  - Top-k is `orderBy(score).limit(k)` → TakeOrderedAndProject:
  *    per-partition heaps, only k rows ever reach the driver-side merge;
  *    the rank `row_number` window runs AFTER the limit, over ≤ k rows.
  *    No global sort, no per-query single-partition shuffle of the
  *    matched set.
  *  - Scores are per-term doubles (identical parenthesization on both
  *    engines — every division is IEEE-exact and `ln` agrees on this
  *    corpus, same reliance as t_perplexity) cast to DECIMAL(28,10) and
  *    summed exactly; ordering uses the exact decimal sum with a doc_id
  *    tie-break, display rounds to 4 per house policy.
  */
object Search {

  /** BM25 parameters (the standard defaults). */
  private val K1 = 1.2
  private val B  = 0.75

  /** The driver key's fixed query workload: high-/mid-frequency corpus
    * terms so every query matches at every SF. */
  private[graft] val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "q0" -> Seq("hash", "join"),
    "q1" -> Seq("vector", "stream", "batch"),
    "q2" -> Seq("customer", "data"))

  /** Distinct terms across the workload, in first-appearance order —
    * one `stopwordProfile` slot per term. */
  private def distinctTerms(queries: Seq[(String, Seq[String])]): Seq[String] =
    queries.flatMap(_._2).distinct

  /** Per-doc scan-side profile: `doc_id, dl, tf_<term>…` in one codegen
    * tokenization pass (no token explode). */
  private def profile(documents: DataFrame, terms: Seq[String]): DataFrame = {
    val prof = GraftFunctions.stopwordProfile(col("text"),
      typedlit(terms.map(Seq(_))))
    documents.select(
      col("doc_id") +: prof.getItem(0).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          prof.getItem(i + 1).as(s"tf_$t")
        }: _*)
  }

  /** One-row corpus statistics: doc count, total token count, per-term
    * document frequency. */
  private def corpusStats(prof: DataFrame, terms: Seq[String]): DataFrame =
    prof.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens") +:
        terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)

  /** The exact-decimal BM25 score of one query (sum of per-term decimal
    * scores; zero-tf terms contribute exactly 0). Identical expression
    * order to the DuckDB oracle — see class doc. */
  private def scoreExpr(terms: Seq[String]): Column = {
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    terms.map { t =>
      val tf  = col(s"tf_$t").cast("double")
      val df  = col(s"df_$t")
      val idf = log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
      val tfn = tf * lit(K1 + 1.0) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl))
      (idf * tfn).cast("decimal(28,10)")
    }.reduce(_ + _)
  }

  /** BM25 top-`k` per query over the fixed [[bm25Queries]] workload.
    * Output: `query_id, rank, doc_id, score` (matching docs only).
    *
    * `excludeDocId` (r15) drops one document from the CANDIDATE list
    * before ranking — the hybrid-fusion caller's self-hit guard (the
    * vector arm excludes `vec_id == query`; the lexical arm must too,
    * or a self-hit grades 2 in DCG while absent from the ideal list
    * and ndcg can read > 1). Corpus stats (df, avgdl) stay
    * full-corpus — the exclusion is a candidate filter, not a corpus
    * edit, mirroring the vector arm exactly. */
  def bm25TopK(documents: DataFrame,
               queries: Seq[(String, Seq[String])] = bm25Queries,
               k: Int = 20, excludeDocId: Option[Long] = None): DataFrame = {
    val terms = distinctTerms(queries)
    val prof  = profile(documents, terms)
    val stats = broadcast(corpusStats(prof, terms))
    val scored = prof.crossJoin(stats)
    queries.map { case (qid, qTerms) =>
      val s = scored
        .filter(qTerms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
        .filter(excludeDocId.map(col("doc_id") =!= _).getOrElse(lit(true)))
        .withColumn("s_exact", scoreExpr(qTerms))
        .orderBy(col("s_exact").desc, col("doc_id").asc)
        .limit(k)
      // rank window AFTER the limit: it only ever sees ≤ k rows
      s.select(lit(qid).as("query_id"),
          row_number().over(
            Window.orderBy(col("s_exact").desc, col("doc_id").asc)).as("rank"),
          col("doc_id"),
          (round(col("s_exact").cast("double"), 4) + lit(0.0)).as("score"))
    }.reduce(_.unionByName(_))
  }

  /** Reciprocal Rank Fusion (k=60) of a BM25 lexical list and an exact
    * cosine vector list over the same id space (`doc_id` ≡ `vec_id` in
    * the testdata corpus — each document has one embedding row).
    * The standard hybrid-search primitive: rrf = Σ_lists 1/(60+rank),
    * missing-from-a-list contributes 0.
    *
    * Both lists are top-`n` (TakeOrderedAndProject → rank over ≤ n
    * rows, same shape as [[bm25TopK]]); the fusion is a full-outer join
    * of two ≤ n-row frames — trivially broadcastable. 1/(60+rank) is
    * one IEEE-exact double division per side, cast DECIMAL(28,10),
    * summed exactly; ordering on the exact decimal, doc_id tie-break. */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                lexTerms: Seq[String] = Seq("hash", "join"),
                queryVecId: Long = RrfQueryVecId, n: Int = 100, k: Int = 20,
                rrfK: Int = 60): DataFrame =
    fuseRrf(rrfRankLists(documents, embeddings, lexTerms, queryVecId, n),
      k, Seq(rrfK)).drop("rrf_k")

  /** The two rrfK-INDEPENDENT rank lists the fusion consumes (≤ n rows
    * each — the expensive corpus scans live here). */
  private def rrfRankLists(documents: DataFrame, embeddings: DataFrame,
                           lexTerms: Seq[String], queryVecId: Long,
                           n: Int): (DataFrame, DataFrame) = {
    // the lexical arm excludes the query's own document just like the
    // vector arm below — a self-hit in the fused list would grade 2 in
    // DCG while the IDCG panel excludes it, skewing cross-arm ndcg
    val lex = bm25TopK(documents, Seq("q" -> lexTerms), n,
        excludeDocId = Some(queryVecId))
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val vec = Similarity.topKByCosine(embeddings.filter(col("vec_id") =!= queryVecId),
        Similarity.queryVector(embeddings, queryVecId), n)
      .select(col("vec_id"), row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id").asc)).as("vec_rank"))
    (lex, vec)
  }

  /** The fused top-`k` at each of `rrfKs`, tagged `rrf_k`: the
    * rrfK-independent full-outer fusion of the two rank lists is built
    * once and exploded over the candidates, and a window per `rrf_k`
    * keeps each candidate's top-k. The fused rows (≤ 2n per candidate)
    * sit in one partition, so the windows need no exchange. */
  private def fuseRrf(lists: (DataFrame, DataFrame), k: Int, rrfKs: Seq[Int]): DataFrame = {
    val (lex, vec) = lists
    def term(rank: String) =
      coalesce((lit(1.0) / (col("rrf_k") + col(rank))).cast("decimal(28,10)"),
        lit(0).cast("decimal(28,10)"))
    val w = Window.partitionBy(col("rrf_k")).orderBy(col("rrf_exact").desc, col("doc_id").asc)
    lex.join(vec, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        col("lex_rank"), col("vec_rank"), explode(typedlit(rrfKs)).as("rrf_k"))
      .coalesce(1)
      .withColumn("rrf_exact", term("lex_rank") + term("vec_rank"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("rrf_k"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        (round(col("rrf_exact").cast("double"), 4) + lit(0.0)).as("rrf_score"))
  }

  /** rrfK TUNING curve (r14) — the calibration sweep behind
    * [[hybridRrf]]'s single fusion constant (the s_nprobe_curve
    * governance discipline applied to retrieval fusion): the graded
    * [[metricsFromRanked]] card of the fused top-k at EACH candidate
    * rrfK, over ONE fusion of the two rank lists (the plan reads each
    * list and their full-outer join once; rrfK only re-weights ranks,
    * so extra candidates cost one more ≤ n-row window partition, never
    * another corpus scan). Cormack et al.'s k=60 is a pinned default,
    * not a law — a small k trusts head agreement, a large k flattens
    * toward vote counting; this card is the evidence that PICKS one
    * for a corpus. One row per (arm = rrf<k>), ndcg/mrr vs the
    * label/source graded panel. */
  def rrfCurve(documents: DataFrame, embeddings: DataFrame,
               lexTerms: Seq[String] = Seq("hash", "join"),
               queryVecId: Long = RrfQueryVecId, n: Int = 100, k: Int = 10,
               rrfKs: Seq[Int] = Seq(20, 60, 120)): DataFrame = {
    val ranked = fuseRrf(rrfRankLists(documents, embeddings, lexTerms, queryVecId, n),
        k, rrfKs)
      .select(concat(lit("rrf"), col("rrf_k").cast("string")).as("arm"),
        lit(queryVecId).as("query_id"), col("doc_id").as("vec_id"),
        row_number().over(Window.partitionBy(col("rrf_k"))
          .orderBy(desc("rrf_score"), asc("doc_id"))).as("rank"))
    val meta = embeddings.select(col("vec_id"), col("label"))
      .join(documents.select(col("doc_id").as("vec_id"), col("source")),
        Seq("vec_id"))
    metricsFromRanked(ranked, meta, Seq(queryVecId), k)
  }

  /** GRADED retrieval-quality metrics (r14) — nDCG@k + MRR per serving
    * arm, the rollout evidence [[Similarity.recallReport]]'s set-overlap
    * recall cannot give: set recall reads the same whether the best hit
    * lands #1 or #10; a fusion rollout (s_hybrid_rrf) needs the GRADED
    * position-weighted read. Deterministic graded panel: grade 2 =
    * same label as the query vector, grade 1 = same source document,
    * else 0 — gains 2^g−1 ∈ {0,1,3} are exact integers (the
    * d_lsh_tuning no-pow rule), each DCG term gain/ln(rank+1) is one
    * IEEE-exact division of engine-agreed doubles (ln of a small
    * integer — the t_perplexity reliance), per-term DECIMAL(28,10)
    * casts make the sums order-free, and nDCG's ln(2) base factor
    * cancels in the ratio so base-e DCG ≡ the textbook base-2 metric.
    * IDCG comes from corpus-wide relevance COUNTS (same-label n2,
    * same-source-different-label n1, query excluded): the ideal list
    * is n2 grade-2s then n1 grade-1s — two broadcast equi-joins of the
    * 5-row query panel against the id-joined (label, source) meta,
    * never a pair enumeration.
    *
    * Arms: 'exact' = [[Similarity.annTopKBatch]], 'ivf' =
    * [[Similarity.annIvfBatchFromIndex]] (the two ANN serving shapes),
    * 'rrf' = [[hybridRrf]] (query 0 — its fixed workload). Ranks are
    * re-derived per arm from the EMITTED (rounded) score with the id
    * tie-break — the s_knn_join engine-independence convention — via a
    * window over ≤ k rows per (arm, query). */
  def rankMetrics(documents: DataFrame, embeddings: DataFrame,
                  centroids: Seq[Seq[Double]], assigned: DataFrame,
                  queryVecIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
                  k: Int = 10, nProbe: Int = 2): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
    val exact = Similarity.annTopKBatch(embeddings, queryVecIds, k)
      .select(lit("exact").as("arm"), col("query_id"), col("vec_id"),
        row_number().over(wq).as("rank"))
    val ivf = Similarity.annIvfBatchFromIndex(centroids, assigned, queryVecIds, k, nProbe)
      .select(lit("ivf").as("arm"), col("query_id"), col("vec_id"),
        row_number().over(wq).as("rank"))
    val rrf = hybridRrf(documents, embeddings, k = k)
      .select(lit("rrf").as("arm"), lit(0L).as("query_id"),
        col("doc_id").as("vec_id"),
        row_number().over(Window.orderBy(desc("rrf_score"), asc("doc_id")))
          .as("rank"))
    val ranked = exact.unionByName(ivf).unionByName(rrf)
    val meta = embeddings.select(col("vec_id"), col("label"))
      .join(documents.select(col("doc_id").as("vec_id"), col("source")),
        Seq("vec_id"))
    metricsFromRanked(ranked, meta, queryVecIds, k)
  }

  /** The metric arithmetic over pre-ranked lists — split out so the
    * spec can plant an inverted ranking and assert the exact values.
    * `ranked` = (arm, query_id, vec_id, rank ≤ k); `meta` = (vec_id,
    * label, source) for every id either side references. */
  private[graft] def metricsFromRanked(ranked: DataFrame, meta: DataFrame,
                                       queryVecIds: Seq[Long], k: Int): DataFrame = {
    val spark = ranked.sparkSession
    val qMeta = broadcast(
      meta.filter(col("vec_id").isin(queryVecIds: _*))
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("source").as("q_source")))
    // corpus-wide relevance counts (query row excluded) — the IDCG
    // denominators; two broadcast equi-joins, aggregated per query
    val n2s = meta.join(qMeta,
        col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n2"))
    val n1s = meta.join(qMeta,
        col("source") === col("q_source") && col("label") =!= col("q_label") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n1"))
    val ranks = spark.range(1L, k + 1L).select(col("id").as("i"))
    val idcg = qMeta.select(col("query_id"))
      .join(n2s, Seq("query_id"), "left").join(n1s, Seq("query_id"), "left")
      .na.fill(0L, Seq("n2", "n1"))
      .crossJoin(broadcast(ranks))
      .withColumn("iterm",
        (when(col("i") <= col("n2"), lit(3.0))
          .when(col("i") <= col("n2") + col("n1"), lit(1.0))
          .otherwise(lit(0.0)) /
          log(col("i").cast("double") + lit(1.0)))
          .cast(org.apache.spark.sql.types.DecimalType(28, 10)))
      .groupBy(col("query_id"))
      .agg(sum(col("iterm")).as("idcg_e"),
        max(col("n2")).as("n_rel_label"), max(col("n1")).as("n_rel_source"))
    // one meta scan with the ≤ #arms·|panel|·k-row ranked frame
    // broadcast into it, then the 5-row panel joined on
    val graded = meta.join(broadcast(ranked), Seq("vec_id"))
      .join(qMeta, Seq("query_id"))
      .withColumn("grade",
        when(col("label") === col("q_label"), 2)
          .when(col("source") === col("q_source"), 1)
          .otherwise(0))
    val dcg = graded.groupBy(col("arm"), col("query_id"))
      .agg(
        sum((when(col("grade") === 2, lit(3.0))
          .when(col("grade") === 1, lit(1.0)).otherwise(lit(0.0)) /
          log(col("rank").cast("double") + lit(1.0)))
          .cast(org.apache.spark.sql.types.DecimalType(28, 10))).as("dcg_e"),
        min(when(col("grade") === 2, col("rank"))).as("first_rel"))
    dcg.join(broadcast(idcg), Seq("query_id"))
      .select(col("arm"), col("query_id"),
        col("n_rel_label"), col("n_rel_source"),
        (when(col("idcg_e") === lit(0).cast("decimal(28,10)"), lit(0.0))
          .otherwise(round(col("dcg_e").cast("double") /
            col("idcg_e").cast("double"), 4)) + lit(0.0)).as("ndcg"),
        (when(col("first_rel").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("first_rel"), 4)) + lit(0.0)).as("mrr"))
  }

  // ---- driver wiring ----

  /** The ONE query vector id the rrf/rank-metric keys and their
    * DuckDB mirrors share (r16 — ADVICE): every self-hit exclusion on
    * both engines interpolates this constant, so the two sides cannot
    * silently desynchronize if a future key picks a different query. */
  private[ops] val RrfQueryVecId = 0L

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "t_bm25" -> ((s, d) => bm25TopK(Tables(s, d).documents)),
    "s_rank_metrics" -> ((s, d) => {
      val (cents, assigned) = graft.core.Catalog.ivfIndex(s, d)
      rankMetrics(Tables(s, d).documents, Tables(s, d).embeddings,
        cents, assigned)
    }),
    "s_rrf_curve" -> ((s, d) =>
      rrfCurve(Tables(s, d).documents, Tables(s, d).embeddings)),
    "s_hybrid_rrf" -> ((s, d) =>
      hybridRrf(Tables(s, d).documents, Tables(s, d).embeddings)))

  /** Shared oracle CTE: scan-side profile + one-row stats, mirroring
    * [[profile]]/[[corpusStats]] (list_filter == the kernel's
    * hash-set membership count, len(non-empty) == its token count). */
  private def profCte(terms: Seq[String]): String = {
    val tfCols = terms.map(t =>
      s"    len(list_filter(toks, x -> x = '$t')) AS tf_$t").mkString(",\n")
    val dfCols = terms.map(t =>
      s"    SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents),
       |prof AS (
       |  SELECT doc_id,
       |    len(list_filter(toks, x -> x != '')) AS dl,
       |$tfCols
       |  FROM toks),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    SUM(dl) AS total_tokens,
       |$dfCols
       |  FROM prof)""".stripMargin
  }

  /** Per-query exact-decimal BM25 score in DuckDB syntax — the same
    * expression order as [[scoreExpr]], term by term. */
  private def scoreSql(terms: Seq[String]): String =
    terms.map { t =>
      s"""CAST(ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) *
         |      (CAST(tf_$t AS DOUBLE) * 2.2 /
         |       (CAST(tf_$t AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(total_tokens AS DOUBLE) / n_docs))))
         |      AS DECIMAL(28,10))""".stripMargin.replaceAll("\n\\s*", " ")
    }.mkString(" + ")

  private def bm25QuerySql(qid: String, terms: Seq[String], k: Int): String = {
    val nonZero = terms.map(t => s"tf_$t").mkString(" + ")
    s"""SELECT '$qid' AS query_id, CAST(rank AS INTEGER) AS rank, doc_id, ROUND(CAST(s_exact AS DOUBLE), 4) + 0.0 AS score
       |FROM (
       |  SELECT doc_id, ${scoreSql(terms)} AS s_exact,
       |    row_number() OVER (ORDER BY ${scoreSql(terms)} DESC, doc_id ASC) AS rank
       |  FROM prof, stats
       |  WHERE $nonZero > 0)
       |WHERE rank <= $k""".stripMargin
  }

  /** Shared mirror fragments for the graded-metric family
    * (s_rank_metrics, s_rrf_curve): the meta/panel/IDCG chain and the
    * rrf rank-list CTEs — one source of truth, so a metric fix reaches
    * every card. */
  private def metricPanelCtes(ids: Seq[Int], k: Int): String =
    s"""meta AS (SELECT e.vec_id, e.label, d.source
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |qm AS (SELECT vec_id AS query_id, label AS q_label, source AS q_source
       |  FROM meta WHERE vec_id IN (${ids.mkString(", ")})),
       |rn2t AS (SELECT query_id, COUNT(*) AS n2 FROM meta m JOIN qm
       |  ON m.label = qm.q_label AND m.vec_id != qm.query_id GROUP BY 1),
       |rn1t AS (SELECT query_id, COUNT(*) AS n1 FROM meta m JOIN qm
       |  ON m.source = qm.q_source AND m.label != qm.q_label
       |    AND m.vec_id != qm.query_id GROUP BY 1),
       |rks AS (SELECT unnest(generate_series(1, $k)) AS i),
       |idcgt AS (SELECT query_id,
       |    SUM(CAST((CASE WHEN i <= n2 THEN 3.0
       |              WHEN i <= n2 + n1 THEN 1.0 ELSE 0.0 END)
       |        / ln(CAST(i AS DOUBLE) + 1.0) AS DECIMAL(28,10))) AS idcg_e,
       |    CAST(MAX(n2) AS BIGINT) AS n_rel_label,
       |    CAST(MAX(n1) AS BIGINT) AS n_rel_source
       |  FROM (SELECT qm.query_id, COALESCE(rn2t.n2, 0) AS n2,
       |      COALESCE(rn1t.n1, 0) AS n1
       |    FROM qm LEFT JOIN rn2t USING (query_id) LEFT JOIN rn1t USING (query_id))
       |  CROSS JOIN rks GROUP BY 1)""".stripMargin

  /** The rrfK-independent lexical/vector rank-list CTEs (rlex, rvec)
    * — the s_hybrid_rrf arms at top-100. Requires prof/stats in
    * scope. */
  private def rrfListCtes(lexTerms: Seq[String],
                          queryVecId: Long = RrfQueryVecId): String = {
    val nonZero = lexTerms.map(t => s"tf_$t").mkString(" + ")
    // the self-hit exclusions interpolate the SAME query id the engine
    // side uses (ADVICE r15: a hardcoded `!= 0` here would silently
    // desynchronize from a key instantiated with a different id)
    s"""rlex AS (
       |  SELECT doc_id, CAST(rank AS INTEGER) AS lex_rank FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY ${scoreSql(lexTerms)} DESC, doc_id ASC) AS rank
       |    FROM prof, stats
       |    WHERE $nonZero > 0 AND doc_id != $queryVecId)
       |  WHERE rank <= 100),
       |rq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryVecId),
       |rvs AS (SELECT e.vec_id, ${Similarity.cosSql("e.embedding", "rq.qe")} AS cosr
       |  FROM embeddings e, rq WHERE e.vec_id != $queryVecId),
       |rvec AS (
       |  SELECT vec_id, CAST(rank AS INTEGER) AS vec_rank FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY cosr DESC, vec_id ASC) AS rank
       |    FROM rvs)
       |  WHERE rank <= 100)""".stripMargin
  }

  /** One rrf fusion leg at constant `kk`: fused ranks → top-`k` →
    * re-ranked arm CTE `ra$kk` labeled `arm`. Requires rlex/rvec in
    * scope. */
  private def rrfArmCtes(kk: Int, k: Int, arm: String): String =
    s"""rf$kk AS (
       |  SELECT COALESCE(rlex.doc_id, rvec.vec_id) AS doc_id,
       |    COALESCE(CAST(CAST(1.0 AS DOUBLE) / ($kk + lex_rank) AS DECIMAL(28,10)),
       |        CAST(0 AS DECIMAL(28,10))) +
       |      COALESCE(CAST(CAST(1.0 AS DOUBLE) / ($kk + vec_rank) AS DECIMAL(28,10)),
       |        CAST(0 AS DECIMAL(28,10))) AS rrf_exact
       |  FROM rlex FULL OUTER JOIN rvec ON rlex.doc_id = rvec.vec_id),
       |rt$kk AS (SELECT doc_id, ROUND(CAST(rrf_exact AS DOUBLE), 4) + 0.0 AS sc
       |  FROM rf$kk ORDER BY rrf_exact DESC, doc_id ASC LIMIT $k),
       |ra$kk AS (SELECT '$arm' AS arm, CAST(0 AS BIGINT) AS query_id,
       |    doc_id AS vec_id,
       |    CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS INT) AS rank
       |  FROM rt$kk)""".stripMargin

  /** The shared graded-metric tail over a `candu(arm, query_id,
    * vec_id, rank)` CTE. */
  private val metricTailSql =
    """gradedt AS (SELECT c.arm, c.query_id, c.rank,
      |    CASE WHEN m.label = qm.q_label THEN 2
      |         WHEN m.source = qm.q_source THEN 1 ELSE 0 END AS grade
      |  FROM candu c JOIN meta m ON m.vec_id = c.vec_id
      |  JOIN qm ON qm.query_id = c.query_id),
      |dcgt AS (SELECT arm, query_id,
      |    SUM(CAST((CASE grade WHEN 2 THEN 3.0 WHEN 1 THEN 1.0 ELSE 0.0 END)
      |        / ln(CAST(rank AS DOUBLE) + 1.0) AS DECIMAL(28,10))) AS dcg_e,
      |    MIN(CASE WHEN grade = 2 THEN rank END) AS first_rel
      |  FROM gradedt GROUP BY 1, 2)
      |SELECT arm, query_id, n_rel_label, n_rel_source,
      |  (CASE WHEN idcg_e = 0 THEN 0.0
      |    ELSE ROUND(CAST(dcg_e AS DOUBLE) / CAST(idcg_e AS DOUBLE), 4) END)
      |    + 0.0 AS ndcg,
      |  (CASE WHEN first_rel IS NULL THEN 0.0
      |    ELSE ROUND(CAST(1.0 AS DOUBLE) / first_rel, 4) END) + 0.0 AS mrr
      |FROM dcgt JOIN idcgt USING (query_id)""".stripMargin

  /** The s_rrf_curve mirror: the shared rank lists once, one fusion
    * leg per candidate rrfK, the shared graded-metric tail. */
  private def rrfCurveOracle: String = {
    val lexTerms = Seq("hash", "join")
    val rrfKs = Seq(20, 60, 120)
    s"""${profCte(lexTerms)},
       |${metricPanelCtes(Seq(0), 10)},
       |${rrfListCtes(lexTerms)},
       |${rrfKs.map(kk => rrfArmCtes(kk, 10, s"rrf$kk")).mkString(",\n")},
       |candu AS (${rrfKs.map(kk => s"SELECT * FROM ra$kk").mkString("\n  UNION ALL ")}),
       |$metricTailSql""".stripMargin
  }

  /** The s_rank_metrics mirror: each arm's top-k replayed exactly like
    * its own oracle (exact = s_ann_batch's chain, ivf = the unrolled
    * Lloyd fit + probe chain, rrf = the s_hybrid_rrf fusion at k=10),
    * re-ranked on the ROUNDED emitted score with the id tie-break,
    * then the shared graded-metric arithmetic. */
  private def rankMetricsOracle: String = {
    val lexTerms = Seq("hash", "join")
    val ids = Seq(0, 1, 2, 3, 4)
    def ivfArmOne(qid: Int): String =
      s"""bq$qid AS (SELECT embedding AS qe FROM eiv WHERE vec_id = $qid),
         |bp$qid AS (SELECT c FROM (
         |    SELECT c2.c, row_number() OVER (ORDER BY ${Similarity.d2Sql(s"bq$qid.qe", "c2.cent")} ASC, c2.c ASC) AS rn
         |    FROM c2 CROSS JOIN bq$qid) WHERE rn <= 2),
         |bs$qid AS (SELECT * FROM (
         |    SELECT CAST($qid AS BIGINT) AS query_id, af.vec_id,
         |      ${Similarity.cosSql("af.embedding", s"bq$qid.qe")} AS cosr
         |    FROM af CROSS JOIN bq$qid
         |    WHERE af.cluster IN (SELECT c FROM bp$qid) AND af.vec_id != $qid)
         |  ORDER BY cosr DESC, vec_id ASC LIMIT 10)""".stripMargin
    s"""${profCte(lexTerms)},
       |${Similarity.ivfFitCte},
       |${metricPanelCtes(ids, 10)},
       |xs AS (SELECT q.query_id, e.vec_id,
       |    ${Similarity.cosSql("e.embedding", "q.qe")} AS cosr
       |  FROM embeddings e
       |  JOIN (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |        WHERE vec_id IN (${ids.mkString(", ")})) q
       |    ON e.vec_id != q.query_id),
       |xr AS (SELECT query_id, vec_id, ROUND(cosr, 4) + 0.0 AS sc FROM (
       |    SELECT query_id, vec_id, cosr, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosr DESC, vec_id ASC) AS rn
       |    FROM xs) WHERE rn <= 10),
       |xarm AS (SELECT 'exact' AS arm, query_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sc DESC, vec_id ASC) AS INT) AS rank
       |  FROM xr),
       |${ids.map(ivfArmOne).mkString(",\n")},
       |iarm AS (SELECT 'ivf' AS arm, query_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sc DESC, vec_id ASC) AS INT) AS rank
       |  FROM (${ids.map(q =>
                s"SELECT query_id, vec_id, ROUND(cosr, 4) AS sc FROM bs$q")
                .mkString("\n    UNION ALL ")})),
       |${rrfListCtes(lexTerms)},
       |${rrfArmCtes(60, 10, "rrf")},
       |candu AS (SELECT * FROM xarm UNION ALL SELECT * FROM iarm
       |  UNION ALL SELECT * FROM ra60),
       |$metricTailSql""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "s_rank_metrics" -> rankMetricsOracle,
    "s_rrf_curve" -> rrfCurveOracle,
    "t_bm25" -> {
      val terms = distinctTerms(bm25Queries)
      s"""${profCte(terms)}
         |${bm25Queries.map { case (qid, ts) => bm25QuerySql(qid, ts, 20) }
            .mkString("\nUNION ALL\n")}""".stripMargin
    },
    "s_hybrid_rrf" -> {
      val lexTerms = Seq("hash", "join")
      s"""${profCte(lexTerms)},
         |lex AS (
         |  SELECT doc_id, CAST(rank AS INTEGER) AS lex_rank FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY ${scoreSql(lexTerms)} DESC, doc_id ASC) AS rank
         |    FROM prof, stats
         |    WHERE tf_hash + tf_join > 0 AND doc_id != $RrfQueryVecId)
         |  WHERE rank <= 100),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $RrfQueryVecId),
         |vs AS (SELECT e.vec_id,
         |    list_sum(list_transform(list_zip(e.embedding, q.qe),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
         |    sqrt(list_sum(list_transform(e.embedding,
         |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
         |    sqrt(list_sum(list_transform(q.qe,
         |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
         |  FROM embeddings e, q WHERE e.vec_id != $RrfQueryVecId),
         |vec AS (
         |  SELECT vec_id, CAST(rank AS INTEGER) AS vec_rank FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY (CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END) DESC,
         |        vec_id ASC) AS rank
         |    FROM vs)
         |  WHERE rank <= 100),
         |fused AS (
         |  SELECT COALESCE(lex.doc_id, vec.vec_id) AS doc_id, lex_rank, vec_rank,
         |    COALESCE(CAST(CAST(1.0 AS DOUBLE) / (60 + lex_rank) AS DECIMAL(28,10)),
         |        CAST(0 AS DECIMAL(28,10))) +
         |      COALESCE(CAST(CAST(1.0 AS DOUBLE) / (60 + vec_rank) AS DECIMAL(28,10)),
         |        CAST(0 AS DECIMAL(28,10))) AS rrf_exact
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.vec_id)
         |SELECT doc_id, lex_rank, vec_rank,
         |  ROUND(CAST(rrf_exact AS DOUBLE), 4) + 0.0 AS rrf_score
         |FROM fused
         |ORDER BY rrf_exact DESC, doc_id ASC
         |LIMIT 20""".stripMargin
    })
}
