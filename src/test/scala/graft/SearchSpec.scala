package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Dedup, Search}

/** Semantics of the retrieval family (BM25 + hybrid RRF) and the
  * SoftDeDup weighting, differential-tested against plain-Scala
  * reference implementations over the sf0.001 corpus. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, TestSpark.sf0001).documents
  private lazy val embs = Tables(spark, TestSpark.sf0001).embeddings

  /** Plain-Scala BM25 reference (same formula, naive loops). */
  private def referenceBm25(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq).toSeq
    val n = corpus.length
    val avgdl = corpus.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t => t -> corpus.count(_._2.contains(t))).toMap
    corpus.flatMap { case (id, toks) =>
      val tfs = terms.map(t => t -> toks.count(_ == t)).toMap
      if (tfs.values.sum == 0) None
      else {
        val s = terms.map { t =>
          val tf = tfs(t).toDouble
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          val tfn = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks.length / avgdl))
          BigDecimal(idf * tfn).setScale(10, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        Some(id -> s)
      }
    }.sortBy { case (id, s) => (-s, id) }.take(k)
      .map { case (id, s) => id -> (s.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0) }
  }

  test("bm25TopK: matches a plain-Scala reference ranking, ranks contiguous") {
    for ((qid, terms) <- Search.bm25Queries) {
      val got = Search.bm25TopK(docs).filter(col("query_id") === qid)
        .orderBy("rank").collect()
        .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      val want = referenceBm25(terms, 20)
      assert(got.map(_._1).toSeq == (1 to got.length), s"$qid ranks not contiguous")
      assert(got.map(_._2).toSeq == want.map(_._1), s"$qid ranking differs from reference")
      got.zip(want).foreach { case ((_, id, s), (wid, ws)) =>
        assert(id == wid && math.abs(s - ws) < 1e-9, s"$qid doc $id score $s vs reference $ws")
      }
    }
  }

  test("bm25TopK: only matching docs appear; a doc with every query term outranks a same-length doc with one") {
    val tiny = Seq(
      (1L, "hash join hash join filler filler filler filler"),
      (2L, "hash table scan scan filler filler filler filler"),
      (3L, "sort sort sort sort filler filler filler filler"))
      .toDF("doc_id", "text")
    val out = Search.bm25TopK(tiny, Seq("q" -> Seq("hash", "join")), 10).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L)) // doc 3 matches nothing
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
    assert(byId(1L) < byId(2L)) // both terms, higher tf, beats single-term match
  }

  test("hybridRrf: rrf score is exactly 1/(60+lex)+1/(60+vec); members come only from the two lists") {
    val out = Search.hybridRrf(docs, embs).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val lex = Option(r.getAs[Integer]("lex_rank")).map(_.toInt)
      val vec = Option(r.getAs[Integer]("vec_rank")).map(_.toInt)
      assert(lex.isDefined || vec.isDefined)
      assert(lex.forall(x => x >= 1 && x <= 100) && vec.forall(x => x >= 1 && x <= 100))
      val want = (lex.map(x => BigDecimal(1.0 / (60 + x)).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .getOrElse(BigDecimal(0)) +
        vec.map(x => BigDecimal(1.0 / (60 + x)).setScale(10, BigDecimal.RoundingMode.HALF_UP))
          .getOrElse(BigDecimal(0))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("rrf_score") - want) < 1e-9)
    }
    // a doc ranked high on BOTH lists must beat one present on a single list
    val both = out.filter(r => r.getAs[Integer]("lex_rank") != null && r.getAs[Integer]("vec_rank") != null)
    if (both.nonEmpty) {
      val bestBoth = both.map(_.getAs[Double]("rrf_score")).max
      val singleBest = 1.0 / 61
      assert(bestBoth > singleBest - 1e-9 || out.length == 20)
    }
  }

  test("hybridRrf fails on a query vec_id the embeddings do not hold") {
    val missing = Long.MaxValue
    val e = intercept[IllegalArgumentException](
      Search.hybridRrf(docs, embs, queryVecId = missing).collect())
    assert(e.getMessage.contains(missing.toString), e.getMessage)
  }

  test("rankMetrics: ideal order scores ndcg 1.0 / mrr 1.0; the planted inversion scores the hand-computed ndcg and mrr = 1/first-relevant") {
    import graft.ops.Search
    // query 0 (label 1, source a); corpus: ids 1,2 same label (grade 2),
    // id 3 same source only (grade 1), ids 4,5 irrelevant → n2=2, n1=1
    val meta = Seq(
      (0L, 1, "a"), (1L, 1, "b"), (2L, 1, "c"),
      (3L, 2, "a"), (4L, 3, "d"), (5L, 4, "e"))
      .toDF("vec_id", "label", "source")
    val ideal = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 4), (5L, 5))
      .toDF("vec_id", "rank")
      .select(lit("ideal").as("arm"), lit(0L).as("query_id"),
        col("vec_id"), col("rank"))
    val inverted = Seq((4L, 1), (5L, 2), (3L, 3), (2L, 4), (1L, 5))
      .toDF("vec_id", "rank")
      .select(lit("inverted").as("arm"), lit(0L).as("query_id"),
        col("vec_id"), col("rank"))
    val out = Search.metricsFromRanked(ideal.unionByName(inverted), meta,
      Seq(0L), k = 5)
      .collect().map(r => r.getAs[String]("arm") ->
        ((r.getAs[Long]("n_rel_label"), r.getAs[Long]("n_rel_source"),
          r.getAs[Double]("ndcg"), r.getAs[Double]("mrr")))).toMap
    // replicate the engine arithmetic exactly: per-term double, cast
    // DECIMAL(28,10) (HALF_UP), exact sum, one double division, ROUND 4
    def dec(x: Double) = BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    def term(gain: Double, rank: Int) = dec(gain / math.log(rank + 1.0))
    val idcg = term(3, 1) + term(3, 2) + term(1, 3)
    val dcgInv = term(1, 3) + term(3, 4) + term(3, 5)
    val expectInv = BigDecimal(dcgInv.toDouble / idcg.toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("ideal") == ((2L, 1L, 1.0, 1.0)),
      s"ideal arm must score perfect ndcg/mrr, got ${out("ideal")}")
    assert(out("inverted") == ((2L, 1L, expectInv, 0.25)),
      s"inverted arm must score ($expectInv, 0.25), got ${out("inverted")}")
  }

  test("rrfCurve: the rrf60 arm reproduces hybridRrf's graded card exactly; every candidate rrfK emits one row; shared lists mean shared members at k extremes") {
    import graft.core.Tables
    import graft.ops.Search
    val docs = Tables(spark, TestSpark.sf0001).documents
    val emb = Tables(spark, TestSpark.sf0001).embeddings
    val curve = Search.rrfCurve(docs, emb).collect()
      .map(r => r.getAs[String]("arm") ->
        ((r.getAs[Long]("n_rel_label"), r.getAs[Long]("n_rel_source"),
          r.getAs[Double]("ndcg"), r.getAs[Double]("mrr")))).toMap
    assert(curve.keySet == Set("rrf20", "rrf60", "rrf120"),
      s"one row per candidate rrfK: ${curve.keySet}")
    // consistency across cards: the curve's rrf60 arm IS hybridRrf's
    // fusion — its graded numbers must equal a direct metric pass over
    // the same ranking (the same metricsFromRanked arithmetic)
    import org.apache.spark.sql.expressions.Window
    val ranked = Search.hybridRrf(docs, emb, k = 10)
      .select(lit("rrf60").as("arm"), lit(0L).as("query_id"),
        col("doc_id").as("vec_id"),
        row_number().over(Window.orderBy(desc("rrf_score"), asc("doc_id")))
          .as("rank"))
    val meta = emb.select(col("vec_id"), col("label"))
      .join(docs.select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
    val direct = Search.metricsFromRanked(ranked, meta, Seq(0L), 10).collect()
      .map(r => r.getAs[String]("arm") ->
        ((r.getAs[Long]("n_rel_label"), r.getAs[Long]("n_rel_source"),
          r.getAs[Double]("ndcg"), r.getAs[Double]("mrr")))).toMap
    assert(curve("rrf60") == direct("rrf60"),
      s"curve ${curve("rrf60")} vs direct ${direct("rrf60")}")
  }

  test("softDedupWeights: weight is 1/n_copies, class-weight mass equals distinct-class count") {
    val out = Dedup.softDedupWeights(docs)
    assert(out.count() == docs.count()) // nothing removed
    val bad = out.filter(
      abs(col("weight") - round(lit(1.0) / col("n_copies"), 4)) > 1e-9).count()
    assert(bad == 0)
    // Σ weights == #classes when every class weight sums to ~1
    val classes = Dedup.exactDedup(docs).count()
    val mass = out.agg(sum("weight")).collect()(0).getDouble(0)
    assert(math.abs(mass - classes) < 0.01 * classes + 1e-6)
    // multi-copy class (whitespace/case variants collapse): each of the
    // 3 copies carries 1/3, the unique doc keeps weight 1
    val variants = Seq((1L, "Hello  World"), (2L, "hello world"),
      (3L, " HELLO\tWORLD "), (4L, "other")).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(variants).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_copies"), r.getAs[Double]("weight"))).toMap
    assert(w(1L) == ((3L, 0.3333)) && w(2L) == ((3L, 0.3333)) && w(3L) == ((3L, 0.3333)))
    assert(w(4L) == ((1L, 1.0)))
  }

  test("s_rrf_curve: collecting the key persists nothing") {
    val grown = persistedBy(())(
      SparkEntry.queries("s_rrf_curve")(spark, TestSpark.sf0001).collect())
    assert(grown == 0, s"s_rrf_curve left $grown persisted RDD(s)")
  }
}
