package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Dedup, DupClusters}

/** Connected-component dedup clustering: correctness against a local
  * union-find oracle, transitivity, convergence on adversarial shapes,
  * and the corpus-level keep semantics. */
class DupClustersSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, TestSpark.sf0001).documents

  private def candidates(d: org.apache.spark.sql.DataFrame) =
    Dedup.minhashCandidatesFromSignatures(Dedup.minhashSignatures(d))

  private def assignMap(pairs: Seq[(Long, Long)], vertices: Seq[Long]): Map[Long, Long] =
    DupClusters.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), vertices.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Local union-find truth for cross-checking the distributed result. */
  private def unionFind(pairs: Seq[(Long, Long)], vertices: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  test("components: chains merge transitively, singletons stay themselves") {
    // 1-2, 2-3 chain (1 and 3 never paired directly), 4-5, isolated 6
    val got = assignMap(Seq((1L, 2L), (2L, 3L), (4L, 5L)), Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("components: long path and star converge within the round cap") {
    // a 64-node path is the worst case for naive propagation — star
    // contraction must still close it in O(log n) rounds
    val path = (0L until 63L).map(i => (i, i + 1))
    val gotPath = assignMap(path, 0L to 63L)
    assert(gotPath.values.toSet == Set(0L))
    // a hub-star with the ROOT as the largest id exercises the small-star step
    val star = (0L until 20L).map(i => (100L, i))
    val gotStar = assignMap(star, (0L until 20L) :+ 100L)
    assert(gotStar.values.toSet == Set(0L))
  }

  test("components match a union-find oracle on a random graph") {
    val rnd = new scala.util.Random(11)
    val vertices = (0L until 400L).toSeq
    val pairs = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    assert(assignMap(pairs, vertices) == unionFind(pairs, vertices))
  }

  test("components are partition-invariant") {
    val pairs = (0L until 50L).map(i => (i, i + 50L)) ++ (0L until 25L).map(i => (i, i + 1))
    val vertices = (0L until 100L)
    val base = assignMap(pairs, vertices)
    val shuffled = DupClusters.connectedComponents(
        pairs.toDF("doc_a", "doc_b").repartition(7), vertices.toDF("doc_id").repartition(3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == base)
  }

  test("dupEdges: exact-dup groups contribute star edges, including short docs") {
    val d = Seq(
      (1L, "hi"), (2L, "hi"), (7L, " HI "),   // <3 tokens: no shingles, still exact dups
      (3L, "totally unrelated text about completely other things")
    ).toDF("doc_id", "text")
    val edges = DupClusters.dupEdges(d, candidates(d))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((1L, 2L), (1L, 7L))) // hub = min id, one edge per member
  }

  test("corpus clusters: every near-dup pair lands in one cluster, roots are minima") {
    val pairs = Dedup.ngramJaccardPairsFromIndex(
        Dedup.shingleIndexFrom(Dedup.shingled(docs)), tau = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val assign = DupClusters.dupClusters(docs, candidates(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(assign.size == docs.count())
    pairs.foreach { case (a, b) =>
      assert(assign(a) == assign(b), s"pair ($a,$b) split across clusters")
    }
    // root of every cluster is its minimum member and maps to itself
    assign.groupBy(_._2).foreach { case (root, members) =>
      assert(members.keys.min == root)
      assert(assign(root) == root)
    }
  }

  test("incremental refresh over the stored star edges equals a full recompute") {
    val rnd = new scala.util.Random(23)
    val allPairs = Seq.fill(200)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val vertices = (0L until 300L)
    val (oldPairs, newPairs) = allPairs.splitAt(120)
    val stored = DupClusters.connectedComponents(
      oldPairs.toDF("doc_a", "doc_b"), vertices.toDF("doc_id"))
    val refreshed = DupClusters.refresh(stored, newPairs.toDF("doc_a", "doc_b"),
        vertices.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(refreshed == assignMap(allPairs, vertices))
  }

  test("funnel: stages nest and match the directly-computed survivor sets") {
    import graft.ops.{Funnel, TextAnalysis}
    val assign = DupClusters.dupClusters(docs, candidates(docs))
    val out = Funnel.funnel(docs, assign).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(0)._1 == "total" && out(0)._2 == docs.count())
    assert(out(1)._2 == Dedup.dedupDocuments(docs).count())
    assert(out(2)._2 == assign.where($"doc_id" === $"cluster_id").count())
    // monotone retention
    assert(out(0)._2 >= out(1)._2 && out(1)._2 >= out(2)._2 &&
      out(2)._2 >= out(3)._2 && out(3)._2 >= out(4)._2)
    // decontamination stage removed exactly the flagged survivors
    val contaminated = TextAnalysis.decontaminate(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val afterQ = assign.where($"doc_id" === $"cluster_id")
      .join(TextAnalysis.quality(docs).where($"quality_bucket" =!= "low")
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    assert(out(4)._2 == (afterQ -- contaminated).size)
  }

  test("clusterSizes: conserves every doc and matches a direct histogram") {
    val assign = DupClusters.dupClusters(docs, candidates(docs))
    val sizes = DupClusters.clusterSizes(assign).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // conservation: Σ n_docs = corpus size, Σ n_clusters = #components
    assert(sizes.map(_._3).sum == assign.count())
    assert(sizes.map(_._2).sum == assign.select("cluster_id").distinct().count())
    // n_docs is size × count on every row; histogram matches a direct one
    sizes.foreach { case (s, n, d) => assert(d == s * n) }
    val direct = assign.collect().map(_.getLong(1)).groupBy(identity)
      .map(_._2.length).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(sizes.map(r => r._1.toInt -> r._2).toMap == direct)
  }

  test("clusterKeep: exactly one survivor per cluster, min doc_id wins") {
    val assign = DupClusters.dupClusters(docs, candidates(docs))
    val kept = DupClusters.clusterKeep(docs, assign)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byCluster = assign.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    assert(kept == byCluster.values.toSet)
    assert(kept.size == assign.select("cluster_id").distinct().count())
  }

  test("clusterKeepQuality: best score wins, unscored docs never beat scored siblings, all-unscored falls back to min id") {
    import spark.implicits._
    // hand assignment: cluster 1 = {1,2,3}, cluster 10 = {10,11}, singleton 20
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("doc_id", "cluster_id")
    val handDocs = Seq(1L, 2L, 3L, 10L, 11L, 20L)
      .map(i => (i, s"text$i", "en", s"src${i % 3}", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // hand scores: doc 2 beats 1; doc 3 UNSCORED (no bigram signal);
    // cluster 10 entirely unscored; the singleton is scored
    val scores = Seq((1L, 0.5), (2L, 0.9), (20L, 0.1))
      .toDF("doc_id", "q_score")
    val out = DupClusters.clusterKeepQuality(handDocs, assign, scores)
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_size"))).toMap
    assert(out == Map(1L -> ((2L, 3L)), 10L -> ((10L, 2L)), 20L -> ((20L, 1L))),
      s"argmax per cluster with null-last + min-id fallback, got $out")
    // corpus-level: exactly one survivor per cluster, and every
    // survivor's score is the max of its cluster's scored members
    val corpusAssign = DupClusters.dupClusters(docs, candidates(docs))
    val qs = graft.ops.TextAnalysis.qualityModelScores(docs)
    val kq = DupClusters.clusterKeepQuality(docs, corpusAssign, qs).collect()
    assert(kq.length == corpusAssign.select("cluster_id").distinct().count())
    val scoreOf = qs.select("doc_id", "q_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = corpusAssign.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    kq.foreach { r =>
      val best = members(r.getAs[Long]("cluster_id")).flatMap(scoreOf.get)
      if (best.nonEmpty)
        assert(r.getAs[Double]("q_score") == best.max,
          s"survivor must carry its cluster's max score")
    }
  }
}
