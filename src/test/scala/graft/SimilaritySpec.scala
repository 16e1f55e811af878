package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions
import graft.ops.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = Tables(spark, TestSpark.sf0001).embeddings

  // In-plan index builds (what the Catalog entries cache), each a fresh
  // fit, so the determinism checks below compare two independent fits.
  private def ivfIndexOf(e: DataFrame): (Seq[Seq[Double]], DataFrame) = {
    val cents = Similarity.ivfCentroids(e, 16)
    (cents, e.withColumn("cluster",
      GraftFunctions.nearestCentroid($"embedding", typedlit(cents))))
  }
  private def pqIndexOf(e: DataFrame): (Seq[Seq[Seq[Double]]], DataFrame) = {
    val books = Similarity.pqCodebooks(e)
    (books, Similarity.pqCodes(e, books))
  }
  private def ivfPqIndexOf(e: DataFrame)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) = {
    val cents = Similarity.ivfCentroids(e, 16)
    val books = Similarity.ivfPqCodebooks(e, cents)
    (cents, books, Similarity.ivfPqCodes(e, cents, books))
  }

  test("graft_cosine matches a scala-side double fold, bit-exactly") {
    val rows = embs.limit(2).collect()
    val (a, b) = (rows(0).getSeq[Float](rows(0).fieldIndex("embedding")),
                  rows(1).getSeq[Float](rows(1).fieldIndex("embedding")))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      val (x, y) = (a(i).toDouble, b(i).toDouble)
      dot += x * y; na += x * x; nb += y * y
    }
    val expected = dot / (math.sqrt(na) * math.sqrt(nb))
    val got = Seq((a, b)).toDF("a", "b")
      .select(GraftFunctions.cosine($"a", $"b")).collect()(0).getDouble(0)
    assert(got == expected)
  }

  test("graft_cosine: identical vectors → 1.0, zero vector → 0.0") {
    val v = Seq.fill(4)(0.5f)
    val z = Seq.fill(4)(0.0f)
    val out = Seq((v, v, z)).toDF("a", "b", "z")
      .select(GraftFunctions.cosine($"a", $"b"), GraftFunctions.cosine($"a", $"z")).collect()(0)
    assert(math.abs(out.getDouble(0) - 1.0) < 1e-12)
    assert(out.getDouble(1) == 0.0)
  }

  test("graft_cosine runs inside a WholeStageCodegen span (no fallback)") {
    val df = Similarity.annTopK(embs)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val plan = df.queryExecution.executedPlan.toString
    val codegenLine = plan.linesIterator.find(_.contains("graft_cosine"))
    assert(codegenLine.isDefined && codegenLine.get.trim.stripPrefix("+- ").startsWith("*"),
      s"graft_cosine not in a codegen stage:\n$plan")
  }

  test("graft_hamming64 counts flipped bits") {
    val out = Seq((0L, -1L), (5L, 4L), (7L, 7L)).toDF("a", "b")
      .select(GraftFunctions.hamming64($"a", $"b")).collect().map(_.getInt(0))
    assert(out.sameElements(Array(64, 1, 0)))
  }

  test("annTopK: descending cosine, k rows, excludes the query vector") {
    val out = Similarity.annTopK(embs, queryVecId = 0L, k = 20).collect()
    assert(out.length == 20)
    assert(!out.exists(_.getAs[Long]("vec_id") == 0L))
    val sims = out.map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
  }

  test("annTopKFiltered: predicate pushed to the scan, equals brute force over the filtered subset") {
    val pred = col("label").isin(1, 3, 5)
    val out = Similarity.annTopK(embs, queryVecId = 0L, k = 20, pred = pred)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(r => Set(1, 3, 5)(r.getAs[Int]("label"))))
    // equals the unfiltered operator applied to the pre-filtered corpus
    val reference = Similarity.annTopK(embs.filter(pred || col("vec_id") === 0L),
      queryVecId = 0L, k = 20).collect()
    assert(rows.map(_.toString).toSeq == reference.map(_.toString).toSeq)
    // the filter is live: unfiltered top-k differs
    val unfiltered = Similarity.annTopK(embs, 0L, 20).collect()
    assert(rows.map(_.toString).toSeq != unfiltered.map(_.toString).toSeq)
    // the predicate reaches the parquet reader: candidate pruning is scan-side
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(label"),
      s"label predicate should be pushed to the scan:\n$plan")
  }

  test("annTopKBatch: per-query slices equal the single-query operator") {
    val ids = Seq(0L, 1L, 2L)
    val batch = Similarity.annTopKBatch(embs, ids, k = 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(batch.keySet == ids.toSet)
    ids.foreach { id =>
      val slice = batch(id).map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      val single = Similarity.annTopK(embs, id, k = 5).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      assert(slice == single, s"batch slice for query $id")
    }
  }

  test("annLsh: returns candidates whose cosine matches brute force ranking") {
    val brute = Similarity.annTopK(embs, queryVecId = 0L, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    val lsh = Similarity.annLshFromSignatures(Similarity.withSignatures(embs),
      queryVecId = 0L, k = 10).collect()
    assert(lsh.nonEmpty, "query bucket + multi-probe produced no candidates")
    // every LSH hit's cosine agrees with the brute-force computation
    lsh.foreach { r =>
      assert(r.getAs[Double]("cos_sim") == brute(r.getAs[Long]("vec_id")))
    }
    // and hits are returned best-first
    val sims = lsh.map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
  }

  test("annIvf: deterministic index, candidates ranked by exact cosine") {
    val brute = Similarity.annTopK(embs, queryVecId = 0L, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    val (cents, assigned) = ivfIndexOf(embs)
    val ivf = Similarity.annIvfFromIndex(cents, assigned, queryVecId = 0L, k = 10).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(r.getAs[Int]("cluster") >= 0 && r.getAs[Int]("cluster") < 16)
      assert(r.getAs[Double]("cos_sim") == brute(r.getAs[Long]("vec_id")))
    }
    // deterministic across invocations (decimal-exact means, fixed init)
    val (cents2, assigned2) = ivfIndexOf(embs)
    val again = Similarity.annIvfFromIndex(cents2, assigned2, queryVecId = 0L, k = 10).collect()
    assert(ivf.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("autoNlist: floors the test corpora at 16, then holds bucket width ≈ targetBucket") {
    // gate-scale corpora resolve to the floor — Catalog fits and every
    // unrolled-Lloyd oracle stay bit-unchanged (sf0.01 = 500 vectors,
    // sf0.1 = 2000)
    assert(Similarity.autoNlist(500) == 16)
    assert(Similarity.autoNlist(2000) == 16)
    assert(Similarity.autoNlist(16 * 256) == 16) // last floor point
    // past the floor: nlist ∝ n, so expected bucket width stays within
    // [targetBucket/2, targetBucket] and Σ bucket² stays linear in n
    for (n <- Seq(10000L, 20000L, 40000L, 200000L, 1000000L)) {
      val k = Similarity.autoNlist(n)
      val bucket = n.toDouble / k
      assert(bucket <= 256.0 && bucket > 128.0,
        s"n=$n k=$k bucket=$bucket outside (128, 256]")
    }
    // monotone: a bigger corpus never gets a smaller index
    val ks = Seq(100L, 4096L, 5000L, 50000L, 500000L).map(Similarity.autoNlist(_))
    assert(ks == ks.sorted)
    // doubling the corpus ≈ doubles the lists (the linearity the ladder checks)
    assert(math.abs(Similarity.autoNlist(80000) - 2 * Similarity.autoNlist(40000)) <= 1)
  }

  test("Catalog.ivfIndex: auto-sized default resolves to the floor fit at test scale") {
    // the auto default (nlist <= 0) must serve the SAME fit as the
    // explicit 16 the oracles replay — same cache entry, same centroids
    val (cAuto, aAuto) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val (c16, a16) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001, 16)
    assert(cAuto == c16)
    assert(aAuto eq a16) // memoized: one persisted frame, not two fits
  }

  test("opqPermutation: a valid permutation, deterministic under repartitioning, matches a JVM rank") {
    val perm = Similarity.opqPermutation(embs)
    assert(perm.sorted == (0 until 64), "must be a permutation of 0..63")
    assert(perm == Similarity.opqPermutation(embs.repartition(7)),
      "fixed-point moments must make the allocation partition-stable")
    // JVM differential: recompute the integer variance scores from the
    // collected vectors with the kernels' exact rounding and replay the
    // serpentine dealing
    val vecs = embs.select($"embedding").collect().map(_.getSeq[Float](0))
    val n = BigInt(vecs.length)
    val s = BigInt(graft.functions.VectorSumFixed.Scale)
    val a = (0 until 64).map(j => BigInt(vecs.map(v => math.round(v(j).toDouble * s.toDouble)).sum))
    val b = (0 until 64).map(j =>
      BigInt(vecs.map(v => math.round(v(j).toDouble * v(j).toDouble * s.toDouble)).sum))
    val score = (0 until 64).map(j => n * b(j) * s - a(j) * a(j))
    val order = (0 until 64).sortBy(j => (-score(j), j))
    val ref = new Array[Int](64)
    for (r <- 0 until 64) {
      val (round, posn) = (r / 8, r % 8)
      val j = if (round % 2 == 0) posn else 7 - posn
      ref(j * 8 + round) = order(r)
    }
    assert(perm == ref.toSeq)
    // serpentine balance: each subspace gets exactly one dim from each
    // variance octile (ranks r, r+8.. spread one per subspace)
    val rankOf = order.zipWithIndex.toMap
    val bySub = perm.grouped(8).toSeq
    bySub.foreach { dims =>
      assert(dims.map(d => rankOf(d) / 8).sorted == (0 until 8),
        "every subspace must draw one dimension per variance octile")
    }
  }

  test("annOpqFromIndex: planted exact duplicate recalled at 1.0; rerank scores are original-space cosines") {
    val planted = embs.select($"vec_id", $"label", $"embedding").unionByName(
      embs.filter($"vec_id" === 0)
        .select(lit(9999L).as("vec_id"), $"label", $"embedding"))
    val perm = Similarity.opqPermutation(planted)
    val permuted = Similarity.opqPermute(planted, perm)
    val books = Similarity.pqCodebooks(permuted)
    val codes = Similarity.pqCodes(permuted, books)
    val out = Similarity.annOpqFromIndex(perm, books, codes, planted).collect()
    assert(out.length == 10)
    assert(out.head.getLong(0) == 9999L && out.head.getAs[Double]("cos_sim") == 1.0,
      "the exact duplicate must be recalled first at cosine 1.0")
    // permutation-invariance: every reported cos_sim equals the
    // ORIGINAL-space cosine of the raw vectors (rounded per contract)
    val raw = planted.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    out.foreach { r =>
      val expect = BigDecimal(cos(raw(0L), raw(r.getLong(0))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("cos_sim") - expect) <= 1e-4,
        s"vec ${r.getLong(0)}: reported ${r.getAs[Double]("cos_sim")} vs original-space $expect")
    }
    // deterministic across invocations
    val again = Similarity.annOpqFromIndex(perm, books, codes, planted).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("opqErrorReport: permutation-OPQ reduces worst-subspace mse and tightens the spread") {
    val emb = embs
    val (booksPq, _) = graft.core.Catalog.pqIndex(spark, TestSpark.sf0001)
    val (perm, booksOpq, _) = graft.core.Catalog.opqIndex(spark, TestSpark.sf0001)
    val rows = Similarity.opqErrorReport(emb, booksPq, perm, booksOpq).collect()
    assert(rows.length == 8)
    val msePq = rows.map(_.getAs[Double]("mse_pq"))
    val mseOpq = rows.map(_.getAs[Double]("mse_opq"))
    // the claim the key exists to evidence: variance-balanced dealing
    // pulls the WORST subspace toward the mean and tightens the spread
    assert(mseOpq.max < msePq.max,
      s"worst-subspace mse must drop: pq=${msePq.max} opq=${mseOpq.max}")
    assert(mseOpq.max - mseOpq.min < msePq.max - msePq.min,
      "per-subspace mse spread must tighten under the balanced permutation")
    // total reconstruction error stays in the same regime (permutation
    // relabels dims; it must not blow up the overall fit)
    assert(mseOpq.sum < msePq.sum * 1.05)
  }

  test("opqRecallReport: counts consistent with the serve plans; recall is the half-away quotient") {
    val (booksPq, codesPq) = graft.core.Catalog.pqIndex(spark, TestSpark.sf0001)
    val (perm, booksOpq, codesOpq) = graft.core.Catalog.opqIndex(spark, TestSpark.sf0001)
    val qids = Seq(0L, 1L, 2L)
    val rows = Similarity.opqRecallReport(embs, booksPq, codesPq, perm, booksOpq,
        codesOpq, queryVecIds = qids, k = 5).collect()
      .map(r => r.getAs[String]("arm") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))).toMap
    assert(rows.keySet == Set("pq", "opq"))
    // differential: recompute each arm's hit count from the shipped
    // serve plans directly (same exact arm, same top-k sets)
    def hits(serve: Long => org.apache.spark.sql.DataFrame): Long =
      qids.map { id =>
        val exact = Similarity.annTopK(embs, id, 5).collect().map(_.getLong(0)).toSet
        val got = serve(id).collect().map(_.getLong(0)).toSet
        (exact intersect got).size.toLong
      }.sum
    val hPq = hits(id => Similarity.annPqFromIndex(booksPq, codesPq, embs, id, 5))
    val hOpq = hits(id => Similarity.annOpqFromIndex(perm, booksOpq, codesOpq, embs, id, 5))
    rows.foreach { case (arm, (e, h, rec)) =>
      assert(e == 15L, s"$arm: 3 queries × k=5 exact rows, got $e")
      assert(h == (if (arm == "pq") hPq else hOpq), s"$arm hit count")
      assert(rec == ((20000L * h + e) / (2 * e)).toDouble / 10000.0)
    }
  }

  test("annTombstoneReport: zero leaks, counts equal the shipped plans, stale-index recall bounded") {
    val (cents, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val qids = Seq(0L, 1L, 2L)
    val rows = Similarity.annTombstoneReport(embs, cents, assigned,
        queryVecIds = qids, k = 5).collect()
      .map(r => r.getAs[Long]("query_id") -> r).toMap
    assert(rows.keySet == qids.toSet)
    val live = embs.filter($"vec_id" % 7 =!= 3)
    qids.foreach { id =>
      val r = rows(id)
      assert(r.getAs[Long]("n_leaked") == 0L, s"q$id: a tombstoned vector leaked")
      // differential against the shipped plans: exact live top-k and
      // the pre-filtered stale-index serve
      val exact = Similarity.annTopK(live, id, 5).collect().map(_.getLong(0)).toSet
      val served = Similarity.annIvfFromIndex(cents, assigned, id, 5,
          pred = $"vec_id" % 7 =!= 3).collect().map(_.getLong(0)).toSet
      assert(served.forall(_ % 7 != 3), s"q$id: serve plan returned a deleted id")
      assert(r.getAs[Long]("n_exact") == exact.size.toLong)
      assert(r.getAs[Long]("n_served") == served.size.toLong)
      val hit = (exact intersect served).size.toLong
      assert(r.getAs[Long]("n_hit") == hit)
      assert(r.getAs[Double]("recall") ==
        ((20000L * hit + exact.size) / (2L * exact.size)).toDouble / 10000.0)
      assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0)
    }
    // a tombstoned query id is rejected loudly, not served wrongly
    intercept[IllegalArgumentException] {
      Similarity.annTombstoneReport(embs, cents, assigned, queryVecIds = Seq(3L))
    }
  }

  test("annRefitReport: live-only refit recovers boundary recall the stale index forfeits") {
    val (cS, aS) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val (cL, aL) = graft.core.Catalog.ivfIndexLive(spark, TestSpark.sf0001)
    val card = Similarity.annRefitReport(cS, aS, cL, aL).collect()
      .map(r => r.getAs[String]("arm") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(card.keySet == Set("stale", "refit"))
    // same exact ground truth under both arms
    assert(card("stale")._1 == card("refit")._1 && card("stale")._1 > 0)
    // THE recovery claim: the refit buys back recall on the boundary panel
    assert(card("refit")._3 > card("stale")._3,
      s"refit ${card("refit")._3} must exceed stale ${card("stale")._3}")
    card.values.foreach { case (e, h, rec) =>
      assert(rec == ((20000L * h + e) / (2L * e)).toDouble / 10000.0)
    }
    // wasted-probe diagnostic (the mechanism): for the boundary panel,
    // every query's SECOND stale probe is a 100%-ghost list, so the
    // stale arm serves identically at nProbe 1 and 2
    val card1 = Similarity.annRefitReport(cS, aS, cL, aL, nProbe = 1).collect()
      .map(r => r.getAs[String]("arm") -> r.getAs[Double]("recall")).toMap
    assert(card1("stale") == card("stale")._3,
      "stale second probe must buy nothing on the boundary panel")
  }

  test("ivfIndexLive: fitted on live mass only; no takedown vector can be assigned") {
    val (_, aS) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val (cL, aL) = graft.core.Catalog.ivfIndexLive(spark, TestSpark.sf0001)
    val staleOf = aS.select($"vec_id", $"cluster".as("stale_cluster"))
    // the refit index carries zero tombstones (live-only by construction)
    assert(aL.join(staleOf, "vec_id")
      .filter($"stale_cluster" % Similarity.TakedownMod === 1).count() == 0)
    assert(aL.count() == aS.filter(Similarity.takedownLive).count())
    // its nlist follows the LIVE count (the same autoNlist rule)
    assert(cL.length == Similarity.autoNlist(aL.count()))
  }

  test("indexHealthReport == streaming volumeSignal over the same delete load; purged lists flag") {
    val (_, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val health = Similarity.indexHealthReport(assigned).collect()
      .map(r => r.getAs[Int]("cluster") -> r).toMap
    val liveRow = ($"vec_id" % 7 =!= 3) && Similarity.takedownLive
    val deletes = assigned.filter(!liveRow).select($"vec_id")
    val table = "t_health_counters"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      graft.streaming.AnnStream.deleteBatch(deletes, assigned, 0L, table)
      val stream = graft.streaming.AnnStream.volumeSignal(
          graft.streaming.AnnStream.listSizeSnapshot(assigned),
          graft.streaming.AnnStream.mergedDeleteCounts(spark, table)).collect()
        .map(r => r.getAs[Int]("cluster") -> r).toMap
      assert(health.keySet == stream.keySet && health.nonEmpty)
      health.foreach { case (c, h) =>
        val s = stream(c)
        assert(h.getAs[Long]("n_fit") == s.getAs[Long]("n_fit"))
        assert(h.getAs[Long]("n_live") ==
          s.getAs[Long]("n_fit") - s.getAs[Long]("n_deleted"))
        assert(h.getAs[Double]("live_frac") == s.getAs[Double]("live_frac"),
          s"list $c live_frac must match the streaming arm")
        assert((h.getAs[Long]("refit_recommended") == 1L) ==
          s.getAs[Boolean]("refit_recommended"))
      }
      // union delete load: purged lists read 0.0 and flag; survivors
      // carry only the uniform ~1/7 panel and stay quiet
      health.foreach { case (c, h) =>
        if (c % Similarity.TakedownMod == 1) {
          assert(h.getAs[Long]("n_live") == 0L &&
            h.getAs[Long]("refit_recommended") == 1L)
        } else {
          assert(h.getAs[Double]("live_frac") > 0.5 &&
            h.getAs[Long]("refit_recommended") == 0L)
        }
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("annReembedServe: upsert removes stale v1 rows; within-v2 structure is the original; contamination is countable") {
    val events = Similarity.reembeddedEvents(embs)
    // the upsert removed every re-embedded id's v1 row and kept the
    // corpus cardinality (one live row per id)
    val latest = graft.etl.VehicleFeed.latest(events, "vec_id", Seq("version"))
    assert(latest.count() == embs.count())
    assert(latest.filter($"vec_id" % 5 === 2 && $"version" === 1).count() == 0)
    assert(latest.filter($"vec_id" % 5 === 2 && $"version" === 2).count() ==
      embs.filter($"vec_id" % 5 === 2).count())
    // the shift is an ISOMETRY: within-v2 neighbor structure equals
    // the original top-k restricted to re-embedded ids
    val v2Only = latest.filter($"version" === 2)
      .select($"vec_id", $"label", $"embedding")
    val withinV2 = Similarity.annTopK(v2Only, 2L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val orig = Similarity.annTopK(embs.filter($"vec_id" % 5 === 2), 2L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(withinV2 == orig)
    // the mid-wave serve carries version per hit — contamination is
    // COUNTABLE (and on this corpus real: v1 noise rows outrank the v2
    // query's true neighbors, the gate-before-serving warning)
    val served = Similarity.annReembedServe(events).collect()
    assert(served.length == 10)
    val contamination = served.count(_.getAs[Int]("version") == 1)
    assert(contamination > 0,
      "this corpus's mid-wave top-k is contaminated — the card must show it")
    // every v2 hit is a re-embedded id (no stale rows can appear)
    assert(served.filter(_.getAs[Int]("version") == 2)
      .forall(_.getAs[Long]("vec_id") % 5 == 2))
  }

  test("ivfCentroids: k centroids of the right dimension, stable") {
    val cents = Similarity.ivfCentroids(embs, k = 8, iters = 1)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    assert(cents == Similarity.ivfCentroids(embs, k = 8, iters = 1))
  }

  test("ivfCentroids: bit-identical under repartitioning (fixed-point sums commute)") {
    val a = Similarity.ivfCentroids(embs, k = 8, iters = 2)
    val b = Similarity.ivfCentroids(embs.repartition(13), k = 8, iters = 2)
    assert(a == b)
  }

  test("ivfCentroids: hash-sampled fit is deterministic and well-formed") {
    val cents = Similarity.ivfCentroids(embs, k = 4, iters = 1, sampleDenom = 4)
    assert(cents.length == 4 && cents.forall(_.length == 64))
    assert(cents == Similarity.ivfCentroids(embs, k = 4, iters = 1, sampleDenom = 4))
  }

  test("Catalog.ivfIndex: cached fit serves identical rows to the inline fit") {
    val (cents, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val (cents2, assigned2) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    assert(cents eq cents2, "second lookup must return the cached model, not refit")
    assert(assigned eq assigned2)
    val fromIndex = Similarity.annIvfFromIndex(cents, assigned, queryVecId = 0L, k = 10).collect()
    val (inCents, inAssigned) = ivfIndexOf(embs)
    val inline = Similarity.annIvfFromIndex(inCents, inAssigned, queryVecId = 0L, k = 10).collect()
    assert(fromIndex.map(_.toString).sameElements(inline.map(_.toString)))
  }

  test("pqCodebooks: m×k codebooks of subspace width, bit-identical under repartitioning") {
    val books = Similarity.pqCodebooks(embs, m = 8, k = 16, iters = 2)
    assert(books.length == 8)
    assert(books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    val again = Similarity.pqCodebooks(embs.repartition(13), m = 8, k = 16, iters = 2)
    assert(books == again)
  }

  test("annPq: rerank cosines are exact, results deterministic, planted duplicate recalled") {
    val brute = Similarity.annTopK(embs, queryVecId = 0L, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    val (books, codes) = pqIndexOf(embs)
    val pq = Similarity.annPqFromIndex(books, codes, embs, queryVecId = 0L, k = 10).collect()
    assert(pq.length == 10)
    // every returned cosine is the exact brute-force value (ADC only
    // shortlists; the rerank is exact)
    pq.foreach { r =>
      assert(r.getAs[Double]("cos_sim") == brute(r.getAs[Long]("vec_id")))
    }
    val (books2, codes2) = pqIndexOf(embs)
    val again = Similarity.annPqFromIndex(books2, codes2, embs, queryVecId = 0L, k = 10).collect()
    assert(pq.map(_.toString).sameElements(again.map(_.toString)))
    // a planted exact duplicate of the query encodes to the query's own
    // codes, tops the ADC ranking, and must come back with cos_sim 1.0
    val qRow = embs.filter($"vec_id" === 0L).select($"embedding").collect()(0).getSeq[Float](0)
    val planted = embs.unionByName(
      Seq((99999L, qRow, -1)).toDF("vec_id", "embedding", "label"))
    val (pBooks, pCodes) = pqIndexOf(planted)
    val hit = Similarity.annPqFromIndex(pBooks, pCodes, planted, queryVecId = 0L, k = 10).collect()
    assert(hit.head.getAs[Long]("vec_id") == 99999L && hit.head.getAs[Double]("cos_sim") == 1.0)
  }

  test("annPq plan: ADC ranking scans the CODE table only (no float corpus in the shortlist)") {
    val (books, codes) = graft.core.Catalog.pqIndex(spark, TestSpark.sf0001)
    val (books2, codes2) = graft.core.Catalog.pqIndex(spark, TestSpark.sf0001)
    assert((books eq books2) && (codes eq codes2), "second lookup must serve the cached index")
    // the shortlist stage reads codes (vec_id, codes) — 8 ints per row —
    // and ranks via TakeOrderedAndProject
    val shortlist = codes.filter($"vec_id" =!= 0L)
      .withColumn("adc", GraftFunctions.pqAdcCosine($"codes",
        typedlit(Seq.fill(128)(0.1)), typedlit(Seq.fill(128)(0.2))))
      .orderBy(desc("adc"), asc("vec_id")).limit(40)
    shortlist.collect()
    val plan = shortlist.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the scan over the cached code table reads codes/label/vec_id only
    // (the plan string still shows the one-time encode projection INSIDE
    // the InMemoryRelation — that runs at materialization, not per query)
    val scanLine = plan.linesIterator.find(_.contains("InMemoryTableScan")).get
    assert(!scanLine.contains("embedding"),
      s"float corpus leaked into the ADC scan:\n$scanLine")
  }

  // node classes of a key's executed plan, as the Audit gate counts them
  private def planClasses(df: DataFrame): Seq[Class[_]] = {
    df.collect()
    graft.tools.Audit.planNodes(df.queryExecution.executedPlan).map(_.getClass)
  }

  test("annTopK plan: TakeOrderedAndProject, no nested-loop join") {
    val nodes = planClasses(Similarity.annTopK(embs))
    assert(nodes.contains(classOf[TakeOrderedAndProjectExec]), nodes)
    assert(!nodes.contains(classOf[BroadcastNestedLoopJoinExec]), nodes)
  }

  // the single-query serves ship the query vector as a plan literal:
  // every top-k is a heap, and no key joins a 1-row query frame
  Seq("s_ann_topk", "s_ann_filtered", "s_ann_ivf", "s_ann_ivf_filtered", "s_ann_ivfpq",
      "s_ann_reembed", "s_ann_mrl", "s_ann_mrl_ivf").foreach { key =>
    test(s"$key plan: TakeOrderedAndProject, no BroadcastNestedLoopJoin") {
      val nodes = planClasses(SparkEntry.queries(key)(spark, TestSpark.sf0001))
      assert(nodes.contains(classOf[TakeOrderedAndProjectExec]), s"$key: $nodes")
      assert(!nodes.contains(classOf[BroadcastNestedLoopJoinExec]), s"$key: $nodes")
    }
  }

  test("ivfPqCodebooks: residual codebooks bit-identical under repartitioning") {
    val cents = Similarity.ivfCentroids(embs, k = 16)
    val books = Similarity.ivfPqCodebooks(embs, cents)
    assert(books.length == 8)
    assert(books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    val again = Similarity.ivfPqCodebooks(embs.repartition(13), cents)
    assert(books == again)
  }

  test("annIvfPq: exact rerank cosines, recall@k at least the plain-PQ baseline") {
    val k = 10
    val brute = Similarity.annTopK(embs, queryVecId = 0L, k = 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    val trueTop = Similarity.annTopK(embs, queryVecId = 0L, k = k).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val (books, codes) = pqIndexOf(embs)
    val pqTop = Similarity.annPqFromIndex(books, codes, embs, queryVecId = 0L, k = k).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val (cents, resBooks, resCodes) = ivfPqIndexOf(embs)
    val ivfpq = Similarity.annIvfPqFromIndex(cents, resBooks, resCodes, embs, queryVecId = 0L, k = k)
      .collect()
    assert(ivfpq.length == k)
    // rerank is exact: every returned cosine is the brute-force value
    ivfpq.foreach { r =>
      assert(r.getAs[Double]("cos_sim") == brute(r.getAs[Long]("vec_id")))
    }
    // residual quantization must not lose recall vs whole-vector PQ
    val recallIvfPq = (ivfpq.map(_.getAs[Long]("vec_id")).toSet & trueTop).size
    val recallPq = (pqTop & trueTop).size
    assert(recallIvfPq >= recallPq,
      s"IVF-PQ recall@$k $recallIvfPq < plain-PQ baseline $recallPq")
    // deterministic end to end
    val (cents2, resBooks2, resCodes2) = ivfPqIndexOf(embs)
    val again = Similarity.annIvfPqFromIndex(cents2, resBooks2, resCodes2, embs, queryVecId = 0L, k = k)
      .collect()
    assert(ivfpq.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("annIvfPq: planted exact duplicate of the query is recalled at cos 1.0") {
    val qRow = embs.filter($"vec_id" === 0L).select($"embedding").collect()(0).getSeq[Float](0)
    val planted = embs.unionByName(
      Seq((99999L, qRow, -1)).toDF("vec_id", "embedding", "label"))
    // the duplicate lands in the query's own coarse list with a zero
    // residual, so probe 1 already finds it
    val (pCents, pBooks, pCodes) = ivfPqIndexOf(planted)
    val hit = Similarity.annIvfPqFromIndex(pCents, pBooks, pCodes, planted, queryVecId = 0L, k = 10)
      .collect()
    assert(hit.head.getAs[Long]("vec_id") == 99999L && hit.head.getAs[Double]("cos_sim") == 1.0)
  }

  test("Catalog.ivfPqIndex: cached; serve equals the self-contained path; codes carry lists") {
    val (cents, books, codes) = graft.core.Catalog.ivfPqIndex(spark, TestSpark.sf0001)
    val (cents2, books2, codes2) = graft.core.Catalog.ivfPqIndex(spark, TestSpark.sf0001)
    assert((cents eq cents2) && (books eq books2) && (codes eq codes2))
    val served = Similarity.annIvfPqFromIndex(cents, books, codes, embs).collect()
    val (inCents, inBooks, inCodes) = ivfPqIndexOf(embs)
    val inline = Similarity.annIvfPqFromIndex(inCents, inBooks, inCodes, embs).collect()
    assert(served.map(_.toString).sameElements(inline.map(_.toString)))
    // every code row carries its inverted-list id and an m-length code
    val row = codes.head()
    assert(row.schema.fieldNames.contains("cluster"))
    assert(row.getSeq[Int](row.fieldIndex("codes")).length == 8)
  }

  /** Replica corpus for the kNN-graph specs: 20 groups × 3 members,
    * cos ≈ 0.9998 within a group (same construction as DedupSpec's). */
  private lazy val knnReplicaEmbs = {
    val rnd = new scala.util.Random(11)
    val dim = 32
    val rows = for {
      g <- 0 until 20
      base = Array.fill(dim)(rnd.nextGaussian())
      r <- 0 until 3
    } yield {
      val noise = Array.fill(dim)(rnd.nextGaussian() * 0.01)
      val v = base.indices.map(i => (base(i) + noise(i)).toFloat)
      ((g * 3 + r).toLong, g, v)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("graft_topk_pairs: equals the row_number-window form; map-side truncation safe under repartitioning") {
    import org.apache.spark.sql.expressions.Window
    // synthetic candidate frame with score ties (the tie-break path)
    val rows = for (v <- 0L until 50L; n <- 0L until 30L if n != v)
      yield (v, n, math.rint(((v * 31 + n * 17) % 13).toDouble) / 13.0)
    val cand = rows.toDF("vec_id", "nbr_id", "cos_sim")
    def viaAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"vec_id")
      .agg(GraftFunctions.topkPairs($"nbr_id", $"cos_sim", lit(5)).as("nn"))
      .select($"vec_id", posexplode($"nn").as(Seq("off", "s")))
      .select($"vec_id", $"s.nbr_id".as("nbr_id"), $"s.cos_sim".as("cos_sim"),
        ($"off" + 1).cast("int").as("knn_rank"))
      .collect().map(_.toString).sorted.toSeq
    val w = Window.partitionBy($"vec_id").orderBy($"cos_sim".desc, $"nbr_id".asc)
    val viaWindow = cand.withColumn("knn_rank", row_number().over(w))
      .filter($"knn_rank" <= 5)
      .collect().map(_.toString).sorted.toSeq
    assert(viaAgg(cand) == viaWindow)
    // partial aggregation (map-side heaps) must not change the result
    assert(viaAgg(cand.repartition(13)) == viaWindow)
  }

  test("knnJoin: matches a brute-force JVM reference on the real embeddings") {
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0) 0.0 else dot / d
    }
    val all = embs.collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1))).toSeq
    // Spark's ROUND on double is BigDecimal HALF_UP — mirror it exactly
    def r4(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val expect = all.flatMap { case (id, lab, v) =>
      all.filter(o => o._2 == lab && o._1 != id)
        .map(o => (o._1, r4(cosine(v, o._3))))
        .sortBy { case (nid, c) => (-c, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, c), i) => (id, nid, c, i + 1) }
    }.toSet
    val got = Similarity.knnJoin(embs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4))).toSet
    assert(got == expect)
  }

  test("knnJoin + knnJoinCanopy: replica group-mates are the top-2 neighbors") {
    def topTwo(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.filter($"knn_rank" <= 2).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def mates(id: Long): Set[Long] = {
      val g = id / 3
      (g * 3 until g * 3 + 3).map(_.toLong).toSet - id
    }
    val exact = topTwo(Similarity.knnJoin(knnReplicaEmbs, k = 2))
    (0L until 60L).foreach(id => assert(exact(id) == mates(id),
      s"exact kNN: $id's top-2 are not its group-mates"))
    val cents = Similarity.ivfCentroids(knnReplicaEmbs, k = 8, iters = 2)
    val canopy = topTwo(Similarity.knnJoinCanopyFromPairs(
      Similarity.canopyCandidatePairs(knnReplicaEmbs, cents), k = 2))
    (0L until 60L).foreach(id => assert(canopy(id) == mates(id),
      s"canopy kNN: $id's top-2 are not its group-mates"))
  }

  test("hardNegatives: planted cross-label near-dups are mined as the negatives") {
    val rnd = new scala.util.Random(23)
    val dim = 32
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Int, Seq[Float])]()
    for (g <- 0 until 10) {
      val base = Array.fill(dim)(rnd.nextGaussian())
      for (r <- 0 until 3)
        rows += (((g * 3 + r).toLong, g,
          base.indices.map(i => (base(i) + rnd.nextGaussian() * 0.01).toFloat)))
      // for half the groups, plant a near-identical vector under a
      // DIFFERENT label: the canonical hard negative
      if (g < 5)
        rows += ((100L + g, 100 + g,
          base.indices.map(i => (base(i) + rnd.nextGaussian() * 0.01).toFloat)))
    }
    val embs = rows.toSeq.toDF("vec_id", "label", "embedding")
    val cents = Similarity.ivfCentroids(embs, k = 6, iters = 2)
    val out = Similarity.hardNegativesFromPairs(Similarity.canopyCandidatePairs(embs, cents))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))).toMap
    for (g <- 0 until 5; r <- 0 until 3) {
      val id = (g * 3 + r).toLong
      val (posId, posCos, negId, negCos) = out(id)
      val mates = Set((g * 3).toLong, (g * 3 + 1).toLong, (g * 3 + 2).toLong) - id
      assert(mates.contains(posId), s"anchor $id positive $posId not a group-mate")
      assert(negId == 100L + g, s"anchor $id negative $negId is not the planted cross-label dup")
      assert(posCos > 0.99 && negCos > 0.99)
    }
    // the plants have no same-label partner anywhere → no triplet row
    (0 until 5).foreach(g => assert(!out.contains(100L + g)))
  }

  test("centroidReport: matches a JVM fixed-point reference; identical members → cohesion 1") {
    val out = Similarity.centroidReport(embs).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // JVM reference: same fixed-point sum (scale 1e9, math.round), same
    // float-cast centroid, RAW per-member cosine, DECIMAL(28,10) sum
    // (Spark's double→decimal cast = shortest-string BigDecimal at
    // scale-10 HALF_UP), ONE final round
    val all = embs.collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1))).groupBy(_._1)
    val scale = graft.functions.VectorSumFixed.Scale
    all.foreach { case (label, members) =>
      val dim = members.head._2.length
      val gsum = Array.ofDim[Long](dim)
      members.foreach { case (_, v) =>
        v.indices.foreach(i => gsum(i) += math.round(v(i).toDouble * scale)) }
      val cf = gsum.map(_.toFloat)
      val cs = members.map { case (_, v) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        v.indices.foreach { i =>
          val (x, y) = (v(i).toDouble, cf(i).toDouble)
          dot += x * y; na += x * x; nb += y * y
        }
        val d = math.sqrt(na) * math.sqrt(nb)
        if (d == 0) 0.0 else dot / d
      }
      def d10(d: Double) = BigDecimal(java.math.BigDecimal.valueOf(d)
        .setScale(10, java.math.RoundingMode.HALF_UP))
      def r4(d: Double) = java.math.BigDecimal.valueOf(d)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
      val mean = r4(cs.map(d10).sum.toDouble / cs.length)
      val (n, cohesion, minCos) = out(label)
      assert(n == members.length)
      assert(cohesion == mean, s"label $label: $cohesion vs $mean")
      assert(minCos == r4(cs.min))
    }
    // planted: a label whose members are identical vectors coheres at 1.0
    val v = Seq.fill(8)(0.3f)
    val planted = Seq((1L, 77, v), (2L, 77, v), (3L, 77, v))
      .toDF("vec_id", "label", "embedding")
    val p = Similarity.centroidReport(planted).collect()(0)
    assert(p.getInt(0) == 77 && p.getLong(1) == 3 &&
      p.getDouble(2) == 1.0 && p.getDouble(3) == 1.0)
  }

  test("kmeansReport: recovers planted well-separated clusters at purity 1") {
    // three tight groups on orthogonal axes; vec_ids 0,1,2 are one seed
    // per group, so the deterministic init starts one centroid in each
    def v(axis: Int, eps: Float): Seq[Float] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0f else 0.0f) + (if (i == 3) eps else 0.0f))
    val rows = (0 until 3).flatMap { g =>
      (0 until 5).map { j =>
        val id = if (j == 0) g.toLong else 10L + g * 5 + j
        (id, g, v(g, 0.01f * j))
      }
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val cents = Similarity.ivfCentroids(df, k = 3, iters = 2)
    val assigned = df.withColumn("cluster",
      GraftFunctions.nearestCentroid($"embedding", typedlit(cents)))
    val out = Similarity.kmeansReport(assigned).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getDouble(5))).toMap
    assert(out.size == 3)
    assert(out.values.map(_._1).sum == 15, "every vector is in exactly one cluster")
    out.foreach { case (_, (n, nLabels, _, topN, purity)) =>
      assert(n == 5 && nLabels == 1 && topN == 5 && purity == 1.0,
        "well-separated groups cluster pure")
    }
    assert(out.values.map(_._3).toSet == Set(0, 1, 2), "each group is some cluster's majority")
  }

  test("kmeansReport: matches a JVM group-by reference on the real fit; ties break (n desc, label asc)") {
    val cents = Similarity.ivfCentroids(embs, k = 8, iters = 2)
    val assigned = embs.withColumn("cluster",
      GraftFunctions.nearestCentroid($"embedding", typedlit(cents)))
    val rows = assigned.select("cluster", "label").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val expect = rows.groupBy(_._1).map { case (c, ms) =>
      val byLabel = ms.groupBy(_._2).map { case (l, xs) => (l, xs.length) }
      val (topLabel, topN) = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
      def r4(d: Double) = java.math.BigDecimal.valueOf(d)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
      c -> (ms.length.toLong, byLabel.size.toLong, topLabel, topN.toLong,
        r4(topN.toDouble / ms.length))
    }
    val got = Similarity.kmeansReport(assigned).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getDouble(5))).toMap
    assert(got == expect)
    // stable under input repartitioning (counts are partition-free)
    val again = Similarity.kmeansReport(assigned.repartition(7)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getDouble(5))).toMap
    assert(again == got)
  }

  test("mmrDiversify: an exact duplicate of the first pick is deferred for a novel result") {
    val s = math.sqrt(10).toFloat
    val a = Seq(3f / s, 1f / s, 0f, 0f)   // rel ≈ 0.9487 to q
    val c = Seq(3f / s, -1f / s, 0f, 0f)  // rel ≈ 0.9487, sim(a,c) = 0.8
    val df = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), // query
      (1L, a, 1),
      (2L, a, 2),                   // exact duplicate of vec 1
      (3L, c, 3)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.mmrDiversify(spark, df, queryVecId = 0L, k = 2,
      nCandidates = 3, lambda = 0.5).collect()
    assert(out.length == 2)
    // rank 1 = top relevance with vec_id tie-break (1 over its dup 2)
    assert(out(0).getAs[Int]("rank") == 1 && out(0).getAs[Long]("vec_id") == 1L)
    // rank 2 skips the exact duplicate (max_sim 1.0) for the novel vector
    assert(out(1).getAs[Long]("vec_id") == 3L)
    assert(out(1).getAs[Double]("max_sim_selected") == 0.8)
    // plain top-2 by relevance WOULD have returned the duplicate:
    val plain = Similarity.annTopK(df, 0L, 2).collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 2L))
  }

  test("mmrDiversify: k capped by candidates; selection deterministic across runs") {
    val once = Similarity.mmrDiversify(spark, embs, k = 5).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
    val twice = Similarity.mmrDiversify(spark, embs, k = 5).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
    assert(once.toSeq == twice.toSeq && once.length == 5)
  }

  test("recallReport: full probing recovers the exact top-k (recall 1.0); partial probing bounded") {
    val (cents, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val full = Similarity.recallReport(embs, cents, assigned,
      queryVecIds = Seq(0L, 1L, 2L), k = 5, nProbe = cents.length).collect()
    full.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 5L && r.getAs[Double]("recall") == 1.0)
    }
    val partial = Similarity.recallReport(embs, cents, assigned,
      queryVecIds = Seq(0L, 1L, 2L), k = 5, nProbe = 1).collect()
    partial.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("recall cards fail on a query vec_id the table does not hold") {
    val (cents, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val missing = Long.MaxValue
    val e = intercept[IllegalArgumentException](Similarity.recallReport(embs, cents, assigned,
      queryVecIds = Seq(0L, missing), k = 5).collect())
    assert(e.getMessage.contains(missing.toString), e.getMessage)
    intercept[IllegalArgumentException](
      Similarity.mrlRecallCurve(embs, queryVecIds = Seq(missing), k = 5).collect())
  }

  // a serve asked for a vec_id the table does not hold fails naming it,
  // rather than serving zero rows
  private def failsOnMissingId(serve: Long => DataFrame): Unit = {
    val missing = Long.MaxValue
    val e = intercept[IllegalArgumentException](serve(missing).collect())
    assert(e.getMessage.contains(missing.toString), e.getMessage)
  }

  test("annTopK fails on a query vec_id the table does not hold, filtered or not") {
    failsOnMissingId(id => Similarity.annTopK(embs, id))
    failsOnMissingId(id => Similarity.annTopK(embs, id, pred = col("label").isin(1, 3, 5)))
  }

  test("annLshFromSignatures fails on a query vec_id the index does not hold") {
    failsOnMissingId(id => Similarity.annLshFromSignatures(Similarity.withSignatures(embs), id))
  }

  test("annIvfFromIndex fails on a query vec_id the index does not hold, filtered or not") {
    val (cents, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    failsOnMissingId(id => Similarity.annIvfFromIndex(cents, assigned, id))
    failsOnMissingId(id =>
      Similarity.annIvfFromIndex(cents, assigned, id, pred = col("label").isin(1, 3, 5)))
  }

  test("annIvfPqFromIndex fails on a query vec_id the table does not hold") {
    val (cents, books, codes) = graft.core.Catalog.ivfPqIndex(spark, TestSpark.sf0001)
    failsOnMissingId(id => Similarity.annIvfPqFromIndex(cents, books, codes, embs, id))
  }

  test("annReembedServe fails on a query vec_id the upserted corpus does not hold") {
    failsOnMissingId(id => Similarity.annReembedServe(Similarity.reembeddedEvents(embs), id))
  }

  test("MRL serves fail on a query vec_id the table does not hold") {
    failsOnMissingId(id =>
      Similarity.annMrlServeFromPrefix(Similarity.mrlPrefixProjection(embs), embs, id))
    val (cents, assigned) = graft.core.Catalog.ivfIndexMrl(spark, TestSpark.sf0001)
    failsOnMissingId(id => Similarity.annMrlIvfFromIndex(cents, assigned, id))
  }

  test("nprobeCurve: recall nondecreasing in n_probe; saturates at 1.0 when every list is probed; counts consistent") {
    val (cents, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val got = Similarity.nprobeCurve(embs, cents, assigned,
      queryVecIds = Seq(0L, 1L, 2L), k = 5,
      probes = Seq(1, 2, 4, cents.length)).collect()
      .map(r => r.getAs[Int]("n_probe") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 2, 4, cents.length).sorted)
    got.foreach { case (_, (e, h, rec)) =>
      assert(e == 15L, s"3 queries × k=5 exact rows, got $e")
      assert(h >= 0L && h <= e)
      // recall is the exact-integer half-away quotient of the counts
      assert(rec == ((20000L * h + e) / (2 * e)).toDouble / 10000.0,
        s"recall $rec vs counts $h/$e")
    }
    // monotone in probes: probing more lists never loses a true neighbor
    val recs = got.map(_._2._3)
    assert(recs.zip(recs.tail).forall { case (a, b) => a <= b }, recs.mkString(","))
    // probing every list IS the exact search
    assert(got.last._2._3 == 1.0 && got.last._2._2 == 15L)
  }

  test("normReport: hand-built labels — zero-norm counted, exact percentiles") {
    val df = Seq(
      (1L, 7, Seq(3f, 4f, 0f, 0f)),   // norm 5
      (2L, 7, Seq(0f, 0f, 0f, 0f)),   // norm 0 → zero-norm
      (3L, 7, Seq(6f, 8f, 0f, 0f)),   // norm 10
      (4L, 8, Seq(1f, 0f, 0f, 0f))    // norm 1
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.normReport(df).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // label 7: norms {0, 5, 10} → p50 = 5, p90 = 9 (linear interpolation)
    assert(got(7) == ((3L, 1L, 5.0, 9.0)))
    assert(got(8) == ((1L, 0L, 1.0, 1.0)))
  }

  test("normReportApprox: exact-regime rank values; coarse sketch stays within the rank-error bound") {
    val norms = embs.select(
        (round(graft.functions.GraftFunctions.vecNorm(col("embedding")), 4) + lit(0.0)).as("nr"),
        col("label"))
      .collect().map(r => (r.getInt(1), r.getDouble(0))).groupBy(_._1)
      .map { case (l, xs) => l -> xs.map(_._2).sorted }
    val got = Similarity.normReportApprox(embs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    norms.foreach { case (label, ws) =>
      val n = ws.length
      val (nv, nz, p50, p90) = got(label)
      assert(nv == n && nz == ws.count(_ == 0.0))
      // exact regime (n < accuracy): value at 1-based rank ⌈q·n⌉
      assert(p50 == ws(math.ceil(0.5 * n).toInt - 1))
      assert(p90 == ws(math.ceil(0.9 * n).toInt - 1))
    }
    // compressed regime at accuracy 20: every reported quantile is a
    // real data value whose rank INTERVAL (ties occupy [count(<v)+1,
    // count(≤v)] — these norms are mostly 1.0) meets the GK bound
    Similarity.normReportApprox(embs, accuracy = 20).collect().foreach { r =>
      val ws = norms(r.getInt(0)); val n = ws.length
      Seq((r.getDouble(3), 0.5), (r.getDouble(4), 0.9)).foreach { case (v, q) =>
        assert(ws.contains(v), s"quantile $v must be a data value")
        val lo = ws.count(_ < v) + 1
        val hi = ws.count(_ <= v)
        val err = if (q * n >= lo && q * n <= hi) 0.0
          else math.min(math.abs(lo - q * n), math.abs(hi - q * n))
        assert(err <= n / 20.0 + 1, s"label ${r.getInt(0)} q=$q rank [$lo,$hi] vs ${q * n}")
      }
    }
  }

  test("centroidDrift: identical halves drift 1.0, orthogonal halves 0.0") {
    val x = Seq(1f, 0f, 0f, 0f)
    val y = Seq(0f, 1f, 0f, 0f)
    val df = Seq(
      // label 1: both halves along x → drift 1.0
      (0L, 1, x), (2L, 1, x), (1L, 1, x), (3L, 1, x),
      // label 2: even half along x, odd half along y → drift 0.0
      (4L, 2, x), (6L, 2, x), (5L, 2, y), (7L, 2, y)
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidDrift(df).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1) == ((2L, 2L, 1.0)))
    assert(got(2) == ((2L, 2L, 0.0)))
    // real embeddings: bounded, deterministic, one row per label seen in both halves
    val real = Similarity.centroidDrift(embs).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val d = r.getDouble(3)
      assert(d >= -1.0 && d <= 1.0)
    }
  }

  test("knnLabelAccuracy: planted tight same-label clusters recover accuracy 1.0") {
    // two well-separated clusters, one per label: every top-1 neighbor
    // shares the label
    val rnd = new scala.util.Random(7)
    def near(base: Array[Float]) =
      base.zipWithIndex.map { case (v, _) => v + rnd.nextFloat() * 0.01f }.toSeq
    val a = Array.fill(64)(0f); a(0) = 1f
    val b = Array.fill(64)(0f); b(1) = 1f
    val df = ((0 until 10).map(i => (i.toLong, 1, near(a))) ++
      (10 until 20).map(i => (i.toLong, 2, near(b))))
      .toDF("vec_id", "label", "embedding")
    val cents = Similarity.ivfCentroids(df, k = 4, iters = 2)
    val got = Similarity.knnLabelAccuracyFromPairs(Similarity.canopyCandidatePairs(df, cents), df)
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(got(1) == 1.0 && got(2) == 1.0)
    // real embeddings: accuracies bounded, labels covered
    val (realCents, _) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val real = Similarity.knnLabelAccuracyFromPairs(
      Similarity.canopyCandidatePairs(embs, realCents), embs).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val acc = r.getDouble(3)
      assert(acc >= 0.0 && acc <= 1.0)
    }
  }

  test("dimReport: hand-computed per-dimension moments; full dim coverage on real embeddings") {
    val df = Seq(
      (1L, 0, Seq(1f, 2f)),
      (2L, 0, Seq(3f, 4f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.dimReport(df).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got(0) == ((2L, 2.0, 1.0, 1.0, 3.0)))
    assert(got(1) == ((2L, 3.0, 1.0, 2.0, 4.0)))
    // real embeddings: one row per dimension, n = corpus size, std ≥ 0
    val real = Similarity.dimReport(embs).collect()
    assert(real.length == 64)
    val n = embs.count()
    real.foreach { r =>
      assert(r.getLong(1) == n && r.getDouble(3) >= 0.0)
    }
  }

  test("normReport: graft_vec_norm matches a JVM fold on real embeddings") {
    val rows = embs.limit(3).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      var s = 0.0
      v.foreach { x => s += x.toDouble * x.toDouble }
      val got = Seq(Tuple1(v)).toDF("e")
        .select(GraftFunctions.vecNorm($"e")).collect()(0).getDouble(0)
      assert(got == math.sqrt(s))
    }
  }

  test("graft_centroid_dist2s: [d2_1st, d2_2nd] matches a JVM two-min fold; duplicate centroid ties land in slot 2") {
    val cents: Seq[Seq[Double]] = Seq(
      Seq(1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0),
      Seq(1.0, 0.0, 0.0, 0.0)) // duplicate of centroid 0
    val v = Seq(0.9f, 0.1f, 0f, 0f)
    val got = Seq(Tuple1(v)).toDF("e")
      .select(GraftFunctions.centroidDist2s($"e", typedlit(cents))).collect()(0).getSeq[Double](0)
    def d2(c: Seq[Double]): Double = {
      var s = 0.0
      v.indices.foreach { i => val d = v(i).toDouble - c(i); s += d * d }
      s
    }
    val expect = d2(cents(0))
    assert(got(0) == expect && got(1) == expect,
      "a duplicated nearest centroid must fill BOTH slots (strict-< tracking)")
    // general case against the real fit: both slots equal the sorted d² pair
    val realCents = Similarity.ivfCentroids(embs, k = 8, iters = 2)
    embs.limit(5).collect().foreach { r =>
      val e = r.getSeq[Float](r.fieldIndex("embedding"))
      val ds = realCents.map { c =>
        var s = 0.0
        e.indices.foreach { i => val d = e(i).toDouble - c(i); s += d * d }
        s
      }.sorted
      val pair = Seq(Tuple1(e)).toDF("e")
        .select(GraftFunctions.centroidDist2s($"e", typedlit(realCents)))
        .collect()(0).getSeq[Double](0)
      assert(pair(0) == ds(0) && pair(1) == ds(1))
    }
  }

  test("annIvfFilteredFromIndex: pre-filter semantics — top-k of the FILTERED probed lists, k rows kept") {
    val cents = Similarity.ivfCentroids(embs, k = 16, iters = 2)
    val assigned = embs.withColumn("cluster",
      GraftFunctions.nearestCentroid($"embedding", typedlit(cents)))
    val pred = col("label").isin(1, 3, 5)
    val out = Similarity.annIvfFromIndex(cents, assigned, pred = pred).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    assert(out.length == 10, "pre-filter must still fill k when candidates exist")
    assert(out.forall(r => Set(1, 3, 5)(r._2)), "every row satisfies the predicate")
    // JVM reference: brute-force cosine over the probed+filtered candidate set
    val q = embs.filter($"vec_id" === 0L).select("embedding").collect()(0).getSeq[Float](0)
    val probes = cents.zipWithIndex.map { case (c, i) =>
      (i, c.indices.map { j => val d = q(j).toDouble - c(j); d * d }.sum)
    }.sortBy(_._2).take(2).map(_._1).toSet
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val ref = assigned.filter(pred && $"vec_id" =!= 0L)
      .select("vec_id", "label", "cluster", "embedding").collect()
      .filter(r => probes(r.getInt(2)))
      .map(r => (r.getLong(0), r.getInt(1), cos(r.getSeq[Float](3), q)))
      .sortBy { case (id, _, c) => (-c, id) }.take(10)
    assert(out.map(_._1).toSeq == ref.map(_._1).toSeq, "selection must equal the JVM reference")
    out.zip(ref).foreach { case ((_, _, got), (_, _, exp)) =>
      assert(math.abs(got - BigDecimal(exp).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // the filtered result is NOT just a post-filter of the unfiltered serve
    // (that would under-fill k whenever the filter is selective)
    val unfiltered = Similarity.annIvfFromIndex(cents, assigned).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(unfiltered.count(r => Set(1, 3, 5)(r._2)) < 10,
      "fixture: the unfiltered top-10 must not already satisfy the predicate 10 times")
  }

  test("annIvfBatchFromIndex: single-join batch serve equals the per-query serve for every query") {
    val cents = Similarity.ivfCentroids(embs, k = 16, iters = 2)
    val assigned = embs.withColumn("cluster",
      GraftFunctions.nearestCentroid($"embedding", typedlit(cents)))
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val batch = Similarity.annIvfBatchFromIndex(cents, assigned, ids).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    ids.foreach { id =>
      val single = Similarity.annIvfFromIndex(cents, assigned, queryVecId = id).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
      assert(batch(id) == single, s"query $id: batch serve must equal the per-query serve")
    }
    // probe selection parity: the kernel's scan-side nProbe list equals
    // the driver-side sort the per-query path uses (tie → lower index)
    val q0 = embs.filter($"vec_id" === 0L).select("embedding").collect()(0).getSeq[Float](0)
    val driverProbes = cents.zipWithIndex.map { case (c, i) =>
      (i, c.indices.map { j => val d = q0(j).toDouble - c(j); d * d }.sum)
    }.sortBy(_._2).take(2).map(_._1)
    val kernelProbes = Seq(Tuple1(q0)).toDF("e")
      .select(GraftFunctions.nearestCentroids($"e", typedlit(cents), lit(2)))
      .collect()(0).getSeq[Int](0)
    assert(kernelProbes.toSeq == driverProbes.toSeq)
  }

  test("pqErrorReport: kernel matches a JVM min-d2 fold; exact codeword slice → zero error; report differential") {
    // hand codebook: 2 subspaces × 2 codes × 2 dims
    val books: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(2.0, 2.0), Seq(-1.0, 0.0)))
    val v = Seq(1.0f, 0.0f, -1.0f, 0.5f) // sub0 = exact codeword 0; sub1 nearest code 1 at d²=0.25
    val errs = Seq(Tuple1(v)).toDF("e")
      .select(GraftFunctions.pqErrors($"e", typedlit(books))).collect()(0).getSeq[Double](0)
    assert(errs(0) == 0.0 && errs(1) == 0.25)
    // report differential against a JVM fold on the real fit
    val realBooks = Similarity.pqCodebooks(embs)
    val got = Similarity.pqErrorReport(realBooks, embs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val m = realBooks.length
    val sub = 64 / m
    val ref = embs.select("embedding").collect().map(_.getSeq[Float](0)).map { e =>
      (0 until m).map { j =>
        realBooks(j).map { cent =>
          var s = 0.0
          (0 until sub).foreach { i => val d = e(j * sub + i).toDouble - cent(i); s += d * d }
          s
        }.min
      }
    }
    (0 until m).foreach { j =>
      val xs = ref.map(_(j))
      val (n, mse, maxErr) = got(j)
      assert(n == xs.length)
      val mean = xs.map(x => BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / xs.length
      assert(math.abs(mse - BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(math.abs(maxErr - BigDecimal(xs.max).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("pqCurve: planted outlier error is m-invariant and exact; real corpus mse falls as m grows") {
    // 16 well-separated constant vectors (= the init codewords) + ONE
    // outlier at v0 + 2.0·e₀: Lloyd splits the difference (centroid at
    // δ/2 on dim 0), so v0 and the outlier each carry (δ/2)² = 1.0 in
    // subspace 0 — for EVERY m (dim 0 is always in the first slice)
    // — while every other (vec, sub) cell is an exact codeword. The
    // expected card is fully hand-computable and m-invariant:
    // mse = round(2/17, 6), max_sub_err = 1.0.
    val rows = (0 until 16).map(i => (i.toLong, 0, Seq.fill(64)(i * 10.0f))) :+
      ((16L, 0, Seq.tabulate(64)(d => if (d == 0) 2.0f else 0.0f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val planted = Similarity.pqCurve(df, m => Similarity.pqCodebooks(df, m = m)).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(planted.keySet == Set(2, 4, 8))
    Seq(2, 4, 8).foreach { m =>
      assert(planted(m) == ((17L, 4 * m, 0.117647, 1.0)), s"m=$m: ${planted(m)}")
    }
    // real corpus: finer quantization (more subspaces, fewer dims per
    // codeword) strictly reduces per-vector reconstruction error while
    // the code size grows linearly
    val curve = Similarity.pqCurve(embs, m => Similarity.pqCodebooks(embs, m = m)).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))).toMap
    val n = embs.count()
    Seq(2, 4, 8).foreach { m => assert(curve(m)._1 == n && curve(m)._2 == 4 * m) }
    assert(curve(2)._3 > curve(4)._3 && curve(4)._3 > curve(8)._3,
      s"mse must fall with m: ${Seq(2, 4, 8).map(m => curve(m)._3)}")
    // m=8 serves the SAME books as the serving index: its per-vector
    // total equals pqErrorReport's per-subspace means recombined
    val books8 = Similarity.pqCodebooks(embs)
    val bySub = Similarity.pqErrorReport(books8, embs).collect()
      .map(r => r.getDouble(2)).sum
    assert(math.abs(curve(8)._3 - bySub) < 8e-6 * 8,
      s"m=8 total ${curve(8)._3} vs recombined per-sub $bySub")
  }

  test("silhouetteReport: planted well-separated clusters score near 1; overlapping clusters score low") {
    def v(axis: Int, eps: Float): Seq[Float] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0f else 0.0f) + (if (i == 3) eps else 0.0f))
    val rows = (0 until 3).flatMap { g =>
      (0 until 5).map { j =>
        val id = if (j == 0) g.toLong else 10L + g * 5 + j
        (id, g, v(g, 0.01f * j))
      }
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val cents = Similarity.ivfCentroids(df, k = 3, iters = 2)
    val assigned = df.withColumn("cluster",
      GraftFunctions.nearestCentroid($"embedding", typedlit(cents)))
    val out = Similarity.silhouetteReport(cents, assigned).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.size == 3 && out.values.map(_._1).sum == 15)
    // k = 1 has no second-nearest centroid — rejected, not divergent
    // between engines (ADVICE r9)
    intercept[IllegalArgumentException] {
      Similarity.silhouetteReport(cents.take(1), assigned)
    }
    out.values.foreach { case (_, meanSil, minSil) =>
      assert(meanSil > 0.9 && minSil > 0.9,
        s"well-separated clusters must silhouette near 1, got mean=$meanSil min=$minSil")
    }
    // JVM differential on the REAL fit (the shipped key's shape)
    val realCents = Similarity.ivfCentroids(embs, k = 8, iters = 2)
    val realAssigned = embs.withColumn("cluster",
      GraftFunctions.nearestCentroid($"embedding", typedlit(realCents)))
    val got = Similarity.silhouetteReport(realCents, realAssigned).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val ref = realAssigned.select("cluster", "embedding").collect().map { r =>
      val e = r.getSeq[Float](1)
      val ds = realCents.map { c =>
        var s = 0.0
        e.indices.foreach { i => val d = e(i).toDouble - c(i); s += d * d }
        s
      }.sorted
      val (a, b) = (math.sqrt(ds(0)), math.sqrt(ds(1)))
      val sil = if (math.max(a, b) == 0.0) 0.0 else (b - a) / math.max(a, b)
      r.getInt(0) -> sil
    }.groupBy(_._1)
    ref.foreach { case (cl, xs) =>
      val (n, meanSil, minSil) = got(cl)
      assert(n == xs.length)
      val mean = xs.map(x => BigDecimal(x._2).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / xs.length
      assert(math.abs(meanSil - BigDecimal(mean).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(math.abs(minSil - BigDecimal(xs.map(_._2).min).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("autoSampleDenom: 1 inside the exact regime, bounds the fit set past it") {
    // every oracle-gated corpus: no sampling, byte-identical fit
    assert(Similarity.autoSampleDenom(1000L, 16) == 1)
    assert(Similarity.autoSampleDenom(65536L, 256) == 1)
    // past the floor: denom grows so E[fit set] ≈ max(65536, 64·nlist)
    assert(Similarity.autoSampleDenom(1L << 17, 512) == 2)
    assert(Similarity.autoSampleDenom(1L << 20, 4096) == 4)
    // with nlist ∝ n/256 and perCentroid=64, denom saturates at 4 —
    // fitN ≈ n/4 but each hier iteration is O(fitN·√nlist·dim)
    assert(Similarity.autoSampleDenom(1L << 24, 1 << 16) == 4)
  }

  test("ivfCentroidsHier + twoLevelAssign: planted separated clusters route exactly; layout matches the flat flattening; partition-invariant") {
    val dim = 16
    val nPlanted = 9 // k1 = 3 supers × k2 = 3 subs
    // HIERARCHICAL planted geometry — the data shape a two-level
    // quantizer models: 3 regions 1000 apart on dim 0, each holding 3
    // sub-clusters 10 apart on dim 1. Members of a cluster are IDENTICAL
    // (routing exactness, not noise robustness, is under test — the
    // replica test covers non-degenerate data), and ids interleave the
    // clusters region-first so every vec_id-ordered init draws one point
    // per region / per sub-cluster (init quality is not under test).
    val rows = for {
      c <- 0 until nPlanted // region g = c % 3, sub-cluster j = c / 3
      i <- 0 until 12
    } yield {
      val v = Array.fill(dim)(0.0f)
      v(0) = 1000.0f * (c % 3 + 1)
      v(1) = 10.0f * (c / 3 + 1)
      ((i * nPlanted + c).toLong, c, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val (supers, grouped) = Similarity.ivfCentroidsHier(emb, nlist = nPlanted)
    assert(supers.length == 3 && grouped.length == 3)
    val flat = grouped.flatten
    assert(flat.length == nPlanted)
    // two-level routing == flat nearest-of-all for well-separated data,
    // and the global ids follow the flatten layout
    val both = emb
      .withColumn("two", Similarity.twoLevelAssign(supers, grouped))
      .withColumn("flatc", GraftFunctions.nearestCentroid($"embedding", typedlit(flat)))
      .select($"label", $"two", $"flatc").collect()
    assert(both.forall(r => r.getInt(1) == r.getInt(2)),
      "two-level routing must equal flat nearest on separated clusters")
    // each planted cluster lands whole in exactly one list (identical
    // vectors can never split) and every cluster gets its own list
    val byLabel = both.groupBy(_.getInt(0)).view.mapValues(_.map(_.getInt(1)).distinct).toMap
    assert(byLabel.values.forall(_.length == 1))
    assert(byLabel.values.map(_.head).toSet.size == nPlanted)
    // the fit is a pure function of the data, not its partitioning
    val (s7, g7) = Similarity.ivfCentroidsHier(emb.repartition(7), nlist = nPlanted)
    val (s3, g3) = Similarity.ivfCentroidsHier(emb.repartition(3), nlist = nPlanted)
    assert(s7 == s3 && g7 == g3, "hier fit must be partition-invariant")
  }

  test("Catalog.ivfIndex: the scale regime (nlist > TwoLevelMinNlist) produces a servable flat layout over the full corpus") {
    // force the two-level branch with an explicit oversized nlist; the
    // test corpus is far smaller than 256 lists need, so many groups
    // collapse — the contract is a CONSISTENT flat layout, not fullness
    val (cents, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001, nlist = 300)
    val n = embs.count()
    assert(assigned.count() == n, "every vector must be assigned")
    val ids = assigned.select($"cluster").distinct().collect().map(_.getInt(0))
    assert(ids.forall(c => c >= 0 && c < cents.length),
      s"cluster ids must index the flat centroid matrix (len ${cents.length})")
    // the flat layout serves through the standard probe path; with 300
    // lists over a ~600-vector corpus the probed lists are tiny, so
    // raise nProbe rather than expect 2 lists to fill k (the standard
    // recall ↔ nProbe trade, not a defect)
    val out = Similarity.annIvfFromIndex(cents, assigned, queryVecId = 0L,
      k = 5, nProbe = 25).collect()
    assert(out.length == 5 && !out.exists(_.getAs[Long]("vec_id") == 0L))
  }

  test("ivfCentroidsHier: SAMPLED fit still serves planted replicas at recall 1.0 through the standard IVF serve") {
    val dim = 16
    val nBases = 40
    val rows = for {
      b <- 0 until nBases
      r <- 0 until 3 // 3 identical replicas per base
    } yield {
      val v = Array.tabulate(dim)(j => (((b * 131 + j * 17) % 97) / 97.0f) - 0.5f)
      ((b * 3 + r).toLong, b % 7, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    // fit on HALF the corpus (hash sample), serve the WHOLE corpus
    val (supers, grouped) = Similarity.ivfCentroidsHier(emb, nlist = 9, sampleDenom = 2)
    val flat = grouped.flatten
    val assigned = emb.withColumn("cluster", Similarity.twoLevelAssign(supers, grouped))
    // identical replicas always share a cluster, so the query's own-list
    // probe must surface both siblings at cosine 1.0 — the planted
    // replica recall the sampled fit has to preserve
    for (qBase <- Seq(0L, 11L, 39L)) {
      val q = qBase * 3 // replica 0 of the base
      val got = Similarity.annIvfFromIndex(flat, assigned, queryVecId = q, k = 2)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
      assert(got.map(_._1).toSet == Set(q + 1, q + 2),
        s"replicas of base $qBase must be the top-2, got ${got.mkString(",")}")
      assert(got.forall(_._2 == 1.0))
    }
  }

  test("twoLevelAssignJoined: broadcast-join routing is identical to the literal form, per vector") {
    // the plan-literal-size remediation (JoinedAssignMinNlist): same
    // kernels, same operands — the sub-list arrives via broadcast join
    // instead of element_at on a literal — so cluster ids must match
    // bit-for-bit on every vector, at every partitioning
    val dim = 16
    val rows = (0L until 120L).map { i =>
      (i, (i % 5).toInt,
        Array.tabulate(dim)(j => (((i * 37 + j * 11) % 101) / 101.0f) - 0.5f).toSeq)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val (supers, grouped) = Similarity.ivfCentroidsHier(emb, nlist = 12)
    val lit = emb.withColumn("cluster", Similarity.twoLevelAssign(supers, grouped))
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val joined = Similarity.twoLevelAssignJoined(emb.repartition(7), supers, grouped)
    assert(joined.columns.toSeq == Seq("vec_id", "label", "embedding", "cluster"),
      "joined form must preserve the input columns + cluster")
    val got = joined.select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == lit, "broadcast-join routing must equal the literal routing exactly")
    // the model must move as a broadcast relation, not a shuffle join
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected a broadcast join:\n$plan")
  }

  test("ivfCentroidsHier: fit set smaller than k1 degrades gracefully (no phantom groups) and routing stays total") {
    // nlist = 300 → k1 = ceil(√300) = 18, but only 5 fit vectors exist:
    // ivfCentroids' limit-k init yields 5 supers, so the group range
    // must follow the FITTED supers — a (0 until k1) range would index
    // past the end in the empty-group fallback (r11 review finding)
    val dim = 8
    val emb = (0L until 5L).map { i =>
      (i, 0, Array.tabulate(dim)(j => ((i * 31 + j * 7) % 13) / 13.0f).toSeq)
    }.toDF("vec_id", "label", "embedding")
    val (supers, grouped) = Similarity.ivfCentroidsHier(emb, nlist = 300)
    assert(supers.length <= 5 && grouped.length == supers.length)
    assert(grouped.forall(_.nonEmpty), "every group must keep at least one sub-centroid")
    // every vector routes to a valid global cluster id
    val flatN = grouped.map(_.length).sum
    val cl = emb.select(Similarity.twoLevelAssign(supers, grouped).as("c"))
      .collect().map(_.getInt(0))
    assert(cl.forall(c => c >= 0 && c < flatN), s"cluster ids $flatN: ${cl.mkString(",")}")
  }

  test("annMrlIvfFromIndex: prefix-16 index; all-lists + wide shortlist degenerates to annTopK; deterministic") {
    val (cents, assigned) = graft.core.Catalog.ivfIndexMrl(spark, TestSpark.sf0001)
    assert(cents.nonEmpty && cents.forall(_.length == 16),
      "the index must be fitted in prefix-16 space")
    // probing every list with an unbounded shortlist reduces the funnel
    // to the exact brute-force serve (same rounding, same tie-breaks)
    val exact = Similarity.annTopK(embs, 0L, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    val all = Similarity.annMrlIvfFromIndex(cents, assigned, 0L, k = 10,
      shortlist = 100000, nProbe = cents.length).collect()
    assert(all.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq == exact)
    // production settings: k rows, every hit's full cosine agrees with
    // brute force, deterministic across invocations (decimal-exact fit)
    val brute = Similarity.annTopK(embs, 0L, 500).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    val a = Similarity.annMrlIvfFromIndex(cents, assigned).collect()
    assert(a.length == 10)
    a.foreach(r => assert(r.getAs[Double]("cos_sim") == brute(r.getAs[Long]("vec_id"))))
    val b = Similarity.annMrlIvfFromIndex(cents, assigned).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("mrlRecallCurve: one row per prefix length, full-dim row exact, recalls bounded") {
    val byDim = Similarity.mrlRecallCurve(embs).collect()
      .map(r => r.getAs[Int]("mrl_dim") -> r).toMap
    assert(byDim.keySet == Set(8, 16, 32, 64))
    // dim 64 truncation is the identity → the arm IS the exact arm
    assert(byDim(64).getAs[Long]("n_hit") == byDim(64).getAs[Long]("n_exact"))
    assert(byDim(64).getAs[Double]("recall") == 1.0)
    byDim.values.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 50L) // 5 queries × k = 10
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, r.toString)
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_exact"))
    }
  }

  test("mrlRecallCurve: signal confined to the prefix → truncated serving is lossless") {
    // coordinates past dim 8 are all zero, so the prefix-8 cosine IS the
    // full cosine (same dot, same norms) — every truncation ≥ 8 must
    // reproduce the exact top-k identically, recall exactly 1.0
    val rnd = new scala.util.Random(7)
    val df = (0L until 40L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat) ++ Seq.fill(56)(0.0f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.mrlRecallCurve(df, queryVecIds = Seq(0L, 1L), k = 5,
      dims = Seq(8, 16, 64)).collect()
    assert(out.length == 3)
    out.foreach(r => assert(r.getAs[Double]("recall") == 1.0, r.toString))
  }

  test("annMrlServe: degenerate settings recover annTopK exactly; funnel is exchange-free") {
    // the s_ann_mrl serve over an in-plan prefix of `shortDim`
    // coordinates: the prefix column's width alone sets stage 1's width
    def serve(shortDim: Int, shortlist: Int) = Similarity.annMrlServeFromPrefix(
      Similarity.mrlPrefixProjection(embs, shortDim), embs, 0L, k = 10, shortlist = shortlist)
    val exact = Similarity.annTopK(embs, 0L, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"), r.getAs[Double]("cos_sim"))).toSeq
    // shortlist ≥ corpus: stage 1 keeps everything, the rerank IS annTopK
    val wide = serve(shortDim = 16, shortlist = 100000)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"), r.getAs[Double]("cos_sim"))).toSeq
    assert(wide == exact)
    // shortDim = D: stage-1 order is already the exact order, and the
    // two emitted cosines coincide per hit
    val fullDim = serve(shortDim = 64, shortlist = 10).collect()
    assert(fullDim.map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
      r.getAs[Double]("cos_sim"))).toSeq == exact)
    fullDim.foreach(r =>
      assert(r.getAs[Double]("cos_sim") == r.getAs[Double]("cos_short"), r.toString))
    // production settings (the s_ann_mrl key): k rows, both stages
    // TakeOrdered, zero shuffles
    val df = serve(shortDim = 16, shortlist = 50)
    val rows = df.collect()
    assert(rows.length == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")),
      s"MRL funnel should not shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected heap top-k stages:\n$plan")
  }

  // each recall card counts its serving arms against one in-plan exact
  // panel: on warm Catalog entries, collecting the key persists nothing
  private def warmIvf(): Unit =
    graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)._2.count()
  Seq[(String, () => Unit)](
    "s_recall_report" -> (() => warmIvf()),
    "s_nprobe_curve" -> (() => warmIvf()),
    "s_mrl_recall" -> (() => ()),
    "s_opq_recall" -> (() => {
      graft.core.Catalog.pqIndex(spark, TestSpark.sf0001)._2.count()
      graft.core.Catalog.opqIndex(spark, TestSpark.sf0001)._3.count()
    }),
    "s_ann_tombstone" -> (() => warmIvf()),
    "s_ann_refit" -> (() => {
      warmIvf()
      graft.core.Catalog.ivfIndexLive(spark, TestSpark.sf0001)._2.count()
    })
  ).foreach { case (key, warm) =>
    test(s"$key: collecting the key on warm Catalog entries persists nothing") {
      val grown = persistedBy(warm())(
        SparkEntry.queries(key)(spark, TestSpark.sf0001).collect())
      assert(grown == 0, s"$key left $grown persisted RDD(s) beyond its Catalog entries")
    }
  }
}
