package graft

import graft.core.Tables
import graft.ops.Sampling

/** Deterministic mixture sampling: portable hash membership, monotone
  * under rate growth, per-source rates realized. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, TestSpark.sf0001).documents

  test("membership is deterministic and scan-side (no shuffle)") {
    val df = Sampling.sampleMixture(docs, Sampling.MixRates, 0.1)
    val a = df.collect().map(_.getLong(0)).sorted
    val b = Sampling.sampleMixture(docs.repartition(7), Sampling.MixRates, 0.1)
      .collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "sample must not depend on partitioning")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("raising a rate strictly grows the sample (monotone membership)") {
    val low = Sampling.sampleMixture(docs, Map.empty, 0.2).collect().map(_.getLong(0)).toSet
    val high = Sampling.sampleMixture(docs, Map.empty, 0.6).collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high))
    assert(low.size < high.size)
    assert(Sampling.sampleMixture(docs, Map.empty, 0.0).count() == 0)
    assert(Sampling.sampleMixture(docs, Map.empty, 1.0).count() == docs.count())
  }

  test("dsirWeights: matches a JVM reference of the hashed-bigram log-ratio; target-like docs rank higher") {
    import graft.ops.Sampling
    // target domain: database prose; corpus: one target-like doc, one unrelated
    val df = Seq(
      (1L, "tgt", "query plan scan join query plan"),
      (2L, "tgt", "scan join filter query plan scan"),
      (10L, "web", "query plan scan join filter scan"), // target-like
      (11L, "web", "cat dog bird fish cow horse goat")  // unrelated
    ).toDF("doc_id", "source", "text")
    val out = Sampling.dsirWeightsOverFeats(Sampling.dsirFeats(df), targetSource = "tgt").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Double]("dsir_weight"))).toMap
    assert(out.keySet == Set(10L, 11L), "only non-target docs are scored")
    assert(out(10L)._2 > out(11L)._2, "target-like content must out-rank unrelated content")
    // JVM reference: identical formula end-to-end
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(g: String): String =
      md.digest(g.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    def bigrams(t: String): Seq[String] = {
      val ws = t.trim.split("\\s+").toSeq
      ws.zip(ws.drop(1)).map { case (x, y) => s"$x $y" }
    }
    val all = Seq((1L, "tgt", "query plan scan join query plan"),
      (2L, "tgt", "scan join filter query plan scan"),
      (10L, "web", "query plan scan join filter scan"),
      (11L, "web", "cat dog bird fish cow horse goat"))
    val fs = all.flatMap { case (id, s, t) => bigrams(t).map(g => (id, s, bucket(g))) }
    val ct = fs.filter(_._2 == "tgt").groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cc = fs.filter(_._2 != "tgt").groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (nt, nc) = (ct.values.sum, cc.values.sum)
    def lw(b: String): BigDecimal = BigDecimal(
      math.log((ct.getOrElse(b, 0L) + 1).toDouble / (nt + 256)) -
        math.log((cc.getOrElse(b, 0L) + 1).toDouble / (nc + 256)))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
    fs.filter(_._2 != "tgt").groupBy(_._1).foreach { case (id, rows) =>
      // mirror the engine exactly: decimal SUM → double → ONE division → round
      val mean = rows.map(r => lw(r._3)).sum.toDouble / rows.size
      val expected = BigDecimal(mean).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(id)._1 == rows.size.toLong)
      assert(out(id)._2 == expected, s"doc $id: ${out(id)._2} vs reference $expected")
    }
    // determinism under repartition, corpus coverage
    val corpus = docs
    val w1 = Sampling.dsirWeightsOverFeats(Sampling.dsirFeats(corpus))
      .collect().map(_.toString).sorted.toSeq
    val w2 = Sampling.dsirWeightsOverFeats(Sampling.dsirFeats(corpus.repartition(13)))
      .collect().map(_.toString).sorted.toSeq
    assert(w1 == w2)
  }

  test("per-source rates are realized within binomial tolerance") {
    val summary = Sampling.mixtureSummary(docs, Sampling.MixRates, 0.1).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("kept_frac")).toMap
    // 25 docs/source at sf0.001: allow ±4σ of binomial(25, rate)
    for ((src, rate) <- Sampling.MixRates) {
      val tol = 4 * math.sqrt(rate * (1 - rate) / 25)
      assert(math.abs(summary(src) - rate) <= tol,
        s"$src kept ${summary(src)} vs rate $rate (tol $tol)")
    }
  }

  test("stratified exact-N: exactly min(n, stratum) rows per source, nested in n") {
    val n10 = Sampling.stratifiedExactN(docs, 10).collect()
    val perSource = n10.groupBy(_.getAs[String]("source")).view.mapValues(_.length)
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, total) <- sizes)
      assert(perSource(src) == math.min(10L, total),
        s"$src got ${perSource(src)} of $total")
    // the n=3 sample is a prefix of the n=10 sample (same hash order)
    val n3 = Sampling.stratifiedExactN(docs, 3).collect().map(_.getLong(0)).toSet
    assert(n3.subsetOf(n10.map(_.getLong(0)).toSet))
    // and independent of input partitioning
    val repart = Sampling.stratifiedExactN(docs.repartition(7), 10)
      .collect().map(_.getLong(0)).sorted
    assert(repart.sameElements(n10.map(_.getLong(0)).sorted))
  }

  test("thresholdHex maps rates to the 60-bit hex scale") {
    assert(Sampling.thresholdHex(0.5) == "800000000000000")
    assert(Sampling.thresholdHex(0.0) == "000000000000000")
    assert(Sampling.thresholdHex(0.25) == "400000000000000")
  }

  test("token-budget sampling: under-budget sources kept whole, oversized capped, nested") {
    def mk(src: String, n: Int, words: Int) = (1 to n).map(i =>
      (src.hashCode.abs * 100000L + i, src, (1 to words).map(w => s"w$w").mkString(" ")))
    // big: 200 docs × 50 tokens = 10k tokens → rate 0.2 at budget 2k;
    // small: 10 docs × 20 tokens = 200 tokens → rate 1 (kept whole)
    val corpus = (mk("big", 200, 50) ++ mk("small", 10, 20)).toDF("doc_id", "source", "text")
    val out = Sampling.sampleTokenBudget(corpus, budgetTokens = 2000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.count(_._2 == "small") == 10, "under-budget source is never downsampled")
    val bigKept = out.count(_._2 == "big")
    assert(math.abs(bigKept - 40) < 25, s"big kept $bigKept, expected ≈ 40 (rate 0.2)")
    // deterministic under repartitioning; nested in the budget
    val again = Sampling.sampleTokenBudget(corpus.repartition(7), budgetTokens = 2000L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == again.toSet)
    val larger = Sampling.sampleTokenBudget(corpus, budgetTokens = 5000L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.toSet.subsetOf(larger))
  }

  test("temperature sampling: sqrt-weighted rates, budget realized, deterministic") {
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val sample = Sampling.sampleTemperature(docs, budgetDocs = 150L)
    val kept = sample.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // deterministic under repartitioning (membership is a pure hash)
    val again = Sampling.sampleTemperature(docs.repartition(7), budgetDocs = 150L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == again)
    // expected total ≈ budget (binomial tolerance)
    assert(math.abs(kept.size - 150) < 50, s"kept ${kept.size}, budget 150")
    // α = 0.5 upweights low-resource sources: on a skewed corpus the
    // kept FRACTION of the small source must exceed the big one's
    // (rate ∝ 1/√n), while the big source still contributes more docs
    val skewed = ((1L to 400L).map(i => (i, "big")) ++ (1001L to 1020L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val sk = Sampling.sampleTemperature(skewed, budgetDocs = 100L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val fBig = sk.count(_._2 == "big") / 400.0
    val fSmall = sk.count(_._2 == "small") / 20.0
    assert(fSmall > fBig, s"small kept frac $fSmall should exceed big $fBig")
    assert(sk.count(_._2 == "big") > sk.count(_._2 == "small"))
    // a bigger budget strictly contains the smaller one (monotone)
    val larger = Sampling.sampleTemperature(docs, budgetDocs = 300L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept.subsetOf(larger))
  }

  test("temperatureCurve: hand-computed rates per alpha, agrees with sampleTemperature at 0.5, monotone in alpha per source") {
    // 4 "small" + 16 "big" docs, budget 10 — rates hand-computable
    val df = ((1L to 4L).map(i => (i, "small")) ++ (11L to 26L).map(i => (i, "big")))
      .toDF("doc_id", "source")
    val rows = Sampling.temperatureCurve(df, budgetDocs = 10L).collect()
      .map(r => (r.getDouble(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rows.size == 10, s"5 alphas x 2 sources, got ${rows.size}")
    // α=1 is proportional: rate = budget/N = 10/20 = 0.5 for BOTH sources
    assert(rows((1.0, "small"))._3 == 0.5 && rows((1.0, "big"))._3 == 0.5)
    // α=0 is uniform: w=1, Σw=2 → small: min(1, 10/2/4)=1.0 (capped,
    // so every small doc is kept); big: 10/2/16 = 0.3125
    assert(rows((0.0, "small"))._3 == 1.0)
    assert(rows((0.0, "small"))._2 == 4L && rows((0.0, "small"))._4 == 1.0)
    assert(rows((0.0, "big"))._3 == 0.3125)
    // α=0.5: w=√n, Σw=6 → small 10·2/6/4 = 0.833333; big 10·4/6/16 = 0.416667
    assert(rows((0.5, "small"))._3 == 0.833333)
    assert(rows((0.5, "big"))._3 == 0.416667)
    // rate is monotone in α: nonincreasing for the low-resource source,
    // nondecreasing for the high-resource one (the point of temperature)
    val alphas = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val smallRates = alphas.map(a => rows((a, "small"))._3)
    val bigRates = alphas.map(a => rows((a, "big"))._3)
    assert(smallRates.zip(smallRates.tail).forall { case (x, y) => x >= y }, s"small $smallRates")
    assert(bigRates.zip(bigRates.tail).forall { case (x, y) => x <= y }, s"big $bigRates")
    // the α=0.5 column IS sampleTemperature's realized sample, per source
    val temp = Sampling.sampleTemperature(df, budgetDocs = 10L).collect()
      .groupBy(_.getString(1)).map { case (s, a) => s -> a.length.toLong }
    assert(rows((0.5, "small"))._2 == temp.getOrElse("small", 0L))
    assert(rows((0.5, "big"))._2 == temp.getOrElse("big", 0L))
    // kept_frac is the exact-integer half-away ratio of the counts
    rows.foreach { case ((a, s), (nd, nk, _, kf)) =>
      val expect = ((20000L * nk + nd) / (2L * nd)).toDouble / 10000.0
      assert(kf == expect, s"($a,$s): kept_frac $kf != $expect")
      assert(nk >= 0L && nk <= nd)
    }
    // deterministic under repartitioning (membership is a pure hash)
    val again = Sampling.temperatureCurve(df.repartition(7), budgetDocs = 10L).collect()
      .map(r => (r.getDouble(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rows == again)
  }

  test("dsirCurve: taus match the exact JVM rank quantile; f=0.2 row equals dsirThreshold; monotone in the budget") {
    val fractions = Seq(0.05, 0.1, 0.2, 0.5)
    val curve = Sampling.dsirCurveOverFeats(Sampling.dsirFeats(docs), fractions).collect()
      .map(r => r.getDouble(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(curve.keySet == fractions.toSet)
    // JVM reference: sorted weights, tau_f = rank-ceil((1-f)·n) element,
    // selected = the >= tau closure (ties all kept)
    val ws = Sampling.dsirWeightsOverFeats(Sampling.dsirFeats(docs))
      .collect().map(_.getDouble(3)).sorted
    val n = ws.length
    fractions.foreach { f =>
      val tau = ws(math.ceil((1.0 - f) * n).toLong.toInt - 1)
      val k = ws.count(_ >= tau)
      val (gotTau, gotK, gotN, gotFrac, gotMean) = curve(f)
      assert(gotTau == tau, s"f=$f tau $gotTau != $tau")
      assert(gotK == k && gotN == n, s"f=$f count $gotK/$gotN != $k/$n")
      assert(gotFrac == ((20000L * k + n) / (2L * n)).toDouble / 10000.0)
      // the exact-integer half-away mean: W = Σ round(w·10⁴) over the
      // selection, mean = sign(W)·((200·|W| + k) DIV (2k)) / 10⁶
      val bigW = ws.filter(_ >= tau).map(x => math.round(x * 10000)).sum
      val mean = (if (bigW < 0) -1.0 else 1.0) *
        ((200L * math.abs(bigW) + k) / (2L * k)).toDouble / 1000000.0
      assert(gotMean == mean, s"f=$f mean $gotMean != $mean")
    }
    // the f=0.2 row IS dsirThresholdOverFeats' selection (same tau, same set size)
    val th = Sampling.dsirThresholdOverFeats(Sampling.dsirFeats(docs), budgetFraction = 0.2).collect()
    assert(curve(0.2)._2 == th.length)
    assert(curve(0.2)._1 == th.head.getDouble(3))
    // loosening the budget is monotone: tau falls, selection grows, and
    // the mean selected weight decays (lower-weight docs join the set)
    val ordered = fractions.map(curve)
    assert(ordered.map(_._1).zip(ordered.map(_._1).tail).forall { case (a, b) => a >= b })
    assert(ordered.map(_._2).zip(ordered.map(_._2).tail).forall { case (a, b) => a <= b })
    assert(ordered.map(_._5).zip(ordered.map(_._5).tail).forall { case (a, b) => a >= b })
    // degenerate corpus (every doc IS the target): no weights exist, so
    // the curve is EMPTY on both engines — not |fractions| null rows
    val allTarget = Seq((1L, "alpha beta gamma", "src19"), (2L, "delta epsilon zeta", "src19"))
      .toDF("doc_id", "text", "source")
    assert(Sampling.dsirCurveOverFeats(Sampling.dsirFeats(allTarget), fractions).collect().isEmpty)
  }

  test("softDedupSample: planted dup classes sampled at 1/n, singletons kept, JVM membership exact") {
    val dup10 = "the same duplicated text body appearing many times in the corpus"
    val dup4 = "another repeated passage of text that shows up a few times"
    val rows =
      (0 until 10).map(i => (100L + i, "srcA", dup10)) ++
        (0 until 4).map(i => (200L + i, "srcB", dup4)) ++
        (0 until 20).map(i => (300L + i, "srcC", s"unique document number $i with its own words"))
    val df = rows.toDF("doc_id", "source", "text")
    val out = Sampling.softDedupSample(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // singletons: rate 1 → all kept, n_copies 1
    (0 until 20).foreach(i => assert(out.get(300L + i).contains(1L)))
    // JVM reference of the membership: 15-hex md5 coord < integer-hex
    // threshold of ROUND(1/n, 6) at the exact 2^60 scale
    def coord(src: String, id: Long) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$src:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    def th(n: Int): String = {
      val rate = java.math.BigDecimal.valueOf(1.0 / n)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      f"${math.min((rate * math.pow(2, 60)).toLong, (1L << 60) - 1)}%015x"
    }
    val expect10 = (0 until 10).map(i => 100L + i).filter(id => coord("srcA", id) < th(10)).toSet
    val expect4 = (0 until 4).map(i => 200L + i).filter(id => coord("srcB", id) < th(4)).toSet
    assert(out.keySet.filter(id => id >= 100L && id < 200L) == expect10)
    assert(out.keySet.filter(id => id >= 200L && id < 300L) == expect4)
    expect10.foreach(id => assert(out(id) == 10L))
    expect4.foreach(id => assert(out(id) == 4L))
    // partitioning-independent (pure function of the data)
    val again = Sampling.softDedupSample(df.repartition(7)).collect()
      .map(_.getLong(0)).toSet
    assert(again == out.keySet)
  }

  test("splitAssign: total, disjoint, stable under repartitioning, monotone in validFrac") {
    val out = Sampling.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.size == docs.count(), "every doc gets exactly one split")
    assert(out.values.toSet.subsetOf(Set("train", "valid", "test")))
    assert(out.values.count(_ == "train") > out.values.count(_ == "valid"),
      "90/5/5 defaults: train dominates")
    // pure function of the data: partitioning cannot move a doc
    val again = Sampling.splitAssign(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == out)
    // monotone: growing validFrac only moves docs train -> valid
    val wider = Sampling.splitAssign(docs, validFrac = 0.20).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    out.foreach { case (id, s) =>
      (s, wider(id)) match {
        case ("train", w) => assert(w == "train" || w == "valid")
        case (o, w)       => assert(o == w, s"doc $id moved $o -> $w across the valid cut")
      }
    }
    // JVM reference of the cut: 15-hex md5 coord against the 2^60-scale thresholds
    def coord(src: String, id: Long) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$src:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    def th(rate: Double) = f"${(rate * math.pow(2, 60)).toLong}%015x"
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, s) =>
      val c = coord(srcOf(id), id)
      val expect = if (c < th(0.90)) "train" else if (c < th(0.95)) "valid" else "test"
      assert(s == expect)
    }
  }

  private def md5coord(src: String, id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$src:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
  private def hexTh(rate: Double) = f"${(rate * math.pow(2, 60)).toLong}%015x"
  private def idSplit(src: String, id: Long): String = {
    val c = md5coord(src, id)
    if (c < hexTh(0.90)) "train" else if (c < hexTh(0.95)) "valid" else "test"
  }
  /** Smallest doc_id ≥ 1 that the identity split sends to `want`. */
  private def idIn(want: String, src: String = "web"): Long =
    (1L to 2000L).find(i => idSplit(src, i) == want)
      .getOrElse(fail(s"no id lands in $want"))

  test("splitAssignByContent: exact copies co-assign; normalization-invariant; scan-side") {
    val text = "alpha beta gamma delta epsilon"
    val trainId = idIn("train")
    val testId = idIn("test")
    val df = Seq((trainId, "web", text), (testId, "web", text)).toDF("doc_id", "source", "text")
    // the identity split SEPARATES these exact copies (the leakage class)...
    val byId = Sampling.splitAssign(df).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(trainId) == "train" && byId(testId) == "test")
    // ...the content split cannot, by construction
    val byContent = Sampling.splitAssignByContent(df).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byContent(trainId) == byContent(testId), "exact copies must co-assign")
    // whitespace/case variants are the same content (exact-dedup key)
    val noisy = Seq((999L, "other", "  ALPHA  beta   gamma delta EPSILON "))
      .toDF("doc_id", "source", "text")
    assert(Sampling.splitAssignByContent(noisy).collect().head.getString(2)
      == byContent(trainId), "normalized variants share the content coordinate")
    // scan-side: no exchange in the plan
    val plan = Sampling.splitAssignByContent(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("splitLeakage hand example: span leaks counted against train, exact dups flagged") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val trainText = s"$shared x1 x2 x3 x4 x5 x6 x7 x8"
    val t1 = idIn("train")
    val ids = (1L to 5000L).filter(i => i != t1 && idSplit("web", i) != "train")
    val (h1, h2, h3) = (ids(0), ids(1), ids(2))
    val df = Seq(
      (t1, "web", trainText),                          // train: spans {shared, x...}
      (h1, "web", s"$shared h1 h2 h3 h4 h5 h6 h7 h8"), // holdout: half leaked
      (h2, "web", trainText),                          // holdout: exact copy of a train doc
      (h3, "web", "u1 u2 u3 u4 u5 u6 u7 u8")           // holdout: clean
    ).toDF("doc_id", "source", "text")
    val out = Sampling.splitLeakage(df).collect()
      .map(r => r.getLong(0) -> (r.getInt(3), r.getLong(4), r.getDouble(5), r.getInt(6))).toMap
    assert(out.keySet == Set(h1, h2, h3), "one report row per holdout doc")
    assert(out(h1) == ((2, 1L, 0.5, 0)), "half the spans leak, not an exact dup")
    assert(out(h2) == ((2, 2L, 1.0, 1)), "exact train copy: full leak + dup flag")
    assert(out(h3) == ((1, 0L, 0.0, 0)), "clean holdout doc")
  }

  test("splitSemanticLeakage: a planted embedding copy across the boundary leaks at cosine 1.0 where the span report reads clean; candidate-less holdout counts unleaked") {
    val t1 = idIn("train")
    val v1 = idIn("valid")
    val s1 = idIn("test")
    // DIFFERENT texts everywhere — the span-based report must read
    // zero leakage; the semantic axis is the only one that can see
    // the planted embedding copy
    val df = Seq(
      (t1, "web", "alpha beta gamma delta epsilon zeta eta theta"),
      (v1, "web", "one two three four five six seven eight"),
      (s1, "web", "red orange yellow green blue indigo violet pink")
    ).toDF("doc_id", "source", "text")
    val e1 = Seq(1f, 0f, 0f, 0f)
    val e2 = Seq(0f, 0f, 1f, 0f)
    val emb = Seq(
      (t1, 0, e1),   // train anchor
      (v1, 0, e1),   // VALID: exact embedding copy of the train doc
      (s1, 0, e2))   // TEST: orthogonal — clean
      .toDF("vec_id", "label", "embedding")
    // two centroids, nAssign=2 → every vector shares both canopies
    // (degenerate-complete blocking, so the spec tests the metric,
    // not the blocking)
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))
    val out = Sampling.splitSemanticLeakage(df, emb, cents).collect()
      .map(r => r.getAs[String]("split") ->
        ((r.getAs[Long]("n_holdout"), r.getAs[Long]("n_leaked"),
          r.getAs[Double]("leak_rate"), r.getAs[Double]("top_cos")))).toMap
    assert(out("valid") == ((1L, 1L, 1.0, 1.0)),
      s"the planted copy must leak at cosine 1.0: ${out("valid")}")
    assert(out("test") == ((1L, 0L, 0.0, 0.0)),
      s"the orthogonal holdout must read clean: ${out("test")}")
    // the counterfactual: the SPAN report sees nothing (no shared
    // 8-gram, no exact dup) — this is the axis the semantic card adds
    val spans = Sampling.splitLeakage(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getInt(6)))).toMap
    assert(spans(v1) == ((0L, 0)) && spans(s1) == ((0L, 0)),
      "the span report must be blind to the embedding copy")
    // candidate-less holdout: drop the train anchor — nothing to leak
    // against, both holdout docs count unleaked with top_cos 0.0
    val out2 = Sampling.splitSemanticLeakage(
      df.filter($"doc_id" =!= t1), emb.filter($"vec_id" =!= t1), cents)
      .collect().map(r => r.getAs[String]("split") ->
        ((r.getAs[Long]("n_leaked"), r.getAs[Double]("top_cos")))).toMap
    assert(out2("valid") == ((0L, 0.0)) && out2("test") == ((0L, 0.0)))
  }

  test("splitLeakage corpus: matches a JVM reference; stable under repartitioning") {
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val rows = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def spansOf(text: String): Seq[String] = {
      val t = norm(text).split(" ", -1).toSeq
      val n = math.ceil(t.size / 8.0).toInt
      (0 until n).map(i => t.slice(i * 8, i * 8 + 8).mkString(" "))
    }
    val bySplit = rows.groupBy { case (id, src, _) => idSplit(src, id) }
    val trainSpans = bySplit.getOrElse("train", Array.empty).flatMap(r => spansOf(r._3)).toSet
    val trainHashes = bySplit.getOrElse("train", Array.empty).map(r => norm(r._3)).toSet
    val expect = rows.filter { case (id, src, _) => idSplit(src, id) != "train" }
      .map { case (id, src, text) =>
        val sp = spansOf(text)
        val leaked = sp.count(trainSpans.contains)
        def r4(d: Double) = java.math.BigDecimal.valueOf(d)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        id -> ((sp.size, leaked.toLong, r4(leaked.toDouble / sp.size),
          if (trainHashes.contains(norm(text))) 1 else 0))
      }.toMap
    val got = Sampling.splitLeakage(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(3), r.getLong(4), r.getDouble(5), r.getInt(6))).toMap
    assert(got == expect)
    val again = Sampling.splitLeakage(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getInt(3), r.getLong(4), r.getDouble(5), r.getInt(6))).toMap
    assert(again == got)
  }

  test("epochPlan: matches a JVM reference; budget conserved within rounding; cap binds") {
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val rows = docs.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = rows.groupBy(_._1).map { case (src, rs) =>
      src -> (rs.length.toLong,
        rs.map(r => norm(r._2).split(" ").count(_.nonEmpty).toLong).sum)
    }
    val weight = toks.keys.map(s =>
      s -> Sampling.EpochParts.getOrElse(s, Sampling.EpochPartDefault)).toMap
    val wsum = weight.values.sum.toLong
    def r4(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val budget = 100000.0
    val expect = toks.map { case (src, (nDocs, nToks)) =>
      val target = math.round(budget * weight(src) / wsum)
      val needed = r4(target.toDouble / math.max(nToks, 1L))
      src -> ((nDocs, nToks, weight(src), target, needed, math.min(needed, 4.0),
        math.max(target - 4 * nToks, 0L)))
    }
    val got = Sampling.epochPlan(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getLong(7)))).toMap
    assert(got == expect)
    // conservation: targets sum to the budget within one rounding per source
    val targets = got.values.map(_._4)
    assert(math.abs(targets.sum - 100000L) <= got.size)
    // the 100k budget over this tiny corpus MUST hit the 4-epoch cap somewhere
    assert(got.values.exists(v => v._5 > 4.0 && v._7 > 0L), "cap + deficit exercised")
    assert(got.values.forall(v => v._6 <= 4.0))
  }

  test("mixWaterfill: matches the JVM greedy waterfill; capped sources get exactly capacity; feasible + partition-invariant") {
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val rows = docs.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = rows.groupBy(_._1).map { case (src, rs) =>
      src -> rs.map(r => norm(r._2).split(" ").count(_.nonEmpty).toLong).sum
    }
    val weight = toks.keys.map(s =>
      s -> Sampling.EpochParts.getOrElse(s, Sampling.EpochPartDefault).toLong).toMap
    // JVM reference: the sequential greedy in ascending (capacity/weight,
    // source) order — the algorithm the operator's prefix formulation
    // must equal
    val B = 100000L
    val order = toks.keys.toSeq.sortBy(s => ((toks(s) * 4).toDouble / weight(s), s))
    var bRem = B; var wRem = weight.values.sum
    var live = true // the capped set is a prefix: first failure ends it
    val expect = scala.collection.mutable.Map.empty[String, (Long, Long)] // capped, alloc
    order.foreach { s =>
      val cap = toks(s) * 4
      if (live && weight(s) * bRem >= cap * wRem) {
        expect(s) = (1L, cap); bRem -= cap; wRem -= weight(s)
      } else { // half-away quotient of the invariant remainder
        live = false
        expect(s) = (0L, (2 * weight(s) * bRem + wRem) / (2 * wRem))
      }
    }
    val got = Sampling.mixWaterfill(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7), r.getDouble(8), r.getLong(9)))).toMap
    got.foreach { case (s, (cap, capped, alloc, share, epochs, _)) =>
      assert(cap == toks(s) * 4, s"$s capacity")
      assert((capped, alloc) == expect(s), s"$s greedy reference")
      assert(share == ((20000L * alloc + B) / (2 * B)).toDouble / 10000.0, s"$s share")
      val nt = math.max(toks(s), 1L)
      assert(epochs == ((20000L * alloc + nt) / (2 * nt)).toDouble / 10000.0, s"$s epochs")
      assert(alloc <= cap, s"$s alloc within capacity")
    }
    // feasibility: the allocation never overspends the budget beyond
    // the per-source half-away rounding, and unserved is its exact gap
    val allocSum = got.values.map(_._3).sum
    assert(allocSum <= B + got.size, "Σalloc ≤ budget + rounding")
    assert(got.values.map(_._6).toSet.size == 1, "one unserved scalar broadcast")
    assert(got.values.head._6 == math.max(B - allocSum, 0L))
    // the 100k budget over this tiny corpus must cap somewhere AND
    // redistribute somewhere (both arms of the operator exercised)
    assert(got.values.exists(_._2 == 1L) && got.values.exists(_._2 == 0L))
    // uncapped sources absorb the capped deficit: each uncapped alloc
    // strictly exceeds its naive Σw share (redistribution happened)
    val wsum = weight.values.sum
    got.foreach { case (s, (_, capped, alloc, _, _, _)) =>
      if (capped == 0L)
        assert(alloc > B * weight(s) / wsum, s"$s must gain from redistribution")
    }
    // partition-invariance: the per-source token sums are exact longs
    val again = Sampling.mixWaterfill(docs.repartition(7)).collect()
      .map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7), r.getDouble(8), r.getLong(9)))).toMap
    assert(again == got)
    // an over-generous budget caps EVERY source and reports the
    // structural deficit exactly
    val rich = Sampling.mixWaterfill(docs, budgetTokens = 100000000L).collect()
      .map(r => (r.getLong(5), r.getLong(6), r.getLong(9)))
    assert(rich.forall(_._1 == 1L), "all capped under a huge budget")
    val capTotal = toks.values.map(_ * 4).sum
    assert(rich.forall(_._3 == 100000000L - capTotal), "unserved = structural deficit")
    assert(rich.map(_._2).sum == capTotal)
  }

  test("mixAnneal: matches a two-pass JVM greedy; anneal capacity = capacity left after main; boost wired to the quality rank") {
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val en = graft.ops.TextAnalysis.stopwords("en").toSet
    val rows = docs.select("source", "text").collect()
      .map(r => (r.getString(0), norm(r.getString(1)).split(" ").filter(_.nonEmpty)))
    val bySrc = rows.groupBy(_._1).map { case (src, rs) =>
      val toks = rs.map(_._2.length.toLong).sum
      val high = rs.count(r => r._2.length >= 50 && r._2.count(en) > 0).toLong
      src -> ((rs.length.toLong, toks, high))
    }
    val weight = bySrc.keys.map(s =>
      s -> Sampling.EpochParts.getOrElse(s, Sampling.EpochPartDefault).toLong).toMap
    val srcs = bySrc.keys.toSeq
    val nSrc = srcs.size
    // quality rank: top ⌈S/4⌉ by (high fraction desc, source)
    val qOrder = srcs.sortBy(s =>
      (-bySrc(s)._3.toDouble / bySrc(s)._1, s))
    val annealedSet = qOrder.take((nSrc + 3) / 4).toSet
    // reference greedy (the mixWaterfill spec's loop), parametrized
    def greedy(B: Long, w: Map[String, Long], cap: Map[String, Long]): Map[String, (Long, Long)] = {
      val order = srcs.sortBy(s => (cap(s).toDouble / w(s), s))
      var bRem = B; var wRem = w.values.sum; var live = true
      val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
      order.foreach { s =>
        if (live && w(s) * bRem >= cap(s) * wRem) {
          out(s) = (1L, cap(s)); bRem -= cap(s); wRem -= w(s)
        } else { live = false; out(s) = (0L, (2 * w(s) * bRem + wRem) / (2 * wRem)) }
      }
      out.toMap
    }
    val B = 100000L; val b2 = B / 4; val b1 = B - b2
    val cap1 = bySrc.map { case (s, (_, t, _)) => s -> t * 4 }
    val main = greedy(b1, weight, cap1)
    val w2 = weight.map { case (s, w) => s -> (if (annealedSet(s)) w * 4 else w) }
    val cap2 = cap1.map { case (s, c) => s -> (c - main(s)._2) }
    val anneal = greedy(b2, w2, cap2)
    val got = Sampling.mixAnneal(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9), r.getDouble(10)))).toMap
    assert(got.size == 2 * nSrc)
    srcs.foreach { s =>
      val (ann1, wm, capM, cappedM, allocM, shareM) = got(("main", s))
      assert(ann1 == (if (annealedSet(s)) 1L else 0L), s"$s annealed flag")
      assert(wm == weight(s) && capM == cap1(s))
      assert((cappedM, allocM) == main(s), s"$s main greedy")
      assert(shareM == ((20000L * allocM + b1) / (2 * b1)).toDouble / 10000.0)
      val (ann2, wa, capA, cappedA, allocA, shareA) = got(("anneal", s))
      assert(ann2 == ann1)
      assert(wa == w2(s), s"$s anneal weight boost")
      assert(capA == cap2(s), s"$s anneal capacity = capacity left after main")
      assert((cappedA, allocA) == anneal(s), s"$s anneal greedy")
      assert(shareA == ((20000L * allocA + b2) / (2 * b2)).toDouble / 10000.0)
      // the run-level repeat cap holds across phases
      assert(allocM + allocA <= cap1(s), s"$s cross-phase cap")
    }
    // both the boost and its complement are real on this corpus
    assert(annealedSet.nonEmpty && annealedSet.size < nSrc)
    // partition invariance
    val again = Sampling.mixAnneal(docs.repartition(7)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9), r.getDouble(10)))).toMap
    assert(again == got)
  }

  test("annealCurve: every arm matches the two-pass JVM greedy; the beta=0 arm equals mixWaterfill's totals") {
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val en = graft.ops.TextAnalysis.stopwords("en").toSet
    val rows = docs.select("source", "text").collect()
      .map(r => (r.getString(0), norm(r.getString(1)).split(" ").filter(_.nonEmpty)))
    val bySrc = rows.groupBy(_._1).map { case (src, rs) =>
      src -> ((rs.length.toLong, rs.map(_._2.length.toLong).sum,
        rs.count(r => r._2.length >= 50 && r._2.count(en) > 0).toLong))
    }
    val weight = bySrc.keys.map(s =>
      s -> Sampling.EpochParts.getOrElse(s, Sampling.EpochPartDefault).toLong).toMap
    val srcs = bySrc.keys.toSeq
    val annealedSet = srcs.sortBy(s => (-bySrc(s)._3.toDouble / bySrc(s)._1, s))
      .take((srcs.size + 3) / 4).toSet
    def greedy(B: Long, w: Map[String, Long], cap: Map[String, Long]): Map[String, Long] = {
      val order = srcs.sortBy(s => (cap(s).toDouble / w(s), s))
      var bRem = B; var wRem = w.values.sum; var live = true
      val out = scala.collection.mutable.Map.empty[String, Long]
      order.foreach { s =>
        if (live && w(s) * bRem >= cap(s) * wRem) {
          out(s) = cap(s); bRem -= cap(s); wRem -= w(s)
        } else { live = false; out(s) = (2 * w(s) * bRem + wRem) / (2 * wRem) }
      }
      out.toMap
    }
    val B = 100000L
    val cap1 = bySrc.map { case (s, (_, t, _)) => s -> t * 4 }
    val w2 = weight.map { case (s, w) => s -> (if (annealedSet(s)) w * 4 else w) }
    val expect = Seq(0, 1, 2, 4).map { k =>
      val b2 = B * k / 8; val b1 = B - b2
      val main = greedy(b1, weight, cap1)
      val anneal = greedy(b2, w2, cap1.map { case (s, c) => s -> (c - main(s)) })
      val at = srcs.map(s => main(s) + anneal(s)).sum
      val ah = srcs.filter(annealedSet).map(s => main(s) + anneal(s)).sum
      k.toLong -> ((b1, b2, ah, at,
        ((20000L * ah + math.max(at, 1L)) / (2 * math.max(at, 1L))).toDouble / 10000.0,
        math.max(B - at, 0L)))
    }.toMap
    val got = Sampling.annealCurve(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6)))).toMap
    assert(got == expect)
    // the beta=0 arm IS the plain waterfill: totals reconcile exactly
    val wf = Sampling.mixWaterfill(docs).collect()
    assert(got(0L)._4 == wf.map(_.getLong(6)).sum, "beta=0 total ≡ mixWaterfill Σalloc")
    assert(got(0L)._6 == wf.head.getLong(9), "beta=0 unserved ≡ mixWaterfill's")
  }

  test("dsirSelect: exactly the top-n of dsirWeights under (weight desc, doc_id) order") {
    val weights = Sampling.dsirWeightsOverFeats(Sampling.dsirFeats(docs)).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    val expect = weights.sortBy { case (id, w) => (-w, id) }.take(10).map(_._1).toSet
    val got = Sampling.dsirSelectOverFeats(Sampling.dsirFeats(docs), n = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect)
    assert(got.size == 10)
    // an over-large n degrades to the full weighted set, never errors
    assert(Sampling.dsirSelectOverFeats(Sampling.dsirFeats(docs), n = 100000).count() ==
      weights.length)
  }

  test("dsirThreshold: selection ≡ top-n at matched budget; τ is the exact ⌈q·N⌉ rank below sketch capacity") {
    val sel = Sampling.dsirThresholdOverFeats(Sampling.dsirFeats(docs), budgetFraction = 0.2).collect()
    val tau = sel.head.getDouble(3)
    assert(sel.forall(_.getDouble(3) == tau), "one scalar τ broadcast to every row")
    assert(sel.forall(_.getDouble(2) >= tau), "selection is exactly { weight >= tau }")
    // matched-budget equivalence: |S| docs with weight >= τ means the
    // top-|S| under (weight desc, doc_id) is the SAME set — the
    // threshold form loses nothing vs top-n at the budget it realizes
    val weights = Sampling.dsirWeightsOverFeats(Sampling.dsirFeats(docs)).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    val topN = weights.sortBy { case (id, w) => (-w, id) }.take(sel.length).map(_._1).toSet
    assert(sel.map(_.getLong(0)).toSet == topN)
    // exact regime: N < accuracy ⇒ the GK sketch keeps every sample and
    // τ is the 1-based rank ⌈q·N⌉ of the ascending weights (the oracle's
    // formula); also the declared rank-error bound holds trivially
    val ws = weights.map(_._2).sorted
    val n = ws.length
    val exact = ws(math.ceil(0.8 * n).toInt - 1)
    assert(tau == exact, s"sketch τ $tau vs exact-rank $exact")
    val rankOfTau = ws.count(_ < tau) + 1
    assert(math.abs(rankOfTau - 0.8 * n) <= n / 10000.0 + 1)
    // sketch-vs-exact differential at a LOWERED accuracy (forces the
    // compressed regime): τ' must stay within the declared rank error
    val coarse = Sampling.dsirThresholdOverFeats(Sampling.dsirFeats(docs), budgetFraction = 0.2,
        accuracy = 50)
      .collect().head.getDouble(3)
    // ties occupy a rank INTERVAL [count(<v)+1, count(≤v)]
    val lo = ws.count(_ < coarse) + 1
    val hi = ws.count(_ <= coarse)
    val err = if (0.8 * n >= lo && 0.8 * n <= hi) 0.0
      else math.min(math.abs(lo - 0.8 * n), math.abs(hi - 0.8 * n))
    assert(err <= n / 50.0 + 1,
      s"coarse-sketch rank [$lo,$hi] vs target ${0.8 * n} beyond N/accuracy")
  }

  test("dsirThreshold exact-regime guard: every oracle corpus scores fewer docs than the GK accuracy") {
    // d_dsir_threshold / d_dsir_curve are hash-checkable only while the
    // GK sketch retains every sample (scored docs ≤ accuracy = 10000 —
    // the documented contract); a testdata regeneration that silently
    // crossed the threshold would leave the exact-rank DuckDB mirror
    // comparing against an APPROXIMATE τ. Pin the precondition here so
    // the regression is a loud spec failure, not an oracle mystery.
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001, "/root/testdata/sf0.1")) {
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      assert(n <= 10000L,
        s"$dir has $n docs — past the GK accuracy, d_dsir_* leaves the exact regime")
    }
  }

  test("corpusShuffle: (shard, pos) is a total order — a permutation of the corpus") {
    val out = Sampling.corpusShuffle(docs).collect()
    assert(out.length == docs.count())
    // every (shard, pos) unique; positions within a shard are 1..n_shard
    val byShard = out.groupBy(_.getString(2))
    byShard.foreach { case (_, rows) =>
      val ps = rows.map(_.getLong(3)).sorted
      assert(ps.toSeq == (1L to rows.length).toSeq)
    }
    // shard is the first hex nibble of md5("source:doc_id") — JVM check
    val md = java.security.MessageDigest.getInstance("MD5")
    out.take(20).foreach { r =>
      val hex = md.digest(s"${r.getString(1)}:${r.getLong(0)}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(2) == hex.substring(0, 1))
    }
    // deterministic: a second run produces the identical assignment
    val again = Sampling.corpusShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(again == out.map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet)
  }

  test("mixReport: realized fractions reconcile with the sampler exactly; targets echo the declared rates") {
    val report = Sampling.mixReportFromCards(
        Sampling.mixturePartials(docs, Sampling.MixRates, Sampling.MixDefault),
        Sampling.MixRates, Sampling.MixDefault).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    // the report's kept counts must equal the ACTUAL sampler output
    val kept = Sampling.sampleMixture(docs, Sampling.MixRates, Sampling.MixDefault)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.keySet == totals.keySet, "every source gets a row")
    report.foreach { case (src, (nDocs, nKept, frac, target, dev)) =>
      assert(nDocs == totals(src))
      assert(nKept == kept.getOrElse(src, 0L), s"$src kept count must reconcile with the sampler")
      val expTarget = Sampling.MixRates.getOrElse(src, Sampling.MixDefault)
      assert(target == expTarget)
      assert(math.abs(frac - BigDecimal(nKept.toDouble / nDocs)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(math.abs(dev - BigDecimal(math.abs(frac - target))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("shardAssign: JVM HRW differential; adding a shard moves ONLY winners of the new shard (~1/(n+1))") {
    val shards8 = (0 until 8).map(i => s"shard$i")
    val shards9 = shards8 :+ "shard8"
    val a8 = Sampling.shardAssign(docs, shards8).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val a9 = Sampling.shardAssign(docs, shards9).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // JVM reference: argmin of md5(shard|source:doc_id) hex by (score, shard)
    val md = java.security.MessageDigest.getInstance("MD5")
    def score(s: String, key: String): String =
      md.digest(s"$s|$key".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    rows.take(50).foreach { case (id, src) =>
      val key = s"$src:$id"
      val expect = shards8.map(s => (score(s, key), s)).min._2
      assert(a8(id) == expect, s"doc $id")
    }
    // minimal movement: every moved doc moved TO the new shard, and the
    // moved fraction concentrates near 1/9
    val moved = rows.filter { case (id, _) => a8(id) != a9(id) }
    assert(moved.nonEmpty)
    moved.foreach { case (id, _) => assert(a9(id) == "shard8", s"doc $id moved to an old shard") }
    val frac = moved.length.toDouble / rows.length
    assert(math.abs(frac - 1.0 / 9) < 0.03, s"moved fraction $frac should be ≈ 1/9")
    // balance: no shard holds more than 2× the fair share
    val byShard = a8.values.groupBy(identity).view.mapValues(_.size)
    byShard.foreach { case (s, n) =>
      assert(n < 2.0 * rows.length / 8, s"$s holds $n of ${rows.length}")
    }
  }

  test("weightedSample: matches a JVM A-ES reference exactly; partition-invariant; weight-biased") {
    val k = 200
    val out = Sampling.weightedSample(docs, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == k)
    // JVM reference: same FNV-1a / low-53-bit / ln-score arithmetic
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
      h
    }
    val ref = docs.select("doc_id", "source", "n_chars").collect().map { r =>
      val (id, src, nc) = (r.getLong(0), r.getString(1), r.getLong(2))
      val w = math.max(nc, 1L)
      val u53 = fnv(s"${Option(src).getOrElse("")}:$id") & ((1L << 53) - 1)
      val u = (u53.toDouble + 1.0) / 9007199254740993.0
      val sc = BigDecimal(math.log(u) / w)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      (id, src, w, sc)
    }.sortBy { case (id, _, _, sc) => (-sc, id) }.take(k)
    assert(out.map(_._1).toSeq == ref.map(_._1).toSeq, "selected set + order must match the JVM reference")
    out.zip(ref).foreach { case ((_, _, wOut, scOut), (_, _, wRef, scRef)) =>
      assert(wOut == wRef)
      assert(math.abs(scOut - scRef.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // partition-invariant (pure scan-side score + TakeOrdered)
    val again = Sampling.weightedSample(docs.repartition(7), k).collect().map(_.getLong(0))
    assert(again.toSeq == out.map(_._1).toSeq)
    // P(selection) ∝ weight: the sampled docs must be longer on average
    // than the corpus (docs weights span ~3 orders of magnitude)
    val corpusMean = docs.agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    val sampleMean = out.map(_._3.toDouble).sum / out.length
    assert(sampleMean > corpusMean, s"length-weighted sample mean $sampleMean must exceed corpus mean $corpusMean")
  }
}
