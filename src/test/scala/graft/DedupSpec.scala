package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Dedup

/** Semantics of the dedup family over the sf0.001 documents corpus
  * (500 docs with ~28 planted near-dup pairs at trigram-jaccard ≥ 0.8). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, TestSpark.sf0001).documents
  private lazy val embs = Tables(spark, TestSpark.sf0001).embeddings

  // the in-plan forms of what the served keys read from the Catalog
  private def index(d: DataFrame, dfCap: Option[Int] = None): DataFrame = {
    val inv = Dedup.shingleIndexFrom(Dedup.shingled(d))
    dfCap.fold(inv)(Dedup.shingleIndexCapped(inv, _))
  }
  private def ngramPairs(d: DataFrame, tau: Double = 0.8,
                         dfCap: Option[Int] = None): DataFrame =
    Dedup.ngramJaccardPairsFromIndex(index(d, dfCap), tau)
  private def candidates(d: DataFrame): DataFrame =
    Dedup.minhashCandidatesFromSignatures(Dedup.minhashSignatures(d))

  test("exactDedup: groups cover all docs, keep_id is the minimum of its group") {
    val out = Dedup.exactDedup(docs)
    assert(out.agg(sum("n_dups")).collect()(0).getLong(0) == docs.count())
    // whitespace/case variants of one text collapse to one group
    val variants = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, " HELLO\tWORLD "), (4L, "other"))
      .toDF("doc_id", "text")
    val g = Dedup.exactDedup(variants).collect()
    assert(g.length == 2)
    assert(g.find(_.getAs[Long]("n_dups") == 3).get.getAs[Long]("keep_id") == 1L)
  }

  test("exactDedupCanonical: NFD/NFC and control-padded copies collapse where the plain hash cannot") {
    val variants = Seq(
      (1L, "H\u00e9llo world"),          // composed e-acute
      (2L, "He\u0301llo world"),         // decomposed e + combining acute
      (3L, "H\u00e9llo\u0007 world"),   // composed + a BEL control
      (4L, "other text")
    ).toDF("doc_id", "text")
    val canon = Dedup.exactDedupCanonical(variants).collect()
    assert(canon.length == 2, "three spellings of one text must share a canonical class")
    assert(canon.find(_.getAs[Long]("n_dups") == 3).get.getAs[Long]("keep_id") == 1L)
    // the plain norm_hash treats all three as distinct — the gap this
    // operator exists to close
    assert(Dedup.exactDedup(variants).count() == 4)
    // on the (ASCII) test corpus the two keys agree class-for-class
    assert(Dedup.exactDedupCanonical(docs).count() == Dedup.exactDedup(docs).count())
    // coverage law holds
    assert(Dedup.exactDedupCanonical(docs).agg(sum("n_dups")).collect()(0).getLong(0)
      == docs.count())
  }

  test("dedupDocuments: keeps one survivor per group, min doc_id wins") {
    val variants = Seq((5L, "Hello  World"), (2L, "hello world"), (9L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupDocuments(variants).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(2L, 9L))
    // corpus-level: survivors count equals number of distinct normalized hashes
    assert(Dedup.dedupDocuments(docs).count() == Dedup.exactDedup(docs).count())
  }

  test("ngramJaccardPairs: exact jaccard, symmetric-free (a<b), finds the planted pairs") {
    val pairs = ngramPairs(docs, tau = 0.8).collect()
    assert(pairs.length == 28)
    assert(pairs.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(pairs.forall(r => r.getAs[Double]("jaccard") >= 0.8 && r.getAs[Double]("jaccard") <= 1.0))
  }

  test("nearDupPairs (candidates+verify) equals the exact inverted-index result") {
    val exact = ngramPairs(docs, tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pipeline = Dedup.nearDupPairs(docs, tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pipeline == exact)
  }

  test("minhashCandidates: recalls every true near-dup pair (J≈0.98 ⇒ P(candidate)≈1)") {
    val truth = ngramPairs(docs, tau = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = candidates(docs)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(truth.subsetOf(cand), s"missed: ${truth -- cand}")
    // banding prunes: candidates must be far fewer than all ~125k pairs
    assert(cand.size < 1000)
  }

  test("simhashPairs: all pairs within hamming bound and have high token overlap") {
    // SimHash approximates UNIGRAM (token-multiset) similarity — verify
    // against token-set jaccard, not the trigram measure.
    val tokenSets = docs.select($"doc_id", Dedup.tokens($"text").as("toks")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet).toMap
    val pairs = Dedup.simhashPairs(docs).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
    pairs.foreach { r =>
      val (a, b) = (tokenSets(r.getAs[Long]("doc_a")), tokenSets(r.getAs[Long]("doc_b")))
      val j = (a & b).size.toDouble / (a | b).size
      assert(j >= 0.5, s"pair ${r} has unigram jaccard $j")
    }
  }

  test("signature table is incremental: per-batch signatures union to the full table") {
    // new documents only need their own signatures computed — the table
    // grows by appending, never recomputing (per-doc, data-independent)
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 === 1)
    val incremental = Dedup.minhashSignatures(half1)
      .unionByName(Dedup.minhashSignatures(half2))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val full = Dedup.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(incremental == full)
  }

  test("candidates from a materialized signature table equal the inline path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sigs").toString
    Dedup.minhashSignatures(docs).write.mode("overwrite").parquet(dir)
    val fromTable = Dedup.minhashCandidatesFromSignatures(spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = candidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromTable == inline)
  }

  test("containmentPairs: planted excerpt found at containment 1.0 where jaccard misses it") {
    val long = (1 to 200).map(i => s"w$i").mkString(" ")
    val excerpt = (50 to 80).map(i => s"w$i").mkString(" ")   // contiguous slice of `long`
    val other = (1000 to 1200).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, long), (2L, excerpt), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.containmentPairsFromIndex(index(df)).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))
    assert(out.length == 1)
    val (a, b, c, j) = out.head
    assert((a, b) == ((1L, 2L)))
    assert(c == 1.0, "every shingle of the excerpt appears in the source doc")
    assert(j < 0.8, s"jaccard ($j) must miss the excerpt — that is the operator's point")
    assert(ngramPairs(df, tau = 0.8).collect().isEmpty)
    // corpus invariants: containment >= jaccard on every pair, thresholds respected
    val corpus =
      Dedup.containmentPairsFromIndex(index(docs)).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getAs[Double]("containment") >= r.getAs[Double]("jaccard"))
      assert(r.getAs[Double]("containment") >= 0.9)
    }
  }

  test("containmentPairs dfCap: planted boilerplate shingle stays bounded, clean excerpts unchanged") {
    // 50 docs sharing ONE boilerplate trigram and nothing else: the
    // uncapped inverted index fans that shingle into C(50,2) pair rows —
    // the skew shape the guard exists to prevent at corpus scale.
    val boiler = (1 to 50).map { d =>
      (100L + d, s"copyright acme corp u${d}a u${d}b u${d}c u${d}d")
    }
    // plus one clean excerpt pair whose shingles are all sub-cap
    val long = (1 to 200).map(i => s"w$i").mkString(" ")
    val excerpt = (50 to 80).map(i => s"w$i").mkString(" ")
    val df = (boiler ++ Seq((1L, long), (2L, excerpt)))
      .toDF("doc_id", "text")
    // θ=0 exposes the raw pair set: uncapped pays the C(50,2) fan-out...
    val uncapped =
      Dedup.containmentPairsFromIndex(index(df), theta = 0.0)
      .filter($"doc_a" >= 100L).count()
    assert(uncapped == 50L * 49 / 2)
    // ...capped: the df=50 shingle is anti-joined out, boilerplate-only
    // pairs share nothing and vanish — pair work is bounded
    val capped =
      Dedup.containmentPairsFromIndex(index(df, Some(10)), theta = 0.0)
    assert(capped.filter($"doc_a" >= 100L).count() == 0)
    // the clean excerpt pair is untouched by the cap: same containment,
    // same jaccard (its shingles are all below the cap)
    val pair = capped.filter($"doc_a" === 1L && $"doc_b" === 2L).collect()
    assert(pair.length == 1)
    assert(pair.head.getAs[Double]("containment") == 1.0)
    // corpus-level: no sf0.001 shingle reaches df 100, so the shipped
    // dfCap=100 key is measure-identical to the uncapped form there
    val cappedCorpus = Dedup.containmentPairsFromIndex(
        index(docs, Some(100))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val fullCorpus = Dedup.containmentPairsFromIndex(
        index(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(cappedCorpus == fullCorpus)
  }

  test("dedupCurve dfCap: boilerplate-heavy corpus curve stays bounded and clean pairs survive") {
    // same planted shape: the default-capped curve must not mine the
    // boilerplate fan-out, and true near-dups must still be counted
    val boiler = (1 to 50).map { d =>
      (100L + d, s"copyright acme corp u${d}a u${d}b u${d}c u${d}d")
    }
    val base = (1 to 39).map(i => s"word$i").mkString(" ")
    val df = (boiler ++ Seq((1L, base + " end"), (2L, base + " tail end")))
      .toDF("doc_id", "text")                      // J = 37/40 = 0.925
    val curve = Dedup.dedupCurveFromIndex(index(df, Some(100))).collect()
      .map(r => r.getAs[Double]("tau") -> r.getAs[Long]("n_pairs")).toMap
    assert(curve == Map(0.7 -> 1L, 0.8 -> 1L, 0.9 -> 1L),
      "only the clean near-dup pair per tau; no boilerplate-only pairs")
  }

  test("crossDedup: planted exact and near batch dups found with the right kind, clean docs pass") {
    // 40 distinct words → 38 distinct shingles; editing the final word
    // changes 3 of them: J = 35/41 ≈ 0.854 ≥ 0.8
    val base = (1 to 39).map(i => s"word$i").mkString(" ")
    val corpus = Seq((1L, base + " tail"),
      (2L, "an entirely different corpus document about query engines"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, base + " tail"),    // exact dup of corpus doc 1
      (101L, base + " changed"), // near dup of corpus doc 1 (one word edited)
      (102L, "a genuinely novel batch document with fresh content throughout"))
      .toDF("doc_id", "text")
    val out = Dedup.crossDedupFromSignatures(corpus, Dedup.docFingerprints(corpus),
      Dedup.minhashSignatures(corpus), batch, tau = 0.8).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[String]("kind")))
    assert(out.toSet == Set((100L, 1L, "exact"), (101L, 1L, "near")))
    // the batch-vs-corpus orientation is strict: corpus-internal and
    // batch-internal duplicates are NOT this operator's business
    assert(out.forall { case (b, c, _) => b >= 100L && c < 100L })
  }

  test("fuzzyPairs: planted near-dups found, distances within bound, no false matches") {
    val pairs = Dedup.fuzzyPairsFromCandidates(docs, candidates(docs), maxDist = 10)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getAs[Int]("edit_distance") >= 0 &&
      r.getAs[Int]("edit_distance") <= 10))
    // every fuzzy pair is also a high-jaccard near-dup on this corpus
    val truth = ngramPairs(docs, tau = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet.subsetOf(truth))
  }

  test("simhash fingerprint is deterministic and order-insensitive across partitions") {
    val a = Dedup.simhashFingerprints(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Dedup.simhashFingerprints(docs.repartition(7)).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("embedNearDup: matches a brute-force within-label check") {
    val out = Dedup.embedNearDup(embs, tau = 0.3)
    assert(out.count() == 82) // measured brute-force count at sf0.001, tau=0.3
    assert(out.filter($"cos_sim" < 0.3).count() == 0)
    // bucketed by label: every pair shares a label (guaranteed by the join key)
    assert(out.filter($"vec_a" >= $"vec_b").count() == 0)
  }

  test("operators are partition-invariant (same results under repartition)") {
    val shuffled = docs.repartition(7)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(Dedup.exactDedup(shuffled)) == rows(Dedup.exactDedup(docs)))
    assert(rows(ngramPairs(shuffled)) == rows(ngramPairs(docs)))
    assert(rows(graft.ops.TextAnalysis.tokenStats(shuffled)) ==
      rows(graft.ops.TextAnalysis.tokenStats(docs)))
  }

  test("dfCap drops ultra-frequent shingles from candidate generation") {
    val skewed = Seq(
      (1L, "common shingle here plus aaa"),
      (2L, "common shingle here plus bbb"),
      (3L, "common shingle here plus ccc"),
      (4L, "totally different text entirely now")).toDF("doc_id", "text")
    // cap=2: "common shingle here" (df=3) is dropped, pairs lose that overlap
    val uncapped = ngramPairs(skewed, tau = 0.1, dfCap = None).count()
    val capped = ngramPairs(skewed, tau = 0.1, dfCap = Some(2)).count()
    assert(capped <= uncapped)
    // the anti-join keeps sub-cap overlap: docs 1-3 still share "here plus"
    // ... only through sub-cap shingles, so capped jaccard is well-defined
    val cappedPairs = ngramPairs(skewed, tau = 0.0001, dfCap = Some(2)).collect()
    assert(cappedPairs.forall(r => r.getAs[Double]("jaccard") <= 1.0))
  }

  test("substringDupPairs: finds shared verbatim runs that whole-doc jaccard misses") {
    val quote = "the quick brown fox jumps over the lazy dog every single day"
    val fillerA = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val fillerB = (1 to 60).map(i => s"beta$i").mkString(" ")
    val df = Seq(
      (1L, s"$fillerA $quote"),            // long doc quoting the passage
      (2L, s"$fillerB $quote"),            // different long doc, same passage
      (3L, "totally unrelated text with nothing shared here at all beyond these words")
    ).toDF("doc_id", "text")
    val subs = Dedup.substringDupPairs(df, k = 8).collect()
    assert(subs.length == 1)
    assert(subs(0).getAs[Long]("doc_a") == 1L && subs(0).getAs[Long]("doc_b") == 2L)
    // 12-token quote → 12−8+1 = 5 distinct 8-gram runs shared
    assert(subs(0).getAs[Long]("n_shared_runs") == 5L)
    // whole-doc jaccard at the near-dup threshold misses this pair entirely
    assert(ngramPairs(df, tau = 0.8).count() == 0)
    // dfCap guard: a run present in EVERY doc is boilerplate, excluded
    val boiler = (1L to 150L).map(i => (i, s"common boilerplate header shared by all docs everywhere $i unique"))
      .toDF("doc_id", "text")
    assert(Dedup.substringDupPairs(boiler, k = 8, dfCap = 100).count() == 0)
  }

  test("winnowDupPairs: catches the insertion-shifted dup the 8-gram index misses; unrelated docs silent") {
    // doc 2 = doc 1 with ONE token inserted mid-passage: the 14-token
    // verbatim block splits into two 7-token halves — every 8-gram
    // spans the edit, so substringDupPairs(k=8) is blind; winnowing
    // (guarantee: any shared run ≥ k+w−1 = 6 tokens shares ≥ 1
    // fingerprint) collides on BOTH halves
    val half1 = "crimson anchor velvet morning thunder quiet ember"
    val half2 = "lantern drifting canyon whisper granite sudden voyage"
    val df = Seq(
      (1L, s"$half1 $half2"),
      (2L, s"$half1 INSERTED $half2"),
      (3L, "totally unrelated text with nothing shared here at all beyond plain words")
    ).toDF("doc_id", "text")
    assert(Dedup.substringDupPairs(df, k = 8).count() == 0,
      "the fixed 8-gram index must miss the insertion-shifted dup (the case this key exists for)")
    val got = Dedup.winnowDupPairs(df).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("doc_a") == 1L && got(0).getAs[Long]("doc_b") == 2L)
    assert(got(0).getAs[Long]("n_shared_fps") >= 2L, "one fingerprint per shared half, at least")
    // JVM differential on real docs: pairs from a collected-fingerprint
    // reference (same df-cap, same >= minShared gate) match exactly
    val docs = Tables(spark, TestSpark.sf0001).documents
    val fps = graft.ops.TextAnalysis.winnowFingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val df100 = fps.groupBy(_._2).filter(_._2.length > 100).keySet
    val byFp = fps.filterNot(p => df100(p._2)).groupBy(_._2)
    val expect = byFp.values.flatMap { ds =>
      val ids = ds.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 2L)
    val real = Dedup.winnowDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(real == expect, s"${real.size} pairs vs reference ${expect.size}")
  }

  test("spanDedup: duplicated spans removed, first occurrence survives, unique text untouched") {
    val k = 4
    val shared = "alpha beta gamma delta" // one full span, verbatim
    val input = Seq(
      (1L, s"$shared unique one tail words here pad pad", "s"),
      (2L, s"$shared totally different continuation words pad pad2", "s"), // shares span 0 with doc 1
      (3L, "entirely fresh text with no overlap at all", "s"),
      (4L, s"$shared unique one tail words here pad pad", "s")) // exact dup of doc 1
      .toDF("doc_id", "text", "source")
    val out = Dedup.spanDedup(input, k).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_kept"), r.getAs[Int]("n_dropped"), r.getAs[String]("clean_text")))
      .toMap
    // doc 1 is the first occurrence of every one of its spans — untouched
    assert(out(1L)._2 == 0 && out(1L)._3 == s"$shared unique one tail words here pad pad")
    // doc 2 loses exactly the shared leading span, keeps the rest in order
    assert(out(2L) == ((2, 1, "totally different continuation words pad pad2")))
    // doc 3 has no duplicated spans
    assert(out(3L)._2 == 0)
    // doc 4 duplicates doc 1 verbatim: every span is removed, so the doc
    // disappears from the surviving corpus entirely
    assert(!out.contains(4L))
    // global invariant on the real corpus: no span text survives twice
    val survivors = Dedup.spanDedup(docs, k = 20)
    val respan = survivors
      .select(col("doc_id"), explode(split(col("clean_text"), " ")).as("w"))
    assert(survivors.count() > 0 && respan.count() > 0)
    val spansOut = Dedup.spanDedup(docs, k = 20)
      .select(col("doc_id"), col("clean_text"))
    // re-cutting survivors at the same k yields all-distinct spans only if
    // removal never splits a span — which reassembly by whole spans
    // guarantees; check duplicate full-doc texts are gone
    val dupTexts = spansOut.groupBy(col("clean_text")).count().filter(col("count") > 1).count()
    assert(dupTexts == 0, "no two surviving documents may be span-for-span identical")
  }

  test("graft_shingles_k at k=3 equals graft_shingles") {
    val texts = docs.limit(50)
    val a = texts.select($"doc_id", graft.functions.GraftFunctions.shingles($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val b = texts.select($"doc_id",
        graft.functions.GraftFunctions.shinglesK($"text", lit(3)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(a == b)
  }

  /** Planted replica corpus: `groups` near-identical replica groups
    * (cos ≈ 0.9998 within a group) — the regime blocking-based embedding
    * dedup exists for. label = group id, so embedNearDup's label buckets
    * are the exact truth. */
  private lazy val replicaEmbs = {
    val rnd = new scala.util.Random(7)
    val dim = 32
    val rows = for {
      g <- 0 until 40
      base = Array.fill(dim)(rnd.nextGaussian())
      r <- 0 until 3
    } yield {
      val noise = Array.fill(dim)(rnd.nextGaussian() * 0.01)
      val v = base.indices.map(i => (base(i) + noise(i)).toFloat)
      ((g * 3 + r).toLong, g.toString, v)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("embedNearDupLsh ⊇ label-bucketed truth on a planted replica corpus") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val labelTruth = pairs(Dedup.embedNearDup(replicaEmbs, tau = 0.8))
    assert(labelTruth.size == 40 * 3, "every within-group pair is a near-dup")
    val lsh = Dedup.embedNearDupLsh(replicaEmbs, tau = 0.8, nPlanes = 4, dim = 32)
    assert(labelTruth.subsetOf(pairs(lsh)),
      s"LSH blocking missed ${(labelTruth -- pairs(lsh)).size} true replica pairs")
    // precision is exact by construction: every emitted pair re-verified
    assert(lsh.filter($"cos_sim" < 0.8).count() == 0)
  }

  test("embedNearDupClusters ⊇ label-bucketed truth on the replica corpus") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val labelTruth = pairs(Dedup.embedNearDup(replicaEmbs, tau = 0.8))
    val cents = graft.ops.Similarity.ivfCentroids(replicaEmbs, k = 8, iters = 2)
    val canopy = Dedup.embedNearDupClusters(replicaEmbs, cents, tau = 0.8, nAssign = 2)
    assert(labelTruth.subsetOf(pairs(canopy)),
      s"canopy blocking missed ${(labelTruth -- pairs(canopy)).size} true replica pairs")
  }

  test("semanticDedup (IVF blocking): one min-id survivor per planted replica group") {
    val cents = graft.ops.Similarity.ivfCentroids(replicaEmbs, k = 8, iters = 2)
    val out = Dedup.semanticDedupFromPairs(replicaEmbs,
      Dedup.embedNearDupClusters(replicaEmbs, cents, tau = 0.8, nAssign = 2)).collect()
    assert(out.length == 40, s"expected 40 survivors, got ${out.length}")
    // survivor of group g is its min vec_id (= 3g), and every group fully merged
    assert(out.map(_.getAs[Long]("vec_id")).toSet ==
      (0 until 40).map(g => (g * 3).toLong).toSet)
    assert(out.forall(_.getAs[Int]("group_size") == 3))
  }

  test("semanticDedupFarthest: one survivor per group — the argmin-(centroid-cos, id) member") {
    val cents = graft.ops.Similarity.ivfCentroids(replicaEmbs, k = 8, iters = 2)
    val out = Dedup.semanticDedupFarthest(replicaEmbs, cents, tau = 0.8, nAssign = 2)
      .collect().map(r => r.getAs[String]("label") ->
        (r.getAs[Long]("vec_id"), r.getAs[Int]("group_size"))).toMap
    assert(out.size == 40 && out.values.forall(_._2 == 3))
    // recompute the expected keeper per group: lowest rounded cosine to
    // its own nearest centroid, tie-broken by vec_id
    def cos(a: Seq[Float], b: Seq[Double]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i)).sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0 else dot / (na * nb)
    }
    val rows = replicaEmbs.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[String]("label"), r.getSeq[Float](2)))
    rows.groupBy(_._2).foreach { case (lbl, members) =>
      val expected = members.map { case (id, _, v) =>
        val c = cents.minBy(ct => ct.indices.map { i => val d = v(i) - ct(i); d * d }.sum)
        (BigDecimal(cos(v, c)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }.min._2
      assert(out(lbl)._1 == expected, s"group $lbl")
    }
  }

  test("semanticDedupMedoid: one survivor per group — the argmax-(cos-to-group-sum, min id) member") {
    val cents = graft.ops.Similarity.ivfCentroids(replicaEmbs, k = 8, iters = 2)
    val cc = graft.ops.DupClusters.connectedComponents(
      Dedup.embedNearDupClusters(replicaEmbs, cents, tau = 0.8, nAssign = 2)
        .select($"vec_a", $"vec_b"),
      replicaEmbs.select($"vec_id"))
    val out = Dedup.semanticDedupMedoidFromCc(replicaEmbs, cc)
      .collect().map(r => r.getAs[String]("label") ->
        (r.getAs[Long]("vec_id"), r.getAs[Int]("group_size"))).toMap
    assert(out.size == 40 && out.values.forall(_._2 == 3))
    // JVM reference: fixed-point group sum (graft_vecsum semantics:
    // round(f.toDouble * 1e9) per element), cast to float, cosine in
    // doubles, round(,6) HALF_UP, argmax with min-id tie-break
    val scale = graft.functions.VectorSumFixed.Scale
    def cosF(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na * nb == 0) 0.0 else dot / (na * nb)
    }
    val rows = replicaEmbs.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[String]("label"), r.getSeq[Float](2)))
    rows.groupBy(_._2).foreach { case (lbl, members) =>
      val dim = members.head._3.length
      val gsum = new Array[Long](dim)
      members.foreach { case (_, _, v) =>
        v.indices.foreach(i => gsum(i) += math.round(v(i).toDouble * scale))
      }
      val gsumF = gsum.map(_.toFloat).toSeq
      val expected = members.map { case (id, _, v) =>
        (-BigDecimal(cosF(v, gsumF)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id)
      }.min._2
      assert(out(lbl)._1 == expected, s"group $lbl")
    }
    // the medoid is the most-central member: its mean cosine to the rest
    // of the group is maximal (sanity on one group)
    val g0 = rows.filter(_._2 == "0")
    val meanCos = g0.map { case (id, _, v) =>
      id -> g0.filter(_._1 != id).map(o => cosF(v, o._3)).sum
    }.toMap
    assert(meanCos(out("0")._1) == meanCos.values.max)
  }

  test("crossSemanticDedup: batch replicas rejected against survivors, novel vectors pass") {
    val cents = graft.ops.Similarity.ivfCentroids(replicaEmbs, k = 8, iters = 2)
    val keep = Dedup.semanticDedupFromPairs(replicaEmbs,
      Dedup.embedNearDupClusters(replicaEmbs, cents, tau = 0.8, nAssign = 2))
      .select("vec_id")
    val survVecs = replicaEmbs.join(keep, Seq("vec_id"), "left_semi")
    val rnd = new scala.util.Random(23)
    val survRows = survVecs.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("label"), r.getSeq[Float](2)))
    val replicas = survRows.map { case (id, lbl, v) =>
      (id + 1000L, lbl, v.map(x => x + (rnd.nextGaussian() * 0.005).toFloat).toSeq)
    }
    val novel = (0 until 5).map(i =>
      (5000L + i, "novel", Seq.fill(32)(rnd.nextGaussian().toFloat)))
    val batch = (replicas.toSeq ++ novel).toDF("vec_id", "label", "embedding")
    val out = Dedup.crossSemanticDedup(survVecs, batch, cents, tau = 0.8, nAssign = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_of")).toMap
    // every replica is rejected against exactly its own survivor...
    survRows.foreach { case (id, _, _) =>
      assert(out.get(id + 1000L).contains(id), s"replica of $id")
    }
    // ...and none of the novel vectors is flagged
    assert(novel.forall { case (id, _, _) => !out.contains(id) })
  }

  test("semanticDedupBuckets: connected-component closure — chains collapse to one survivor") {
    // angles 0°/20°/40°: adjacent cosines ≈ 0.94 ≥ τ, but cos(0°,40°) ≈ 0.766 < τ.
    // Closure must still collapse all three; the opposite vector stays a singleton.
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val embs = Seq(
      (10L, "x", at(0)), (11L, "x", at(20)), (12L, "x", at(40)), (13L, "x", at(180)))
      .toDF("vec_id", "label", "embedding")
    val out = Dedup.semanticDedupBuckets(embs, tau = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("group_size")).toMap
    assert(out == Map(10L -> 3, 13L -> 1))
  }

  test("dedupCurve: monotone in tau, consistent with per-threshold pair counts") {
    val out = Dedup.dedupCurveFromIndex(index(docs, Some(100))).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.nonEmpty)
    // tighter τ can only shrink both counts
    val taus = out.keys.toSeq.sorted
    taus.zip(taus.tail).foreach { case (lo, hi) =>
      assert(out(lo)._1 >= out(hi)._1 && out(lo)._2 >= out(hi)._2)
    }
    // each τ row equals an independent pair run at that τ over the uncapped index
    taus.foreach { tau =>
      val pairs = ngramPairs(docs, tau).collect()
      assert(out(tau)._1 == pairs.length, s"n_pairs at $tau")
      val docsAffected = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(out(tau)._2 == docsAffected.size, s"n_docs at $tau")
    }
  }

  test("ngramNovelty: hand corpus — shared shingles lower novelty, disjoint doc at 1.0") {
    val df = Seq(
      (1L, "a b c d"),   // shingles: "a b c"(df2), "b c d"(df1) → 1/2
      (2L, "a b c x"),   // shingles: "a b c"(df2), "b c x"(df1) → 1/2
      (3L, "p q r s")    // both shingles unique → 1.0
    ).toDF("doc_id", "text")
    val got = Dedup.ngramNoveltyFromIndex(
        Dedup.shingled(df).select($"doc_id", explode($"shingles").as("shingle")).cache())
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 0.5)), 2L -> ((2L, 1L, 0.5)), 3L -> ((2L, 2L, 1.0))))
  }

  test("jaccardCalibration: planted exact copies estimate 1.0 at zero error; corpus error bounded") {
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val planted = Seq((100001L, dup, "sX"), (100002L, dup, "sX"))
      .toDF("doc_id", "text", "source")
    val corpus = docs.select($"doc_id", $"text", $"source").unionByName(planted)
    val sigs = Dedup.minhashSignatures(corpus)
    val out = Dedup.jaccardCalibrationFrom(Dedup.shingled(corpus), sigs).collect()
    val pair = out.find(r => r.getLong(0) == 100001L && r.getLong(1) == 100002L)
    assert(pair.isDefined, "identical planted docs must surface as an LSH candidate")
    assert(pair.get.getAs[Double]("est_jaccard") == 1.0)
    assert(pair.get.getAs[Double]("exact_jaccard") == 1.0)
    assert(pair.get.getAs[Double]("abs_err") == 0.0)
    // 128 permutations: the estimate concentrates — every candidate pair
    // within 0.3 of truth, mean error well under 0.1
    val errs = out.map(_.getAs[Double]("abs_err"))
    assert(errs.forall(_ <= 0.3), s"max abs_err ${errs.max}")
    assert(errs.sum / errs.length <= 0.1)
  }

  test("simhashCurve: radius arms equal simhashPairs' filtered counts; monotone; planted exact copy lands at radius 0") {
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = docs.select($"doc_id", $"text")
      .unionByName(Seq((900001L, dup), (900002L, dup)).toDF("doc_id", "text"))
    val curve = Dedup.simhashCurve(corpus).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(curve.keySet == Set(0, 1, 2, 3))
    // every arm is the base operator's pair set filtered at that radius
    val pairs = Dedup.simhashPairs(corpus, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming")))
    (0 to 3).foreach { r =>
      val sel = pairs.filter(_._3 <= r)
      assert(curve(r)._1 == sel.length, s"r=$r pair count")
      assert(curve(r)._2 == sel.flatMap(p => Seq(p._1, p._2)).distinct.length, s"r=$r doc count")
    }
    // identical planted docs collide at hamming 0, so even the tightest
    // arm is non-empty; the curve is monotone nondecreasing in r
    assert(curve(0)._1 >= 1L && curve(0)._2 >= 2L)
    val ps = (0 to 3).map(r => curve(r)._1)
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b }, s"pairs $ps")
  }

  test("permCurve: p=128 arm equals jaccardCalibration's error set; error shrinks and storage grows with p") {
    val sigs = Dedup.minhashSignatures(docs)
    val curve = Dedup.permCurveFrom(Dedup.shingled(docs), sigs).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(curve.keySet == Set(16, 32, 64, 128))
    // the p=128 arm IS the calibration card's error column: same pair
    // count, MAE = the integer-mean of its abs_err values, same max
    val calErrs = Dedup.jaccardCalibrationFrom(Dedup.shingled(docs), sigs).collect()
      .map(_.getAs[Double]("abs_err"))
    val (n128, mae128, max128, bytes128) = curve(128)
    assert(n128 == calErrs.length)
    val errSum = calErrs.map(e => math.round(e * 10000)).sum
    assert(mae128 == ((200L * errSum + n128) / (2L * n128)).toDouble / 1000000.0)
    assert(max128 == calErrs.max)
    assert(bytes128 == 1024)
    // every arm sees the SAME pair set; storage is 8 bytes/perm; the
    // estimator tightens with p on this corpus (std ∝ 1/√p)
    Seq(16, 32, 64).foreach { p =>
      assert(curve(p)._1 == n128 && curve(p)._4 == 8 * p)
    }
    assert(curve(16)._2 >= curve(128)._2,
      s"mae should shrink 16→128: ${curve(16)._2} vs ${curve(128)._2}")
    assert(curve(16)._3 >= curve(128)._3, "worst error shrinks too")
  }

  test("dupMatrix: hand corpus exact (diagonal + cross-source flow); pair mass conserves vs nearDupPairs") {
    val d = Seq(
      (1L, "x", "alpha beta gamma delta epsilon"),
      (2L, "x", "ALPHA beta  gamma delta epsilon"), // x-internal exact dup (normalized)
      (3L, "y", "alpha beta gamma delta epsilon"),  // cross-source copy
      (4L, "y", "totally different words over here now")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dupMatrixFromPairs(Dedup.nearDupPairs(d), d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // pairs (1,2) → (x,x) j=1; (1,3) and (2,3) → (x,y) j=1
    assert(out == Map(("x", "x") -> ((1L, 1.0)), ("x", "y") -> ((2L, 1.0))))
    // corpus-level conservation on real docs: matrix pair mass equals
    // the verified near-dup pair count, and means sit in [0.8, 1]
    val full = Dedup.dupMatrixFromPairs(Dedup.nearDupPairs(docs), docs).collect()
    val matrixPairs = full.map(_.getLong(2)).sum
    assert(matrixPairs == Dedup.nearDupPairs(docs).count())
    full.foreach { r =>
      val mj = r.getDouble(3)
      assert(mj >= 0.8 && mj <= 1.0, s"mean_jaccard $mj out of the verified band")
      assert(r.getString(0) <= r.getString(1), "canonicalized source pair")
    }
  }

  test("lshTuning: S-curve law (s50 rises, retention falls as rows/band grow); JVM differential") {
    val sigs = Dedup.minhashSignatures(docs)
    val out = Dedup.lshTuningFrom(Dedup.shingled(docs), sigs).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
      .sortBy(_._2)
    assert(out.map(x => (x._1, x._2)).toSeq ==
      Seq((64, 2), (32, 4), (16, 8), (8, 16)), "one row per 128-perm banding")
    // finer rows/band = steeper curve: crossover right, retention down
    assert(out.map(_._3).toSeq == out.map(_._3).sorted.toSeq, "s50 monotone in r")
    assert(out.map(_._6).toSeq == out.map(_._6).sorted.reverse.toSeq, "retained_frac anti-monotone in r")
    assert(out.forall(x => x._4 == out.head._4), "same observed pair mass for every config")
    // shipped config sanity: s50 of 32x4 in the published ~0.32 region
    val s50_32x4 = out.find(_._1 == 32).get._3
    assert(math.abs(s50_32x4 - math.pow(1.0 - math.pow(0.5, 1.0 / 32), 1.0 / 4)) < 1e-3)
    // JVM differential: recompute expected retention from the
    // calibration pairs with plain-double repeated squaring
    val pairs = Dedup.jaccardCalibrationFrom(Dedup.shingled(docs), sigs).collect()
      .map(r => BigDecimal(r.getAs[Double]("exact_jaccard"))
        .setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble)
    out.foreach { case (b, r, _, nPairs, expRet, retFrac) =>
      assert(nPairs == pairs.length)
      def p(s: Double): Double = {
        var sr = s; (1 to Integer.numberOfTrailingZeros(r)).foreach(_ => sr *= sr)
        var q = 1.0 - sr; (1 to Integer.numberOfTrailingZeros(b)).foreach(_ => q *= q)
        1.0 - q
      }
      val hist = pairs.groupBy(identity).view.mapValues(_.length).toMap
      val exp = hist.map { case (s, n) =>
        BigDecimal(n * p(s)).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      assert(math.abs(expRet - exp.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"config ${b}x$r expected retention")
      assert(math.abs(retFrac -
        BigDecimal(exp.toDouble / nPairs).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }
  test("d_crosslingual (r16): the planted translation pair is flagged by the embedding arm while every token-level detector is blind") {
    val xdocs = Dedup.xlingDocsUnion(spark, TestSpark.sf0001)
    val xemb = Dedup.xlingEmbUnion(spark, TestSpark.sf0001)
    // the fixture cannot occur naturally: the driver corpus carries no
    // Cyrillic codepoint at any scale (the t_langid_cjk precedent)
    assert(docs.filter(col("text").rlike("[\u0400-\u04FF]")).count() == 0,
      "the corpus must carry no Cyrillic — the planted pair is the only cross-script dup")
    val out = Dedup.crossLingualNearDup(xdocs, xemb).collect()
    val pair = out.filter(r => r.getAs[Long]("vec_a") == 9200001L
      && r.getAs[Long]("vec_b") == 9200002L)
    assert(pair.length == 1, s"the planted translation must be flagged: ${out.toSeq}")
    val p = pair.head
    assert(p.getAs[String]("lang_a") == "en" && p.getAs[String]("lang_b") == "ru")
    assert(p.getAs[Double]("cos_sim") >= 0.99, "a translation is the SAME content")
    assert(p.getAs[Int]("n_shared") == 0 && p.getAs[Double]("jaccard") == 0.0,
      "surface-blind by construction: not one shared token")
    // the unrelated French control (orthogonal vector) never pairs
    assert(!out.exists(r => r.getAs[Long]("vec_a") == 9200003L
      || r.getAs[Long]("vec_b") == 9200003L))
    // BLINDNESS COUNTERFACTUALS: every token/script detector misses the
    // planted pair — the embedding arm is the only mechanism that can
    // see a translated duplicate
    val planted = xdocs.filter(col("doc_id").isin(9200001L, 9200002L))
      .withColumn("source", lit("xling"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(Dedup.exactDedup(planted).filter(col("n_dups") > 1).count() == 0,
      "exact hash: blind")
    assert(Dedup.exactDedupCanonical(planted).filter(col("n_dups") > 1).count() == 0,
      "canonical hash: blind")
    assert(candidates(planted).count() == 0, "MinHash LSH: blind")
    assert(Dedup.simhashPairs(planted).count() == 0, "SimHash: blind")
    assert(ngramPairs(planted).count() == 0,
      "shingle Jaccard: blind (zero shared shingles, no candidate at any tau)")
    // even the script classifier splits the pair across scripts: the
    // two sides read as DIFFERENT languages, so any same-language
    // blocking key separates them too
    val langs = graft.ops.TextAnalysis.langId(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(langs(9200001L) == "en" && langs(9200002L) == "ru",
      s"the sides classify as different languages: $langs")
  }
}
