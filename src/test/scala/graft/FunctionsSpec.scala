package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Unit tests for the native text-kernel expressions (graft_shingles /
  * graft_minhash / graft_simhash). Their operator-level behavior is
  * covered by DedupSpec + the DuckDB oracles; here: edge cases and the
  * equivalence with the declarative (higher-order-function) definition. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_shingles equals the declarative transform/array_distinct definition") {
    val df = Seq(
      "the quick brown fox jumps",
      "a a a a",
      "  Mixed   CASE\ttokens  here now  ",
      "two tokens",
      "",
      "   ").toDF("text")
    val declarative = df.select(
      split(lower(trim(regexp_replace($"text", "\\s+", " "))), " ").as("toks"))
      .select(expr(
        """CASE WHEN size(toks) >= 3
          |  THEN array_distinct(transform(sequence(0, size(toks) - 3),
          |         i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))
          |  ELSE array() END""".stripMargin).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    val native = df.select(GraftFunctions.shingles($"text").as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(native.sameElements(declarative))
  }

  test("graft_minhash: 128 entries, permutation-stable, min-property") {
    val out = Seq(
      Seq("a b c", "b c d"),
      Seq("a b c"),
      Seq("a b c", "b c d", "x y z")).toDF("sh")
      .select(GraftFunctions.minhash($"sh")).collect().map(_.getSeq[Long](0))
    assert(out.forall(_.length == 128))
    // superset's signature entries are <= each subset's (min over more values)
    (0 until 128).foreach { p =>
      assert(out(2)(p) <= out(0)(p) && out(0)(p) <= math.max(out(0)(p), out(1)(p)))
    }
    // near-identical shingle sets agree on most signature entries
    val agree = (0 until 128).count(p => out(0)(p) == out(2)(p))
    assert(agree > 32, s"expected J=2/4 sets to agree on ~half the perms, got $agree")
  }

  test("graft_simhash: identical token sets → identical fingerprints") {
    // literal input is constant-folded (the interpreted eval path)
    val fps = Seq(
      Seq("spark", "scan", "merge"),
      Seq("spark", "scan", "merge"),
      Seq("totally", "different", "words", "galore")).toDF("toks")
      .select(GraftFunctions.simhash($"toks").as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("graft_stopword_profile equals the per-list filter-HOF definition") {
    val lists = Seq(Seq("the", "a", "and"), Seq("der", "die"))
    val df = Seq(
      "the quick brown fox and the lazy dog",
      "der hund und die katze",
      "a a the the the",
      "",
      "   ",
      "no stop words whatsoever").toDF("text")
    val declarative = df.select(
      split(lower(trim(regexp_replace($"text", "\\s+", " "))), " ").as("toks"))
      .select(
        size(filter($"toks", t => t =!= "")).as("n"),
        expr("size(filter(toks, t -> t IN ('the', 'a', 'and')))").as("h0"),
        expr("size(filter(toks, t -> t IN ('der', 'die')))").as("h1"))
      .collect().map(r => Seq(r.getInt(0), r.getInt(1), r.getInt(2)))
    val native = df.select(
      GraftFunctions.stopwordProfile($"text", typedlit(lists)).as("p"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(native.sameElements(declarative))
  }

  test("graft_vecsum: exact fixed-point sums, partition-order invariant") {
    val scale = graft.functions.VectorSumFixed.Scale
    val vecs = (0 until 100).map(i => Seq(i * 0.001f, -i * 0.5f, 3.25f))
    val expected = (0 until 3).map(d =>
      vecs.map(v => math.round(v(d).toDouble * scale)).sum)
    def sums(parts: Int) = vecs.toDF("v").repartition(parts)
      .agg(GraftFunctions.vecSum($"v")).collect()(0).getSeq[Long](0).toSeq
    assert(sums(1) == expected)
    assert(sums(7) == expected) // long adds commute: identical under any partitioning
  }

  test("graft_nearest_centroids: top-m prefix agrees with graft_nearest_centroid") {
    val cents = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(-1.0, 2.0), Seq(5.0, 5.0))
    val df = Seq(Seq(0.1f, 0.2f), Seq(0.9f, 1.2f), Seq(4.0f, 4.0f)).toDF("v")
    val out = df.select(
      GraftFunctions.nearestCentroid($"v", typedlit(cents)).as("one"),
      GraftFunctions.nearestCentroids($"v", typedlit(cents), lit(2)).as("two"))
      .collect()
    out.foreach { r =>
      val top = r.getSeq[Int](1)
      assert(top.length == 2 && top.head == r.getInt(0) && top(0) != top(1))
    }
  }

  test("every graft_* function resolves from pure SQL (SparkSessionExtensions surface)") {
    graft.core.Tables(spark, TestSpark.sf0001).documents.createOrReplaceTempView("sql_docs")
    graft.core.Tables(spark, TestSpark.sf0001).embeddings.createOrReplaceTempView("sql_embs")
    val rows = spark.sql(
      """SELECT
        |  graft_cosine(a.embedding, b.embedding) AS cos,
        |  graft_hamming64(5L, 4L) AS ham,
        |  size(graft_shingles('one two three four')) AS n_sh,
        |  size(graft_minhash(graft_shingles('one two three four'))) AS n_sig,
        |  graft_simhash(array('x', 'y')) AS fp,
        |  graft_hyperplane_sig(a.embedding, array(array(1.0d), array(-1.0d))) AS hsig,
        |  graft_nearest_centroid(a.embedding, array(array(0.0d), array(9.0d))) AS nc,
        |  graft_nearest_centroids(a.embedding, array(array(0.0d), array(9.0d)), 2) AS ncs,
        |  graft_stopword_profile('the cat and dog', array(array('the', 'and'))) AS prof,
        |  graft_repetition_profile('a b a b a b') AS rep,
        |  graft_ttr_profile('a b a b a b') AS ttr
        |FROM sql_embs a JOIN sql_embs b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Int]("ham") == 1)
    assert(r.getAs[Int]("n_sh") == 2 && r.getAs[Int]("n_sig") == 128)
    assert(r.getSeq[Int](r.fieldIndex("prof")).toSeq == Seq(4, 2))
    assert(r.getSeq[Int](r.fieldIndex("rep")).toSeq == Seq(4, 2, 2))
    assert(r.getSeq[Int](r.fieldIndex("ttr")).toSeq == Seq(6, 2))
    assert(r.getSeq[Int](r.fieldIndex("ncs")).head == r.getAs[Int]("nc"))
    // the aggregate registers too
    val agg = spark.sql(
      "SELECT graft_vecsum(embedding) FROM sql_embs GROUP BY label LIMIT 1").collect()
    assert(agg.nonEmpty && agg(0).getSeq[Long](0).length == 64)
    // every kernel-table row, twice: over columns of a scanned frame
    // (generated code) and over literals alone (ConstantFolding runs the
    // interpreted, reflective eval) — the two must agree
    assert(kernelArgs.keySet == GraftFunctions.Kernels.map(_.name).toSet)
    for (k <- GraftFunctions.Kernels) {
      val args = kernelArgs(k.name)
      val cols = k.inputs.indices.map(i => s"a$i")
      val lits = spark.sql(s"SELECT $args").toDF(cols: _*)
      val input = spark.createDataFrame(lits.rdd, lits.schema) // a scan: nothing to fold
      val onCols = input.selectExpr(s"${k.name}(${cols.mkString(", ")})")
      val viaCodegen = onCols.collect()
      val plan = onCols.queryExecution.executedPlan.toString
      val line = plan.linesIterator.find(_.contains(s"${k.name}("))
      assert(line.isDefined && line.get.trim.stripPrefix("+- ").startsWith("*"),
        s"${k.name} not in a codegen stage:\n$plan")
      val onLits = spark.sql(s"SELECT ${k.name}($args)")
      assert(!onLits.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.KernelExpression])), s"${k.name} was not folded")
      assert(onLits.collect().toSeq == viaCodegen.toSeq, s"${k.name}: interpreted != generated")
    }
  }

  /** One literal argument list per kernel-table row. */
  private val kernelArgs: Map[String, String] = {
    val emb = "array(0.5F, -2.25F, 1.0F, 0.125F)"
    val mat = "array(array(0.0d, 0.0d, 0.0d, 0.0d), array(1.0d, -2.0d, 1.0d, 0.0d), array(-1.0d, 2.0d, 0.5d, 3.0d))"
    val books = "array(array(array(0.0d, 0.0d), array(1.0d, -2.0d)), array(array(1.0d, 0.0d), array(0.0d, 1.0d)))"
    Map(
      "graft_hamming64" -> "5L, 4L",
      "graft_vec_norm" -> emb,
      "graft_sig_agree" -> "array(1L, 2L, 3L), array(1L, 5L, 3L, 4L)",
      "graft_phash64" -> "X'00FF10A07F80C3'",
      "graft_fnv64" -> "'spark'",
      "graft_normalize_text" -> "'  Cafe\u0301   au\tlait '",
      "graft_shingles" -> "'one two three four'",
      "graft_shingles_k" -> "'one two three four five', 4",
      "graft_winnow" -> "'a b c d e f g h', 3, 2",
      "graft_bpe_pairs" -> "'hello big world'",
      "graft_char_syms" -> "'h\u00e9llo'",
      "graft_bpe_merge" -> "array('a', 'b', 'a', 'b', 'c'), 'a', 'b'",
      "graft_repetition_profile" -> "'a b a b a b'",
      "graft_ttr_profile" -> "'a b a b a b'",
      "graft_stopword_profile" -> "'the cat and dog', array(array('the', 'and'), array('dog'))",
      "graft_minhash" -> "array('a b c', 'b c d')",
      "graft_simhash" -> "array('x', 'y')",
      "graft_hyperplane_sig" -> s"$emb, $mat",
      "graft_nearest_centroid" -> s"$emb, $mat",
      "graft_nearest_centroids" -> s"$emb, $mat, 2",
      "graft_centroid_dist2s" -> s"$emb, $mat",
      "graft_vec_residual" -> s"$emb, $mat, 1",
      "graft_pq_encode" -> s"$emb, $books",
      "graft_pq_errors" -> s"$emb, $books",
      "graft_pq_adc_cosine" -> "array(1, 0), array(0.5d, 0.25d, 0.125d, 0.0625d), array(1.0d, 2.0d, 3.0d, 4.0d)")
  }

  test("every graft_* function rejects a wrong argument count, and every kernel a wrong type, at analysis") {
    import org.apache.spark.sql.AnalysisException
    val arities = GraftFunctions.Kernels.map(k => k.name -> k.inputs.length).toMap ++ Map(
      "graft_cosine" -> 2, "graft_vecsum" -> 1, "graft_vecsum_sq" -> 1,
      "graft_topk_pairs" -> 3, "graft_bloom_agg" -> 3, "graft_might_contain" -> 2)
    val registered = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0)).toSet
    assert(registered == arities.keySet)
    for ((name, arity) <- arities; n <- Seq(arity - 1, arity + 1)) {
      val e = intercept[AnalysisException](
        spark.sql(s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})"))
      assert(e.getMessage.contains(s"`$name` requires $arity parameters"), e.getMessage)
    }
    for (k <- GraftFunctions.Kernels) {
      val e = intercept[AnalysisException](
        spark.sql(s"SELECT ${k.name}(${Seq.fill(k.inputs.length)("true").mkString(", ")})"))
      assert(e.getMessage.contains(s"${k.name} expects ("), e.getMessage)
    }
  }

  test("graft.GraftExtensions loads through Spark's spark.sql.extensions contract") {
    // `spark.sql.extensions` is a STATIC conf — Spark applies it when the
    // SparkContext's conf carries it at session build, which a shared
    // test context can't exercise end-to-end. Replay Spark's own loading
    // steps instead: reflective zero-arg construction (applyExtensions
    // does Class.forName + getConstructor().newInstance()), the
    // Function1[SparkSessionExtensions, Unit] contract, and the
    // registration the session build would perform.
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val instance = Class.forName("graft.GraftExtensions")
      .getConstructor().newInstance()
    val f = instance.asInstanceOf[SparkSessionExtensions => Unit]
    val exts = new SparkSessionExtensions
    f(exts)
    val registry = FunctionRegistry.builtin.clone()
    assert(!registry.functionExists(FunctionIdentifier("graft_hamming64")))
    // registerFunctions is private[sql] to Scala but public bytecode —
    // invoke it the way the session builder effectively does
    classOf[SparkSessionExtensions]
      .getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(exts, registry)
    Seq("graft_cosine", "graft_hamming64", "graft_shingles", "graft_minhash",
      "graft_simhash", "graft_hyperplane_sig", "graft_stopword_profile")
      .foreach { name =>
        assert(registry.functionExists(FunctionIdentifier(name)), s"$name not registered")
      }
  }

  test("shingle/minhash/simhash expressions run inside WholeStageCodegen over a scan") {
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val df = docs.select(
      GraftFunctions.minhash(GraftFunctions.shingles($"text")).as("sig"),
      GraftFunctions.simhash(graft.ops.Dedup.tokens($"text")).as("fp"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    for (fn <- Seq("graft_shingles", "graft_minhash", "graft_simhash")) {
      val line = plan.linesIterator.find(_.contains(fn))
      assert(line.isDefined && line.get.trim.stripPrefix("+- ").startsWith("*"),
        s"$fn not in a codegen stage:\n$plan")
    }
  }
}
