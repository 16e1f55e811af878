package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Deterministic corpus sampling / data mixing — the step that turns a
  * raw corpus into a training mixture with per-source weights (e.g.
  * "50% web, 25% code, …"). Requirements at 100 TB:
  *
  *  - **Scan-side**: the sample decision is a pure function of
  *    (source, doc_id) — a filter in the scan projection, no shuffle,
  *    no RNG state, trivially parallel.
  *  - **Deterministic & portable**: the decision hashes with md5 and
  *    compares the first 15 hex chars (60 bits) against a per-source
  *    threshold string — any engine with md5 reproduces the exact
  *    sample (the DuckDB oracle does), reruns are idempotent, and
  *    upstream re-partitioning cannot change membership.
  *  - **Stable under rate changes**: raising a source's rate strictly
  *    grows its sample (threshold grows, membership is monotone) — no
  *    resampling churn between mixture versions.
  */
object Sampling {

  /** `rate` ∈ [0,1] as a 15-hex-char threshold: doc is kept iff its
    * 60-bit md5 coordinate is strictly below it. */
  private[graft] def thresholdHex(rate: Double): String = {
    val max = (1L << 60) - 1
    val t = math.min(math.max((rate * math.pow(2, 60)).toLong, 0L), max)
    f"$t%015x"
  }

  /** The 60-bit hash coordinate of a document: first 15 hex chars of
    * md5("source:doc_id") — mirrored verbatim in the oracle SQL. NULL
    * source coalesces to '' so the key matches DuckDB's NULL-skipping
    * concat(source, ':', doc_id) (= ':123') instead of concat_ws's
    * separator-dropping '123'. */
  private def coord: Column =
    substring(md5(concat(coalesce(col("source"), lit("")), lit(":"), col("doc_id").cast("string"))), 1, 15)

  /** Per-source threshold column from a rate map (unlisted sources get
    * `defaultRate`). */
  private def thresholdCol(rates: Map[String, Double], defaultRate: Double): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (src, r)) => when(col("source") === src, lit(thresholdHex(r))).otherwise(acc)
    }

  /** Membership predicate of the deterministic mixture sample — exposed
    * for composition (the streaming IngestGate's sampling arm applies
    * it per batch; determinism makes the arm replay-idempotent). */
  private[graft] def keepCol(rates: Map[String, Double], defaultRate: Double): Column =
    coord < thresholdCol(rates, defaultRate)

  /** The sampled mixture: rows of `documents` kept under the per-source
    * rates. Pure scan-side filter. */
  def sampleMixture(documents: DataFrame, rates: Map[String, Double],
                    defaultRate: Double = 0.1): DataFrame =
    documents
      .filter(keepCol(rates, defaultRate))
      .select(col("doc_id"), col("source"))

  /** Per-source mixture PARTIALS — the algebraic state behind the
    * realized-mixture audit: exact integer (total, kept) counts off
    * the flagged scan. Membership is a pure function of (source,
    * doc_id), and integer counts are additive, so partials summed over
    * ANY batch split equal direct counting exactly — the property the
    * streaming maintainer ([[graft.streaming.MixStream]]) rests on. */
  def mixturePartials(documents: DataFrame, rates: Map[String, Double],
                      defaultRate: Double = 0.1): DataFrame =
    documents
      .select(col("source"),
        (coord < thresholdCol(rates, defaultRate)).cast("int").as("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))

  /** [[mixturePartials]] extended with the per-source TOKEN sum — the
    * partials the streaming maintainer lands, so ONE durable table
    * serves both the scheduled audit (n_docs, n_kept →
    * [[mixReportFromCards]]) and the scheduled RE-PLAN (n_docs,
    * n_tokens → [[waterfillFromCards]]). Token counts are additive
    * integers like the doc counts, so merged partials equal direct
    * counting exactly under any batch split. */
  def mixtureCapacityPartials(documents: DataFrame, rates: Map[String, Double],
                              defaultRate: Double = 0.1): DataFrame =
    documents
      .select(col("source"),
        (coord < thresholdCol(rates, defaultRate)).cast("int").as("kept"),
        tokenCountCol.cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
        sum(col("toks")).as("n_tokens"))

  /** Realized mixture summary: kept/total per source (exact integer
    * counts via one aggregation over the flagged scan). */
  def mixtureSummary(documents: DataFrame, rates: Map[String, Double],
                     defaultRate: Double = 0.1): DataFrame =
    mixturePartials(documents, rates, defaultRate)
      .withColumn("kept_frac", round(col("n_kept") / col("n_docs"), 4))

  /** Temperature-sampled mixture (α = 0.5 "square-root sampling" — the
    * multilingual-training standard shape: kept mass per source
    * ∝ n_s^α, so low-resource sources are upweighted relative to their
    * raw share without flattening to uniform; α=1 is proportional,
    * α→0 is uniform). `budgetDocs` fixes the expected total sample
    * size; rate_s = min(1, budget·w_s/Σw/n_s) with w_s = √n_s.
    *
    * The rates are computed IN-PLAN from the source counts (a tiny
    * aggregate, broadcast back — no driver-side model), and membership
    * is the same scan-side 60-bit md5 threshold as [[sampleMixture]].
    * Engine-portable by construction: √ is IEEE-correctly-rounded in
    * every engine (unlike pow — which is why α is pinned at 0.5 on the
    * oracle path), the weight sum goes through DECIMAL(28,10) so
    * summation order cannot move a ulp, the rate is ROUND(,6)ed, and
    * the threshold is integer hex from an exact power-of-two scale —
    * DuckDB reproduces the exact row set. */
  def sampleTemperature(documents: DataFrame, budgetDocs: Long = 150L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val weights = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", sqrt(col("n").cast("double")))
    // Σw as a window over the per-source aggregate (≤ #sources rows, so
    // the single-partition frame is bounded by construction) — DECIMAL
    // sum is order-exact, and the plan stays join-free here (no 1-row
    // crossJoin / BroadcastNestedLoopJoin).
    val rates = weights
      .withColumn("sw",
        sum(col("w").cast(DecimalType(28, 10))).over(Window.partitionBy()).cast("double"))
      .withColumn("rate",
        least(lit(1.0), round(lit(budgetDocs.toDouble) * col("w") / col("sw") / col("n"), 6)))
    val th = format_string("%015x",
      least(floor(col("rate") * lit(math.pow(2, 60))).cast("long"), lit((1L << 60) - 1)))
    documents
      .join(broadcast(rates.select(col("source"), th.as("th"))), "source")
      .filter(coord < col("th"))
      .select(col("doc_id"), col("source"))
  }

  /** Temperature SWEEP — the governance curve behind
    * [[sampleTemperature]]'s single α = 0.5 (the multilingual-mixture
    * temperature debate: α = 1 keeps raw proportions and drowns
    * low-resource sources, α → 0 flattens to uniform and over-samples
    * tail noise; mT5/XLM-R-style recipes pick between): per (α,
    * source), the realized kept count, corpus share and sample rate at
    * a fixed document budget — a recipe owner reads this once, picks
    * the α whose mixture matches intent, then pins it.
    *
    * The panel is QUARTER-powers {0, ¼, ½, ¾, 1} built from repeated
    * IEEE sqrt and one multiply — every weight is a composition of
    * correctly-rounded ops, so DuckDB reproduces each weight bit-exactly
    * (`pow` is NOT correctly rounded, which is why arbitrary α is off
    * the oracle path — same rule as [[sampleTemperature]]).
    *
    * Plan: per-source counts once (#sources rows), all five weight /
    * Σw / rate / threshold columns derived on that tiny frame (the
    * DECIMAL window sums collapse into ONE single-partition Window over
    * ≤ #sources rows), one broadcast join back to the scan, and ONE
    * per-source aggregate with five conditional membership sums —
    * adding a temperature to the panel costs one column, never a scan.
    * Kept shares use the exact-integer half-away idiom.
    *
    * Known (accepted) tie exposure: the per-arm `rate` reuses
    * [[sampleTemperature]]'s established ROUND(dbl,6) on the
    * budget·w/Σw/n quotient, and the α = 0 / α = 1 arms make that
    * quotient rational — the documented ROUND …5-tie cross-engine
    * hazard becomes reachable at per-source counts in the millions
    * with specific divisors (never at oracle scale). If a tie is ever
    * observed, move the two rational arms to the exact-integer
    * half-away recipe the kept-share columns already use. */
  def temperatureCurve(documents: DataFrame, budgetDocs: Long = 150L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val nD = col("n").cast("double")
    val panel: Seq[(String, Double, Column)] = Seq(
      ("a000", 0.0, lit(1.0)),
      ("a025", 0.25, sqrt(sqrt(nD))),
      ("a050", 0.5, sqrt(nD)),
      ("a075", 0.75, sqrt(nD) * sqrt(sqrt(nD))),
      ("a100", 1.0, nD))
    val counts = documents.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val weights = panel.foldLeft(counts) {
      case (df, (tag, _, w)) => df.withColumn(s"w_$tag", w)
    }
    val win = Window.partitionBy()
    val rates = panel.foldLeft(weights) { case (df, (tag, _, _)) =>
      df.withColumn(s"sw_$tag",
          sum(col(s"w_$tag").cast(DecimalType(28, 10))).over(win).cast("double"))
        .withColumn(s"rate_$tag",
          least(lit(1.0),
            round(lit(budgetDocs.toDouble) * col(s"w_$tag") / col(s"sw_$tag") / col("n"), 6)))
        .withColumn(s"th_$tag", format_string("%015x",
          least(floor(col(s"rate_$tag") * lit(math.pow(2, 60))).cast("long"),
            lit((1L << 60) - 1))))
    }
    val rateCols = col("source") +:
      panel.flatMap { case (tag, _, _) => Seq(col(s"rate_$tag"), col(s"th_$tag")) }
    val aggCols = count(lit(1)).as("n_docs") +:
      panel.flatMap { case (tag, _, _) => Seq(
        sum((coord < col(s"th_$tag")).cast("long")).as(s"k_$tag"),
        max(col(s"rate_$tag")).as(s"r_$tag")) }
    val kept = documents
      .join(broadcast(rates.select(rateCols: _*)), "source")
      .groupBy(col("source"))
      .agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = panel
      .map { case (tag, a, _) => s"CAST($a AS DOUBLE), k_$tag, r_$tag" }
      .mkString(", ")
    kept
      .selectExpr("source", "n_docs",
        s"stack(${panel.size}, $stackArgs) AS (alpha, n_kept, rate)")
      .select(col("alpha"), col("source"), col("n_docs"), col("n_kept"),
        col("rate"),
        (when(col("n_docs") === 0L, lit(0.0)).otherwise(
          expr("CAST((20000 * n_kept + n_docs) DIV (2 * n_docs) AS DOUBLE)")
            / lit(10000.0)) + lit(0.0)).as("kept_frac"))
  }

  /** Token-budget-capped mixture — the form an actual training-data
    * recipe specifies ("≤ N tokens from each source"): every source is
    * sampled at rate_s = min(1, budget / tokens_s), so sources under
    * the budget are kept whole and oversized sources are downsampled to
    * ≈ budget expected tokens. Token totals are computed IN-PLAN (one
    * scan with the codegen stopword-profile token kernel + a
    * #sources-row aggregate — exact integer sums, no driver model),
    * and membership is the same scan-side 60-bit md5 threshold as
    * [[sampleMixture]] — deterministic, engine-portable (DuckDB
    * reproduces the row set), monotone in the budget, and nested: a
    * bigger budget's sample ⊇ a smaller one's, so recipe changes don't
    * churn the corpus. Two scans of `documents` at 100 TB? No — the
    * rate side reads only (source, text→count) and collapses to
    * #sources rows before the broadcast join back; the data scan pays
    * the filter only. */
  def sampleTokenBudget(documents: DataFrame, budgetTokens: Long = 10000L): DataFrame = {
    val tokCount = graft.functions.GraftFunctions
      .stopwordProfile(col("text"), typedlit(Seq.empty[Seq[String]])).getItem(0)
    val rates = documents
      .groupBy(col("source"))
      .agg(sum(tokCount.cast("long")).as("n_toks"))
      // greatest(n_toks, 1): an all-empty-text source has n_toks = 0, and
      // x/0 is NULL in Spark but not in DuckDB — the guard (identical in
      // the oracle) keeps such a source whole on both engines
      .withColumn("rate",
        least(lit(1.0), round(lit(budgetTokens.toDouble) / greatest(col("n_toks"), lit(1L)), 6)))
    val th = format_string("%015x",
      least(floor(col("rate") * lit(math.pow(2, 60))).cast("long"), lit((1L << 60) - 1)))
    documents
      .join(broadcast(rates.select(col("source"), th.as("th"))), "source")
      .filter(coord < col("th"))
      .select(col("doc_id"), col("source"))
  }

  /** SoftDeDup SAMPLING — dedup in expectation: every document is kept
    * with probability 1/n_copies of its exact-dup class (the
    * `Dedup.softDedupWeights` weight realized as membership instead of
    * carried as a column), so each duplicate class contributes ONE
    * surviving copy in expectation while which copy survives stays
    * unbiased across classes — the stochastic alternative to
    * min-doc_id keeps, for samplers that cannot thread a weight
    * through. Membership is the same deterministic 60-bit md5
    * threshold as every sampling key, with the rate computed IN-PLAN
    * from the dup-class window count (ROUND(,6) rate → integer hex
    * threshold — the d_sample_temperature conversion, mirrored in the
    * oracle). One window count over the normalized-md5 hash shuffle +
    * the scan-side membership filter — the d_soft_dedup plan plus a
    * filter, nothing more. */
  def softDedupSample(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("norm_hash"))
    val withN = documents
      .select(col("doc_id"), col("source"),
        md5(Dedup.normText(col("text"))).as("norm_hash"))
      .withColumn("n_copies", count(lit(1)).over(w))
    val rate = round(lit(1.0) / col("n_copies"), 6)
    val th = format_string("%015x",
      least(floor(rate * lit(math.pow(2, 60))).cast("long"), lit((1L << 60) - 1)))
    withN.filter(coord < th)
      .select(col("doc_id"), col("source"), col("n_copies"))
  }

  /** Deterministic train/valid/test split assignment — the holdout
    * contract every training run needs BEFORE mixing: each document's
    * split is a pure function of (source, doc_id) via the same 60-bit
    * md5 coordinate as every sampling key, cut at two hex thresholds
    * (coord < t_train → train; < t_train+valid → valid; else test).
    * Properties that matter operationally: (a) scan-side — a CASE in
    * the projection, no shuffle, no RNG state; (b) stable — re-ingesting
    * or re-partitioning the corpus can never move a doc across splits,
    * so eval rows can never leak into training between runs; (c)
    * stratified by construction — the hash is uniform within every
    * source, so each source splits ≈ at the global fractions; (d)
    * monotone — growing validFrac only ever moves docs train→valid,
    * never across valid/test, so enlarging a holdout cannot contaminate
    * the other one retroactively. */
  def splitAssign(documents: DataFrame, validFrac: Double = 0.05,
                  testFrac: Double = 0.05): DataFrame =
    documents.select(col("doc_id"), col("source"),
      splitCase(coord, validFrac, testFrac).as("split"))

  /** The split CASE over any 60-bit hex coordinate — shared by the
    * identity-keyed [[splitAssign]], the content-keyed
    * [[splitAssignByContent]], and the [[splitLeakage]] report. */
  private def splitCase(c: Column, validFrac: Double, testFrac: Double): Column = {
    require(validFrac >= 0 && testFrac >= 0 && validFrac + testFrac <= 1.0,
      s"fractions must be non-negative and sum <= 1, got $validFrac/$testFrac")
    val tTrain = thresholdHex(1.0 - validFrac - testFrac)
    val tValid = thresholdHex(1.0 - testFrac)
    when(c < lit(tTrain), "train").when(c < lit(tValid), "valid").otherwise("test")
  }

  /** CONTENT-keyed split assignment — the leakage-safe form of
    * [[splitAssign]]: the coordinate is the md5 of the NORMALIZED TEXT
    * (the exact-dedup key) instead of the (source, doc_id) identity, so
    * two exact copies of a document land in the same split BY
    * CONSTRUCTION — an identity-keyed split sends ~2·p·(1-p) of every
    * dup class's mass across the holdout boundary (measured by
    * [[splitLeakage]]), which is precisely train/test contamination.
    * Same operational properties as splitAssign (scan-side CASE, zero
    * shuffles, re-partitioning/re-ingest stable, monotone in the
    * fractions); the one trade: membership is a function of content, so
    * editing a document can move it across splits (the dedup-correct
    * behavior — edited content IS new content). */
  def splitAssignByContent(documents: DataFrame, validFrac: Double = 0.05,
                           testFrac: Double = 0.05): DataFrame = {
    val contentCoord = substring(md5(Dedup.normText(col("text"))), 1, 15)
    documents.select(col("doc_id"), col("source"),
      splitCase(contentCoord, validFrac, testFrac).as("split"))
  }

  /** Cross-split LEAKAGE report — measures what the identity-keyed
    * split cannot prevent: for every holdout (valid/test) document,
    * how much of its content is also visible to training. Two signals
    * per doc: `n_leaked` / `leak_ratio` — how many of its `k`-token
    * spans (the t_decontaminate unit) also occur in ANY train-split
    * document — and `dup_in_train` — whether an EXACT copy (normalized
    * md5) sits in train. This is eval decontamination turned inward:
    * the same report a training run reads before trusting its
    * validation loss (Lee et al. 2022 measured the dup-driven
    * eval-overlap inflation this detects).
    *
    * Plan shape at 100 TB: the train span SET collapses to DISTINCT
    * spans first (the mega-frequency boilerplate span becomes ONE row
    * — map-side partial collapse, no skew), then the ~10% holdout span
    * stream equi-joins it with fan-out exactly 1 per holdout span —
    * never #train-occurrences. The corpus is scanned once for spans
    * (split computed in the same scan) + once for the md5 fingerprint
    * arm; both arms shuffle key columns only, never text payloads
    * beyond the k-token spans themselves. The train set is ~90% of
    * corpus spans — far beyond broadcast, so the span join is a
    * shuffle join BY DESIGN (Audit budget declared); the fingerprint
    * arm moves one 32-char hash per doc. */
  def splitLeakage(documents: DataFrame, k: Int = 8, validFrac: Double = 0.05,
                   testFrac: Double = 0.05): DataFrame = {
    val spans = Dedup.spanCut(documents, k)
      .withColumn("split", splitCase(coord, validFrac, testFrac))
    val trainSpans = spans.filter(col("split") === "train")
      .select(col("span")).distinct().withColumn("in_train", lit(1))
    val spanLeak = spans.filter(col("split") =!= "train")
      .join(trainSpans, Seq("span"), "left")
      .groupBy(col("doc_id"), col("source"), col("split"))
      .agg(max(col("n_spans")).as("n_spans"),
        sum(coalesce(col("in_train"), lit(0))).cast("long").as("n_leaked"))
    val trainHashes = documents
      .withColumn("split", splitCase(coord, validFrac, testFrac))
      .filter(col("split") === "train")
      .select(md5(Dedup.normText(col("text"))).as("norm_hash")).distinct()
      .withColumn("dup", lit(1))
    val holdoutHashes = documents
      .withColumn("split", splitCase(coord, validFrac, testFrac))
      .filter(col("split") =!= "train")
      .select(col("doc_id"), md5(Dedup.normText(col("text"))).as("norm_hash"))
      .join(trainHashes, Seq("norm_hash"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0)).as("dup_in_train"))
    spanLeak.join(holdoutHashes, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("split"), col("n_spans"),
        col("n_leaked"), round(col("n_leaked") * lit(1.0) / col("n_spans"), 4).as("leak_ratio"),
        col("dup_in_train"))
  }

  /** SEMANTIC split-leakage report — the embedding-space axis
    * [[splitLeakage]]'s span overlap cannot see: a paraphrased or
    * re-embedded near-copy of a train document reaches the holdout
    * with ZERO shared 8-gram spans yet sits at cosine ≈ 1 in embedding
    * space — exactly the leakage semantic dedup exists to stop, here
    * measured across the train/holdout boundary instead of within the
    * corpus. Per holdout split (valid/test under the [[splitAssign]]
    * identity rule): holdout size, how many holdout vectors have a
    * TRAIN neighbor at (rounded) cosine ≥ τ among canopy-blocked
    * candidates, the half-away leak rate, and the hottest observed
    * cosine (the reading that PICKS τ — on a clean random corpus it
    * sits far below any near-dup threshold; a paraphrase mill pushes
    * it toward 1).
    *
    * Plan: the canopy-pair blocking verbatim (nAssign-nearest-
    * centroid canopies off the Catalog-cached IVF fit — candidates
    * only within a shared canopy, work ∝ Σ bucket², never
    * holdout × train), pairs filtered to holdout × train, MAX cosine
    * per holdout vector (map-side combinable; multi-canopy duplicate
    * pairs are idempotent under max, so no pair dedup is needed at
    * all), a left join back so candidate-less holdout vectors count
    * as unleaked, one ≤ 2-row aggregate. Same approximate-blocking
    * contract as s_knn_ivf; the mirror replays the identical
    * blocking. τ compares the ROUNDED cosine (the s_knn_join
    * engine-independence convention). */
  def splitSemanticLeakage(documents: DataFrame, embeddings: DataFrame,
                           centroids: Seq[Seq[Double]], tau: Double = 0.9,
                           validFrac: Double = 0.05, testFrac: Double = 0.05,
                           nAssign: Int = 2): DataFrame = {
    import graft.functions.GraftFunctions
    val split = splitAssign(documents, validFrac, testFrac)
      .select(col("doc_id").as("vec_id"), col("split"))
    val e = embeddings.join(split, Seq("vec_id"))
      .select(col("vec_id"), col("split"), col("embedding"),
        explode(GraftFunctions.nearestCentroids(col("embedding"),
          typedlit(centroids), lit(nAssign))).as("canopy"))
    val holdout = e.filter(col("split") =!= "train")
    val train = e.filter(col("split") === "train")
      .select(col("canopy"), col("embedding").as("t_embedding"))
    val best = holdout
      .join(train, Seq("canopy"))
      .withColumn("cos",
        round(GraftFunctions.cosine(col("embedding"), col("t_embedding")), 4) + lit(0.0))
      .groupBy(col("vec_id"), col("split"))
      .agg(max(col("cos")).as("max_cos"))
    val perDoc = holdout.select(col("vec_id"), col("split")).distinct()
      .join(best, Seq("vec_id", "split"), "left")
    perDoc.groupBy(col("split"))
      .agg(count(lit(1)).as("n_holdout"),
        sum(when(col("max_cos") >= tau, 1L).otherwise(0L)).as("n_leaked"),
        max(coalesce(col("max_cos"), lit(0.0))).as("top_cos_raw"))
      .select(col("split"), col("n_holdout"), col("n_leaked"),
        expr("CAST((20000 * n_leaked + GREATEST(n_holdout, 1)) DIV " +
          "(2 * GREATEST(n_holdout, 1)) AS DOUBLE) / 10000.0").as("leak_rate"),
        (round(col("top_cos_raw"), 4) + lit(0.0)).as("top_cos"))
  }

  /** Integer "parts" of the target mixture for [[epochPlan]] — relative
    * weights as ints so the in-plan normalizer Σw is an exact integer
    * sum (order-free under any partitioning; a double Σ would be
    * last-ulp partition-order-dependent). Mirrors the MixRates shape:
    * upweight src0/src1, midweight src2, downweight src3, tail 1. */
  val EpochParts: Map[String, Int] = Map("src0" -> 8, "src1" -> 8, "src2" -> 4, "src3" -> 2)
  val EpochPartDefault: Int = 1

  /** The whitespace-token count every budget operator denominates in
    * (the codegen kernel with no word lists) — single-sourced so the
    * epochPlan / mixWaterfill / mixAnneal family and their DuckDB
    * `toks` CTEs can never disagree about what a token is. */
  private def tokenCountCol: Column =
    graft.functions.GraftFunctions
      .stopwordProfile(col("text"), typedlit(Seq.empty[Seq[String]])).getItem(0)

  /** The integer-parts weight CASE shared by the same family (exact,
    * order-free Σw under any partitioning). */
  private def weightCol(parts: Map[String, Int], defaultPart: Int): Column =
    parts.toSeq.sortBy(_._1).foldLeft(lit(defaultPart)) {
      case (acc, (src, p)) => when(col("source") === src, lit(p)).otherwise(acc)
    }

  /** Data-constrained epoching plan (Muennighoff et al. 2023): given a
    * total token budget and a target mixture, how many EPOCHS of each
    * source must be repeated to serve its share — and how much of the
    * share is unservable under the repeat cap (the paper's ~4-epoch
    * point, beyond which repeated data stops substituting for new
    * data). The pre-training-run governance artifact: `epochs_needed`
    * > cap means the mixture over-asks this source; `deficit_tokens`
    * is the gap to re-allocate.
    *
    * Determinism: weights are integer parts (exact Σ), token counts are
    * exact longs from the codegen token kernel, target = ROUND(budget ×
    * w/Σw) with ONE double division, epochs ROUND(,4) — engine-identical.
    * Plan: one #sources-row aggregate off the scan (map-side partials),
    * then a single-partition window over ≤ #sources rows. */
  def epochPlan(documents: DataFrame, budgetTokens: Long = 100000L,
                parts: Map[String, Int] = EpochParts,
                defaultPart: Int = EpochPartDefault,
                maxEpochs: Double = 4.0): DataFrame = {
    val tokCount = tokenCountCol
    val w = weightCol(parts, defaultPart)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(tokCount.cast("long")).as("n_tokens"))
      .withColumn("weight", w)
      .withColumn("wsum", sum(col("weight")).over(all))
      .withColumn("target_tokens",
        round(lit(budgetTokens.toDouble) * col("weight") / col("wsum"), 0).cast("long"))
      .withColumn("epochs_needed",
        round(col("target_tokens") * lit(1.0) / greatest(col("n_tokens"), lit(1L)), 4))
      .withColumn("epochs_eff", least(col("epochs_needed"), lit(maxEpochs)))
      .withColumn("deficit_tokens",
        greatest(col("target_tokens") - round(col("n_tokens") * lit(maxEpochs), 0).cast("long"),
          lit(0L)))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("target_tokens"), col("epochs_needed"), col("epochs_eff"),
        col("deficit_tokens"))
  }

  /** Budget WATERFILL allocator — the redistribution step [[epochPlan]]
    * stops short of. epochPlan reports each source's unservable deficit
    * under the repeat cap; this operator answers "so what do we train
    * on instead": allocate the token budget across sources at the
    * target proportions with each source capped at capacity =
    * n_tokens × maxEpochs, the capped sources' unserved share
    * REDISTRIBUTED to the uncapped ones at their relative weights —
    * classic water-filling, the data-constrained reallocation
    * Muennighoff et al. 2023 motivates (repeating a small source past
    * ~4 epochs stops substituting for new data, so its excess demand
    * must flow to sources that still have fresh tokens).
    *
    * Greedy in ascending capacity/weight ("water level") order: once a
    * source goes uncapped, the remaining budget-to-weight ratio is
    * invariant (alloc = w·B′/W′ leaves B′/W′ unchanged), so the capped
    * set is a PREFIX of the level order — computed as a running AND
    * over the exact-integer feasibility test
    * w·(B − C_prefix) ≥ c·(W − W_prefix) (no division and no floats in
    * any decision; the level ordering's IEEE double is correctly
    * rounded on both engines and serves only as a deterministic sort
    * key, ties broken by source — any order yields a feasible
    * allocation, the running AND just makes it the optimal one).
    *
    * Determinism: integer weight parts (exact Σ), capacities exact
    * longs (integer maxEpochs), the capped decision exact-integer, and
    * both emitted quotients (realized share of budget, realized
    * epochs) use the exact-integer half-away ROUND(,4) idiom on
    * non-negative operands. `unserved_tokens` = budget − Σ alloc is
    * the structural deficit when every source caps (up to the ≤
    * ⌈#uncapped/2⌉ half-away rounding units otherwise).
    *
    * Plan: one #sources-row aggregate off the scan (map-side
    * partials), then single-partition windows over ≤ #sources rows —
    * the d_epoch_plan scale shape: the corpus is touched exactly once,
    * everything downstream is model-scale. */
  def mixWaterfill(documents: DataFrame, budgetTokens: Long = 100000L,
                   parts: Map[String, Int] = EpochParts,
                   defaultPart: Int = EpochPartDefault,
                   maxEpochs: Long = 4L): DataFrame =
    waterfillFromCards(
      documents
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCountCol.cast("long")).as("n_tokens")),
      budgetTokens, parts, defaultPart, maxEpochs)

  /** Card-level form of [[mixWaterfill]] (the mixReportFromCards
    * convention): the whole plan arithmetic over an already-merged
    * (source, n_docs, n_tokens) capacity-card frame — shared by the
    * batch key and the streaming maintainer's scheduled RE-PLAN
    * ([[graft.streaming.MixStream.waterfillPlan]]), which re-merges
    * durable per-batch partials instead of rescanning documents.
    * Integer doc/token counts are additive, so the served plan is
    * bit-equal to the batch operator over the same documents under any
    * batch split or arrival order. */
  def waterfillFromCards(cards: DataFrame, budgetTokens: Long = 100000L,
                         parts: Map[String, Int] = EpochParts,
                         defaultPart: Int = EpochPartDefault,
                         maxEpochs: Long = 4L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, "budgetTokens must be positive (realized_share divides by it)")
    val w = weightCol(parts, defaultPart)
    val B = budgetTokens
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    waterfillAlloc(
      cards
        .withColumn("weight", w.cast("long"))
        .withColumn("capacity_tokens", col("n_tokens") * lit(maxEpochs)),
      B)
      .withColumn("realized_share",
        expr(s"CAST((20000 * alloc_tokens + ${B}L) DIV ${2 * B}L AS DOUBLE) / 10000.0"))
      .withColumn("realized_epochs",
        expr("CAST((20000 * alloc_tokens + GREATEST(n_tokens, 1L)) DIV " +
          "(2 * GREATEST(n_tokens, 1L)) AS DOUBLE) / 10000.0"))
      .withColumn("unserved_tokens",
        greatest(lit(B) - sum(col("alloc_tokens")).over(all), lit(0L)))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("capacity_tokens"), col("capped"), col("alloc_tokens"),
        col("realized_share"), col("realized_epochs"), col("unserved_tokens"))
  }

  /** Waterfill allocation core over a MODEL-scale (≤ #sources-row)
    * frame carrying (source, weight, capacity_tokens): appends `capped`
    * and `alloc_tokens` for `budget`, drops its working columns, passes
    * everything else through — see [[mixWaterfill]] for the algorithm
    * and determinism contract. Factored so [[mixAnneal]] can run one
    * allocation per phase. */
  private[ops] def waterfillAlloc(frame: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLevel = Window.partitionBy().orderBy(col("level"), col("source"))
    val lagF = byLevel.rowsBetween(Window.unboundedPreceding, -1)
    val runF = byLevel.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    frame
      .withColumn("level", col("capacity_tokens").cast("double") / col("weight"))
      .withColumn("c_lag", coalesce(sum(col("capacity_tokens")).over(lagF), lit(0L)))
      .withColumn("w_lag", coalesce(sum(col("weight")).over(lagF), lit(0L)))
      .withColumn("w_tot", sum(col("weight")).over(all))
      .withColumn("feasible",
        (col("weight") * (lit(budget) - col("c_lag")) >=
          col("capacity_tokens") * (col("w_tot") - col("w_lag"))).cast("int"))
      .withColumn("capped", min(col("feasible")).over(runF).cast("long"))
      .withColumn("c_k",
        coalesce(sum(when(col("capped") === 1L, col("capacity_tokens"))).over(all), lit(0L)))
      .withColumn("w_k",
        coalesce(sum(when(col("capped") === 1L, col("weight"))).over(all), lit(0L)))
      .withColumn("alloc_tokens",
        when(col("capped") === 1L, col("capacity_tokens"))
          .otherwise(expr(
            s"(2 * weight * (${budget}L - c_k) + (w_tot - w_k)) DIV (2 * GREATEST(w_tot - w_k, 1L))")))
      .drop("level", "c_lag", "w_lag", "w_tot", "feasible", "c_k", "w_k")
  }

  /** Two-phase ANNEALED mixture plan — the published end-of-run
    * "anneal"/midtraining practice (spend the last fraction of the
    * budget on a mixture re-weighted toward the highest-quality
    * sources; the decay-phase data re-weighting reported for several
    * public LLM pretraining recipes): phase `main` waterfills 3/4 of
    * the budget at the base weights; phase `anneal` waterfills the
    * remaining quarter with the top-⌈#sources/4⌉ sources by
    * high-quality-document fraction (t_quality's exact integer 'high'
    * conditions: ≥ 50 tokens AND > 0 stopword hits) boosted ×`boost`,
    * against the CAPACITY LEFT after phase 1 — the repeat cap binds
    * across the whole run, so tokens served in main are not
    * re-servable in anneal (a source fully consumed in main arrives at
    * the anneal with capacity 0 and caps at alloc 0).
    *
    * Determinism: the quality rank orders by an IEEE-identical
    * n_high/n_docs division (ties by source), the boost test is
    * integer (q_rank·4 ≤ #sources+3 ⟺ rank ≤ ⌈S/4⌉), the budget split
    * exact (B_anneal = B DIV 4), and both phases inherit
    * [[waterfillAlloc]]'s exact-integer contract.
    *
    * Plan: ONE scan-side kernel aggregate (the per-source frame is
    * localCheckpointed at model scale — ≤ #sources rows — so the two
    * phase branches and their union never rescan the corpus), then
    * single-partition windows over ≤ #sources rows per phase;
    * 2·#sources output rows. */
  /** [[mixAnneal]]/[[annealCurve]] shared input: the per-source quality
    * aggregate with base weight, run capacity and the top-⌈S/4⌉
    * quality-boost flag, localCheckpointed at model scale (≤ #sources
    * rows) so every phase arm reads ONE corpus scan. */
  private[ops] def annealRanked(documents: DataFrame,
                                parts: Map[String, Int],
                                defaultPart: Int, maxEpochs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = graft.functions.GraftFunctions.stopwordProfile(col("text"),
      typedlit(Seq(TextAnalysis.stopwords("en"))))
    val w = weightCol(parts, defaultPart)
    val byQ = Window.partitionBy().orderBy(
      (col("n_high").cast("double") / col("n_docs")).desc, col("source"))
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    DupClusters.materialize(documents
      .select(col("source"), p.as("p"))
      .select(col("source"), col("p").getItem(0).cast("long").as("t"),
        (col("p").getItem(0) >= 50 && col("p").getItem(1) > 0).cast("long").as("hi"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        sum(col("hi")).as("n_high"))
      .withColumn("weight", w.cast("long"))
      .withColumn("capacity_tokens", col("n_tokens") * lit(maxEpochs))
      .withColumn("q_rank", row_number().over(byQ))
      .withColumn("n_src", count(lit(1)).over(all))
      .withColumn("annealed",
        (col("q_rank") * lit(4L) <= col("n_src") + lit(3L)).cast("long"))
      .drop("q_rank", "n_src"))
  }

  /** One (main, anneal) phase pair off a shared [[annealRanked]] frame:
    * main waterfills `bMain` at base weights; anneal waterfills
    * `bAnneal` with boosted weights against the capacity LEFT after
    * main. */
  private[ops] def annealPhases(ranked: DataFrame, bMain: Long,
                                bAnneal: Long, boost: Long): (DataFrame, DataFrame) = {
    val main = waterfillAlloc(ranked, bMain)
    val annealIn = main
      .withColumn("weight",
        when(col("annealed") === 1L, col("weight") * lit(boost)).otherwise(col("weight")))
      .withColumn("capacity_tokens", col("capacity_tokens") - col("alloc_tokens"))
      .drop("capped", "alloc_tokens")
    (main, waterfillAlloc(annealIn, bAnneal))
  }

  def mixAnneal(documents: DataFrame, budgetTokens: Long = 100000L,
                parts: Map[String, Int] = EpochParts,
                defaultPart: Int = EpochPartDefault,
                maxEpochs: Long = 4L, boost: Long = 4L): DataFrame = {
    require(budgetTokens >= 4,
      "budgetTokens must be >= 4 (both phase shares divide by their phase budgets)")
    val b2 = budgetTokens / 4
    val b1 = budgetTokens - b2
    def shareCol(b: Long) = expr(
      s"CAST((20000 * alloc_tokens + ${b}L) DIV ${2 * b}L AS DOUBLE) / 10000.0")
    val outCols = Seq("source", "n_docs", "n_tokens", "n_high", "annealed",
      "weight", "capacity_tokens", "capped", "alloc_tokens")
    val (main, anneal) =
      annealPhases(annealRanked(documents, parts, defaultPart, maxEpochs), b1, b2, boost)
    main.withColumn("phase", lit("main")).withColumn("realized_share", shareCol(b1))
      .select((col("phase") +: outCols.map(col)) :+ col("realized_share"): _*)
      .unionByName(
        anneal.withColumn("phase", lit("anneal")).withColumn("realized_share", shareCol(b2))
          .select((col("phase") +: outCols.map(col)) :+ col("realized_share"): _*))
  }

  /** Anneal-fraction TUNING curve — the measured sweep behind
    * [[mixAnneal]]'s pinned quarter (the curve-suite rule: every knob
    * the pipeline pins gets its sweep): for each anneal fraction
    * β ∈ {0, ⅛, ¼, ½} (eighths ⇒ exact integer budget splits), run
    * the two-phase plan off the SAME localCheckpointed quality
    * aggregate and report where the budget lands — total allocated
    * tokens, tokens landing on the boosted top-quality sources, their
    * half-away share, and the unserved remainder. The corpus is
    * scanned ONCE; each arm re-runs only model-scale windows over
    * ≤ #sources rows (the d_dedup_curve cost design).
    *
    * Read the curve as: share_high at β=0 is the base mixture's
    * natural quality share; rising β buys quality share until the
    * boosted sources' repeat caps bind (the curve flattens while the
    * redistribution grows) — pick the knee. */
  def annealCurve(documents: DataFrame, budgetTokens: Long = 100000L,
                  parts: Map[String, Int] = EpochParts,
                  defaultPart: Int = EpochPartDefault,
                  maxEpochs: Long = 4L, boost: Long = 4L,
                  panelEighths: Seq[Int] = Seq(0, 1, 2, 4)): DataFrame = {
    val ranked = annealRanked(documents, parts, defaultPart, maxEpochs)
    panelEighths.map { k =>
      val b2 = budgetTokens * k / 8
      val b1 = budgetTokens - b2
      val (main, anneal) = annealPhases(ranked, b1, b2, boost)
      main.select(col("annealed"), col("alloc_tokens"))
        .unionByName(anneal.select(col("annealed"), col("alloc_tokens")))
        .agg(sum(col("alloc_tokens")).as("alloc_tokens"),
          sum(when(col("annealed") === 1L, col("alloc_tokens")).otherwise(lit(0L)))
            .as("alloc_high_tokens"))
        .select(lit(k.toLong).as("anneal_eighths"),
          lit(b1).as("budget_main"), lit(b2).as("budget_anneal"),
          col("alloc_high_tokens"), col("alloc_tokens"),
          expr("CAST((20000 * alloc_high_tokens + GREATEST(alloc_tokens, 1L)) DIV " +
            "(2 * GREATEST(alloc_tokens, 1L)) AS DOUBLE) / 10000.0").as("share_high"),
          greatest(lit(budgetTokens) - col("alloc_tokens"), lit(0L)).as("unserved_tokens"))
    }.reduce(_ unionByName _)
  }

  /** Stratified EXACT-N sampling: precisely `n` documents per source,
    * chosen by the same 60-bit md5 coordinate (so the selection is a
    * deterministic, engine-portable function of the data, and the n=1
    * sample is a prefix of the n=2 sample — nested like the rate-based
    * [[sampleMixture]]).
    *
    * Plan: one shuffle on `source`, then `row_number` over the md5 order.
    * Scale note: a window rank sorts each stratum — fine while strata fit
    * a partition's sort spill budget. At 100 TB-per-stratum, take the
    * rate-based [[sampleMixture]] at ~1.2 × n/N as a scan-side pre-filter,
    * THEN exact-rank the survivors: same result (membership is a hash
    * prefix), window input shrunk by the pre-filter's rate. */
  def stratifiedExactN(documents: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(coord, col("doc_id"))
    documents
      .select(col("doc_id"), col("source"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  // ---- driver wiring ----

  /** The hashed-bigram feature stream [[dsirWeightsOverFeats]] scores on: one
    * (doc_id, source, bucket) row per bigram instance; docs with < 2
    * tokens produce NO rows (no bigram signal — absent from every
    * weight/selection result by construction). */
  private[graft] def dsirFeats(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"),
        split(trim(coalesce(col("text"), lit(""))), "\\s+").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), col("source"), col("a"),
        posexplode(slice(col("a"), lit(1), size(col("a")) - 1)).as(Seq("i0", "w1")))
      .select(col("doc_id"), col("source"),
        substring(md5(concat(col("w1"), lit(" "),
          element_at(col("a"), col("i0") + 2))), 1, 2).as("b"))

  /** The trained DSIR model as a standalone artifact: the `buckets`-row
    * (bucket, log-ratio) table fit over [[dsirFeats]] — model scale, the
    * stored object a SERVING pipeline (e.g. the streaming ingest gate's
    * target-likeness arm) applies through [[dsirScore]] to corpora the
    * model never saw. */
  private[graft] def dsirModelFromFeats(feats: DataFrame, targetSource: String = "src19",
                                        buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = feats.groupBy(col("b")).agg(
      sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= targetSource, 1L).otherwise(0L)).as("cc"))
    val w = Window.partitionBy() // ≤ `buckets` rows — documented exception
    counts
      .withColumn("nt", sum(col("ct")).over(w))
      .withColumn("nc", sum(col("cc")).over(w))
      .select(col("b"),
        (log((col("ct") + 1).cast("double") / (col("nt") + buckets).cast("double")) -
          log((col("cc") + 1).cast("double") / (col("nc") + buckets).cast("double")))
          .cast("decimal(28,10)").as("lw"))
  }

  private[ops] def dsirScoreFeats(feats: DataFrame, model: DataFrame): DataFrame =
    feats
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feats"),
        (round(sum(col("lw")).cast("double") / count(lit(1)), 4) + lit(0.0))
          .as("dsir_weight"))

  /** Per-bucket feature-instance counts of `docs` over the SHARED
    * hashed-bigram feature space (the [[dsirFeats]] buckets both the
    * DSIR model and the NB quality classifier are fit and served on):
    * (b, n), ≤ 256 rows. The distribution card
    * `streaming.ModelStream`'s staleness signal snapshots at fit time
    * and accumulates per arriving batch. */
  def featureCounts(docs: DataFrame): DataFrame =
    dsirFeats(docs).groupBy(col("b")).agg(count(lit(1)).as("n"))

  /** Score arbitrary docs under a PRE-TRAINED model (the serving form
    * of [[dsirWeightsOverFeats]] — same bigram features, same broadcast join,
    * same ROUND(,4) mean): per doc, feature count + dsir_weight. Docs
    * with < 2 tokens yield no row (no bigram signal — the caller's
    * policy decides their fate; the gate arm rejects them). */
  def dsirScore(docs: DataFrame, model: DataFrame): DataFrame =
    dsirScoreFeats(dsirFeats(docs), model)

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * corpus document by how much more likely its content is under a
    * TARGET domain than under the raw corpus, using hashed-bigram
    * bag-of-features multinomials — the data-SELECTION step that picks
    * "more like the target" documents before mixing. Target here = the
    * `targetSource` documents (the same eval-source convention as
    * decontamination); weight = mean over the doc's bigram occurrences
    * of ln p̂_target(b) − ln p̂_corpus(b), add-1 smoothed over B=256
    * hashed buckets.
    *
    * Engine-portable by construction: the feature bucket is the first
    * 2 hex chars of md5(bigram) — a STRING key, no hex→int conversion
    * to diverge on — and add-1 smoothing over integer counts makes
    * every probability a ratio of integers, so the ln terms go through
    * the house float policy (per-term DECIMAL(28,10), one final double
    * division, ROUND(,4)+0.0) and DuckDB reproduces every weight.
    *
    * Plan: scan-side bigram+bucket generation (split + posexplode, as
    * lmScore); ONE conditional-sum aggregate builds both arms' bucket
    * counts (shuffle keyed on 256 buckets, map-side combined); the
    * totals enter via an unpartitioned window over the 256-row model
    * table (the documented tiny-aggregate window exception); the model
    * broadcasts back into the feature stream and one per-doc aggregate
    * finishes. Linear, two passes over the token stream.
    *
    * `feats` is the [[dsirFeats]] stream. It is referenced by BOTH the
    * model aggregate and the scoring join, so an in-plan
    * `dsirFeats(docs)` runs the bigram kernel twice per action; the
    * four DSIR keys read the Catalog-materialized stream, the
    * stored feature table a DSIR pipeline extracts once. */
  def dsirWeightsOverFeats(feats: DataFrame, targetSource: String = "src19",
                           buckets: Int = 256): DataFrame =
    dsirScoreFeats(feats.filter(col("source") =!= targetSource),
      dsirModelFromFeats(feats, targetSource, buckets))

  /** DSIR importance SELECTION — the second half of Xie et al. 2023:
    * [[dsirWeightsOverFeats]] scores every raw-corpus doc by target-domain
    * log-likelihood ratio; this keeps the top-`n` by that weight (the
    * deterministic selection form of the paper's importance resampling
    * — same ranking, no sampling noise, reproducible across runs and
    * engines). Tie-break: dsir_weight is ROUND(,4) on both engines, so
    * equal-weight ties are real and broken by doc_id — a total order,
    * the convention every top-k key follows.
    *
    * Plan: the weights plan (two bucket aggregates + broadcast model +
    * per-doc aggregate) followed by a global TakeOrdered(n) — no full
    * sort, the driver holds n rows, never the corpus. At 100 TB the
    * selection is usually expressed as a per-partition threshold
    * instead (select where weight ≥ τ with τ from a quantile sketch);
    * the top-n form is the oracle-exact contract for both. */
  def dsirSelectOverFeats(feats: DataFrame, n: Int = 100,
                          targetSource: String = "src19"): DataFrame =
    dsirWeightsOverFeats(feats, targetSource)
      .orderBy(col("dsir_weight").desc, col("doc_id").asc)
      .limit(n)

  /** DSIR threshold-form selection — the 100 TB shape of [[dsirSelectOverFeats]]:
    * keep every doc whose dsir_weight ≥ τ, with τ read from ONE
    * approx-quantile sketch over the weight column at
    * q = 1 − budgetFraction. Top-n needs a global TakeOrdered whose n
    * grows with the corpus (at a fixed budget FRACTION, n = f·N — the
    * driver's heap scales with N); the threshold form keeps the driver
    * at one scalar: the sketch aggregates to a single τ (Greenwald-
    * Khanna partials merge map-side), broadcasts back, and selection is
    * a scan-side filter. Rank guarantee: |rank(τ) − q·N| ≤ N/accuracy,
    * so the realized budget is within N/accuracy docs of the target —
    * at accuracy 10⁴ that is 0.01% of the corpus, and the selected SET
    * is exactly { weight ≥ τ } either way (ties at τ all kept: the
    * deterministic closure of the budget, no tie lottery).
    *
    * Gate exactness: below `accuracy` observations the GK sketch
    * retains every sample, so τ is the EXACT lower-neighbor quantile
    * (rank ⌈q·N⌉ of the sorted weights) — the DuckDB oracle reproduces
    * it by explicit rank, making this key hash-checkable at test SF
    * while the production path is the sketch itself. Spec adds the
    * top-n equivalence at matched budget and the sketch-error bound. */
  def dsirThresholdOverFeats(feats: DataFrame, budgetFraction: Double = 0.2,
                             targetSource: String = "src19",
                             accuracy: Int = 10000): DataFrame = {
    // the slim (doc_id, source, n_feats, dsir_weight) frame is read by
    // BOTH consumers below (the τ sketch and the selection filter) —
    // materialize it once so the dsirFeats subtree (bigram kernel +
    // bucket join, the expensive part) runs a single time, not twice
    val w = DupClusters.materialize(dsirWeightsOverFeats(feats, targetSource))
    val tau = broadcast(w.agg(
      percentile_approx(col("dsir_weight"), lit(1.0 - budgetFraction), lit(accuracy))
        .as("tau")))
    w.crossJoin(tau)
      .filter(col("dsir_weight") >= col("tau"))
      .select(col("doc_id"), col("source"), col("dsir_weight"),
        (col("tau") + lit(0.0)).as("tau"))
  }

  /** DSIR budget-fraction CURVE — the governance sweep behind
    * [[dsirThresholdOverFeats]]'s single `budgetFraction` (the data-selection
    * budget debate of Xie et al. 2023 §5: a tight budget concentrates
    * on near-target text but starves diversity, a loose one dilutes
    * the target signal): per candidate fraction, the realized
    * threshold τ_f, the selected count and corpus share (ties at τ all
    * kept — the deterministic closure, so the realized share can
    * exceed the target), and the mean selected weight (how fast
    * target-likeness decays as the budget loosens). A selection run
    * reads this once per (target, corpus) pair, picks the knee, then
    * pins the fraction.
    *
    * Plan: ALL candidate thresholds come from a single quantile sketch
    * pass (`percentile_approx` takes the percentage ARRAY — one GK
    * sketch, f queries), broadcast back as one row (the
    * d_dsir_threshold shape), and every fraction is a conditional-sum
    * triple in ONE aggregate unpivoted by stack — adding fractions
    * costs a sketch query, never a scan. The weights frame is
    * MATERIALIZED once and shared by both consumers (the sketch
    * aggregate and the sweep scan), so the dsirFeats subtree — the
    * bigram kernel + bucket join, the expensive part — runs a single
    * time regardless of |fractions|. Gate exactness: below `accuracy`
    * observations the sketch retains every sample, so each τ_f is the
    * exact rank-⌈(1−f)·n⌉ weight and the DuckDB mirror reproduces it
    * by explicit rank (the d_dsir_threshold contract, per fraction).
    * Shares AND the mean weight use the exact-integer half-away idiom
    * (weights are ROUND(,4), so Σ(w·10⁴) is an exact long). */
  def dsirCurveOverFeats(feats: DataFrame,
                         fractions: Seq[Double] = Seq(0.05, 0.1, 0.2, 0.5),
                         targetSource: String = "src19",
                         accuracy: Int = 10000): DataFrame =
    budgetCurveOverWeights(dsirWeightsOverFeats(feats, targetSource),
      "dsir_weight", fractions, accuracy, "mean_weight")

  /** The budget-fraction sweep shared by [[dsirCurveOverFeats]] and
    * `TextAnalysis.qualityModelCurveFromScores` — generic over which
    * ROUND(,4) per-doc score it thresholds: one materialized scores
    * frame read by both consumers (the sketch aggregate and the sweep
    * scan), every candidate τ from a single GK sketch pass, one
    * conditional-sum triple per fraction unpivoted by stack.
    *
    * An all-degenerate corpus (no scored rows) would leave the global
    * agg's one row with n_docs = 0 and stack would unpivot it into
    * |fractions| null rows while the mirror's empty τ CTEs yield zero —
    * the n_docs > 0 filter makes both engines agree on emptiness.
    *
    * mean = (Σ round(score·10⁴))/k rounded half-AWAY to 6 decimals in
    * EXACT integers (the weeklyFromDaily idiom — ROUND(dbl, 6) on a
    * sum/count quotient is the documented cross-engine …5-tie hazard):
    * sign(W)·((200·|W| + k) DIV (2k)) over non-negative DIV operands
    * only, both engines identical. */
  private[ops] def budgetCurveOverWeights(scores: DataFrame, weightCol: String,
                                          fractions: Seq[Double], accuracy: Int,
                                          meanAlias: String,
                                          materialized: Boolean = false): DataFrame = {
    // one scores computation shared by the sketch and the sweep (the
    // dsirThresholdOverFeats materialization — without it the full feature
    // subtree executes under both consumers); `materialized = true`
    // declares the caller already holds a materialized frame (r16 —
    // the Catalog-cached quality scores), so no per-serve re-copy
    val w = if (materialized) scores else DupClusters.materialize(scores)
    val taus = broadcast(w.agg(
      percentile_approx(col(weightCol),
        array(fractions.map(f => lit(1.0 - f)): _*), lit(accuracy)).as("taus")))
    // the score is ROUND(,4) by contract, so score·10⁴ is an exact
    // integer — summing THOSE keeps the whole mean computation in
    // exact longs (|Σ| fits a long for any feasible corpus)
    val wUnits = expr(s"CAST(round($weightCol * 10000) AS BIGINT)")
    val aggs = count(lit(1)).as("n_docs") +:
      fractions.indices.flatMap { i =>
        val tau = element_at(col("taus"), i + 1)
        Seq(
          max(tau).as(s"tau$i"),
          sum(when(col(weightCol) >= tau, 1L).otherwise(0L)).as(s"k$i"),
          sum(when(col(weightCol) >= tau, wUnits)).as(s"s$i"))
      }
    val flags = w.crossJoin(taus).agg(aggs.head, aggs.tail: _*)
    val stackArgs = fractions.zipWithIndex.map { case (f, i) =>
      s"CAST($f AS DOUBLE), tau$i, k$i, s$i" }.mkString(", ")
    flags
      .selectExpr("n_docs",
        s"stack(${fractions.size}, $stackArgs) AS (budget_frac, tau, n_selected, wsum)")
      .filter(col("n_docs") > 0L)
      .select(col("budget_frac"),
        (col("tau") + lit(0.0)).as("tau"),
        col("n_selected"), col("n_docs"),
        (when(col("n_docs") === 0L, lit(0.0)).otherwise(
          expr("CAST((20000 * n_selected + n_docs) DIV (2 * n_docs) AS DOUBLE)")
            / lit(10000.0)) + lit(0.0)).as("sel_frac"),
        (when(col("n_selected") === 0L, lit(0.0)).otherwise(
          expr("CAST(CASE WHEN wsum < 0 THEN -1 ELSE 1 END AS DOUBLE)") *
            expr("CAST((200 * abs(wsum) + n_selected) DIV (2 * n_selected) AS DOUBLE)")
            / lit(1000000.0)) + lit(0.0))
          .as(meanAlias))
  }

  /** Deterministic corpus shuffle — the training-order step: every doc
    * gets a shard (first hex nibble of its md5 coordinate → 16 shards)
    * and a position within the shard (rank of the remaining 56 hash
    * bits, doc_id tie-break — a total order). Reading shards 0..f each
    * in position order IS the shuffled epoch order, and it is a pure
    * function of (source, doc_id): reruns, engine swaps, and upstream
    * repartitioning cannot change it, and a different epoch's order is
    * one salt away (prepend the epoch to the hashed key).
    *
    * Plan: ONE hash shuffle on the 16 shard keys + a per-shard sort —
    * exactly how the order materializes at 100 TB (each shard's sorted
    * run writes independently; no global sort, no driver state). The
    * 16-way key space is deliberately coarse here to keep the test
    * battery cheap; production widens the nibble count, which only
    * changes the substring length on both engines. */
  def corpusShuffle(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL-source rows keep their ':' separator (see `coord`'s oracle-parity note).
    val h = md5(concat(coalesce(col("source"), lit("")), lit(":"), col("doc_id").cast("string")))
    documents
      .select(col("doc_id"), col("source"),
        substring(h, 1, 1).as("shard"), substring(h, 2, 14).as("ord"))
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("ord"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("source"), col("shard"), col("pos"))
  }

  /** Deterministic WEIGHTED sample without replacement (Efraimidis &
    * Spirtakis 2006 "A-ES" exponential-sort): every doc gets the score
    * ln(u)/w — the log of the classic u^(1/w) sort key — with weight
    * w = its char length and u a deterministic uniform derived from the
    * doc's own FNV-1a hash; the top-k scores ARE a weighted sample
    * without replacement (P(selection) ∝ w, exactly the reservoir-
    * sampling result, but with zero reservoir state). The
    * length-weighted form is the standard pretraining shape: long
    * documents carry more tokens, so a doc-uniform sample under-weights
    * their token mass.
    *
    * Scale: the score is a pure scan-side projection (codegen FNV +
    * one ln), selection is a TakeOrdered top-k (per-partition heaps
    * merge k rows — no global sort, no RNG state, no reservoir); reruns
    * and repartitionings are idempotent by construction. At a fixed
    * RATE rather than fixed k, the same score compares against a
    * quantile threshold (the d_dsir_threshold pattern) — top-k and
    * threshold are the two ends of one design.
    *
    * Engine-portable determinism: u = (low-53-bits(fnv64) + 1) / (2⁵³+1)
    * — an exact-integer-valued double on both engines (DuckDB replays
    * FNV with the MinHash family's HUGEINT list_reduce; low 53 bits of
    * the signed long == mod 2⁵³ of the unsigned value); the score is
    * compared as DECIMAL(28,10) (sub-1e-10 libm ln differences cannot
    * reorder), doc_id breaks exact ties, and the reported score is ONE
    * final ROUND(,4). */
  def weightedSample(documents: DataFrame, k: Int = 200): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val key = concat(coalesce(col("source"), lit("")), lit(":"), col("doc_id").cast("string"))
    val w = greatest(coalesce(col("n_chars"), lit(0L)), lit(1L))
    val u53 = graft.functions.GraftFunctions.fnv64(key).bitwiseAND(lit((1L << 53) - 1))
    val u = (u53.cast("double") + lit(1.0)) / lit(9007199254740993.0)
    documents
      .select(col("doc_id"), col("source"), w.as("w"),
        (log(u) / w.cast("double")).cast(DecimalType(28, 10)).as("sc"))
      .orderBy(desc("sc"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("w"),
        (round(col("sc").cast("double"), 4) + lit(0.0)).as("score"))
  }

  /** Realized-mixture audit — the governance card that CLOSES the
    * sampling loop: per source, what the deterministic mixture
    * actually kept vs the declared target rate, with the absolute
    * deviation. The md5-threshold sampler is exact-in-expectation but
    * each source realizes a binomial draw; this is where a mixture
    * rollout checks that no source drifted (a big abs_dev at large n
    * means the KEY SPACE is biased — e.g. doc_ids correlated with the
    * hash — not sampling noise). The target column is the same literal
    * CASE the sampler uses, so the report can never disagree with the
    * sampler about intent.
    *
    * The audit arithmetic runs over an already-merged (source, n_docs,
    * n_kept) card: the `d_mix_report` key passes [[mixturePartials]]
    * of the corpus (one aggregation over the flagged scan), and the
    * streaming maintainer's scheduled report re-merges durable
    * per-batch partials instead of rescanning documents (bit-equal by
    * the additive-partials property on [[mixturePartials]]). */
  def mixReportFromCards(cards: DataFrame, rates: Map[String, Double],
                         defaultRate: Double): DataFrame = {
    val target = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
        when(col("source") === src, lit(r)).otherwise(acc)
      }
    cards
      .withColumn("kept_frac", round(col("n_kept") / col("n_docs"), 4))
      .withColumn("target_rate", target + lit(0.0))
      .withColumn("abs_dev", round(abs(col("kept_frac") - col("target_rate")), 4) + lit(0.0))
  }

  /** Rendezvous (HRW) shard assignment (Thaler & Ravishankar 1998) —
    * the topology-stable sharding [[corpusShuffle]]'s fixed nibble is
    * not: each doc goes to the shard with the MINIMUM md5(shard|key)
    * score, so adding a shard moves ONLY the docs whose new score wins
    * (≈ 1/(n+1) of the corpus, spec-proven) — every other assignment
    * is untouched. That minimal-movement property is what lets a
    * 100 TB corpus re-shard incrementally: a resize re-writes one new
    * shard's worth of data instead of re-dealing everything (modulo
    * hashing moves (n−1)/n of all docs on the same change).
    *
    * Pure scan-side: the per-shard scores are an `array_min` over a
    * literal struct array (score, shard) — total order, no explode, no
    * shuffle, no driver state; assignment is a deterministic function
    * of (shard list, source, doc_id) on any engine (the DuckDB mirror
    * ranks the same md5 strings). */
  def shardAssign(documents: DataFrame,
                  shards: Seq[String] = (0 until 8).map(i => s"shard$i")): DataFrame = {
    require(shards.nonEmpty && shards.distinct.size == shards.size, "shards must be distinct")
    val key = concat(coalesce(col("source"), lit("")), lit(":"), col("doc_id").cast("string"))
    val entries = array(shards.map(s =>
      struct(md5(concat(lit(s), lit("|"), key)).as("score"), lit(s).as("shard"))): _*)
    documents.select(col("doc_id"), col("source"),
      array_min(entries).getField("shard").as("shard"))
  }

  /** The mixture the d_sample_mix key pins: upweight src0/src1, midweight
    * src2, downweight src3, 10% tail for everything else. */
  val MixRates: Map[String, Double] =
    Map("src0" -> 0.8, "src1" -> 0.8, "src2" -> 0.5, "src3" -> 0.25)
  val MixDefault: Double = 0.1

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_sample_mix" -> ((s, d) => sampleMixture(Tables(s, d).documents, MixRates, MixDefault)),
    "d_sample_temperature" -> ((s, d) => sampleTemperature(Tables(s, d).documents)),
    "d_temp_curve"       -> ((s, d) => temperatureCurve(Tables(s, d).documents)),
    "d_dsir_curve"       -> ((s, d) =>
      dsirCurveOverFeats(graft.core.Catalog.dsirFeats(s, d))),
    "d_sample_tokens" -> ((s, d) => sampleTokenBudget(Tables(s, d).documents, budgetTokens = 500L)),
    "d_stratified_sample" -> ((s, d) => stratifiedExactN(Tables(s, d).documents, n = 10)),
    "d_dsir_weights" -> ((s, d) =>
      dsirWeightsOverFeats(graft.core.Catalog.dsirFeats(s, d))),
    "d_dsir_select" -> ((s, d) =>
      dsirSelectOverFeats(graft.core.Catalog.dsirFeats(s, d))),
    "d_dsir_threshold" -> ((s, d) =>
      dsirThresholdOverFeats(graft.core.Catalog.dsirFeats(s, d))),
    "d_soft_sample" -> ((s, d) => softDedupSample(Tables(s, d).documents)),
    "d_split_assign" -> ((s, d) => splitAssign(Tables(s, d).documents)),
    "d_split_semantic" -> ((s, d) => {
      val (cents, _) = graft.core.Catalog.ivfIndex(s, d)
      splitSemanticLeakage(Tables(s, d).documents, Tables(s, d).embeddings, cents)
    }),
    "d_split_content" -> ((s, d) => splitAssignByContent(Tables(s, d).documents)),
    "d_split_leakage" -> ((s, d) => splitLeakage(Tables(s, d).documents)),
    "d_epoch_plan" -> ((s, d) => epochPlan(Tables(s, d).documents)),
    "d_mix_waterfill" -> ((s, d) => mixWaterfill(Tables(s, d).documents)),
    "d_mix_anneal" -> ((s, d) => mixAnneal(Tables(s, d).documents)),
    "d_anneal_curve" -> ((s, d) => annealCurve(Tables(s, d).documents)),
    "d_corpus_shuffle" -> ((s, d) => corpusShuffle(Tables(s, d).documents)),
    "d_weighted_sample" -> ((s, d) => weightedSample(Tables(s, d).documents)),
    "d_shard_assign" -> ((s, d) => shardAssign(Tables(s, d).documents)),
    "d_mix_report" -> ((s, d) => mixReportFromCards(
      mixturePartials(Tables(s, d).documents, MixRates, MixDefault), MixRates, MixDefault)))

  /** Add-1 smoothed hashed-bigram multinomial log-odds chain in DuckDB
    * SQL — every probability is a ratio of integers (bucket key = 2 hex
    * chars of md5, a string, nothing to diverge on), ln terms
    * DECIMAL(28,10), one final double division, ROUND(,4)+0.0. Shared
    * by the DSIR mirrors (target = the eval source, corpus scored
    * without it) and the quality-model mirrors (target = the declared
    * high-quality source, EVERYTHING scored — `excludeTarget` is the
    * only difference between the two families; r15). Emits
    * `(doc_id, source, n_feats, $weightAlias)`. */
  private[ops] def nbLogOddsSql(targetSource: String, excludeTarget: Boolean,
                                weightAlias: String): String =
    raw"""WITH d AS (SELECT doc_id, source,
        |    string_split_regex(trim(COALESCE(text, '')), '\s+') AS a
        |  FROM documents),
        |p AS (SELECT doc_id, source, a, unnest(generate_series(1, length(a) - 1)) AS i
        |  FROM d WHERE length(a) >= 2),
        |f AS (SELECT doc_id, source,
        |    substring(md5(concat(a[i], ' ', a[i + 1])), 1, 2) AS b
        |  FROM p),
        |counts AS (SELECT b,
        |    SUM(CASE WHEN source = '$targetSource' THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN source <> '$targetSource' THEN 1 ELSE 0 END) AS cc
        |  FROM f GROUP BY 1),
        |model AS (SELECT b,
        |    CAST(ln(CAST(ct + 1 AS DOUBLE) / CAST(SUM(ct) OVER () + 256 AS DOUBLE))
        |       - ln(CAST(cc + 1 AS DOUBLE) / CAST(SUM(cc) OVER () + 256 AS DOUBLE))
        |      AS DECIMAL(28,10)) AS lw
        |  FROM counts)
        |SELECT f.doc_id, f.source, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |  ROUND(CAST(SUM(lw) AS DOUBLE) / COUNT(*), 4) + 0.0 AS $weightAlias
        |FROM f JOIN model USING (b)
        |${if (excludeTarget) s"WHERE f.source <> '$targetSource'" else ""}
        |GROUP BY 1, 2""".stripMargin

  /** DuckDB mirror of [[budgetCurveOverWeights]]: the shared weights
    * SQL once, one explicit rank-⌈(1−f)·n⌉ threshold CTE + one
    * conditional aggregate per fraction (the d_dsir_threshold
    * exact-rank contract, swept), unioned per fraction. */
  private[ops] def budgetCurveSql(weightsSql: String, weightCol: String,
                                  fractions: Seq[Double],
                                  meanAlias: String): String =
    s"""WITH w AS (SELECT doc_id, source, $weightCol FROM ($weightsSql)),
       |r AS (SELECT $weightCol,
       |    row_number() OVER (ORDER BY $weightCol ASC) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM w),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM w),
       |${fractions.zipWithIndex.map { case (f, i) =>
           s"""t$i AS (SELECT $weightCol AS tau FROM r
              |  WHERE rn = CAST(ceil(${1.0 - f} * n) AS BIGINT)),
              |s$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
              |    CAST(SUM(CAST(round($weightCol * 10000) AS BIGINT)) AS BIGINT) AS ws
              |  FROM w, t$i WHERE w.$weightCol >= t$i.tau)""".stripMargin }
           .mkString(",\n")}
       |""".stripMargin +
      fractions.zipWithIndex.map { case (f, i) =>
        s"""SELECT CAST($f AS DOUBLE) AS budget_frac, t$i.tau + 0.0 AS tau,
           |  s$i.k AS n_selected, nd.n_docs,
           |  (CASE WHEN nd.n_docs = 0 THEN 0.0 ELSE
           |    CAST((20000 * s$i.k + nd.n_docs) // (2 * nd.n_docs) AS DOUBLE) / 10000.0 END)
           |    + 0.0 AS sel_frac,
           |  (CASE WHEN s$i.k = 0 THEN 0.0 ELSE
           |    CAST(CASE WHEN s$i.ws < 0 THEN -1 ELSE 1 END AS DOUBLE)
           |      * CAST((200 * abs(s$i.ws) + s$i.k) // (2 * s$i.k) AS DOUBLE)
           |      / 1000000.0 END) + 0.0 AS $meanAlias
           |FROM t$i, s$i, nd""".stripMargin }.mkString("\nUNION ALL\n")

  val oracles: Map[String, String] = {
    val cases = MixRates.toSeq.sortBy(_._1)
      .map { case (src, r) => s"WHEN '$src' THEN '${thresholdHex(r)}'" }
      .mkString(" ")
    // One waterfill CTE chain (level-ordered lagged prefix sums →
    // exact-integer feasibility → running-AND capped flag → half-away
    // uncapped quotient), parametrized on (prefix, input CTE, budget)
    // so the two d_mix_anneal phases replay waterfillAlloc verbatim.
    // The input CTE must carry (source, weight, capacity_tokens,
    // level); every SUM OVER is cast back to BIGINT (DuckDB widens to
    // HUGEINT).
    def wfCtes(p: String, in: String, b: Long): String =
      s"""${p}o AS (SELECT *,
         |    CAST(COALESCE(SUM(capacity_tokens) OVER (ORDER BY level, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c_lag,
         |    CAST(COALESCE(SUM(weight) OVER (ORDER BY level, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS w_lag,
         |    CAST(SUM(weight) OVER () AS BIGINT) AS w_tot
         |  FROM $in),
         |${p}f AS (SELECT *, CASE WHEN weight * ($b - c_lag) >=
         |      capacity_tokens * (w_tot - w_lag) THEN 1 ELSE 0 END AS feasible FROM ${p}o),
         |${p}p AS (SELECT *, CAST(MIN(feasible) OVER (ORDER BY level, source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS capped FROM ${p}f),
         |${p}k AS (SELECT *,
         |    CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN capacity_tokens END) OVER (), 0) AS BIGINT) AS c_k,
         |    CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN weight END) OVER (), 0) AS BIGINT) AS w_k
         |  FROM ${p}p),
         |${p}a AS (SELECT * EXCLUDE (level, c_lag, w_lag, feasible, c_k, w_k),
         |    CASE WHEN capped = 1 THEN capacity_tokens
         |    ELSE (2 * weight * ($b - c_k) + (w_tot - w_k)) //
         |         (2 * GREATEST(w_tot - w_k, 1)) END AS alloc_tokens FROM ${p}k)""".stripMargin
    val enList = graft.ops.TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    // Shared quality/boost base of the two anneal mirrors (the Spark
    // side's annealRanked single-sourcing, replayed once here): token
    // CTE + t_quality 'high' conditions + integer weight CASE +
    // top-quartile boost rank, ending at `base` (with level) — so the
    // two keys' quality definitions can never drift apart.
    val annealBaseCtes: String =
      raw"""WITH toks AS (SELECT doc_id, source,
         |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
         |  FROM documents),
         |m AS (SELECT source, len(list_filter(toks, t -> t != '')) AS t,
         |    len(list_filter(toks, t -> t IN ($enList))) AS st
         |  FROM toks),
         |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(t) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN t >= 50 AND st > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
         |  FROM m GROUP BY 1),
         |w AS (SELECT source, n_docs, n_tokens, n_high,
         |    CAST(CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 8 WHEN 'src2' THEN 4
         |                WHEN 'src3' THEN 2 ELSE 1 END AS BIGINT) AS weight,
         |    n_tokens * 4 AS capacity_tokens
         |  FROM agg),
         |r AS (SELECT *,
         |    ROW_NUMBER() OVER (ORDER BY CAST(n_high AS DOUBLE) / n_docs DESC, source) AS q_rank,
         |    COUNT(*) OVER () AS n_src
         |  FROM w),
         |base AS (SELECT source, n_docs, n_tokens, n_high,
         |    CASE WHEN q_rank * 4 <= n_src + 3 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS annealed,
         |    weight, capacity_tokens,
         |    CAST(capacity_tokens AS DOUBLE) / weight AS level
         |  FROM r)""".stripMargin
    val dsirSql = nbLogOddsSql("src19", excludeTarget = true, "dsir_weight")
    Map(
      // Rate = ROUND(1/n_copies, 6) from the dup-class window count,
      // realized as the shared integer-hex md5 threshold (the
      // d_sample_temperature conversion — exact power-of-two scale).
      "d_soft_sample" ->
        raw"""WITH h AS (SELECT doc_id, source,
          |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash
          |  FROM documents),
          |n AS (SELECT doc_id, source,
          |    CAST(COUNT(*) OVER (PARTITION BY norm_hash) AS BIGINT) AS n_copies
          |  FROM h),
          |t AS (SELECT doc_id, source, n_copies,
          |    printf('%015x', LEAST(CAST(FLOOR(ROUND(CAST(1.0 AS DOUBLE) / n_copies, 6)
          |      * 1152921504606846976.0) AS BIGINT), 1152921504606846975)) AS th
          |  FROM n)
          |SELECT doc_id, source, n_copies FROM t
          |WHERE substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15) < th""".stripMargin,
      "d_dsir_weights" -> dsirSql,
      // ROUND(,4) weights make equal-weight ties real on both engines;
      // doc_id breaks them — a total order, so the top-100 SET is
      // engine-independent.
      "d_dsir_select" ->
        s"""SELECT doc_id, source, n_feats, dsir_weight FROM ($dsirSql)
           |ORDER BY dsir_weight DESC, doc_id LIMIT 100""".stripMargin,
      // τ by EXPLICIT rank ⌈q·N⌉ over the ascending weights — the GK
      // sketch's exact regime (N < accuracy retains every sample), so
      // this reproduces percentile_approx at gate scale; ties at τ all
      // selected on both engines (the set is { weight ≥ τ }).
      "d_dsir_threshold" ->
        s"""WITH w AS (SELECT doc_id, source, dsir_weight FROM ($dsirSql)),
           |r AS (SELECT dsir_weight,
           |    row_number() OVER (ORDER BY dsir_weight ASC) AS rn,
           |    COUNT(*) OVER () AS n
           |  FROM w),
           |t AS (SELECT dsir_weight AS tau FROM r
           |  WHERE rn = CAST(ceil(0.8 * n) AS BIGINT))
           |SELECT w.doc_id, w.source, w.dsir_weight, t.tau + 0.0 AS tau
           |FROM w, t WHERE w.dsir_weight >= t.tau""".stripMargin,
      // dsirCurveOverFeats mirror via the shared generator ([[budgetCurveSql]]).
      "d_dsir_curve" ->
        budgetCurveSql(dsirSql, "dsir_weight", Seq(0.05, 0.1, 0.2, 0.5),
          "mean_weight"),
      // The two split cuts are the same integer-hex thresholds the
      // sampling keys use (exact power-of-two scale — nothing float to
      // diverge on); the CASE mirrors splitAssign's default 90/5/5.
      "d_split_assign" ->
        s"""SELECT doc_id, source,
           |  CASE WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15)
           |         < '${thresholdHex(0.90)}' THEN 'train'
           |       WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15)
           |         < '${thresholdHex(0.95)}' THEN 'valid'
           |       ELSE 'test' END AS split
           |FROM documents""".stripMargin,
      // Semantic split-leakage: the shared Lloyd fit's nAssign=2 canopy
      // frame (can) split by the d_split_assign CASE; holdout × train
      // pairs within a shared canopy, MAX rounded cosine per holdout
      // vector (multi-canopy dup pairs idempotent under MAX), the
      // candidate-less holdout counted unleaked via the left join.
      "d_split_semantic" ->
        s"""WITH ${Similarity.ivfFitCte},
           |spl AS (SELECT doc_id,
           |  CASE WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15)
           |         < '${thresholdHex(0.90)}' THEN 'train'
           |       WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15)
           |         < '${thresholdHex(0.95)}' THEN 'valid'
           |       ELSE 'test' END AS split
           |  FROM documents),
           |ce AS (SELECT can.vec_id, can.canopy, can.embedding, spl.split
           |  FROM can JOIN spl ON spl.doc_id = can.vec_id),
           |prs AS (SELECT a.vec_id, a.split,
           |    ROUND(${Similarity.cosSql("a.embedding", "b.embedding")}, 4) + 0.0 AS cos
           |  FROM ce a JOIN ce b ON a.canopy = b.canopy AND a.vec_id != b.vec_id
           |  WHERE a.split != 'train' AND b.split = 'train'),
           |bst AS (SELECT vec_id, split, MAX(cos) AS max_cos FROM prs GROUP BY 1, 2),
           |hld AS (SELECT DISTINCT vec_id, split FROM ce WHERE split != 'train'),
           |pd AS (SELECT hld.vec_id, hld.split, bst.max_cos
           |  FROM hld LEFT JOIN bst USING (vec_id, split))
           |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_holdout,
           |  CAST(SUM(CASE WHEN max_cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
           |  CAST((20000 * SUM(CASE WHEN max_cos >= 0.9 THEN 1 ELSE 0 END)
           |        + GREATEST(COUNT(*), 1)) // (2 * GREATEST(COUNT(*), 1)) AS DOUBLE)
           |    / 10000.0 AS leak_rate,
           |  ROUND(MAX(COALESCE(max_cos, 0.0)), 4) + 0.0 AS top_cos
           |FROM pd GROUP BY 1""".stripMargin,
      // Content-keyed split: the same two hex cuts over the md5 of the
      // NORMALIZED TEXT (the exact-dedup key) — copies co-assign.
      "d_split_content" ->
        raw"""SELECT doc_id, source,
           |  CASE WHEN substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 15)
           |         < '${thresholdHex(0.90)}' THEN 'train'
           |       WHEN substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 15)
           |         < '${thresholdHex(0.95)}' THEN 'valid'
           |       ELSE 'test' END AS split
           |FROM documents""".stripMargin,
      // Same span CTEs as the t-family scrub keys (k=8), identity split
      // CASE as d_split_assign; n_leaked counts holdout span POSITIONS
      // whose span occurs in the DISTINCT train span set (fan-out 1 by
      // construction), dup flag via the normalized-md5 membership.
      "d_split_leakage" ->
        raw"""WITH toks AS (
           |  SELECT doc_id, source,
           |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           |  FROM documents),
           |sp AS (
           |  SELECT doc_id, source, t,
           |    CAST(ceil(len(t) / 8.0) AS INTEGER) AS n_spans,
           |    unnest(range(CAST(ceil(len(t) / 8.0) AS BIGINT))) AS span_idx
           |  FROM toks),
           |spans AS (
           |  SELECT doc_id, source, n_spans, span_idx,
           |    array_to_string(t[(span_idx*8+1):(span_idx*8+8)], ' ') AS span
           |  FROM sp),
           |spl AS (
           |  SELECT doc_id,
           |    CASE WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15)
           |           < '${thresholdHex(0.90)}' THEN 'train'
           |         WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15)
           |           < '${thresholdHex(0.95)}' THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM documents),
           |tr AS (SELECT DISTINCT span FROM spans JOIN spl USING (doc_id)
           |       WHERE split = 'train'),
           |leak AS (
           |  SELECT s.doc_id, s.source, spl.split, MAX(s.n_spans) AS n_spans,
           |    CAST(SUM(CASE WHEN tr.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
           |  FROM spans s JOIN spl USING (doc_id) LEFT JOIN tr ON s.span = tr.span
           |  WHERE spl.split <> 'train' GROUP BY 1, 2, 3),
           |h AS (SELECT doc_id,
           |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS nh
           |  FROM documents),
           |trh AS (SELECT DISTINCT nh FROM h JOIN spl USING (doc_id)
           |        WHERE split = 'train')
           |SELECT l.doc_id, l.source, l.split, l.n_spans, l.n_leaked,
           |  ROUND(l.n_leaked * 1.0 / l.n_spans, 4) AS leak_ratio,
           |  CASE WHEN trh.nh IS NOT NULL THEN 1 ELSE 0 END AS dup_in_train
           |FROM leak l JOIN h ON l.doc_id = h.doc_id
           |LEFT JOIN trh ON h.nh = trh.nh""".stripMargin,
      // Integer weight parts (exact Σ), target = ROUND(budget·w/Σw)
      // with one double division; epochs ROUND(,4); the 4-epoch cap and
      // deficit are integer arithmetic on the rounded targets.
      "d_epoch_plan" ->
        raw"""WITH toks AS (SELECT doc_id, source,
           |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           |  FROM documents),
           |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(len(list_filter(toks, t -> t != ''))) AS BIGINT) AS n_tokens
           |  FROM toks GROUP BY 1),
           |w AS (SELECT source, n_docs, n_tokens,
           |    CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 8 WHEN 'src2' THEN 4
           |                WHEN 'src3' THEN 2 ELSE 1 END AS weight
           |  FROM agg),
           |t AS (SELECT *, CAST(SUM(weight) OVER () AS BIGINT) AS wsum FROM w),
           |p AS (SELECT source, n_docs, n_tokens, weight,
           |    CAST(ROUND(100000.0 * weight / wsum, 0) AS BIGINT) AS target_tokens
           |  FROM t),
           |e AS (SELECT *,
           |    ROUND(target_tokens * 1.0 / greatest(n_tokens, 1), 4) AS epochs_needed
           |  FROM p)
           |SELECT source, n_docs, n_tokens, weight, target_tokens, epochs_needed,
           |  LEAST(epochs_needed, 4.0) AS epochs_eff,
           |  GREATEST(target_tokens - CAST(ROUND(n_tokens * 4.0, 0) AS BIGINT),
           |           CAST(0 AS BIGINT)) AS deficit_tokens
           |FROM e""".stripMargin,
      // mixWaterfill mirror: same token CTE + integer weight CASE, then
      // the greedy-by-level waterfill as lagged prefix sums + the
      // running-AND capped flag + the exact-integer half-away quotients
      // — every decision integer, every SUM OVER cast back to BIGINT
      // (DuckDB widens to HUGEINT).
      "d_mix_waterfill" ->
        (raw"""WITH toks AS (SELECT doc_id, source,
           |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           |  FROM documents),
           |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(len(list_filter(toks, t -> t != ''))) AS BIGINT) AS n_tokens
           |  FROM toks GROUP BY 1),
           |w AS (SELECT source, n_docs, n_tokens,
           |    CAST(CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 8 WHEN 'src2' THEN 4
           |                WHEN 'src3' THEN 2 ELSE 1 END AS BIGINT) AS weight
           |  FROM agg),
           |cap AS (SELECT *, n_tokens * 4 AS capacity_tokens,
           |    CAST(n_tokens * 4 AS DOUBLE) / weight AS level FROM w),
           |""".stripMargin + wfCtes("", "cap", 100000L) + raw"""
           |SELECT source, n_docs, n_tokens, weight, capacity_tokens, capped,
           |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           |  CAST((20000 * alloc_tokens + 100000) // 200000 AS DOUBLE) / 10000.0 AS realized_share,
           |  CAST((20000 * alloc_tokens + GREATEST(n_tokens, 1)) //
           |       (2 * GREATEST(n_tokens, 1)) AS DOUBLE) / 10000.0 AS realized_epochs,
           |  CAST(GREATEST(100000 - CAST(SUM(alloc_tokens) OVER () AS BIGINT), 0) AS BIGINT) AS unserved_tokens
           |FROM a""".stripMargin),
      // mixAnneal mirror: quality aggregate (t_quality's exact integer
      // 'high' conditions) → integer top-quartile boost rank → TWO
      // wfCtes waterfill replays (main at 3/4 budget, anneal at 1/4
      // against the capacity left), unioned with per-phase half-away
      // shares.
      "d_mix_anneal" ->
        (annealBaseCtes + ",\n" + wfCtes("m1", "base", 75000L) + raw""",
           |w2 AS (SELECT source, n_docs, n_tokens, n_high, annealed,
           |    CASE WHEN annealed = 1 THEN weight * 4 ELSE weight END AS weight,
           |    capacity_tokens - alloc_tokens AS capacity_tokens
           |  FROM m1a),
           |base2 AS (SELECT *, CAST(capacity_tokens AS DOUBLE) / weight AS level FROM w2),
           |""" + wfCtes("m2", "base2", 25000L) + raw"""
           |SELECT 'main' AS phase, source, n_docs, n_tokens, n_high, annealed,
           |  weight, capacity_tokens, capped, CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           |  CAST((20000 * alloc_tokens + 75000) // 150000 AS DOUBLE) / 10000.0 AS realized_share
           |FROM m1a
           |UNION ALL
           |SELECT 'anneal' AS phase, source, n_docs, n_tokens, n_high, annealed,
           |  weight, capacity_tokens, capped, CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           |  CAST((20000 * alloc_tokens + 25000) // 50000 AS DOUBLE) / 10000.0 AS realized_share
           |FROM m2a""").stripMargin,
      // annealCurve mirror: ONE shared quality/boost base (the
      // d_mix_anneal head), then per β-eighths arm a prefixed pair of
      // wfCtes waterfill replays (main at B−B·k/8, anneal at B·k/8
      // against the capacity left) collapsed to the arm's allocation
      // sums + half-away quality share.
      "d_anneal_curve" -> {
        val head = annealBaseCtes
        val arms = Seq(0, 1, 2, 4).map { k =>
          val b2 = 100000L * k / 8
          val b1 = 100000L - b2
          val ctes = wfCtes(s"c${k}x", "base", b1) + ",\n" +
            raw"""c${k}w2 AS (SELECT source, n_docs, n_tokens, n_high, annealed,
               |    CASE WHEN annealed = 1 THEN weight * 4 ELSE weight END AS weight,
               |    capacity_tokens - alloc_tokens AS capacity_tokens
               |  FROM c${k}xa),
               |c${k}b2 AS (SELECT *, CAST(capacity_tokens AS DOUBLE) / weight AS level FROM c${k}w2),
               |""".stripMargin + wfCtes(s"c${k}y", s"c${k}b2", b2) + ",\n" +
            raw"""c${k}u AS (SELECT annealed, alloc_tokens FROM c${k}xa
               |  UNION ALL SELECT annealed, alloc_tokens FROM c${k}ya),
               |c${k}s AS (SELECT CAST(SUM(alloc_tokens) AS BIGINT) AS at,
               |    CAST(COALESCE(SUM(CASE WHEN annealed = 1 THEN alloc_tokens END), 0) AS BIGINT) AS ah
               |  FROM c${k}u)""".stripMargin
          val sel =
            raw"""SELECT CAST($k AS BIGINT) AS anneal_eighths, CAST($b1 AS BIGINT) AS budget_main,
               |  CAST($b2 AS BIGINT) AS budget_anneal, ah AS alloc_high_tokens, at AS alloc_tokens,
               |  CAST((20000 * ah + GREATEST(at, 1)) // (2 * GREATEST(at, 1)) AS DOUBLE) / 10000.0 AS share_high,
               |  CAST(GREATEST(100000 - at, 0) AS BIGINT) AS unserved_tokens FROM c${k}s""".stripMargin
          (ctes, sel)
        }
        head + ",\n" + arms.map(_._1).mkString(",\n") + "\n" +
          arms.map(_._2).mkString("\nUNION ALL\n")
      },
      "d_sample_mix" ->
        s"""SELECT doc_id, source FROM documents
           |WHERE substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15) <
           |  CASE source $cases ELSE '${thresholdHex(MixDefault)}' END""".stripMargin,
      "d_sample_temperature" ->
        """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
          |w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
          |sw AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS sw FROM w),
          |r AS (SELECT source, LEAST(1.0, ROUND(150.0 * w / sw / n, 6)) AS rate FROM w, sw),
          |t AS (SELECT source,
          |    printf('%015x', LEAST(CAST(FLOOR(rate * 1152921504606846976.0) AS BIGINT),
          |                          1152921504606846975)) AS th
          |  FROM r)
          |SELECT d.doc_id, d.source FROM documents d JOIN t USING (source)
          |WHERE substr(md5(concat(d.source, ':', CAST(d.doc_id AS VARCHAR))), 1, 15) < t.th""".stripMargin,
      // temperatureCurve mirror: the same quarter-power weight panel
      // (repeated IEEE sqrt — bit-exact cross-engine), the same
      // DECIMAL Σw / ROUND(,6) rate / integer-hex threshold chain per
      // α, membership counted per (α, source) off one joined scan.
      "d_temp_curve" -> {
        val panel = Seq(
          ("a000", "0.0", "1.0"),
          ("a025", "0.25", "sqrt(sqrt(CAST(n AS DOUBLE)))"),
          ("a050", "0.5", "sqrt(CAST(n AS DOUBLE))"),
          ("a075", "0.75", "sqrt(CAST(n AS DOUBLE)) * sqrt(sqrt(CAST(n AS DOUBLE)))"),
          ("a100", "1.0", "CAST(n AS DOUBLE)"))
        s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
           |w AS (SELECT source, n,
           |    ${panel.map { case (tg, _, e) => s"$e AS w_$tg" }.mkString(",\n    ")}
           |  FROM c),
           |sw AS (SELECT
           |    ${panel.map { case (tg, _, _) =>
                  s"CAST(SUM(CAST(w_$tg AS DECIMAL(28,10))) AS DOUBLE) AS sw_$tg" }
                  .mkString(",\n    ")}
           |  FROM w),
           |r AS (SELECT source, n,
           |    ${panel.map { case (tg, _, _) =>
                  s"LEAST(1.0, ROUND(150.0 * w_$tg / sw_$tg / n, 6)) AS rate_$tg" }
                  .mkString(",\n    ")}
           |  FROM w, sw),
           |t AS (SELECT source, ${panel.map { case (tg, _, _) => s"rate_$tg" }.mkString(", ")},
           |    ${panel.map { case (tg, _, _) =>
                  s"printf('%015x', LEAST(CAST(FLOOR(rate_$tg * 1152921504606846976.0) AS BIGINT), 1152921504606846975)) AS th_$tg" }
                  .mkString(",\n    ")}
           |  FROM r),
           |k AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    ${panel.map { case (tg, _, _) =>
                  s"CAST(SUM(CASE WHEN substr(md5(concat(d.source, ':', CAST(d.doc_id AS VARCHAR))), 1, 15) < t.th_$tg THEN 1 ELSE 0 END) AS BIGINT) AS k_$tg" }
                  .mkString(",\n    ")}
           |  FROM documents d JOIN t USING (source) GROUP BY 1),
           |kr AS (SELECT k.*, ${panel.map { case (tg, _, _) => s"t.rate_$tg" }.mkString(", ")}
           |  FROM k JOIN t USING (source))
           |""".stripMargin +
          panel.map { case (tg, a, _) =>
            s"""SELECT CAST($a AS DOUBLE) AS alpha, source, n_docs, k_$tg AS n_kept,
               |  rate_$tg AS rate,
               |  (CASE WHEN n_docs = 0 THEN 0.0 ELSE
               |    CAST((20000 * k_$tg + n_docs) // (2 * n_docs) AS DOUBLE) / 10000.0 END)
               |    + 0.0 AS kept_frac
               |FROM kr""".stripMargin }.mkString("\nUNION ALL\n")
      },
      "d_sample_tokens" ->
        """WITH toks AS (SELECT doc_id, source,
          |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
          |  FROM documents),
          |tl AS (SELECT source,
          |    CAST(SUM(len(list_filter(toks, t -> t != ''))) AS BIGINT) AS n_toks
          |  FROM toks GROUP BY 1),
          |r AS (SELECT source, LEAST(1.0, ROUND(500.0 / greatest(n_toks, 1), 6)) AS rate FROM tl),
          |t AS (SELECT source,
          |    printf('%015x', LEAST(CAST(FLOOR(rate * 1152921504606846976.0) AS BIGINT),
          |                          1152921504606846975)) AS th
          |  FROM r)
          |SELECT d.doc_id, d.source FROM documents d JOIN t USING (source)
          |WHERE substr(md5(concat(d.source, ':', CAST(d.doc_id AS VARCHAR))), 1, 15) < t.th""".stripMargin,
      "d_stratified_sample" ->
        """SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank FROM (
          |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
          |    ORDER BY substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15),
          |             doc_id) AS sample_rank
          |  FROM documents)
          |WHERE sample_rank <= 10""".stripMargin,
      // Mirror of corpusShuffle: same md5 coordinate split into the
      // shard nibble and the 56-bit order key; rank is total (doc_id
      // tie-break), so the (shard, pos) assignment is engine-exact.
      "d_corpus_shuffle" ->
        """WITH h AS (SELECT doc_id, source,
          |    md5(concat(source, ':', CAST(doc_id AS VARCHAR))) AS hh
          |  FROM documents)
          |SELECT doc_id, source, substr(hh, 1, 1) AS shard,
          |  CAST(row_number() OVER (PARTITION BY substr(hh, 1, 1)
          |    ORDER BY substr(hh, 2, 14), doc_id) AS BIGINT) AS pos
          |FROM h""".stripMargin,
      // mixReportFromCards mirror: the same hex-threshold membership counted
      // per source, the same numeric target CASE, nested ROUND parity.
      "d_mix_report" -> {
        val targetCases = MixRates.toSeq.sortBy(_._1)
          .map { case (src, r) => s"WHEN '$src' THEN $r" }.mkString(" ")
        s"""WITH mr AS (SELECT source,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(CASE WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 15) <
           |      CASE source $cases ELSE '${thresholdHex(MixDefault)}' END
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |  FROM documents GROUP BY 1)
           |SELECT source, n_docs, n_kept,
           |  ROUND(CAST(n_kept AS DOUBLE) / n_docs, 4) AS kept_frac,
           |  CAST(CASE source $targetCases ELSE $MixDefault END AS DOUBLE) + 0.0 AS target_rate,
           |  ROUND(ABS(ROUND(CAST(n_kept AS DOUBLE) / n_docs, 4)
           |        - CAST(CASE source $targetCases ELSE $MixDefault END AS DOUBLE)), 4) + 0.0 AS abs_dev
           |FROM mr""".stripMargin
      },
      // shardAssign mirror: the same md5(shard|key) strings ranked
      // (score, shard) — HRW argmin as an explicit rank.
      "d_shard_assign" -> {
        val shardVals = (0 until 8).map(i => s"('shard$i')").mkString(", ")
        s"""WITH sha AS (SELECT doc_id, source,
           |    concat(COALESCE(source, ''), ':', CAST(doc_id AS VARCHAR)) AS k
           |  FROM documents),
           |she AS (SELECT doc_id, source, s.shard,
           |    md5(concat(s.shard, '|', k)) AS score
           |  FROM sha, (VALUES $shardVals) AS s(shard)),
           |shr AS (SELECT doc_id, source, shard,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY score, shard) AS rn
           |  FROM she)
           |SELECT doc_id, source, shard FROM shr WHERE rn = 1""".stripMargin
      },
      // A-ES mirror: FNV-1a replayed with the MinHash family's HUGEINT
      // list_reduce over the key's true UTF-8 BYTES (hex-pair accessor —
      // ord() would yield codepoints and diverge from Spark's byte hash
      // on any non-ASCII source name; ADVICE r9), u from the low 53
      // bits, ln-score compared as DECIMAL(28,10) (sub-1e-10 libm
      // differences cannot reorder), doc_id tie-break, ONE final
      // ROUND(,4).
      "d_weighted_sample" ->
        raw"""WITH dws AS (SELECT doc_id, source,
           |    GREATEST(COALESCE(n_chars, 0), 1) AS w,
           |    concat(COALESCE(source, ''), ':', CAST(doc_id AS VARCHAR)) AS key
           |  FROM documents),
           |fws AS (SELECT doc_id, source, w, list_reduce(
           |    list_prepend(14695981039346656037::HUGEINT,
           |      list_transform(generate_series(1, octet_length(encode(key))),
           |        i -> CAST(concat('0x', substr(hex(encode(key)), 2*i-1, 2)) AS INT)::HUGEINT)),
           |    (h, b) -> ((xor((h % 256)::BIGINT, b::BIGINT)::HUGEINT + h - (h % 256))
           |               * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hv
           |  FROM dws),
           |sws AS (SELECT doc_id, source, CAST(w AS BIGINT) AS w,
           |    CAST(ln((CAST(hv % 9007199254740992::HUGEINT AS DOUBLE) + 1.0)
           |            / 9007199254740993.0) / CAST(w AS DOUBLE) AS DECIMAL(28,10)) AS sc
           |  FROM fws)
           |SELECT doc_id, source, w, ROUND(CAST(sc AS DOUBLE), 4) + 0.0 AS score
           |FROM sws ORDER BY sc DESC, doc_id ASC LIMIT 200""".stripMargin)
  }
}
