package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2.3):
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything here is one projection per document — no UDFs, no shuffle
  * except the final aggregate where one exists. Token/stopword counting
  * goes through the codegen `graft_stopword_profile` kernel (ONE
  * tokenization + hash-set pass per row); the equivalent per-language
  * `filter` higher-order functions are CodegenFallback and pay an
  * interpreted closure per token per language — the same ~100× class of
  * overhead the dedup kernels eliminated (SCALING.md). At 100 TB these
  * run at scan speed.
  */
object TextAnalysis {

  /** Tiny per-language stopword sets for the n-gram/stopword heuristic.
    * Overlaps (e.g. fr/es "que") are fine — they count for both and the
    * argmax with a fixed tie order decides. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que"),
    "es" -> Seq("el", "los", "las", "y", "es", "por", "una", "que"),
    // r13: three more public function-word sets (the most frequent
    // closed-class words of each language — the standard stopword
    // seed); overlaps with the first four lists (pt/nl "de", pt "a",
    // it/pt "e") are handled by the same argmax + tie-order rule
    "it" -> Seq("il", "la", "che", "di", "e", "un", "per", "non"),
    "pt" -> Seq("o", "de", "que", "e", "do", "da", "em", "um"),
    "nl" -> Seq("de", "het", "een", "en", "van", "ik", "niet", "dat"),
    // r14: space-free scripts. After the codepoint-class segmentation
    // fallback (TextKernels.segmentCjk) every CJK letter is its own
    // token, so the "function words" are the highest-frequency single
    // CHARACTERS of each language: zh structural particles/pronouns,
    // ja hiragana particles, ko hangul particle syllables — all public
    // frequency-list heads. The three scripts barely overlap (hiragana
    // is uniquely ja, hangul uniquely ko; only Han is shared), so the
    // same argmax + tie-order rule separates them.
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "人"),
    "ja" -> Seq("の", "に", "は", "を", "が", "で", "て", "た"),
    "ko" -> Seq("이", "가", "은", "는", "을", "를", "의", "에"),
    // r15: the next corpus fraction past CJK — Cyrillic, Arabic,
    // Devanagari (space-SEPARATED scripts, so the standard tokenizer
    // applies; no segmentation fallback needed). Again the public
    // frequency-list heads of each language's closed class; zero
    // overlap with the Latin/CJK lists (disjoint scripts), so the
    // argmax + tie-order rule is unambiguous on clean text.
    "ru" -> Seq("и", "в", "не", "на", "я", "что", "он", "с"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن", "هذا", "لا"),
    "hi" -> Seq("के", "का", "की", "है", "में", "से", "और", "को"))

  /** Fixed language order: profile index i+1 = hits for langOrder(i);
    * also the langId tie order (earlier wins). */
  val langOrder: Seq[String] =
    Seq("en", "de", "fr", "es", "it", "pt", "nl", "zh", "ja", "ko",
      "ru", "ar", "hi")

  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  /** `[n_tokens, en_hits, de_hits, fr_hits, es_hits]` in one codegen pass. */
  private def profile: Column =
    GraftFunctions.stopwordProfile(col("text"), typedlit(langOrder.map(stopwords)))

  /** The argmax-with-tie-order prediction over the hits columns,
    * GENERATED from [[langOrder]] (lang i wins iff its hits are > 0 and
    * ≥ every LATER lang's — an earlier lang that tied already won), so
    * adding a stopword list can never desynchronize the Spark CASE
    * from its SQL mirror ([[langIdCaseSql]] generates from the same
    * order). */
  private def langPredCol: Column =
    langOrder.zipWithIndex.foldRight(lit("unknown")) { case ((l, i), acc) =>
      val wins = langOrder.drop(i + 1)
        .foldLeft(col(s"${l}_hits") > 0) { (c, m) =>
          c && col(s"${l}_hits") >= col(s"${m}_hits")
        }
      when(wins, l).otherwise(acc)
    }

  /** Stopword-heuristic language ID per document. Deterministic argmax
    * with the [[langOrder]] tie order; all-zero → 'unknown'. */
  def langId(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), profile.as("p"))
      .select(col("doc_id") +: langOrder.zipWithIndex.map { case (l, i) =>
        col("p").getItem(i + 1).as(s"${l}_hits")
      }: _*)
      .withColumn("lang_pred", langPredCol)

  /** Script-class language arm for space-free text (r14): per-document
    * counts of Han / kana / hangul codepoints (the
    * `TextKernels.segmentCjk` classes, counted by `regexp_count` — both
    * engines count BMP codepoints identically), then a fixed rule:
    * kana present → ja (kana is uniquely Japanese — Chinese text never
    * carries it), else hangul → ko, else Han → zh, else fall back to
    * the stopword argmax ([[langPredCol]]). This is the arm that stays
    * right when a CJK document happens to contain NONE of the seeded
    * function characters (short titles, names, numeric tables) — the
    * stopword heuristic reads all-zero there and would say 'unknown'.
    * One projection, zero shuffles, all codegen.
    *
    * r15: three more script classes with the same short-title rationale
    * — Cyrillic → ru, Arabic → ar, Devanagari → hi (the script→language
    * reads are the same corpus-dominant-language approximation as
    * Han → zh: a Bulgarian or Urdu corpus re-points them). The CJK
    * rules fire first (fixed order); basic blocks only (Cyrillic
    * Supplement, Arabic presentation forms, Vedic extensions excluded —
    * documented scope, both engines in lockstep). */
  def langIdScript(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), profile.as("p"),
        regexp_count(col("text"), lit(raw"[\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}]")).cast("long").as("n_han"),
        regexp_count(col("text"), lit(raw"[\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{ff66}-\x{ff9d}]")).cast("long").as("n_kana"),
        regexp_count(col("text"), lit(raw"[\x{ac00}-\x{d7af}]")).cast("long").as("n_hangul"),
        regexp_count(col("text"), lit(raw"[\x{0400}-\x{04ff}]")).cast("long").as("n_cyrillic"),
        regexp_count(col("text"), lit(raw"[\x{0600}-\x{06ff}]")).cast("long").as("n_arabic"),
        regexp_count(col("text"), lit(raw"[\x{0900}-\x{097f}]")).cast("long").as("n_devanagari"))
      .select(Seq(col("doc_id"), col("n_han"), col("n_kana"), col("n_hangul"),
        col("n_cyrillic"), col("n_arabic"), col("n_devanagari")) ++
        langOrder.zipWithIndex.map { case (l, i) =>
          col("p").getItem(i + 1).as(s"${l}_hits")
        }: _*)
      .withColumn("lang_pred",
        when(col("n_kana") > 0, "ja")
          .when(col("n_hangul") > 0, "ko")
          .when(col("n_han") > 0, "zh")
          .when(col("n_cyrillic") > 0, "ru")
          .when(col("n_arabic") > 0, "ar")
          .when(col("n_devanagari") > 0, "hi")
          .otherwise(langPredCol))
      .select(col("doc_id"), col("n_han"), col("n_kana"), col("n_hangul"),
        col("n_cyrillic"), col("n_arabic"), col("n_devanagari"),
        col("lang_pred"))

  /** Quality scoring: length, punctuation ratio, stopword ratio, upper
    * ratio → a coarse high/medium/low bucket. Ratios are single integer
    * divisions (deterministic across engines), rounded to 4. */
  def quality(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"), profile.as("p"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        // profile(0) counts only real (non-empty) tokens
        col("p").getItem(0).as("n_tokens"),
        regexp_count(col("text"), lit("[.,;:!?]")).as("n_punct"),
        regexp_count(col("text"), lit("[A-Z]")).as("n_upper"),
        col("p").getItem(1).as("n_stop"))
      .withColumn("punct_ratio",
        round(col("n_punct") / greatest(col("n_chars"), lit(1)), 4))
      .withColumn("upper_ratio",
        round(col("n_upper") / greatest(col("n_chars"), lit(1)), 4))
      .withColumn("stopword_ratio",
        round(col("n_stop") / greatest(col("n_tokens"), lit(1)), 4))
      .withColumn("quality_bucket",
        when(col("n_tokens") >= 50 && col("n_stop") > 0, "high")
          .when(col("n_tokens") >= 20, "medium")
          .otherwise("low"))

  /** Per-LANGUAGE quality variant (r13) — [[quality]] scores stopword
    * mass against the ENGLISH list only, so a clean French/Portuguese
    * document reads stopword_ratio ≈ 0 and can reach `high` only by
    * accident; a multilingual corpus filtered that way silently drops
    * its non-English half (the classic C4-era failure). Here the
    * stopword signal is the WINNING language's hits — `greatest` over
    * the per-list hit counts, which equals the [[langId]] argmax's own
    * hits — so "has real function words" is judged in the document's
    * own language; `lang_pred` rides along so downstream mixture
    * planning can stratify. Same single codegen profile pass as
    * [[quality]] (every list rides the one kernel call — adding
    * languages costs zero extra scans), same bucket thresholds. */
  def qualityByLang(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), profile.as("p"))
      .select(col("doc_id") +: col("p").getItem(0).as("n_tokens") +:
        langOrder.zipWithIndex.map { case (l, i) =>
          col("p").getItem(i + 1).as(s"${l}_hits")
        }: _*)
      .withColumn("lang_pred", langPredCol)
      .withColumn("n_stop_lang",
        greatest(langOrder.map(l => col(s"${l}_hits")): _*))
      // exact-integer half-away, not ROUND(dbl,4): a count/count
      // quotient whose exact decimal ends in …5 at the 5th place can
      // round apart between engines (the CLAUDE.md ROUND tie hazard)
      .withColumn("stopword_ratio",
        expr("CAST((20000 * n_stop_lang + GREATEST(n_tokens, 1)) DIV " +
          "(2 * GREATEST(n_tokens, 1)) AS DOUBLE) / 10000.0"))
      .withColumn("quality_bucket",
        when(col("n_tokens") >= 50 && col("n_stop_lang") > 0, "high")
          .when(col("n_tokens") >= 20, "medium")
          .otherwise("low"))
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        col("n_stop_lang"), col("stopword_ratio"), col("quality_bucket"))

  /** MODEL-BASED quality scores — the CCNet/fastText-classifier
    * slot between the heuristic rules ([[quality]]/[[gopherRules]]) and
    * DSIR's target-likeness: a deterministic multinomial-NB log-odds
    * scorer over hashed-bigram counts, target = a DECLARED high-quality
    * source (`hqSource`, the "wiki side" of CCNet's LM contrast; src0
    * is the testdata mixture's weight-8 source), contrast = everything
    * else. Trained in-plan exactly like `Sampling.dsirWeightsOverFeats`' 256-row
    * bucket model (integer counts, add-1 smoothing, DECIMAL(28,10) ln
    * terms — the same private machinery, shared, so the two families
    * cannot drift) and served scan-side by a broadcast model join.
    * Unlike DSIR, EVERY document is scored — including the hq source
    * itself (the classifier view needs the positives' scores for the
    * tercile cut; DSIR's importance view excludes its target from
    * selection by construction). Docs with < 2 tokens have no bigram
    * signal and no row — the caller's policy decides them (the gate arm
    * rejects). Per doc: (doc_id, source, n_feats, q_score).
    *
    * [[qualityModelFit]] is the trained classifier as a STANDALONE
    * artifact — the 256-row (bucket, log-odds) table the streaming
    * gate's quality_model arm serves against corpora the model never
    * saw (the `Sampling.dsirModelFromFeats` artifact shape, different
    * contrast). */
  def qualityModelFit(documents: DataFrame, hqSource: String = "src0",
                      buckets: Int = 256): DataFrame =
    Sampling.dsirModelFromFeats(Sampling.dsirFeats(documents), hqSource, buckets)

  /** See the class note above: per-doc scores with the model trained
    * in-plan over the same feature frame. NOTE (r16): the feature
    * subtree here is referenced by BOTH the model aggregate and the
    * scoring join with no materialization, so the token-stream scan
    * runs twice per ACTION — the in-plan form for one-shot use. Every
    * serving key reads `Catalog.qualityScores` instead (one hooked
    * [[qualityModelFitScoresOverFeats]] training per (session, dir) —
    * the bpeModel/ivfIndex precedent). */
  def qualityModelScores(documents: DataFrame, hqSource: String = "src0",
                         buckets: Int = 256): DataFrame = {
    val feats = Sampling.dsirFeats(documents)
    Sampling.dsirScoreFeats(feats,
        Sampling.dsirModelFromFeats(feats, hqSource, buckets))
      .withColumnRenamed("dsir_weight", "q_score")
  }

  /** ONE hooked training run over an ALREADY-MATERIALIZED feature
    * stream (`Catalog.dsirFeats`, shared with the four DSIR keys): the
    * fit ARTIFACT (the 256-row (bucket, log-odds) table —
    * [[qualityModelFit]]'s output, the stored object the streaming
    * gate's quality_model arm serves) AND the MATERIALIZED per-doc
    * score frame, both off the one feature stream — the token-stream
    * scan runs once per corpus, not twice per serve. Both returned
    * frames are materialized; identical values to [[qualityModelFit]] /
    * [[qualityModelScores]] by construction (same plan arithmetic), so
    * every DuckDB mirror replays unchanged. Cached per (session, dir)
    * by `Catalog.qualityModel`/`Catalog.qualityScores`. The caller owns
    * the feats frame's lifecycle. */
  def qualityModelFitScoresOverFeats(feats: DataFrame, hqSource: String = "src0",
                                     buckets: Int = 256): (DataFrame, DataFrame) = {
    val model = DupClusters.materialize(
      Sampling.dsirModelFromFeats(feats, hqSource, buckets))
    val scores = DupClusters.materialize(
      Sampling.dsirScoreFeats(feats, model)
        .withColumnRenamed("dsir_weight", "q_score"))
    (model, scores)
  }

  /** [[qualityModelScores]] + CCNet's head/middle/tail TERCILE buckets
    * (r15): the corpus-relative cut CCNet applies to its LM scores —
    * τ₁/τ₂ from ONE quantile-sketch pass at q = 1/3, 2/3 (GK exact
    * below `accuracy` observations, so the DuckDB mirror reproduces
    * both cuts by explicit rank — the d_dsir_threshold contract), then
    * a scan-side CASE: q_score ≥ τ₂ → head (most hq-like), ≥ τ₁ →
    * middle, else tail. Scores materialize once for the sketch and the
    * bucket scan. Ties at a cut all land in the higher bucket on both
    * engines (ROUND(,4) scores make ties real; the set rule { ≥ τ }
    * needs no tie lottery). */
  def qualityModel(documents: DataFrame, hqSource: String = "src0",
                   accuracy: Int = 10000): DataFrame =
    qualityModelFromScores(
      DupClusters.materialize(qualityModelScores(documents, hqSource)), accuracy)

  /** The tercile card served off an ALREADY-MATERIALIZED score frame
    * (r16 — `Catalog.qualityScores`): the sketch pass and the bucket
    * scan read the shared frame, no refit per serve. */
  def qualityModelFromScores(s: DataFrame, accuracy: Int = 10000): DataFrame = {
    val taus = broadcast(s.agg(
      percentile_approx(col("q_score"),
        array(lit(1.0 / 3.0), lit(2.0 / 3.0)), lit(accuracy)).as("taus")))
    s.crossJoin(taus)
      .select(col("doc_id"), col("source"), col("n_feats"), col("q_score"),
        when(col("q_score") >= element_at(col("taus"), 2), "head")
          .when(col("q_score") >= element_at(col("taus"), 1), "middle")
          .otherwise("tail").as("q_bucket"))
  }

  /** Budget-fraction curve over the model quality score — the
    * d_dsir_curve governance discipline applied to the classifier: per
    * candidate keep-fraction, the realized score threshold, selected
    * count/share, and the mean selected score (how fast hq-likeness
    * decays as the budget loosens) — the card that PICKS the quality
    * cut before a corpus-scale filter trusts it. Same shared sweep
    * plan as dsirCurveOverFeats ([[Sampling.budgetCurveOverWeights]]):
    * all τs from one sketch pass, one conditional aggregate unpivoted
    * by stack. Served off an ALREADY-MATERIALIZED score frame
    * (`Catalog.qualityScores`, or a materialized
    * [[qualityModelScores]]), which the sketch and the sweep scan both
    * read — no refit per serve. */
  def qualityModelCurveFromScores(scores: DataFrame,
                                  fractions: Seq[Double] = Seq(0.05, 0.1, 0.2, 0.5),
                                  accuracy: Int = 10000): DataFrame =
    Sampling.budgetCurveOverWeights(scores, "q_score", fractions, accuracy,
      "mean_q_score", materialized = true)

  /** Per-LANGUAGE corpus stratification (r14) — the language axis the
    * mixture planner reads before weighting sources: one row per
    * PREDICTED language (the [[langId]] argmax, CJK lists riding the
    * segmented token stream), doc count, exact token mass, corpus doc
    * share. One codegen profile pass + ONE aggregate; the total rides
    * a window over the ≤ #langs-row grouped frame (no second scan);
    * share = the exact-integer half-away idiom (doc-count ratios land
    * on 5th-decimal ties by construction). */
  def corpusByLang(documents: DataFrame): DataFrame =
    qualityByLang(documents)
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .withColumn("n_total", sum(col("n_docs"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("doc_share",
        expr("CAST((20000 * n_docs + n_total) DIV (2 * n_total) AS DOUBLE) / 10000.0"))
      .select(col("lang_pred"), col("n_docs"), col("total_tokens"),
        col("doc_share"))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs | single digits | single punctuation), aggregated per
    * source with exact integer sums. */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        // profile with no word lists = just the normalized token count
        GraftFunctions.stopwordProfile(col("text"), typedlit(Seq.empty[Seq[String]]))
          .getItem(0).as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).as("bpe_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_tokens")).as("total_bpe_tokens"))
      .withColumn("avg_bpe_per_doc",
        round(col("total_bpe_tokens") / col("n_docs"), 4))

  /** Corpus n-gram statistics: top-k 3-gram shingles by document
    * frequency (distinct shingles per doc, so a shingle counts once per
    * document). explode → map-side-combined count → TakeOrdered. */
  def ngramStats(documents: DataFrame, k: Int = 20): DataFrame =
    Dedup.shingled(documents)
      .select(explode(col("shingles")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(k)

  /** Bounded-memory Misra-Gries summary of one partition's shingle
    * stream: at most `m` counters; on overflow every counter is
    * decremented (amortized O(1)/item). Guarantee: any item with
    * partition frequency > n_p/m survives — so by pigeonhole, any item
    * with GLOBAL df > N/m survives in at least one partition's summary.
    * Returns candidate keys only (MG counts are lower bounds; the exact
    * df comes from the verify pass). */
  private[graft] def misraGries(it: Iterator[String], m: Int): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { x =>
      counts.get(x) match {
        case Some(c) => counts.update(x, c + 1)
        case None =>
          if (counts.size < m) counts.update(x, 1L)
          else {
            // decrement-all; drop zeros (the classic MG step)
            val dead = List.newBuilder[String]
            counts.mapValuesInPlace((_, c) => c - 1)
            counts.foreach { case (k, c) => if (c <= 0) dead += k }
            dead.result().foreach(counts.remove)
          }
      }
    }
    counts.keysIterator
  }

  /** [[ngramStats]] with a 100 TB-servable plan: the exact form's
    * groupBy shuffles EVERY distinct shingle (billions at corpus
    * scale); this two-pass form shuffles only heavy-hitter CANDIDATES.
    *
    * Pass 1 — per-partition Misra-Gries summaries (bounded memory `m`
    * per task; typed mapPartitions is the right tool here: a sketch is
    * genuine per-partition imperative state, not a per-row kernel), so
    * ≤ m × partitions candidate rows leave the scan. Pass 2 — exact df
    * for the candidate set only (semi-join on the exploded stream —
    * map-side combined, shuffle ∝ candidates), then the usual top-k.
    *
    * Output counts are EXACT (never sketch estimates). Completeness:
    * while a partition's distinct count stays ≤ m the summary evicts
    * nothing, so the result is IDENTICAL to the exact form (the regime
    * the oracle checks); past that, every shingle with df >
    * total_occurrences/m is still guaranteed a candidate, so the
    * top-k is exact whenever the true top-k clears that threshold —
    * the heavy-hitter regime this operator exists for, spec-proven on
    * skewed data with m far below the distinct count. The m=2¹⁶
    * default is ~4 MB of task state: per-task memory buys shuffle
    * volume, the right trade at corpus scale.
    *
    * Oracle-gate determinism: the verify-scale corpora are pinned
    * eviction-free (global distinct shingles — 16.2k at sf0.01, 27.2k
    * at sf0.1 — stays < m under ANY partitioning; guarded by the
    * "oracle regime" spec in TextAnalysisSpec), so the hash compare
    * can never depend on partition count. */
  def ngramStatsSketch(documents: DataFrame, k: Int = 20, m: Int = 1 << 16): DataFrame = {
    import org.apache.spark.sql.Encoders
    val exploded = Dedup.shingled(documents)
      .select(explode(col("shingles")).as("shingle"))
    val candidates = exploded
      .select(col("shingle")).as(Encoders.STRING)
      .mapPartitions(it => misraGries(it, m))(Encoders.STRING)
      .toDF("shingle")
      .distinct()
    exploded
      .join(candidates, Seq("shingle"), "left_semi")
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(k)
  }

  /** Content fingerprint: md5 of the text with everything except
    * lowercase alphanumerics removed — robust to punctuation/whitespace
    * edits, cheap to group on at any scale. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(regexp_replace(lower(col("text")), "[^a-z0-9]+", "")).as("fingerprint"))

  /** Repetition quality signals (C4/Gopher-style filters): per document,
    * the duplicate-trigram fraction (1 − distinct/total) and the
    * most-common-trigram fraction, with a coarse repetitive/ok flag.
    * One codegen kernel pass per row (`graft_repetition_profile`) — no
    * explode, no shuffle, scan speed at any corpus size. Documents with
    * fewer than 3 tokens have no trigrams and drop out (same domain rule
    * as `Dedup.shingled`). */
  def repetition(documents: DataFrame, dupTau: Double = 0.3, topTau: Double = 0.2): DataFrame =
    documents
      .select(col("doc_id"), GraftFunctions.repetitionProfile(col("text")).as("p"))
      .select(col("doc_id"),
        col("p").getItem(0).as("n_trigrams"),
        col("p").getItem(1).as("n_distinct"),
        col("p").getItem(2).as("max_freq"))
      .filter(col("n_trigrams") > 0)
      .withColumn("dup_ratio", round(lit(1.0) - col("n_distinct") / col("n_trigrams"), 4))
      .withColumn("top_ratio", round(col("max_freq") / col("n_trigrams"), 4))
      .withColumn("rep_flag",
        when(col("dup_ratio") > dupTau || col("top_ratio") > topTau, "repetitive")
          .otherwise("ok"))

  /** Lexical diversity (type-token ratio): distinct tokens / total
    * tokens per document — the Gopher-family "fraction of unique words"
    * quality signal (templated/boilerplate text scores low). One codegen
    * kernel pass per row (`graft_ttr_profile`): no explode, no
    * per-doc distinct aggregation, scan speed at any corpus size. The
    * ratio is a single integer division rounded to 4 (exact across
    * engines). */
  def lexicalDiversity(documents: DataFrame, tau: Double = 0.3,
                       minTokens: Int = 20): DataFrame =
    documents
      .select(col("doc_id"), GraftFunctions.ttrProfile(col("text")).as("p"))
      .select(col("doc_id"),
        col("p").getItem(0).as("n_tokens"),
        col("p").getItem(1).as("n_distinct"))
      .withColumn("ttr", round(col("n_distinct") / greatest(col("n_tokens"), lit(1)), 4))
      .withColumn("div_flag",
        when(col("n_tokens") >= minTokens && col("ttr") < tau, "templated")
          .otherwise("ok"))

  /** Composite quality FILTER — the C4/Gopher-style keep/drop stage a
    * training pipeline runs between dedup and sampling, with the
    * individual signal operators' rules composed into one short-circuit
    * verdict per document (first failing rule wins, signals carried
    * alongside for auditing):
    *
    *   1. `too_short`    — fewer than `minTokens` tokens;
    *   2. `no_stopwords` — zero hits across ALL stopword lists (no
    *                       language signal at all — the [[langId]]
    *                       'unknown' regime);
    *   3. `repetitive`   — [[repetition]]'s dup/top trigram thresholds;
    *   4. `templated`    — [[lexicalDiversity]]'s TTR threshold;
    *   5. `keep`.
    *
    * ONE scan pass: three codegen kernels per row (stopword, repetition
    * and TTR profiles), zero shuffles, zero joins — verdicts stream at
    * scan speed at any corpus size, ready to feed d_sample_mix /
    * Funnel downstream. */
  def filterPipeline(documents: DataFrame, minTokens: Int = 20,
                     dupTau: Double = 0.3, topTau: Double = 0.2,
                     ttrTau: Double = 0.3): DataFrame =
    filterSignals(documents)
      .withColumn("verdict",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_stop_all") === 0, "no_stopwords")
          .when(col("dup_ratio") > dupTau || col("top_ratio") > topTau, "repetitive")
          .when(col("ttr") < ttrTau, "templated")
          .otherwise("keep"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("dup_ratio"), col("top_ratio"), col("ttr"), col("verdict"))

  /** The per-document signal projection [[filterPipeline]] rules on
    * (tokens, stopword hits, trigram-repetition ratios, TTR) — the one
    * scan pass, shared with [[qualityCurve]] so the threshold sweep
    * sweeps exactly what the filter enforces. */
  private def filterSignals(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"), profile.as("p"),
        GraftFunctions.repetitionProfile(col("text")).as("r"),
        GraftFunctions.ttrProfile(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        col("t").getItem(0).as("n_tokens"),
        // ALL lists (generated from langOrder — the documented
        // "zero hits across ALL stopword lists" contract; fixed r13
        // when the list set grew past the hand-written first four)
        langOrder.indices.map(i => col("p").getItem(i + 1))
          .reduce(_ + _).as("n_stop_all"),
        col("r").getItem(0).as("n_trigrams"),
        col("r").getItem(1).as("tri_distinct"),
        col("r").getItem(2).as("max_freq"),
        col("t").getItem(1).as("tok_distinct"))
      .withColumn("dup_ratio", when(col("n_trigrams") > 0,
        round(lit(1.0) - col("tri_distinct") / col("n_trigrams"), 4)).otherwise(lit(0.0)))
      .withColumn("top_ratio", when(col("n_trigrams") > 0,
        round(col("max_freq") / col("n_trigrams"), 4)).otherwise(lit(0.0)))
      .withColumn("ttr",
        round(col("tok_distinct") / greatest(col("n_tokens"), lit(1)), 4))

  /** Quality-threshold SWEEP — the governance curve behind
    * [[filterPipeline]]'s single `minTokens` setting (the published
    * length-filter debate: C4 drops < 3-sentence pages, Gopher < 50
    * words; too high starves low-resource sources, too low admits
    * fragment noise): per candidate minimum, how many documents the
    * composite filter would keep, the corpus share that is, and the
    * token mass retained — a data-recipe owner reads this once, picks
    * the knee, then pins `minTokens`.
    *
    * Plan (the [[decontamCurve]] recipe): the per-doc signals are
    * mined ONCE ([[filterSignals]] — pure codegen kernels, zero
    * shuffles), every candidate threshold is a pair of conditional
    * sums in ONE 1-row aggregate (the non-length rules share one
    * `other_pass` predicate — rule order can't matter for the keep
    * count, a keep passes ALL rules), unpivoted by `stack`; the doc
    * total rides in the same aggregate row, so the whole sweep is one
    * scan + one single-partition aggregate, join-free. Kept shares use
    * the exact-integer half-away idiom (doc-count ratios land on
    * 5th-decimal ties by construction). */
  def qualityCurve(documents: DataFrame, minTokensPanel: Seq[Int] = Seq(10, 20, 50, 100),
                   dupTau: Double = 0.3, topTau: Double = 0.2,
                   ttrTau: Double = 0.3): DataFrame = {
    val signals = filterSignals(documents)
      .withColumn("other_pass",
        col("n_stop_all") > 0 &&
          !(col("dup_ratio") > dupTau || col("top_ratio") > topTau) &&
          !(col("ttr") < ttrTau))
    val aggs = minTokensPanel.flatMap(k => Seq(
      sum(when(col("other_pass") && col("n_tokens") >= k, 1L).otherwise(0L)).as(s"k$k"),
      sum(when(col("other_pass") && col("n_tokens") >= k,
        col("n_tokens").cast("long")).otherwise(0L)).as(s"t$k")))
    val flags = signals.agg(count(lit(1)).as("n_docs"), aggs: _*)
    val stackArgs = minTokensPanel
      .map(k => s"$k, coalesce(k$k, 0L), coalesce(t$k, 0L)").mkString(", ")
    flags
      .selectExpr("n_docs",
        s"stack(${minTokensPanel.size}, $stackArgs) AS (min_tokens, n_keep, tokens_kept)")
      .select(col("min_tokens"), col("n_keep"), col("n_docs"),
        (when(col("n_docs") === 0L, lit(0.0)).otherwise(
          expr("CAST((20000 * n_keep + n_docs) DIV (2 * n_docs) AS DOUBLE)")
            / lit(10000.0)) + lit(0.0)).as("keep_frac"),
        col("tokens_kept"))
  }

  /** Per-source corpus card — the governance summary a dataset release
    * ships: size, exact-dup rate, and quality-filter yield per source,
    * in one row each. Two aggregating scans (the [[filterPipeline]]
    * verdict projection; a norm-hash distinct count), each collapsing
    * to #sources rows before one broadcast join — nothing doc-level
    * ever shuffles. `n_unique_texts` is an exact two-level distinct
    * (per-source hash cardinality), `dup_frac` its complement,
    * `keep_frac` the filter yield. */
  def corpusReport(documents: DataFrame): DataFrame = {
    val verdicts = filterPipeline(documents)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(when(col("verdict") === "keep", 1L).otherwise(0L)).as("n_keep"))
    val hashes = documents
      .select(col("source"), md5(Dedup.normText(col("text"))).as("h"))
      .groupBy(col("source"))
      .agg(countDistinct(col("h")).as("n_unique_texts"))
    verdicts.join(broadcast(hashes), "source")
      .withColumn("dup_frac",
        round(lit(1.0) - col("n_unique_texts") / col("n_docs"), 4))
      .withColumn("keep_frac", round(col("n_keep") / col("n_docs"), 4))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_unique_texts"), col("dup_frac"), col("n_keep"), col("keep_frac"))
  }

  /** Cross-snapshot corpus drift card — the TEXT-side twin of
    * `s_centroid_drift` (embeddings) and `d_rank_delta` (link graph),
    * completing the delta-governance suite: after an ingest/crawl
    * delta, which sources changed their share of the corpus, and did
    * their document-length profile move? This is the card a mixture
    * designer reads before re-weighting — a source whose share doubled
    * or whose mean length collapsed (truncation bug upstream) is a
    * mixture hazard long before any model-side signal.
    *
    * Per source: doc counts on both snapshots, corpus-share on both
    * (ROUND(,4)), the share delta, and mean chars/doc on both. The
    * inputs are two per-source CARDS (source, n_docs, n_chars): the
    * `t_corpus_drift` key aggregates both snapshots with [[sourceCard]]
    * (the fixture recomputes the previous one only because the test
    * corpus ships no stored card), and the streaming maintainer
    * ([[graft.streaming.DriftStream]]) serves its merged per-batch
    * partials against the stored previous card — at 100 TB the
    * "previous snapshot" side IS the stored card (one row per source),
    * never a re-aggregation of history. Snapshot totals derive from the
    * cards' own doc counts (Σ per-source = the corpus COUNT(*) exactly —
    * integer sums are split-invariant), so the batch and streamed forms
    * are bit-equal over the same corpus. Plan: two 1-row totals, one
    * full-outer join on source (a source may exist in only one
    * snapshot) + two 1-row broadcast joins — nothing doc-level ever
    * shuffles.
    *
    * Float discipline: shares and means are quotients of exact BIGINT
    * counts, rounded half-AWAY-FROM-ZERO in EXACT integer arithmetic
    * on both engines (the weeklyFromDaily idiom — `(20000·num + den)
    * DIV (2·den) / 10⁴` on non-negative operands), because count
    * ratios hit 5th-decimal ties by construction (e.g. an odd doc
    * count over a 50 000-doc corpus terminates exactly at the tie; a
    * ROUND(dbl, 4) would diverge cross-engine). The share delta is
    * then an IEEE subtraction of identical doubles. */
  def corpusDriftFromCards(prevCard: DataFrame, curCard: DataFrame): DataFrame = {
    val p = prevCard.select(col("source"), col("n_docs").as("d_prev"),
      col("n_chars").as("c_prev"))
    val c = curCard.select(col("source"), col("n_docs").as("d_cur"),
      col("n_chars").as("c_cur"))
    val tp = p.agg(coalesce(sum(col("d_prev")), lit(0L)).as("t_prev"))
    val tc = c.agg(coalesce(sum(col("d_cur")), lit(0L)).as("t_cur"))
    // exact-integer round-half-away(num/den, 4) as a double; den = 0
    // (an empty snapshot / a source absent from one side) reads 0.0
    def ratio4(num: String, den: String) =
      when(col(den) === 0L, lit(0.0)).otherwise(
        expr(s"CAST((20000 * $num + $den) DIV (2 * $den) AS DOUBLE)")
          / lit(10000.0)) + lit(0.0)
    p.join(c, Seq("source"), "full_outer")
      .crossJoin(broadcast(tp))
      .crossJoin(broadcast(tc))
      .select(col("source"),
        coalesce(col("d_prev"), lit(0L)).as("docs_prev"),
        coalesce(col("d_cur"), lit(0L)).as("docs_cur"),
        coalesce(col("c_prev"), lit(0L)).as("chars_prev"),
        coalesce(col("c_cur"), lit(0L)).as("chars_cur"),
        col("t_prev"), col("t_cur"))
      .select(col("source"), col("docs_prev"), col("docs_cur"),
        (col("docs_cur") - col("docs_prev")).as("docs_delta"),
        ratio4("docs_prev", "t_prev").as("share_prev"),
        ratio4("docs_cur", "t_cur").as("share_cur"),
        (ratio4("docs_cur", "t_cur") - ratio4("docs_prev", "t_prev")
          + lit(0.0)).as("share_delta"),
        ratio4("chars_prev", "docs_prev").as("mean_chars_prev"),
        ratio4("chars_cur", "docs_cur").as("mean_chars_cur"))
  }

  /** The per-source (source, n_docs, n_chars) card of a document frame
    * — one #sources-row aggregate, the input [[corpusDriftFromCards]]
    * diffs. `DriftStream.ingestBatch` appends it per micro-batch as
    * additive partials. */
  def sourceCard(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("long")).as("n_chars"))

  /** PII patterns — deliberately plain ASCII regex (no lookaround, no
    * engine-specific classes) so Java regex (Spark) and RE2 (DuckDB,
    * and most data-plane scrubbers) agree character for character. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ip"    -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}")

  /** PII scrubbing: replace emails/phone numbers/IPs with typed
    * placeholder tokens and count the redactions per document — the
    * compliance pass every training corpus runs. Pure projection
    * (regexp_replace/regexp_count chains, whole-stage codegen): scan
    * speed, no shuffle. Output carries the redaction counts and the md5
    * of the scrubbed text (stable to verify, no giant text column).
    *
    * Counts are taken SEQUENTIALLY on the progressively-scrubbed text
    * (phone counted after emails are replaced, ip after phones), so
    * each count equals the number of placeholders actually inserted —
    * overlapping patterns (a phone-shaped local part inside an email)
    * are attributed to exactly one category, the one that scrubbed
    * them. Placeholders are letter-only, so they can never re-match. */
  def piiScrub(documents: DataFrame): DataFrame = {
    val Seq((_, em), (_, ph), (_, ip)) = PiiPatterns
    val afterEmail = regexp_replace(col("text"), em, "<email>")
    val afterPhone = regexp_replace(afterEmail, ph, "<phone>")
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(em)).as("n_email"),
      regexp_count(afterEmail, lit(ph)).as("n_phone"),
      regexp_count(afterPhone, lit(ip)).as("n_ip"),
      md5(regexp_replace(afterPhone, ip, "<ip>")).as("clean_md5"))
  }

  /** Decontamination: flag corpus documents sharing ≥ `minHits` distinct
    * word 3-grams with an evaluation set (here: the docs of
    * `evalSource`). The eval side of the join is the DISTINCT shingle
    * set of the benchmark — small by nature — so at 100 TB this is a
    * broadcast join against the corpus scan, a shuffle only for the
    * per-doc hit count: the standard pre-training decontamination shape
    * (n-gram overlap vs held-out benchmarks). */
  def decontaminate(documents: DataFrame, evalSource: String = "src19",
                    minHits: Int = 2): DataFrame = {
    // shingle with source carried through the scan projection — no
    // self-join back to documents for metadata
    val sh = documents
      .select(col("doc_id"), col("source"),
        GraftFunctions.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val evalShingles = sh.filter(col("source") === evalSource)
      .select(explode(col("sh")).as("g")).distinct()
    sh.filter(col("source") =!= evalSource)
      .select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
      .join(broadcast(evalShingles), "g")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Multi-benchmark contamination REPORT: [[decontaminate]] against a
    * SET of eval sources at once, reporting hits per (document,
    * eval set) — the audit artifact a training run publishes ("which
    * benchmarks does this corpus leak, and how hard"). One shingle scan
    * of the corpus; the eval side collapses to DISTINCT (eval_source,
    * gram) pairs and broadcasts (benchmark unions are small by nature —
    * for ones that aren't, the Bloom route of [[decontaminateBloom]]
    * composes the same way); one aggregate keyed by (doc, eval_source).
    * A doc contaminated by k benchmarks yields k rows. */
  def contamReport(documents: DataFrame, evalSources: Seq[String] = Seq("src18", "src19"),
                   minHits: Int = 2): DataFrame = {
    val sh = documents
      .select(col("doc_id"), col("source"),
        GraftFunctions.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val evalShingles = sh.filter(col("source").isin(evalSources: _*))
      .select(col("source").as("eval_source"), explode(col("sh")).as("g"))
      .distinct()
    sh.filter(!col("source").isin(evalSources: _*))
      .select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
      .join(broadcast(evalShingles), "g")
      .groupBy(col("doc_id"), col("source"), col("eval_source"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the shape for
    * eval unions too big to broadcast as an exact set (a multi-GB
    * benchmark union is a ~100 MB sketch at 1% fpp; the sketch is a
    * fixed-size MODEL, so collecting it is not a data loop).
    *
    * Three stages: (1) build the sketch with one distributed
    * `graft_bloom_agg` over the eval grams; (2) scan-side
    * `graft_might_contain` probe drops ≈ all non-overlapping corpus
    * grams BEFORE any join — Bloom filters have no false negatives, so
    * nothing contaminated can slip through; (3) the few surviving grams
    * are joined against the true eval set to kill the ≤fpp false
    * positives. Result is therefore EXACTLY [[decontaminate]] (same
    * oracle), but the join input shrinks from |corpus grams| to
    * |overlap + fpp·corpus| — at 100 TB that is the difference between
    * an eval-sized broadcast per corpus gram and a scan plus a
    * negligible verify join. */
  /** Decontamination THRESHOLD curve — the governance sweep behind
    * [[decontaminate]]'s single `minHits` setting (the published
    * n-gram-overlap threshold debate: PaLM/GPT-3-style decontamination
    * flags on a handful of shared grams, Gopher-style on more; too low
    * over-scrubs topical overlap, too high leaks memorizable spans):
    * per candidate threshold, how many corpus docs would be flagged
    * and what corpus share that is. A decontamination run reads this
    * once per eval-set change, picks the knee, then pins `minHits`.
    *
    * Plan: the per-doc hit counts are mined ONCE (the decontaminate
    * plan at its weakest threshold), then every candidate threshold is
    * a conditional sum in ONE 1-row aggregate, unpivoted by `stack` —
    * adding thresholds is free; the corpus total joins as a 1-row
    * broadcast (the t_bm25 corpus-stats shape). Flagged shares use the
    * exact-integer half-away idiom (doc-count ratios land on
    * 5th-decimal ties by construction). */
  def decontamCurve(documents: DataFrame, evalSource: String = "src19",
                    thresholds: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val hits = decontaminate(documents, evalSource, minHits = 1)
    val aggs = thresholds.map(k =>
      sum(when(col("n_hits") >= k, 1L).otherwise(0L)).as(s"f$k"))
    val flags = hits.agg(aggs.head, aggs.tail: _*)
    val total = documents.filter(col("source") =!= evalSource)
      .agg(count(lit(1)).as("n_docs"))
    val stackArgs = thresholds.map(k => s"$k, coalesce(f$k, 0L)").mkString(", ")
    flags
      .selectExpr(s"stack(${thresholds.size}, $stackArgs) AS (min_hits, n_flagged)")
      .crossJoin(broadcast(total))
      .select(col("min_hits"), col("n_flagged"), col("n_docs"),
        (when(col("n_docs") === 0L, lit(0.0)).otherwise(
          expr("CAST((20000 * n_flagged + n_docs) DIV (2 * n_docs) AS DOUBLE)")
            / lit(10000.0)) + lit(0.0)).as("flagged_frac"))
  }

  def decontaminateBloom(documents: DataFrame, evalSource: String = "src19",
                         minHits: Int = 2, estimatedItems: Long = 1L << 20,
                         numBits: Long = 1L << 23): DataFrame =
    decontaminateWithBloom(documents,
      evalNgramBloom(documents, evalSource, estimatedItems, numBits), evalSource, minHits)

  /** Build the eval-set n-gram Bloom sketch: one distributed aggregate
    * over the eval grams, collected as a fixed-size model (None when
    * the eval source is empty). Build once per eval union and reuse —
    * `Catalog.evalNgramBloom` caches it per (session, dir), the same
    * fit-once contract as the ANN indexes. */
  def evalNgramBloom(documents: DataFrame, evalSource: String = "src19",
                     estimatedItems: Long = 1L << 20,
                     numBits: Long = 1L << 23): Option[Array[Byte]] = {
    val grams = documents.filter(col("source") === evalSource)
      .select(explode(GraftFunctions.shingles(col("text"))).as("g")).distinct()
    Option(grams
      .agg(GraftFunctions.bloomAgg(xxhash64(col("g")),
        lit(estimatedItems), lit(numBits)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0))
  }

  /** The probe+verify stage of [[decontaminateBloom]], over a
    * pre-built (possibly cached) sketch. */
  def decontaminateWithBloom(documents: DataFrame, bloom: Option[Array[Byte]],
                             evalSource: String = "src19", minHits: Int = 2): DataFrame = {
    val sh = documents
      .select(col("doc_id"), col("source"),
        GraftFunctions.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val evalShingles = sh.filter(col("source") === evalSource)
      .select(explode(col("sh")).as("g")).distinct()
    val corpusGrams = sh.filter(col("source") =!= evalSource)
      .select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
    val survivors = bloom match {
      case None     => corpusGrams.filter(lit(false)) // empty eval set: nothing can hit
      case Some(bf) => corpusGrams.filter(GraftFunctions.mightContain(lit(bf), xxhash64(col("g"))))
    }
    survivors
      .join(broadcast(evalShingles), "g") // exact verify on the tiny survivor set
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** In-corpus bigram language-model scoring — the perplexity-style
    * quality filter of the CCNet/Gopher lineage: score each document by
    * the mean log-probability of its word bigrams under a bigram model
    * ESTIMATED FROM THE CORPUS ITSELF (P(w2|w1) = C(w1 w2) / C(w1 ·)).
    * Low scorers are statistically surprising relative to the corpus
    * (boilerplate, shuffled text, encoding damage); high scorers are
    * built from common constructions. Training on the corpus being
    * scored means every observed bigram has count ≥ 1 — no smoothing
    * term, so every probability is a pure ratio of integer counts and
    * the oracle reproduces it exactly (per-term DECIMAL(28,10) logs,
    * ONE final double division, ROUND(,4)+0.0 per house float policy).
    *
    * Plan (two passes over the token stream, all linear): bigrams are
    * generated SCAN-SIDE (split + posexplode over the leading slice +
    * element_at — no window, no self-join); the model is two
    * map-side-combined count aggregates (shuffle keyed on bigram /
    * unigram — the standard distributed LM-count job, vocab²-bounded);
    * scoring is an equi-join of the bigram stream against the model
    * (auto-broadcast at small vocab, shuffle join at web vocab) and one
    * per-doc aggregate. Docs with < 2 tokens have no bigrams and are
    * absent from the output by definition. Buckets use fixed
    * thresholds chosen at the corpus' observed tertiles. */
  def lmScore(documents: DataFrame): DataFrame = {
    val d = documents
      .select(col("doc_id"),
        split(trim(coalesce(col("text"), lit(""))), "\\s+").as("a"))
      .filter(size(col("a")) >= 2)
    val bg = d
      .select(col("doc_id"), col("a"),
        posexplode(slice(col("a"), lit(1), size(col("a")) - 1)).as(Seq("i0", "w1")))
      .select(col("doc_id"), col("w1"),
        element_at(col("a"), col("i0") + 2).as("w2"))
    val cbg = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val cug = bg.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    bg.join(cbg, Seq("w1", "w2")).join(cug, Seq("w1"))
      .select(col("doc_id"),
        log(col("c").cast("double") / col("n1").cast("double"))
          .cast("decimal(28,10)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (round(sum(col("lp")).cast("double") / count(lit(1)), 4) + lit(0.0))
          .as("avg_logprob"))
      .withColumn("lm_bucket",
        when(col("avg_logprob") >= -3.37, "fluent")
          .when(col("avg_logprob") >= -3.40, "typical")
          .otherwise("surprising"))
  }

  /** Cross-source content-overlap matrix — the governance artifact a
    * mixture designer reads BEFORE setting sampling rates: for every
    * source pair, the number of shared distinct word 3-grams and the
    * Jaccard similarity of the two sources' shingle sets. Two sources
    * with high overlap are near-copies (mirrors, re-crawls) and their
    * mixture weights double-count; [[Sampling]] rates should be set on
    * the deduplicated union instead.
    *
    * Plan: distinct (source, shingle) membership (shingles scan-side
    * via the codegen kernel, one distinct shuffle — the corpus' text
    * never moves again), then a self-equi-join on the shingle: each
    * shared gram costs at most #sources² rows (membership is distinct
    * per source, so per-gram fan-out is bounded by the SOURCE count,
    * never document df), and one aggregate to #source-pair rows. The
    * per-source set sizes broadcast back. All work is ∝ distinct
    * grams × shared-source pairs — linear in corpus with a tiny
    * quadratic factor in #sources (20 here; hundreds in production). */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    val sg = documents
      .select(col("source"), explode(GraftFunctions.shingles(col("text"))).as("g"))
      .distinct()
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = sg.select(col("source").as("source_a"), col("g"))
    val b = sg.select(col("source").as("source_b"), col("g"))
    a.join(b, Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))), Seq("source_b"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")), 4) + lit(0.0))
      .select(col("source_a"), col("source_b"), col("n_shared"), col("na"), col("nb"), col("jaccard"))
  }

  /** Span-level decontamination SCRUB — the surgical form of
    * [[decontaminate]]: instead of FLAGGING documents that overlap the
    * eval set, remove exactly the overlapping `k`-token spans and keep
    * the rest of the document (the 8-gram-overlap removal convention of
    * published decontamination pipelines; k=8 default). A mostly-clean
    * document with one quoted benchmark item keeps its clean content —
    * whole-doc decontamination would discard it entirely.
    *
    * Composition of two proven stages: `Dedup.spanCut` cuts both sides
    * into consecutive k-token spans (scan-side, explode ∝ tokens/k);
    * the eval side collapses to a DISTINCT span set that broadcasts
    * into a left-anti join (the same broadcast-the-eval-set shape as
    * [[decontaminate]]; at multi-GB eval scale swap in the Bloom
    * prefilter exactly as t_decontam_bloom does); `Dedup.spanAssemble`
    * reassembles each document's surviving spans in order. Linear in
    * corpus tokens, no pair stage. A document whose EVERY span is
    * contaminated disappears from the output (fully scrubbed) — same
    * convention as d_span_dedup's all-duplicate case. */
  def decontamScrub(documents: DataFrame, evalSource: String = "src19",
                    k: Int = 8): DataFrame = {
    val corpusSpans = Dedup.spanCut(documents.filter(col("source") =!= evalSource), k)
    val evalSpans = Dedup.spanCut(documents.filter(col("source") === evalSource), k)
      .select(col("span")).distinct()
    Dedup.spanAssemble(
      corpusSpans.join(broadcast(evalSpans), Seq("span"), "left_anti"))
  }

  /** Corpus-frequency boilerplate removal — the C4 "three-page rule"
    * (Raffel et al. 2020 §2.2: any line occurring ≥ 3 times in the
    * corpus is removed from EVERY page) re-expressed on this corpus's
    * segmentation: documents are cut into consecutive `k`-token spans
    * (the d_span_dedup/t_decontam_scrub unit — this corpus has no
    * newlines, so fixed-token spans stand in for lines), each span's
    * document frequency is counted corpus-wide, and spans present in
    * ≥ `minDf` DISTINCT documents are scrubbed from ALL documents —
    * including the first occurrence, which is what distinguishes the
    * frequency rule from d_span_dedup's keep-first convention
    * (navigation chrome / license headers are boilerplate in every
    * copy; there is no "original" worth keeping).
    *
    * Plan shape at 100 TB — the BLOCKLIST form (what C4's own pipeline
    * materializes): the df count runs as two map-side-combinable
    * aggregates over (span, doc_id) distinct pairs, collapses to the
    * df ≥ minDf span set — small by nature (boilerplate is the
    * repeated sliver of a corpus) — and that blocklist broadcasts into
    * a left-anti join against the span stream. The big frame therefore
    * NEVER shuffles on the span text: a d_span_dedup-style span-keyed
    * window would buffer a mega-frequency span's every occurrence in
    * one partition (boilerplate is precisely the key that skews), while
    * here the heavy key collapses map-side to one row per partition
    * before moving. Cost: the cut runs twice (blocklist arm + scrub
    * arm — the sampleTokenBudget two-scan convention; the second arm's
    * shuffle is only the doc_id reassembly). If a corpus's blocklist
    * ever outgrows broadcast, swap the anti-join for the Bloom
    * prefilter exactly as t_decontam_bloom does. */
  def boilerplateScrub(documents: DataFrame, k: Int = 8, minDf: Int = 3): DataFrame = {
    val spans = Dedup.spanCut(documents, k)
    val blocklist = spans.select(col("span"), col("doc_id")).distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("span"))
    Dedup.spanAssemble(spans.join(broadcast(blocklist), Seq("span"), "left_anti"))
  }

  /** Shannon token-entropy quality signal — the information-theoretic
    * member of the quality family (t_lexical_div's TTR counts types;
    * entropy weighs their distribution — a doc cycling two tokens and a
    * doc with one dominant token have the same TTR but very different
    * entropy). Per doc: H = ln(n) − (Σ c·ln c)/n over unigram counts c,
    * plus norm_entropy = H/ln(types) ∈ [0,1] (1 = uniform usage; 0 for
    * single-type docs by convention).
    *
    * Oracle-exactness: the sum goes through DECIMAL(28,10)-cast per
    * term (exact, order-free addition — the same trick as
    * t_perplexity/d_dsir_weights), ONE final double division per
    * output, ROUND(,4)+0.0. Plan: token fan-out scan-side
    * (split+explode — columnar fan-out, not a HOF), one (doc, token)
    * count aggregate with map-side partials, one per-doc aggregate —
    * two shuffles on key columns only, linear in corpus tokens. */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val t = trim(coalesce(col("text"), lit("")))
    val toks = documents
      .filter(length(t) > 0)
      .select(col("doc_id"), explode(split(t, "\\s+")).as("w"))
    val counts = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val h = log(col("n_tokens").cast("double")) -
      col("s").cast("double") / col("n_tokens")
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(28,10)")).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (round(h, 4) + lit(0.0)).as("entropy"),
        when(col("n_types") === 1, lit(0.0))
          .otherwise(round(h / log(col("n_types").cast("double")), 4) + lit(0.0))
          .as("norm_entropy"))
  }

  /** Tokenizer-vocabulary coverage report — the OOV-rate audit a
    * training run publishes before committing to a tokenizer: with the
    * corpus' own top-`vocabSize` tokens standing in for the tokenizer
    * vocabulary, per-doc token count, out-of-vocabulary count and OOV
    * rate. Docs with high OOV against the intended vocabulary
    * fragment into long byte-level token sequences (wasted context,
    * degraded loss) — this is the signal that catches them before
    * training. In production the vocab frame is the real tokenizer's
    * vocab read from a file; the plan is identical.
    *
    * Plan: one token-count aggregate builds the vocab (TakeOrdered to
    * `vocabSize` rows — a MODEL, broadcast back like the IVF
    * centroids; tie-break (freq desc, token asc) makes it
    * engine-deterministic), then one broadcast left-join membership
    * over the token fan-out and one per-doc aggregate. Linear in
    * corpus tokens; the corpus never shuffles on anything wider than
    * (doc_id, token). */
  def vocabCoverage(documents: DataFrame, vocabSize: Int = 16): DataFrame = {
    val t = trim(coalesce(col("text"), lit("")))
    val toks = documents.filter(length(t) > 0)
      .select(col("doc_id"), explode(split(t, "\\s+")).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(vocabSize)
      .select(col("w"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, 0L).otherwise(1L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (round(col("n_oov").cast("double") / col("n_tokens"), 4) + lit(0.0))
          .as("oov_rate"))
  }

  /** Per-source document-length distribution (p50/p90/p99 of token
    * counts) — the context-window sizing artifact: packing efficiency
    * (t_seq_pack/t_seq_bins) and truncation losses are functions of
    * these tails, and a source whose p99 shifts between crawls changed
    * its content shape. Exact `percentile` (= DuckDB quantile_cont —
    * the v_speed_percentiles convention); buffers one source's counts
    * per group, fine at any corpus scale since groups are sources —
    * swap in approx_percentile for a sketched form if sources ever
    * stop fitting (report shape unchanged). One scan + one
    * #sources-row aggregate. */
  def lengthQuantiles(documents: DataFrame): DataFrame = {
    val t = trim(coalesce(col("text"), lit("")))
    documents.filter(length(t) > 0)
      .select(col("source"), size(split(t, "\\s+")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(n, 0.5)"), 4).as("p50"),
        round(expr("percentile(n, 0.9)"), 4).as("p90"),
        round(expr("percentile(n, 0.99)"), 4).as("p99"))
  }

  /** The 100 TB mode of [[lengthQuantiles]]: GK approx-percentile
    * sketches (fixed-size mergeable partials) replace the exact
    * percentile, whose buffer holds one SOURCE's entire length
    * population per group — unbounded when sources are web-scale.
    * Quantiles come back as actual data values (no interpolation) with
    * rank error ≤ N/accuracy per source. Below `accuracy` observations
    * per source the sketch is EXACT (value at rank ⌈q·N⌉ — the
    * d_dsir_threshold regime), which makes this key hash-checkable
    * against a DuckDB explicit-rank mirror at test SF while the
    * production path is the sketch itself. */
  def lengthQuantilesApprox(documents: DataFrame, accuracy: Int = 10000): DataFrame = {
    val t = trim(coalesce(col("text"), lit("")))
    documents.filter(length(t) > 0)
      .select(col("source"), size(split(t, "\\s+")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("n"), lit(0.9), lit(accuracy)).as("p90"),
        percentile_approx(col("n"), lit(0.99), lit(accuracy)).as("p99"))
  }

  /** Gopher-style structural quality rules (Rae et al. 2021 §A1.1) —
    * the rule bundle web-corpus curation applies before any model-based
    * scoring: word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, bullet/ellipsis line fractions, alphabetic-word fraction,
    * and a minimum stop-word count, folded into ONE ordered CASE verdict
    * (first failing rule wins — same reporting shape as
    * [[filterPipeline]]). Bounds are tuned to this corpus's 10-99-word
    * documents (20/80 instead of the paper's 50/100k) so every verdict
    * arm is exercised at test scale; the rule set and order are the
    * paper's.
    *
    * Plan: pure projection — the stopword-profile kernel plus six
    * `regexp_count` scans, all inside whole-stage codegen; no shuffle,
    * no arrays in flight. Every ratio is one int/int division ROUND(,4)
    * (IEEE-identical on both engines) and the CASE compares the ROUNDED
    * values, so the verdict can never diverge on a ulp. At 100 TB this
    * is scan-speed, and the verdict column is the partition-prunable
    * admission key downstream writers bucket on. */
  def gopherRules(documents: DataFrame,
                  minWords: Int = 20, maxWords: Int = 80): DataFrame = {
    // a whitespace-delimited run containing at least one ASCII letter —
    // leftmost-greedy and leftmost-longest agree on maximal runs, so
    // Java regex (here) and RE2 (oracle) count identically
    val alphaWord = "[^\\s]*[A-Za-z][^\\s]*"
    documents
      .select(col("doc_id"), col("source"), col("text"), profile.as("p"))
      .select(
        col("doc_id"), col("source"),
        col("p").getItem(0).as("n_words"),
        col("p").getItem(1).as("n_stop"),
        length(regexp_replace(col("text"), "\\s", "")).as("n_word_chars"),
        regexp_count(col("text"), lit(alphaWord)).as("n_alpha_words"),
        regexp_count(col("text"), lit("#|\\.\\.\\.")).as("n_symbols"),
        (regexp_count(col("text"), lit("\n")) + lit(1)).as("n_lines"),
        regexp_count(col("text"), lit("(^|\n)[ \t]*[-*] ")).as("n_bullet_lines"),
        regexp_count(col("text"), lit("\\.\\.\\.(\n|$)")).as("n_ellipsis_lines"))
      .withColumn("mean_word_len",
        round(col("n_word_chars") / greatest(col("n_words"), lit(1)), 4))
      .withColumn("alpha_frac",
        round(col("n_alpha_words") / greatest(col("n_words"), lit(1)), 4))
      .withColumn("symbol_ratio",
        round(col("n_symbols") / greatest(col("n_words"), lit(1)), 4))
      .withColumn("bullet_frac",
        round(col("n_bullet_lines") / col("n_lines"), 4))
      .withColumn("ellipsis_frac",
        round(col("n_ellipsis_lines") / col("n_lines"), 4))
      .withColumn("verdict",
        when(col("n_words") < minWords, "too_few_words")
          .when(col("n_words") > maxWords, "too_many_words")
          .when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0, "word_length")
          .when(col("symbol_ratio") > 0.1, "symbol_heavy")
          .when(col("bullet_frac") > 0.9, "bullet_heavy")
          .when(col("ellipsis_frac") > 0.3, "ellipsis_heavy")
          .when(col("alpha_frac") < 0.8, "low_alpha")
          .when(col("n_stop") < 2, "few_stopwords")
          .otherwise("keep"))
      .select(col("doc_id"), col("source"), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("symbol_ratio"), col("bullet_frac"),
        col("ellipsis_frac"), col("n_stop"), col("verdict"))
  }

  /** Flesch reading-ease + Flesch-Kincaid grade per document — the
    * classic readability pair corpus cards report alongside the quality
    * verdicts. Sentences = runs of terminal punctuation, syllables =
    * vowel-group count (the standard regex approximation — exact
    * syllabification needs a dictionary; the approximation is the one
    * every at-scale pipeline ships). Three `regexp_count` scans, pure
    * codegen projection, no shuffle.
    *
    * Determinism: both rates are int/int double divisions and the two
    * formulas are evaluated in the same literal association
    * `(c0 - c1*wps) - c2*spw` on both engines — bit-identical IEEE
    * doubles — then ROUND(,4)+0.0 (the signed-zero convention; Flesch
    * can legitimately round to -0.0). */
  def readability(documents: DataFrame): DataFrame = {
    val nWords = regexp_count(col("text"), lit("[^\\s]+"))
    val nSents = regexp_count(col("text"), lit("[.!?]+"))
    val nSyll  = regexp_count(col("text"), lit("[AEIOUYaeiouy]+"))
    documents
      .select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sentences"),
        nSyll.as("n_syllables"))
      .withColumn("wps", col("n_words") / greatest(col("n_sentences"), lit(1)))
      .withColumn("spw", col("n_syllables") / greatest(col("n_words"), lit(1)))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        (round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 4)
          + lit(0.0)).as("flesch"),
        (round(lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59), 4)
          + lit(0.0)).as("fk_grade"))
  }

  /** BPE merge statistics: the corpus-wide adjacent-symbol-pair counts
    * whose argmax IS one byte-pair-encoding merge step (Sennrich et al.
    * 2016) — the statistic tokenizer induction recomputes every merge
    * round. Pairs are counted WITH multiplicity and never span a word
    * boundary; top-k with (count desc, pair asc) tie-break so the merge
    * choice is engine-deterministic.
    *
    * Plan: codegen `graft_bpe_pairs` kernel scan-side (the t_ngram_stats
    * shape: explode → map-side-combined count → TakeOrdered(k)) —
    * shuffle volume ∝ distinct pairs (≤ alphabet², tiny), never corpus
    * size. Subsequent merge rounds re-run the same plan over the
    * re-segmented corpus — each round is one scan, which is exactly how
    * distributed BPE training iterates at 100 TB. */
  def bpeMerges(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(explode(GraftFunctions.bpePairs(col("text"))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  /** Canonical-form normalization report — the C4/RefinedWeb-style
    * cleanup stage a web corpus runs BEFORE hashing/dedup/tokenizing,
    * as a first-class measured artifact: per doc, raw vs cleaned
    * codepoint counts, whether normalization changed anything (the
    * corpus-health number: a high changed-rate flags a mojibake/control
    * -char-ridden source), and the md5 of the CANONICAL text — the
    * fingerprint exact-dedup should key on, so "é" composed and
    * "e"+combining-accent collide as the duplicates they are.
    *
    * Cleanup = Unicode NFC → C0/DEL control strip → whitespace-run
    * collapse → trim, all inside the codegen `graft_normalize_text`
    * kernel (ONE scan, no shuffle; each step is Unicode-standard or
    * ASCII-regex so the DuckDB nfc_normalize mirror is
    * byte-identical). */
  def normalizeReport(documents: DataFrame): DataFrame = {
    val raw = coalesce(col("text"), lit(""))
    val clean = GraftFunctions.normalizeText(raw)
    documents.select(col("doc_id"), col("source"),
      length(raw).cast("long").as("n_chars_raw"),
      length(clean).cast("long").as("n_chars_clean"),
      (raw =!= clean).as("changed"),
      md5(clean).as("clean_md5"))
  }

  /** Iterated BPE merge training (Sennrich et al. 2016, Algorithm 1) —
    * the merge TABLE a tokenizer-training user actually wants, driven
    * off [[bpeMerges]]'s statistic: `rounds` greedy rounds of
    * (count adjacent symbol pairs → merge the argmax everywhere).
    *
    * Scale shape — the standard distributed-BPE factoring: the corpus
    * collapses to the WORD-FREQUENCY table first (ONE corpus-wide
    * shuffle; pair counts are Σ word_freq × in-word occurrences, so
    * every merge round after that runs on the vocab table, whose size
    * is bounded by distinct words, not corpus tokens). Each round is
    * one vocab-scan aggregate (map-side-combined, shuffle ∝ distinct
    * pairs) + one argmax `limit(1).collect()` — a 1-row MODEL scalar
    * per round (the merge table IS the model; the CC-checksum
    * precedent), never data rows. Re-segmentation is the scan-side
    * codegen `graft_bpe_merge` kernel; each round's vocab frame is
    * persisted and the previous released, so round r never re-runs
    * rounds 1..r−1. The merge loop is inherently SEQUENTIAL (round
    * r+1's counts depend on round r's argmax) — `rounds` bounds it.
    *
    * Determinism: pair counts are exact integers; the argmax tie-break
    * is (n desc, a asc, b asc) on both engines — a TOTAL order over
    * pairs (a "a+b" string key is not one once merged symbols contain
    * '+' themselves: ("x","+y") and ("x+","y") collide); the merge kernel
    * is greedy-leftmost-non-overlapping, mirrored in the oracle by
    * candidate islands with alternate-position keeps. Output: one row
    * per round — (round, pair, n) with n the pre-merge count. */
  def bpeTrain(documents: DataFrame, rounds: Int = 8): DataFrame = {
    val (merges, syms) = bpeLoop(documents, rounds)
    syms.unpersist(blocking = false)
    mergesToDF(documents.sparkSession, merges)
  }

  /** The merge table as a DataFrame (driver-scale model data — rounds
    * rows). */
  private[graft] def mergesToDF(spark: SparkSession,
                                merges: Seq[(Int, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("round", "pair", "n")
  }

  /** Vocab-size/compression CURVE — the tuning sweep behind
    * [[bpeTrain]]'s single `rounds` (the tokenizer-budget dial: every
    * merge adds one vocab entry and buys some corpus compression, with
    * sharply diminishing returns — Sennrich et al. 2016 §5 plots
    * exactly this curve to pick the merge count): per panel round r,
    * the total corpus BPE-token count under the FIRST r merges, tokens
    * per word instance, and the compression ratio vs the character
    * baseline (round 0). A tokenizer owner reads this once per corpus
    * regime, finds where the curve flattens, then pins `rounds`.
    *
    * Plan: ONE training run ([[bpeLoop]] — the corpus collapses to the
    * word-frequency table once, every round runs on vocab), with the
    * panel totals read off each round's ALREADY-PERSISTED segmentation
    * by the `onRound` hook (one 2-value aggregate per panel point —
    * Σ f·|syms| and Σ f are exact longs, the model-scalar collect
    * class). The curve rows are pure integer arithmetic on those
    * scalars (exact-integer half-away ratios), so the key is
    * hash-exact like every BPE key. If the pair supply exhausts before
    * a panel round, the curve plateaus at the last segmentation —
    * exactly what the DuckDB mirror's empty-argmax rounds produce.
    * Raw totals are driver literals (the t_bpe_train mergesToDF
    * precedent); [[graft.core.Catalog.bpeCurve]] caches them per
    * (session, dir) like every fit. */
  def bpeCurve(documents: DataFrame, rounds: Int = 8,
               panel: Seq[Int] = BpePanel): DataFrame = {
    val totals = bpeCurveTotals(documents, rounds, panel)
    bpeCurveToDF(documents.sparkSession, totals)
  }

  /** The ONE curve panel every default references — the Spark
    * defaults, the Catalog cache, and the DuckDB oracle generator all
    * read this constant, so the panel cannot desynchronize across the
    * engine boundary. */
  private[graft] val BpePanel: Seq[Int] = Seq(0, 2, 4, 8)

  /** One training run instrumented for the curve: the full
    * [[bpeLoop]] result PLUS the per-panel-round (Σf, Σf·|syms|)
    * scalars — what lets one Catalog entry hold BOTH the model and
    * the curve from a single training (the curve's marginal
    * cost is one 2-long aggregate per panel point on the round's
    * already-persisted vocab frame). */
  private[graft] def bpeLoopWithCurve(documents: DataFrame, rounds: Int,
                                      panel: Seq[Int] = BpePanel)
      : ((Seq[(Int, String, Long)], DataFrame), Seq[(Int, Long, Long)]) = {
    require(panel.contains(0),
      "panel must include round 0 — the compression baseline (the oracle always baselines on s0)")
    def totalsOf(s: DataFrame): (Long, Long) = {
      val row = s.agg(
        coalesce(sum(col("f")), lit(0L)).cast("long"),
        coalesce(sum(col("f") * size(col("syms"))), lit(0L)).cast("long")).collect()(0)
      (row.getLong(0), row.getLong(1))
    }
    val seen = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    val (merges, syms) = bpeLoop(documents, rounds, (r, s) =>
      if (panel.contains(r)) seen(r) = totalsOf(s))
    // panel points past the last landed merge (early pair exhaustion)
    // plateau at the final segmentation — read it once if needed
    val missing = panel.filter(r => !seen.contains(r))
    if (missing.nonEmpty) {
      val fin = totalsOf(syms)
      missing.foreach(r => seen(r) = fin)
    }
    ((merges, syms), panel.sorted.map(r => (r, seen(r)._1, seen(r)._2)))
  }

  /** The curve's model scalars alone: (round, word_instances,
    * total_tokens) per panel point. */
  private[graft] def bpeCurveTotals(documents: DataFrame, rounds: Int,
                                    panel: Seq[Int]): Seq[(Int, Long, Long)] = {
    val ((_, syms), totals) = bpeLoopWithCurve(documents, rounds, panel)
    syms.unpersist(blocking = false)
    totals
  }

  /** Curve rows from the cached scalars: exact-integer half-away
    * ratios only (tokens/word to 4; compression vs round 0 to 4) —
    * non-negative operands, both engines identical. */
  private[graft] def bpeCurveToDF(spark: SparkSession,
                                  totals: Seq[(Int, Long, Long)]): DataFrame = {
    import spark.implicits._
    def ratio4(num: Long, den: Long): Double =
      if (den == 0L) 0.0 else ((20000L * num + den) / (2L * den)).toDouble / 10000.0
    val t0 = totals.find(_._1 == 0).map(_._3).getOrElse(0L)
    totals.map { case (r, wi, t) =>
      (r, t, wi, ratio4(t, wi), ratio4(t, t0))
    }.toDF("round", "total_tokens", "word_instances", "tokens_per_word", "compression")
  }

  /** The shared training loop: returns the merge list AND the final
    * vocab segmentation (persisted — callers that don't read it
    * unpersist immediately; its lineage is a pure chain of `rounds`
    * codegen `graft_bpe_merge` kernels over the word table with the
    * learned pairs baked as literals, so a post-unpersist re-evaluation
    * is ONE scan-side pass, no re-training jobs). `onRound` fires with
    * (0, round-0 segmentation) before the loop and (r, segmentation
    * after merge r) after each landed merge — the [[bpeCurve]]
    * instrumentation point (each segmentation is already persisted
    * when the hook sees it, so a hook-side aggregate is one cheap job,
    * not a re-train). */
  private[graft] def bpeLoop(documents: DataFrame, rounds: Int,
                             onRound: (Int, DataFrame) => Unit = (_, _) => ())
      : (Seq[(Int, String, Long)], DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val words = documents.filter(length(norm) > 0)
      .select(explode(split(norm, " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    var syms = words
      .select(col("word"), col("f"), GraftFunctions.charSyms(col("word")).as("syms"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    onRound(0, syms)
    val merges = Seq.newBuilder[(Int, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // adjacent pairs of the CURRENT segmentation: zip(syms[1..n-1],
      // syms[2..n]) — all codegen built-ins; explode fans out to
      // in-word pair occurrences over the vocab table only
      val zipped = arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))
      val best = syms
        .filter(size(col("syms")) >= 2)
        .select(col("f"), explode(zipped).as("pr"))
        .select(col("f"), col("pr").getField("0").as("a"), col("pr").getField("1").as("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a + "+" + b, n))
        val next = syms
          .select(col("word"), col("f"),
            GraftFunctions.bpeMerge(col("syms"), lit(a), lit(b)).as("syms"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        onRound(r, next)
        syms.unpersist(blocking = false)
        syms = next
      }
      r += 1
    }
    (merges.result(), syms)
  }

  /** Tokenizer APPLY over an already-trained segmentation table — the
    * corpus-wide companion of [[bpeTrain]] that
    * closes the loop to token budgeting (`d_sample_tokens` /
    * `t_seq_pack` consume token counts; this is where a LEARNED
    * tokenizer's counts come from): per document, the word count and
    * the total BPE token count under the trained merge table.
    *
    * The distributed-tokenizer factoring, both directions: TRAINING
    * collapses the corpus to the word-frequency table once (bpeTrain);
    * APPLICATION segments the VOCAB (the final `syms` table — a chain
    * of `rounds` codegen `graft_bpe_merge` kernels with the learned
    * pairs as literals, scan-side, no shuffle), and documents then join
    * word → token-count on the word key: the corpus-side work is one
    * token explode + one equi-join + one per-doc aggregate — corpus
    * text is never re-segmented char by char. At gate scale the vocab
    * side auto-broadcasts (AQE); at web scale it becomes a shuffle join
    * on the word key — same plan shape, no driver involvement either
    * way. Docs with no tokens (empty/NULL text) keep a (0, 0) row —
    * the t_chunk coverage convention.
    *
    * `syms` is the `Catalog.bpeModel` table (training paid once per
    * corpus like every other fit) or [[bpeLoop]]'s in-plan one: word
    * fan-out LEFT ⋈ vocab(word → n_tokens) + one per-doc aggregate.
    * Out-of-vocabulary words (docs
    * outside the training corpus — the real serving case) still count
    * in `n_words` and fall back to their character count for
    * `n_bpe_tokens`: a word the trainer never saw gets no merges, so
    * its BPE segmentation IS its characters — the exact semantics of
    * running the merge chain on an unseen word. */
  def bpeApplyFromModel(documents: DataFrame, syms: DataFrame): DataFrame = {
    val perDoc = bpeWordStats(documents, syms, "doc_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_tok"), length(col("word")).cast("long")))
          .as("n_bpe_tokens"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** The shared serving chain of [[bpeApplyFromModel]] and
    * [[bpeFertility]]: word fan-out under the canonical normalization,
    * LEFT-joined to the vocab's word → token-count model. One place
    * owns the tokenization and the OOV convention (`n_tok` NULL =
    * unseen word; consumers fall back to `length(word)`), so the two
    * keys and their oracles cannot desynchronize. */
  private def bpeWordStats(documents: DataFrame, syms: DataFrame,
                           keyCol: String): DataFrame = {
    val vocabToks = syms.select(col("word"), size(col("syms")).cast("long").as("n_tok"))
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    documents
      .select(col(keyCol), explode(split(norm, " ")).as("word"))
      .filter(col("word") =!= "")
      .join(vocabToks, Seq("word"), "left")
  }

  /** Tokenizer FERTILITY card — per source: word instances, BPE tokens
    * under a trained model, fertility (tokens/word), and the
    * out-of-vocabulary rate. This is the governance artifact a
    * tokenizer review publishes per language/source (the standard
    * multilingual-BPE evaluation: a source whose fertility is 2× the
    * corpus mean is under-represented in tokenizer training and pays
    * 2× the context budget per word; a high OOV rate says the stored
    * model predates this source entirely). Served off YESTERDAY'S
    * model (the snapshot-trained `Catalog.bpeModelSnapshot` — in
    * production the stored tokenizer) applied to TODAY'S full corpus,
    * so OOV is the real serving case, not a degenerate zero: an unseen
    * word's BPE segmentation is its characters (no merges learned for
    * it), the exact [[bpeApplyFromModel]] convention.
    *
    * Plan: ONE word fan-out scan LEFT-joined to the vocab(word →
    * n_tokens) model on the word key (gate scale: AQE broadcasts the
    * vocab; web scale: a word-keyed shuffle join, the t_bpe_apply
    * class) + one per-source aggregate, then the #sources-row doc-count
    * frame joins on. Fertility/OOV ratios are quotients of exact
    * BIGINTs, rounded half-away in EXACT integer arithmetic (the
    * weeklyFromDaily idiom — non-negative operands only). */
  def bpeFertility(documents: DataFrame, syms: DataFrame): DataFrame = {
    def ratio4(num: String, den: String) =
      when(col(den) === 0L, lit(0.0)).otherwise(
        expr(s"CAST((20000 * $num + $den) DIV (2 * $den) AS DOUBLE)")
          / lit(10000.0)) + lit(0.0)
    val stats = bpeWordStats(documents, syms, "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("w"),
        sum(when(col("n_tok").isNull, 1L).otherwise(0L)).as("o"),
        sum(coalesce(col("n_tok"), length(col("word")).cast("long"))).as("t"))
    documents.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(stats, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("w"), lit(0L)).as("n_words"),
        coalesce(col("o"), lit(0L)).as("n_oov_words"),
        coalesce(col("t"), lit(0L)).as("n_bpe_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_oov_words"), col("n_bpe_tokens"),
        ratio4("n_bpe_tokens", "n_words").as("fertility"),
        ratio4("n_oov_words", "n_words").as("oov_rate"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS scheme):
    * md5 every word k-gram, keep the distinct minima of each w-wide
    * sliding window of consecutive gram hashes. The guarantee: any
    * shared token run of length ≥ k+w−1 between two documents shares at
    * least one fingerprint, at ~2/(w+1) of the gram volume — the
    * position-robust, storage-cheap substring-duplication index
    * (d_span_dedup's fixed spans break on a one-token insertion; these
    * don't). Docs with fewer than k+w−1 tokens emit nothing (no full
    * window exists).
    *
    * Plan: the whole selection runs in the codegen `graft_winnow`
    * kernel scan-side — ONE pass per doc, no gram explode, no window
    * shuffle; only the selected fingerprints (a few per doc) leave the
    * scan. This is the fingerprint TABLE a 100 TB pipeline materializes
    * next to the MinHash signatures (Store-style); a dup query is then
    * an equi-join on fp. Min is over the lowercase md5 hex STRING — a
    * total order DuckDB shares, so the oracle recomputes every
    * fingerprint byte-for-byte (window MIN over the same hashes). */
  def winnowFingerprints(documents: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    documents
      .select(col("doc_id"),
        explode(GraftFunctions.winnow(col("text"), lit(k), lit(w))).as("fp"))

  /** Language-ID confusion matrix: declared `lang` × predicted
    * `lang_pred` counts + within-declared-language share — the
    * governance artifact that validates the langid heuristic against
    * upstream metadata before either is trusted for mixture design
    * (big off-diagonal mass = mislabeled source or broken detector).
    * One [[langId]] scan + a (lang, lang_pred) count aggregate; the
    * share window runs over the ≤ |langs|² aggregate rows, never data. */
  def langConfusion(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(documents)
      .join(documents.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("lang_pred"), col("n"),
        (round(col("n") / col("lang_total"), 4) + lit(0.0)).as("share"))
  }

  /** Code keywords for [[codeDetect]] — whole-token matches via the
    * same kernel the stopword profile uses (a second word-list, not a
    * second scan). */
  val CodeKeywords: Seq[String] = Seq(
    "def", "class", "return", "import", "if", "else", "for", "while")

  /** Code-vs-prose detection — the modality router every mixed web
    * corpus needs before language-specific processing (code wants
    * no stopword/repetition filtering; prose wants no brace-density
    * scoring): symbol density ([{}();=<>[]]), indented-line fraction,
    * code-keyword token hits, and English-stopword hits folded into an
    * ordered verdict (code / mixed / prose). One kernel pass (both word
    * lists ride the same stopword-profile call) + three regexp counts —
    * pure codegen projection, zero shuffles. Ratios int/int ROUND(,4);
    * the CASE compares rounded values. */
  def codeDetect(documents: DataFrame): DataFrame = {
    val p = GraftFunctions.stopwordProfile(col("text"),
      typedlit(Seq(stopwords("en"), CodeKeywords)))
    documents
      .select(col("doc_id"), col("source"), col("text"), p.as("p"))
      .select(col("doc_id"), col("source"),
        col("p").getItem(0).as("n_tokens"),
        col("p").getItem(1).as("n_stop"),
        col("p").getItem(2).as("n_keywords"),
        regexp_count(col("text"), lit("[{}();=<>\\[\\]]")).as("n_symbols"),
        length(col("text")).as("n_chars"),
        (regexp_count(col("text"), lit("\n")) + lit(1)).as("n_lines"),
        regexp_count(col("text"), lit("(^|\n)(  |\t)")).as("n_indent_lines"))
      .withColumn("symbol_density",
        round(col("n_symbols") / greatest(col("n_chars"), lit(1)), 4))
      .withColumn("indent_frac", round(col("n_indent_lines") / col("n_lines"), 4))
      .withColumn("keyword_frac",
        round(col("n_keywords") / greatest(col("n_tokens"), lit(1)), 4))
      .withColumn("verdict",
        when(col("symbol_density") > 0.05 || col("keyword_frac") > 0.15 ||
             col("indent_frac") > 0.3, "code")
          .when(col("n_keywords") > 0 && col("n_stop") > 0, "mixed")
          .otherwise("prose"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_keywords"),
        col("n_stop"), col("symbol_density"), col("indent_frac"),
        col("keyword_frac"), col("verdict"))
  }

  /** Per-source token-length outlier report: each source's mean token
    * count as a z-score against the cross-source distribution — the
    * drift tripwire a recurring crawl runs per ingest (a source whose
    * mean length jumps two sigmas changed its extraction or its
    * content). Determinism: the mean is quantized to an exact 1e-4
    * INTEGER grid (`round(mean·10⁴)` — the same HALF-UP both engines
    * share) and the cross-source moments are integer sums over those
    * grid values — z is an affine-invariant of the quantized means, so
    * every input to the final double expression is an exact integer and
    * the z-scores are bit-identical under any partitioning or engine.
    * σ is population std over the ≤ #sources rows (the
    * sampleTemperature single-partition-window-over-an-aggregate
    * shape); zero σ (all sources identical) yields z = 0. */
  def sourceOutliers(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = documents
      .select(col("source"),
        GraftFunctions.stopwordProfile(col("text"), typedlit(Seq.empty[Seq[String]]))
          .getItem(0).as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks").cast("long")).as("total_toks"))
      .withColumn("m_i",
        round((col("total_toks") / col("n_docs")) * 10000).cast("long"))
    val w = Window.partitionBy()
    perSource
      .withColumn("mu", sum(col("m_i")).over(w) / count(lit(1)).over(w))
      .withColumn("m2", sum(col("m_i") * col("m_i")).over(w) / count(lit(1)).over(w))
      .withColumn("sigma", sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0))))
      .select(col("source"), col("n_docs"), col("total_toks"),
        (round(col("total_toks") / col("n_docs"), 4) + lit(0.0)).as("mean_toks"),
        (when(col("sigma") === 0.0, lit(0.0))
          .otherwise(round((col("m_i") - col("mu")) / col("sigma"), 4) + lit(0.0)))
          .as("z_score"))
  }

  /** Top-k TF-IDF terms per document — the classic per-document
    * keyword summary (corpus cards, cluster labeling, weak-supervision
    * features); the DOCUMENT-centric complement of t_bm25's
    * query-centric scoring. tf from one (doc, term) count, idf =
    * ln(N/df) with df a distinct-doc count and N the tokenized-doc
    * count computed IN-PLAN (1-row aggregate, broadcast crossJoin —
    * the t_bm25 stats shape); score = tf·ln(N/df) is one double
    * expression on exact integers, ROUND(,4)+0.0, and the per-doc
    * rank orders by (ROUNDED score desc, term asc) — a total order,
    * engine-identical. Shuffles: the (doc, term) count, the term-keyed
    * df join, the per-doc rank window — all key-column rows, linear in
    * corpus token volume. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val terms = documents.filter(length(norm) > 0)
      .select(col("doc_id"), explode(split(norm, " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = terms.agg(countDistinct(col("doc_id")).as("nd"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (round(col("tf") * log(col("nd") / col("df")), 4) + lit(0.0)))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"),
        col("rank"))
  }

  // ---- driver wiring ----

  /** Zipf-law corpus-health card — per source, an OLS fit of
    * ln(frequency) against ln(rank) over the top-`topK` tokens:
    * natural language sits near slope −1 (Zipf 1949); a flat slope
    * (≫ −1) or low r² flags templated/synthetic/boilerplate text and
    * a steep slope flags degenerate repetition — the corpus-level
    * complement of the per-doc t_repetition / t_lexical_div filters,
    * read per SOURCE before mixing (the t_source_outliers genre).
    *
    * Determinism: ln of exact integer ranks/counts rounded through
    * DECIMAL(28,10) (the DSIR ln convention — sub-1e-10 libm
    * differences cannot move a moment), products as IEEE doubles of
    * those rounded values, moment sums DECIMAL(28,10) (order-exact),
    * ONE closed-form double expression per output (the q_corr shape),
    * ROUND(,4). Rank order is total ((count desc, token asc)).
    *
    * Plan: one (source, token) count aggregate (map-side combined),
    * one per-source rank window over the VOCABULARY (≪ corpus; the
    * q_window_topn shape), then a topK-row-per-source moment
    * aggregate — scales with vocabulary, never corpus rows. */
  def zipfReport(documents: DataFrame, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val counts = documents
      .select(col("source"),
        explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(desc("c"), asc("tok"))
    def lnDec(c: Column) = log(c.cast("double")).cast(DecimalType(28, 10)).cast(DoubleType)
    def ms(c: Column) = sum(c.cast(DecimalType(28, 10))).cast(DoubleType)
    def r4(c: Column) = round(c, 4) + lit(0.0)
    val moments = counts
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= topK)
      .select(col("source"), lnDec(col("r")).as("x"), lnDec(col("c")).as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_ranks"),
        ms(col("x")).as("sx"), ms(col("y")).as("sy"),
        ms(col("x") * col("x")).as("sxx"), ms(col("x") * col("y")).as("sxy"),
        ms(col("y") * col("y")).as("syy"))
    val num = col("n_ranks") * col("sxy") - col("sx") * col("sy")
    val den1 = col("n_ranks") * col("sxx") - col("sx") * col("sx")
    val den2 = col("n_ranks") * col("syy") - col("sy") * col("sy")
    moments.select(col("source"), col("n_ranks"),
      r4(num / den1).as("zipf_slope"),
      r4((col("sy") * col("sxx") - col("sx") * col("sxy")) / den1).as("intercept"),
      r4((num * num) / (den1 * den2)).as("r2"))
  }

  /** VALUES-planted CJK documents (r14) — defined LITERALLY once and
    * rendered into BOTH engines (the Spark frame via [[cjkUnion]], the
    * DuckDB side via [[cjkDocsCte]]'s VALUES), because the driver
    * testdata carries no CJK codepoint at any scale (spec-asserted):
    * the *_cjk oracle keys prove the segmentation + langid + quality
    * chain hash-exact on real zh/ja/ko text. doc_ids sit far above any
    * real id. */
  private[graft] val cjkDocs: Seq[(Long, String, String, String)] = Seq(
    (9000001L, "zh", "cjk",
      "我们在北京有很多人的朋友 他们都是我的老朋友了 有人说这是不可能的"),
    (9000002L, "ja", "cjk",
      "私は東京に住んでいます 毎日電車で会社に行きます 友達と話をしました"),
    (9000003L, "ko", "cjk",
      "나는 학교에 간다 친구를 만나서 도서관에 갔다 우리는 책을 읽었다"),
    // Han-only title containing NONE of the seeded zh function
    // characters: the stopword argmax reads all-zero ('unknown'); only
    // the script arm ids it — the counterexample langIdScript exists for
    (9000004L, "zh", "cjk", "北京大学 物理系 量子力学 研究中心"),
    // English control: segmentation must not disturb Latin text
    (9000005L, "en", "cjk",
      "the cat sat on the mat and the dog is in the house"),
    // r15: the next scripts — ru/ar/hi function-word texts (the lists'
    // words ARE the planted hits) plus a Cyrillic title with NONE of
    // the seeded ru function words (the 9000004 counterexample shape,
    // provable only by the script arm)
    (9000006L, "ru", "multi",
      "я не знаю что он сказал в москве и на работе с ними было хорошо"),
    (9000007L, "ar", "multi",
      "هذا الكتاب من أفضل ما قرأت في حياتي على الإطلاق أن أعود إلى البيت عن قريب لا شك"),
    (9000008L, "hi", "multi",
      "यह किताब मेरे दोस्त के लिए है और वह स्कूल में से घर को आता है उस का काम की बात"),
    (9000009L, "ru", "multi", "москва университет физика квантовая механика"))

  /** documents ∪ the planted CJK slice — the *_cjk keys' input. */
  private[graft] def cjkUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents.select($"doc_id", $"lang", $"source", $"text")
      .unionByName(cjkDocs.toDF("doc_id", "lang", "source", "text"))
  }

  private def cjkValuesSql: String = cjkDocs.map { case (id, lang, src, text) =>
    s"($id, '$lang', '$src', '$text')"
  }.mkString(",\n    ")

  /** The DuckDB twin of [[cjkUnion]]. */
  private def cjkDocsCte: String =
    s"""cjkdocs AS (
       |  SELECT doc_id, lang, source, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    $cjkValuesSql) AS v(doc_id, lang, source, text))""".stripMargin

  /** [[toksCte]] over the planted union instead of bare documents. */
  private lazy val cjkToksCte =
    s"""WITH $cjkDocsCte,
       |toks AS (
       |  SELECT doc_id, text, source,
       |    ${toksSql("text")} AS toks
       |  FROM cjkdocs)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_langid_cjk"    -> ((s, d) => langId(cjkUnion(s, d))),
    "t_corpus_lang"   -> ((s, d) => corpusByLang(cjkUnion(s, d))),
    "t_quality_cjk"   -> ((s, d) => qualityByLang(cjkUnion(s, d))),
    "t_tokens_cjk"    -> ((s, d) => tokenStats(cjkUnion(s, d))),
    "t_langid_script" -> ((s, d) => langIdScript(cjkUnion(s, d))),
    "t_zipf"           -> ((s, d) => zipfReport(Tables(s, d).documents)),
    "t_langid"         -> ((s, d) => langId(Tables(s, d).documents)),
    "t_quality_lang"   -> ((s, d) => qualityByLang(Tables(s, d).documents)),
    // both model keys serve off the Catalog-cached fit + materialized
    // scores (r16): one training per (session, dir), never per serve
    "t_quality_model"  -> ((s, d) =>
      qualityModelFromScores(graft.core.Catalog.qualityScores(s, d))),
    "t_quality_model_curve" -> ((s, d) =>
      qualityModelCurveFromScores(graft.core.Catalog.qualityScores(s, d))),
    "t_quality"        -> ((s, d) => quality(Tables(s, d).documents)),
    "t_tokens"         -> ((s, d) => tokenStats(Tables(s, d).documents)),
    "t_ngram_stats"    -> ((s, d) => ngramStats(Tables(s, d).documents)),
    "t_ngram_topk"     -> ((s, d) => ngramStatsSketch(Tables(s, d).documents)),
    "t_fingerprint"    -> ((s, d) => fingerprint(Tables(s, d).documents)),
    "t_repetition"     -> ((s, d) => repetition(Tables(s, d).documents)),
    "t_decontaminate"  -> ((s, d) => decontaminate(Tables(s, d).documents)),
    "t_decontam_curve" -> ((s, d) => decontamCurve(Tables(s, d).documents)),
    "t_decontam_bloom" -> ((s, d) => decontaminateWithBloom(Tables(s, d).documents,
      graft.core.Catalog.evalNgramBloom(s, d))),
    "t_pii_scrub"      -> ((s, d) => piiScrub(Tables(s, d).documents)),
    "t_lexical_div"    -> ((s, d) => lexicalDiversity(Tables(s, d).documents)),
    "t_filter_pipeline" -> ((s, d) => filterPipeline(Tables(s, d).documents)),
    "t_quality_curve"  -> ((s, d) => qualityCurve(Tables(s, d).documents)),
    "t_contam_report"  -> ((s, d) => contamReport(Tables(s, d).documents)),
    "t_corpus_report"  -> ((s, d) => corpusReport(Tables(s, d).documents)),
    // the d_rank_delta snapshot fixture: "yesterday" = corpus minus
    // every 50th doc; today's crawl restores them
    "t_corpus_drift"   -> ((s, d) => {
      val docs = Tables(s, d).documents
      corpusDriftFromCards(
        sourceCard(docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)), sourceCard(docs))
    }),
    "t_perplexity"     -> ((s, d) => lmScore(Tables(s, d).documents)),
    "t_source_overlap" -> ((s, d) => sourceOverlap(Tables(s, d).documents)),
    "t_decontam_scrub" -> ((s, d) => decontamScrub(Tables(s, d).documents)),
    "t_boilerplate"    -> ((s, d) => boilerplateScrub(Tables(s, d).documents)),
    "t_token_entropy"  -> ((s, d) => tokenEntropy(Tables(s, d).documents)),
    "t_vocab_coverage" -> ((s, d) => vocabCoverage(Tables(s, d).documents)),
    "t_length_quantiles" -> ((s, d) => lengthQuantiles(Tables(s, d).documents)),
    "t_length_quantiles_approx" -> ((s, d) => lengthQuantilesApprox(Tables(s, d).documents)),
    "t_gopher_rules"   -> ((s, d) => gopherRules(Tables(s, d).documents)),
    "t_readability"    -> ((s, d) => readability(Tables(s, d).documents)),
    "t_bpe_merges"     -> ((s, d) => bpeMerges(Tables(s, d).documents)),
    // both BPE keys serve off the Catalog-cached model (trained once
    // per corpus — the IVF-fit precedent): train reports the merge
    // table, apply tokenizes off the persisted segmentation
    "t_bpe_train"      -> ((s, d) =>
      mergesToDF(s, graft.core.Catalog.bpeModel(s, d)._1)),
    "t_bpe_apply"      -> ((s, d) =>
      bpeApplyFromModel(Tables(s, d).documents, graft.core.Catalog.bpeModel(s, d)._2)),
    "t_bpe_curve"      -> ((s, d) =>
      bpeCurveToDF(s, graft.core.Catalog.bpeCurve(s, d))),
    // yesterday's tokenizer (snapshot-trained model) on today's full
    // corpus — OOV words are real here by construction
    "t_bpe_fertility"  -> ((s, d) =>
      bpeFertility(Tables(s, d).documents,
        graft.core.Catalog.bpeModelSnapshot(s, d)._2)),
    "t_normalize"      -> ((s, d) => normalizeReport(Tables(s, d).documents)),
    "t_winnow"         -> ((s, d) => winnowFingerprints(Tables(s, d).documents)),
    "t_lang_confusion" -> ((s, d) => langConfusion(Tables(s, d).documents)),
    "t_code_detect"    -> ((s, d) => codeDetect(Tables(s, d).documents)),
    "t_source_outliers" -> ((s, d) => sourceOutliers(Tables(s, d).documents)),
    "t_tfidf"          -> ((s, d) => tfidfTopTerms(Tables(s, d).documents)))

  private def inListSql(lang: String): String = inList(stopwords(lang))

  /** The per-lang hits projections and argmax CASE, GENERATED from
    * [[langOrder]] exactly like the Spark side ([[langPredCol]]) — one
    * source of truth for which lists exist and how ties break. */
  private def langHitsSql: String = langOrder.map(l =>
    s"len(list_filter(toks, t -> t IN (${inListSql(l)}))) AS ${l}_hits")
    .mkString(",\n  ")

  private def langIdCaseSql: String =
    "CASE " + langOrder.zipWithIndex.map { case (l, i) =>
      val conds = (langOrder.drop(i + 1).map(m => s"${l}_hits >= ${m}_hits") :+
        s"${l}_hits > 0").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n       ") + "\n       ELSE 'unknown' END"

  /** The CJK codepoint classes of `TextKernels.segmentCjk`, as an RE2
    * character class (DuckDB `\x{…}` syntax). MUST stay in lockstep
    * with `GraftFunctions.isCjk` (r15: + Ext-A, katakana phonetic
    * extensions, halfwidth katakana; supplementary-plane ideographs
    * stay excluded on both sides — see isCjk's scaladoc). */
  private val cjkClassSql =
    raw"[\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7af}\x{ff66}-\x{ff9d}]"

  /** DuckDB mirror of the FULL tokenize kernel including the r14 CJK
    * segmentation pre-pass (space each CJK letter, collapse, trim,
    * lower, split — identity on CJK-free text, which is why pre-r14
    * mirrors elsewhere that elide the pre-pass stay exact on the sf*
    * testdata; spec-asserted CJK-free in TextAnalysisSpec). */
  private def toksSql(c: String): String =
    raw"string_split(lower(trim(regexp_replace(regexp_replace($c, '($cjkClassSql)', ' \1 ', 'g'), '\s+', ' ', 'g'))), ' ')"

  private lazy val toksCte =
    s"""WITH toks AS (
       |  SELECT doc_id, text, source,
       |    ${toksSql("text")} AS toks
       |  FROM documents)""".stripMargin

  /** One unrolled BPE training round (the d_domain_rank technique): the
    * round's pair counts off the previous segmentation (word-frequency-
    * weighted, lead-window adjacency), the (n desc, a asc, b asc) argmax,
    * and the merge applied via candidate ISLANDS — consecutive candidate
    * runs (which only arise when a = b) keep alternate positions from
    * the run start, exactly the kernel's greedy-leftmost scan. */
  private def bpeRoundCte(r: Int): String = {
    val prev = s"s${r - 1}"
    s"""e$r AS MATERIALIZED (SELECT word, f, unnest(syms) AS sym,
       |    unnest(generate_series(1, len(syms))) AS p FROM $prev),
       |pc$r AS (SELECT a, b, CAST(SUM(f) AS BIGINT) AS n FROM (
       |    SELECT f, sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY p) AS b
       |    FROM e$r) x
       |  WHERE b IS NOT NULL GROUP BY 1, 2),
       |bs$r AS MATERIALIZED (SELECT a, b, n FROM pc$r
       |  ORDER BY n DESC, a ASC, b ASC LIMIT 1),
       |cd$r AS (SELECT e.word, e.p FROM e$r e
       |  JOIN e$r e2 ON e2.word = e.word AND e2.p = e.p + 1
       |  CROSS JOIN bs$r bb WHERE e.sym = bb.a AND e2.sym = bb.b),
       |ck$r AS MATERIALIZED (SELECT word, p FROM (
       |    SELECT word, p, min(p) OVER (PARTITION BY word, g) AS rs FROM (
       |      SELECT word, p, p - row_number() OVER (PARTITION BY word ORDER BY p) AS g
       |      FROM cd$r) gg) ii
       |  WHERE (p - rs) % 2 = 0),
       |s$r AS MATERIALIZED (SELECT word, f, list(ns ORDER BY p) AS syms FROM (
       |    SELECT e.word, e.f, e.p,
       |      CASE WHEN k.p IS NOT NULL THEN e.sym || e2.sym ELSE e.sym END AS ns,
       |      k2.p AS skipme
       |    FROM e$r e
       |    LEFT JOIN ck$r k ON k.word = e.word AND k.p = e.p
       |    LEFT JOIN ck$r k2 ON k2.word = e.word AND k2.p = e.p - 1
       |    LEFT JOIN e$r e2 ON e2.word = e.word AND e2.p = e.p + 1) z
       |  WHERE skipme IS NULL
       |  GROUP BY word, f)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Mirror of normalizeReport: nfc_normalize + the same two ASCII
    // regexes + trim (byte-identical chain; Java \s's extra \x0B case
    // is dead because \x0B is stripped as a control first).
    "t_normalize" ->
      raw"""WITH cn AS (SELECT doc_id, source, COALESCE(text, '') AS raw,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(COALESCE(text, '')),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')) AS t2
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  CAST(length(t2) AS BIGINT) AS n_chars_clean,
        |  raw != t2 AS changed,
        |  md5(t2) AS clean_md5
        |FROM cn""".stripMargin,
    // Mirror of bpeTrain: word-frequency collapse, codepoint round-0
    // segmentation, then 8 unrolled (count → argmax → island-merge)
    // rounds; one (round, pair, n) row per round.
    "t_bpe_train" ->
      (s"""$toksCte,
          |w AS (SELECT unnest(list_filter(toks, t -> t != '')) AS w FROM toks),
          |wf AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS f FROM w GROUP BY 1),
          |s0 AS (SELECT word, f,
          |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
          |  FROM wf),
          |""".stripMargin +
        (1 to 8).map(bpeRoundCte).mkString(",\n") + "\n" +
        (1 to 8).map(r =>
          s"SELECT CAST($r AS INT) AS round, a || '+' || b AS pair, n FROM bs$r")
          .mkString("\nUNION ALL\n")),
    // bpeApplyFromModel mirror: the same 8-round chain, then the FINAL
    // segmentation s8 keys word → len(syms) and per-doc word fan-out
    // LEFT-joins it (OOV word → character count — unreachable here
    // since the corpus trains itself, mirrored for plan fidelity);
    // empty/NULL-text docs keep their (0, 0) row (coverage).
    "t_bpe_apply" ->
      (s"""$toksCte,
          |w AS (SELECT unnest(list_filter(toks, t -> t != '')) AS w FROM toks),
          |wf AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS f FROM w GROUP BY 1),
          |s0 AS (SELECT word, f,
          |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
          |  FROM wf),
          |""".stripMargin +
        (1 to 8).map(bpeRoundCte).mkString(",\n") + "\n" +
        """,dwb AS (SELECT doc_id, unnest(list_filter(toks, t -> t != '')) AS word FROM toks),
          |awb AS (SELECT dwb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          |    CAST(SUM(COALESCE(len(s8.syms), length(word))) AS BIGINT) AS n_bpe_tokens
          |  FROM dwb LEFT JOIN s8 USING (word) GROUP BY 1)
          |SELECT d.doc_id, COALESCE(awb.n_words, 0) AS n_words,
          |  COALESCE(awb.n_bpe_tokens, 0) AS n_bpe_tokens
          |FROM documents d LEFT JOIN awb USING (doc_id)""".stripMargin),
    // bpeCurve mirror: the SAME 8-round chain, one Σf/Σf·len(syms)
    // aggregate per panel segmentation (s0/s2/s4/s8), exact-integer
    // half-away ratios against the round-0 character baseline.
    "t_bpe_curve" ->
      (s"""$toksCte,
          |w AS (SELECT unnest(list_filter(toks, t -> t != '')) AS w FROM toks),
          |wf AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS f FROM w GROUP BY 1),
          |s0 AS (SELECT word, f,
          |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
          |  FROM wf),
          |""".stripMargin +
        (1 to 8).map(bpeRoundCte).mkString(",\n") + ",\n" +
        BpePanel.map(r =>
          s"""tot$r AS (SELECT COALESCE(CAST(SUM(f) AS BIGINT), 0) AS wi,
             |    COALESCE(CAST(SUM(f * len(syms)) AS BIGINT), 0) AS t FROM s$r)""".stripMargin)
          .mkString(",\n") + "\n" +
        BpePanel.map(r =>
          s"""SELECT CAST($r AS INT) AS round, cur.t AS total_tokens,
             |  cur.wi AS word_instances,
             |  (CASE WHEN cur.wi = 0 THEN 0.0 ELSE
             |    CAST((20000 * cur.t + cur.wi) // (2 * cur.wi) AS DOUBLE) / 10000.0 END)
             |    + 0.0 AS tokens_per_word,
             |  (CASE WHEN base.t = 0 THEN 0.0 ELSE
             |    CAST((20000 * cur.t + base.t) // (2 * base.t) AS DOUBLE) / 10000.0 END)
             |    + 0.0 AS compression
             |FROM tot$r cur, tot0 base""".stripMargin).mkString("\nUNION ALL\n")),
    // bpeFertility mirror: the SAME 8-round chain trained on the PREV
    // snapshot (doc_id % 50 — toks redefined over the filtered corpus,
    // the rest of the chain is verbatim), applied per SOURCE over the
    // full corpus; OOV words (only in restored docs) fall back to
    // character counts; exact-integer half-away ratios.
    "t_bpe_fertility" ->
      (raw"""WITH toks AS (
           |  SELECT doc_id, text, source,
           |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           |  FROM documents WHERE doc_id % 50 <> 0),
           |w AS (SELECT unnest(list_filter(toks, t -> t != '')) AS w FROM toks),
           |wf AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS f FROM w GROUP BY 1),
           |s0 AS (SELECT word, f,
           |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS syms
           |  FROM wf),
           |""".stripMargin +
        (1 to 8).map(bpeRoundCte).mkString(",\n") + "\n" +
        raw""",fw AS (SELECT source,
           |    unnest(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
           |      t -> t != '')) AS word
           |  FROM documents),
           |fj AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
           |    CAST(SUM(CASE WHEN s8.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_words,
           |    CAST(SUM(COALESCE(len(s8.syms), length(fw.word))) AS BIGINT) AS n_bpe_tokens
           |  FROM fw LEFT JOIN s8 USING (word) GROUP BY 1),
           |fd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
           |fx AS (SELECT fd.source, fd.n_docs, COALESCE(fj.n_words, 0) AS n_words,
           |    COALESCE(fj.n_oov_words, 0) AS n_oov_words,
           |    COALESCE(fj.n_bpe_tokens, 0) AS n_bpe_tokens
           |  FROM fd LEFT JOIN fj USING (source))
           |SELECT source, n_docs, n_words, n_oov_words, n_bpe_tokens,
           |  (CASE WHEN n_words = 0 THEN 0.0 ELSE
           |    CAST((20000 * n_bpe_tokens + n_words) // (2 * n_words) AS DOUBLE) / 10000.0 END)
           |    + 0.0 AS fertility,
           |  (CASE WHEN n_words = 0 THEN 0.0 ELSE
           |    CAST((20000 * n_oov_words + n_words) // (2 * n_words) AS DOUBLE) / 10000.0 END)
           |    + 0.0 AS oov_rate
           |FROM fx""".stripMargin),
    // zipfReport mirror: same tokenization, same total rank order,
    // ln-through-DECIMAL(28,10) values, double products, DECIMAL
    // moment sums, one closed-form double expression per output.
    "t_zipf" ->
      raw"""WITH ztk AS (SELECT source,
         |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
         |  FROM documents),
         |zc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM ztk WHERE tok != '' GROUP BY 1, 2),
         |zr AS (SELECT source, c,
         |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok ASC) AS r FROM zc),
         |zt AS (SELECT source,
         |    CAST(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(28,10)) AS DOUBLE) AS x,
         |    CAST(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,10)) AS DOUBLE) AS y
         |  FROM zr WHERE r <= 100),
         |zm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ranks,
         |    CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy
         |  FROM zt GROUP BY 1)
         |SELECT source, n_ranks,
         |  ROUND((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 4) + 0.0 AS zipf_slope,
         |  ROUND((sy * sxx - sx * sxy) / (n_ranks * sxx - sx * sx), 4) + 0.0 AS intercept,
         |  ROUND(((n_ranks * sxy - sx * sy) * (n_ranks * sxy - sx * sy))
         |        / ((n_ranks * sxx - sx * sx) * (n_ranks * syy - sy * sy)), 4) + 0.0 AS r2
         |FROM zm""".stripMargin,
    // Spark exact `percentile` ≡ DuckDB quantile_cont (the
    // v_speed_percentiles convention), ROUND(,4).
    "t_length_quantiles" ->
      raw"""WITH d AS (SELECT source,
        |    len(string_split_regex(trim(COALESCE(text, '')), '\s+')) AS n
        |  FROM documents WHERE length(trim(COALESCE(text, ''))) > 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  ROUND(quantile_cont(n, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(n, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(n, 0.99), 4) AS p99
        |FROM d GROUP BY 1""".stripMargin,
    // Approx mode: GK exact regime below sketch capacity ⇒ value at
    // 1-based rank ⌈q·N⌉ of the ascending per-source lengths — the
    // d_dsir_threshold explicit-rank formula, per source and quantile.
    "t_length_quantiles_approx" ->
      raw"""WITH d AS (SELECT source,
        |    CAST(len(string_split_regex(trim(COALESCE(text, '')), '\s+')) AS BIGINT) AS n
        |  FROM documents WHERE length(trim(COALESCE(text, ''))) > 0),
        |r AS (SELECT source, n,
        |    row_number() OVER (PARTITION BY source ORDER BY n ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS cnt
        |  FROM d)
        |SELECT source, CAST(MAX(cnt) AS BIGINT) AS n_docs,
        |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN n END) AS BIGINT) AS p50,
        |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN n END) AS BIGINT) AS p90,
        |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT) THEN n END) AS BIGINT) AS p99
        |FROM r GROUP BY 1""".stripMargin,
    // Mirror of gopherRules: same regex counts (plain ASCII classes —
    // Java and RE2 agree), same int/int ROUND(,4) ratios, same ordered
    // CASE over the ROUNDED values.
    "t_gopher_rules" ->
      raw"""$toksCte,
        |m AS (SELECT doc_id, source,
        |  len(list_filter(toks, t -> t != '')) AS n_words,
        |  len(list_filter(toks, t -> t IN (${inListSql("en")}))) AS n_stop,
        |  length(regexp_replace(text, '\s', '', 'g')) AS n_word_chars,
        |  len(regexp_extract_all(text, '[^\s]*[A-Za-z][^\s]*')) AS n_alpha_words,
        |  len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
        |  len(regexp_extract_all(text, '\n')) + 1 AS n_lines,
        |  len(regexp_extract_all(text, '(^|\n)[ \t]*[-*] ')) AS n_bullet_lines,
        |  len(regexp_extract_all(text, '\.\.\.(\n|$$)')) AS n_ellipsis_lines
        |FROM toks),
        |r AS (SELECT doc_id, source, n_words, n_stop,
        |  ROUND(CAST(n_word_chars AS DOUBLE) / greatest(n_words, 1), 4) AS mean_word_len,
        |  ROUND(CAST(n_alpha_words AS DOUBLE) / greatest(n_words, 1), 4) AS alpha_frac,
        |  ROUND(CAST(n_symbols AS DOUBLE) / greatest(n_words, 1), 4) AS symbol_ratio,
        |  ROUND(CAST(n_bullet_lines AS DOUBLE) / n_lines, 4) AS bullet_frac,
        |  ROUND(CAST(n_ellipsis_lines AS DOUBLE) / n_lines, 4) AS ellipsis_frac
        |FROM m)
        |SELECT doc_id, source, n_words, mean_word_len, alpha_frac, symbol_ratio,
        |  bullet_frac, ellipsis_frac, n_stop,
        |  CASE WHEN n_words < 20 THEN 'too_few_words'
        |       WHEN n_words > 80 THEN 'too_many_words'
        |       WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'word_length'
        |       WHEN symbol_ratio > 0.1 THEN 'symbol_heavy'
        |       WHEN bullet_frac > 0.9 THEN 'bullet_heavy'
        |       WHEN ellipsis_frac > 0.3 THEN 'ellipsis_heavy'
        |       WHEN alpha_frac < 0.8 THEN 'low_alpha'
        |       WHEN n_stop < 2 THEN 'few_stopwords'
        |       ELSE 'keep' END AS verdict
        |FROM r""".stripMargin,
    // Mirror of bpeMerges: per-word adjacent codepoint pairs with
    // multiplicity (generate_series over positions), same '+' joiner
    // and (count desc, pair asc) tie-break. ASCII corpus ⇒ DuckDB
    // codepoint substr ≡ the kernel's UTF-16 charAt.
    "t_bpe_merges" ->
      s"""$toksCte,
         |w AS (SELECT unnest(list_filter(toks, t -> t != '')) AS w FROM toks),
         |p AS (SELECT substr(w, i, 1) || '+' || substr(w, i + 1, 1) AS pair
         |  FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
         |        FROM w WHERE length(w) >= 2))
         |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
         |FROM p GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    // Mirror of tfidfTopTerms: identical tf/df/N integers, the same
    // single double expression tf·ln(N/df), rank over (ROUNDED score
    // desc, term asc).
    "t_tfidf" ->
      s"""$toksCte,
         |w AS (SELECT doc_id, unnest(list_filter(toks, t -> t != '')) AS term
         |      FROM toks WHERE length(trim(COALESCE(text, ''))) > 0),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM w GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM w),
         |s AS (SELECT doc_id, term, tf, df,
         |    ROUND(tf * ln(CAST(nd AS DOUBLE) / df), 4) + 0.0 AS score
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nn)
         |SELECT doc_id, term, tf, df, score, CAST(rn AS INT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term ASC) AS rn FROM s)
         |WHERE rn <= 3""".stripMargin,
    // Mirror of codeDetect: same kernel token counts (list_filter), the
    // same ASCII regex classes, ratios ROUND(,4), ordered CASE over the
    // ROUNDED values.
    "t_code_detect" ->
      raw"""$toksCte,
         |m AS (SELECT doc_id, source,
         |  len(list_filter(toks, t -> t != '')) AS n_tokens,
         |  len(list_filter(toks, t -> t IN (${inListSql("en")}))) AS n_stop,
         |  len(list_filter(toks, t -> t IN (${inList(CodeKeywords)}))) AS n_keywords,
         |  len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS n_symbols,
         |  length(text) AS n_chars,
         |  len(regexp_extract_all(text, '\n')) + 1 AS n_lines,
         |  len(regexp_extract_all(text, '(^|\n)(  |\t)')) AS n_indent_lines
         |FROM toks),
         |r AS (SELECT doc_id, source, n_tokens, n_keywords, n_stop,
         |  ROUND(CAST(n_symbols AS DOUBLE) / greatest(n_chars, 1), 4) AS symbol_density,
         |  ROUND(CAST(n_indent_lines AS DOUBLE) / n_lines, 4) AS indent_frac,
         |  ROUND(CAST(n_keywords AS DOUBLE) / greatest(n_tokens, 1), 4) AS keyword_frac
         |FROM m)
         |SELECT doc_id, source, n_tokens, n_keywords, n_stop, symbol_density,
         |  indent_frac, keyword_frac,
         |  CASE WHEN symbol_density > 0.05 OR keyword_frac > 0.15
         |            OR indent_frac > 0.3 THEN 'code'
         |       WHEN n_keywords > 0 AND n_stop > 0 THEN 'mixed'
         |       ELSE 'prose' END AS verdict
         |FROM r""".stripMargin,
    // Mirror of sourceOutliers: the same 1e-4 integer quantization and
    // exact-integer moments — every double input identical by
    // construction.
    "t_source_outliers" ->
      s"""$toksCte,
         |per AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(list_filter(toks, t -> t != ''))) AS BIGINT) AS total_toks
         |  FROM toks GROUP BY 1),
         |q AS (SELECT source, n_docs, total_toks,
         |    CAST(ROUND((CAST(total_toks AS DOUBLE) / n_docs) * 10000) AS BIGINT) AS m_i
         |  FROM per),
         |g AS (SELECT CAST(SUM(m_i) AS BIGINT) AS sm,
         |    CAST(SUM(m_i * m_i) AS BIGINT) AS sm2,
         |    CAST(COUNT(*) AS BIGINT) AS n FROM q)
         |SELECT source, n_docs, total_toks,
         |  ROUND(CAST(total_toks AS DOUBLE) / n_docs, 4) + 0.0 AS mean_toks,
         |  CASE WHEN sqrt(greatest(CAST(sm2 AS DOUBLE) / n
         |           - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n), 0.0)) = 0.0
         |       THEN 0.0
         |       ELSE ROUND((m_i - CAST(sm AS DOUBLE) / n)
         |              / sqrt(greatest(CAST(sm2 AS DOUBLE) / n
         |                - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n), 0.0)), 4) + 0.0
         |       END AS z_score
         |FROM q CROSS JOIN g""".stripMargin,
    // Mirror of winnowFingerprints: same tokenization, the same md5 of
    // every positional 3-gram, window MIN over the same hex-string
    // total order, full windows only (i ≤ n_grams − (w−1)), DISTINCT.
    "t_winnow" ->
      raw"""$toksCte,
         |tt AS (SELECT doc_id, list_filter(toks, t -> t != '') AS t FROM toks),
         |g AS (SELECT doc_id, i,
         |    md5(array_to_string(t[i:i+2], ' ')) AS h,
         |    len(t) - 2 AS n_grams
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
         |        FROM tt WHERE len(t) >= 3)),
         |wmin AS (SELECT doc_id, i, n_grams,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM g)
         |SELECT DISTINCT doc_id, fp FROM wmin WHERE i <= n_grams - 3""".stripMargin,
    // Mirror of langConfusion: the t_langid CASE joined back to the
    // declared lang, counts + within-lang share over the tiny aggregate.
    "t_lang_confusion" ->
      s"""$toksCte,
         |h AS (SELECT doc_id,
         |  $langHitsSql
         |FROM toks),
         |p AS (SELECT doc_id,
         |  $langIdCaseSql AS lang_pred
         |FROM h),
         |c AS (SELECT d.lang, p.lang_pred, COUNT(*) AS n
         |  FROM documents d JOIN p ON d.doc_id = p.doc_id GROUP BY 1, 2)
         |SELECT lang, lang_pred, CAST(n AS BIGINT) AS n,
         |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang), 4) + 0.0 AS share
         |FROM c""".stripMargin,
    // Mirror of readability: identical regex counts and the SAME
    // literal association of the two formulas, ROUND(,4)+0.0.
    "t_readability" ->
      raw"""WITH m AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[^\s]+')) AS n_words,
        |  len(regexp_extract_all(text, '[.!?]+')) AS n_sentences,
        |  len(regexp_extract_all(text, '[AEIOUYaeiouy]+')) AS n_syllables
        |FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / greatest(n_sentences, 1))
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / greatest(n_words, 1)), 4) + 0.0 AS flesch,
        |  ROUND(0.39 * (CAST(n_words AS DOUBLE) / greatest(n_sentences, 1))
        |      + 11.8 * (CAST(n_syllables AS DOUBLE) / greatest(n_words, 1)) - 15.59, 4) + 0.0
        |    AS fk_grade
        |FROM m""".stripMargin,
    // Vocab = top-16 tokens by corpus frequency with the (freq desc,
    // token asc) tie-break — a deterministic SET on both engines; OOV
    // is a null-membership count, the rate ROUND(,4)+0.0.
    "t_vocab_coverage" ->
      raw"""WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(COALESCE(text, '')), '\s+') AS a
        |  FROM documents WHERE length(trim(COALESCE(text, ''))) > 0),
        |t AS (SELECT doc_id, unnest(a) AS w FROM d),
        |v AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM t GROUP BY 1
        |  ORDER BY c DESC, w ASC LIMIT 16))
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  ROUND(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) + 0.0 AS oov_rate
        |FROM t LEFT JOIN v ON t.w = v.w
        |GROUP BY 1""".stripMargin,
    // Per-term c·ln(c) doubles are identical on both engines (ln of an
    // integer-valued double); the DECIMAL(28,10) term cast makes the
    // SUM exact and order-free; ONE final double division per output,
    // ROUND(,4)+0.0 (entropy can be -0.0 from float error on
    // single-type docs — the +0.0 normalizes, same as q_corr).
    "t_token_entropy" ->
      raw"""WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(COALESCE(text, '')), '\s+') AS a
        |  FROM documents WHERE length(trim(COALESCE(text, ''))) > 0),
        |t AS (SELECT doc_id, unnest(a) AS w FROM d),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |agg AS (SELECT doc_id,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |      AS DECIMAL(28,10))) AS s
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        |  ROUND(ln(CAST(n_tokens AS DOUBLE)) - CAST(s AS DOUBLE) / n_tokens, 4)
        |    + 0.0 AS entropy,
        |  CASE WHEN n_types = 1 THEN 0.0
        |    ELSE ROUND((ln(CAST(n_tokens AS DOUBLE)) - CAST(s AS DOUBLE) / n_tokens)
        |      / ln(CAST(n_types AS DOUBLE)), 4) + 0.0 END AS norm_entropy
        |FROM agg""".stripMargin,
    // Every probability is a ratio of integer bigram/unigram counts
    // (the model trains on the corpus it scores, so c >= 1 always — no
    // smoothing constant to diverge on); ln terms go through
    // DECIMAL(28,10), one final double division, ROUND(,4)+0.0.
    "t_perplexity" ->
      raw"""WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(COALESCE(text, '')), '\s+') AS a
        |  FROM documents),
        |p AS (SELECT doc_id, a, unnest(generate_series(1, length(a) - 1)) AS i
        |  FROM d WHERE length(a) >= 2),
        |bg AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2 FROM p),
        |cbg AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |cug AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
        |scored AS (SELECT bg.doc_id,
        |    CAST(ln(CAST(c AS DOUBLE) / CAST(n1 AS DOUBLE)) AS DECIMAL(28,10)) AS lp
        |  FROM bg JOIN cbg USING (w1, w2) JOIN cug USING (w1)),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4) + 0.0 AS avg_logprob
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, avg_logprob,
        |  CASE WHEN avg_logprob >= -3.37 THEN 'fluent'
        |       WHEN avg_logprob >= -3.40 THEN 'typical'
        |       ELSE 'surprising' END AS lm_bucket
        |FROM agg""".stripMargin,
    // Same span CTE as d_span_dedup (k=8 here), eval side as a distinct
    // span set, NOT EXISTS anti-join, ORDER BY span_idx reassembly.
    // Same span CTEs as t_decontam_scrub; the scrub set is the spans
    // with ≥ 3 distinct-document occurrences (COUNT(DISTINCT doc_id)
    // — integer, nothing float to diverge on), removed from EVERY doc.
    "t_boilerplate" ->
      """WITH toks AS (
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
        |df AS (SELECT span, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY 1),
        |kept AS (
        |  SELECT s.doc_id, s.source, s.n_spans, s.span_idx, s.span
        |  FROM spans s JOIN df USING (span) WHERE df.df < 3)
        |SELECT doc_id, source, MAX(n_spans) AS n_spans,
        |  CAST(COUNT(*) AS INTEGER) AS n_kept,
        |  MAX(n_spans) - CAST(COUNT(*) AS INTEGER) AS n_dropped,
        |  string_agg(span, ' ' ORDER BY span_idx) AS clean_text
        |FROM kept GROUP BY 1, 2""".stripMargin,
    "t_decontam_scrub" ->
      """WITH toks AS (
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
        |ev AS (SELECT DISTINCT span FROM spans WHERE source = 'src19'),
        |kept AS (
        |  SELECT doc_id, source, n_spans, span_idx, span
        |  FROM spans s
        |  WHERE source <> 'src19'
        |    AND NOT EXISTS (SELECT 1 FROM ev WHERE ev.span = s.span))
        |SELECT doc_id, source, MAX(n_spans) AS n_spans,
        |  CAST(COUNT(*) AS INTEGER) AS n_kept,
        |  MAX(n_spans) - CAST(COUNT(*) AS INTEGER) AS n_dropped,
        |  string_agg(span, ' ' ORDER BY span_idx) AS clean_text
        |FROM kept GROUP BY 1, 2""".stripMargin,
    // Distinct (source, shingle) membership → per-gram fan-out bounded
    // by #sources; same shingle definition as the dedup family.
    "t_source_overlap" ->
      s"""${Dedup.shingleCte},
         |sg AS (SELECT DISTINCT source, g FROM (
         |    SELECT doc.source, unnest(d.sh) AS g
         |    FROM d JOIN documents doc ON d.doc_id = doc.doc_id)),
         |sizes AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY 1),
         |pairs AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
         |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
         |  ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) + 0.0 AS jaccard
         |FROM pairs JOIN sizes sa ON pairs.source_a = sa.source
         |           JOIN sizes sb ON pairs.source_b = sb.source""".stripMargin,
    "t_langid" ->
      s"""$toksCte,
         |h AS (SELECT doc_id,
         |  $langHitsSql
         |FROM toks)
         |SELECT doc_id, ${langOrder.map(l => s"${l}_hits").mkString(", ")},
         |  $langIdCaseSql AS lang_pred
         |FROM h""".stripMargin,
    // r14 CJK keys: the SAME generated bodies as their parents, over
    // the planted union (cjkToksCte) — segmentation, hits, argmax and
    // ratios all hash-exact on real zh/ja/ko text.
    "t_corpus_lang" ->
      s"""$cjkToksCte,
         |h AS (SELECT doc_id,
         |  len(list_filter(toks, t -> t != '')) AS n_tokens,
         |  $langHitsSql
         |FROM toks),
         |p AS (SELECT doc_id, n_tokens,
         |  $langIdCaseSql AS lang_pred
         |FROM h),
         |g AS (SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |  FROM p GROUP BY 1),
         |tt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM g)
         |SELECT lang_pred, n_docs, total_tokens,
         |  CAST((20000 * n_docs + n_total) // (2 * n_total) AS DOUBLE) / 10000.0
         |    AS doc_share
         |FROM g, tt""".stripMargin,
    "t_langid_cjk" ->
      s"""$cjkToksCte,
         |h AS (SELECT doc_id,
         |  $langHitsSql
         |FROM toks)
         |SELECT doc_id, ${langOrder.map(l => s"${l}_hits").mkString(", ")},
         |  $langIdCaseSql AS lang_pred
         |FROM h""".stripMargin,
    "t_quality_cjk" ->
      s"""$cjkToksCte,
         |h AS (SELECT doc_id,
         |  len(list_filter(toks, t -> t != '')) AS n_tokens,
         |  $langHitsSql
         |FROM toks),
         |q AS (SELECT doc_id, n_tokens,
         |  $langIdCaseSql AS lang_pred,
         |  GREATEST(${langOrder.map(l => s"${l}_hits").mkString(", ")}) AS n_stop_lang
         |FROM h)
         |SELECT doc_id, lang_pred, n_tokens, n_stop_lang,
         |  CAST((20000 * n_stop_lang + GREATEST(n_tokens, 1)) //
         |       (2 * GREATEST(n_tokens, 1)) AS DOUBLE) / 10000.0 AS stopword_ratio,
         |  CASE WHEN n_tokens >= 50 AND n_stop_lang > 0 THEN 'high'
         |       WHEN n_tokens >= 20 THEN 'medium'
         |       ELSE 'low' END AS quality_bucket
         |FROM q""".stripMargin,
    "t_tokens_cjk" ->
      s"""$cjkToksCte
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(len(list_filter(toks, t -> t != ''))) AS BIGINT) AS total_ws_tokens,
         |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT)
         |    AS total_bpe_tokens,
         |  ROUND(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS DOUBLE)
         |    / COUNT(*), 4) AS avg_bpe_per_doc
         |FROM toks GROUP BY 1""".stripMargin,
    // langIdScript mirror: per-codepoint class counts via
    // regexp_extract_all (single-char classes — non-overlapping BMP
    // matches equal Spark's regexp_count), then the fixed script rule
    // with the generated stopword CASE as fallback.
    "t_langid_script" ->
      (s"""$cjkToksCte,
         |h AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '""".stripMargin +
        raw"[\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}]')) AS BIGINT) AS n_han," + "\n" +
        raw"  CAST(len(regexp_extract_all(text, '[\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{ff66}-\x{ff9d}]')) AS BIGINT) AS n_kana," + "\n" +
        raw"  CAST(len(regexp_extract_all(text, '[\x{ac00}-\x{d7af}]')) AS BIGINT) AS n_hangul," + "\n" +
        raw"  CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04ff}]')) AS BIGINT) AS n_cyrillic," + "\n" +
        raw"  CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06ff}]')) AS BIGINT) AS n_arabic," + "\n" +
        raw"  CAST(len(regexp_extract_all(text, '[\x{0900}-\x{097f}]')) AS BIGINT) AS n_devanagari," + "\n" +
        s"""  $langHitsSql
         |FROM toks),
         |p AS (SELECT doc_id, n_han, n_kana, n_hangul,
         |  n_cyrillic, n_arabic, n_devanagari,
         |  $langIdCaseSql AS sw_pred
         |FROM h)
         |SELECT doc_id, n_han, n_kana, n_hangul,
         |  n_cyrillic, n_arabic, n_devanagari,
         |  CASE WHEN n_kana > 0 THEN 'ja'
         |       WHEN n_hangul > 0 THEN 'ko'
         |       WHEN n_han > 0 THEN 'zh'
         |       WHEN n_cyrillic > 0 THEN 'ru'
         |       WHEN n_arabic > 0 THEN 'ar'
         |       WHEN n_devanagari > 0 THEN 'hi'
         |       ELSE sw_pred END AS lang_pred
         |FROM p""".stripMargin),
    // Mirror of qualityModel (r15): the shared NB log-odds chain
    // (Sampling.nbLogOddsSql — target src0, nothing excluded), tercile
    // cuts by explicit rank ⌈q·n⌉ over the ascending ROUND(,4) scores
    // (the d_dsir_threshold exact-rank contract at q = 1/3, 2/3), the
    // same ≥-CASE.
    "t_quality_model" -> {
      val qmSql = Sampling.nbLogOddsSql("src0", excludeTarget = false, "q_score")
      s"""WITH w AS (SELECT * FROM ($qmSql)),
         |r AS (SELECT q_score,
         |    row_number() OVER (ORDER BY q_score ASC) AS rn,
         |    COUNT(*) OVER () AS n
         |  FROM w),
         |t1 AS (SELECT q_score AS tau FROM r
         |  WHERE rn = CAST(ceil(${1.0 / 3.0} * n) AS BIGINT)),
         |t2 AS (SELECT q_score AS tau FROM r
         |  WHERE rn = CAST(ceil(${2.0 / 3.0} * n) AS BIGINT))
         |SELECT w.doc_id, w.source, w.n_feats, w.q_score,
         |  CASE WHEN w.q_score >= t2.tau THEN 'head'
         |       WHEN w.q_score >= t1.tau THEN 'middle'
         |       ELSE 'tail' END AS q_bucket
         |FROM w, t1, t2""".stripMargin
    },
    // qualityModelCurveFromScores mirror via the shared generator.
    "t_quality_model_curve" ->
      Sampling.budgetCurveSql(
        Sampling.nbLogOddsSql("src0", excludeTarget = false, "q_score"),
        "q_score", Seq(0.05, 0.1, 0.2, 0.5), "mean_q_score"),
    // Mirror of qualityByLang: the generated hits/CASE fragments (the
    // t_langid mirror) + greatest-hits stopword signal + the t_quality
    // thresholds.
    "t_quality_lang" ->
      s"""$toksCte,
         |h AS (SELECT doc_id,
         |  len(list_filter(toks, t -> t != '')) AS n_tokens,
         |  $langHitsSql
         |FROM toks),
         |q AS (SELECT doc_id, n_tokens,
         |  $langIdCaseSql AS lang_pred,
         |  GREATEST(${langOrder.map(l => s"${l}_hits").mkString(", ")}) AS n_stop_lang
         |FROM h)
         |SELECT doc_id, lang_pred, n_tokens, n_stop_lang,
         |  CAST((20000 * n_stop_lang + GREATEST(n_tokens, 1)) //
         |       (2 * GREATEST(n_tokens, 1)) AS DOUBLE) / 10000.0 AS stopword_ratio,
         |  CASE WHEN n_tokens >= 50 AND n_stop_lang > 0 THEN 'high'
         |       WHEN n_tokens >= 20 THEN 'medium'
         |       ELSE 'low' END AS quality_bucket
         |FROM q""".stripMargin,
    "t_quality" ->
      s"""$toksCte,
         |m AS (SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(list_filter(toks, t -> t != '')) AS n_tokens,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         |  len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
         |  len(list_filter(toks, t -> t IN (${inListSql("en")}))) AS n_stop
         |FROM toks)
         |SELECT doc_id, n_chars, n_tokens, n_punct, n_upper, n_stop,
         |  ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4) AS punct_ratio,
         |  ROUND(CAST(n_upper AS DOUBLE) / greatest(n_chars, 1), 4) AS upper_ratio,
         |  ROUND(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) AS stopword_ratio,
         |  CASE WHEN n_tokens >= 50 AND n_stop > 0 THEN 'high'
         |       WHEN n_tokens >= 20 THEN 'medium'
         |       ELSE 'low' END AS quality_bucket
         |FROM m""".stripMargin,
    "t_tokens" ->
      s"""$toksCte
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(len(list_filter(toks, t -> t != ''))) AS BIGINT) AS total_ws_tokens,
         |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT)
         |    AS total_bpe_tokens,
         |  ROUND(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS DOUBLE)
         |    / COUNT(*), 4) AS avg_bpe_per_doc
         |FROM toks GROUP BY 1""".stripMargin,
    "t_ngram_stats" ->
      s"""${Dedup.shingleCte}
         |SELECT shingle, COUNT(*) AS df
         |FROM (SELECT unnest(sh) AS shingle FROM d)
         |GROUP BY 1 ORDER BY df DESC, shingle ASC LIMIT 20""".stripMargin,
    // The sketch path must produce the exact top-k in the heavy-hitter
    // regime (candidate threshold N/m ≪ the top-k dfs here), so it
    // shares the exact form's oracle verbatim.
    "t_ngram_topk" ->
      s"""${Dedup.shingleCte}
         |SELECT shingle, COUNT(*) AS df
         |FROM (SELECT unnest(sh) AS shingle FROM d)
         |GROUP BY 1 ORDER BY df DESC, shingle ASC LIMIT 20""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    // Mirror of filterPipeline: the t_quality/t_langid/t_repetition/
    // t_lexical_div formulas composed into the same ordered CASE.
    "t_filter_pipeline" ->
      s"""$filterVerdictCte
         |SELECT doc_id, source, n_tokens, dup_ratio, top_ratio, ttr, verdict
         |FROM fv""".stripMargin,
    // qualityCurve mirror: the same signal chain (filterVerdictCte's
    // `j` carries n_stop_all), one conditional-sum pair per candidate
    // threshold off a single aggregate row, unioned per threshold.
    "t_quality_curve" ->
      (s"""$filterVerdictCte,
          |op AS (SELECT n_tokens,
          |    (n_stop_all > 0 AND NOT (dup_ratio > 0.3 OR top_ratio > 0.2)
          |     AND NOT (ttr < 0.3)) AS other_pass
          |  FROM j),
          |qf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          |    ${Seq(10, 20, 50, 100).flatMap(k => Seq(
                 s"CAST(COALESCE(SUM(CASE WHEN other_pass AND n_tokens >= $k THEN 1 ELSE 0 END), 0) AS BIGINT) AS k$k",
                 s"CAST(COALESCE(SUM(CASE WHEN other_pass AND n_tokens >= $k THEN n_tokens ELSE 0 END), 0) AS BIGINT) AS t$k"))
                 .mkString(",\n    ")}
          |  FROM op)
          |""".stripMargin +
        Seq(10, 20, 50, 100).map(k =>
          s"""SELECT CAST($k AS INT) AS min_tokens, k$k AS n_keep, n_docs,
             |  (CASE WHEN n_docs = 0 THEN 0.0 ELSE
             |    CAST((20000 * k$k + n_docs) // (2 * n_docs) AS DOUBLE) / 10000.0 END)
             |    + 0.0 AS keep_frac,
             |  t$k AS tokens_kept
             |FROM qf""".stripMargin).mkString("\nUNION ALL\n")),
    // Mirror of corpusReport over the same verdict CTE + a per-source
    // exact hash-distinct count.
    "t_corpus_report" ->
      s"""$filterVerdictCte,
         |v AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |    CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |  FROM fv GROUP BY 1),
         |h AS (SELECT source,
         |    COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS n_unique_texts
         |  FROM documents GROUP BY 1)
         |SELECT v.source, v.n_docs, v.total_tokens, h.n_unique_texts,
         |  ROUND(1.0 - CAST(h.n_unique_texts AS DOUBLE) / v.n_docs, 4) AS dup_frac,
         |  v.n_keep,
         |  ROUND(CAST(v.n_keep AS DOUBLE) / v.n_docs, 4) AS keep_frac
         |FROM v JOIN h USING (source)""".stripMargin,
    // corpusDriftFromCards mirror: same snapshot fixture (doc_id % 50), same
    // exact-integer half-away ratios (// and DIV agree — non-negative
    // operands only), same IEEE delta of identical doubles.
    "t_corpus_drift" ->
      s"""WITH cdp AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
         |cdpa AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS d_prev,
         |    CAST(SUM(n_chars) AS BIGINT) AS c_prev FROM cdp GROUP BY 1),
         |cdca AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS d_cur,
         |    CAST(SUM(n_chars) AS BIGINT) AS c_cur FROM documents GROUP BY 1),
         |cdtp AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_prev FROM cdp),
         |cdtc AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_cur FROM documents),
         |cdj AS (SELECT COALESCE(cdpa.source, cdca.source) AS source,
         |    COALESCE(d_prev, 0) AS docs_prev, COALESCE(d_cur, 0) AS docs_cur,
         |    COALESCE(c_prev, 0) AS chars_prev, COALESCE(c_cur, 0) AS chars_cur,
         |    t_prev, t_cur
         |  FROM cdpa FULL OUTER JOIN cdca ON cdpa.source = cdca.source, cdtp, cdtc)
         |SELECT source, docs_prev, docs_cur,
         |  docs_cur - docs_prev AS docs_delta,
         |  (CASE WHEN t_prev = 0 THEN 0.0 ELSE
         |    CAST((20000 * docs_prev + t_prev) // (2 * t_prev) AS DOUBLE) / 10000.0 END)
         |    + 0.0 AS share_prev,
         |  (CASE WHEN t_cur = 0 THEN 0.0 ELSE
         |    CAST((20000 * docs_cur + t_cur) // (2 * t_cur) AS DOUBLE) / 10000.0 END)
         |    + 0.0 AS share_cur,
         |  ((CASE WHEN t_cur = 0 THEN 0.0 ELSE
         |    CAST((20000 * docs_cur + t_cur) // (2 * t_cur) AS DOUBLE) / 10000.0 END)
         |   - (CASE WHEN t_prev = 0 THEN 0.0 ELSE
         |    CAST((20000 * docs_prev + t_prev) // (2 * t_prev) AS DOUBLE) / 10000.0 END))
         |    + 0.0 AS share_delta,
         |  (CASE WHEN docs_prev = 0 THEN 0.0 ELSE
         |    CAST((20000 * chars_prev + docs_prev) // (2 * docs_prev) AS DOUBLE) / 10000.0 END)
         |    + 0.0 AS mean_chars_prev,
         |  (CASE WHEN docs_cur = 0 THEN 0.0 ELSE
         |    CAST((20000 * chars_cur + docs_cur) // (2 * docs_cur) AS DOUBLE) / 10000.0 END)
         |    + 0.0 AS mean_chars_cur
         |FROM cdj""".stripMargin,
    "t_repetition" ->
      s"""$toksCte,
         |tri AS (SELECT doc_id,
         |    list_transform(generate_series(1, len(toks) - 2),
         |      i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) AS tg
         |  FROM toks WHERE len(toks) >= 3),
         |mx AS (SELECT doc_id, MAX(c) AS max_freq FROM (
         |    SELECT doc_id, g, COUNT(*) AS c
         |    FROM (SELECT doc_id, unnest(tg) AS g FROM tri) GROUP BY 1, 2)
         |  GROUP BY 1),
         |base AS (SELECT t.doc_id,
         |    CAST(len(t.tg) AS INT) AS n_trigrams,
         |    CAST(len(list_distinct(t.tg)) AS INT) AS n_distinct,
         |    CAST(mx.max_freq AS INT) AS max_freq
         |  FROM tri t JOIN mx ON t.doc_id = mx.doc_id)
         |SELECT doc_id, n_trigrams, n_distinct, max_freq,
         |  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams, 4) AS dup_ratio,
         |  ROUND(CAST(max_freq AS DOUBLE) / n_trigrams, 4) AS top_ratio,
         |  CASE WHEN ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams, 4) > 0.3
         |         OR ROUND(CAST(max_freq AS DOUBLE) / n_trigrams, 4) > 0.2
         |       THEN 'repetitive' ELSE 'ok' END AS rep_flag
         |FROM base""".stripMargin,
    "t_pii_scrub" -> {
      val Seq(em, ph, ip) = PiiPatterns.map(_._2)
      // mirrors the sequential-count semantics: phone counted on the
      // email-scrubbed text, ip on the phone-scrubbed text
      s"""WITH s AS (SELECT doc_id, text,
         |    regexp_replace(text, '$em', '<email>', 'g') AS after_email
         |  FROM documents),
         |s2 AS (SELECT doc_id, text, after_email,
         |    regexp_replace(after_email, '$ph', '<phone>', 'g') AS after_phone
         |  FROM s)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(after_email, '$ph')) AS INT) AS n_phone,
         |  CAST(len(regexp_extract_all(after_phone, '$ip')) AS INT) AS n_ip,
         |  md5(regexp_replace(after_phone, '$ip', '<ip>', 'g')) AS clean_md5
         |FROM s2""".stripMargin
    },
    "t_lexical_div" ->
      s"""$toksCte,
         |m AS (SELECT doc_id,
         |    CAST(len(list_filter(toks, t -> t != '')) AS INT) AS n_tokens,
         |    CAST(len(list_distinct(list_filter(toks, t -> t != ''))) AS INT) AS n_distinct
         |  FROM toks)
         |SELECT doc_id, n_tokens, n_distinct,
         |  ROUND(CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1), 4) AS ttr,
         |  CASE WHEN n_tokens >= 20
         |         AND ROUND(CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1), 4) < 0.3
         |       THEN 'templated' ELSE 'ok' END AS div_flag
         |FROM m""".stripMargin,
    "t_decontaminate" -> decontaminateOracle,
    // decontamCurve mirror: the same hit-mining chain WITHOUT the
    // threshold filter, then one conditional sum per candidate k off
    // the single aggregate row, corpus total as a scalar CTE.
    "t_decontam_curve" ->
      (s"""${Dedup.shingleCte},
          |ev AS (SELECT DISTINCT g FROM (
          |    SELECT unnest(d.sh) AS g
          |    FROM d JOIN documents doc ON d.doc_id = doc.doc_id
          |    WHERE doc.source = 'src19')),
          |corpus AS (SELECT d.doc_id, doc.source, unnest(d.sh) AS g
          |  FROM d JOIN documents doc ON d.doc_id = doc.doc_id
          |  WHERE doc.source != 'src19'),
          |h AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
          |  FROM corpus c JOIN ev ON c.g = ev.g GROUP BY 1),
          |fl AS (SELECT
          |    ${Seq(1, 2, 4, 8).map(k =>
                 s"CAST(COALESCE(SUM(CASE WHEN n_hits >= $k THEN 1 ELSE 0 END), 0) AS BIGINT) AS f$k")
                 .mkString(",\n    ")}
          |  FROM h),
          |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM documents WHERE source != 'src19')
          |""".stripMargin +
        Seq(1, 2, 4, 8).map(k =>
          s"""SELECT CAST($k AS INT) AS min_hits, f$k AS n_flagged, n_docs,
             |  (CASE WHEN n_docs = 0 THEN 0.0 ELSE
             |    CAST((20000 * f$k + n_docs) // (2 * n_docs) AS DOUBLE) / 10000.0 END)
             |    + 0.0 AS flagged_frac
             |FROM fl, tot""".stripMargin).mkString("\nUNION ALL\n")),
    // the Bloom path is exact (no false negatives by construction, false
    // positives removed by the verify join) — same oracle, hash-checked
    "t_decontam_bloom" -> decontaminateOracle,
    "t_contam_report" ->
      s"""${Dedup.shingleCte},
         |ev AS (SELECT DISTINCT doc.source AS eval_source, g FROM (
         |    SELECT d.doc_id, unnest(d.sh) AS g FROM d) u
         |  JOIN documents doc ON u.doc_id = doc.doc_id
         |  WHERE doc.source IN ('src18', 'src19')),
         |corpus AS (SELECT d.doc_id, doc.source, unnest(d.sh) AS g
         |  FROM d JOIN documents doc ON d.doc_id = doc.doc_id
         |  WHERE doc.source NOT IN ('src18', 'src19'))
         |SELECT c.doc_id, c.source, ev.eval_source, COUNT(*) AS n_hits
         |FROM corpus c JOIN ev ON c.g = ev.g
         |GROUP BY 1, 2, 3
         |HAVING COUNT(*) >= 2""".stripMargin)

  /** Shared DuckDB CTE: per-doc filter verdict (`fv`) — the
    * t_quality/t_langid/t_repetition/t_lexical_div formulas composed
    * into filterPipeline's ordered CASE. */
  private lazy val filterVerdictCte =
    s"""$toksCte,
       |m AS (SELECT doc_id, source,
       |    CAST(len(list_filter(toks, t -> t != '')) AS INT) AS n_tokens,
       |    CAST(len(list_distinct(list_filter(toks, t -> t != ''))) AS INT) AS tok_distinct,
       |    ${langOrder.map(l =>
               s"len(list_filter(toks, t -> t IN (${inListSql(l)})))")
               .mkString("\n      + ")} AS n_stop_all
       |  FROM toks),
       |tri AS (SELECT doc_id,
       |    list_transform(generate_series(1, len(toks) - 2),
       |      i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) AS tg
       |  FROM toks WHERE len(toks) >= 3),
       |mx AS (SELECT doc_id, MAX(c) AS max_freq FROM (
       |    SELECT doc_id, g, COUNT(*) AS c
       |    FROM (SELECT doc_id, unnest(tg) AS g FROM tri) GROUP BY 1, 2)
       |  GROUP BY 1),
       |rep AS (SELECT t.doc_id, len(t.tg) AS n_trigrams,
       |    len(list_distinct(t.tg)) AS n_distinct, mx.max_freq
       |  FROM tri t JOIN mx ON t.doc_id = mx.doc_id),
       |j AS (SELECT m.doc_id, m.source, m.n_tokens, m.n_stop_all,
       |    CASE WHEN COALESCE(rep.n_trigrams, 0) > 0
       |         THEN ROUND(1.0 - CAST(rep.n_distinct AS DOUBLE) / rep.n_trigrams, 4)
       |         ELSE 0.0 END AS dup_ratio,
       |    CASE WHEN COALESCE(rep.n_trigrams, 0) > 0
       |         THEN ROUND(CAST(rep.max_freq AS DOUBLE) / rep.n_trigrams, 4)
       |         ELSE 0.0 END AS top_ratio,
       |    ROUND(CAST(m.tok_distinct AS DOUBLE) / greatest(m.n_tokens, 1), 4) AS ttr
       |  FROM m LEFT JOIN rep ON m.doc_id = rep.doc_id),
       |fv AS (SELECT doc_id, source, n_tokens, dup_ratio, top_ratio, ttr,
       |  CASE WHEN n_tokens < 20 THEN 'too_short'
       |       WHEN n_stop_all = 0 THEN 'no_stopwords'
       |       WHEN dup_ratio > 0.3 OR top_ratio > 0.2 THEN 'repetitive'
       |       WHEN ttr < 0.3 THEN 'templated'
       |       ELSE 'keep' END AS verdict
       |FROM j)""".stripMargin

  private lazy val decontaminateOracle =
    s"""${Dedup.shingleCte},
       |ev AS (SELECT DISTINCT g FROM (
       |    SELECT unnest(d.sh) AS g
       |    FROM d JOIN documents doc ON d.doc_id = doc.doc_id
       |    WHERE doc.source = 'src19')),
       |corpus AS (SELECT d.doc_id, doc.source, unnest(d.sh) AS g
       |  FROM d JOIN documents doc ON d.doc_id = doc.doc_id
       |  WHERE doc.source != 'src19')
       |SELECT c.doc_id, c.source, COUNT(*) AS n_hits
       |FROM corpus c JOIN ev ON c.g = ev.g
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= 2""".stripMargin
}
