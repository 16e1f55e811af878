package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextKernels}

/** Deduplication operators for a large-scale training-data pipeline
  * (SURVEY.md §2.3 / §5), over a `documents(doc_id, text, …)` table.
  *
  * Scale design — the invariant across all five operators is that NOTHING
  * is O(n²) in the corpus:
  *  - exact dedup: one hash-shuffle groupBy on a 128-bit content hash.
  *  - MinHash/LSH: signatures are computed scan-side (no shuffle), band
  *    buckets via `posexplode`-style explode, and the self-join shuffles
  *    on (band, bucket-hash) — pair work is proportional to collisions,
  *    never to n².
  *  - SimHash: 64-bit fingerprints scan-side; the hamming-≤3 pair search
  *    blocks on 16-bit fingerprint chunks (pigeonhole: ≤3 flipped bits
  *    over 4 chunks ⇒ at least one chunk equal), so only same-chunk
  *    pairs are compared.
  *  - n-gram Jaccard: EXACT jaccard via a shingle inverted index — a
  *    pair is generated once per shared shingle and counted, so work is
  *    O(Σ shingle-collisions). For skewed corpora, drop
  *    ultra-frequent shingles with `dfCap` (they only generate candidate
  *    pairs that verification would reject anyway).
  *  - embedding near-dup: pairs bucketed by a partition key (`label`),
  *    cosine via the codegen'd `graft_cosine` expression.
  */
object Dedup {

  /** Whitespace-collapsed, trimmed, lower-cased text — the normalization
    * every text-dedup operator shares. */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Word tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** doc_id + distinct 3-gram shingle set (docs with <3 tokens drop out).
    *
    * `graft_shingles` is a native codegen expression (GraftFunctions);
    * the equivalent `transform`/`array_distinct` higher-order pipeline is
    * CodegenFallback and benched ~100× slower at sf0.1 — on the scan-side
    * hot path that difference decides whether dedup is scan-bound or
    * CPU-bound at 100 TB. */
  def shingled(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), GraftFunctions.shingles(col("text")).as("shingles"))
      .filter(hasShingles(col("shingles")))

  /** Only documents with at least one shingle have a MinHash signature. */
  private def hasShingles(shingles: Column): Column = size(shingles) > 0

  /** The stored fingerprint of a text column: md5 of the normalized text. */
  private def fingerprint(text: Column): Column = md5(normText(text))

  /** The stored MinHash signature of a shingle set. */
  private def signature(shingles: Column): Column = GraftFunctions.minhash(shingles)

  /** Content fingerprint per document: `(doc_id, norm_hash)` — the
    * md5 of the normalized text. Alongside the MinHash signature table,
    * this is the second corpus-derived column a 100 TB ingest pipeline
    * materializes once (Store.saveDocFingerprints) so that admitting a
    * batch never re-reads corpus text. */
  def docFingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), fingerprint(col("text")).as("norm_hash"))

  /** `documents` plus both stored derived columns: `norm_hash` (the
    * [[docFingerprints]] column) and `sig` (the [[minhashSignatures]]
    * column, null for a document without shingles — the rows that
    * table leaves out). Lets a writer that already holds the documents
    * (the ingest gate's admitted rows) append fingerprint and signature
    * rows without deriving them from the stored corpus. The shingle set
    * feeds two expressions, so the optimizer keeps it in its own
    * projection and tokenizes each document once. */
  private[graft] def withStoredColumns(documents: DataFrame): DataFrame =
    documents
      .withColumn("norm_hash", fingerprint(col("text")))
      .withColumn("shingles", GraftFunctions.shingles(col("text")))
      .withColumn("sig", when(hasShingles(col("shingles")), signature(col("shingles"))))
      .drop("shingles")

  /** Exact dedup by normalized content hash: keep the smallest doc_id per
    * group. One map-side-combined hash aggregate — the cheapest possible
    * dedup at 100 TB (the 128-bit hash shuffles, the text does not). */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(normText(col("text"))).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** [[exactDedup]] keyed on the CANONICAL fingerprint — Unicode NFC +
    * control strip + whitespace collapse (`graft_normalize_text`) +
    * case fold, so "é" composed and "e"+combining-accent, control-char
    * -padded copies, and reformatted whitespace all land in ONE dup
    * class (the plain norm_hash treats them as distinct documents —
    * exactly the mojibake-duplication web corpora carry). Same plan
    * shape as [[exactDedup]]: one scan-side codegen hash, one
    * map-side-combined aggregate. */
  def exactDedupCanonical(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        md5(lower(GraftFunctions.normalizeText(coalesce(col("text"), lit("")))))
          .as("canon_hash"))
      .groupBy(col("canon_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Duplicate-aware DOWNWEIGHTING (the SoftDeDup alternative to hard
    * removal): every document stays in the corpus, but carries a
    * sampling weight `1/n_copies` of its exact-dup (normalized-md5)
    * class, so a 1000-copy boilerplate page contributes one document's
    * worth of expected tokens while unique text keeps weight 1. The
    * training sampler consumes the weight column directly; composing
    * with [[Sampling]]'s md5-threshold membership keeps selection
    * deterministic. One window count over the same hash shuffle as
    * [[exactDedup]] — the text never moves, no second join pass. */
  def softDedupWeights(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("norm_hash"))
    documents
      .select(col("doc_id"), md5(normText(col("text"))).as("norm_hash"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("weight", round(lit(1.0) / col("n_copies"), 4) + lit(0.0))
  }

  /** The dedup a pipeline actually applies: keep only each group's
    * surviving row (min doc_id per normalized-content hash). Implemented
    * as groupBy + min + semi-join back — two hash shuffles on compact
    * keys, never a window over the full corpus. */
  def dedupDocuments(documents: DataFrame): DataFrame = {
    val keep = documents
      .select(col("doc_id"), md5(normText(col("text"))).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    documents.join(keep, Seq("doc_id"), "left_semi")
  }

  /** MinHash signatures (128 permutations, native `graft_minhash`
    * codegen expression: one FNV-1a base hash per shingle + 128
    * universal-hash permutations) + LSH banding (`bands` bands of
    * `128/bands` rows) → near-dup CANDIDATE pairs.
    *
    * Signatures are computed entirely scan-side; candidates come from an
    * equi-join on (band, band-hash): the shuffle carries one row per
    * (doc, band), and pair generation is proportional to actual bucket
    * collisions — never O(n²). With 32 bands of 4, the candidate
    * probability is ~1−(1−J⁴)³² (J=0.5 → 0.88, J=0.8 → 1−ε). */
  /** MinHash signature table: `(doc_id, sig array<bigint>[128])` — the
    * intermediate a 100 TB pipeline should MATERIALIZE (parquet/Delta):
    * it is ~1% of corpus bytes, amortizes signature computation across
    * dedup runs, and spares candidate generation the second corpus scan
    * its self-join otherwise costs (see SCALING.md). */
  def minhashSignatures(documents: DataFrame): DataFrame =
    shingled(documents).select(col("doc_id"), signature(col("shingles")).as("sig"))

  /** LSH band buckets of a signature table: one (doc_id, band, bhash)
    * row per (doc, band) — the shared candidate-generation intermediate
    * for both self-join ([[minhashCandidatesFromSignatures]]) and
    * cross-corpus ([[crossDedupFromSignatures]]) dedup. */
  private def bandBuckets(signatures: DataFrame, bands: Int): DataFrame = {
    val numPerms = 128
    require(bands > 0 && numPerms % bands == 0, "bands must be positive and divide 128")
    val r = numPerms / bands
    val bandSql =
      s"""transform(sequence(0, ${bands - 1}),
         |  b -> struct(b AS band, hash(${(0 until r).map(i => s"sig[$r * b + $i]").mkString(", ")}) AS bhash))""".stripMargin
    signatures
      .select(col("doc_id"), explode(expr(bandSql)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bhash").as("bhash"))
  }

  /** MinHash/LSH candidate pairs (doc_a < doc_b) off a signature table:
    * [[minhashSignatures]] in-plan, or the Catalog-cached or stored
    * table the driver keys and the ingest gate read.
    *
    * The multi-band collision fan-in is collapsed by `.distinct()` — and
    * that is the RIGHT plan here, measured: the distinct's partial
    * aggregation dedups the ~20×-collided pair stream MAP-SIDE before
    * its narrow (16-byte) rows ever shuffle. Least-shared-band emission
    * (each row carrying the 32-int band vector, the canopy-pair trick)
    * was measured instead: pushing those arrays through the self-join's
    * build side read 7.5 → 233 s at the 100k stress point. The trick
    * only pays when the carried block key is tiny (canopies: 2 ints;
    * simhash: the fingerprint already on the row); with 32 bands the
    * map-side-combined distinct wins. */
  def minhashCandidatesFromSignatures(signatures: DataFrame, bands: Int = 32): DataFrame = {
    val buckets = bandBuckets(signatures, bands)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** 64-bit SimHash fingerprint per document, computed scan-side: each
    * token votes ±1 on every bit of its FNV-1a hash; the fingerprint
    * takes the sign of each bit's tally (native `graft_simhash` codegen
    * expression — the equivalent `aggregate`/`zip_with` pipeline is
    * CodegenFallback and orders of magnitude slower). */
  def simhashFingerprints(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0 && !(size(col("toks")) === 1 && col("toks").getItem(0) === ""))
      .select(col("doc_id"), GraftFunctions.simhash(col("toks")).as("simhash"))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (default 3).
    *
    * Pair search blocks on the fingerprint's four 16-bit chunks: any pair
    * within hamming 3 of 64 bits must agree exactly on ≥1 chunk
    * (pigeonhole), so the join is an equi-join on (chunk-index, chunk
    * value) and only collisions pay the `graft_hamming64` check (one
    * codegen'd `Long.bitCount(a^b)`). */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "16-bit chunk blocking is exact only for hamming <= 3")
    val chunkSql =
      "transform(sequence(0, 3), c -> struct(c AS c, (shiftright(simhash, 16 * c) & 65535L) AS cv))"
    val chunks = simhashFingerprints(documents)
      .select(col("doc_id"), col("simhash"), explode(expr(chunkSql)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c").as("c"), col("ch.cv").as("cv"))
    // pairs agreeing on SEVERAL chunks are not collapsed by a
    // .distinct() (it would re-shuffle the whole pair frame): the least
    // matching chunk is derivable scan-side from the two fingerprints
    // (a codegen when-chain over the four 16-bit comparisons), so each
    // pair is emitted from exactly one chunk and the join output never
    // re-shuffles (the `Similarity.canopyCandidatePairs` least-shared-canopy note).
    def chunkEq(i: Int) =
      shiftright(col("a.simhash"), 16 * i).bitwiseAND(lit(65535L)) ===
        shiftright(col("b.simhash"), 16 * i).bitwiseAND(lit(65535L))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.c") ===
        when(chunkEq(0), 0L).when(chunkEq(1), 1L).when(chunkEq(2), 2L).otherwise(3L))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .withColumn("hamming", GraftFunctions.hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** SimHash hamming-radius CURVE — the TEXT twin of m_phash_curve,
    * completing the radius-tuning pair across both fingerprint
    * modalities (the knob a simhash rollout owns: radius 0 = exact
    * fingerprint collisions only, radius 3 = the widest set the
    * 16-bit-chunk blocking certifies complete; too tight misses
    * paraphrase-level dups, too loose drags in topical neighbors):
    * per radius r ∈ {0..3}, the verified pair count and the distinct
    * documents those pairs touch.
    *
    * Plan (the m_phash_curve recipe): the pair set is mined ONCE at
    * the widest radius (the d_simhash plan — chunk-blocked, never
    * all-pairs) and localCheckpointed; every radius is then a
    * conditional sum + conditional distinct count over that frame, so
    * adding radii is free and the mining cost is identical to the
    * base operator's at any corpus size. */
  def simhashCurve(documents: DataFrame, radii: Seq[Int] = Seq(0, 1, 2, 3)): DataFrame = {
    require(radii.nonEmpty && radii.max <= 3,
      "16-bit-chunk blocking is exact only for hamming <= 3 (pigeonhole over 4 chunks)")
    val pairs = DupClusters.materialize(simhashPairs(documents, radii.max))
    val pairAggs = radii.map(r =>
      sum(when(col("hamming") <= r, 1L).otherwise(0L)).as(s"p$r"))
    val cnt = pairs.agg(pairAggs.head, pairAggs.tail: _*)
    val docAggs = radii.map(r =>
      countDistinct(when(col("hamming") <= r, col("doc"))).as(s"d$r"))
    val docsAgg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"), col("hamming"))
      .agg(docAggs.head, docAggs.tail: _*)
    val stackArgs = radii.map(r => s"$r, coalesce(p$r, 0L), d$r").mkString(", ")
    cnt.crossJoin(broadcast(docsAgg))
      .selectExpr(
        s"stack(${radii.size}, $stackArgs) AS (max_hamming, n_pairs, n_docs)")
  }

  /** EXACT 3-gram Jaccard ≥ τ near-dup pairs over a `(doc_id, len,
    * shingle)` inverted index: equi-join on the shingle, count shared
    * shingles per pair — any pair with J > 0 shares a shingle, so
    * nothing above the threshold is missed, and no all-pairs product is
    * ever formed. The `d_ngram_jaccard` key reads the session's
    * `Catalog.shingleIndex`; a direct caller builds the index with
    * [[shingleIndexFrom]] (and [[shingleIndexCapped]] for the skew
    * guard) and owns its caching. Over a capped index the result is the
    * exact jaccard of the sub-cap shingle sets — still an approximation
    * of full-vocabulary jaccard near τ; for certified-exact recall on
    * skewed corpora use [[nearDupPairs]]. */
  def ngramJaccardPairsFromIndex(inverted: DataFrame, tau: Double = 0.8): DataFrame =
    inverted.as("a")
      .join(inverted.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.len").as("la"), col("b.len").as("lb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter") / (col("la") + col("lb") - col("inter")))
      .filter(round(col("jaccard"), 4) >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** The uncapped `(doc_id, len, shingle)` index fan-out over a
    * `(doc_id, shingles)` tokenized frame — the one index shape the
    * exact-overlap measures ([[ngramJaccardPairsFromIndex]],
    * [[containmentPairsFromIndex]], [[dedupCurveFromIndex]]) read, so
    * they cannot desynchronize on what "the shingle universe" means.
    * `Catalog.shingleIndex` materializes it once per session. */
  def shingleIndexFrom(shingledDocs: DataFrame): DataFrame =
    shingledDocs.select(col("doc_id"), size(col("shingles")).as("len"),
      explode(col("shingles")).as("shingle"))

  /** The dfCap skew guard over an (ideally already materialized)
    * uncapped index: drop shingles appearing in more than `cap`
    * documents (a shingle in 10⁶ docs generates 10¹² pair-rows) and
    * recount each document's set size over the capped vocabulary, so
    * every downstream measure is the exact jaccard/containment of the
    * SUB-CAP shingle sets — a well-defined measure, not a corrupted one.
    * The OVER-cap (frequent) set is broadcast and removed with an
    * anti-join — it is small by construction (at most Σdf/cap shingles
    * can exceed the cap), so the broadcast stays bounded no matter how
    * large the corpus vocabulary grows; broadcasting the rare set would
    * be the whole vocabulary at corpus scale. The index is read three
    * times (df aggregate, anti-join, recount), so an in-plan index
    * should be cached by the caller. */
  def shingleIndexCapped(index: DataFrame, cap: Int): DataFrame = {
    val frequent = index.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("shingle"))
    val filtered = index.join(broadcast(frequent), Seq("shingle"), "left_anti")
    val cappedLens = filtered.groupBy(col("doc_id")).agg(count(lit(1)).as("capped_len"))
    filtered.drop("len").join(cappedLens, Seq("doc_id"))
      .select(col("doc_id"), col("capped_len").as("len"), col("shingle"))
  }

  /** Containment near-dup pairs over a `(doc_id, len, shingle)`
    * inverted index ([[shingleIndexFrom]] in-plan, or the
    * Catalog-materialized index the `d_containment` key reads) — the
    * EXCERPT detector (Broder 1997's containment measure):
    * C(A,B) = |A∩B| / min(|A|,|B|) ≥ θ. A short
    * document fully quoted inside a long one has containment ≈ 1 but
    * LOW jaccard (the union is dominated by the long side), so
    * jaccard-θ dedup keeps both copies; training corpora are full of
    * exactly this shape (articles quoting abstracts, pages embedding
    * snippets). Same certified-exact inverted-index plan as
    * [[ngramJaccardPairsFromIndex]], including the SAME skew guard
    * ([[shingleIndexCapped]]): a boilerplate shingle
    * present in n docs would otherwise fan the self-join into C(n,2)
    * pair rows — at web scale the 10¹²-row shuffle the cap exists to
    * prevent. The shipped `d_containment` key runs with dfCap=100 (the
    * d_substring_dup convention) and its oracle mirrors the capped
    * universe. Only the denominator changes vs jaccard, and both
    * measures are emitted so a consumer can separate true near-dups
    * (both high) from excerpts (containment high, jaccard low). */
  def containmentPairsFromIndex(inverted: DataFrame, theta: Double = 0.9): DataFrame = {
    inverted.as("a")
      .join(inverted.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.len").as("la"), col("b.len").as("lb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter") / least(col("la"), col("lb")))
      .filter(round(col("containment"), 4) >= theta)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"),
        round(col("inter") / (col("la") + col("lb") - col("inter")), 4).as("jaccard"))
  }

  /** Exact 3-gram Jaccard evaluated ONLY on given candidate pairs
    * (doc_a, doc_b) — the verification stage of the production near-dup
    * pipeline. Work is O(candidates), independent of how much shingle
    * mass the corpus shares. `sh` is the `(doc_id, shingles)` tokenized
    * frame: [[shingled]] in-plan, or the Catalog-materialized form the
    * driver keys read, so the two verification joins read stored
    * shingle sets instead of re-tokenizing the corpus. */
  def jaccardOnCandidatesFrom(sh: DataFrame, candidates: DataFrame, tau: Double): DataFrame = {
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(round(col("jaccard"), 4) >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The production near-dup pipeline: MinHash/LSH candidate generation
    * (recall ~1 for J ≥ 0.8 with 32×4 banding) followed by exact Jaccard
    * verification on candidates only.
    *
    * Contrast with [[ngramJaccardPairsFromIndex]], which is exact over
    * the WHOLE corpus via the shingle inverted index: that pays per
    * shingle-sharing pair, which explodes when the corpus is
    * duplicate-heavy (measured at 50k docs / 249k true near-dup pairs:
    * inverted index 91 s vs this pipeline 8.7 s, IDENTICAL pair set at
    * τ=0.8 — graft.tools.Stress). Use the inverted index when you need
    * certified-exact recall at any τ; use this at corpus scale. */
  def nearDupPairs(documents: DataFrame, tau: Double = 0.8, bands: Int = 32): DataFrame =
    jaccardOnCandidatesFrom(shingled(documents),
      minhashCandidatesFromSignatures(minhashSignatures(documents), bands), tau)

  /** Cross-corpus dedup: which NEW-batch documents duplicate the
    * EXISTING corpus — the decision every incremental ingest makes
    * before admitting a crawl batch. Two detectors, one result:
    * `exact` (equal normalized-content md5 — a broadcast-or-hash
    * equi-join on compact 32-char keys) and `near` (LSH band buckets of
    * the batch joined against the corpus's buckets, verified by exact
    * Jaccard ≥ τ on candidates only, minus pairs already exact).
    *
    * Work is proportional to the BATCH and its collisions, never to
    * corpus × batch: the corpus side enters only through its
    * fingerprint and signature frames — the durable
    * `Store.docFingerprints` / `Store.minhashSignatures` tables
    * (materialized once, extended incrementally), the in-session
    * Catalog caches, or `docFingerprints(corpus)` /
    * `minhashSignatures(corpus)` derived in-plan. The corpus's raw rows
    * are read once, streamed through a join with the broadcast
    * candidate pairs, and only the matched rows are shingled for
    * Jaccard verification — everything else reads the compact derived
    * columns, so an ingest batch never re-reads corpus text. τ defaults
    * to 0.8 where 32×4 banding recall is ≈1, so the candidate path
    * loses nothing vs all-pairs (the oracle checks exactly that).
    *
    * Join strategy: the batch side (fingerprints, band buckets,
    * candidate pairs) is explicitly `broadcast()` — an ingest batch is
    * small relative to the corpus by contract, so the stored corpus
    * side stays scan-only with ZERO exchanges (spec-proven,
    * StoreSpec). A batch too large to broadcast should be split into
    * admit-sized chunks (the streaming form does exactly that per
    * micro-batch). */
  def crossDedupFromSignatures(corpus: DataFrame, corpusFingerprints: DataFrame,
                               corpusSignatures: DataFrame, batch: DataFrame,
                               tau: Double = 0.8, bands: Int = 32): DataFrame = {
    val cFp = corpusFingerprints.select(col("doc_id").as("corpus_id"), col("norm_hash").as("h"))
    val bFp = docFingerprints(batch).select(col("doc_id").as("batch_id"), col("norm_hash").as("h"))
    val exact = broadcast(bFp).join(cFp, "h").select(col("batch_id"), col("corpus_id"))
    val bBuckets = bandBuckets(minhashSignatures(batch), bands)
      .withColumnRenamed("doc_id", "batch_id")
    val cBuckets = bandBuckets(corpusSignatures, bands)
      .withColumnRenamed("doc_id", "corpus_id")
    val cand = broadcast(bBuckets).join(cBuckets, Seq("band", "bhash"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    // Jaccard verify shingles ONLY the candidate corpus rows: at 100 TB
    // the shingle table is ~corpus-sized (unlike the 1%-sized signature
    // table), so it is cheaper to re-shingle the few collision rows than
    // to materialize corpus shingles. The corpus streams through one
    // join with the broadcast candidate pairs (each carrying its batch
    // document's shingle set), and only matched rows are shingled (a
    // document without shingles has no signature, so it is never a
    // candidate).
    val shB = shingled(batch).select(col("doc_id").as("batch_id"), col("shingles").as("sh_a"))
    val near = corpus.select(col("doc_id").as("corpus_id"), col("text"))
      .join(broadcast(cand.join(shB, "batch_id")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"), col("sh_a"),
        GraftFunctions.shingles(col("text")).as("sh_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(round(col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4) >= tau)
      .select(col("batch_id"), col("corpus_id"))
      // exact-pair set is ≤ |batch| rows of two longs — broadcast the
      // anti-join probe rather than shuffling both pair sets
      .join(broadcast(exact), Seq("batch_id", "corpus_id"), "left_anti")
    exact.withColumn("kind", lit("exact"))
      .unionByName(near.withColumn("kind", lit("near")))
  }

  /** Fuzzy (edit-distance) near-dup pairs: candidate pairs (LSH
    * candidates — [[minhashCandidatesFromSignatures]], or the same pairs off a
    * materialized signature table) filtered by
    * `levenshtein ≤ maxDist` on the normalized text. Two scale guards:
    * a length-difference prefilter (|len(a)−len(b)| > maxDist can never
    * pass) and Spark's thresholded `levenshtein(a, b, k)`, which
    * early-exits the O(n·m) DP as soon as the distance exceeds k. Edit
    * distance is only ever computed on candidate pairs, never all-pairs.
    *
    * Scope caveat: candidates come from 3-gram shingles, so documents
    * with fewer than 3 tokens are categorically excluded — this operator
    * targets document-scale near-dups, not short-string matching (an
    * exact-dedup pass catches identical short strings). */
  def fuzzyPairsFromCandidates(documents: DataFrame, candidates: DataFrame,
                               maxDist: Int = 10): DataFrame = {
    val norm = documents.select(col("doc_id"), normText(col("text")).as("nt"))
    candidates
      .join(norm.select(col("doc_id").as("doc_a"), col("nt").as("nt_a")), "doc_a")
      .join(norm.select(col("doc_id").as("doc_b"), col("nt").as("nt_b")), "doc_b")
      .filter(abs(length(col("nt_a")) - length(col("nt_b"))) <= maxDist)
      .withColumn("edit_distance", levenshtein(col("nt_a"), col("nt_b"), maxDist))
      .filter(col("edit_distance") >= 0 && col("edit_distance") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_distance"))
  }

  /** Exact-substring duplication (the Lee et al. 2022 "deduplicating
    * training data" shape): pairs of documents sharing at least
    * `minRuns` distinct k-token verbatim runs. Catches boilerplate and
    * copied passages that whole-document Jaccard misses (two long docs
    * sharing one big quoted block have low global similarity but high
    * substring duplication).
    *
    * Plan: k-gram inverted index (codegen `graft_shingles_k`, scan-side)
    * → self-equi-join on the gram. At k ≈ 8 random collisions are
    * essentially zero, so pair work is proportional to TRUE duplicated
    * runs; grams above `dfCap` documents (site-wide boilerplate) are
    * removed with the same bounded broadcast anti-join as
    * [[shingleIndexCapped]] — the over-cap set is ≤ Σdf/cap grams. */
  def substringDupPairs(documents: DataFrame, k: Int = 8, minRuns: Int = 1,
                        dfCap: Int = 100): DataFrame = {
    val grams = documents
      .select(col("doc_id"), explode(GraftFunctions.shinglesK(col("text"), lit(k))).as("g"))
    val frequent = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("g"))
    val kept = grams.join(broadcast(frequent), Seq("g"), "left_anti")
    kept.as("a")
      .join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_runs"))
      .filter(col("n_shared_runs") >= minRuns)
  }

  /** Winnowing-composed substring-dup pair mining — the position-robust
    * form of [[substringDupPairs]]: pairs of documents sharing at least
    * `minShared` winnowing fingerprints (Schleimer et al. 2003). The
    * winnow guarantee turns into a pair guarantee: any shared token run
    * of length ≥ k+w−1 (= 6 at the defaults, vs the 8-gram index's 8)
    * contributes at least one shared fingerprint REGARDLESS of where
    * the run sits in either document — so a one-token insertion that
    * splits a long verbatim block into two sub-8-token halves (invisible
    * to the 8-gram index AND to d_span_dedup's fixed spans) still
    * collides here on both halves. Spec plants exactly that case.
    *
    * Plan: identical inverted-index shape as [[substringDupPairs]] but
    * over the ~2/(w+1)-density fingerprint table (the winnow kernel
    * selects scan-side — no gram explode): df-cap broadcast anti-join
    * kills site-wide boilerplate fingerprints, self-equi-join on fp,
    * pair work ∝ Σ df² over TRUE shared content, never all-pairs. At
    * 100 TB this runs off the materialized t_winnow fingerprint table
    * (Store-style), making the mining incremental per ingest batch. */
  def winnowDupPairs(documents: DataFrame, k: Int = 3, w: Int = 4,
                     minShared: Int = 2, dfCap: Int = 100): DataFrame = {
    val fps = TextAnalysis.winnowFingerprints(documents, k, w)
    val frequent = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("fp"))
    val kept = fps.join(broadcast(frequent), Seq("fp"), "left_anti")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** Span-level exact-substring DEDUP — the step that produces cleaned
    * TEXT, not just pair flags (the actual output of Lee et al. 2022's
    * "Deduplicating Training Data Makes Language Models Better", §4:
    * duplicated spans are removed from the corpus; [[substringDupPairs]]
    * only FLAGS the documents). Documents are cut into consecutive
    * `k`-token spans; a span that occurred earlier anywhere in the
    * corpus (global first occurrence, ordered by (doc_id, span_idx)) is
    * REMOVED, and each document's surviving spans are reassembled in
    * order. Catches copied passages and boilerplate inside
    * otherwise-unique documents, where whole-document dedup keeps both
    * copies in full.
    *
    * Plan shape at 100 TB: scan-side tokenize+chunk (explode ∝
    * tokens/k — NOT per-token), ONE shuffle on the span text for the
    * first-occurrence window, one shuffle back to doc_id for
    * reassembly. No pair stage at all — cost is linear in corpus
    * tokens, the same scaling class as exact dedup. The reassembly
    * sort is per-document (array_sort over that doc's ≤ tokens/k
    * spans), never a global sort; the post-aggregation `transform` to
    * extract span strings runs once per OUTPUT row over that small
    * array — it is not a per-row×per-element scan kernel, so the
    * TextKernels rule doesn't apply. */
  /** Stage 1 of [[spanDedup]]: cut documents into consecutive k-token
    * spans — (doc_id, source, n_spans, span_idx, span). Scan-side;
    * shared with the streaming gate (`streaming.SpanStream`). */
  private[graft] def spanCut(documents: DataFrame, k: Int): DataFrame = {
    val toks = split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
    documents
      .select(col("doc_id"), col("source"), toks.as("t"))
      .withColumn("n_spans", ceil(size(col("t")).cast("double") / k).cast("int"))
      .select(col("doc_id"), col("source"), col("t"), col("n_spans"),
        explode(sequence(lit(0), col("n_spans") - 1)).as("span_idx"))
      .withColumn("span", array_join(slice(col("t"), col("span_idx") * k + 1, lit(k)), " "))
      .drop("t")
  }

  /** Stage 3 of [[spanDedup]]: reassemble each document's SURVIVING
    * spans in order. Input must carry (doc_id, source, n_spans,
    * span_idx, span); shared with the streaming gate. */
  private[graft] def spanAssemble(kept: DataFrame): DataFrame =
    kept
      .groupBy(col("doc_id"), col("source"))
      .agg(
        max(col("n_spans")).as("n_spans"),
        count(lit(1)).cast("int").as("n_kept"),
        array_sort(collect_list(struct(col("span_idx"), col("span")))).as("ordered"))
      .withColumn("clean_text", array_join(expr("transform(ordered, x -> x.span)"), " "))
      .withColumn("n_dropped", col("n_spans") - col("n_kept"))
      .select(col("doc_id"), col("source"), col("n_spans"), col("n_kept"),
        col("n_dropped"), col("clean_text"))

  def spanDedup(documents: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = Window.partitionBy(col("span")).orderBy(col("doc_id"), col("span_idx"))
    spanAssemble(
      spanCut(documents, k)
        .withColumn("rn", row_number().over(firstSeen))
        .filter(col("rn") === 1)
        .drop("rn"))
  }

  /** Embedding near-dup pairs: cosine ≥ τ within a bucket key (default
    * `label`). This is the ORACLE form — a semantic blocking key makes
    * the pair set SQL-expressible, but it is O(bucket²): with few labels
    * at corpus scale it degenerates toward all-pairs. The scale path is
    * [[embedNearDupLsh]], which blocks on hyperplane signatures instead.
    * Cosine is the codegen'd `graft_cosine` Catalyst expression — no
    * UDF, stays inside WholeStageCodegen. */
  def embedNearDup(embeddings: DataFrame, tau: Double = 0.3): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"), col("embedding"))
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", GraftFunctions.cosine(col("a.embedding"), col("b.embedding")))
      .filter(round(col("cos"), 4) >= tau)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"), round(col("cos"), 4).as("cos_sim"))
  }

  /** VALUES-planted cross-lingual "translation" fixture (r16 — the
    * t_langid_cjk planting precedent): the driver corpus is
    * English-only, so a translated duplicate — same content, DISJOINT
    * token sets, different script — cannot occur in it at any scale
    * (spec-asserted). The planted trio: an English sentence (9200001),
    * its Russian translation (9200002 — shares not one token and not
    * one script with it), and an unrelated French control (9200003).
    * Their embeddings (label 999 — no real label collides) encode the
    * semantics: en ≈ ru (cos ≈ 0.9998), fr ⟂ both. doc_id ≡ vec_id,
    * ids far above any real id. Defined LITERALLY once and rendered
    * into BOTH engines. */
  private[graft] val xlingDocs: Seq[(Long, String, String)] = Seq(
    (9200001L, "en",
      "the quick brown fox jumps over the lazy dog near the river bank at dawn"),
    (9200002L, "ru",
      "быстрая рыжая лиса перепрыгивает через ленивую собаку у берега реки на рассвете"),
    (9200003L, "fr",
      "la réunion du conseil municipal aura lieu jeudi prochain dans la grande salle"))

  private[graft] val xlingVecs: Seq[(Long, Int, Seq[Float])] = {
    def unit(i: Int): Seq[Float] = Seq.tabulate(64)(j => if (j == i) 1f else 0f)
    Seq(
      (9200001L, 999, unit(0)),
      // the "translation": nearly the same direction (cos ≈ 0.9998) —
      // a near-dup, not a bit-identical vector
      (9200002L, 999, Seq.tabulate(64)(j =>
        if (j == 0) 0.98f else if (j == 1) 0.02f else 0f)),
      (9200003L, 999, unit(1)))
  }

  private def xlingDocsValuesSql: String = xlingDocs.map { case (id, lang, text) =>
    s"($id, '$lang', '$text')"
  }.mkString(",\n    ")

  private def xlingVecsValuesSql: String = xlingVecs.map { case (id, label, v) =>
    s"($id, $label, [${v.mkString(", ")}]::FLOAT[])"
  }.mkString(",\n    ")

  /** documents(doc_id, lang, text) ∪ the planted trio — the
    * d_crosslingual key's document side. */
  private[graft] def xlingDocsUnion(s: org.apache.spark.sql.SparkSession,
                                    dir: String): DataFrame = {
    import s.implicits._
    graft.core.Tables(s, dir).documents.select($"doc_id", $"lang", $"text")
      .unionByName(xlingDocs.toDF("doc_id", "lang", "text"))
  }

  /** embeddings ∪ the planted trio's vectors — the embedding side. */
  private[graft] def xlingEmbUnion(s: org.apache.spark.sql.SparkSession,
                                   dir: String): DataFrame = {
    import s.implicits._
    graft.core.Tables(s, dir).embeddings.select($"vec_id", $"label", $"embedding")
      .unionByName(xlingVecs.toDF("vec_id", "label", "embedding"))
  }

  /** CROSS-LINGUAL near-duplicates (r16): embedding-space near-dup
    * pairs whose SURFACE forms are disjoint — the duplicate class every
    * token-level detector is blind to by construction (a translated
    * copy shares no shingles, no MinHash bands, no SimHash bits, and
    * often no script with its original; DedupSpec proves the blindness
    * on the planted pair). Semantics: cosine ≥ `tauCos` (high — a
    * translation is the SAME content, not merely related) AND distinct-
    * token Jaccard ≤ `maxJaccard` (surface-blind). Per pair: both
    * sides' declared language, the cosine, the shared-token count and
    * the exact ROUND(,4) Jaccard.
    *
    * Plan: pairs from the label-blocked [[embedNearDup]] (the oracle
    * form; at corpus scale substitute [[embedNearDupLsh]] /
    * [[embedNearDupClusters]] — the documented d_embed_neardup scale
    * path, unchanged here), then ONE scan-side per-doc profile (lang +
    * distinct token array) joined to the pair set by id — cost ∝ pairs
    * after the cosine cut, never corpus². The per-pair set ops are
    * array_intersect/array_union over two in-row arrays (codegen). */
  def crossLingualNearDup(documents: DataFrame, embeddings: DataFrame,
                          tauCos: Double = 0.9,
                          maxJaccard: Double = 0.05): DataFrame = {
    val pairs = embedNearDup(embeddings, tauCos)
    val prof = documents.select(col("doc_id"),
      coalesce(col("lang"), lit("unknown")).as("lang"),
      array_distinct(split(trim(coalesce(col("text"), lit(""))), "\\s+")).as("toks"))
    pairs
      .join(prof.select(col("doc_id").as("vec_a"), col("lang").as("lang_a"),
        col("toks").as("toks_a")), Seq("vec_a"))
      .join(prof.select(col("doc_id").as("vec_b"), col("lang").as("lang_b"),
        col("toks").as("toks_b")), Seq("vec_b"))
      .withColumn("n_shared", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          greatest(size(array_union(col("toks_a"), col("toks_b"))), lit(1)), 4) + lit(0.0))
      .filter(col("jaccard") <= maxJaccard)
      .select(col("vec_a"), col("vec_b"), col("lang_a"), col("lang_b"),
        col("cos_sim"), col("n_shared"), col("jaccard"))
  }

  /** Embedding near-dup pairs via canopy blocking on the k-means coarse
    * quantizer (McCallum/Nigam/Ungar-style canopies): every vector is
    * assigned to its `nAssign` nearest centroids (codegen
    * `graft_nearest_centroids`, scan-side); candidate pairs share ≥ 1
    * assigned cluster; every candidate is verified with exact cosine ≥ τ.
    * Data-dependent blocking — buckets follow the corpus's own cluster
    * structure, so it recalls moderately-similar neighbors that
    * data-independent hyperplane buckets split. Pair work is
    * O(Σ bucket²) with bucket ≈ n·nAssign/nlist — bounded by sizing
    * nlist ∝ corpus/target-bucket; never O(n²). The fitted centroids
    * come from the Catalog-cached IVF index (one fit per (session, dir),
    * shared with `s_ann_ivf`). Pairs may CROSS labels (blocking is
    * geometric), so both sides' labels are emitted (`label_a`/`label_b`)
    * rather than one pretending to be a shared bucket key. */
  def embedNearDupClusters(embeddings: DataFrame, centroids: Seq[Seq[Double]],
                           tau: Double = 0.3, nAssign: Int = 2): DataFrame = {
    // pair-dedup is SCAN-SIDE (each row carries its nAssign-length
    // canopies array; a pair is emitted only from its least shared
    // canopy — array_intersect/array_min of two tiny arrays, codegen)
    // instead of a .distinct() that re-shuffled every surviving pair;
    // the emitted pair set is identical (the `Similarity.canopyCandidatePairs` note).
    val e = embeddings
      .select(col("vec_id"), col("label"), col("embedding"),
        GraftFunctions.nearestCentroids(col("embedding"),
          typedlit(centroids), lit(nAssign)).as("canopies"))
      .select(col("vec_id"), col("label"), col("embedding"), col("canopies"),
        explode(col("canopies")).as("canopy"))
    e.as("a")
      .join(e.as("b"),
        col("a.canopy") === col("b.canopy") && col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.canopy") ===
        array_min(array_intersect(col("a.canopies"), col("b.canopies"))))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label_a"), col("b.label").as("label_b"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"))
      .withColumn("cos", GraftFunctions.cosine(col("ea"), col("eb")))
      .filter(round(col("cos"), 4) >= tau)
      .select(col("vec_a"), col("vec_b"), col("label_a"), col("label_b"),
        round(col("cos"), 4).as("cos_sim"))
  }

  /** Embedding near-dup pairs at scale: block on random-hyperplane LSH
    * signatures (codegen `graft_hyperplane_sig`, scan-side) with
    * multi-probe, then verify every candidate with exact cosine ≥ τ.
    *
    * Candidate generation is an equi-join of each vector's probe set
    * (its own `nPlanes`-bit signature plus every 1-bit flip) against raw
    * signatures — two vectors collide iff their signatures differ by ≤ 1
    * bit, so pair work is O(bucket collisions), never O(n²), and bucket
    * population is data-independent (~n/2^nPlanes expected). Precision
    * is exact (cosine verify); pairs may cross labels, so both labels
    * are emitted.
    *
    * Recall regime — measured, not assumed: hyperplane collision
    * probability is (1 − θ/π) per bit, so recall ≈ 1 for genuine
    * near-dups (cos ≥ 0.9 ⇒ θ ≤ 26°; spec-proven ⊇ the label-bucketed
    * truth on a planted-replica corpus) but collapses toward the noise
    * floor: on the driver's test embeddings, whose τ=0.3 pairs sit at
    * cos 0.30–0.47 (≈ the 2.4σ tail of RANDOM 64-dim cosines), sig
    * blocking recalls < 50% — as does any sub-quadratic blocker
    * (measured: canopy nAssign=3 misses 23%). Finding "all pairs above
    * the random-similarity tail" is intrinsically an all-pairs problem;
    * use [[embedNearDup]]'s exact bucketed path for that regime, this or
    * [[embedNearDupClusters]] for actual near-duplicate mining at scale.
    * The hyperplane literals round-trip to DuckDB (embedLshOracle), so
    * the key is hash-checked; semantics are additionally spec-verified
    * against exact truths (DedupSpec). */
  def embedNearDupLsh(embeddings: DataFrame, tau: Double = 0.3,
                      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planesCol = typedlit(Similarity.hyperplanes(nPlanes, dim))
    val e = embeddings
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("sig", GraftFunctions.hyperplaneSig(col("embedding"), planesCol))
    // probe set: own signature + every 1-bit flip. A pair (a, b) with
    // hamming(sig_a, sig_b) <= 1 matches on EXACTLY one probe bucket
    // (probe 0 iff equal, one flip iff distance 1), so no distinct pass
    // is needed to dedupe candidates.
    val probed = e.select(col("vec_id"), col("label"), col("embedding"),
      explode(concat(array(col("sig")),
        expr(s"transform(sequence(0, ${nPlanes - 1}), p -> sig ^ shiftleft(1L, p))")))
        .as("probe"))
    probed.as("a")
      .join(e.as("b"),
        col("a.probe") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", GraftFunctions.cosine(col("a.embedding"), col("b.embedding")))
      .filter(round(col("cos"), 4) >= tau)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(col("cos"), 4).as("cos_sim"))
  }

  /** SemDeDup-style semantic dedup — keep ONE representative per tight
    * group of semantically-near-identical embeddings (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"). The pair miners above only FLAG near-dups; this is
    * the operator that produces the pruned corpus.
    *
    * Composition (each stage already proven at scale on its own):
    *   1. coarse blocking — either learned IVF clusters (scale path) or
    *      the `label` column (oracle path);
    *   2. within-block exact-cosine edges at `round(cos,4) >= tau`;
    *   3. connected components over the edge graph
    *      ([[DupClusters.connectedComponents]], large-star/small-star):
    *      A≈B and B≈C collapse into one group even when cos(A,C) < τ —
    *      the same closure the doc-level cluster dedup applies, so
    *      "tight group" is well-defined and partitioning-independent;
    *   4. survivor = min vec_id per component (deterministic; the paper
    *      keeps a centroid-distance-ranked example — id-rank is the same
    *      policy shape with a stable tie-break, matching d_exact_keep /
    *      d_cluster_keep conventions).
    *
    * `pairs` carries the stage-2 edges (`vec_a`, `vec_b`):
    * [[embedNearDup]] for label blocking ([[semanticDedupBuckets]]), or
    * [[embedNearDupClusters]] for the scale form, which blocks on the
    * fitted IVF coarse quantizer (canopy assignment to the `nAssign`
    * nearest centroids, so near-dups straddling a cluster boundary still
    * meet in ≥ 1 block). Spec-verified on the scale form:
    * planted-replica removal and agreement with the exact bucketed form
    * on tight pairs.
    *
    * 100 TB shape: blocking is scan-side, edge work is O(Σ block²) with
    * blocks sized by nlist (never all-pairs), CC is O(log n) bounded
    * shuffles on the EDGE set only (≪ corpus; driver sees scalars), and
    * the final keep is one join of the survivor ids back to the corpus. */
  def semanticDedupFromPairs(embeddings: DataFrame, pairs: DataFrame): DataFrame =
    semanticDedupFromCc(embeddings,
      DupClusters.connectedComponents(
        pairs.select(col("vec_a"), col("vec_b")),
        embeddings.select(col("vec_id"))))

  /** The post-closure survivor read-off of [[semanticDedupFromPairs]],
    * served off an ALREADY-COMPUTED component assignment: the
    * IVF-canopy CC is a shared derived table (`Catalog.semanticCc`, the
    * vector-space twin of `Catalog.dupClusters`), so the serving keys
    * don't re-run pair mining + the iterative closure per invocation;
    * at scale this is the stored cluster-map table. */
  def semanticDedupFromCc(embeddings: DataFrame, cc: DataFrame): DataFrame = {
    // cluster_id = min reachable id, so the survivor set IS the distinct
    // cluster ids — one aggregate for sizes, ONE join back to the corpus
    // for the surviving rows (fact×fact equi-join: at scale both sides
    // are corpus-order, which is exactly the sort-merge-join regime).
    val groups = cc.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("int").as("group_size"))
    embeddings.select(col("vec_id"), col("label"))
      .join(groups, col("vec_id") === col("cluster_id"))
      .select(col("vec_id"), col("label"), col("group_size"))
  }

  /** Oracle form: semantic blocking on `label` (SQL-expressible; the
    * DuckDB mirror recomputes cosine edges + a recursive reachability
    * closure). O(bucket²) within labels — fine at oracle scale; the
    * corpus-scale blocker is [[embedNearDupClusters]] into
    * [[semanticDedupFromPairs]]. */
  def semanticDedupBuckets(embeddings: DataFrame, tau: Double = 0.3): DataFrame =
    semanticDedupFromPairs(embeddings, embedNearDup(embeddings, tau))

  /** IVF-blocked semantic dedup with the SemDeDup paper's keep policy: within
    * each duplicate component, keep the member with the LOWEST cosine
    * to its coarse-cluster centroid (Abbas et al. 2023 §3 keep the
    * low-similarity example to preserve diversity at the cluster
    * boundary), tie-broken by vec_id. The min-id policy of
    * [[semanticDedupFromPairs]] stays the oracle-checked default — id-rank
    * needs no extra column; this variant is the paper-faithful option
    * (spec-verified: one survivor per planted group, and it is the
    * argmin-(centroid-cos, id) member).
    *
    * Same plan shape plus one scan-side centroid-cosine projection
    * (the k×dim centroid matrix ships as a literal; `element_at` picks
    * the row — no join) and a `min_by` aggregate per component. */
  def semanticDedupFarthest(embeddings: DataFrame, centroids: Seq[Seq[Double]],
                            tau: Double = 0.3, nAssign: Int = 2): DataFrame = {
    val pairs = embedNearDupClusters(embeddings, centroids, tau, nAssign)
    val cc = DupClusters.connectedComponents(
      pairs.select(col("vec_a"), col("vec_b")),
      embeddings.select(col("vec_id")))
    val centLit = typedlit(centroids.map(_.map(_.toFloat)))
    val scored = embeddings
      .withColumn("cluster",
        GraftFunctions.nearestCentroid(col("embedding"), typedlit(centroids)))
      .withColumn("cent_cos",
        round(GraftFunctions.cosine(col("embedding"),
          element_at(centLit, col("cluster") + 1)), 6))
      .select(col("vec_id"), col("label"), col("cent_cos"))
    scored
      .join(cc, col("vec_id") === col("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        expr("min_by(struct(vec_id, label), struct(cent_cos, vec_id))").as("keep"),
        count(lit(1)).cast("int").as("group_size"))
      .select(col("keep.vec_id").as("vec_id"), col("keep.label").as("label"),
        col("group_size"))
  }

  /** Semantic dedup with a MEDOID keep policy, read off a component
    * assignment (`cluster_id` per `doc_id` — the shared
    * `Catalog.semanticCc` closure, or `DupClusters.connectedComponents`
    * over [[embedNearDupClusters]] pairs in-plan): within each duplicate
    * component, keep the member closest to the component's own mean
    * embedding — the most REPRESENTATIVE example (the complement of
    * [[semanticDedupFarthest]]'s diversity-preserving boundary policy;
    * SemDeDup's keep-policy ablation (Abbas et al. 2023 §C) compares
    * exactly these families). Survivor = argmax-(round(cos(member,
    * component sum), 6)) per component, tie-broken by vec_id.
    *
    * Cosine is scale-invariant, so members score against the
    * component's fixed-point SUM vector (`graft_vecsum`, the same
    * order-independent aggregate the IVF fit uses — no division, no
    * float-accumulation nondeterminism). Plan: CC as usual, then ONE
    * vecsum aggregate per component and ONE join of members to their
    * component sum — all linear in corpus size, no per-group pair
    * stage (a true pairwise medoid would be O(g²); closest-to-mean is
    * the standard linear-time medoid and coincides with it as groups
    * tighten). Oracle-checked: the fixed-point vecsum IS portably
    * expressible (the s_centroid_report floor+frac idiom), so the
    * mirror replays fit, closure, and medoid scoring; spec adds a JVM
    * reference on planted replica groups. */
  def semanticDedupMedoidFromCc(embeddings: DataFrame, cc: DataFrame): DataFrame = {
    val members = embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .join(cc, col("vec_id") === col("doc_id"))
    val sums = members.groupBy(col("cluster_id"))
      .agg(GraftFunctions.vecSum(col("embedding")).as("gsum"))
    members
      .join(sums, Seq("cluster_id"))
      .withColumn("medoid_cos",
        round(GraftFunctions.cosine(col("embedding"), col("gsum").cast("array<float>")), 6))
      .groupBy(col("cluster_id"))
      .agg(
        expr("min_by(struct(vec_id, label), struct(-medoid_cos, vec_id))").as("keep"),
        count(lit(1)).cast("int").as("group_size"))
      .select(col("keep.vec_id").as("vec_id"), col("keep.label").as("label"),
        col("group_size"))
  }

  /** Cross-corpus SEMANTIC vetting — the incremental form of
    * [[semanticDedupFromPairs]], with the ingest-gate contract: a batch vector is
    * rejected iff it semantically duplicates (round(cos,4) ≥ τ) an
    * EXISTING survivor; admitted vectors become survivors for later
    * batches; survivors are never retro-merged by a batch bridge (batch
    * N is vetted against the survivor set as of batch N−1 — exactly
    * `IngestGate`'s sequencing semantics, for embeddings).
    *
    * Blocking: batch vectors probe their `nAssign` nearest coarse
    * clusters (scan-side codegen assignment against the shared fitted
    * centroids) and compare ONLY against survivors assigned to those
    * clusters — work ∝ batch × bucket, never corpus². `dup_of` is the
    * minimum matching survivor id (deterministic report).
    *
    * @param survivors (vec_id, label, embedding) of the current
    *                  survivor set (e.g. [[semanticDedupFromPairs]] output joined
    *                  back to vectors, or the durable stored form)
    * @param batch     arriving vectors, ids disjoint from survivors */
  def crossSemanticDedup(survivors: DataFrame, batch: DataFrame,
                         centroids: Seq[Seq[Double]], tau: Double = 0.3,
                         nAssign: Int = 2): DataFrame = {
    // a survivor table that already carries its cluster (the durable
    // Store layout, bucketed by cluster) is used as-is — the join then
    // reads pre-partitioned buckets on the stored side
    val assigned =
      if (survivors.columns.contains("cluster")) survivors
      else survivors.withColumn("cluster",
        GraftFunctions.nearestCentroid(col("embedding"), typedlit(centroids)))
    val s = assigned
      .select(col("vec_id").as("surv_id"), col("embedding").as("surv_embedding"),
        col("cluster"))
    val probed = batch
      .select(col("vec_id"), col("label"), col("embedding"),
        explode(GraftFunctions.nearestCentroids(col("embedding"),
          typedlit(centroids), lit(nAssign))).as("cluster"))
    probed
      .join(s, "cluster")
      .withColumn("cos", round(GraftFunctions.cosine(col("embedding"),
        col("surv_embedding")), 4))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("surv_id")).as("dup_of"),
        max(col("cos")).as("max_cos"))
  }

  /** Oracle form of [[crossSemanticDedup]]: blocking on `label`, the
    * survivor set being [[semanticDedupBuckets]] of the corpus side
    * (SQL-expressible end to end — the DuckDB mirror recomputes the
    * corpus survivors with the recursive closure, then the batch×
    * survivor cosine check). */
  def crossSemanticDedupBuckets(corpus: DataFrame, batch: DataFrame,
                                tau: Double = 0.3): DataFrame = {
    val survivorIds = semanticDedupBuckets(corpus, tau).select(col("vec_id"))
    val s = corpus.join(survivorIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("surv_id"), col("label"),
        col("embedding").as("surv_embedding"))
    batch
      .join(s, "label")
      .withColumn("cos", round(GraftFunctions.cosine(col("embedding"),
        col("surv_embedding")), 4))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("surv_id")).as("dup_of"),
        max(col("cos")).as("max_cos"))
  }

  /** Dedup yield curve: pair count and affected-document count at each
    * candidate threshold τ — the governance artifact that PICKS the
    * dedup threshold (the curve's knee separates "boilerplate overlap"
    * from "true duplication"; running dedup blind at 0.8 because the
    * paper did is how corpora lose diversity). ONE pass: the exact pair
    * set at the loosest τ (certified inverted index), fanned out to the
    * τ grid by a 3-element literal explode, then two tiny per-τ
    * aggregates — the expensive pair mining is paid once for the whole
    * curve, not once per threshold. Comparisons are on the ROUND(,4)
    * jaccard both engines share.
    *
    * The `d_dedup_curve` key reads the session's capped index
    * (`Catalog.shingleIndex` at dfCap=100, the d_substring_dup
    * convention): the curve's mining stage is the uncapped inverted
    * index's documented-quadratic shape on a boilerplate-heavy corpus,
    * and a governance card must be runnable at corpus scale. The curve
    * then reads over capped-universe jaccard — consistent with what a
    * capped production dedup pass would act on. Over an uncapped index
    * ([[shingleIndexFrom]] alone) it is the full-vocabulary curve, for
    * corpora known clean. */
  def dedupCurveFromIndex(inverted: DataFrame,
                          taus: Seq[Double] = Seq(0.7, 0.8, 0.9)): DataFrame = {
    // materialized (the simhashCurve recipe) so the mining is LITERALLY
    // paid once: the curve reads two aggregate branches off the pair
    // frame, and without the checkpoint each branch replays the whole
    // capped inverted-index chain
    val pairs = DupClusters.materialize(ngramJaccardPairsFromIndex(inverted, taus.min))
    val fanned = pairs
      .withColumn("tau", explode(typedlit(taus)))
      .filter(col("jaccard") >= col("tau"))
    val nPairs = fanned.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = fanned
      .select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("tau")).agg(countDistinct(col("doc")).as("n_docs_affected"))
    // both sides are ≤ |taus| rows — broadcast explicitly so the plan
    // never degrades to a sort-merge join on the unknown-size aggregates
    nPairs.join(broadcast(nDocs), Seq("tau"))
      .select(col("tau"), col("n_pairs"), col("n_docs_affected"))
  }

  /** Per-document content novelty: the fraction of a doc's distinct
    * 3-gram shingles that occur in NO other document (corpus df = 1) —
    * the inverse of boilerplate/near-dup mass, and the positive signal
    * novelty-weighted curation upsamples (a doc whose shingles are all
    * corpus-unique contributes information no dedup pass can recover
    * from its neighbors). Complements t_boilerplate (df ≥ 3 spans) and
    * d_ngram_jaccard (pairwise overlap) with a per-doc scalar.
    *
    * Plan: the shingle fan-out keyed by shingle (one df aggregate with
    * map-side partials — shingles are distinct per doc, so df is doc
    * frequency), joined back to the fan-out, then one per-doc
    * aggregate: linear in corpus shingle volume, never pairwise. The
    * mega-frequency shingle is ONE aggregate row (df counting collapses
    * map-side) — no skewed window anywhere.
    *
    * Input: any uncapped index fan-out carrying `doc_id, shingle` rows
    * (the `d_ngram_novelty` key fans out the Catalog-cached shingle
    * sets; extra columns like `len` are ignored). The fan-out feeds both
    * the df aggregate and the join-back, so an in-plan fan-out should be
    * cached to shingle the corpus once. */
  def ngramNoveltyFromIndex(index: DataFrame): DataFrame = {
    val ex = index.select(col("doc_id"), col("shingle"))
    val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        (round(col("n_unique") / col("n_shingles"), 4) + lit(0.0)).as("novelty"))
  }

  /** MinHash calibration report: estimated vs exact Jaccard per LSH
    * candidate pair — the artifact that validates the signature/banding
    * parameters (128 perms, 32×4 bands) against ground truth before a
    * corpus-scale dedup run trusts the estimate (|est−J| concentration
    * is the whole justification for replacing the inverted index with
    * signatures). est = equal-component count / 128 via the codegen
    * `graft_sig_agree` kernel; exact = shingle-set Jaccard on the same
    * candidate pairs ([[jaccardOnCandidatesFrom]] at τ=0 — candidates only,
    * never all pairs). Two signature-table joins on the candidate frame
    * (signatures ≈ 1% of corpus bytes); work ∝ candidates, the LSH
    * guarantee. DuckDB-oracled via the portable FNV/splitmix64
    * reproduction (see `minhashSigCte`); spec: planted exact copies
    * estimate 1.0 at error 0, corpus-wide error bounded.
    *
    * `abs_err` is |est − exact| at REPORT precision (both operands are
    * the already-rounded 4-decimal columns): the raw `n/128 − jaccard`
    * difference lands on exact 5th-decimal ties (n ≡ 4 mod 8 makes
    * n/128·10⁴ an exact half), where HALF_UP on a binary double is
    * engine lottery — differencing the rounded columns keeps every
    * intermediate a near-multiple of 10⁻⁴, which no engine rounds
    * differently.
    *
    * `sh` is the `(doc_id, shingles)` tokenized frame — the
    * Catalog-materialized one the served key reads, or `shingled(docs)`
    * in-plan. */
  def jaccardCalibrationFrom(sh: DataFrame, signatures: DataFrame,
                             bands: Int = 32): DataFrame =
    calibrationPairs(sh, signatures, bands)
      .withColumn("n_agree", GraftFunctions.sigAgree(col("sig_a"), col("sig_b")))
      .withColumn("est_jaccard", (round(col("n_agree") / lit(128.0), 4) + lit(0.0)))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("est_jaccard"),
        col("jaccard").as("exact_jaccard"),
        (round(abs(col("est_jaccard") - col("jaccard")), 4) + lit(0.0))
          .as("abs_err"))

  /** The shared calibration pair frame of [[jaccardCalibrationFrom]] and
    * [[permCurveFrom]]: the LSH-candidate pairs with their exact Jaccard
    * and both full signatures attached — one place owns the chain so
    * the two cards cannot desynchronize. */
  private def calibrationPairs(sh: DataFrame, signatures: DataFrame,
                               bands: Int): DataFrame = {
    val cands = minhashCandidatesFromSignatures(signatures, bands)
    jaccardOnCandidatesFrom(sh, cands, 0.0)
      .join(signatures.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(signatures.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
  }

  /** MinHash permutation-count CURVE — the signature-size sweep behind
    * the 128-perm choice (the other half of the banding design
    * d_lsh_tuning prices: permutation count sets BOTH the estimator's
    * variance — std ≈ √(J(1−J)/p) — and the per-document storage bill,
    * 8 bytes a permutation at 100 TB scale): per candidate p ∈
    * {16,32,64,128}, the mean and worst |estimated − exact| Jaccard
    * over the corpus's OWN calibration pair set, next to the bytes/doc
    * that p costs. An index owner reads this once per corpus regime,
    * picks the p whose error the banding design tolerates, then pins
    * the signature width.
    *
    * The sweep costs NOTHING beyond [[jaccardCalibrationFrom]]'s plan: a
    * p-perm MinHash IS the first p rows of the 128-perm signature
    * (each permutation is independent), so every arm reads a prefix
    * slice of the SAME Catalog-cached signatures — no refit, no extra
    * mining; per-p agreement/estimate/error are scan-side columns on
    * the one verified-pair frame, collapsed by ONE 1-row aggregate and
    * unpivoted by stack. Estimates round n/p to 4 in EXACT integers
    * ((2·10⁴·n + p) DIV 2p — n/p is an exact binary fraction, both
    * engines land on true ties and round away together); MAE uses the
    * property-tested Σ round(err·10⁴) integer-mean recipe. `sh` is the
    * tokenized frame, as for [[jaccardCalibrationFrom]]. */
  def permCurveFrom(sh: DataFrame, signatures: DataFrame,
                    perms: Seq[Int] = Seq(16, 32, 64, 128),
                    bands: Int = 32): DataFrame = {
    val base = calibrationPairs(sh, signatures, bands)
    // the full-width arm needs no slice (sigAgree compares over the
    // min length) — skip the two per-row array copies there
    def pre(c: Column, p: Int): Column = if (p >= 128) c else slice(c, 1, p)
    val withErrs = perms.foldLeft(base) { (df, p) =>
      df.withColumn(s"n$p",
          GraftFunctions.sigAgree(pre(col("sig_a"), p), pre(col("sig_b"), p)))
        .withColumn(s"est$p",
          expr(s"CAST((20000 * n$p + $p) DIV (2 * $p) AS DOUBLE)") / lit(10000.0) + lit(0.0))
        .withColumn(s"err$p", round(abs(col(s"est$p") - col("jaccard")), 4) + lit(0.0))
    }
    val aggs = count(lit(1)).as("n_pairs") +: perms.flatMap(p => Seq(
      sum(expr(s"CAST(round(err$p * 10000) AS BIGINT)")).as(s"s$p"),
      max(col(s"err$p")).as(s"m$p")))
    val flags = withErrs.agg(aggs.head, aggs.tail: _*)
    val stackArgs = perms
      .map(p => s"$p, coalesce(s$p, 0L), coalesce(m$p, CAST(0.0 AS DOUBLE))")
      .mkString(", ")
    flags
      .selectExpr("n_pairs",
        s"stack(${perms.size}, $stackArgs) AS (n_perms, errsum, mx)")
      .select(col("n_perms"), col("n_pairs"),
        (when(col("n_pairs") === 0L, lit(0.0)).otherwise(
          expr("CAST((200 * errsum + n_pairs) DIV (2 * n_pairs) AS DOUBLE)")
            / lit(1000000.0)) + lit(0.0)).as("mae"),
        (col("mx") + lit(0.0)).as("max_err"),
        (col("n_perms") * lit(8)).as("sig_bytes"))
  }

  /** Cross-source duplication matrix — the mixture-governance artifact
    * behind dedup POLICY: the verified near-dup pair set (the
    * [[nearDupPairs]] production pipeline; exact copies are its
    * jaccard = 1 stratum) broken down by WHICH sources duplicate
    * which. Off-diagonal (src_a < src_b): cross-source dup flow —
    * non-zero exactly where "dedup within source, then union" would
    * silently keep cross-source copies. Diagonal: the source's own
    * internal duplication burden. mean_jaccard says how close the
    * copies are (1.0 = verbatim mirroring, ~0.8 = templated rewrites)
    * — the difference between dropping a mirror source and span-level
    * cleanup.
    *
    * `pairs` is the verified (doc_a, doc_b, jaccard) frame:
    * [[nearDupPairs]] in-plan, or the `d_dup_matrix` key's mining off
    * the Catalog-cached signature table, like every LSH key.
    *
    * Plan: the near-dup mining (work ∝ LSH
    * collisions, never all pairs) + two slim (doc_id, source)
    * projections joined onto the ≤ |pairs|-row frame, then a
    * ≤ |sources|²-row aggregate. The pairs⋈docs joins are equi-joins
    * whose small side is the verified pair set — at test SF they
    * broadcast; at corpus scale they are the same fact×fact shape as
    * the d_semantic survivor joins. Source pair is canonicalized
    * (least, greatest) so the matrix is symmetric-free. */
  def dupMatrixFromPairs(pairs: DataFrame, documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val srcs = documents.select(col("doc_id"),
      coalesce(col("source"), lit("")).as("source"))
    pairs
      .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        (round(sum(col("jaccard").cast(DecimalType(28, 10))).cast("double") / count(lit(1)), 4)
          + lit(0.0)).as("mean_jaccard"))
  }

  /** Banding design card — the governance artifact behind the 32×4
    * choice every MinHash key inherits (the q_skew_report /
    * s_recall_report genre: justify the config BEFORE a 100 TB
    * rollout). For each candidate banding of the 128-perm signature
    * (b bands × r rows, b·r = 128), reports:
    *
    *  - `s50`: the S-curve crossover (1 − 0.5^(1/b))^(1/r) — the
    *    Jaccard at which a pair has a 50% candidate probability
    *    (Leskovec/Rajaraman/Ullman, MMDS ch.3);
    *  - expected retention of the corpus's OBSERVED near-dup mass:
    *    the shipped config's candidate pairs, binned by exact Jaccard
    *    (1 decimal), weighted by each config's analytic candidate
    *    probability p(s) = 1 − (1 − s^r)^b. Retention is relative to
    *    the observed (shipped-config) pair set — the right comparison
    *    for "would switching bandings lose the dups we catch today".
    *
    * Engine-portable by construction: p(s) and s50 use ONLY IEEE
    * multiplications and square roots (r and b are powers of two, so
    * s^r and (1−s^r)^b are repeated squarings and the roots are nested
    * sqrt — bit-identical in any IEEE engine; no pow, which is not
    * correctly rounded); the retention sum is the DECIMAL(28,10)
    * convention. Plan: the calibration frame collapses to a ≤ 11-row
    * Jaccard histogram, then a literal 4-config explode — the analytic
    * grid never touches the corpus again. `sh` is the tokenized frame,
    * as for [[jaccardCalibrationFrom]]. */
  def lshTuningFrom(sh: DataFrame, signatures: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def log2(n: Int): Int = Integer.numberOfTrailingZeros(n)
    def nroot(x: Double, times: Int): Double =
      (1 to times).foldLeft(x)((acc, _) => math.sqrt(acc))
    val configs = Seq((64, 2), (32, 4), (16, 8), (8, 16))
    val cfgs = configs.map { case (b, r) =>
      (b, r, nroot(1.0 - nroot(0.5, log2(b)), log2(r)))
    }
    val hist = jaccardCalibrationFrom(sh, signatures)
      .select((round(col("exact_jaccard"), 1) + lit(0.0)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n"))
    def sq(c: Column): Column = c * c
    val s2 = sq(col("s")); val s4 = sq(s2); val s8 = sq(s4); val s16 = sq(s8)
    val sr = when(col("rows_per_band") === 2, s2)
      .when(col("rows_per_band") === 4, s4)
      .when(col("rows_per_band") === 8, s8)
      .otherwise(s16)
    hist
      .select(col("s"), col("n"), explode(typedlit(cfgs)).as("cfg"))
      .select(col("s"), col("n"), col("cfg._1").as("n_bands"),
        col("cfg._2").as("rows_per_band"), col("cfg._3").as("s50"))
      .withColumn("q", lit(1.0) - sr)
      .withColumn("q2", sq(col("q"))).withColumn("q4", sq(col("q2")))
      .withColumn("q8", sq(col("q4"))).withColumn("q16", sq(col("q8")))
      .withColumn("q32", sq(col("q16"))).withColumn("q64", sq(col("q32")))
      .withColumn("p", lit(1.0) - when(col("n_bands") === 8, col("q8"))
        .when(col("n_bands") === 16, col("q16"))
        .when(col("n_bands") === 32, col("q32"))
        .otherwise(col("q64")))
      .groupBy(col("n_bands"), col("rows_per_band"), col("s50"))
      .agg(sum(col("n")).as("n_pairs"),
        (round(sum((col("n") * col("p")).cast(DecimalType(28, 10))).cast("double"), 2)
          + lit(0.0)).as("exp_retained"),
        (round(sum((col("n") * col("p")).cast(DecimalType(28, 10))).cast("double")
          / sum(col("n")), 4) + lit(0.0)).as("retained_frac"))
      .select(col("n_bands"), col("rows_per_band"),
        (round(col("s50"), 4) + lit(0.0)).as("s50"),
        col("n_pairs"), col("exp_retained"), col("retained_frac"))
  }

  // ---- driver wiring ----

  import org.apache.spark.sql.SparkSession
  import graft.core.Tables

  /** The three LSH-based keys share one cached signature table
    * (graft.core.Catalog) — the in-session form of the materialized
    * signature table documented in SCALING.md. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_exact_dedup"      -> ((s, d) => exactDedup(Tables(s, d).documents)),
    "d_exact_canonical"  -> ((s, d) => exactDedupCanonical(Tables(s, d).documents)),
    "d_exact_keep"       -> ((s, d) => dedupDocuments(Tables(s, d).documents)),
    "d_soft_dedup"       -> ((s, d) => softDedupWeights(Tables(s, d).documents)),
    "d_minhash_lsh"      -> ((s, d) =>
      minhashCandidatesFromSignatures(graft.core.Catalog.minhashSignatures(s, d))),
    "d_simhash"          -> ((s, d) => simhashPairs(Tables(s, d).documents)),
    "d_simhash_curve"    -> ((s, d) => simhashCurve(Tables(s, d).documents)),
    "d_ngram_jaccard"    -> ((s, d) =>
      ngramJaccardPairsFromIndex(graft.core.Catalog.shingleIndex(s, d))),
    "d_containment"      -> ((s, d) =>
      containmentPairsFromIndex(graft.core.Catalog.shingleIndex(s, d, Some(100)))),
    "d_neardup_pipeline" -> ((s, d) => jaccardOnCandidatesFrom(
      graft.core.Catalog.shingledDocs(s, d),
      minhashCandidatesFromSignatures(graft.core.Catalog.minhashSignatures(s, d)), 0.8)),
    "d_fuzzy"            -> ((s, d) => fuzzyPairsFromCandidates(Tables(s, d).documents,
      minhashCandidatesFromSignatures(graft.core.Catalog.minhashSignatures(s, d)))),
    "d_jaccard_calibration" -> ((s, d) => jaccardCalibrationFrom(
      graft.core.Catalog.shingledDocs(s, d),
      graft.core.Catalog.minhashSignatures(s, d))),
    "d_lsh_tuning"       -> ((s, d) => lshTuningFrom(
      graft.core.Catalog.shingledDocs(s, d),
      graft.core.Catalog.minhashSignatures(s, d))),
    "d_perm_curve"       -> ((s, d) => permCurveFrom(
      graft.core.Catalog.shingledDocs(s, d),
      graft.core.Catalog.minhashSignatures(s, d))),
    "d_dup_matrix"       -> ((s, d) => dupMatrixFromPairs(
      jaccardOnCandidatesFrom(graft.core.Catalog.shingledDocs(s, d),
        minhashCandidatesFromSignatures(graft.core.Catalog.minhashSignatures(s, d)), 0.8),
      Tables(s, d).documents)),
    // the df aggregate needs no shingle partitioning: fan out the cached
    // shingle sets rather than read the shingle-partitioned index, which
    // measured slower for this key at 32 shuffle partitions
    "d_ngram_novelty"    -> ((s, d) =>
      ngramNoveltyFromIndex(shingleIndexFrom(graft.core.Catalog.shingledDocs(s, d)))),
    "d_dedup_curve"      -> ((s, d) =>
      dedupCurveFromIndex(graft.core.Catalog.shingleIndex(s, d, Some(100)))),
    "d_embed_neardup"    -> ((s, d) => embedNearDup(Tables(s, d).embeddings)),
    "d_crosslingual"     -> ((s, d) =>
      crossLingualNearDup(xlingDocsUnion(s, d), xlingEmbUnion(s, d))),
    "d_embed_lsh"        -> ((s, d) => embedNearDupLsh(Tables(s, d).embeddings)),
    "d_semantic_dedup"   -> ((s, d) => semanticDedupBuckets(Tables(s, d).embeddings)),
    "d_semantic_cross"   -> ((s, d) => {
      val emb = Tables(s, d).embeddings
      crossSemanticDedupBuckets(emb.filter(col("vec_id") < 400),
        emb.filter(col("vec_id") >= 400))
    }),
    "d_semantic_ivf"     -> ((s, d) => {
      // r16 opt: served off the shared Catalog-cached component
      // assignment (the dupClusters convention in vector space) — the
      // serve is the survivor read-off, not a re-closure
      val (_, assigned) = graft.core.Catalog.ivfIndex(s, d)
      semanticDedupFromCc(assigned.drop("cluster"), graft.core.Catalog.semanticCc(s, d))
    }),
    "d_semantic_medoid"  -> ((s, d) => {
      val (_, assigned) = graft.core.Catalog.ivfIndex(s, d)
      semanticDedupMedoidFromCc(assigned.drop("cluster"), graft.core.Catalog.semanticCc(s, d))
    }),
    "d_substring_dup"    -> ((s, d) => substringDupPairs(Tables(s, d).documents)),
    "d_winnow_dup"       -> ((s, d) => winnowDupPairs(Tables(s, d).documents)),
    "d_span_dedup"       -> ((s, d) => spanDedup(Tables(s, d).documents)),
    "d_cross_dedup"      -> ((s, d) => {
      // Served off the durable/cached derived tables (Store falls back
      // to the Catalog cache when nothing has been persisted): corpus
      // text is never re-fingerprinted or re-shingled per admitted
      // batch — the whole point of the ingest gate at 100 TB.
      val docs = Tables(s, d).documents
      val corpus = docs.filter(col("source") =!= "src0")
      val batch = docs.filter(col("source") === "src0")
      // corpus-membership filter as a broadcast semi-join probe: the
      // derived tables cover ALL docs in the dir, the gate vets against
      // the corpus partition only — and the big derived side must not
      // shuffle for it
      val corpusIds = broadcast(corpus.select(col("doc_id")))
      val fps = graft.core.Store.docFingerprints(s, d)
        .join(corpusIds, Seq("doc_id"), "left_semi")
      val sigs = graft.core.Store.minhashSignatures(s, d)
        .join(corpusIds, Seq("doc_id"), "left_semi")
      crossDedupFromSignatures(corpus, fps, sigs, batch)
    }))

  /** DuckDB mirror of `shingled` (1-based list indexing there). */
  private[ops] val shingleCte =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
      |  FROM toks WHERE len(toks) >= 3),
      |d AS (SELECT doc_id, sh, len(sh) AS l FROM sh WHERE len(sh) > 0)""".stripMargin

  /** Portable DuckDB reproduction of the MinHash signature/banding
    * pipeline — what moves `d_minhash_lsh` / `d_fuzzy` /
    * `d_jaccard_calibration` from rows-only to hash-checked.
    *
    * Three observations make it expressible:
    *  1. The kernel's hashing is engine-independent arithmetic (FNV-1a
    *     base per shingle, 128 `a·h+b mod 2⁶⁴` permutations with
    *     splitmix64-derived constants — TextKernels), NOT a Spark
    *     hash: DuckDB replays FNV byte-exactly with a HUGEINT
    *     `list_reduce` (docs are enforced-ASCII-safe: `ord` per char ==
    *     UTF-8 byte for codepoints < 128, and the corpus is ASCII;
    *     a non-ASCII corpus would need byte-level expansion).
    *  2. The kernel's per-permutation MIN uses SIGNED long order; the
    *     oracle works in the shifted domain u = v XOR 2⁶³ (top-bit
    *     flip == +2⁶³ mod 2⁶⁴), where UNSIGNED HUGEINT order equals the
    *     kernel's signed order — the shift constant is folded into the
    *     `b` literals, so per-element work is two 32-bit-split
    *     multiplies + adds, no sign CASE. Equality (band keys,
    *     agreement counts) is invariant under the shift.
    *  3. Band buckets need no Murmur3: two docs share a Spark bucket
    *     iff their 4-perm slices are EQUAL (`hash()` is deterministic
    *     on equal inputs), so the oracle joins on the slice values
    *     directly. A murmur collision of UNEQUAL slices could add a
    *     Spark-side pair the oracle lacks (p ≈ 2⁻⁶⁴ per bucket pair;
    *     the hash compare would surface it — accepted risk).
    *
    * 64×64→mod-2⁶⁴ multiply under INT128: `a·(h mod 2³²) +
    * ((a·(h div 2³²)) mod 2³²)·2³² + c`, every term < 2⁹⁷. */
  private def huge(x: Long): String =
    java.lang.Long.toUnsignedString(x) + "::HUGEINT"
  private def minhashALit: String =
    (0 until 128).map(p => huge(TextKernels.splitmix64(2L * p + 1L) | 1L))
      .mkString("[", ", ", "]")
  private def minhashCLit: String =
    (0 until 128).map(p => huge(TextKernels.splitmix64(1000L + p) ^ Long.MinValue))
      .mkString("[", ", ", "]")

  /** CTE chain `documents → candm` (LSH candidate pairs) + `vm` (the
    * per-(doc, perm) shifted signature components, for calibration).
    * `vm` is MATERIALIZED: DuckDB inlines a CTE at each reference, and
    * the 128-permutation HUGEINT minimum is the chain's cost, read by
    * the banding and by the calibration mirrors' signature lists. */
  private def minhashSigCte: String =
    raw"""WITH toksm AS (
      |  SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents),
      |shm AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |      i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
      |  FROM toksm WHERE len(toks) >= 3),
      |dm AS (SELECT doc_id, sh FROM shm WHERE len(sh) > 0),
      |exm AS (SELECT doc_id, unnest(sh) AS s FROM dm),
      |basem AS (SELECT doc_id, list_reduce(
      |    list_prepend(14695981039346656037::HUGEINT,
      |      list_transform(generate_series(1, len(s)), i -> ord(substr(s, i, 1))::HUGEINT)),
      |    (h, b) -> ((xor((h % 256)::BIGINT, b::BIGINT)::HUGEINT + h - (h % 256))
      |               * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS base
      |  FROM exm),
      |pvm AS (SELECT p, ($minhashALit)[p+1] AS a, ($minhashCLit)[p+1] AS c
      |        FROM (SELECT unnest(generate_series(0, 127)) AS p)),
      |vm AS MATERIALIZED (SELECT doc_id, p,
      |    MIN((a * (base % 4294967296::HUGEINT)
      |         + ((a * (base // 4294967296::HUGEINT)) % 4294967296::HUGEINT)
      |           * 4294967296::HUGEINT
      |         + c) % 18446744073709551616::HUGEINT) AS u
      |  FROM basem CROSS JOIN pvm
      |  GROUP BY doc_id, p),
      |bandm AS (SELECT doc_id, p // 4 AS band,
      |    string_agg(u::VARCHAR, ',' ORDER BY p) AS bkey
      |  FROM vm GROUP BY doc_id, p // 4),
      |candm AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bandm a JOIN bandm b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  /** Canopy-blocked cosine edges (vec_a < vec_b, round(cos,4) ≥ 0.3)
    * over Similarity's `can` CTE + the min-reachable closure — the
    * shared tail of the `d_semantic_ivf` / `d_semantic_medoid` mirrors
    * (same closure as the d_semantic_dedup oracle, canopy-blocked). */
  private def semanticCanopyClosureCte: String =
    s"""cpp AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM can a JOIN can b ON a.canopy = b.canopy AND a.vec_id < b.vec_id
       |  WHERE ROUND(${graft.ops.Similarity.cosSql("a.embedding", "b.embedding")}, 4) >= 0.3),
       |eun AS (SELECT vec_a AS u, vec_b AS v FROM cpp
       |        UNION SELECT vec_b AS u, vec_a AS v FROM cpp),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM eiv
       |  UNION
       |  SELECT eun.v, reach.r FROM reach JOIN eun ON eun.u = reach.id),
       |assign AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
       |sizes AS (SELECT root, CAST(COUNT(*) AS INTEGER) AS group_size FROM assign GROUP BY root)""".stripMargin

  /** Oracles. Every dedup key including the LSH family is DuckDB-checked;
    * the signature pipeline itself is replayed portably (`minhashSigCte`),
    * and `d_simhash` replays the FNV bit-vote fingerprint the same way. */
  /** The ngram-jaccard oracle SQL also serves d_neardup_pipeline: the
    * candidates+verify pipeline must produce the IDENTICAL pair set
    * (banding recall at J≈0.98 is 1−(1−J⁴)³² ≈ 1−10⁻⁴⁶). */
  /** Inverted-index exact-Jaccard pair chain (r14) — replaces the
    * all-pairs `d a JOIN d b` + list_intersect form that made this
    * mirror family quadratic AT ORACLE SIDE (the 8 former sf0.1 sweep
    * exclusions): explode the distinct shingles, equi-join on the
    * shingle, COUNT per (a, b) = |intersection| — the same
    * linear-in-collisions shape the engine's certified inverted index
    * runs. EXACT same downstream pair set: a pair sharing zero
    * shingles has jaccard (and containment) 0 and cannot clear any
    * τ gate these mirrors apply. Emits `p(doc_a, doc_b, inter, la,
    * lb)`; requires [[shingleCte]]'s `d` in scope. */
  private[ops] val invPairCte =
    """eip AS (SELECT doc_id, unnest(sh) AS g FROM d),
      |pcp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |       FROM eip a JOIN eip b ON a.g = b.g AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |p AS (SELECT pcp.doc_a, pcp.doc_b, pcp.inter, da.l AS la, db.l AS lb
      |      FROM pcp JOIN d da ON da.doc_id = pcp.doc_a
      |               JOIN d db ON db.doc_id = pcp.doc_b)""".stripMargin

  /** [[invPairCte]] under the `dfCap` skew guard — the DuckDB mirror of
    * [[shingleIndexCapped]]: over-cap shingles are
    * anti-joined out and each doc's set size recomputed over the capped
    * vocabulary (the `lp` CTE replaces `d`'s full-vocabulary `l`), so
    * the emitted `p(doc_a, doc_b, inter, la, lb)` measures the SUB-CAP
    * sets exactly as the engine does. Requires [[shingleCte]]'s `d`. */
  private[ops] def invPairCappedCte(cap: Int): String =
    s"""eip AS (SELECT doc_id, unnest(sh) AS g FROM d),
       |fqp AS (SELECT g FROM eip GROUP BY g HAVING COUNT(*) > $cap),
       |kp AS (SELECT e.doc_id, e.g FROM eip e LEFT JOIN fqp f ON e.g = f.g
       |       WHERE f.g IS NULL),
       |lp AS (SELECT doc_id, COUNT(*) AS l FROM kp GROUP BY doc_id),
       |pcp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |       FROM kp a JOIN kp b ON a.g = b.g AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |p AS (SELECT pcp.doc_a, pcp.doc_b, pcp.inter, da.l AS la, db.l AS lb
       |      FROM pcp JOIN lp da ON da.doc_id = pcp.doc_a
       |               JOIN lp db ON db.doc_id = pcp.doc_b)""".stripMargin

  private val ngramJaccardOracle =
    s"""$shingleCte,
       |$invPairCte
       |SELECT doc_a, doc_b,
       |  ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
       |FROM p
       |WHERE ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.8""".stripMargin

  /** DuckDB mirror of substringDupPairs (k=8, dfCap=100, minRuns=1):
    * the 8-gram inverted index with the same over-cap exclusion. */
  private val substringDupOracle =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents),
      |g8 AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 7),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
      |                     toks[i+4], toks[i+5], toks[i+6], toks[i+7]))) AS gs
      |  FROM toks WHERE len(toks) >= 8),
      |e AS (SELECT doc_id, unnest(gs) AS g FROM g8),
      |keep AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= 100),
      |e2 AS (SELECT e.doc_id, e.g FROM e JOIN keep USING (g))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared_runs
      |FROM e2 a JOIN e2 b ON a.g = b.g AND a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin

  /** DuckDB mirror of spanDedup (k=20): identical tokenization, span
    * cutting, first-occurrence window, and ORDER BY reassembly. */
  private val spanDedupOracle =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id, source, t,
      |    CAST(ceil(len(t) / 20.0) AS INTEGER) AS n_spans,
      |    unnest(range(CAST(ceil(len(t) / 20.0) AS BIGINT))) AS span_idx
      |  FROM toks),
      |spans AS (
      |  SELECT doc_id, source, n_spans, span_idx,
      |    array_to_string(t[(span_idx*20+1):(span_idx*20+20)], ' ') AS span
      |  FROM sp),
      |kept AS (
      |  SELECT * FROM (
      |    SELECT doc_id, source, n_spans, span_idx, span,
      |      row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
      |    FROM spans)
      |  WHERE rn = 1)
      |SELECT doc_id, source, MAX(n_spans) AS n_spans,
      |  CAST(COUNT(*) AS INTEGER) AS n_kept,
      |  MAX(n_spans) - CAST(COUNT(*) AS INTEGER) AS n_dropped,
      |  string_agg(span, ' ' ORDER BY span_idx) AS clean_text
      |FROM kept GROUP BY 1, 2""".stripMargin

  /** DuckDB mirror of [[embedNearDupLsh]]: the hyperplane literals are
    * the SAME deterministic Random(42) Gaussians the Spark plan ships
    * (shortest-repr doubles round-trip to the identical binary64), sig
    * bits re-derived per plane with the same strict `> 0.0` test and
    * index-order dot fold; candidates = hamming ≤ 1 pairs (the probe-set
    * equi-join is EXACTLY that set — one xor popcount over all pairs is
    * fine at oracle scale), then the same ROUND(,4) cosine gate. */
  private def embedLshOracle: String = {
    val sigExpr = Similarity.hyperplanes(6, 64).zipWithIndex.map { case (p, i) =>
      val lit = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip(embedding, $lit), " +
        s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) > 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH s AS (SELECT vec_id, label, embedding, $sigExpr AS sig FROM embeddings),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    a.label AS label_a, b.label AS label_b,
       |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
       |    sqrt(list_sum(list_transform(a.embedding,
       |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
       |    sqrt(list_sum(list_transform(b.embedding,
       |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
       |  FROM s a JOIN s b
       |    ON a.vec_id < b.vec_id AND bit_count(xor(a.sig, b.sig)) <= 1)
       |SELECT vec_a, vec_b, label_a, label_b,
       |  ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) AS cos_sim
       |FROM p
       |WHERE ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) >= 0.3""".stripMargin
  }

  /** Shared DuckDB fingerprint chain of the SimHash mirrors: FNV per
    * distinct (doc, token) weighted by count, bit j via div-by-2^j
    * literals (HUGEINT ** is DOUBLE — unusable), strict `tally > 0`
    * sign — ends at the per-doc `fp` bits list. */
  private def simhashFpCte: String = {
    val pw = (0 until 64).map(j => huge(1L << j)).mkString("[", ", ", "]")
    raw"""WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t FROM toks
        |       WHERE len(t) > 0 AND NOT (len(t) = 1 AND t[1] = '')),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS cnt
        |       FROM (SELECT doc_id, unnest(t) AS tok FROM tf) GROUP BY 1, 2),
        |th AS (SELECT doc_id, cnt, list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(generate_series(1, len(tok)), i -> ord(substr(tok, i, 1))::HUGEINT)),
        |    (h, b) -> ((xor((h % 256)::BIGINT, b::BIGINT)::HUGEINT + h - (h % 256))
        |               * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
        |  FROM tc),
        |bits AS (SELECT doc_id, j,
        |    SUM(CASE WHEN (h // ($pw)[j+1]) % 2 = 1 THEN cnt ELSE -cnt END) AS tally
        |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
        |  GROUP BY 1, 2),
        |fp AS (SELECT doc_id, list(CASE WHEN tally > 0 THEN 1 ELSE 0 END ORDER BY j) AS bits
        |       FROM bits GROUP BY doc_id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Same inverted-index pair chain as the jaccard oracle but over the
    // dfCap=100 capped universe (mirrors the shipped containmentPairsFromIndex
    // guard); containment denominator = the smaller capped set.
    "d_containment" ->
      s"""$shingleCte,
         |${invPairCappedCte(100)}
         |SELECT doc_a, doc_b,
         |  ROUND(CAST(inter AS DOUBLE) / least(la, lb), 4) AS containment,
         |  ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
         |FROM p
         |WHERE ROUND(CAST(inter AS DOUBLE) / least(la, lb), 4) >= 0.9""".stripMargin,
    "d_substring_dup" -> substringDupOracle,
    // Mirror of winnowDupPairs: the t_winnow fingerprint CTE
    // byte-for-byte (same tokenization, positional 3-gram md5, window
    // MIN over the hex-string total order, full windows, DISTINCT),
    // then the same df-cap anti-join + self-join + >= minShared gate.
    "d_winnow_dup" ->
      raw"""WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |tt AS (SELECT doc_id, list_filter(toks, t -> t != '') AS t FROM toks),
        |g AS (SELECT doc_id, i,
        |    md5(array_to_string(t[i:i+2], ' ')) AS h,
        |    len(t) - 2 AS n_grams
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tt WHERE len(t) >= 3)),
        |wmin AS (SELECT doc_id, i, n_grams,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE i <= n_grams - 3),
        |freq AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 100),
        |kept AS (SELECT f.doc_id, f.fp FROM fps f
        |  LEFT JOIN freq q ON f.fp = q.fp WHERE q.fp IS NULL),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    COUNT(*) AS n_shared_fps
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_shared_fps AS BIGINT) AS n_shared_fps
        |FROM p WHERE n_shared_fps >= 2""".stripMargin,
    "d_span_dedup" -> spanDedupOracle,
    "d_cross_dedup" ->
      """WITH f AS (SELECT doc_id, source,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents),
        |ex AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |  FROM f b JOIN f c ON b.h = c.h
        |  WHERE b.source = 'src0' AND c.source != 'src0'),
        |toks AS (SELECT doc_id, source,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |shx AS (SELECT doc_id, source,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
        |  FROM toks WHERE len(toks) >= 3),
        |d AS (SELECT doc_id, source, sh, len(sh) AS l FROM shx WHERE len(sh) > 0),
        |nr AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id
        |  FROM d a JOIN d b ON a.source = 'src0' AND b.source != 'src0'
        |   AND ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (a.l + b.l - len(list_intersect(a.sh, b.sh))), 4) >= 0.8
        |  WHERE NOT EXISTS (SELECT 1 FROM ex
        |    WHERE ex.batch_id = a.doc_id AND ex.corpus_id = b.doc_id))
        |SELECT batch_id, corpus_id, 'exact' AS kind FROM ex
        |UNION ALL
        |SELECT batch_id, corpus_id, 'near' AS kind FROM nr""".stripMargin,
    "d_exact_dedup" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "d_exact_keep" ->
      """SELECT * FROM documents WHERE doc_id IN (
        |  SELECT MIN(doc_id) FROM documents
        |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))""".stripMargin,
    // exactDedupCanonical mirror: the t_normalize chain (nfc_normalize +
    // control strip + whitespace collapse + trim) under the same case
    // fold and md5 as d_exact_dedup.
    "d_exact_canonical" ->
      raw"""SELECT md5(lower(trim(regexp_replace(regexp_replace(
        |    nfc_normalize(COALESCE(text, '')),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')))) AS canon_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "d_soft_dedup" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash,
        |  COUNT(*) OVER (
        |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_copies,
        |  ROUND(CAST(1.0 AS DOUBLE) / COUNT(*) OVER (
        |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))), 4) + 0.0 AS weight
        |FROM documents""".stripMargin,
    "d_neardup_pipeline" -> ngramJaccardOracle,
    "d_ngram_jaccard" -> ngramJaccardOracle,
    "d_minhash_lsh" -> s"$minhashSigCte\nSELECT doc_a, doc_b FROM candm",
    // Candidates + DuckDB's exact levenshtein (Spark's thresholded
    // levenshtein(a,b,k) returns −1 above k; `≤ maxDist` is the same
    // predicate). The length prefilter is semantically redundant
    // (edit distance ≥ length difference) — kept for plan parity.
    "d_fuzzy" ->
      s"""$minhashSigCte,
         |nt AS (SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
         |  FROM documents)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(a.t, b.t) AS INTEGER) AS edit_distance
         |FROM candm c
         |JOIN nt a ON a.doc_id = c.doc_a
         |JOIN nt b ON b.doc_id = c.doc_b
         |WHERE abs(len(a.t) - len(b.t)) <= 10 AND levenshtein(a.t, b.t) <= 10""".stripMargin,
    // est_jaccard: round4(n/128) computed in INTEGERS — round_half_up
    // (n·625/8)/10⁴ = (n·625+4) div 8 over 10⁴ — because n ≡ 4 mod 8
    // makes the double form an exact decimal tie (HALF_UP lottery);
    // abs_err differs the two ROUNDED columns (see jaccardCalibrationFrom).
    // dupMatrixFromPairs mirror: the verified pair set via the same all-pairs
    // exact form that serves d_neardup_pipeline (identical set at
    // τ=0.8 — LSH recall certified there), canonicalized source pair,
    // DECIMAL(28,10) mean convention.
    // Pair set drawn from the SAME LSH candidate CTE the other MinHash
    // oracles replay (candm) + exact-Jaccard verification — so this key
    // tests the matrix AGGREGATION, not LSH recall: a future banding
    // recall miss shows up in d_lsh_tuning's retention metric, not as a
    // confusing hash mismatch here (ADVICE r9).
    "d_dup_matrix" ->
      s"""$minhashSigCte,
         |shdm AS (SELECT doc_id, sh, len(sh) AS l FROM dm),
         |pdm AS (SELECT c.doc_a, c.doc_b,
         |        len(list_intersect(x.sh, y.sh)) AS inter, x.l AS la, y.l AS lb
         |      FROM candm c
         |      JOIN shdm x ON x.doc_id = c.doc_a
         |      JOIN shdm y ON y.doc_id = c.doc_b),
         |vpdm AS (SELECT doc_a, doc_b,
         |    ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
         |  FROM pdm
         |  WHERE ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.8),
         |sdm AS (SELECT doc_id, COALESCE(source, '') AS source FROM documents),
         |ldm AS (SELECT LEAST(sa.source, sb.source) AS src_a,
         |    GREATEST(sa.source, sb.source) AS src_b, v.jaccard
         |  FROM vpdm v
         |  JOIN sdm sa ON sa.doc_id = v.doc_a
         |  JOIN sdm sb ON sb.doc_id = v.doc_b)
         |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) + 0.0 AS mean_jaccard
         |FROM ldm GROUP BY 1, 2""".stripMargin,
    // lshTuningFrom mirror: same candidate pairs + exact-Jaccard bin, the
    // analytic p(s)/s50 via the SAME repeated-squaring / nested-sqrt
    // association order (IEEE mult/sqrt are bit-identical across
    // engines; pow would not be), DECIMAL(28,10) retention sum.
    "d_lsh_tuning" -> {
      def sqrtN(x: String, n: Int): String =
        (1 to n).foldLeft(x)((a, _) => s"sqrt($a)")
      def log2(n: Int): Int = Integer.numberOfTrailingZeros(n)
      val cfgVals = Seq((64, 2), (32, 4), (16, 8), (8, 16)).map { case (b, r) =>
        s"($b, $r, ROUND(${sqrtN(s"(1.0 - ${sqrtN("0.5", log2(b))})", log2(r))}, 4) + 0.0)"
      }.mkString(", ")
      s"""$minhashSigCte,
         |shlt AS (SELECT doc_id, sh, len(sh) AS l FROM dm),
         |jxt AS (SELECT ROUND(ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         |      / (x.l + y.l - len(list_intersect(x.sh, y.sh))), 4), 1) + 0.0 AS s
         |  FROM candm c
         |  JOIN shlt x ON x.doc_id = c.doc_a
         |  JOIN shlt y ON y.doc_id = c.doc_b),
         |histt AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM jxt GROUP BY s),
         |gridt AS (SELECT * FROM histt CROSS JOIN (VALUES $cfgVals) AS cfg(b, r, s50)),
         |t1 AS (SELECT *, s * s AS s2 FROM gridt),
         |t2 AS (SELECT *, s2 * s2 AS s4 FROM t1),
         |t3 AS (SELECT *, s4 * s4 AS s8 FROM t2),
         |t4 AS (SELECT *, s8 * s8 AS s16 FROM t3),
         |t5 AS (SELECT *, 1.0 - (CASE r WHEN 2 THEN s2 WHEN 4 THEN s4
         |                                WHEN 8 THEN s8 ELSE s16 END) AS q FROM t4),
         |u1 AS (SELECT *, q * q AS q2 FROM t5),
         |u2 AS (SELECT *, q2 * q2 AS q4 FROM u1),
         |u3 AS (SELECT *, q4 * q4 AS q8 FROM u2),
         |u4 AS (SELECT *, q8 * q8 AS q16 FROM u3),
         |u5 AS (SELECT *, q16 * q16 AS q32 FROM u4),
         |u6 AS (SELECT *, q32 * q32 AS q64 FROM u5),
         |ppt AS (SELECT s, n, b, r, s50,
         |    1.0 - (CASE b WHEN 8 THEN q8 WHEN 16 THEN q16
         |                  WHEN 32 THEN q32 ELSE q64 END) AS p
         |  FROM u6)
         |SELECT CAST(b AS INT) AS n_bands, CAST(r AS INT) AS rows_per_band, s50,
         |  CAST(SUM(n) AS BIGINT) AS n_pairs,
         |  ROUND(CAST(SUM(CAST(n * p AS DECIMAL(28,10))) AS DOUBLE), 2) + 0.0 AS exp_retained,
         |  ROUND(CAST(SUM(CAST(n * p AS DECIMAL(28,10))) AS DOUBLE) / SUM(n), 4) + 0.0 AS retained_frac
         |FROM ppt GROUP BY 1, 2, 3""".stripMargin
    },
    "d_jaccard_calibration" ->
      s"""$minhashSigCte,
         |sigl AS (SELECT doc_id, list(u ORDER BY p) AS sig FROM vm GROUP BY doc_id),
         |shl AS (SELECT doc_id, sh, len(sh) AS l FROM dm),
         |j AS (SELECT c.doc_a, c.doc_b,
         |    len(list_intersect(x.sh, y.sh)) AS inter, x.l AS la, y.l AS lb,
         |    len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2])) AS n_agree
         |  FROM candm c
         |  JOIN shl x ON x.doc_id = c.doc_a
         |  JOIN shl y ON y.doc_id = c.doc_b
         |  JOIN sigl sa ON sa.doc_id = c.doc_a
         |  JOIN sigl sb ON sb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, CAST(n_agree AS INTEGER) AS n_agree,
         |  CAST((n_agree * 625 + 4) // 8 AS DOUBLE) / 10000.0 + 0.0 AS est_jaccard,
         |  ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS exact_jaccard,
         |  ROUND(ABS(CAST((n_agree * 625 + 4) // 8 AS DOUBLE) / 10000.0
         |        - ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4)), 4) + 0.0 AS abs_err
         |FROM j
         |WHERE ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.0""".stripMargin,
    // permCurveFrom mirror: the calibration pair chain with PREFIX-sliced
    // signature agreements per candidate p (a p-perm MinHash is the
    // first p rows of the 128-perm signature), exact-integer n/p
    // estimates and the integer-mean MAE, unioned per p.
    // The CTEs read more than once (`ga` by each of the four union
    // arms, `sigl` and `shl` by both pair sides) are MATERIALIZED, so
    // the MinHash chain runs once rather than once per reference.
    "d_perm_curve" -> {
      val perms = Seq(16, 32, 64, 128)
      s"""$minhashSigCte,
         |sigl AS MATERIALIZED (SELECT doc_id, list(u ORDER BY p) AS sig FROM vm GROUP BY doc_id),
         |shl AS MATERIALIZED (SELECT doc_id, sh, len(sh) AS l FROM dm),
         |jp AS (SELECT c.doc_a, c.doc_b,
         |    ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         |          / (x.l + y.l - len(list_intersect(x.sh, y.sh))), 4) AS ej,
         |    ${perms.map(p =>
                s"len(list_filter(list_zip(sa.sig[1:$p], sb.sig[1:$p]), z -> z[1] = z[2])) AS n$p")
                .mkString(",\n    ")}
         |  FROM candm c
         |  JOIN shl x ON x.doc_id = c.doc_a
         |  JOIN shl y ON y.doc_id = c.doc_b
         |  JOIN sigl sa ON sa.doc_id = c.doc_a
         |  JOIN sigl sb ON sb.doc_id = c.doc_b
         |  WHERE ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         |          / (x.l + y.l - len(list_intersect(x.sh, y.sh))), 4) >= 0.0),
         |fe AS (SELECT doc_a, doc_b,
         |    ${perms.map(p =>
                s"ROUND(ABS(CAST((20000 * n$p + $p) // (2 * $p) AS DOUBLE) / 10000.0 - ej), 4) + 0.0 AS err$p")
                .mkString(",\n    ")}
         |  FROM jp),
         |ga AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    ${perms.flatMap(p => Seq(
                s"CAST(COALESCE(SUM(CAST(round(err$p * 10000) AS BIGINT)), 0) AS BIGINT) AS s$p",
                s"COALESCE(MAX(err$p), 0.0) AS m$p")).mkString(",\n    ")}
         |  FROM fe)
         |""".stripMargin +
        perms.map(p =>
          s"""SELECT CAST($p AS INT) AS n_perms, n_pairs,
             |  (CASE WHEN n_pairs = 0 THEN 0.0 ELSE
             |    CAST((200 * s$p + n_pairs) // (2 * n_pairs) AS DOUBLE) / 1000000.0 END)
             |    + 0.0 AS mae,
             |  m$p + 0.0 AS max_err,
             |  CAST(${p * 8} AS INT) AS sig_bytes
             |FROM ga""".stripMargin).mkString("\nUNION ALL\n")
    },
    // SimHash: FNV per DISTINCT (doc, token) weighted by count (the
    // kernel hashes every occurrence — hash(t)·cnt votes identically),
    // bit j via div-by-2^j literals (HUGEINT ** is DOUBLE — unusable),
    // strict `tally > 0` sign, and an all-pairs hamming at oracle scale
    // only: the engine's 16-bit-chunk blocking is EXACT for hamming ≤ 3
    // (pigeonhole), so the sets coincide.
    "d_simhash" ->
      (simhashFpCte +
        raw"""
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_filter(list_zip(a.bits, b.bits), x -> x[1] != x[2])) AS INTEGER)
        |    AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(list_zip(a.bits, b.bits), x -> x[1] != x[2])) <= 3""".stripMargin),
    // simhashCurve mirror: the same fingerprint chain, the widest-radius
    // all-pairs set once, then one conditional pair-count + distinct-doc
    // count per radius (the m_phash_curve shape), unioned per radius.
    "d_simhash_curve" ->
      (simhashFpCte +
        raw""",
        |sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_filter(list_zip(a.bits, b.bits), x -> x[1] != x[2])) AS hamming
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id),
        |spp AS (SELECT * FROM sp WHERE hamming <= 3),
        |pc AS (SELECT
        |    ${Seq(0,1,2,3).map(r => s"CAST(COALESCE(SUM(CASE WHEN hamming <= $r THEN 1 ELSE 0 END), 0) AS BIGINT) AS p$r").mkString(",\n    ")}
        |  FROM spp),
        |dd AS (SELECT doc_a AS doc, hamming FROM spp
        |       UNION ALL SELECT doc_b AS doc, hamming FROM spp),
        |dc AS (SELECT
        |    ${Seq(0,1,2,3).map(r => s"CAST(COUNT(DISTINCT CASE WHEN hamming <= $r THEN doc END) AS BIGINT) AS d$r").mkString(",\n    ")}
        |  FROM dd)
        |""".stripMargin +
        Seq(0, 1, 2, 3).map(r =>
          s"""SELECT CAST($r AS INT) AS max_hamming, p$r AS n_pairs, d$r AS n_docs
             |FROM pc, dc""".stripMargin).mkString("\nUNION ALL\n")),
    // Mirror of dedupCurveFromIndex: the same pair CTE at the loosest τ — under
    // the default dfCap=100 capped universe — the same τ-grid fan-out
    // over the ROUND(,4) jaccard.
    "d_dedup_curve" ->
      s"""$shingleCte,
         |${invPairCappedCte(100)},
         |pj AS (SELECT doc_a, doc_b,
         |        ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
         |      FROM p),
         |f AS (SELECT doc_a, doc_b, jaccard, unnest([0.7, 0.8, 0.9]) AS tau
         |      FROM pj WHERE jaccard >= 0.7),
         |ff AS (SELECT * FROM f WHERE jaccard >= tau),
         |np AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM ff GROUP BY 1),
         |nd AS (SELECT tau, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_affected
         |       FROM (SELECT tau, unnest([doc_a, doc_b]) AS doc FROM ff) GROUP BY 1)
         |SELECT CAST(tau AS DOUBLE) AS tau, n_pairs, n_docs_affected
         |FROM np JOIN nd USING (tau)""".stripMargin,
    // Mirror of ngramNoveltyFromIndex: same distinct-per-doc shingles, df over
    // the fan-out, one int/int ROUND(,4)+0.0 per doc.
    "d_ngram_novelty" ->
      s"""$shingleCte,
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
         |f AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY 1)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  ROUND(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) + 0.0
         |    AS novelty
         |FROM ex JOIN f USING (shingle) GROUP BY 1""".stripMargin,
    // Mirror of semanticDedupBuckets: label-blocked cosine edges at
    // τ=0.3, min-reachable-id components via a recursive closure (the
    // same fixpoint DupClusters' star contraction converges to), keep
    // id = root, report component size.
    "d_semantic_dedup" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(a.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(b.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id),
        |edges AS (SELECT va, vb FROM p
        |  WHERE ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) >= 0.3),
        |e AS (SELECT va AS u, vb AS v FROM edges
        |      UNION SELECT vb AS u, va AS v FROM edges),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id),
        |assign AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
        |sizes AS (SELECT root, CAST(COUNT(*) AS INTEGER) AS group_size
        |          FROM assign GROUP BY root)
        |SELECT emb.vec_id, emb.label, sizes.group_size
        |FROM embeddings emb
        |JOIN assign ON emb.vec_id = assign.id AND assign.id = assign.root
        |JOIN sizes ON sizes.root = assign.root""".stripMargin,
    // Mirror of crossSemanticDedupBuckets at the vec_id<400 / ≥400
    // split: corpus survivors via the same recursive closure as
    // d_semantic_dedup (restricted to the corpus side), then the
    // batch × survivor cosine check within label.
    "d_semantic_cross" ->
      """WITH RECURSIVE c AS (SELECT * FROM embeddings WHERE vec_id < 400),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(a.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(b.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id),
        |edges AS (SELECT va, vb FROM p
        |  WHERE ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) >= 0.3),
        |e AS (SELECT va AS u, vb AS v FROM edges
        |      UNION SELECT vb AS u, va AS v FROM edges),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM c
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN e ON e.u = reach.id),
        |assign AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
        |surv AS (SELECT c.* FROM c
        |  JOIN assign ON c.vec_id = assign.id AND assign.id = assign.root),
        |x AS (
        |  SELECT b.vec_id, b.label, s.vec_id AS surv_id,
        |    ROUND(CASE WHEN
        |        sqrt(list_sum(list_transform(b.embedding,
        |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(s.embedding,
        |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) = 0 THEN 0
        |      ELSE list_sum(list_transform(list_zip(b.embedding, s.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(b.embedding,
        |            v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |          * sqrt(list_sum(list_transform(s.embedding,
        |            v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) END, 4) AS cos
        |  FROM embeddings b JOIN surv s ON b.label = s.label
        |  WHERE b.vec_id >= 400)
        |SELECT vec_id, label, MIN(surv_id) AS dup_of, MAX(cos) AS max_cos
        |FROM x WHERE cos >= 0.3 GROUP BY 1, 2""".stripMargin,
    "d_embed_lsh" -> embedLshOracle,
    // The IVF-blocked scale forms, hash-checked off Similarity's
    // portable Lloyd-fit CTE: canopy pairs at round(cos,4) >= 0.3, the
    // same min-reachable recursive closure as d_semantic_dedup.
    "d_semantic_ivf" ->
      (s"WITH RECURSIVE ${graft.ops.Similarity.ivfFitCte},\n" + semanticCanopyClosureCte +
        """
          |SELECT e.vec_id, e.label, sizes.group_size
          |FROM eiv e JOIN assign ON e.vec_id = assign.id AND assign.id = assign.root
          |JOIN sizes ON sizes.root = assign.root""".stripMargin),
    // Medoid keep: per component, fixed-point SUM vector (the
    // s_centroid_report Math.round idiom) cast to FLOAT, argmax of
    // round(cos(member, sum), 6) with vec_id tie-break.
    "d_semantic_medoid" ->
      (s"WITH RECURSIVE ${graft.ops.Similarity.ivfFitCte},\n" + semanticCanopyClosureCte +
        s""",
          |mx AS (SELECT assign.root AS cluster_id, CAST(pos - 1 AS INT) AS dim,
          |    CAST(vf AS DOUBLE) * 1000000000 AS sc
          |  FROM (SELECT vec_id, unnest(embedding) AS vf,
          |          unnest(generate_series(1, len(embedding))) AS pos FROM eiv) u
          |  JOIN assign ON assign.id = u.vec_id),
          |ms AS (SELECT cluster_id, dim,
          |    SUM(CAST(floor(sc) AS BIGINT) + CASE WHEN sc - floor(sc) >= 0.5 THEN 1 ELSE 0 END) AS sv
          |  FROM mx GROUP BY 1, 2),
          |mc AS (SELECT cluster_id, list(CAST(sv AS FLOAT) ORDER BY dim) AS gsum FROM ms GROUP BY 1),
          |scored AS (SELECT assign.root AS cluster_id, e.vec_id, e.label,
          |    ROUND(${graft.ops.Similarity.cosSql("e.embedding", "mc.gsum")}, 6) AS medoid_cos
          |  FROM eiv e JOIN assign ON assign.id = e.vec_id
          |  JOIN mc ON mc.cluster_id = assign.root),
          |keep AS (SELECT cluster_id, vec_id, label FROM (
          |    SELECT *, row_number() OVER (PARTITION BY cluster_id
          |        ORDER BY medoid_cos DESC, vec_id ASC) AS rn FROM scored) WHERE rn = 1)
          |SELECT keep.vec_id, keep.label, sizes.group_size
          |FROM keep JOIN sizes ON sizes.root = keep.cluster_id""".stripMargin),
    "d_embed_neardup" ->
      """WITH p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
        |    sqrt(list_sum(list_transform(a.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(b.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nb
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, label,
        |  ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) AS cos_sim
        |FROM p
        |WHERE ROUND(CASE WHEN na * nb = 0 THEN 0 ELSE dot / (na * nb) END, 4) >= 0.3""".stripMargin,
    // crossLingualNearDup over the planted unions: the same label-
    // blocked cosine pair CTE at τ = 0.9, per-doc distinct-token
    // profiles, and the exact set-Jaccard surface-blindness cut —
    // every constant rendered from the ONE Scala definition
    "d_crosslingual" ->
      s"""WITH xdocs AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    $xlingDocsValuesSql) AS v(doc_id, lang, text)),
         |xemb AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    $xlingVecsValuesSql) AS e(vec_id, label, embedding)),
         |xp AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ROUND(${graft.ops.Similarity.cosSql("a.embedding", "b.embedding")}, 4) AS cos_sim
         |  FROM xemb a JOIN xemb b ON a.label = b.label AND a.vec_id < b.vec_id),
         |xpr AS (SELECT doc_id, COALESCE(lang, 'unknown') AS lang,
         |    list_distinct(string_split_regex(trim(COALESCE(text, '')), '\\s+')) AS toks
         |  FROM xdocs),
         |xj AS (
         |  SELECT vec_a, vec_b, pa.lang AS lang_a, pb.lang AS lang_b, cos_sim,
         |    len(list_filter(pa.toks, x -> list_contains(pb.toks, x))) AS n_shared,
         |    len(pa.toks) + len(pb.toks)
         |      - len(list_filter(pa.toks, x -> list_contains(pb.toks, x))) AS n_union
         |  FROM xp JOIN xpr pa ON pa.doc_id = xp.vec_a
         |    JOIN xpr pb ON pb.doc_id = xp.vec_b
         |  WHERE cos_sim >= 0.9)
         |SELECT vec_a, vec_b, lang_a, lang_b, cos_sim,
         |  CAST(n_shared AS BIGINT) AS n_shared,
         |  ROUND(CAST(n_shared AS DOUBLE) / GREATEST(n_union, 1), 4) + 0.0 AS jaccard
         |FROM xj
         |WHERE ROUND(CAST(n_shared AS DOUBLE) / GREATEST(n_union, 1), 4) <= 0.05""".stripMargin)
}
