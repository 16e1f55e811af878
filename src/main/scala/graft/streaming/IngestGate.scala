package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Store
import graft.ops.Dedup

/** Streaming cross-corpus dedup (SURVEY.md §2.4): the admit-or-reject
  * ingest gate (`Dedup.crossDedupFromSignatures`) run continuously over
  * a STREAM of arriving documents.
  *
  * Architecture: there is no streaming state store — the state IS the
  * durable corpus (documents + fingerprint + signature tables in
  * `core.Store`), which each micro-batch reads for vetting and extends
  * by its ADMITTED rows only. The batch's decision frame is
  * materialized ONCE, appended to a decision-log table FIRST, and the
  * admitted set is derived from that same in-hand frame (never by
  * re-reading the log, whose size grows ∝ admitted history, and never
  * from a plan that reads tables the batch just mutated). The admitted
  * rows, their fingerprint and signature columns (`Dedup`'s stored-
  * column definitions) and their presence flags are materialized as
  * one batch-sized frame that feeds the corpus, fingerprint and
  * signature appends — compute ∝ batch, never ∝ corpus. The log is the
  * gate's durable write-ahead record (a crashed batch re-runs
  * idempotently: the corpus-as-of-before-the-batch reconstruction
  * below makes re-derived decisions equal the originals, and each of
  * the three appends drops the doc_ids a crashed attempt already
  * landed in its table).
  *
  * Sequencing semantics: batch N is vetted against the corpus AS OF
  * batch N−1's admissions — a duplicate of a document admitted two
  * minutes ago is rejected, which is exactly what an ingest gate is
  * for. (The one-micro-batch case therefore equals the batch operator
  * verbatim; StreamingSpec proves both.) In-batch duplicates are not
  * this gate's business — compose with `Dedup.exactDedup` upstream,
  * same as the batch pipeline.
  *
  * Optional second arm ([[EvalVet]]): every batch is also vetted
  * against an evaluation union via the Bloom-prefiltered
  * decontamination operator (`t_decontam_bloom` verbatim over
  * batch ∪ eval — per-doc overlap is corpus-independent, so the
  * streamed union of per-batch results equals the batch operator
  * exactly; StreamingSpec proves it). Contamination rejections are
  * WAL-logged in the same decision table with kind `contam` and a
  * null corpus_id.
  *
  * Optional third arm (`vetQuality = true`): batch docs failing the
  * composite quality filter (`TextAnalysis.filterPipeline`) are
  * rejected with kind `quality:<verdict>` — making the gate the full
  * pipeline admission point: dedup + decontamination + quality, one
  * WAL, one admitted set.
  *
  * Optional fourth arm (`sampleRates`): the deterministic training
  * mixture (`Sampling.sampleMixture`'s md5-threshold membership)
  * applied at admission — docs outside their source's sampling rate
  * are rejected with kind `sampled_out`. Membership is a pure function
  * of (source, doc_id), so the arm is corpus-independent, identical
  * under replay, and the streamed admitted set equals the batch
  * operator's sample exactly (StreamingSpec proves it).
  *
  * Optional fifth arm ([[SemanticVet]]): EMBEDDING-space vetting — the
  * streaming form of `Dedup.crossSemanticDedup` over the durable
  * semantic-survivor table (`Store.saveSemanticSurvivors` layout:
  * (vec_id, label, embedding, cluster) bucketed by the coarse cluster).
  * Each batch doc's vector (vec_id = doc_id) probes its nAssign nearest
  * coarse clusters scan-side and compares ONLY against survivors in
  * those lists — work ∝ batch × bucket, never ∝ survivors; a semantic
  * duplicate of an existing survivor is rejected with kind `semantic`
  * and the minimum matching survivor as corpus_id. Admitted docs'
  * vectors are appended to the survivor table (single-nearest cluster,
  * the stored layout) so batch N+1 is vetted against batch N's
  * admissions — the same sequencing contract as the signature arm, in
  * embedding space. Replay-idempotent by the same two guards (vet
  * against survivors-sans-batch; presence-probed append).
  *
  * Optional sixth arm ([[DsirVet]]): TARGET-LIKENESS admission — the
  * streaming form of `Sampling.dsirThresholdOverFeats`'s selection, served off
  * a PRE-TRAINED model (the `Sampling.dsirModelFromFeats` 256-row bucket table
  * + a pinned τ, both driver-scale artifacts — in production the
  * stored model a selection run fits once per (target, corpus-regime)
  * and the τ its budget sweep picked, see d_dsir_curve). Each batch
  * doc is scored scan-side (`Sampling.dsirScore` — the same bigram
  * features, broadcast model join, ROUND(,4) mean) and rejected with
  * kind `dsir` when its weight is below τ OR it has no bigram signal
  * at all (< 2 tokens — no target evidence, the conservative default
  * for an admission gate). Scoring under a FIXED model is a pure
  * function of the doc text, so the arm is corpus-independent,
  * bit-identical under replay, and the streamed admitted set equals
  * the batch selection { weight ≥ τ } exactly (StreamingSpec proves
  * it).
  *
  * Optional seventh arm (`minQualityBucket`, r14): per-LANGUAGE
  * quality-bucket admission — the t_quality_lang card judged in the
  * document's own language (winning-list stopword mass), so a
  * high-only policy admits a clean French/Chinese document the
  * en-centric t_quality bucket would cap at 'medium' (en_hits = 0).
  * Rejection kind `quality_bucket:<bucket>`.
  *
  * Optional eighth arm ([[QualityModelVet]], r15): MODEL-based quality
  * admission — the t_quality_model classifier's fixed log-odds model
  * served scan-side (the DsirVet serving shape; kind `quality_model`).
  *
  * With all eight arms on, the gate is the complete
  * corpus-preparation admission point: exact/near dedup + semantic
  * dedup + decontamination + quality (composite + lang-aware bucket +
  * model score) + mixture + target-likeness, one WAL.
  */
object IngestGate {

  /** Streaming reads need an explicit schema (documents.parquet). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Raw document file stream. */
  def documentStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(dir)

  /** Seed the durable corpus: documents bucketed by doc_id plus their
    * fingerprint and signature tables. Run once before starting the
    * gate (an unseeded gate admits its first batch wholesale — an empty
    * corpus rejects nothing, which is also correct). */
  def seedCorpus(spark: SparkSession, corpus: DataFrame, corpusTable: String,
                 fpTable: String, sigTable: String, buckets: Int = 8): Unit = {
    corpus.write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id").saveAsTable(corpusTable)
    Store.refreshDocFingerprints(spark, spark.table(corpusTable), buckets, fpTable)
    Store.refreshMinhashSignatures(spark, spark.table(corpusTable), buckets, sigTable)
  }

  /** Optional eval-decontamination arm of the gate: the Bloom sketch
    * over the eval union's n-grams (build once via
    * `TextAnalysis.evalNgramBloom` / `Catalog.evalNgramBloom` — a
    * fixed-size model, exactly the t_decontam_bloom serving shape) plus
    * the eval documents for the exact false-positive verify join.
    * Batches must not carry `evalSource` as their own source tag. */
  final case class EvalVet(evalDocs: DataFrame, bloom: Option[Array[Byte]],
                           evalSource: String = "src19", minHits: Int = 2)

  /** Optional semantic arm of the gate: `embeddings` is the vector
    * lookup for arriving docs (vec_id = doc_id — at 100 TB this is the
    * embedding column/table the inference stage maintains next to the
    * text), `survivorTable` the durable semantic-survivor set in the
    * `Store.saveSemanticSurvivors` layout, `centroids` the SHARED coarse
    * quantizer every semantic operator uses (Catalog-cached fit). */
  final case class SemanticVet(embeddings: DataFrame, survivorTable: String,
                               centroids: Seq[Seq[Double]], tau: Double = 0.3,
                               nAssign: Int = 2)

  /** Optional target-likeness arm of the gate: `model` is the
    * pre-trained 256-row DSIR bucket table (`Sampling.dsirModelFromFeats` — fit
    * once on the reference corpus + target, a stored artifact like the
    * Bloom sketch), `tau` the pinned selection threshold (what
    * d_dsir_curve's budget sweep picks). */
  final case class DsirVet(model: DataFrame, tau: Double)

  /** Optional MODEL-QUALITY arm of the gate (r15): `model` is the
    * pre-trained NB log-odds bucket table of the quality classifier
    * (the same 256-row artifact shape as [[DsirVet]]'s, fit by
    * `TextAnalysis.qualityModelScores`' training side against a
    * declared high-quality source), `tau` the pinned score cut (what
    * t_quality_model_curve's sweep picks). Rejection kind
    * `quality_model`; docs with no bigram signal (< 2 tokens) are
    * rejected — no quality evidence, the conservative admission
    * default, same as the DSIR arm. NOTE the same NULL also covers a
    * doc whose bigrams all hash to buckets ABSENT from the served
    * model (the scorer inner-joins features to the artifact): with the
    * 256-bucket md5 feature space any real training corpus populates
    * every bucket, but a model fit on a toy corpus can leave holes,
    * and a doc falling entirely into them is rejected under the same
    * no-evidence rationale — which is the intended policy (no bucket
    * the model has seen ⇒ no quality evidence), just a second route
    * to it. */
  final case class QualityModelVet(model: DataFrame, tau: Double)

  /** Seed the durable semantic-survivor table (plain bucketed-by-cluster
    * table — the gate appends to it per batch, unlike the versioned
    * `Store.publish` views). Run once with the corpus's current survivor
    * set; an unseeded gate admits every first-batch vector (an empty
    * survivor set rejects nothing — correct, like [[seedCorpus]]). */
  def seedSemantic(survivors: DataFrame, survivorTable: String,
                   buckets: Int = 8): Unit =
    survivors.write.mode("overwrite")
      .bucketBy(buckets, "cluster").sortBy("vec_id").saveAsTable(survivorTable)

  /** One micro-batch through the gate — also directly callable as the
    * batch-mode unit (StreamingSpec proves stream == batch with it). */
  def admitBatch(batch: DataFrame, corpusTable: String, fpTable: String,
                 sigTable: String, decisionsTable: String, buckets: Int = 8,
                 tau: Double = 0.8, eval: Option[EvalVet] = None,
                 vetQuality: Boolean = false,
                 sampleRates: Option[(Map[String, Double], Double)] = None,
                 semantic: Option[SemanticVet] = None,
                 dsir: Option[DsirVet] = None,
                 minQualityBucket: Option[String] = None,
                 qualityModel: Option[QualityModelVet] = None,
                 tombstones: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val haveCorpus = spark.catalog.tableExists(corpusTable)
    // Vet against the corpus MINUS this batch's own doc_ids: on a
    // crash-replay the batch's admitted rows are already in the stored
    // tables, and excluding them reconstructs the exact corpus-as-of-
    // before-the-batch — the replayed decisions equal the originals
    // instead of every admitted doc "rejecting" against itself. (The
    // anti-joins are broadcast batch-id probes; no-ops on a clean run.)
    // With a `tombstones` table configured (r15, the takedown leg) the
    // vetting side is additionally LIVE-only: a taken-down corpus doc
    // must stop rejecting honest re-submissions (which arrive under
    // fresh doc_ids — the shared re-submission contract). The distinct
    // tombstoned-id set is materialized ONCE per batch (eager
    // localCheckpoint) — every vetting arm anti-joins against the same
    // frame instead of re-scanning the tombstone WAL per table.
    val batchIds = batch.select(col("doc_id"))
    val tombIds: Option[DataFrame] = tombstones
      .filter(spark.catalog.tableExists)
      .map(t => Takedown.tombstonedIds(spark, t).localCheckpoint())
    def liveSans(df: DataFrame, idCol: String): DataFrame =
      tombIds.fold(df)(ids =>
        df.join(ids.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti"))
    def sansBatch(t: String): DataFrame =
      liveSans(spark.table(t), "doc_id")
        .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
    val decisions =
      if (!haveCorpus)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("batch_id", LongType),
            StructField("corpus_id", LongType), StructField("kind", StringType))))
      else
        Dedup.crossDedupFromSignatures(sansBatch(corpusTable),
          sansBatch(fpTable), sansBatch(sigTable), batch, tau)
    // Decontamination arm: vet the batch against the eval union via the
    // pre-built Bloom sketch (scan-side probe, exact verify join — the
    // t_decontam_bloom operator verbatim over batch ∪ eval, so stream ≡
    // batch by construction). Contamination is corpus-independent and
    // deterministic per batch, so replays re-derive identical rows —
    // the same at-least-once contract as the dedup decisions.
    // `corpus_id` is null: the "duplicate of" is the eval set, not a
    // corpus document.
    val contam = eval match {
      case None => Seq.empty[DataFrame]
      case Some(ev) =>
        val cols = Seq("doc_id", "text", "source").map(col)
        Seq(graft.ops.TextAnalysis.decontaminateWithBloom(
            batch.select(cols: _*).unionByName(ev.evalDocs.select(cols: _*)),
            ev.bloom, ev.evalSource, ev.minHits)
          .select(col("doc_id").as("batch_id"),
            lit(null).cast("long").as("corpus_id"), lit("contam").as("kind")))
    }
    // Quality arm: batch docs failing the composite filter are rejected
    // with their verdict as the decision kind (quality:<reason>). Pure
    // scan-side (filterPipeline — zero shuffles), corpus-independent and
    // deterministic per batch: the same at-least-once replay contract
    // as the other arms.
    val quality =
      if (!vetQuality) Seq.empty[DataFrame]
      else Seq(graft.ops.TextAnalysis.filterPipeline(batch)
        .filter(col("verdict") =!= "keep")
        .select(col("doc_id").as("batch_id"),
          lit(null).cast("long").as("corpus_id"),
          concat(lit("quality:"), col("verdict")).as("kind")))
    // LANG-AWARE quality-bucket arm (r14): admission by the
    // per-LANGUAGE quality card (TextAnalysis.qualityByLang — the
    // t_quality_lang operator), which scores stopword mass as the
    // WINNING language's hits instead of the English list's. A gate
    // bucketing on the en-centric t_quality card silently caps every
    // clean non-English document at 'medium' (its en_hits are 0), so a
    // high-only admission policy would reject the corpus' non-English
    // half — the C4-era failure, here at the production admission
    // point (spec-proven: the same French doc passes this arm and
    // fails the en-centric bucket). Pure scan-side, corpus-independent
    // and deterministic per batch — the standard replay contract.
    val langQuality = minQualityBucket match {
      case None => Seq.empty[DataFrame]
      case Some(min) =>
        def rank(bucket: Column): Column =
          when(bucket === "high", 2).when(bucket === "medium", 1).otherwise(0)
        val minRank = Map("low" -> 0, "medium" -> 1, "high" -> 2)(min)
        Seq(graft.ops.TextAnalysis.qualityByLang(batch)
          .filter(rank(col("quality_bucket")) < minRank)
          .select(col("doc_id").as("batch_id"),
            lit(null).cast("long").as("corpus_id"),
            concat(lit("quality_bucket:"), col("quality_bucket")).as("kind")))
    }
    // Sampling arm: docs OUTSIDE the deterministic mixture membership
    // are rejected at admission (kind sampled_out). Membership is a
    // pure function of (source, doc_id) — scan-side, corpus-independent,
    // bit-identical under replay — so the admitted set is exactly the
    // batch operator's sample of whatever survives the other arms.
    val sampling = sampleRates match {
      case None => Seq.empty[DataFrame]
      case Some((rates, dflt)) =>
        Seq(batch.filter(!graft.ops.Sampling.keepCol(rates, dflt))
          .select(col("doc_id").as("batch_id"),
            lit(null).cast("long").as("corpus_id"),
            lit("sampled_out").as("kind")))
    }
    // Semantic arm: the batch docs' vectors vetted against the durable
    // survivor table MINUS this batch's own ids (the same crash-replay
    // reconstruction as the signature arm — a replayed batch's own
    // appended survivors must not reject it). Blocking is the nAssign-
    // nearest-cluster probe against the stored bucketed-by-cluster
    // layout; work ∝ batch × bucket, never ∝ survivors.
    val semRejects = semantic match {
      case None => Seq.empty[DataFrame]
      case Some(sem) if !spark.catalog.tableExists(sem.survivorTable) =>
        Seq.empty[DataFrame] // unseeded: empty survivor set rejects nothing
      case Some(sem) =>
        val vecIds = batchIds.select(col("doc_id").as("vec_id"))
        val batchEmb = sem.embeddings.join(broadcast(vecIds), Seq("vec_id"), "left_semi")
        // LIVE survivors only (r15): a tombstoned doc's vector must stop
        // semantic-rejecting re-submissions, exactly like the
        // fingerprint/signature arms (vec_id ≡ doc_id by the gate's
        // contract, so the same tombstone set filters this table)
        val survSans = liveSans(spark.table(sem.survivorTable), "vec_id")
          .join(broadcast(vecIds), Seq("vec_id"), "left_anti")
        Seq(Dedup.crossSemanticDedup(survSans, batchEmb, sem.centroids,
            sem.tau, sem.nAssign)
          .select(col("vec_id").as("batch_id"), col("dup_of").as("corpus_id"),
            lit("semantic").as("kind")))
    }
    // Target-likeness arm: batch docs scored under the PRE-TRAINED DSIR
    // model (scan-side bigram features + broadcast model join); weight
    // below τ — or no bigram signal at all — rejects with kind dsir.
    // A fixed model makes the score a pure function of the doc text:
    // corpus-independent, bit-identical under replay, stream ≡ batch.
    val dsirRejects = dsir match {
      case None => Seq.empty[DataFrame]
      case Some(dv) =>
        val scored = graft.ops.Sampling.dsirScore(batch, dv.model)
          .select(col("doc_id"), col("dsir_weight"))
        Seq(batch.select(col("doc_id"))
          .join(scored, Seq("doc_id"), "left_outer")
          .filter(col("dsir_weight").isNull || col("dsir_weight") < dv.tau)
          .select(col("doc_id").as("batch_id"),
            lit(null).cast("long").as("corpus_id"), lit("dsir").as("kind")))
    }
    // Model-quality arm (r15): the same fixed-model scan-side scoring
    // shape as the DSIR arm — bigram features + broadcast model join —
    // but against the QUALITY classifier (hq-vs-rest log-odds); score
    // below τ, or no bigram signal at all, rejects with kind
    // quality_model. A fixed model makes the score a pure function of
    // the doc text: corpus-independent, bit-identical under replay,
    // stream ≡ batch (spec-proven).
    val qmRejects = qualityModel match {
      case None => Seq.empty[DataFrame]
      case Some(qv) =>
        val scored = graft.ops.Sampling.dsirScore(batch, qv.model)
          .select(col("doc_id"), col("dsir_weight").as("q_score"))
        Seq(batch.select(col("doc_id"))
          .join(scored, Seq("doc_id"), "left_outer")
          .filter(col("q_score").isNull || col("q_score") < qv.tau)
          .select(col("doc_id").as("batch_id"),
            lit(null).cast("long").as("corpus_id"),
            lit("quality_model").as("kind")))
    }
    // WAL first: land the decisions, then derive everything downstream
    // from the batch's OWN materialized decision frame — never from a
    // plan that re-reads tables this batch just mutated, and (r16)
    // never from the full decisions log either. The r15 form semi-
    // joined `spark.table(decisionsTable)` by the batch ids, which
    // reads a table growing ∝ admitted HISTORY every batch — the one
    // per-batch cost in the gate that was unbounded on a standing
    // pipeline (cumulative cost quadratic in batches). The in-hand
    // frame is sufficient: decisions are a pure function of (batch,
    // corpus-as-of-before-the-batch), and the sansBatch/liveSans
    // reconstruction above makes a crash-replay re-derive exactly the
    // originals — so the union of this batch's frames IS the log's
    // row-set for these batch_ids (doc_ids are globally unique across
    // the stream's lifetime — the shared re-submission contract — so
    // no OTHER batch's log rows can name them). The frame is
    // materialized ONCE (eager localCheckpoint, ∝ batch) so the WAL
    // append and the rejected-set derivation share one evaluation of
    // every vetting arm. The written log stays the durable at-least-
    // once record ([[report]] reads it distinct); per-batch gate cost
    // no longer touches it.
    val walFrame = graft.ops.DupClusters.materialize(
      (contam ++ quality ++ langQuality ++ sampling ++ semRejects ++ dsirRejects ++ qmRejects)
        .foldLeft(decisions)(_ unionByName _))
    // Crash-replay guard for the appends: a crashed attempt may already
    // have landed this batch's rows in some of the stored tables (the
    // corpus, then the fingerprints, then the signatures — the write
    // order below), and an unconditional re-append would duplicate those
    // doc_ids. One batch-sized probe over all three (each scan semi-
    // joined against the broadcast batch ids) flags which ids each table
    // already holds; it is MATERIALIZED (eager localCheckpoint) before
    // any append, so no write re-reads the table it appends to. Empty on
    // a clean run.
    val stored = Seq(corpusTable -> "in_corpus", fpTable -> "in_fp", sigTable -> "in_sig")
    val flags = stored.map(_._2)
    def flagged(ids: DataFrame, holder: String): DataFrame =
      ids.select(col("doc_id") +: flags.map(f => lit(f == holder).as(f)): _*)
    val present = stored
      .collect { case (t, flag) if spark.catalog.tableExists(t) =>
        flagged(spark.table(t).join(broadcast(batchIds), Seq("doc_id"), "left_semi"), flag) }
      .foldLeft(flagged(batchIds.limit(0), ""))(_ unionByName _)
      .localCheckpoint()
    // appendTarget: once [[compactDecisions]] has folded the log into
    // a versioned view, appends land on the current backing (plain
    // tables resolve to themselves — the corpus-append discipline)
    walFrame.write.mode("append").saveAsTable(
      if (spark.catalog.tableExists(decisionsTable))
        Store.appendTarget(spark, decisionsTable)
      else decisionsTable)
    // one row per present id; the probe is batch-sized, so a single
    // partition aggregates it without a shuffle
    val anyOf = flags.map(f => max(col(f)).as(f))
    val presence = present.coalesce(1).groupBy(col("doc_id")).agg(anyOf.head, anyOf.tail: _*)
    // The admitted rows, derived from the in-hand decision frame (a
    // broadcast anti-join: duplicate build rows are harmless), with
    // their presence flags and both stored derived columns — one
    // materialized frame feeds all three appends, so the gate never
    // re-reads the corpus to find what it just admitted.
    val admitted = batch.join(broadcast(walFrame.select(col("batch_id").as("doc_id"))),
      Seq("doc_id"), "left_anti")
    val toStore = graft.ops.DupClusters.materialize(Dedup.withStoredColumns(admitted)
      .join(broadcast(presence), Seq("doc_id"), "left_outer")
      .na.fill(false, flags))
    // Each append keeps only the rows its own table lacks and lands on
    // the CURRENT BACKING when the table is a versioned view (Takedown.
    // scrub, Store.compact) — plain tables resolve to themselves, and an
    // append to a missing table creates it. A derived table that does
    // not exist yet is published instead.
    def lacking(flag: String, cols: Column*): DataFrame =
      toStore.filter(!col(flag)).select(cols: _*)
    def append(rows: DataFrame, table: String): Unit =
      rows.write.mode("append").bucketBy(buckets, "doc_id").sortBy("doc_id")
        .saveAsTable(Store.appendTarget(spark, table))
    append(lacking("in_corpus", batch.columns.toSeq.map(col): _*), corpusTable)
    Seq(fpTable -> lacking("in_fp", col("doc_id"), col("norm_hash")),
        sigTable -> lacking("in_sig", col("doc_id"), col("sig")).filter(col("sig").isNotNull))
      .foreach { case (table, rows) =>
        if (spark.catalog.tableExists(table)) append(rows, table)
        else Store.publish(spark, rows, table, buckets, "doc_id")
      }
    // Semantic arm state growth: the ADMITTED docs' vectors become
    // survivors for later batches (single-nearest cluster — the stored
    // serving layout), with the same presence-probe replay guard as the
    // corpus append. Rejected docs never enter the survivor set.
    semantic.foreach { sem =>
      import org.apache.spark.sql.functions.typedlit
      val admittedVecIds = admitted.select(col("doc_id").as("vec_id"))
      val newSurv = sem.embeddings
        .join(broadcast(admittedVecIds), Seq("vec_id"), "left_semi")
        .withColumn("cluster", graft.functions.GraftFunctions.nearestCentroid(
          col("embedding"), typedlit(sem.centroids)))
      val haveSurv = spark.catalog.tableExists(sem.survivorTable)
      val guarded =
        if (!haveSurv) newSurv
        else {
          val present = spark.table(sem.survivorTable)
            .join(broadcast(batchIds.select(col("doc_id").as("vec_id"))),
              Seq("vec_id"), "left_semi")
            .select(col("vec_id")).localCheckpoint()
          newSurv.join(broadcast(present), Seq("vec_id"), "left_anti")
        }
      guarded.write.mode(if (haveSurv) "append" else "overwrite")
        .bucketBy(buckets, "cluster").sortBy("vec_id")
        .saveAsTable(if (haveSurv) Store.appendTarget(spark, sem.survivorTable)
                     else sem.survivorTable)
    }
    // every consumer of the batch's materialized frames has executed
    // (the WAL append, the three store appends, the survivor append) —
    // release their checkpoint blocks so a long-running gate doesn't pin
    // batch-sized RDDs per micro-batch for the session lifetime
    Seq(walFrame, present, toStore).foreach(graft.ops.DupClusters.release)
  }

  /** The gate's operational readout (r14) — "why is my corpus
    * shrinking": one row per decision KIND with the distinct-document
    * count it rejected, plus one `admitted` row with the corpus count,
    * served off the two durable tables alone at any time. The decision
    * log is at-least-once (a replayed batch appends its identical
    * rows), so counts are DISTINCT documents per kind — replays can
    * never inflate the report (spec-proven); a doc rejected by several
    * arms counts once per kind (the arms are independent evidence).
    * With the takedown leg configured, a TOMBSTONED doc is netted out
    * of every per-kind count (r16 — its history is retired with it)
    * and surfaces in the `tombstoned` volume row instead.
    * ≤ #kinds + 1 rows out of two aggregates — corpus-scale scans,
    * model-scale output, the report cadence decoupled from ingest. */
  def report(spark: SparkSession, decisionsTable: String,
             corpusTable: String, tombstones: Option[String] = None): DataFrame = {
    def one(kind: String, n: Long): DataFrame =
      spark.range(1).select(lit(kind).as("kind"), lit(n).as("n_docs"))
    // takedown netting (r16): a tombstoned doc's old rejection rows
    // must stop counting toward the per-kind distincts — the doc is
    // retired, and its decision history with it (the `tombstoned` row
    // below carries the volume instead). One anti-join against the
    // distinct tombstone set, same as every LIVE-vetted read.
    val rejects =
      if (!spark.catalog.tableExists(decisionsTable))
        one("admitted", 0L).limit(0)
      else Takedown.liveOnly(
          spark.table(decisionsTable).withColumnRenamed("batch_id", "doc_id"),
          tombstones)
        .groupBy(col("kind"))
        .agg(count_distinct(col("doc_id")).as("n_docs"))
    // with the takedown leg configured (r15), `admitted` counts LIVE
    // docs only and the delete volume surfaces as its own row — "why
    // is my corpus shrinking" now includes the takedown answer
    val admitted =
      if (!spark.catalog.tableExists(corpusTable)) one("admitted", 0L)
      else Takedown.liveOnly(spark.table(corpusTable), tombstones)
        .agg(count(lit(1)).as("n_docs"))
        .select(lit("admitted").as("kind"), col("n_docs"))
    val tombstoned = tombstones.toSeq.map { t =>
      Takedown.tombstonedIds(spark, t).agg(count(lit(1)).as("n_docs"))
        .select(lit("tombstoned").as("kind"), col("n_docs"))
    }
    tombstoned.foldLeft(rejects.unionByName(admitted))(_ unionByName _)
  }

  /** Row-level compaction of the decision log (r16): the log is
    * at-least-once — a crash-replayed batch appends its identical
    * decision rows again — so physical row count grows past the true
    * decision set on any pipeline that ever replays. Every consumer
    * already reads the log DISTINCT ([[report]]'s per-kind distincts;
    * admitBatch stopped reading it at all in r16), so folding the
    * table to its distinct row-set changes no reader's result while
    * bounding storage at the decision count. Runs through
    * `Store.publishLike`'s versioned snapshot-safe swap (in-flight
    * readers straddle; the gate's own appends keep working via
    * `Store.appendTarget`). Safe (0, 0) no-op on a missing table, so
    * it composes as a `Maintenance.WalJob` leg under the scheduled
    * tick. Single-maintenance-writer contract as everywhere. */
  def compactDecisions(spark: SparkSession, decisionsTable: String): (Long, Long) =
    if (!spark.catalog.tableExists(decisionsTable)) (0L, 0L)
    else {
      val before = spark.table(decisionsTable).count()
      Store.publishLike(spark, spark.table(decisionsTable).distinct(), decisionsTable)
      (before, spark.table(decisionsTable).count())
    }

  /** Start the continuous gate over a document stream; pass `eval` to
    * also vet every batch against an eval union (Bloom-prefiltered). */
  def start(docs: DataFrame, corpusTable: String, fpTable: String,
            sigTable: String, decisionsTable: String, checkpointDir: String,
            buckets: Int = 8, tau: Double = 0.8,
            eval: Option[EvalVet] = None, vetQuality: Boolean = false,
            sampleRates: Option[(Map[String, Double], Double)] = None,
            semantic: Option[SemanticVet] = None,
            dsir: Option[DsirVet] = None,
            minQualityBucket: Option[String] = None,
            qualityModel: Option[QualityModelVet] = None,
            tombstones: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitBatch(batch, corpusTable, fpTable, sigTable, decisionsTable,
          buckets, tau, eval, vetQuality, sampleRates, semantic, dsir,
          minQualityBucket, qualityModel, tombstones)
      }
      .start()
}
