package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{DupClusters, TextAnalysis}

/** Streaming corpus-drift maintenance (SURVEY.md §2.4) — the streaming
  * twin of `t_corpus_drift`: documents arrive continuously (the ingest
  * feed), fold into a durable per-source (docs, chars) PARTIALS table,
  * and a scheduled [[refresh]] diffs the merged counters against the
  * stored previous card — the drift card run as a standing pipeline,
  * with the "previous snapshot" side being exactly what the batch
  * operator's contract names: the STORED card, one row per source,
  * never a re-aggregation of history.
  *
  * Same architecture as [[AggMergeStream]]/[[RankStream]] (no streaming
  * state store; durable tables + append-only WAL discipline), because
  * the state IS algebraic: doc and char counts are additive, so
  *
  *  - per-batch cost ∝ the BATCH (one per-source aggregate + one
  *    append keyed by `batch_id`); document text is never stored by
  *    the maintainer and never rescanned;
  *  - crash-replay is idempotent: foreachBatch re-delivers a crashed
  *    batch under the SAME batch_id and [[ingestBatch]] skips one the
  *    table already carries;
  *  - [[refresh]] is DERIVED state, decoupled from ingest cadence:
  *    merge partials → diff against the stored card
  *    ([[TextAnalysis.corpusDriftFromCards]] — the batch arithmetic
  *    over the summed partials, which equal direct counting exactly;
  *    integer sums are split-invariant) → rotate the snapshot. A
  *    missing snapshot (first refresh) reads every source at
  *    docs_prev = 0, so the maintainer self-bootstraps.
  *
  * At 100 TB: the partials table carries ≤ #sources rows per batch
  * (thousands, not documents), the merged card is #sources rows, and
  * the refresh never touches a document — the whole maintainer is
  * corpus-size-independent after the scan each ingest batch already
  * paid. Compaction of old batch partials bounds read amplification
  * exactly as in AggMergeStream. */
object DriftStream {

  /** One micro-batch: append the batch's per-source (docs, chars)
    * partials ([[TextAnalysis.sourceCard]], the card `t_corpus_drift`
    * diffs) under its batch_id — skipping a batch_id already present
    * (crash replay). `docs` carries (source, n_chars) per document. */
  def ingestBatch(docs: DataFrame, batchId: Long, statsTable: String): Unit = {
    val spark = docs.sparkSession
    // a 0-row batch yields 0 partial rows — record its id in the WAL
    // ledger so compaction's watermark can advance over it (the input
    // check short-circuits on the first row)
    if (docs.limit(1).isEmpty) { Wal.markEmpty(spark, statsTable, batchId); return }
    val partials = TextAnalysis.sourceCard(docs).withColumn("batch_id", lit(batchId))
    if (!spark.catalog.tableExists(statsTable)) {
      partials.write.saveAsTable(statsTable)
    } else if (!Wal.seen(spark, statsTable, batchId)) {
      partials.write.mode("append").saveAsTable(statsTable)
    }
  }

  /** Scheduled row-level compaction of the stats WAL (see [[Wal]]):
    * one row per source after the fold; [[refresh]]/[[sourceCard]] are
    * bit-identical before and after (spec-proven). */
  def compact(spark: SparkSession, statsTable: String): (Long, Long) =
    Wal.compactPartials(spark, statsTable,
      keyCols = Seq("source"), sumCols = Seq("n_docs", "n_chars"))

  /** Merged per-source card: ONE row per source — the
    * [[TextAnalysis.corpusDriftFromCards]] input contract. Late or
    * out-of-order batches are just more partial rows; the re-merge
    * absorbs them (integer sums are order-free). */
  def sourceCard(spark: SparkSession, statsTable: String): DataFrame =
    spark.table(statsTable)
      .groupBy(col("source")).agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))

  /** The scheduled drift refresh: diff the current merged card against
    * the stored snapshot, then rotate the snapshot. Returns the full
    * drift card (the t_corpus_drift schema) — which sources changed
    * share or length profile since the last refresh. A missing
    * snapshot reads docs_prev = 0 everywhere (cold bootstrap).
    *
    * Both the current card and the drift card are materialized
    * (localCheckpoint) BEFORE the snapshot overwrite: the refresh
    * reads the table it is about to replace, and the cut lineage is
    * what makes the read-then-overwrite legal (the RankStream
    * recipe). */
  def refresh(spark: SparkSession, statsTable: String,
              snapshotTable: String): DataFrame = {
    val cur = DupClusters.materialize(sourceCard(spark, statsTable))
    val prev =
      if (spark.catalog.tableExists(snapshotTable)) spark.table(snapshotTable)
      else spark.range(0).select(lit("").as("source"),
        lit(0L).as("n_docs"), lit(0L).as("n_chars")).limit(0)
    val card = DupClusters.materialize(
      TextAnalysis.corpusDriftFromCards(prev, cur))
    cur.write.mode("overwrite").saveAsTable(snapshotTable)
    DupClusters.release(cur)
    card
  }

  /** Start the continuous ingest over a document stream; [[refresh]]
    * runs on its own schedule against the tables this maintains. */
  def start(docs: DataFrame, statsTable: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, statsTable)
      }
      .start()
}
