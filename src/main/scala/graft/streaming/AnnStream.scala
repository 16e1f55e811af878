package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming ANN index maintenance (SURVEY.md §2.4): keep the
  * hyperplane-LSH signature index fresh as new embeddings arrive,
  * instead of re-indexing the corpus per batch job.
  *
  * The signature is per-row and data-independent (a fixed plane matrix
  * shipped with the plan), so index refresh is a STATELESS streaming
  * projection — no watermark, no state store, scan-speed codegen — and
  * the index table grows strictly by appending. Queries serve off the
  * accumulating table via `Similarity.annLshFromSignatures`: the
  * classic lambda-free split of "continuously indexed, queried on
  * demand". At 100 TB the sink is a bucketed table partitioned by
  * `bucket` (see `core.Store`), so serving probes read only their
  * buckets. Contrast with the IVF index, whose centroids are FITTED:
  * a stream refreshes IVF by re-fitting periodically out-of-band
  * (`Catalog.ivfIndex`), while assignment of arriving vectors is the
  * same stateless projection as here.
  *
  * Every serving index this engine fits is maintained this way, and the
  * stream calls the batch operator itself — one code path, two
  * execution modes: `Similarity.withSignatures` (LSH buckets),
  * `Similarity.ivfPqCodes` (IVF-PQ codes: coarse-assign + residual
  * encode), `Similarity.pqCodes` over `Similarity.opqPermute` (OPQ
  * codes) and `Similarity.mrlAssign` (MRL prefix-list routing). The
  * fitted models ship with the plan as literals and refit out-of-band
  * (`Catalog.ivfPqIndex` / `opqIndex` / `ivfIndexMrl`); a drifted refit
  * republishes the code table via Store's versioned swap, and the
  * signals below say when.
  */
object AnnStream {

  /** Streaming reads need an explicit schema (embeddings.parquet). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Raw embedding file stream. */
  def embeddingStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embeddingsSchema).parquet(dir)

  /** Fit-time per-label centroid snapshot — the reference frame the
    * drift trigger compares against, captured from the SAME corpus the
    * IVF/PQ/OPQ models were fitted on (store it next to the fitted
    * index): (label, fixed-point vector sum, count). Sums not means:
    * cosine is scale-invariant, and the fixed-point integer sums are
    * partition-invariant (the centroidDrift convention). ≤ #labels
    * rows — a model-scale artifact. */
  def fitSnapshot(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    embeddings.groupBy(col("label"))
      .agg(graft.functions.GraftFunctions.vecSum(col("embedding")).as("sum_fit"),
        count(lit(1)).as("n_fit"))
  }

  /** Drift-triggered REFIT signal — the wiring the "models refit
    * out-of-band" contract was missing: per label, the cosine between
    * the fit-time centroid ([[fitSnapshot]]) and the centroid of the
    * vectors that ARRIVED since, with `refit_recommended` = true when
    * the drift crosses `minCos`. Run per micro-batch (foreachBatch) or
    * over the accumulated arrivals on the refresh schedule; when any
    * row recommends, the out-of-band refit (`Catalog.ivfIndex`/
    * `pqIndex`/`opqIndex` on the grown corpus + a Store versioned
    * swap) is actually triggered instead of hoped for.
    *
    * One per-label aggregate over the arrivals (map-side partials)
    * joined to the broadcast ≤ #labels-row snapshot — corpus-scale
    * work is the scan the batch already pays; labels absent from the
    * snapshot (never seen at fit time) are flagged unconditionally
    * (the index has no lists for them). Drift is ONE of two trigger
    * arms: [[volumeSignal]] fires on tombstone VOLUME (hollowed-out
    * lists drift cannot see), and a refit should run when EITHER
    * recommends. */
  def refitSignal(arrived: DataFrame, snapshot: DataFrame,
                  minCos: Double = 0.98): DataFrame = {
    import org.apache.spark.sql.functions._
    arrived.groupBy(col("label"))
      .agg(graft.functions.GraftFunctions.vecSum(col("embedding")).as("sum_new"),
        count(lit(1)).as("n_new"))
      .join(broadcast(snapshot), Seq("label"), "left")
      .select(col("label"), coalesce(col("n_fit"), lit(0L)).as("n_fit"), col("n_new"),
        when(col("sum_fit").isNull, lit(-1.0)).otherwise(
          // double, not float: the fixed-point bigint sums exceed a
          // float mantissa (~2^24) on large fit corpora or long
          // accumulation windows, and the truncation wobble at the 4th
          // decimal can flip refit_recommended right at minCos
          round(graft.functions.GraftFunctions.cosine(
            col("sum_fit").cast("array<double>"),
            col("sum_new").cast("array<double>")), 4) + lit(0.0)).as("drift_cos"))
      .withColumn("refit_recommended", col("drift_cos") < lit(minCos))
  }

  /** Fit-time per-LIST size snapshot — the denominator of the
    * tombstone-VOLUME refit arm ([[volumeSignal]]): (cluster, n_fit),
    * captured from the assigned table the fit produced and stored next
    * to the index (like [[fitSnapshot]]). ≤ nlist rows — model-scale. */
  def listSizeSnapshot(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n_fit"))
  }

  /** One DELETE micro-batch folded into the durable per-list delete
    * counters — the MixStream partials discipline (append-only WAL,
    * batch_id replay skip, single-writer contract; see
    * MixStream.ingestBatch's scaladoc). Deletes arrive as vec_ids; the
    * batch (small) BROADCAST-joins the assigned index table once to
    * find its lists, and ≤ nlist counter rows land per batch — the
    * "one counter per list" state, durable instead of in-memory. */
  def deleteBatch(deletes: DataFrame, assigned: DataFrame, batchId: Long,
                  countersTable: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = deletes.sparkSession
    val partial = assigned
      .join(broadcast(deletes.select(col("vec_id")).distinct()), Seq("vec_id"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_deleted"))
      .withColumn("batch_id", lit(batchId))
      // a delete batch matching NOTHING in the index yields 0 counter
      // rows even from non-empty input (the join filters) — persist the
      // ≤ nlist-row result so the emptiness check and the append share
      // one index scan, and route the empty case to the WAL ledger so
      // compaction's watermark can advance over this id
      .persist()
    try {
      if (Wal.emptyRecorded(partial, countersTable, batchId)) ()
      else if (!spark.catalog.tableExists(countersTable)) {
        partial.write.saveAsTable(countersTable)
      } else if (!Wal.seen(spark, countersTable, batchId)) {
        partial.write.mode("append").saveAsTable(countersTable)
      }
    } finally partial.unpersist()
  }

  /** Scheduled row-level compaction of the delete-counter WAL (see
    * [[Wal]]): one row per list after the fold — [[volumeSignal]] reads
    * identical merged counters before and after (spec-proven). */
  def compactDeleteCounters(spark: SparkSession,
                            countersTable: String): (Long, Long) =
    Wal.compactPartials(spark, countersTable,
      keyCols = Seq("cluster"), sumCols = Seq("n_deleted"))

  /** Merged per-list delete counters (≤ nlist rows; integer sums are
    * order-free, so late/replayed batches merge exactly). */
  def mergedDeleteCounts(spark: SparkSession, countersTable: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.table(countersTable)
      .groupBy(col("cluster")).agg(sum(col("n_deleted")).as("n_deleted"))
  }

  /** Tombstone-VOLUME refit signal — the second trigger arm
    * [[refitSignal]]'s drift cosine cannot see (s_ann_tombstone's own
    * scaladoc calls for it): deletes that leave the surviving
    * centroids where they were still hollow lists out, and a list
    * serving below `minLiveFrac` of its fit-time population wastes its
    * probes on tombstone scans (the measured s_ann_refit failure
    * mode). Per list: n_fit (the [[listSizeSnapshot]] denominator),
    * the merged delete counter, live_frac as the exact-integer
    * half-away quotient (deletes are clamped at n_fit — a double
    * delete must not drive the fraction negative), and
    * `refit_recommended` when live_frac < minLiveFrac. ≤ nlist rows in,
    * ≤ nlist rows out — model-scale, join broadcast. When any row
    * recommends, the out-of-band rebuild is `Catalog.ivfIndexLive` +
    * `Store.publishAnnRefit` (the s_ann_refit recovery card proves
    * what it buys back). */
  def volumeSignal(snapshot: DataFrame, deleteCounts: DataFrame,
                   minLiveFrac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.functions._
    snapshot.join(broadcast(deleteCounts), Seq("cluster"), "left")
      .select(col("cluster"), col("n_fit"),
        least(coalesce(col("n_deleted"), lit(0L)), col("n_fit")).as("n_deleted"))
      .withColumn("live_frac",
        expr("CAST((20000 * (n_fit - n_deleted) + n_fit) DIV (2 * n_fit) AS DOUBLE) / 10000.0"))
      .withColumn("refit_recommended", col("live_frac") < lit(minLiveFrac))
  }

  /** ONE scheduled maintenance decision — the disjunction of both
    * trigger arms ([[refitSignal]] drift on the arrivals vs the fit
    * snapshot; [[volumeSignal]] on the merged delete counters vs the
    * list-size snapshot): refit when EITHER recommends. Model-scale
    * (two ≤ max(#labels, nlist)-row frames); the rebuild itself is
    * `Catalog.ivfIndexLive` + `Store.publishAnnRefit` (the versioned
    * swap), and the whole loop — deletes → signal → rebuild → swap →
    * clean health card — is spec-proven end-to-end in StreamingSpec. */
  def refitRecommended(spark: SparkSession, arrived: DataFrame,
                       fitSnap: DataFrame, listSnap: DataFrame,
                       countersTable: String, minCos: Double = 0.98,
                       minLiveFrac: Double = 0.5): Boolean = {
    import org.apache.spark.sql.functions.col
    val drift = refitSignal(arrived, fitSnap, minCos)
      .filter(col("refit_recommended")).limit(1).count() > 0
    drift || volumeSignal(listSnap, mergedDeleteCounts(spark, countersTable),
        minLiveFrac)
      .filter(col("refit_recommended")).limit(1).count() > 0
  }
}
