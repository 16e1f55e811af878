package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staleness/refit signal for the served TEXT models (r16) — the
  * [[AnnStream.refitSignal]]/[[AnnStream.volumeSignal]] discipline
  * applied to the OTHER family of fixed serving artifacts this engine
  * ships: the DSIR target-likeness model (`Sampling.dsirModelFromFeats`) and
  * the NB quality classifier (`TextAnalysis.qualityModelFit`). Both
  * gate arms serve a FIXED 256-row hashed-bigram bucket model ("models
  * refit out-of-band", the DsirVet/QualityModelVet contract) — but
  * until now nothing WATCHED for the out-of-band moment. A model fit
  * on last quarter's crawl silently misroutes admission when the
  * arriving corpus's feature distribution moves: scores shift with the
  * base rates, and — the failure route QualityModelVet's scaladoc
  * documents — docs whose bigrams land entirely in buckets the fit
  * never populated score NULL and are rejected as "no signal".
  *
  * Both models read the SAME feature space (`Sampling.dsirFeats`'
  * md5-hashed bigram buckets — deliberately shared machinery), so ONE
  * distribution snapshot covers every text model fit on the corpus:
  *
  *  - [[fitSnapshot]] at fit time: per-bucket feature-instance counts
  *    of the training corpus (≤ 256 rows — model-scale, stored next to
  *    the model artifact exactly like [[AnnStream.fitSnapshot]]).
  *  - [[ingestBatch]] per micro-batch: the ARRIVING docs' per-bucket
  *    counts appended as WAL partials (≤ 256 rows/batch, batch_id
  *    replay skip, [[Wal]] ledger for featureless batches; counts are
  *    additive integers, so merged state is exact under any batch
  *    split/order — the MixStream architecture). Document text is
  *    never stored or rescanned by the maintainer.
  *  - [[signal]] on the maintenance schedule: cosine between the two
  *    256-dim count vectors (scale-invariant — arrival volume doesn't
  *    fake drift) plus the UNSEEN-BUCKET MASS fraction (arrived
  *    instances in buckets the fit saw zero — the no-signal rejection
  *    route measured directly); `refit_recommended` when cosine falls
  *    below `minCos` OR unseen mass exceeds `maxUnseenFrac`. The
  *    second arm matters because cosine alone underweights small
  *    holes: 3% of mass in unseen buckets barely moves a 256-dim
  *    cosine while every doc living in those buckets is misrouted.
  *
  * When the signal recommends, the out-of-band refit is the usual
  * artifact cycle: re-run `TextAnalysis.qualityModelFitScoresOverFeats` /
  * `Sampling.dsirModelFromFeats` on the grown corpus, publish via
  * `Store.saveQualityModel` (versioned swap), and the gate arms pick
  * up the new artifact on their refresh schedule. Composes under the
  * scheduled tick as [[Maintenance.TextRefitJob]].
  *
  * Scale shape: the per-batch aggregate is map-side partials over the
  * scan the batch already pays; everything downstream is ≤ 256-row
  * frames (broadcast joins, one-row signal) — corpus size never
  * enters the maintainer after the ingest scan. Determinism: integer
  * counts, DECIMAL(38,0) moment sums (bucket counts at 100 TB square
  * past a BIGINT), ONE double division each for cosine and the
  * exact-integer half-away unseen quotient, ROUND(,4) — the engine's
  * float rules.
  */
object ModelStream {

  /** Fit-time per-bucket feature-instance counts of the training
    * corpus: (b, n_fit), ≤ 256 rows. Store next to the model artifact
    * the fit produced. */
  def fitSnapshot(documents: DataFrame): DataFrame =
    graft.ops.Sampling.featureCounts(documents)
      .withColumnRenamed("n", "n_fit")

  /** One arriving micro-batch folded into the durable per-bucket
    * arrival counters — the [[AnnStream.deleteBatch]] WAL shape
    * (append-only, batch_id replay skip, ledger for batches yielding
    * zero feature rows — e.g. every doc under 2 tokens — so the
    * compaction watermark still advances, single-writer contract). */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  countersTable: String): Unit = {
    val spark = batch.sparkSession
    val partial = graft.ops.Sampling.featureCounts(batch)
      .withColumn("batch_id", lit(batchId))
      .persist()
    try {
      // seen BEFORE the table-missing branch (unlike the never-rotated
      // maintainers): after a window [[rotate]] the counters table is
      // gone but the ledger tombstone still covers every pre-rotation
      // id — a crash-replay of one must not seed the fresh window
      if (Wal.emptyRecorded(partial, countersTable, batchId)) ()
      else if (Wal.seen(spark, countersTable, batchId)) ()
      else if (!spark.catalog.tableExists(countersTable)) {
        partial.write.saveAsTable(countersTable)
      } else {
        partial.write.mode("append").saveAsTable(countersTable)
      }
    } finally partial.unpersist()
  }

  /** Scheduled row-level compaction of the arrival-counter WAL (see
    * [[Wal]]): one row per bucket after the fold — [[signal]] reads
    * identical merged counters before and after. */
  def compact(spark: SparkSession, countersTable: String): (Long, Long) =
    Wal.compactPartials(spark, countersTable,
      keyCols = Seq("b"), sumCols = Seq("n"))

  /** Merged per-bucket arrival counters (≤ 256 rows; integer sums are
    * order-free, so late/replayed batches merge exactly). */
  def mergedCounts(spark: SparkSession, countersTable: String): DataFrame =
    spark.table(countersTable).groupBy(col("b")).agg(sum(col("n")).as("n"))

  /** The staleness card — ONE row: distribution cosine, unseen-bucket
    * mass fraction, and the disjunction verdict. Empty arrivals read
    * as no evidence (cos 1.0, unseen 0.0, not recommended). */
  def signal(fitSnap: DataFrame, arrivedCounts: DataFrame,
             minCos: Double = 0.98, maxUnseenFrac: Double = 0.05): DataFrame = {
    val joined = fitSnap
      .join(arrivedCounts, Seq("b"), "full_outer")
      .select(
        coalesce(col("n_fit"), lit(0L)).cast("decimal(38,0)").as("f"),
        coalesce(col("n"), lit(0L)).cast("decimal(38,0)").as("a"))
    joined
      .agg(
        sum(col("f") * col("a")).as("dot"),
        sum(col("f") * col("f")).as("f2"),
        sum(col("a") * col("a")).as("a2"),
        sum(col("a").cast("long")).as("n_arrived"),
        sum(when(col("f") === 0, col("a").cast("long")).otherwise(0L))
          .as("n_unseen"))
      .select(
        coalesce(col("n_arrived"), lit(0L)).as("n_arrived"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        when(coalesce(col("a2"), lit(java.math.BigDecimal.ZERO)) === 0, lit(1.0))
          .when(coalesce(col("f2"), lit(java.math.BigDecimal.ZERO)) === 0, lit(-1.0))
          .otherwise(round(col("dot").cast("double") /
            sqrt(col("f2").cast("double") * col("a2").cast("double")), 4) + lit(0.0))
          .as("drift_cos"),
        when(coalesce(col("n_arrived"), lit(0L)) === 0, lit(0.0))
          .otherwise(expr(
            "CAST((20000 * n_unseen + n_arrived) DIV (2 * n_arrived) AS DOUBLE) / 10000.0"))
          .as("unseen_frac"))
      .withColumn("refit_recommended",
        col("drift_cos") < lit(minCos) || col("unseen_frac") > lit(maxUnseenFrac))
  }

  /** Close the accumulation window after the recommended refit ran
    * (the DriftStream snapshot-rotation discipline): [[signal]] reads
    * the WHOLE arrival history, so a refreshed model must start a
    * fresh window or yesterday's drift keeps recommending forever.
    * Delegates to [[Wal.rotate]] — the stream's checkpointed batch ids
    * resume past the reset (pre-rotation replays stay no-ops, the new
    * window's compaction bridges the id gap via the ledger watermark).
    * The caller pairs this with storing the NEW [[fitSnapshot]] next
    * to the refreshed artifact. */
  def rotate(spark: SparkSession, countersTable: String): Unit =
    Wal.rotate(spark, countersTable)

  /** The one scheduled decision: does the arrival history recommend a
    * text-model refit? False before any batch arrived (no counters —
    * no evidence). */
  def refitRecommended(spark: SparkSession, fitSnap: DataFrame,
                       countersTable: String, minCos: Double = 0.98,
                       maxUnseenFrac: Double = 0.05): Boolean =
    spark.catalog.tableExists(countersTable) &&
      signal(fitSnap, mergedCounts(spark, countersTable), minCos, maxUnseenFrac)
        .filter(col("refit_recommended")).limit(1).count() > 0
}
