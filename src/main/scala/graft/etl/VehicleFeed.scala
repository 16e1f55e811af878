package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ETL surface of the engine: extract / transform / load for a feed of
  * vehicle observations.
  *
  * Reference semantics (see /root/reference):
  *  - extract.go:11-37   — JSON payload `{data:[{id,type,attributes:{..}}]}`
  *  - transform.go:9-75  — drop empty id/label, RFC3339 parse, null
  *    speed→0.0, null bearing→0, empty status→"UNKNOWN"
  *  - load.go:6-43       — `INSERT OR REPLACE` keyed by id (latest wins)
  *
  * Spark-first re-expression: extraction is `from_json` + `explode` (a
  * distributed scan over raw payload strings — one API page per row scales
  * to any number of pages); the upsert is an `argmax` aggregation
  * (`max_by` with a struct ordering key), which does ONE hash shuffle with
  * map-side partial aggregation — no sort, no per-row driver loop, and no
  * window over the whole table. That is the plan you want at 100 TB.
  */
object VehicleFeed {

  /** Schema of one API payload (model.go:8-30). Explicit — never inferred
    * on the hot path. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("type", StringType),
      StructField("attributes", StructType(Seq(
        StructField("updated_at", StringType),
        StructField("speed", DoubleType),
        StructField("revenue_status", StringType),
        StructField("occupancy_status", StringType),
        StructField("longitude", DoubleType),
        StructField("latitude", DoubleType),
        StructField("label", StringType),
        StructField("direction_id", IntegerType),
        StructField("current_stop_sequence", IntegerType),
        StructField("current_status", StringType),
        StructField("bearing", IntegerType)
      )))
    ))))
  ))

  /** Empty-or-null status → "UNKNOWN" (transform.go:69-75). */
  def normalizeStatus(c: Column): Column =
    when(c.isNull || c === "", lit("UNKNOWN")).otherwise(c)

  /** Extract: raw JSON payload strings → one row per vehicle observation.
    * Corrupt payloads yield null structs and are dropped (the reference
    * errors the whole batch, extract.go:29-33; at scale per-record drop
    * with a count is the right behavior — callers can assert on it).
    * `PagedSource` feeds it fetched page bodies; files of raw payloads
    * (one API page per line, e.g. pages landed in object storage) feed
    * it through `spark.read.textFile(path)`, a distributed text scan
    * whose parallelism is the file splits. */
  def extract(raw: Dataset[String]): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(from_json($"value", payloadSchema).as("p"))
      .select(explode($"p.data").as("v"))
      .select($"v.id".as("id"), $"v.attributes.*")
  }

  /** The payloads [[extract]] dropped: raw strings that failed to parse
    * as the expected page schema. At scale this feeds a dead-letter sink
    * and an alerting count — the distributed replacement for the
    * reference's fail-the-whole-batch behavior (extract.go:29-33). */
  def corruptPayloads(raw: Dataset[String]): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select($"value", from_json($"value", payloadSchema).as("p"))
      .filter($"p".isNull || $"p.data".isNull)
      .select($"value".as("raw_payload"))
  }

  /** Transform (transform.go:9-67): validity filter, null defaults,
    * status normalization, RFC3339 timestamp parse. Pure column ops —
    * whole-stage codegen, no UDFs. */
  def transform(extracted: DataFrame): DataFrame =
    extracted
      .filter(col("id").isNotNull && col("id") =!= "" &&
              col("label").isNotNull && col("label") =!= "")
      .select(
        col("id"),
        col("label"),
        col("latitude"),
        col("longitude"),
        coalesce(col("speed"), lit(0.0)).as("speed"),
        col("direction_id"),
        normalizeStatus(col("current_status")).as("current_status"),
        normalizeStatus(col("occupancy_status")).as("occupancy_status"),
        coalesce(col("bearing"), lit(0)).as("bearing"),
        coalesce(to_timestamp(col("updated_at")), current_timestamp()).as("updated_at"),
        // Ingest wall-clock, as in the reference schema (model.go:44, set in
        // transform.go:11). Excluded from oracle checks (it's now()).
        current_timestamp().as("ingested_at")
      )

  /** Load / UPSERT (load.go:6-43): keep the latest record per id.
    *
    * `max_by(struct(*), struct(orderKeys))` = argmax with lexicographic
    * struct comparison. Partial aggregation runs map-side, so the shuffle
    * carries at most one record per (partition, key) — at 100 TB this is
    * the cheapest possible upsert. Deterministic via the tie-break keys.
    */
  def latest(observations: DataFrame, key: String = "id", orderKeys: Seq[String] = Seq("updated_at", "obs_id")): DataFrame = {
    val cols = observations.columns
    observations
      .groupBy(col(key))
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*), struct(orderKeys.map(col): _*)).as("r"))
      .select(cols.map(c => col(s"r.`$c`")).toIndexedSeq: _*)
  }

  /** Load variant with HISTORY — a slowly-changing-dimension (type 2)
    * build of the observation feed. Where [[latest]] mirrors the
    * reference's `INSERT OR REPLACE` (only the newest record survives,
    * load.go:6-43), this keeps every version with its validity interval:
    * `valid_from` = the observation time, `valid_to` = the next
    * observation's time for the same key (NULL while current),
    * `is_current` = 1 on the open version. A warehouse deployment of the
    * reference pipeline needs exactly this table to answer "what did the
    * fleet look like at time T".
    *
    * Plan: `row_number` + `lead` inside one window over the key — per-key
    * state is bounded by that key's history (same scale shape as
    * sessionization, SURVEY §5). The `v_scd2_history` key reads
    * `Catalog.observations`, already hash-partitioned by id and sorted in
    * window order, so the shuffle and sort are paid once per session
    * there, not per call. Ordering carries the unique `obs_id`
    * tie-break, so versions are total-ordered even when two observations
    * share a timestamp. */
  def scd2History(observations: DataFrame, key: String = "id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col("updated_at"), col("obs_id"))
    observations.select(
        col(key), col("obs_id"), col("speed"), col("current_status"), col("updated_at"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("updated_at"), 1).over(w))
      .select(
        col(key), col("obs_id"), col("speed"), col("current_status"), col("version"),
        col("updated_at").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast(IntegerType).as("is_current"))
  }

  /** Deterministic derived vehicle feed over the driver's `events` table —
    * the testdata stand-in for the live API (mapping documented in
    * SURVEY.md §4; mirrored verbatim in the DuckDB oracle CTE). */
  def fromEvents(events: DataFrame): DataFrame = {
    val prefix = col("user_id") % 6
    val id = concat(
      when(prefix === 0, "R-").when(prefix === 1, "O-").when(prefix === 2, "G-")
        .when(prefix === 3, "B-").when(prefix === 4, "y").otherwise("ynk"),
      col("user_id").cast(StringType))
    events.select(
      id.as("id"),
      col("user_id").cast(StringType).as("label"),
      (lit(42.0) + (col("event_id") % 1000) / lit(1000.0)).as("latitude"),
      (lit(-71.0) - (col("user_id") % 100) / lit(100.0)).as("longitude"),
      when(col("event_type").isin("view", "signup"), lit(0.0)).otherwise(col("value")).as("speed"),
      (col("user_id") % 2).cast(IntegerType).as("direction_id"),
      when(col("event_type") === "click", "IN_TRANSIT_TO")
        .when(col("event_type") === "purchase", "INCOMING_AT")
        .when(col("event_type") === "view", "STOPPED_AT")
        .otherwise("UNKNOWN").as("current_status"),
      when(col("event_type") === "signup", "MANY_SEATS_AVAILABLE")
        .when(col("event_type") === "error", "FEW_SEATS_AVAILABLE")
        .otherwise("UNKNOWN").as("occupancy_status"),
      (col("event_id") % 360).cast(IntegerType).as("bearing"),
      col("ts").as("updated_at"),
      col("event_id").as("obs_id")
    )
  }

  /** Convenience: derived feed → upserted table (the post-Load state every
    * reference query runs against). */
  def vehiclesFromEvents(spark: SparkSession, dir: String): DataFrame =
    latest(fromEvents(graft.core.Tables(spark, dir).events))
}
