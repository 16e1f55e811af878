package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions

/** Per-layer metrics of a traced run. Every workload reports every name
  * (0 where the workload does not use the layer), so a traced run of any
  * workload has one fixed shape. Layer names are the repository's modules. */
object Layers {
  val kernels = Seq("normalize_text", "shingles", "minhash", "cosine", "nearest_centroid", "pq_adc_cosine")
  val layers = Seq("session", "catalog", "etl", "queries", "ops", "streaming", "store")

  /** (name, unit) of every per-layer metric. */
  val names: Seq[(String, String)] =
    Seq("session.start_s" -> "s",
      "catalog.vehicles.build_s" -> "s", "catalog.vehicles.mb" -> "MB", "catalog.hit_ms" -> "ms",
      "etl.upsert_s" -> "s", "etl.rows_in" -> "count", "etl.rows_out" -> "count",
      "queries.plan_ms.p50" -> "ms", "queries.exec_ms.p50" -> "ms",
      "queries.jobs_per_query" -> "count", "queries.tasks_per_query" -> "count") ++
    FleetQueries.keys.map(k => s"queries.$k.p50_ms" -> "ms") ++
    Seq("ops.dedup_probe.p50_ms" -> "ms", "ops.dedup_probe.jobs" -> "count",
      "streaming.ingest_report.p50_ms" -> "ms",
      "ingest.admit_s.p50" -> "s", "ingest.admit_frac" -> "frac",
      "store.files_per_batch" -> "count", "store.bytes_written" -> "bytes",
      "store.versions_live" -> "count", "store.compact_s" -> "s",
      "store.bytes_rewritten" -> "bytes", "store.read_stall_ms" -> "ms") ++
    kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s") ++
    layers.map(l => s"self_s.$l" -> "s") ++
    Seq("trace.overhead_frac" -> "frac")

  def rollup(ctx: Ctx, stats: Stats, wl: Workload): Map[String, Double] = {
    Thread.sleep(500) // let the listener bus deliver the last task events
    val sp = Trace.spans
    val m = mutable.LinkedHashMap.empty[String, Double] ++ stats.layer
    def p50(xs: Seq[Double]) = Main.median(xs)
    def named(layer: String, n: String) = sp.filter(s => s.layer == layer && s.name == n)
    val keySpans = sp.filter(s => s.layer == "queries" && s.name != "plan" && s.name != "exec")
    keySpans.groupBy(_.name).foreach { case (k, ss) => m(s"queries.$k.p50_ms") = p50(ss.map(_.ms)) }
    if (keySpans.nonEmpty) {
      m("queries.plan_ms.p50") = p50(named("queries", "plan").map(_.ms))
      m("queries.exec_ms.p50") = p50(named("queries", "exec").map(_.ms))
      val c = keySpans.map(s => Trace.inclusiveCounts(s.id))
      m("queries.jobs_per_query") = c.map(_.jobs).sum.toDouble / c.size
      m("queries.tasks_per_query") = c.map(_.tasks).sum.toDouble / c.size
    }
    val probes = named("ops", "dedup_probe")
    if (probes.nonEmpty) {
      m("ops.dedup_probe.p50_ms") = p50(probes.map(_.ms))
      m("ops.dedup_probe.jobs") = p50(probes.map(s => Trace.inclusiveCounts(s.id).jobs.toDouble))
    }
    val reports = named("streaming", "ingest_report")
    if (reports.nonEmpty) m("streaming.ingest_report.p50_ms") = p50(reports.map(_.ms))
    val hits = sp.filter(s => s.layer == "catalog" && s.name.endsWith(".hit"))
    if (hits.nonEmpty) m("catalog.hit_ms") = p50(hits.map(_.ms))
    val t = Trace.total
    m("spark.jobs") = t.jobs.toDouble
    m("spark.tasks") = t.tasks.toDouble
    m("spark.task_cpu_s") = t.cpuNs / 1e9
    m("spark.shuffle_write_mb") = t.shuffleWrite / 1e6
    m("spark.spill_mb") = t.spill / 1e6
    m("spark.gc_s") = t.gcMs / 1e3
    val self = Trace.selfNs
    layers.foreach(l => m(s"self_s.$l") = sp.filter(_.layer == l).map(s => self(s.id)).sum / 1e9)
    val (on, off) = (stats.roundS(wl.roundKeys, true), stats.roundS(wl.roundKeys, false))
    m("trace.overhead_frac") = if (on.isNaN || off.isNaN) 0.0 else on / off - 1
    kernelRates(ctx.spark, ctx.dir).foreach { case (k, v) => m(s"functions.$k.rows_per_s") = v }
    names.map { case (n, _) => n -> m.getOrElse(n, 0.0) }.toMap
  }

  /** Rows per second of each `graft_*` kernel over a fixed column built
    * from the run's documents and embeddings (replicated to a fixed row
    * count), fully materialized through a no-op write. */
  def kernelRates(s: SparkSession, dir: String): Seq[(String, Double)] = {
    val rows = 20000L
    val t = Tables(s, dir)
    def rep(df: DataFrame): DataFrame = {
      val n = df.count()
      s.range(0, (rows + n - 1) / n).crossJoin(df).limit(rows.toInt).drop("id").localCheckpoint()
    }
    val docs = rep(t.documents.select("text"))
    val emb = rep(t.embeddings.select(col("embedding").as("e")))
    val sh = docs.select(GraftFunctions.shingles(col("text")).as("sh")).localCheckpoint()
    val cents = typedlit(Seq.tabulate(16, 64)((i, j) => if (i == j) 1.0 else 0.01 * ((i * 7 + j) % 5)))
    val dotLut = typedlit(Seq.tabulate(8 * 256)(i => (i % 17) / 17.0))
    val normLut = typedlit(Seq.tabulate(8 * 256)(i => 1.0 + (i % 13) / 13.0))
    val codes = emb.select(GraftFunctions.nearestCentroids(col("e"), cents, lit(8)).as("c")).localCheckpoint()
    def rate(df: DataFrame, c: Column): Double = {
      df.select(c).write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.select(c).write.format("noop").mode("overwrite").save()
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    Seq(
      "normalize_text" -> rate(docs, GraftFunctions.normalizeText(col("text"))),
      "shingles" -> rate(docs, GraftFunctions.shingles(col("text"))),
      "minhash" -> rate(sh, GraftFunctions.minhash(col("sh"))),
      "cosine" -> rate(emb, GraftFunctions.cosine(col("e"), col("e"))),
      "nearest_centroid" -> rate(emb, GraftFunctions.nearestCentroid(col("e"), cents)),
      "pq_adc_cosine" -> rate(codes, GraftFunctions.pqAdcCosine(col("c"), dotLut, normLut)))
  }
}
