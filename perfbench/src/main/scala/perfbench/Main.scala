package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One timed operation: what a caller waited for, and whether it threw. */
final case class Op(key: String, ms: Double, ok: Boolean, traced: Boolean)

/** Everything one workload run measured. */
final class Stats {
  val ops = ArrayBuffer.empty[Op]
  /** Report-line metrics that only some workloads have: name → (value, unit). */
  val report = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics measured by this workload: name → value. */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Named correctness invariants: name → holds. */
  val invariants = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
  /** Wall time of each measured round, in order (seconds). */
  val rounds = ArrayBuffer.empty[Double]
  /** Wall time of each warm-up round (seconds). */
  val warmRounds = ArrayBuffer.empty[Double]
  /** Length of the measured window (seconds). */
  @volatile var windowS = Double.NaN
  def synced[T](body: => T): T = synchronized(body)

  /** Typical latency (ms) per op key over successful traced or untraced
    * ops: the geometric mean of all samples. Latencies are bimodal (an op
    * that overlaps a concurrent write or not); a median or trimmed mean of
    * a few samples jumps between the modes, and in 5-seed trials of
    * ingest_serve the geometric mean spread least across runs. */
  def typical(traced: Boolean): Map[String, Double] =
    synced(ops.toSeq).filter(o => o.ok && o.traced == traced).groupBy(_.key)
      .map { case (k, os) => k -> Main.geomean(os.map(_.ms)) }

  /** One pass over the workload's fixed op sequence, in seconds: the sum
    * of each op's typical latency (NaN if an op never completed). */
  def roundS(keys: Seq[String], traced: Boolean): Double = {
    val m = typical(traced)
    keys.map(k => m.getOrElse(k, Double.NaN)).sum / 1000
  }
}

/** Per-run context handed to a workload. */
final case class Ctx(spark: SparkSession, dir: String, work: Path, seed: Long, traceRun: Boolean) {
  val rng = new Random(seed)
}

trait Workload {
  def name: String
  /** The workload's fixed op sequence; one pass over it is a round. */
  def roundKeys: Seq[String]
  /** The read ops a caller waits on: `op_geomean_ms`, `query_p50_ms`,
    * the op tail and `queries_per_s` are over these. */
  def queryKeys: Seq[String]
  /** Build what the workload declares before its first timed operation. */
  def setup(ctx: Ctx, stats: Stats): Unit
  /** Warm up untimed for a fixed amount of work, then measure for
    * `seconds`; in a traced run, alternate traced and untraced rounds. */
  def run(ctx: Ctx, seconds: Double, stats: Stats): Unit
  /** Correctness checks, outside the timed region. Writes oracle dumps
    * under `checkDir` and records named invariants in `stats`. */
  def check(ctx: Ctx, stats: Stats, checkDir: Path): Unit
}

/** Benchmark entry: one workload, one seed, one JVM.
  *
  * Usage: Main --workload W --dir DATA --work DIR --seconds N --trace 0|1 --seed S
  *
  * Writes `result.json` (and `trace.jsonl` in a traced run) under --work. */
object Main {
  val SetupReps = 3

  /** JSON text of maps, sequences and scalars; NaN and infinities become null. */
  def json(v: Any): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    compact(render(Extraction.decompose(v)(DefaultFormats).transform {
      case JDouble(d) if d.isNaN || d.isInfinite => JNull
    }))
  }

  def stat(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = stat(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest whole percentile with at least ten samples above it, as
    * the tail of `n` samples (None under 11 samples). */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= 10.0)

  def session(work: Path, rep: Int): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = graft.core.GraftSession.builder(s"local[$cores]", "perfbench")
      .config("spark.sql.warehouse.dir", work.resolve(s"warehouse$rep").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val dir = opts("dir")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val seed = opts("seed").toLong
    val wl: Workload = Workloads.byName(opts("workload"))
    val stats = new Stats
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmStartNs = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L

    // Set-up, several times: each in a fresh session, timed to the point
    // where the first operation could start. The first one also carries
    // JVM start-up, as a real process pays it.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = if (rep == 0) jvmStartNs else System.nanoTime()
      if (spark != null) { graft.core.Catalog.clear(spark); spark.stop() }
      val ts = System.nanoTime()
      spark = session(work, rep)
      if (traced && rep == SetupReps - 1) { Trace.bind(spark.sparkContext); Trace.on = true }
      val sessionS = (System.nanoTime() - ts) / 1e9
      val ctx = Ctx(spark, dir, work, seed, traced)
      if (rep == SetupReps - 1) stats.layer("session.start_s") = sessionS
      Trace.newRequest { Trace.span("session", "setup") { wl.setup(ctx, if (rep == SetupReps - 1) stats else new Stats) } }
      setups += (System.nanoTime() - t0) / 1e9
    }
    Trace.on = false // the workload traces its own rounds
    val ctx = Ctx(spark, dir, work, seed, traced)
    val tRun = System.nanoTime()
    wl.run(ctx, seconds, stats)
    Trace.on = false
    val cache = cacheMb(spark)
    val tCheck = System.nanoTime()

    val checkDir = work.resolve("check")
    Files.createDirectories(checkDir)
    // the guard is a property of the harness, not of the inputs: it runs
    // in the traced run, beside the other per-layer evidence
    if (traced)
      stats.invariants("materialization_guard") = Checks.materializationGuard(spark, dir, work.resolve("guard"))
    val tGuard = System.nanoTime()
    wl.check(ctx, stats, checkDir)
    val phases = Map("setup_total_s" -> (tRun - jvmStartNs) / 1e9, "run_s" -> (tCheck - tRun) / 1e9,
      "guard_s" -> (tGuard - tCheck) / 1e9, "check_s" -> (System.nanoTime() - tGuard) / 1e9)

    val ops = stats.ops.toSeq
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val okMs = ops.filter(o => o.ok && !o.traced && wl.queryKeys.contains(o.key)).map(_.ms)
    // the geometric mean over op kinds of each kind's typical latency: a
    // pooled p50 over a few kinds with far-apart latencies jumps between kinds
    val typical = stats.typical(traced = false)
    val perKind = wl.queryKeys.flatMap(typical.get)
    val e2e = Seq(
      "setup_s" -> (median(setups.toSeq), "s"),
      "op_geomean_ms" -> (geomean(perKind), "ms"),
      "round_s" -> (stats.roundS(wl.roundKeys, traced = false), "s"))
    val tailP = tailPercentile(okMs.size)
    val report = Seq(
      "failed_frac" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted, "frac"),
      "cache_mb" -> (cache, "MB")) ++
      Seq("query_p50_ms" -> (median(okMs), "ms"),
        "queries_per_s" -> (ops.count(o => o.ok && wl.queryKeys.contains(o.key)) / stats.windowS, "1/s")) ++
      tailP.map(p => s"query_tail_p${p}_ms" -> (stat(okMs, p / 100.0), "ms")).toSeq ++
      stats.report.toSeq

    val layer = if (traced) Layers.rollup(ctx, stats, wl) else Map.empty[String, Double]
    if (traced) Trace.writeJsonl(work.resolve("trace.jsonl"))

    val result = json(Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> traced,
      "attempted" -> attempted, "failed" -> failed,
      "ops_measured" -> okMs.size, "op_typical_ms" -> typical,
      "samples_per_round_op" -> wl.roundKeys.map(k => k -> ops.count(o => o.key == k && o.ok && !o.traced)).toMap,
      "setup_runs_s" -> setups.toSeq, "warmup_round_wall_s" -> stats.warmRounds.toSeq, "round_wall_s" -> stats.rounds.toSeq,
      "op_samples_ms" -> ops.filter(o => o.ok && !o.traced).groupBy(_.key).map { case (k, os) => k -> os.map(_.ms) },
      "phases" -> phases,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "report" -> report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> {
        val unit = Layers.names.toMap
        layer.map { case (k, v) => k -> Map("value" -> v, "unit" -> unit(k)) }
      },
      "invariants" -> stats.invariants.toMap,
      "check_dir" -> checkDir.toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "nproc" -> Runtime.getRuntime.availableProcessors()))
    Files.writeString(work.resolve("result.json"), result)
    spark.stop()
  }
}
