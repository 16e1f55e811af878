package perfbench

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.{Catalog, Store, Tables}
import graft.etl.VehicleFeed
import graft.ops.Dedup
import graft.queries.VehicleQueries
import graft.streaming.{IngestGate, Maintenance}

/** A result a caller received, kept for the correctness check. */
final case class Received(schema: StructType, rows: Array[Row])

object Workloads {
  val all: Seq[Workload] = Seq(FleetQueries, IngestServe)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Time one caller-facing query: build the frame, plan it, collect
    * every row. Tracing splits plan time from execution time; the
    * untraced path is the same two calls without spans. */
  def query(stats: Stats, key: String, keep: Option[(TrieMap[String, Received], String)],
            layer: String = "queries")(build: => DataFrame): Unit = {
    val traced = Trace.on
    val t0 = System.nanoTime()
    val ok = try {
      Trace.newRequest {
        Trace.span(layer, key) {
          val df = build
          Trace.span(layer, "plan") { df.queryExecution.executedPlan }
          val rows = Trace.span(layer, "exec") { df.collect() }
          keep.foreach { case (m, id) => m.getOrElseUpdate(id, Received(df.schema, rows)) }
        }
      }
      true
    } catch {
      case NonFatal(e) => System.err.println(s"[perfbench] $key failed: $e"); false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    stats.synced { stats.ops += Op(key, ms, ok, traced) }
  }

  /** Closed loop of whole rounds for `seconds`: a round starts only while
    * time remains, so every op of the round is sampled alike. With `trace`,
    * traced and untraced rounds alternate so the two can be compared in
    * one process. Records each round's wall time and the window's length. */
  def loop(seconds: Double, stats: Stats, trace: Boolean)(round: => Unit): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      Trace.on = trace && i % 2 == 0
      val r0 = System.nanoTime()
      round
      stats.synced { stats.rounds += secondsSince(r0) }
      i += 1
    }
    Trace.on = false
    stats.windowS = secondsSince(t0)
  }

  def prop(dir: String, key: String): String = {
    val js = Files.readString(java.nio.file.Paths.get(dir, "properties.json"))
    ("\"" + key + "\":\\s*([^,\\n}]+)").r.findFirstMatchIn(js).map(_.group(1).trim)
      .getOrElse(throw new IllegalStateException(s"properties.json has no $key"))
  }

  /** (path, bytes) of every regular file under `p`. */
  def fileSet(p: Path): Set[(String, Long)] =
    if (!Files.exists(p)) Set.empty
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .map(f => (f.toString, Files.size(f))).toSet
      finally st.close()
    }

  def treeBytes(p: Path): Long = fileSet(p).toSeq.map(_._2).sum
}

import Workloads._

/** The reference's own query surface over a warm session: latest-state
  * keys served from the cached upsert, history keys scanning the
  * observation parquet, and seeded bearing / bbox / id lookups with misses. */
object FleetQueries extends Workload {
  val name = "fleet_queries"
  def roundKeys: Seq[String] = keys
  def queryKeys: Seq[String] = keys
  val fixedKeys = Seq(
    "v_upsert_latest", "v_top10_fastest", "v_route_breakdown", "v_summary_stats",
    "v_status_counts", "v_occupancy_pct", "v_direction_counts", "v_speed_percentiles",
    "v_route_percentiles", "v_bearing_summary", "v_count",
    "v_scd2_history", "v_gap_detection", "v_dwell_times", "v_headway", "v_teleport")
  val paramKeys = Seq("v_bearing_filter", "v_geo_bbox", "v_speed_by_id")
  val keys: Seq[String] = fixedKeys ++ paramKeys
  val Variants = 4

  private val received = TrieMap.empty[String, Received]
  private var bearings: Seq[(Double, Double)] = Nil
  private var boxes: Seq[(Double, Double, Double, Double)] = Nil
  private var ids: Seq[String] = Nil

  def setup(ctx: Ctx, stats: Stats): Unit = {
    val s = ctx.spark
    val t0 = System.nanoTime()
    // the Catalog memoizes the upsert and persists it on first use
    val v = Trace.span("catalog", "vehicles.build") {
      val v = Catalog.vehicles(s, ctx.dir)
      v.count() // a persisted frame caches every column whatever the action
      v
    }
    stats.layer("catalog.vehicles.build_s") = secondsSince(t0)
    if (ctx.traceRun) {
      stats.layer("catalog.vehicles.mb") = Main.cacheMb(s)
      // the ETL upsert alone, uncached: what the build costs besides caching
      val t1 = System.nanoTime()
      Trace.span("etl", "upsert") {
        VehicleFeed.vehiclesFromEvents(s, ctx.dir).write.format("noop").mode("overwrite").save()
      }
      stats.layer("etl.upsert_s") = secondsSince(t1)
      stats.layer("etl.rows_in") = Tables(s, ctx.dir).events.count().toDouble
      stats.layer("etl.rows_out") = v.count().toDouble
    }
    // seeded parameter pools; the last entry of each pool misses
    val r = ctx.rng
    val fleet = prop(ctx.dir, "fleet_size").toInt
    bearings = Seq.fill(Variants)((r.nextInt(360).toDouble, Seq(5.0, 15.0, 30.0)(r.nextInt(3))))
    boxes = Seq.fill(Variants - 1) {
      val lat = 42.0 + r.nextInt(900) / 1000.0
      val lon = -71.9 + r.nextInt(800) / 1000.0
      (lat, lat + 0.05, lon, lon + 0.3)
    } :+ ((40.0, 40.5, -70.0, -69.0))
    val prefix = Seq("R-", "O-", "G-", "B-", "y", "ynk")
    ids = Seq.fill(Variants - 1) { val u = r.nextInt(fleet); prefix(u % 6) + u } :+ "R-99999999"
  }

  private def param(s: SparkSession, dir: String, key: String, i: Int): DataFrame = {
    val v = Trace.span("catalog", "vehicles.hit") { Catalog.vehicles(s, dir) }
    key match {
      case "v_bearing_filter" => VehicleQueries.byBearing(v, bearings(i)._1, bearings(i)._2)
      case "v_geo_bbox" =>
        val (a, b, c, d) = boxes(i); VehicleQueries.geoBox(v, a, b, c, d)
      case "v_speed_by_id" => VehicleQueries.speedById(v, ids(i))
    }
  }

  def round(ctx: Ctx, stats: Stats, keep: Boolean): Unit =
    ctx.rng.shuffle(keys).foreach { k =>
      if (fixedKeys.contains(k))
        query(stats, k, Option.when(keep)((received, k))) { SparkEntry.queries(k)(ctx.spark, ctx.dir) }
      else {
        val i = ctx.rng.nextInt(Variants)
        query(stats, k, Option.when(keep)((received, s"${k}__p$i"))) { param(ctx.spark, ctx.dir, k, i) }
      }
    }

  def run(ctx: Ctx, seconds: Double, stats: Stats): Unit = {
    // warm-up: one round, which pays first-query planning and code generation
    val t0 = System.nanoTime()
    round(ctx, new Stats, keep = false)
    stats.warmRounds += secondsSince(t0)
    loop(seconds, stats, ctx.traceRun)(round(ctx, stats, keep = true))
  }

  /** The DuckDB mirror of a parameterized lookup: the key's oracle SQL
    * with this variant's literals (same CTE, same projection). */
  def paramOracle(key: String, i: Int): String = {
    val cte = VehicleQueries.VehiclesCte
    key match {
      case "v_bearing_filter" =>
        val (t, d) = bearings(i)
        s"$cte SELECT id, label, bearing, speed FROM vehicles WHERE bearing BETWEEN ${t - d} AND ${t + d}"
      case "v_geo_bbox" =>
        val (a, b, c, d) = boxes(i)
        s"$cte SELECT id, latitude, longitude, speed FROM vehicles " +
          s"WHERE latitude BETWEEN $a AND $b AND longitude BETWEEN $c AND $d"
      case "v_speed_by_id" => s"$cte SELECT id, speed FROM vehicles WHERE id = '${ids(i)}'"
    }
  }

  def check(ctx: Ctx, stats: Stats, checkDir: Path): Unit = {
    val oracles = received.keys.toSeq.sorted.map { id =>
      id -> (id.split("__p") match {
        case Array(k, i) => paramOracle(k, i.toInt)
        case Array(k) => SparkEntry.oracleSql(k)
      })
    }
    Checks.dump(ctx.spark, checkDir, received.toMap)
    Checks.writeOracles(checkDir, oracles)
    stats.invariants("every_key_checked") = fixedKeys.forall(received.contains)
  }
}

/** Writes beside reads: one writer admits seeded batches through the
  * ingest gate into Store tables, with a maintenance tick every K
  * batches; one reader serves the gate report and dedup probes. */
object IngestServe extends Workload {
  val name = "ingest_serve"
  def roundKeys: Seq[String] = Seq("admit_batch")
  def queryKeys: Seq[String] = Seq("ingest_report", "dedup_probe")
  val Corpus = "corpus"
  val Fp = "corpus_fp"
  val Sig = "corpus_sig"
  val Decisions = "corpus_decisions"
  val TickEvery = 2
  val Buckets = 8 // the library's default store bucket count
  val ProbeVariants = 4

  private val received = TrieMap.empty[String, Received]
  private var seedCount = 0L
  private var probes: Seq[DataFrame] = Nil
  private var probeCopies: Seq[Set[Long]] = Nil
  private val submitted = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def batchPath(dir: String, b: Int) = f"$dir/ingest/batch_$b%03d.parquet"
  private def warehouse(s: SparkSession) = java.nio.file.Paths.get(s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  def setup(ctx: Ctx, stats: Stats): Unit = {
    val s = ctx.spark
    val docs = Tables(s, ctx.dir).documents
    Trace.span("store", "seed") {
      IngestGate.seedCorpus(s, docs, Corpus, Fp, Sig, Buckets)
      // publish each table as a versioned view before readers start: the
      // one-time plain-table migration is the only rewrite that can pull
      // files from under an in-flight reader
      Seq(Corpus, Fp, Sig).foreach(Store.compact(s, _, "doc_id", Buckets))
    }
    seedCount = s.table(Corpus).count()
    // probe sets: five exact copies of stored documents under fresh ids,
    // plus five fresh documents
    val r = ctx.rng
    val texts = docs.select("doc_id", "text").collect().map(row => row.getString(1))
    val made = (0 until ProbeVariants).map { v =>
      val copies = (0 until 5).map(j => (9000000L + v * 100 + j, texts(r.nextInt(texts.length))))
      val fresh = (5 until 10).map(j => (9000000L + v * 100 + j,
        Seq.fill(40)(Seq("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa")(r.nextInt(7))).mkString(" ")))
      val df = s.createDataFrame(copies ++ fresh).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("probe"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      (df.localCheckpoint(), copies.map(_._1).toSet)
    }
    probes = made.map(_._1); probeCopies = made.map(_._2)
  }

  def run(ctx: Ctx, seconds: Double, stats: Stats): Unit = {
    val s = ctx.spark
    val wh = warehouse(s)
    val nBatches = prop(ctx.dir, "ingest_batches").toInt
    val batchDocs = prop(ctx.dir, "ingest_batch_docs").toLong
    val storedAtStart = treeBytes(wh)
    // ops land in `sink`: a throwaway during the warm-up, then the run's
    // stats; the layer series below are kept only while `measuring`
    val warm = new Stats
    @volatile var sink = warm
    @volatile var measuring = false
    @volatile var done = false
    val admits = scala.collection.mutable.ArrayBuffer.empty[Double]
    val filesPerBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ticks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var rewritten = 0L
    val readerOps = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val reader = new Thread(() => {
      var i = 0
      while (!done) {
        val t0 = System.nanoTime()
        if (i % 2 == 0)
          query(sink, "ingest_report", None, "streaming") { IngestGate.report(s, Decisions, Corpus) }
        else {
          val v = ctx.rng.synchronized(ctx.rng.nextInt(ProbeVariants))
          query(sink, "dedup_probe", Some((received, s"probe$v")), "ops") {
            Dedup.crossDedupFromSignatures(s.table(Corpus), s.table(Fp), s.table(Sig), probes(v))
          }
        }
        if (measuring) readerOps.add((t0, System.nanoTime()))
        i += 1
      }
    })
    def admit(b: Int): Unit = {
      val batch = s.read.parquet(batchPath(ctx.dir, b)).drop("kind")
      val files0 = Store.dataFileCount(s, Corpus)
      Trace.newRequest { Trace.span("streaming", "admit") {
        IngestGate.admitBatch(batch, Corpus, Fp, Sig, Decisions, Buckets)
      } }
      if (measuring) filesPerBatch += (Store.dataFileCount(s, Corpus) - files0).toDouble
      submitted += b
    }
    def tick(id: Long): Unit = {
      val before = fileSet(wh)
      val t0 = System.nanoTime()
      Trace.span("store", "compact") {
        Maintenance.tick(s, id,
          store = Seq(Corpus, Fp, Sig).map(Maintenance.StoreJob(_, "doc_id", Buckets)),
          // keep current + previous: a reader that resolved the view before
          // a swap still finds its files
          vacuum = Seq(Corpus, Fp, Sig).map(Maintenance.VacuumJob(_)))
      }
      if (measuring) {
        ticks += ((t0, System.nanoTime()))
        rewritten += fileSet(wh).filterNot(before.contains).toSeq.map(_._2).sum
      }
    }
    var b = 0
    /** Admit batches while `more`, with a maintenance tick every TickEvery. */
    def write(into: Stats, trace: Boolean)(more: => Boolean): Unit = {
      while (more && b < nBatches) {
        Trace.on = trace && b % 2 == 0
        val traced = Trace.on
        val t0 = System.nanoTime()
        val ok = try { admit(b); true }
        catch { case NonFatal(e) => System.err.println(s"[perfbench] batch $b failed: $e"); false }
        val dt = secondsSince(t0)
        into.synced { into.ops += Op("admit_batch", dt * 1000, ok, traced); into.rounds += dt }
        if (measuring) admits += dt
        b += 1
        if (b % TickEvery == 0) tick(b.toLong)
      }
      Trace.on = false
    }
    reader.start()
    write(warm, trace = false)(b < 1) // warm-up: the first admit, beside the reader
    stats.warmRounds ++= warm.rounds
    val first = b
    val storedAtClock = treeBytes(wh)
    sink = stats
    measuring = true
    val w0 = System.nanoTime()
    val deadline = w0 + (seconds * 1e9).toLong
    write(stats, ctx.traceRun)(System.nanoTime() < deadline)
    stats.windowS = secondsSince(w0)
    done = true
    reader.join()
    val docsIn = (b - first) * batchDocs
    stats.report("ingest_docs_per_s") = (docsIn / stats.windowS, "1/s")
    stats.report("batch_p50_s") = (Main.median(admits.toSeq), "s")
    val inputBytes = (first until b).map(i => Files.size(java.nio.file.Paths.get(batchPath(ctx.dir, i)))).sum
    stats.report("store_amp") = ((treeBytes(wh) - storedAtClock).toDouble / inputBytes, "ratio")
    stats.layer("ingest.admit_s.p50") = Main.median(admits.toSeq)
    stats.layer("store.files_per_batch") = Main.median(filesPerBatch.toSeq)
    stats.layer("store.bytes_written") = (treeBytes(wh) - storedAtStart).toDouble
    stats.layer("store.versions_live") = Store.versions(s, Corpus).size.toDouble
    stats.layer("store.compact_s") = Main.median(ticks.map { case (a, z) => (z - a) / 1e9 }.toSeq)
    stats.layer("store.bytes_rewritten") = rewritten.toDouble
    val rOps = readerOps.toArray(Array.empty[(Long, Long)]).toSeq
    val normal = Main.median(rOps.map { case (a, z) => (z - a) / 1e6 })
    val during = rOps.filter { case (a, z) => ticks.exists { case (ta, tz) => a < tz && z > ta } }
      .map { case (a, z) => (z - a) / 1e6 }
    stats.layer("store.read_stall_ms") = if (during.isEmpty) 0.0 else during.max - normal
  }
  def check(ctx: Ctx, stats: Stats, checkDir: Path): Unit = {
    val s = ctx.spark
    val batches = submitted.toSeq.map(b => s.read.parquet(batchPath(ctx.dir, b)))
    val all = batches.reduce(_ unionByName _)
    val subIds = all.select("doc_id").collect().map(_.getLong(0)).toSet
    val resub = all.filter(col("kind") === "resubmit").select("doc_id").collect().map(_.getLong(0)).toSet
    val dec = s.table(Decisions).select("batch_id", "kind").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rejected = dec.map(_._1).toSet
    val stored = s.table(Corpus).select("doc_id").collect().map(_.getLong(0)).toSet
    val admitted = stored.filter(_ >= 1000000L) // gen.py numbers ingest documents from 1 000 000
    stats.invariants("admitted_plus_rejected_eq_submitted") =
      admitted.size + rejected.size == subIds.size && (admitted ++ rejected) == subIds
    stats.invariants("exact_resubmissions_rejected") =
      resub.forall(id => dec.contains((id, "exact")))
    stats.invariants("stored_count_eq_seed_plus_admitted") = stored.size == seedCount + admitted.size
    val rep = IngestGate.report(s, Decisions, Corpus).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    stats.invariants("report_admitted_eq_stored") = rep.get("admitted").contains(stored.size.toLong)
    stats.invariants("probe_copies_found_exact") = received.nonEmpty && received.forall { case (id, got) =>
      val v = id.stripPrefix("probe").toInt
      val exact = got.rows.filter(_.getString(2) == "exact").map(_.getLong(0)).toSet
      probeCopies(v).subsetOf(exact) && exact.subsetOf(probeCopies(v))
    }
    stats.layer("ingest.admit_frac") = admitted.size.toDouble / subIds.size
  }
}
