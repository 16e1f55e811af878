package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession

/** CLI dispatcher — parity with the reference's `main.go:13-152`
  * (`-query top10|stats|routes|bearing|bearing_summary` plus the
  * `-bearing`/`-delta` parameters, main.go:20-21), extended to every
  * SparkEntry key and the parameterized operator knobs.
  *
  * Usage:
  *   runMain graft.Cli --data /root/testdata/sf0.001 --query v_top10_fastest
  *   runMain graft.Cli --query bearing --bearing 270 --delta 10
  *   runMain graft.Cli --query s_ann_topk --k 5
  *   runMain graft.Cli --query d_ngram_jaccard --tau 0.9
  *   runMain graft.Cli --query list
  */
object Cli {

  /** Reference query aliases (main.go flag values) → SparkEntry keys. */
  val aliases: Map[String, String] = Map(
    "top10"           -> "v_top10_fastest",
    "stats"           -> "v_summary_stats",
    "routes"          -> "v_route_breakdown",
    "bearing"         -> "v_bearing_filter",
    "bearing_summary" -> "v_bearing_summary")

  /** Parameter flags. Unset flags (None / reference defaults) leave each
    * query's own signature default in force, so a flagless run is
    * identical to the oracle-checked driver surface. */
  case class Params(bearing: Double = 90.0, delta: Double = 15.0,
                    k: Option[Int] = None, tau: Double = 0.8)

  def run(spark: SparkSession, dir: String, query: String,
          params: Params = Params()): DataFrame = {
    val key = aliases.getOrElse(query, query)
    // parameterized dispatch first: the reference CLI passes -bearing /
    // -delta through to the query (main.go:20-21, 120-127); the graft
    // extensions take -k / -tau the same way
    val p = params
    key match {
      case "v_bearing_filter" =>
        graft.queries.VehicleQueries.byBearing(
          graft.core.Catalog.vehicles(spark, dir), p.bearing, p.delta)
      // k set: parameterized call; k unset: fall through to the driver
      // surface below, so each query's signature default stays the
      // single source of truth (no re-hardcoded defaults here)
      case "v_top10_fastest" if p.k.isDefined =>
        graft.queries.VehicleQueries.topFastest(
          graft.core.Catalog.vehicles(spark, dir), p.k.get)
      case "s_ann_topk" if p.k.isDefined =>
        graft.ops.Similarity.annTopK(
          graft.core.Tables(spark, dir).embeddings, k = p.k.get)
      // the session's shingle index, as the driver key reads it
      case "d_ngram_jaccard" =>
        graft.ops.Dedup.ngramJaccardPairsFromIndex(
          graft.core.Catalog.shingleIndex(spark, dir), tau = p.tau)
      case _ =>
        SparkEntry.queries.getOrElse(key,
          throw new IllegalArgumentException(
            s"unknown query '$query'; use --query list"))(spark, dir)
    }
  }

  private[graft] def parse(args: Array[String]): (String, String, Params) = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val dir = opts.getOrElse("--data", "/root/testdata/sf0.001")
    val query = opts.getOrElse("--query", "list")
    val d = Params()
    val params = Params(
      bearing = opts.get("--bearing").map(_.toDouble).getOrElse(d.bearing),
      delta = opts.get("--delta").map(_.toDouble).getOrElse(d.delta),
      k = opts.get("--k").map(_.toInt),
      tau = opts.get("--tau").map(_.toDouble).getOrElse(d.tau))
    (dir, query, params)
  }

  def main(args: Array[String]): Unit = {
    val (dir, query, params) = parse(args)
    if (query == "list") {
      println(("aliases: " + aliases.keys.toSeq.sorted.mkString(", ")))
      println(("keys: " + SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
      return
    }
    val spark = GraftSession.local()
    try run(spark, dir, query, params).show(50, truncate = false)
    finally spark.stop()
  }
}
