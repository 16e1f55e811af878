package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.core.GraftSession

/** Dump `.explain("formatted")` for SparkEntry keys into files — the
  * optimization-round evidence artifact (plans/r16/<key>_<tag>.txt).
  *
  *   sbt "runMain graft.tools.Plans <tag> key1,key2,..."   # named keys
  *   sbt "runMain graft.tools.Plans <tag> all"             # every key
  *
  * Uses the Bench session shape (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus) so the dumped plan is the benched plan, and reads
  * SPARK_GRAFT_SF_DIR (default sf0.1, the bench contract SF). Plans are
  * the pre-execution formatted plans (AQE initial): join strategy,
  * Exchange placement, PushedFilters/ReadSchema — the shape evidence —
  * are all visible there without running the key.
  *
  * A lazily persisted Catalog entry has no known layout until it is
  * built, and a plan made before that carries an `Exchange` (and, for
  * the windows, a `Sort`) that the executed plan does not have. So each
  * cached relation a key's plan reads is materialized first (once per
  * session, as the key's own first run would); the key itself is never
  * run.
  */
object Plans {
  /** The formatted plan of key `key` over `dir`, read after every cached
    * relation it scans has been materialized; the key itself is not run. */
  def planText(spark: SparkSession, dir: String, key: String): String = {
    val df = graft.SparkEntry.queries(key)(spark, dir)
    df.queryExecution.withCachedData.foreachWithSubqueries {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.count()
      case _ =>
    }
    df.queryExecution.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Plans <tag> <key1,key2|all> <outDir>  (outDir is required — " +
        "a defaulted directory silently mixed snapshots into a past " +
        "round's evidence, ADVICE r16)")
    val tag = args(0)
    val outDir = args(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(s"local[$cpus]", "graft-plans")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wanted: Set[String] =
      if (args(1) == "all") graft.SparkEntry.queries.keySet
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    wanted.toSeq.sorted.foreach { name =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        planText(spark, sfDir, name).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plans] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
