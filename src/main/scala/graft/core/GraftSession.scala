package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job wants.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions are
  * pinned to core count (not the 200 default), AQE is on so plans re-split
  * and coalesce at runtime exactly as they would on a 1000-executor
  * cluster, and the session timezone is UTC for oracle parity.
  *
  * The builder also injects every graft native Catalyst expression —
  * the authoritative list is the kernel table `GraftFunctions.Kernels`
  * plus the six expressions `GraftFunctions.register` lists beside it —
  * via `SparkSessionExtensions`; sessions built elsewhere won't resolve
  * any `graft_*` function.
  */
object GraftSession {
  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(graft.functions.GraftFunctions.register)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 only reads
      // under this legacy conf (as a raw long); Tables.events normalizes
      // it to a µs timestamp. Set once here, not as a read side-effect.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
