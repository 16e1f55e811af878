package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Correctness plumbing, all outside the timed region. Results a caller
  * received are dumped in the layout `tools/check_oracle.py` reads
  * (one parquet directory per key, `oracle_sql.json` and the spec-bound files),
  * so the repository's own DuckDB checker judges them unchanged. */
object Checks {

  def dump(spark: SparkSession, dir: Path, received: Map[String, Received]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = received.toSeq.map { case (id, r) =>
      Future {
        spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
          .write.mode("overwrite").parquet(dir.resolve(id).toString)
      }
    }
    Await.result(Future.sequence(writes), scala.concurrent.duration.Duration.Inf)
  }

  /** The oracle SQL per dumped key. No key of these workloads is a
    * sketch key, so the spec-bound files stay empty. */
  def writeOracles(dir: Path, hashed: Seq[(String, String)]): Unit = {
    Files.writeString(dir.resolve("oracle_sql.json"), Main.json(hashed.toMap))
    Files.writeString(dir.resolve("spec_bounds.json"), "{}")
    Files.writeString(dir.resolve("spec_bounds_result.json"), "{}")
  }

  /** Materialization guard: the plan a timed `collect()` executes for
    * q_distinct_agg_approx_check must equal the query a full parquet
    * write of the same frame executes — and differ from what `count()`
    * runs, which Catalyst prunes. */
  def materializationGuard(spark: SparkSession, dataDir: String, out: Path): Boolean = {
    val df = SparkEntry.queries("q_distinct_agg_approx_check")(spark, dataDir)
    val timed = df.queryExecution.optimizedPlan
    @volatile var written: Option[LogicalPlan] = None
    val seen = new CountDownLatch(1)
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case w: WriteFiles => strip(w.child)
      case c: Command if c.children.size == 1 => strip(c.children.head)
      case o => o
    }
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.optimizedPlan.exists(_.isInstanceOf[Command]) && qe.optimizedPlan.children.nonEmpty) {
          written = Some(strip(qe.optimizedPlan)); seen.countDown()
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.mode("overwrite").parquet(out.toString)
      seen.await(30, TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    val same = written.exists(_.canonicalized == timed.canonicalized)
    val countPruned = counted.canonicalized != timed.canonicalized &&
      !counted.exists(_.output.exists(_.name == "a_parts"))
    if (!same) System.err.println(s"[perfbench] guard: collect plan\n$timed\nwrite plan\n${written.getOrElse("none")}")
    println(s"[perfbench] materialization guard: collect plan == write plan: $same; " +
      s"count() plan pruned: $countPruned")
    same
  }
}
