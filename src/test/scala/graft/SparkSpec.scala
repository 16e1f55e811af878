package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). Built via
  * GraftSession so specs exercise the shipped configuration (graft
  * functions registered, nanosAsLong, AQE, UTC). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("local[4]", "graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs started while `body` runs, counted by a SparkListener.
    * The listener bus is asynchronous but ordered, so `body` is framed
    * by two marker jobs and every job seen between the two markers'
    * starts is `body`'s. */
  protected def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-of-${java.util.UUID.randomUUID}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    @volatile var open = false
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
          case Some(d) if d == s"$tag-open" => open = true
          case Some(d) if d == s"$tag-close" => open = false; closed.countDown()
          case _ => if (open) counted.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(s"$tag-$name")
      try spark.range(1).rdd.count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      body
      marker("close")
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  /** Persisted RDDs `run` adds beyond the Catalog entries `warm` builds.
    * The session's caches are dropped first, so a frame `run` caches
    * for itself counts even when an earlier call in this JVM cached
    * the same plan (the CacheManager would otherwise dedupe it). */
  protected def persistedBy(warm: => Unit)(run: => Unit): Int = {
    graft.core.Catalog.clear(spark)
    spark.catalog.clearCache()
    warm
    System.gc()
    val before = spark.sparkContext.getPersistentRDDs.size
    run
    System.gc()
    spark.sparkContext.getPersistentRDDs.size - before
  }
}
