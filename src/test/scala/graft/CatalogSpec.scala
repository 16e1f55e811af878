package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.DataFrame

import graft.core.Catalog

/** The Catalog registry builds each entry once, however many threads
  * ask for it at the same time. */
class CatalogSpec extends SparkSpec {
  private def persisted = spark.sparkContext.getPersistentRDDs.size

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `n` threads released together by a latch each run `body`; the
    * value each thread got. */
  private def race[T](n: Int)(body: () => T): Seq[T] = {
    val go = new CountDownLatch(1)
    val got = new Array[Any](n)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() =>
        try { go.await(); got(i) = body() }
        catch { case e: Throwable => failed.compareAndSet(null, e) })
      t.start(); t
    }
    go.countDown()
    threads.foreach(_.join())
    if (failed.get != null) throw failed.get
    got.toSeq.map(_.asInstanceOf[T])
  }

  /** From a cleared Catalog, `n` threads released together by a latch
    * call `get`: the persisted-RDD growth and the value each thread got. */
  private def buildsOf(n: Int)(get: () => AnyRef): (Int, Seq[AnyRef]) = {
    Catalog.clear(spark)
    System.gc()
    val before = persisted
    val got = race(n)(get)
    (persisted - before, got)
  }

  Seq[(String, () => AnyRef)](
    // its build localCheckpoints three tables eagerly
    "hostGraph" -> (() => Catalog.hostGraph(spark, TestSpark.sf0001)),
    // its build reads the uncapped index, built inside it
    "shingleIndex(Some(100))" -> (() => {
      val idx = Catalog.shingleIndex(spark, TestSpark.sf0001, Some(100))
      idx.count()
      idx
    })
  ).foreach { case (getter, get) =>
    test(s"Catalog.$getter: 4 concurrent callers build the entry once and share its value") {
      val (single, _) = buildsOf(1)(get)
      val (growth, values) = buildsOf(4)(get)
      assert(growth == single,
        s"4 concurrent callers persisted $growth RDDs, one caller $single")
      assert(values.forall(_ eq values.head), "the callers got different values")
      Catalog.clear(spark)
    }
  }

  test("Catalog.served: 4 concurrent first calls and collects of v_headway share one build and one shuffle stage") {
    val dir = TestSpark.sf0001
    /** From a cleared Catalog with the observations cached, `n` threads
      * make the first call of v_headway and collect it: the Spark jobs
      * started and each thread's (frame, rows). */
    def firstCollects(n: Int): (Int, Seq[(DataFrame, Seq[String])]) = {
      Catalog.clear(spark)
      Catalog.observations(spark, dir).count()
      var got = Seq.empty[(DataFrame, Seq[String])]
      val jobs = jobsOf {
        got = race(n) { () =>
          val df = SparkEntry.queries("v_headway")(spark, dir)
          (df, rows(df))
        }
      }
      (jobs, got)
    }
    val (single, Seq((_, want))) = firstCollects(1)
    assert(want.nonEmpty)
    val (jobs, got) = firstCollects(4)
    assert(got.forall(_._1 eq got.head._1), "the callers got different frames")
    assert(got.forall(_._2 == want), "a caller got different rows")
    // the shuffle stage runs once; each further caller adds its result job
    assert(jobs == single + 3, s"4 first collects ran $jobs jobs, one ran $single")

    val held = got.head._1
    var again = Seq.empty[Seq[String]]
    val warmJobs = jobsOf { again = race(4)(() => rows(held)) }
    assert(again.forall(_ == want), "a re-collect got different rows")
    assert(warmJobs == 4, s"4 re-collects ran $warmJobs jobs")
    Catalog.clear(spark)
  }
}
