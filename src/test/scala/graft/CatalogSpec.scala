package graft

import java.util.concurrent.CountDownLatch

import graft.core.Catalog

/** The Catalog registry builds each entry once, however many threads
  * ask for it at the same time. */
class CatalogSpec extends SparkSpec {
  private def persisted = spark.sparkContext.getPersistentRDDs.size

  /** From a cleared Catalog, `n` threads released together by a latch
    * call `get`: the persisted-RDD growth and the value each thread got. */
  private def buildsOf(n: Int)(get: () => AnyRef): (Int, Seq[AnyRef]) = {
    Catalog.clear(spark)
    System.gc()
    val before = persisted
    val go = new CountDownLatch(1)
    val got = new Array[AnyRef](n)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() =>
        try { go.await(); got(i) = get() }
        catch { case e: Throwable => failed.compareAndSet(null, e) })
      t.start(); t
    }
    go.countDown()
    threads.foreach(_.join())
    if (failed.get != null) throw failed.get
    (persisted - before, got.toSeq)
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
}
