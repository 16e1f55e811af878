package graft

/** Cache-lifecycle contract for the per-invocation LAZY caches: a
  * `.cache()` on a frame that feeds several consumers inside ONE action
  * (q_basket_lift's distinct collapse is the one left; the ANN recall
  * cards and Search.rrfCurve read their shared frames once in-plan and
  * cache nothing — SimilaritySpec and SearchSpec pin that). Spark's
  * CacheManager keys cached plans on their CANONICALIZED form, so
  * re-invoking the same query re-uses the existing entry instead of
  * accumulating blocks —
  * session-lifetime residency bounded per distinct input is the
  * documented design. The alternative (unpersist right after the
  * operator returns) is impossible here: the action that populates the
  * cache runs in the CALLER (Bench/Verify `.count()`), after the
  * operator has returned its frame.
  *
  * This spec pins the boundedness claim: invoking the cache-carrying
  * keys repeatedly must not grow the persisted-RDD set. If a future
  * change breaks plan canonicalization (e.g. a nondeterministic
  * expression sneaks into a cached subtree), this fails loudly instead
  * of leaking MEMORY_AND_DISK blocks per battery rep.
  */
class CacheLifecycleSpec extends SparkSpec {
  test("repeated invocations of cache-carrying keys do not grow the cached-block set") {
    val dir = TestSpark.sf0001
    // q_basket_lift (the AnalyticsQueries collapse), two keys that
    // once cached their shared frames (s_rrf_curve, s_ann_tombstone);
    // d_ngram_jaccard exercises the Catalog shingle index (one
    // persisted entry per (session, dir, cap) — session-scoped by
    // design, identical on re-invocation)
    val keys = Seq("q_basket_lift", "s_rrf_curve", "s_ann_tombstone",
      "d_ngram_jaccard", "d_ngram_novelty")
    keys.foreach(k => SparkEntry.queries(k)(spark, dir).count())
    val n1 = spark.sparkContext.getPersistentRDDs.size
    (1 to 2).foreach { _ =>
      keys.foreach(k => SparkEntry.queries(k)(spark, dir).count())
    }
    val n2 = spark.sparkContext.getPersistentRDDs.size
    assert(n2 == n1,
      s"per-invocation caches must dedupe via the CacheManager " +
        s"(persisted RDDs grew $n1 -> $n2 across repeated invocations)")
  }
}
