package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.{Catalog, Store, Tables}

/** Durable loaded-table semantics: the bucketed store round-trips the
  * upsert exactly, and joins against it are bucket-co-located (no
  * shuffle on the stored side) — the Spark equivalent of the
  * reference's SQLite table + indexes (pipeline.go:41-58). */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def dropTable(name: String): Unit = {
    Store.drop(spark, name)
    val wh = new java.io.File("spark-warehouse")
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName == name || f.getName.startsWith(name + "__v"))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("saveVehicles round-trips the upserted table exactly; reads prefer the store") {
    dropTable("t_store_vehicles")
    Store.saveVehicles(spark, TestSpark.sf0001, buckets = 4, table = "t_store_vehicles")
    val stored = Store.vehicles(spark, TestSpark.sf0001, table = "t_store_vehicles")
    val derived = Catalog.vehicles(spark, TestSpark.sf0001)
    assert(stored.count() == derived.count())
    assert(stored.collect().map(_.toString).sorted
      .sameElements(derived.collect().map(_.toString).sorted))
    // and the read really is the table, not a re-derivation
    assert(stored.queryExecution.analyzed.toString.contains("t_store_vehicles"))
    dropTable("t_store_vehicles")
    // fallback: with no stored table, reads come from the session catalog
    val fallback = Store.vehicles(spark, TestSpark.sf0001, table = "t_store_vehicles")
    assert(fallback.count() == derived.count())
  }

  test("refreshMinhashSignatures: only new docs pay compute; idempotent; equals full build") {
    dropTable("t_incr_sigs")
    val docs = Tables(spark, TestSpark.sf0001).documents
    val firstHalf = docs.filter($"doc_id" < 250)
    Store.refreshMinhashSignatures(spark, firstHalf, buckets = 4, table = "t_incr_sigs")
    assert(spark.table("t_incr_sigs").count() ==
      graft.ops.Dedup.minhashSignatures(firstHalf).count())
    // second refresh with the FULL corpus appends only the missing docs
    val appended = Store.refreshMinhashSignatures(spark, docs, buckets = 4, table = "t_incr_sigs")
    val full = graft.ops.Dedup.minhashSignatures(docs)
    assert(appended == full.count() - graft.ops.Dedup.minhashSignatures(firstHalf).count())
    // stored table now equals the from-scratch signature table, row for row
    val stored = spark.table("t_incr_sigs")
    assert(stored.count() == full.count())
    assert(stored.exceptAll(full).count() == 0 && full.exceptAll(stored).count() == 0)
    // idempotent: same corpus again → nothing appended
    assert(Store.refreshMinhashSignatures(spark, docs, buckets = 4, table = "t_incr_sigs") == 0L)
    assert(spark.table("t_incr_sigs").count() == full.count())
    dropTable("t_incr_sigs")
  }

  test("refreshDupClusters: incremental map equals full recompute; survivors join bucketed") {
    import graft.ops.DupClusters
    dropTable("t_cc_map")
    val vertices = (0L until 200L).toDF("doc_id")
    val rnd = new scala.util.Random(31)
    val all = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val (batch1, batch2) = all.splitAt(90)
    Store.refreshDupClusters(spark, vertices, batch1.toDF("doc_a", "doc_b"),
      buckets = 4, table = "t_cc_map")
    Store.refreshDupClusters(spark, vertices, batch2.toDF("doc_a", "doc_b"),
      buckets = 4, table = "t_cc_map")
    val stored = spark.table("t_cc_map")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DupClusters.connectedComponents(all.toDF("doc_a", "doc_b"), vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == full)
    dropTable("t_cc_map")
  }

  test("join keyed on the stored table's bucket key needs no exchange on the stored side") {
    dropTable("t_store_sigs")
    Store.saveMinhashSignatures(spark, TestSpark.sf0001, buckets = 4, table = "t_store_sigs")
    val sigs = Store.minhashSignatures(spark, TestSpark.sf0001, table = "t_store_sigs")
    // candidate verification shape: join candidates back to signatures by
    // doc_id — at 100 TB the signature side is the big one, and bucketing
    // means it is read pre-partitioned instead of shuffled per query
    val candidates = sigs.select($"doc_id").limit(100)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = sigs.join(candidates.hint("shuffle_merge"), Seq("doc_id"))
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("Bucketed: true"), plan)
    // exactly one side shuffles (the candidate set); the stored side never
    assert(finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"stored side should be exchange-free:\n$plan")
    dropTable("t_store_sigs")
  }

  test("compact: one file per bucket after appends; contents and bucketing preserved") {
    dropTable("t_compact_sigs")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    // three incremental refreshes → three file-sets in the table
    Store.refreshMinhashSignatures(spark, docs.filter($"doc_id" < 150),
      buckets = 4, table = "t_compact_sigs")
    Store.refreshMinhashSignatures(spark, docs.filter($"doc_id" < 300),
      buckets = 4, table = "t_compact_sigs")
    Store.refreshMinhashSignatures(spark, docs, buckets = 4, table = "t_compact_sigs")
    val beforeRows = spark.table("t_compact_sigs")
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    val (filesBefore, filesAfter) =
      Store.compact(spark, "t_compact_sigs", key = "doc_id", buckets = 4)
    assert(filesBefore > 4, s"expected >4 files after 3 appends, saw $filesBefore")
    assert(filesAfter == 4, s"expected exactly one file per bucket, saw $filesAfter")
    // contents unchanged, row for row
    val afterRows = spark.table("t_compact_sigs")
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(beforeRows.sameElements(afterRows))
    // and the compacted table still joins without an exchange on its side
    val sigs = spark.table("t_compact_sigs")
    val candidates = sigs.select($"doc_id").limit(50)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = sigs.join(candidates.hint("shuffle_merge"), Seq("doc_id"))
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("Bucketed: true"), plan)
    assert(finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"compacted side should be exchange-free:\n$plan")
    dropTable("t_compact_sigs")
  }

  test("compact: the session's bucketing conf never changes while a compact runs") {
    dropTable("t_compact_conf")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    Store.refreshMinhashSignatures(spark, docs.filter($"doc_id" < 150),
      buckets = 4, table = "t_compact_conf")
    Store.refreshMinhashSignatures(spark, docs, buckets = 4, table = "t_compact_conf")
    val conf = "spark.sql.sources.bucketing.enabled"
    val before = spark.conf.get(conf)
    // a concurrent observer on the same session: every value it reads
    // while the compact runs is what a query planned then would see
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val observer = new Thread(() =>
      while (!done.get()) { seen.add(spark.conf.get(conf)); Thread.sleep(1) })
    observer.start()
    val (filesBefore, filesAfter) = try
      Store.compact(spark, "t_compact_conf", key = "doc_id", buckets = 4)
    finally { done.set(true); observer.join() }
    assert(filesBefore > 4 && filesAfter == 4)
    assert(seen.asScala.toSet == Set(before),
      s"the compact changed $conf on the session: observed ${seen.asScala.toSet}")
    assert(spark.conf.get(conf) == before)
    dropTable("t_compact_conf")
  }

  test("snapshot publish: a reader resolved before a rewrite keeps its version; crash-safe swap") {
    dropTable("t_snap_sigs")
    val docs = Tables(spark, TestSpark.sf0001).documents
    Store.refreshMinhashSignatures(spark, docs.filter($"doc_id" < 200),
      buckets = 4, table = "t_snap_sigs")
    Store.refreshMinhashSignatures(spark, docs, buckets = 4, table = "t_snap_sigs")
    // the public name is a view over a versioned backing table
    assert(spark.catalog.getTable("t_snap_sigs").tableType == "VIEW")
    assert(spark.catalog.tableExists("t_snap_sigs__v1"))
    val expected = spark.table("t_snap_sigs").count()
    // a reader that resolves the view NOW (old version files on disk)…
    val inFlight = spark.table("t_snap_sigs")
    inFlight.head() // force resolution against the current version
    // …survives one full rewrite: compact publishes v2 and repoints the
    // view, but v1's files are retained for in-flight readers
    Store.compact(spark, "t_snap_sigs", key = "doc_id", buckets = 4)
    assert(inFlight.count() == expected, "reader straddling one rewrite must still scan cleanly")
    assert(spark.table("t_snap_sigs").count() == expected)
    assert(spark.catalog.tableExists("t_snap_sigs__v1"), "previous version is retained")
    // a second rewrite retires v1 (readers must not straddle TWO rewrites)
    Store.compact(spark, "t_snap_sigs", key = "doc_id", buckets = 4)
    assert(!spark.catalog.tableExists("t_snap_sigs__v1"), "v1 retired after second publish")
    assert(spark.catalog.tableExists("t_snap_sigs__v2") && spark.catalog.tableExists("t_snap_sigs__v3"))
    assert(spark.table("t_snap_sigs").count() == expected)
    dropTable("t_snap_sigs")
  }

  test("snapshot publish: a reader resolving the name during view swaps always finds it") {
    dropTable("t_swap")
    val rows = spark.range(100).select($"id".as("doc_id"), ($"id" % 7).as("v"))
    Store.publish(spark, rows, "t_swap", buckets = 2, key = "doc_id")
    // a concurrent reader on the same session, looking the public name
    // up in a tight loop while the writer re-points it at fresh versions
    val name = org.apache.spark.sql.catalyst.TableIdentifier("t_swap")
    val (lookups, misses) = (new java.util.concurrent.atomic.AtomicLong,
      new java.util.concurrent.atomic.AtomicLong)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!done.get()) {
        if (!spark.sessionState.catalog.tableExists(name)) misses.incrementAndGet()
        lookups.incrementAndGet()
      })
    reader.start()
    try (1 to 10).foreach(_ => Store.publish(spark, rows, "t_swap", buckets = 2, key = "doc_id"))
    finally { done.set(true); reader.join() }
    assert(lookups.get() > 0)
    assert(misses.get() == 0, s"the name was missing in ${misses.get()} of ${lookups.get()} lookups")
    assert(spark.table("t_swap").count() == 100)
    dropTable("t_swap")
  }

  test("publishAnnRefit: versioned swap cuts serving to the live-only index; previous retained") {
    dropTable("t_ann_idx")
    Store.saveAnnIndex(spark, TestSpark.sf0001, buckets = 4, table = "t_ann_idx")
    val full = Catalog.ivfIndex(spark, TestSpark.sf0001)._2
    assert(spark.table("t_ann_idx").count() == full.count())
    // the refit swap: same public name, live-only rebuilt index behind it
    Store.publishAnnRefit(spark, TestSpark.sf0001, buckets = 4, table = "t_ann_idx")
    val live = Catalog.ivfIndexLive(spark, TestSpark.sf0001)._2
    val now = spark.table("t_ann_idx")
    assert(now.count() == live.count() && live.count() < full.count())
    // no tombstone survives the swap: re-join to the STALE assignment
    val staleOf = full.select($"vec_id", $"cluster".as("stale_cluster"))
    assert(now.join(staleOf, "vec_id")
      .filter($"stale_cluster" % graft.ops.Similarity.TakedownMod === 1).count() == 0)
    // the previous (stale) version is retained for in-flight readers
    val vs = Store.versions(spark, "t_ann_idx")
    assert(vs.map(_._1) == Seq(1L, 2L) && vs.find(_._3).exists(_._1 == 2L))
    dropTable("t_ann_idx")
  }

  test("vacuum: retains the straddle window by default, reclaims it on request, clears orphans") {
    dropTable("t_vac_sigs")
    val docs = Tables(spark, TestSpark.sf0001).documents
    Store.refreshMinhashSignatures(spark, docs, buckets = 4, table = "t_vac_sigs")
    Store.compact(spark, "t_vac_sigs", key = "doc_id", buckets = 4) // v1 + v2
    val expected = spark.table("t_vac_sigs").count()
    assert(Store.versions(spark, "t_vac_sigs").map(v => (v._1, v._3)) == Seq((1L, false), (2L, true)))
    // default window keeps current + previous: nothing to reclaim
    assert(Store.vacuum(spark, "t_vac_sigs") == Seq.empty)
    assert(spark.catalog.tableExists("t_vac_sigs__v1"))
    // a reader resolved against the current version survives a vacuum
    val inFlight = spark.table("t_vac_sigs")
    inFlight.head()
    // explicit keepVersions=1 reclaims the previous version's files now
    assert(Store.vacuum(spark, "t_vac_sigs", keepVersions = 1) == Seq("t_vac_sigs__v1"))
    assert(!spark.catalog.tableExists("t_vac_sigs__v1"))
    assert(inFlight.count() == expected, "reader of the CURRENT version is untouched")
    assert(spark.table("t_vac_sigs").count() == expected)
    // crash debris (orphan newer than the view target) is reclaimed too
    spark.table("t_vac_sigs").limit(1).write.mode("overwrite")
      .bucketBy(4, "doc_id").sortBy("doc_id").saveAsTable("t_vac_sigs__v9")
    assert(Store.vacuum(spark, "t_vac_sigs") == Seq("t_vac_sigs__v9"))
    assert(spark.table("t_vac_sigs").count() == expected)
    // vacuum never drops the current version
    intercept[IllegalArgumentException](Store.vacuum(spark, "t_vac_sigs", keepVersions = 0))
    dropTable("t_vac_sigs")
  }

  test("orphan backing table (crash between write and view swap) is ignored by refresh and cleared by publish") {
    import graft.ops.Dedup
    dropTable("t_orphan_sigs")
    val docs = Tables(spark, TestSpark.sf0001).documents
    Store.refreshMinhashSignatures(spark, docs.filter($"doc_id" < 200),
      buckets = 4, table = "t_orphan_sigs")
    // simulate a publish that crashed AFTER writing the new backing table
    // but BEFORE the view swap: a v9 orphan newer than the view's target
    spark.table("t_orphan_sigs").limit(1).write.mode("overwrite")
      .bucketBy(4, "doc_id").sortBy("doc_id").saveAsTable("t_orphan_sigs__v9")
    // the incremental refresh must append to the VIEW's target (v1), not
    // the orphan — readers of the view see the delta
    Store.refreshMinhashSignatures(spark, docs, buckets = 4, table = "t_orphan_sigs")
    val expected = Dedup.minhashSignatures(docs).count()
    assert(spark.table("t_orphan_sigs").count() == expected,
      "refresh delta must land in the version the view reads")
    // the next publish clears the orphan instead of building on it, and
    // the view still serves the full contents afterwards
    Store.compact(spark, "t_orphan_sigs", key = "doc_id", buckets = 4)
    assert(!spark.catalog.tableExists("t_orphan_sigs__v9"), "orphan dropped at publish")
    assert(spark.table("t_orphan_sigs").count() == expected)
    dropTable("t_orphan_sigs")
  }

  test("MRL prefix tier: stored-prefix serve equals the single-table serve bit-for-bit; stage 1 reads only the prefix column; stored bytes ~ shortDim/D of the vectors") {
    import graft.ops.Similarity
    dropTable("t_mrl_prefix")
    val emb = Tables(spark, TestSpark.sf0001).embeddings
    Store.saveMrlPrefix(spark, TestSpark.sf0001, buckets = 4, table = "t_mrl_prefix")
    val prefixed = Store.mrlPrefix(spark, TestSpark.sf0001, table = "t_mrl_prefix")
    // the read really is the stored table
    assert(prefixed.queryExecution.analyzed.toString.contains("t_mrl_prefix"))
    // bit-identical serve off either shape (the stored slice carries
    // exactly the floats the scan-side slice computes): the stored tier
    // against the s_ann_mrl key's in-plan prefix of the one table
    val fromStore = Similarity.annMrlServeFromPrefix(prefixed, emb)
      .collect().map(_.toString).sorted.toSeq
    val single = SparkEntry.queries("s_ann_mrl")(spark, TestSpark.sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(fromStore == single, "stored-prefix serve must equal the single-table serve")
    // and off the in-session fallback projection too
    dropTable("t_mrl_prefix_none")
    val fallback = Similarity.annMrlServeFromPrefix(
      Store.mrlPrefix(spark, TestSpark.sf0001, table = "t_mrl_prefix_none"), emb)
      .collect().map(_.toString).sorted.toSeq
    assert(fallback == single)
    // IO: the stage-1 scan of the stored tier reads ONLY (vec_id,
    // prefix) — no full-vector bytes in the shortlist pass
    val stage1 = prefixed.filter($"vec_id" =!= 0L)
      .select($"vec_id", $"prefix")
    val scanLine = stage1.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("prefix") && !scanLine.contains("embedding"),
      s"stage-1 scan must not read full vectors: $scanLine")
    // measured bytes: the prefix tier is a fraction of the full-vector
    // table in the same format/bucketing (shortDim/D = 16/64 of vector
    // payload + key/label overhead) — assert the saving is real
    dropTable("t_mrl_full")
    emb.write.mode("overwrite").bucketBy(4, "vec_id").sortBy("vec_id")
      .saveAsTable("t_mrl_full")
    val fullLoc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("t_mrl_full")).location
    val fullBytes = new java.io.File(fullLoc).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val prefixBacking = Store.versions(spark, "t_mrl_prefix")
      .find(_._3).map(_._2).get
    val prefLoc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(prefixBacking)).location
    val prefBytes = new java.io.File(prefLoc).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    assert(prefBytes > 0 && fullBytes > 0)
    assert(prefBytes.toDouble / fullBytes < 0.55,
      s"prefix tier must cut stored bytes (got $prefBytes / $fullBytes)")
    dropTable("t_mrl_prefix"); dropTable("t_mrl_full")
  }

  test("semantic survivors off the store: vetting equals the in-session path") {
    import graft.core.{Catalog, Store}
    import graft.ops.Dedup
    dropTable("t_sem_surv")
    val dir = TestSpark.sf0001
    Store.saveSemanticSurvivors(spark, dir, buckets = 4, table = "t_sem_surv")
    val stored = spark.table("t_sem_surv")
    val session = Catalog.semanticSurvivors(spark, dir)
    assert(stored.collect().map(_.getAs[Long]("vec_id")).toSet ==
      session.collect().map(_.getAs[Long]("vec_id")).toSet)
    // vet a replica batch (survivor embeddings under fresh ids) against
    // the DURABLE table: every replica must be rejected against exactly
    // its own survivor, same as the in-session path
    val (cents, _) = Catalog.ivfIndex(spark, dir)
    val batch = stored.select(($"vec_id" + 100000L).as("vec_id"), $"label", $"embedding")
    def vetted(surv: org.apache.spark.sql.DataFrame) =
      Dedup.crossSemanticDedup(surv, batch, cents, tau = 0.99)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_of")).toMap
    val offStore = vetted(stored)
    assert(offStore == vetted(session.drop("cluster")))
    stored.collect().foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(offStore.get(id + 100000L).contains(id))
    }
    dropTable("t_sem_surv")
  }

  test("crossDedupFromSignatures off the store equals recompute; stored side is exchange-free") {
    import graft.ops.Dedup
    dropTable("t_xd_sigs"); dropTable("t_xd_fps")
    val docs = Tables(spark, TestSpark.sf0001).documents
    val corpus = docs.filter($"source" =!= "src0")
    val batch = docs.filter($"source" === "src0")
    Store.refreshMinhashSignatures(spark, corpus, buckets = 4, table = "t_xd_sigs")
    Store.refreshDocFingerprints(spark, corpus, buckets = 4, table = "t_xd_fps")
    val fromStore = Dedup.crossDedupFromSignatures(corpus,
      spark.table("t_xd_fps"), spark.table("t_xd_sigs"), batch)
    val recompute = Dedup.crossDedupFromSignatures(corpus, Dedup.docFingerprints(corpus),
      Dedup.minhashSignatures(corpus), batch)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[String]("kind"))
    assert(fromStore.collect().map(key).toSet == recompute.collect().map(key).toSet)
    // the stored corpus side must never shuffle: the batch side is
    // broadcast into both the fingerprint join and the band-bucket join,
    // so every Exchange in the plan carries batch-derived rows only.
    fromStore.collect()
    val planned = fromStore.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(planned.contains("Bucketed: true"),
      s"stored tables should be read as bucketed scans:\n$planned")
    assert(!planned.contains("SortMergeJoin"),
      s"stored side must stay broadcast-joined, never shuffled into an SMJ:\n$planned")
    dropTable("t_xd_sigs"); dropTable("t_xd_fps")
  }
}
