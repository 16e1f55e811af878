package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl.VehicleFeed
import graft.streaming.VehicleStream

/** SURVEY §2.4: streaming ingest, watermark+window agg, stateful upsert.
  * Driven with a real parquet file stream + memory sinks; results are
  * cross-checked against the batch path over the same data. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Fresh stream-source dir seeded with the sf0.001 events file. */
  private def mkSourceDir(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft-stream-$tag")
    Files.copy(Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("batch0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private lazy val batchVehicles =
    VehicleFeed.fromEvents(graft.core.Tables(spark, TestSpark.sf0001).events)

  // the batch d_mix_report and t_corpus_drift cards over in-hand frames
  private def batchMixReport(docs: org.apache.spark.sql.DataFrame,
                             rates: Map[String, Double]) = {
    import graft.ops.Sampling.{MixDefault, mixReportFromCards, mixturePartials}
    mixReportFromCards(mixturePartials(docs, rates, MixDefault), rates, MixDefault)
  }
  private def batchDrift(prev: org.apache.spark.sql.DataFrame,
                         cur: org.apache.spark.sql.DataFrame) = {
    import graft.ops.TextAnalysis.{corpusDriftFromCards, sourceCard}
    corpusDriftFromCards(sourceCard(prev), sourceCard(cur))
  }

  test("ingest: streaming derivation matches the batch derivation") {
    val stream = VehicleStream.ingest(spark, mkSourceDir("ingest"))
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("ingested")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("ingested")
    assert(got.count() == batchVehicles.count())
    // spot-check full-row equality via anti-joins in both directions
    assert(got.exceptAll(batchVehicles).count() == 0)
    assert(batchVehicles.exceptAll(got).count() == 0)
  }

  test("windowed agg: watermarked hourly counts cover every event once") {
    val stream = VehicleStream.ingest(spark, mkSourceDir("windows"))
    val q = VehicleStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("wins")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val wins = spark.table("wins")
    assert(wins.agg(sum("n")).collect()(0).getLong(0) == batchVehicles.count())
    // window bounds are aligned, 1 hour wide
    assert(wins.filter(minute($"window_start") =!= 0).count() == 0)
    assert(wins.filter($"window_end" =!= $"window_start" + expr("INTERVAL 1 HOUR")).count() == 0)
  }

  test("stateful upsert: latest-per-key matches the batch argmax upsert") {
    val dir = mkSourceDir("upsert")
    val stream = VehicleStream.ingest(spark, dir)
    val q = VehicleStream.latestPerKey(stream)
      .writeStream.format("memory").queryName("latest")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("latest")
    val expected = VehicleFeed.latest(batchVehicles)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).count() == 0)
  }

  test("windowed agg append mode: watermark passage finalizes and emits closed windows") {
    val dir = mkSourceDir("append")
    val q = VehicleStream.windowedCounts(VehicleStream.ingest(spark, dir))
      .writeStream.format("memory").queryName("append_wins")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2 re-delivers the same events: max event time is unchanged, so
      // the watermark (max − 2h) finalizes every window older than that
      Files.copy(Paths.get(TestSpark.sf0001, "events.parquet"),
        Paths.get(dir, "batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val emitted = spark.table("append_wins")
      assert(emitted.count() > 0, "no windows were finalized by the watermark")
      // append emits only CLOSED windows: all strictly below max(event time) − 2h
      val maxTs = batchVehicles.agg(max($"updated_at")).collect()(0).getTimestamp(0)
      val lateBound = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
      assert(emitted.filter($"window_end" > lateBound).count() == 0)
    } finally q.stop()
  }

  test("streaming dedup: repeated observations are dropped within the watermark") {
    val dir = mkSourceDir("dedup")
    val q = VehicleStream.dedupedIngest(VehicleStream.ingest(spark, dir))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("dedup").count()
      assert(after1 == batchVehicles.count())
      // the same file arrives again: every obs_id is a duplicate → no new rows
      Files.copy(Paths.get(TestSpark.sf0001, "events.parquet"),
        Paths.get(dir, "batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.table("dedup").count() == after1)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch interval join") {
    val dir = mkSourceDir("ssj")
    val q = VehicleStream.purchaseClickJoin(VehicleStream.eventStream(spark, dir))
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("ssj")
    val e = graft.core.Tables(spark, TestSpark.sf0001).events
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"), $"event_id".as("click_event_id"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("purchase_ts"), $"event_id".as("purchase_event_id"))
    val batch = purchases.join(clicks,
      $"c_user" === $"p_user" &&
        $"click_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR") &&
        $"click_ts" <= $"purchase_ts")
    assert(got.count() == batch.count())
    assert(got.count() > 0)
  }

  test("stateful upsert with TTL: idle keys are retired by the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
    def v(id: String, minutes: Int, obs: Long) =
      graft.streaming.Vehicle(id, id, 0, 0, 9.0, 0, "IN_TRANSIT_TO", "UNKNOWN", 0,
        new java.sql.Timestamp(base + minutes * 60000L), obs)
    val source = MemoryStream[graft.streaming.Vehicle]
    // ttl 1 h, watermark delay 30 min — all in event time
    val out = VehicleStream.latestPerKeyWithTtl(source.toDF(), ttlMs = 3600 * 1000L,
      watermarkDelay = "30 minutes")
    val q = out.writeStream.format("memory").queryName("ttl_upsert")
      .outputMode("update").start()
    try {
      source.addData(v("A", 0, 1), v("B", 0, 2))   // batch 1: A,B live
      q.processAllAvailable()
      source.addData(v("C", 150, 3))               // batch 2: watermark → +120 min
      q.processAllAvailable()
      source.addData(v("D", 151, 4))               // batch 3: A,B timeouts (+60) < wm → retire
      q.processAllAvailable()
      val rows = spark.table("ttl_upsert").groupBy("id").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // retired keys were flushed a second time; live keys emitted once
      assert(rows("A") == 2 && rows("B") == 2, s"expected retirement flush, got $rows")
      assert(rows("C") == 1 && rows("D") == 1, s"unexpected re-emission: $rows")
      // retirement removed state: a later batch can't flush A/B again,
      // and it advances the watermark past C's and D's TTLs in turn
      source.addData(v("E", 600, 5))
      q.processAllAvailable()
      val after = spark.table("ttl_upsert").groupBy("id").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after("A") == 2 && after("B") == 2, s"state lingered after eviction: $after")
      assert(after("C") == 2 && after("D") == 2, s"C/D should retire under E's watermark: $after")
      // and the state store really shrank to the one live key
      val stateRows = q.recentProgress.reverse.flatMap(p => p.stateOperators.headOption)
        .headOption.map(_.numRowsTotal)
      assert(stateRows.contains(1L), s"expected only E live in state, got $stateRows")
    } finally q.stop()
  }

  test("stateful upsert runs on the RocksDB state store with identical results") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = VehicleStream.ingest(spark, mkSourceDir("rocksdb"))
      val q = VehicleStream.latestPerKey(stream)
        .writeStream.format("memory").queryName("rocks_latest")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val got = spark.table("rocks_latest")
      val expected = VehicleFeed.latest(batchVehicles)
      assert(got.count() == expected.count())
      assert(got.exceptAll(expected).count() == 0)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("durable gates run under the RocksDB provider with results identical to the batch operators") {
    // The gates keep their durable state in Store tables, not the Spark
    // state store, so the provider MUST be behaviorally inert for them —
    // this proves it by running the real streaming queries (foreachBatch
    // machinery, checkpoints and all) in a RocksDB-provider session and
    // comparing against the batch operators. The throughput side is the
    // SPARK_GRAFT_STATE_STORE=rocksdb StreamBench pass (SCALING.md).
    import graft.streaming.{IngestGate, SpanStream}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tables = Seq("t_rx_corpus", "t_rx_fps", "t_rx_sigs", "t_rx_log",
      "t_rx_span_reg", "t_rx_span_out")
    dropGateTables(tables: _*)
    try {
      val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
      val corpus = docs.filter($"source" =!= "src0")
      val batch = docs.filter($"source" === "src0")
      IngestGate.seedCorpus(spark, corpus, "t_rx_corpus", "t_rx_fps", "t_rx_sigs", buckets = 4)
      val gateDir = Files.createTempDirectory("graft-rxgate").toString
      batch.coalesce(1).write.mode("overwrite").parquet(gateDir)
      val gq = IngestGate.start(IngestGate.documentStream(spark, gateDir),
        "t_rx_corpus", "t_rx_fps", "t_rx_sigs", "t_rx_log",
        Files.createTempDirectory("graft-rxgate-ckpt").toString, buckets = 4)
      try gq.processAllAvailable() finally gq.stop()
      val streamedLog = fresh("t_rx_log").distinct().collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[String]("kind"))).toSet
      val batchLog = graft.ops.Dedup.crossDedupFromSignatures(corpus,
          graft.ops.Dedup.docFingerprints(corpus), graft.ops.Dedup.minhashSignatures(corpus), batch)
        .collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[String]("kind"))).toSet
      assert(streamedLog == batchLog, "RocksDB-session ingest gate must equal the batch operator")

      val spanDir = Files.createTempDirectory("graft-rxspan").toString
      val mid = 250L
      val sq = SpanStream.start(IngestGate.documentStream(spark, spanDir),
        "t_rx_span_reg", "t_rx_span_out",
        Files.createTempDirectory("graft-rxspan-ckpt").toString, buckets = 4)
      try {
        docs.filter($"doc_id" < mid).coalesce(1).write.mode("append").parquet(spanDir)
        sq.processAllAvailable()
        docs.filter($"doc_id" >= mid).coalesce(1).write.mode("append").parquet(spanDir)
        sq.processAllAvailable()
      } finally sq.stop()
      val streamedSpans = fresh("t_rx_span_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
          r.getAs[Int]("n_kept"), r.getAs[Int]("n_dropped"))).toSet
      val batchSpans = graft.ops.Dedup.spanDedup(docs).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
          r.getAs[Int]("n_kept"), r.getAs[Int]("n_dropped"))).toSet
      assert(streamedSpans == batchSpans, "RocksDB-session span gate must equal the batch operator")
    } finally {
      dropGateTables(tables: _*)
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming ANN index refresh: incremental signatures equal the batch index and serve identically") {
    import graft.ops.Similarity
    import graft.streaming.AnnStream
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val streamDir = Files.createTempDirectory("graft-ann-stream")
    def arrive(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ann-half").toString
      embs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, streamDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val q = Similarity.withSignatures(AnnStream.embeddingStream(spark, streamDir.toString))
      .writeStream.format("memory").queryName("ann_sigs")
      .outputMode("append").start()
    try {
      arrive($"vec_id" % 2 === 0, "b0.parquet")
      q.processAllAvailable()
      val afterHalf = spark.table("ann_sigs").count()
      assert(afterHalf > 0 && afterHalf < embs.count(), "index should be partial after batch 1")
      arrive($"vec_id" % 2 === 1, "b1.parquet")
      q.processAllAvailable()
      // refresh is append-only: the full streamed index equals the batch index
      val streamed = spark.table("ann_sigs")
      val batch = Similarity.withSignatures(embs)
      assert(streamed.count() == embs.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
      // and serving off the streamed index gives the exact in-plan answer
      val served = Similarity.annLshFromSignatures(spark.table("ann_sigs"))
        .collect().map(_.toString).toSeq
      val direct = Similarity.annLshFromSignatures(Similarity.withSignatures(embs))
        .collect().map(_.toString).toSeq
      assert(served == direct)
    } finally q.stop()
  }

  test("drift-triggered refit: identical arrivals stay quiet; a planted drifted batch flips refit_recommended") {
    import graft.streaming.AnnStream
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val snap = AnnStream.fitSnapshot(embs).cache()
    // arrivals from the fit distribution itself: per-label cosine 1.0,
    // nothing recommended
    val quiet = AnnStream.refitSignal(embs, snap).collect()
    assert(quiet.nonEmpty)
    quiet.foreach { r =>
      assert(r.getAs[Double]("drift_cos") == 1.0 && !r.getAs[Boolean]("refit_recommended"),
        s"fit-distribution arrivals must not trigger: $r")
    }
    // planted drift: label 0's vectors negated → cosine −1 for that
    // label only
    val drifted = embs.withColumn("embedding",
      when($"label" === 0, expr("transform(embedding, x -> -x)"))
        .otherwise($"embedding"))
    val flags = AnnStream.refitSignal(drifted, snap).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Boolean]("refit_recommended")).toMap
    assert(flags(0), "the drifted label must recommend a refit")
    assert(flags.collect { case (l, f) if l != 0 => f }.forall(!_),
      "undrifted labels must stay quiet")
    // a label the fit never saw is flagged unconditionally
    val novel = AnnStream.refitSignal(embs.withColumn("label", lit(999)), snap).collect()
    assert(novel.forall(r => r.getAs[Boolean]("refit_recommended") &&
      r.getAs[Long]("n_fit") == 0L))
    // real stream wiring: per-batch signal via foreachBatch — batch 1
    // (fit distribution) quiet, batch 2 (planted drift) flips
    val streamDir = Files.createTempDirectory("graft-ann-drift")
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ann-drift-b").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, streamDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val q = AnnStream.embeddingStream(spark, streamDir.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val any = AnnStream.refitSignal(b, snap).collect()
          .exists(_.getAs[Boolean]("refit_recommended"))
        perBatch.synchronized { perBatch += ((id, any)) }
        ()
      }.start()
    try {
      arrive(embs, "b0.parquet")
      q.processAllAvailable()
      arrive(drifted.filter($"label" === 0), "b1.parquet")
      q.processAllAvailable()
      val byId = perBatch.toMap
      assert(byId.get(0L).contains(false), s"batch 1 must stay quiet: $perBatch")
      assert(byId.get(1L).contains(true), s"the drifted batch must recommend: $perBatch")
    } finally { q.stop(); snap.unpersist() }
  }

  test("mixture maintainer: a pre-token (legacy) partials table upgrades in place; audit keeps serving, re-plan refuses NULL capacity") {
    import graft.ops.Sampling
    import graft.streaming.MixStream
    dropGateTables("t_mix_legacy")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val rates = Sampling.MixRates
    // a durable table written by the r12 maintainer: no n_tokens column
    Sampling.mixturePartials(docs.filter(pmod($"doc_id", lit(2)) === 0), rates, Sampling.MixDefault)
      .withColumn("batch_id", lit(0L))
      .write.saveAsTable("t_mix_legacy")
    // the r13 maintainer ingests a new batch: schema evolves in place,
    // the append succeeds mid-stream instead of throwing
    MixStream.ingestBatch(docs.filter(pmod($"doc_id", lit(2)) === 1), 1L,
      "t_mix_legacy", rates, Sampling.MixDefault)
    assert(spark.table("t_mix_legacy").columns.contains("n_tokens"))
    // the audit serves the full corpus exactly (it never reads tokens)
    val served = MixStream.report(spark, "t_mix_legacy", rates, Sampling.MixDefault)
      .collect().map(_.toString).sorted.toSeq
    assert(served == batchMixReport(docs, rates)
      .collect().map(_.toString).sorted.toSeq)
    // the re-plan refuses to serve over NULL legacy capacity — loud,
    // never silently under-allocated
    val e = intercept[IllegalArgumentException] {
      MixStream.waterfillPlan(spark, "t_mix_legacy").collect()
    }
    assert(e.getMessage.contains("legacy"))
    dropGateTables("t_mix_legacy")
  }

  test("volume-triggered refit: light deletes stay quiet; a planted heavy-delete batch flips the gutted list only; replay idempotent") {
    import graft.streaming.AnnStream
    val table = "t_ann_del_counters"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val (_, assigned) = graft.core.Catalog.ivfIndex(spark, TestSpark.sf0001)
    val snap = AnnStream.listSizeSnapshot(assigned).cache()
    try {
      // batch 0: a light scatter of deletes — one vector from each of
      // three lists; every list stays far above the 0.5 live floor
      val light = assigned.filter($"cluster".isin(0, 1, 2))
        .groupBy($"cluster").agg(min($"vec_id").as("vec_id")).select($"vec_id")
      AnnStream.deleteBatch(light, assigned, 0L, table)
      val quiet = AnnStream.volumeSignal(snap,
        AnnStream.mergedDeleteCounts(spark, table)).collect()
      assert(quiet.forall(!_.getAs[Boolean]("refit_recommended")),
        "light deletes must not recommend a refit")
      assert(quiet.forall(r => r.getAs[Double]("live_frac") <= 1.0 &&
        r.getAs[Double]("live_frac") > 0.9))
      // batch 1: a takedown guts list 5 — delete 90% of its members
      val members = assigned.filter($"cluster" === 5)
        .select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))
      val gutted = members.take(math.max(1, (members.length * 9) / 10))
      AnnStream.deleteBatch(
        spark.createDataset(gutted.toSeq).toDF("vec_id"), assigned, 1L, table)
      val flags = AnnStream.volumeSignal(snap,
          AnnStream.mergedDeleteCounts(spark, table)).collect()
        .map(r => r.getAs[Int]("cluster") -> r).toMap
      assert(flags(5).getAs[Boolean]("refit_recommended"),
        s"the gutted list must recommend: ${flags(5)}")
      // exact-integer live_frac: half-away quotient of (n_fit − deleted)
      val nFit = flags(5).getAs[Long]("n_fit")
      val nDel = flags(5).getAs[Long]("n_deleted")
      assert(nDel == gutted.length.toLong)
      assert(flags(5).getAs[Double]("live_frac") ==
        ((20000L * (nFit - nDel) + nFit) / (2L * nFit)).toDouble / 10000.0)
      assert(flags.collect { case (c, r) if c != 5 =>
        r.getAs[Boolean]("refit_recommended") }.forall(!_),
        "no other list may flip")
      // crash replay: the same batch_id re-delivered is skipped
      AnnStream.deleteBatch(
        spark.createDataset(gutted.toSeq).toDF("vec_id"), assigned, 1L, table)
      val replayed = AnnStream.volumeSignal(snap,
          AnnStream.mergedDeleteCounts(spark, table)).collect()
        .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n_deleted")).toMap
      assert(replayed(5) == nDel, "replay must not double-count deletes")
      // a double-deleted vec_id within a NEW batch is deduped batch-side,
      // and the clamp keeps live_frac non-negative even if a list empties
      AnnStream.deleteBatch(
        spark.createDataset((members ++ members).toSeq).toDF("vec_id"),
        assigned, 2L, table)
      val emptied = AnnStream.volumeSignal(snap,
          AnnStream.mergedDeleteCounts(spark, table)).collect()
        .map(r => r.getAs[Int]("cluster") -> r).toMap
      assert(emptied(5).getAs[Double]("live_frac") == 0.0 &&
        emptied(5).getAs[Boolean]("refit_recommended"))
    } finally {
      snap.unpersist(); spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("maintenance loop end-to-end: deletes -> volume signal -> live rebuild -> versioned swap -> clean serving table") {
    import graft.streaming.AnnStream
    import graft.core.{Catalog, Store}
    import graft.ops.Similarity
    val counters = "t_loop_counters"
    val serving = "t_loop_ann_index"
    spark.sql(s"DROP TABLE IF EXISTS $counters")
    Store.drop(spark, serving)
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val (_, assigned) = Catalog.ivfIndex(spark, TestSpark.sf0001)
    val fitSnap = AnnStream.fitSnapshot(embs).cache()
    val listSnap = AnnStream.listSizeSnapshot(assigned).cache()
    try {
      // the stale index is the published serving table
      Store.saveAnnIndex(spark, TestSpark.sf0001, buckets = 4, table = serving)
      // quiet world: fit-distribution arrivals, a light delete scatter
      AnnStream.deleteBatch(
        assigned.filter($"cluster" === 0).limit(1).select($"vec_id"),
        assigned, 0L, counters)
      assert(!AnnStream.refitRecommended(spark, embs, fitSnap, listSnap, counters),
        "neither arm may fire on a quiet world")
      // the takedown lands as delete batches: every vector of the
      // purged lists (the s_ann_refit regime)
      AnnStream.deleteBatch(
        assigned.filter(!Similarity.takedownLive).select($"vec_id"),
        assigned, 1L, counters)
      assert(AnnStream.refitRecommended(spark, embs, fitSnap, listSnap, counters),
        "the volume arm must fire after the takedown (drift alone stays quiet)")
      // the recommended out-of-band rebuild + versioned swap
      Store.publishAnnRefit(spark, TestSpark.sf0001, buckets = 4, table = serving)
      // the serving name now reads the live-only index...
      val served = spark.table(serving)
      assert(served.count() == Catalog.ivfIndexLive(spark, TestSpark.sf0001)._2.count())
      val staleOf = assigned.select($"vec_id", $"cluster".as("stale_cluster"))
      assert(served.join(staleOf, "vec_id")
        .filter($"stale_cluster" % Similarity.TakedownMod === 1).count() == 0,
        "no purged vector may survive the swap")
      // ...the STALE card flags the purged lists the loop remediated
      // (the health predicates are defined on stale list ids — out of
      // contract for the rebuilt index), and a fresh volume watch over
      // the rebuilt index starts clean: its list sizes carry no delete
      // debt until a post-swap counter table accrues one
      assert(Similarity.indexHealthReport(assigned)
        .filter($"refit_recommended" === 1L).count() > 0)
      val freshSnap = AnnStream.listSizeSnapshot(served)
      assert(freshSnap.filter($"n_fit" === 0).count() == 0 &&
        freshSnap.count() > 0, "the rebuilt index has no empty lists")
    } finally {
      fitSnap.unpersist(); listSnap.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS $counters")
      Store.drop(spark, serving)
    }
  }

  test("streaming funnel metrics: per-window ingested/unique/moving counts are exact") {
    val dir = Files.createTempDirectory("graft-stream-funnel").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime
    def ns(offsetMin: Int): Long = (t0 + offsetMin * 60000L) * 1000000L
    // 5 observations inside the 10:00 window: a duplicated click (same
    // event_id), a purchase, a view (speed → 0), a click — so the funnel
    // must report ingested=5, unique=4, moving=3 for that window
    val batch0 = Seq(
      (1L, ns(5), 1L, "click", 10.0, "{}"),
      (1L, ns(5), 1L, "click", 10.0, "{}"), // exact duplicate observation
      (2L, ns(15), 1L, "purchase", 5.0, "{}"),
      (3L, ns(25), 2L, "view", 7.0, "{}"),  // view ⇒ speed 0 ⇒ not moving
      (4L, ns(35), 3L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batch0.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = VehicleStream.funnelMetrics(VehicleStream.ingest(spark, dir))
      .writeStream.format("memory").queryName("funnel_metrics")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a sentinel 10 h later pushes the watermark past the 10:00 window
      Seq((99L, ns(600), 9L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val closed = spark.table("funnel_metrics")
        .filter($"window_start" === new java.sql.Timestamp(t0))
        .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n")).toMap
      assert(closed == Map("ingested" -> 5L, "unique" -> 4L, "moving" -> 3L), closed)
    } finally q.stop()
  }

  test("stateful upsert: state persists across micro-batches (incremental)") {
    val dir = mkSourceDir("incr")
    // one continuous query; files arriving later become new micro-batches
    val q = VehicleStream.latestPerKey(VehicleStream.ingest(spark, dir))
      .writeStream.format("memory").queryName("incr")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("incr").count()
      // a second file arrives (same content ⇒ same winners re-emitted from
      // retained state, one update row per key)
      Files.copy(Paths.get(TestSpark.sf0001, "events.parquet"),
        Paths.get(dir, "batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val table = spark.table("incr")
      assert(table.count() > after1)
      assert(table.select("id").distinct().count() ==
        VehicleFeed.latest(batchVehicles).count())
    } finally q.stop()
  }

  test("streaming IVF-PQ encode: streamed code table equals the batch index and serves identically") {
    import graft.ops.Similarity
    import graft.streaming.AnnStream
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val (cents, books, batchCodes) = graft.core.Catalog.ivfPqIndex(spark, TestSpark.sf0001)
    val streamDir = Files.createTempDirectory("graft-ivfpq-stream")
    def arrive(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ivfpq-half").toString
      embs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, streamDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val q = Similarity.ivfPqCodes(
        AnnStream.embeddingStream(spark, streamDir.toString), cents, books)
      .writeStream.format("memory").queryName("ivfpq_codes")
      .outputMode("append").start()
    try {
      arrive($"vec_id" % 2 === 0, "b0.parquet")
      arrive($"vec_id" % 2 === 1, "b1.parquet")
      q.processAllAvailable()
      val streamed = spark.table("ivfpq_codes")
      assert(streamed.count() == embs.count())
      assert(streamed.exceptAll(batchCodes).count() == 0)
      assert(batchCodes.exceptAll(streamed).count() == 0)
      // serving off the streamed code table gives the exact batch answer
      val served = Similarity.annIvfPqFromIndex(cents, books, spark.table("ivfpq_codes"), embs)
        .collect().map(_.toString).toSeq
      val direct = Similarity.annIvfPqFromIndex(cents, books, batchCodes, embs)
        .collect().map(_.toString).toSeq
      assert(served == direct)
    } finally q.stop()
  }

  test("streaming MRL prefix assignment: streamed table equals the batch prefix index and serves identically") {
    import graft.ops.Similarity
    import graft.streaming.AnnStream
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val (cents, batchAssigned) = graft.core.Catalog.ivfIndexMrl(spark, TestSpark.sf0001)
    val streamDir = Files.createTempDirectory("graft-mrl-stream")
    def arrive(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-mrl-half").toString
      embs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, streamDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val q = Similarity.mrlAssign(
        AnnStream.embeddingStream(spark, streamDir.toString), cents)
      .writeStream.format("memory").queryName("mrl_assigned")
      .outputMode("append").start()
    try {
      arrive($"vec_id" % 2 === 0, "b0.parquet")
      arrive($"vec_id" % 2 === 1, "b1.parquet")
      q.processAllAvailable()
      val streamed = spark.table("mrl_assigned")
      assert(streamed.count() == embs.count())
      assert(streamed.exceptAll(batchAssigned).count() == 0)
      assert(batchAssigned.exceptAll(streamed).count() == 0)
      // serving off the streamed assignment gives the exact batch answer
      val served = Similarity.annMrlIvfFromIndex(cents, spark.table("mrl_assigned"))
        .collect().map(_.toString).toSeq
      val direct = Similarity.annMrlIvfFromIndex(cents, batchAssigned)
        .collect().map(_.toString).toSeq
      assert(served == direct)
    } finally q.stop()
  }

  test("streaming OPQ encode: streamed code table equals the batch OPQ index and serves identically") {
    import graft.ops.Similarity
    import graft.streaming.AnnStream
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val (perm, books, batchCodes) = graft.core.Catalog.opqIndex(spark, TestSpark.sf0001)
    val streamDir = Files.createTempDirectory("graft-opq-stream")
    def arrive(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-opq-half").toString
      embs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, streamDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val q = Similarity.pqCodes(Similarity.opqPermute(
        AnnStream.embeddingStream(spark, streamDir.toString), perm), books)
      .writeStream.format("memory").queryName("opq_codes")
      .outputMode("append").start()
    try {
      arrive($"vec_id" % 2 === 0, "b0.parquet")
      arrive($"vec_id" % 2 === 1, "b1.parquet")
      q.processAllAvailable()
      val streamed = spark.table("opq_codes")
      assert(streamed.count() == embs.count())
      assert(streamed.exceptAll(batchCodes).count() == 0)
      assert(batchCodes.exceptAll(streamed).count() == 0)
      // serving off the streamed code table gives the exact batch answer
      val served = Similarity.annOpqFromIndex(perm, books, spark.table("opq_codes"), embs)
        .collect().map(_.toString).toSeq
      val direct = Similarity.annOpqFromIndex(perm, books, batchCodes, embs)
        .collect().map(_.toString).toSeq
      assert(served == direct)
    } finally q.stop()
  }

  // ---- streaming cross-corpus dedup (IngestGate) ----

  private def dropGateTables(names: String*): Unit = names.foreach { n =>
    graft.core.Store.drop(spark, n)
    val wh = new java.io.File("spark-warehouse")
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName == n || f.getName.startsWith(n + "__v"))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  /** The gate writes from the stream's cloned session; this session's
    * relation cache is stale by Spark's documented semantics — refresh
    * before reading (what any cross-session consumer must do). */
  private def fresh(table: String) = {
    spark.catalog.refreshTable(table)
    spark.table(table)
  }

  test("ingest gate: one streamed micro-batch equals the batch crossDedup; tables grow by the batch only") {
    import graft.streaming.IngestGate
    val tables = Seq("t_gate_corpus", "t_gate_fps", "t_gate_sigs", "t_gate_log")
    dropGateTables(tables: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val corpus = docs.filter($"source" =!= "src0")
    val batch = docs.filter($"source" === "src0")
    IngestGate.seedCorpus(spark, corpus, "t_gate_corpus", "t_gate_fps", "t_gate_sigs", buckets = 4)
    val corpusN = corpus.count()
    assert(spark.table("t_gate_corpus").count() == corpusN)
    val streamDir = Files.createTempDirectory("graft-gate").toString
    val ckpt = Files.createTempDirectory("graft-gate-ckpt").toString
    batch.coalesce(1).write.mode("overwrite").parquet(streamDir)
    val q = IngestGate.start(IngestGate.documentStream(spark, streamDir),
      "t_gate_corpus", "t_gate_fps", "t_gate_sigs", "t_gate_log", ckpt, buckets = 4)
    try q.processAllAvailable() finally q.stop()
    // streamed decision log == the batch operator, row for row
    val streamed = fresh("t_gate_log").distinct().collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[String]("kind"))).toSet
    val batchOp = graft.ops.Dedup.crossDedupFromSignatures(corpus,
        graft.ops.Dedup.docFingerprints(corpus), graft.ops.Dedup.minhashSignatures(corpus), batch)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[String]("kind"))).toSet
    assert(streamed == batchOp)
    // corpus grew by the admitted rows only; derived tables track it exactly
    val rejectedIds = streamed.map(_._1)
    val expectedCorpus = corpusN + batch.count() - rejectedIds.size
    val corpusNow = fresh("t_gate_corpus")
    assert(corpusNow.count() == expectedCorpus)
    assert(fresh("t_gate_fps").count() == expectedCorpus)
    assert(fresh("t_gate_sigs").count() ==
      graft.ops.Dedup.minhashSignatures(corpusNow).count())
    // no rejected doc made it into the corpus
    assert(corpusNow.filter($"doc_id".isin(rejectedIds.toSeq: _*)).count() == 0)
    dropGateTables(tables: _*)
  }

  test("ingest gate: crash-replayed batch is idempotent (corpus and derived tables unchanged)") {
    import graft.streaming.IngestGate
    val tables = Seq("t_gate3_corpus", "t_gate3_fps", "t_gate3_sigs", "t_gate3_log")
    dropGateTables(tables: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val corpus = docs.filter($"source" =!= "src0")
    val batch = docs.filter($"source" === "src0")
    IngestGate.seedCorpus(spark, corpus, "t_gate3_corpus", "t_gate3_fps", "t_gate3_sigs", buckets = 4)
    IngestGate.admitBatch(batch, "t_gate3_corpus", "t_gate3_fps", "t_gate3_sigs", "t_gate3_log", buckets = 4)
    val corpusAfter = spark.table("t_gate3_corpus").count()
    val fpsAfter = spark.table("t_gate3_fps").count()
    val sigsAfter = spark.table("t_gate3_sigs").count()
    val decisionsAfter = spark.table("t_gate3_log").distinct()
      .collect().map(_.toString).sorted.toSeq
    // replay the SAME batch — what a foreachBatch attempt that crashed
    // after (some of) its writes looks like on stream restart
    IngestGate.admitBatch(batch, "t_gate3_corpus", "t_gate3_fps", "t_gate3_sigs", "t_gate3_log", buckets = 4)
    assert(spark.table("t_gate3_corpus").count() == corpusAfter, "replay must not re-append admitted rows")
    assert(spark.table("t_gate3_corpus").groupBy($"doc_id").count()
      .filter($"count" > 1).count() == 0, "no duplicate doc_ids in the corpus")
    assert(spark.table("t_gate3_fps").count() == fpsAfter)
    assert(spark.table("t_gate3_sigs").count() == sigsAfter)
    assert(spark.table("t_gate3_log").distinct()
      .collect().map(_.toString).sorted.toSeq == decisionsAfter,
      "replayed decisions are identical (log is read distinct)")
    dropGateTables(tables: _*)
  }

  /** An admit writes the decision log, then the corpus, then the
    * fingerprints, then the signatures. A crash after the first
    * `landed` of those writes leaves this batch's rows in them and in
    * none of the later ones; replaying the batch must converge on the
    * clean run's tables row for row, with no doc_id stored twice. */
  private def crashWindowReplay(landed: Int): Unit = {
    import graft.streaming.IngestGate
    val Seq(corpusT, fpT, sigT, logT) =
      Seq("corpus", "fps", "sigs", "log").map(t => s"t_gatecw${landed}_$t")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val batch = docs.filter($"source" === "src0")
    def admit(): Unit = IngestGate.admitBatch(batch, corpusT, fpT, sigT, logT, buckets = 4)
    def rows(t: String) = spark.table(t).collect().map(_.toString).sorted.toSeq
    def logRows = spark.table(logT).distinct().collect().map(_.toString).sorted.toSeq
    def stored = Seq(corpusT, fpT, sigT).map(rows) :+ logRows
    dropGateTables(corpusT, fpT, sigT, logT)
    IngestGate.seedCorpus(spark, docs.filter($"source" =!= "src0"), corpusT, fpT, sigT, buckets = 4)
    val seeded = spark.table(corpusT).count()
    admit()
    val clean = stored
    val batchIds = batch.select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(spark.table(corpusT).count() > seeded, "the batch must admit some documents")
    assert(spark.table(logT).count() > 0, "the batch must reject some documents")
    // the post-crash state: this batch's rows gone from every table the
    // crashed attempt had not yet written
    Seq(corpusT, fpT, sigT).drop(landed - 1).foreach { t =>
      graft.core.Store.publishLike(spark, spark.table(t).filter(!$"doc_id".isin(batchIds: _*)), t)
    }
    assert(stored != clean, "the crash must leave a table short of the batch")
    admit()
    assert(stored == clean, s"replay after a crash at write $landed must equal the clean run")
    Seq(corpusT, fpT, sigT).foreach { t =>
      assert(spark.table(t).groupBy($"doc_id").count().filter($"count" > 1).count() == 0,
        s"no doc_id stored twice in $t")
    }
    dropGateTables(corpusT, fpT, sigT, logT)
  }

  test("ingest gate crash window: after the decision-log append, a replay converges on the clean run") {
    crashWindowReplay(landed = 1)
  }

  test("ingest gate crash window: after the corpus append, a replay converges on the clean run") {
    crashWindowReplay(landed = 2)
  }

  test("ingest gate crash window: after the fingerprint append, a replay converges on the clean run") {
    crashWindowReplay(landed = 3)
  }

  test("ingest gate: one warm admit runs a bounded number of Spark jobs (no corpus-wide pass)") {
    import graft.streaming.IngestGate
    val tables = Seq("t_gatej_corpus", "t_gatej_fps", "t_gatej_sigs", "t_gatej_log")
    dropGateTables(tables: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    IngestGate.seedCorpus(spark, docs.filter(!$"source".isin("src0", "src1")),
      "t_gatej_corpus", "t_gatej_fps", "t_gatej_sigs")
    // the served layout: every table a versioned view, appends landing
    // on its current backing
    Seq("t_gatej_corpus", "t_gatej_fps", "t_gatej_sigs")
      .foreach(graft.core.Store.compact(spark, _, "doc_id"))
    def admit(src: String): Unit = IngestGate.admitBatch(docs.filter($"source" === src),
      "t_gatej_corpus", "t_gatej_fps", "t_gatej_sigs", "t_gatej_log")
    admit("src0") // warm-up: the decision log comes into being here
    val jobs = jobsOf(admit("src1"))
    // 17 measured with the batch-derived appends (30 when each derived
    // table re-read the whole corpus to find the batch's new rows)
    assert(jobs <= 17, s"a warm admit ran $jobs Spark jobs; more than 17 means a pass the batch does not need")
    dropGateTables(tables: _*)
  }

  test("ingest gate with eval vetting: streamed contam rejections equal batch decontaminateBloom") {
    import graft.streaming.IngestGate
    val tables = Seq("t_gate4_corpus", "t_gate4_fps", "t_gate4_sigs", "t_gate4_log")
    dropGateTables(tables: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val evalDocs = docs.filter($"source" === "src19")
    val corpus = docs.filter($"source" =!= "src0" && $"source" =!= "src19")
    val batchAll = docs.filter($"source" === "src0")
    IngestGate.seedCorpus(spark, corpus, "t_gate4_corpus", "t_gate4_fps", "t_gate4_sigs", buckets = 4)
    val vet = IngestGate.EvalVet(evalDocs,
      graft.core.Catalog.evalNgramBloom(spark, TestSpark.sf0001))
    // two micro-batches through the gate (split by doc_id parity)
    val streamDir = Files.createTempDirectory("graft-gate4").toString
    val ckpt = Files.createTempDirectory("graft-gate4-ckpt").toString
    val q = IngestGate.start(IngestGate.documentStream(spark, streamDir),
      "t_gate4_corpus", "t_gate4_fps", "t_gate4_sigs", "t_gate4_log", ckpt,
      buckets = 4, eval = Some(vet))
    try {
      batchAll.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      batchAll.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(streamDir)
      q.processAllAvailable()
    } finally q.stop()
    val log = fresh("t_gate4_log").distinct().collect()
      .map(r => (r.getAs[Long]("batch_id"),
        if (r.isNullAt(r.fieldIndex("corpus_id"))) None else Some(r.getAs[Long]("corpus_id")),
        r.getAs[String]("kind"))).toSet
    // contamination decisions ≡ the batch operator restricted to the
    // streamed source (per-doc eval overlap is corpus-independent, so
    // the per-batch union must reassemble the batch result exactly)
    val contamTruth = graft.ops.TextAnalysis.decontaminateBloom(docs)
      .filter($"source" === "src0").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(contamTruth.nonEmpty, "fixture must contain contaminated src0 docs")
    assert(log.collect { case (id, None, "contam") => id } == contamTruth)
    // the admitted corpus excludes every rejected doc (either kind)
    val rejectedIds = log.map(_._1)
    val ids = fresh("t_gate4_corpus").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(rejectedIds).isEmpty)
    assert(ids == corpus.select($"doc_id").collect().map(_.getLong(0)).toSet ++
      batchAll.select($"doc_id").collect().map(_.getLong(0)).toSet -- rejectedIds)
    // derived tables track the admitted corpus exactly
    assert(fresh("t_gate4_fps").count() == ids.size)
    dropGateTables(tables: _*)
  }

  test("ingest gate with quality vetting: filter-failing docs rejected with their verdict") {
    import graft.streaming.IngestGate
    val tables = Seq("t_gate5_corpus", "t_gate5_fps", "t_gate5_sigs", "t_gate5_log")
    dropGateTables(tables: _*)
    val seed = Seq((1L, "an entirely distinct seed document about storage engines", "en", "seed", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_gate5_corpus", "t_gate5_fps", "t_gate5_sigs", buckets = 2)
    val good = "the quick brown fox jumps over a lazy dog and then walks " +
      "to the old market where fresh bread is sold daily by the baker"
    val batch = Seq(
      (9001L, good, "en", "crawl", good.length.toLong),          // keep → admitted
      (9002L, "tiny doc", "en", "crawl", 8L),                    // too_short
      (9003L, ("the " + Seq.fill(30)("spam spam spam").mkString(" ")), "en", "crawl", 0L)) // repetitive
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.admitBatch(batch, "t_gate5_corpus", "t_gate5_fps", "t_gate5_sigs",
      "t_gate5_log", buckets = 2, vetQuality = true)
    val log = spark.table("t_gate5_log").distinct().collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[String]("kind")).toMap
    assert(log == Map(9002L -> "quality:too_short", 9003L -> "quality:repetitive"))
    val ids = spark.table("t_gate5_corpus").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 9001L), "only the keep-verdict doc is admitted")
    // replay idempotent with the quality arm on
    IngestGate.admitBatch(batch, "t_gate5_corpus", "t_gate5_fps", "t_gate5_sigs",
      "t_gate5_log", buckets = 2, vetQuality = true)
    assert(spark.table("t_gate5_corpus").count() == 2)
    assert(spark.table("t_gate5_log").distinct().count() == 2)
    // the operational readout: distinct-doc counts per kind + the
    // admitted corpus — and the at-least-once replay above did NOT
    // inflate it (the log holds duplicate rows; the report must not)
    val rep = IngestGate.report(spark, "t_gate5_log", "t_gate5_corpus")
      .collect().map(r => r.getAs[String]("kind") -> r.getAs[Long]("n_docs")).toMap
    assert(rep == Map("quality:too_short" -> 1L, "quality:repetitive" -> 1L,
      "admitted" -> 2L), s"report must survive replay un-inflated: $rep")
    dropGateTables(tables: _*)
  }

  test("ingest gate lang-aware quality bucket: a clean French doc passes the high-only arm where the en-centric bucket caps it at medium; stream ≡ batch; replay idempotent") {
    import graft.streaming.IngestGate
    import graft.ops.TextAnalysis
    val tables = Seq("t_gate10_corpus", "t_gate10_fps", "t_gate10_sigs", "t_gate10_log")
    dropGateTables(tables: _*)
    val seed = Seq((1L, "an entirely distinct seed document about storage engines", "en", "seed", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_gate10_corpus", "t_gate10_fps", "t_gate10_sigs", buckets = 2)
    // 55 tokens, dense French function words, ZERO English-list hits
    val french = "le chat et le chien est dans la maison pour que les enfants " +
      "puissent jouer avec eux tous les jours et la mère prépare le repas dans " +
      "la cuisine pour que la famille puisse manger ensemble le soir quand le " +
      "père rentre de la ville et les enfants aiment regarder les étoiles dans le ciel"
    // 50 tokens, English — high under BOTH cards
    val english = "the old baker walks to the market every morning and sells " +
      "fresh bread to the people of the town while his son carries a large " +
      "basket along the river road and the children wait near the school gate " +
      "to buy warm rolls before class starts in the cold winter air"
    val batch = Seq(
      (9101L, french, "fr", "crawl", french.length.toLong),
      (9102L, english, "en", "crawl", english.length.toLong),
      (9103L, "document bref", "fr", "crawl", 13L)) // 2 tokens → low
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the en-centric counterfactual: t_quality's bucket (en-list
    // stopword credit only) CAPS the clean French doc at medium — a
    // high-only gate on that card would reject it
    val enBucket = TextAnalysis.quality(batch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("quality_bucket")).toMap
    assert(enBucket(9101L) == "medium" && enBucket(9102L) == "high",
      s"counterfactual broken: $enBucket")
    IngestGate.admitBatch(batch, "t_gate10_corpus", "t_gate10_fps", "t_gate10_sigs",
      "t_gate10_log", buckets = 2, minQualityBucket = Some("high"))
    val log = spark.table("t_gate10_log").distinct().collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[String]("kind")).toMap
    assert(log == Map(9103L -> "quality_bucket:low"),
      s"only the low-bucket doc rejects, in its own language: $log")
    val ids = spark.table("t_gate10_corpus").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 9101L, 9102L),
      "the French doc must be ADMITTED by the lang-aware arm")
    // stream ≡ batch: the gate's rejects are exactly the batch card's
    // below-min set
    val batchRejects = TextAnalysis.qualityByLang(batch)
      .filter($"quality_bucket" =!= "high")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(log.keySet == batchRejects)
    // replay idempotent with the bucket arm on
    IngestGate.admitBatch(batch, "t_gate10_corpus", "t_gate10_fps", "t_gate10_sigs",
      "t_gate10_log", buckets = 2, minQualityBucket = Some("high"))
    assert(spark.table("t_gate10_corpus").count() == 3)
    assert(spark.table("t_gate10_log").distinct().count() == 1)
    dropGateTables(tables: _*)
  }

  test("ingest gate with sampling arm: out-of-sample docs rejected; stream ≡ batch membership; replay idempotent") {
    import graft.streaming.IngestGate
    import graft.ops.Sampling
    val tables = Seq("t_gate6_corpus", "t_gate6_fps", "t_gate6_sigs", "t_gate6_log")
    dropGateTables(tables: _*)
    val seed = Seq((1L, "an entirely distinct seed document about storage engines", "en", "seed", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_gate6_corpus", "t_gate6_fps", "t_gate6_sigs", buckets = 2)
    // distinct long texts so no dedup/quality arm interferes: the only
    // rejections come from the mixture membership
    val batch = graft.core.Tables(spark, TestSpark.sf0001).documents
      .filter($"doc_id" >= 10L && $"doc_id" < 40L)
    val rates = (Map("src0" -> 0.8, "src1" -> 0.2), 0.5)
    IngestGate.admitBatch(batch, "t_gate6_corpus", "t_gate6_fps", "t_gate6_sigs",
      "t_gate6_log", buckets = 2, sampleRates = Some(rates))
    val inSample = Sampling.sampleMixture(batch, rates._1, rates._2)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select($"doc_id").collect().map(_.getLong(0)).toSet
    val sampledOut = spark.table("t_gate6_log").distinct()
      .filter($"kind" === "sampled_out").collect().map(_.getAs[Long]("batch_id")).toSet
    assert(sampledOut == batchIds -- inSample, "rejections = the membership complement")
    assert(sampledOut.nonEmpty && inSample.nonEmpty, "fixture must exercise both sides")
    val ids = spark.table("t_gate6_corpus").select($"doc_id").collect().map(_.getLong(0)).toSet
    val otherRejects = spark.table("t_gate6_log").distinct()
      .filter($"kind" =!= "sampled_out").collect().map(_.getAs[Long]("batch_id")).toSet
    assert(ids == Set(1L) ++ (inSample -- otherRejects),
      "admitted = batch-operator sample minus other-arm rejections")
    // replay idempotent with the sampling arm on
    IngestGate.admitBatch(batch, "t_gate6_corpus", "t_gate6_fps", "t_gate6_sigs",
      "t_gate6_log", buckets = 2, sampleRates = Some(rates))
    assert(spark.table("t_gate6_corpus").select($"doc_id").collect()
      .map(_.getLong(0)).toSet == ids)
    assert(spark.table("t_gate6_log").distinct()
      .filter($"kind" === "sampled_out").count() == sampledOut.size)
    dropGateTables(tables: _*)
  }

  test("ingest gate with dsir arm: below-tau and no-signal docs rejected; arm ≡ batch selection under the fixed model; replay idempotent") {
    import graft.streaming.IngestGate
    import graft.ops.Sampling
    val tables = Seq("t_gate9_corpus", "t_gate9_fps", "t_gate9_sigs", "t_gate9_log")
    dropGateTables(tables: _*)
    val seed = Seq((1L, "an entirely distinct seed document about storage engines", "en", "seed", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_gate9_corpus", "t_gate9_fps", "t_gate9_sigs", buckets = 2)
    // the PRE-TRAINED model: fit once on the reference corpus (the
    // production shape — the gate applies it to docs it never saw),
    // plus a planted single-token doc with NO bigram signal
    val corpus = graft.core.Tables(spark, TestSpark.sf0001).documents
    val model = Sampling.dsirModelFromFeats(Sampling.dsirFeats(corpus)).localCheckpoint()
    val batch = corpus.filter($"doc_id" >= 10L && $"doc_id" < 40L)
      .unionByName(Seq((9999L, "solo", "en", "srcx", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // τ at the batch's median score: both sides of the cut are nonempty
    val scores = Sampling.dsirScore(batch, model).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val tau = scores.values.toSeq.sorted.apply(scores.size / 2)
    IngestGate.admitBatch(batch, "t_gate9_corpus", "t_gate9_fps", "t_gate9_sigs",
      "t_gate9_log", buckets = 2, dsir = Some(IngestGate.DsirVet(model, tau)))
    val batchIds = batch.select($"doc_id").collect().map(_.getLong(0)).toSet
    val selected = scores.filter(_._2 >= tau).keySet
    val dsirRejected = spark.table("t_gate9_log").distinct()
      .filter($"kind" === "dsir").collect().map(_.getAs[Long]("batch_id")).toSet
    assert(dsirRejected == batchIds -- selected, "rejections = the selection complement")
    assert(dsirRejected.contains(9999L), "the no-signal doc is rejected, not silently admitted")
    assert(selected.nonEmpty && dsirRejected.size > 1, "fixture must exercise both sides")
    val ids = spark.table("t_gate9_corpus").select($"doc_id").collect().map(_.getLong(0)).toSet
    val otherRejects = spark.table("t_gate9_log").distinct()
      .filter($"kind" =!= "dsir").collect().map(_.getAs[Long]("batch_id")).toSet
    assert(ids == Set(1L) ++ (selected -- otherRejects),
      "admitted = the batch selection minus other-arm rejections")
    // replay idempotent with the dsir arm on (fixed model → identical scores)
    IngestGate.admitBatch(batch, "t_gate9_corpus", "t_gate9_fps", "t_gate9_sigs",
      "t_gate9_log", buckets = 2, dsir = Some(IngestGate.DsirVet(model, tau)))
    assert(spark.table("t_gate9_corpus").select($"doc_id").collect()
      .map(_.getLong(0)).toSet == ids)
    assert(spark.table("t_gate9_log").distinct()
      .filter($"kind" === "dsir").count() == dsirRejected.size)
    dropGateTables(tables: _*)
  }

  test("takedown leg: a tombstoned corpus doc stops rejecting re-submissions; replay idempotent; report shows the volume; WAL compacts") {
    import graft.streaming.{IngestGate, Takedown}
    val tables = Seq("t_td_corpus", "t_td_fps", "t_td_sigs", "t_td_log",
      "t_td_tomb", "t_td_tomb__wal_ids", "t_td_tomb__wal_fold")
    dropGateTables(tables: _*)
    val contentX = (1 to 30).map(i => s"takedown$i").mkString(" ")
    val seed = Seq((1L, contentX, "en", "seed", contentX.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_td_corpus", "t_td_fps", "t_td_sigs", buckets = 2)
    def doc(id: Long) = Seq((id, contentX, "en", "crawl", contentX.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def admit(id: Long): Unit = IngestGate.admitBatch(doc(id), "t_td_corpus",
      "t_td_fps", "t_td_sigs", "t_td_log", buckets = 2,
      tombstones = Some("t_td_tomb"))
    // pre-takedown: the duplicate is rejected against the live corpus
    admit(100L)
    def corpusIds() = spark.table("t_td_corpus").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(corpusIds() == Set(1L))
    assert(spark.table("t_td_log").distinct()
      .filter($"batch_id" === 100L).count() >= 1, "the duplicate must be rejected")
    // takedown of the seed doc; the re-submission arrives under a
    // FRESH doc_id (the shared contract) and must now be ADMITTED
    Takedown.tombstoneBatch(Seq(1L).toDF("doc_id"), 0L, "t_td_tomb")
    admit(101L)
    assert(corpusIds() == Set(1L, 101L),
      "post-takedown the same content is admitted (dead rows stay physical)")
    assert(spark.table("t_td_log").distinct()
      .filter($"batch_id" === 101L).count() == 0, "no rejection for the re-submission")
    // replay idempotence: the same admit and the same tombstone batch
    // change nothing
    admit(101L)
    Takedown.tombstoneBatch(Seq(1L).toDF("doc_id"), 0L, "t_td_tomb")
    assert(corpusIds() == Set(1L, 101L))
    assert(Takedown.tombstonedIds(spark, "t_td_tomb").count() == 1L)
    // a THIRD copy is rejected against the new live carrier, not the
    // dead one (the live corpus still dedups)
    admit(102L)
    assert(corpusIds() == Set(1L, 101L))
    val rej102 = spark.table("t_td_log").distinct()
      .filter($"batch_id" === 102L && $"kind" === "exact")
      .collect().map(_.getAs[Long]("corpus_id"))
    assert(rej102.toSeq == Seq(101L), "rejected against the LIVE carrier")
    // report: admitted counts live docs only; the takedown volume is a row
    val rep = IngestGate.report(spark, "t_td_log", "t_td_corpus",
      Some("t_td_tomb")).collect()
      .map(r => r.getAs[String]("kind") -> r.getAs[Long]("n_docs")).toMap
    assert(rep("tombstoned") == 1L)
    assert(rep("admitted") == 1L, "the dead seed doc must not count as admitted")
    // the tombstone WAL compacts like every other durable-partials table
    Takedown.tombstoneBatch(Seq(1L, 2L).toDF("doc_id"), 1L, "t_td_tomb")
    val (b0, a0) = Takedown.compact(spark, "t_td_tomb")
    assert(a0 <= b0)
    assert(Takedown.tombstonedIds(spark, "t_td_tomb").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(graft.streaming.Wal.seen(spark, "t_td_tomb", 0L)
      && graft.streaming.Wal.seen(spark, "t_td_tomb", 1L))
    // PHYSICAL reclamation: scrub drops the dead rows through the
    // versioned snapshot-safe swap...
    val (cb, ca) = Takedown.scrub(spark, "t_td_corpus", "t_td_tomb")
    assert((cb, ca) == ((2L, 1L)), "the dead seed row is physically gone")
    Takedown.scrub(spark, "t_td_fps", "t_td_tomb")
    Takedown.scrub(spark, "t_td_sigs", "t_td_tomb")
    assert(corpusIds() == Set(101L))
    // ...and the gate keeps APPENDING through the view (Store
    // .appendTarget routes to the current backing): a fresh doc is
    // admitted, a further duplicate still rejects against the live
    // carrier
    val contentY = (1 to 30).map(i => s"fresh$i").mkString(" ")
    IngestGate.admitBatch(
      Seq((104L, contentY, "en", "crawl", contentY.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      "t_td_corpus", "t_td_fps", "t_td_sigs", "t_td_log", buckets = 2,
      tombstones = Some("t_td_tomb"))
    assert(corpusIds() == Set(101L, 104L), "post-scrub appends must keep working")
    admit(105L)
    assert(corpusIds() == Set(101L, 104L))
    assert(spark.table("t_td_log").distinct()
      .filter($"batch_id" === 105L && $"kind" === "exact")
      .collect().map(_.getAs[Long]("corpus_id")).toSeq == Seq(101L))
    dropGateTables(tables: _*)
  }

  test("decision-log scrub (r16): a tombstoned doc's own rows drop, references to it as a rejection CAUSE redact to NULL, the report is unchanged, no reference survives in either column; idempotent; the gate keeps appending") {
    import graft.streaming.{IngestGate, Takedown}
    val tables = Seq("t_ds_corpus", "t_ds_fps", "t_ds_sigs", "t_ds_log",
      "t_ds_tomb")
    dropGateTables(tables: _*)
    val contentX = (1 to 30).map(i => s"dscrub$i").mkString(" ")
    val seed = Seq((1L, contentX, "en", "seed", contentX.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_ds_corpus", "t_ds_fps", "t_ds_sigs", buckets = 2)
    def admit(id: Long): Unit = IngestGate.admitBatch(
      Seq((id, contentX, "en", "crawl", contentX.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      "t_ds_corpus", "t_ds_fps", "t_ds_sigs", "t_ds_log", buckets = 2,
      tombstones = Some("t_ds_tomb"))
    // docs 100 and 102 both reject against corpus doc 1 (the cause)
    admit(100L); admit(102L)
    val causes = spark.table("t_ds_log").distinct()
      .filter($"kind" === "exact").collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("corpus_id")).toMap
    assert(causes == Map(100L -> 1L, 102L -> 1L), s"setup: $causes")
    // takedown: doc 1 (the cause) AND doc 100 (a rejected doc itself)
    Takedown.tombstoneBatch(Seq(1L, 100L).toDF("doc_id"), 0L, "t_ds_tomb")
    def rep() = IngestGate.report(spark, "t_ds_log", "t_ds_corpus",
      Some("t_ds_tomb")).collect()
      .map(r => r.getAs[String]("kind") -> r.getAs[Long]("n_docs")).toMap
    val repBefore = rep()
    val (b, a) = Takedown.scrubDecisions(spark, "t_ds_log", "t_ds_tomb")
    assert(b > a, s"doc 100's own rows must drop: ($b, $a)")
    assert(rep() == repBefore,
      "redaction keeps the report bit-identical (live doc 102 still counted)")
    // no reference to either tombstoned doc survives, in either column
    assert(spark.table("t_ds_log")
      .filter($"batch_id".isin(1L, 100L) || $"corpus_id".isin(1L, 100L))
      .count() == 0, "the log must carry no reference to the taken-down docs")
    // doc 102's decision survives with the cause redacted
    val r102 = spark.table("t_ds_log").distinct()
      .filter($"batch_id" === 102L && $"kind" === "exact").collect()
    assert(r102.length == 1 && r102(0).isNullAt(r102(0).fieldIndex("corpus_id")),
      s"the live doc's rejection row survives, cause redacted: ${r102.toSeq}")
    // idempotent: nothing left to drop or redact
    val (b2, a2) = Takedown.scrubDecisions(spark, "t_ds_log", "t_ds_tomb")
    assert(b2 == a2, s"a second scrub is a no-op: ($b2, $a2)")
    // the gate keeps appending THROUGH the versioned view: with both
    // old carriers dead the content is re-admitted under a fresh id
    // (the takedown contract), and a further duplicate's rejection
    // against that NEW live carrier lands on the current backing
    admit(103L); admit(104L)
    val r104 = spark.table("t_ds_log").distinct()
      .filter($"batch_id" === 104L && $"kind" === "exact").collect()
    assert(r104.length == 1 && r104(0).getAs[Long]("corpus_id") == 103L,
      s"post-scrub decisions must land on the current backing: ${r104.toSeq}")
    dropGateTables(tables: _*)
  }

  test("report takedown netting: tombstoning a rejected doc decrements its kind row and increments the tombstoned row; replay-stable") {
    import graft.streaming.{IngestGate, Takedown}
    val tables = Seq("t_tdn_corpus", "t_tdn_fps", "t_tdn_sigs", "t_tdn_log",
      "t_tdn_tomb", "t_tdn_tomb__wal_ids")
    dropGateTables(tables: _*)
    val contentX = (1 to 30).map(i => s"netting$i").mkString(" ")
    val contentY = (1 to 30).map(i => s"other$i").mkString(" ")
    val seed = Seq((1L, contentX, "en", "seed", contentX.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_tdn_corpus", "t_tdn_fps", "t_tdn_sigs", buckets = 2)
    def admit(id: Long, text: String): Unit = IngestGate.admitBatch(
      Seq((id, text, "en", "crawl", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      "t_tdn_corpus", "t_tdn_fps", "t_tdn_sigs", "t_tdn_log", buckets = 2,
      tombstones = Some("t_tdn_tomb"))
    admit(100L, contentX) // exact duplicate of the seed — rejected
    admit(200L, contentY) // fresh content — admitted
    def rep(): Map[String, Long] = IngestGate.report(spark, "t_tdn_log",
      "t_tdn_corpus", Some("t_tdn_tomb")).collect()
      .map(r => r.getAs[String]("kind") -> r.getAs[Long]("n_docs")).toMap
    val pre = rep()
    assert(pre("exact") == 1L && pre("admitted") == 2L &&
      pre.getOrElse("tombstoned", 0L) == 0L, s"pre-takedown report: $pre")
    // take down the REJECTED doc: its decision history retires with it
    Takedown.tombstoneBatch(Seq(100L).toDF("doc_id"), 0L, "t_tdn_tomb")
    val post = rep()
    assert(post.get("exact").isEmpty,
      s"the tombstoned doc's rejection must stop counting: $post")
    assert(post("tombstoned") == 1L && post("admitted") == 2L,
      s"takedown volume surfaces as its own row: $post")
    // replay-stable: the same tombstone batch changes nothing
    Takedown.tombstoneBatch(Seq(100L).toDF("doc_id"), 0L, "t_tdn_tomb")
    assert(rep() == post, "report must be stable under tombstone replay")
    dropGateTables(tables: _*)
  }

  test("decision-log compaction (r16): replay-duplicated rows fold to the distinct set, report unchanged, the gate keeps appending; vacuum leg reclaims the old versions") {
    import graft.streaming.{IngestGate, Maintenance}
    val tables = Seq("t_dlc_corpus", "t_dlc_fps", "t_dlc_sigs", "t_dlc_log",
      "t_dlc_mlog")
    dropGateTables(tables: _*)
    val contentX = (1 to 30).map(i => s"dlc$i").mkString(" ")
    val seed = Seq((1L, contentX, "en", "seed", contentX.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_dlc_corpus", "t_dlc_fps", "t_dlc_sigs", buckets = 2)
    def admit(id: Long): Unit = IngestGate.admitBatch(
      Seq((id, contentX, "en", "crawl", contentX.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      "t_dlc_corpus", "t_dlc_fps", "t_dlc_sigs", "t_dlc_log", buckets = 2)
    admit(100L); admit(100L) // replay: identical decision rows appended again
    val before = spark.table("t_dlc_log").count()
    val distinctN = spark.table("t_dlc_log").distinct().count()
    assert(before > distinctN, "the at-least-once log must carry replay duplicates")
    def rep(): Map[String, Long] = IngestGate.report(spark, "t_dlc_log",
      "t_dlc_corpus").collect()
      .map(r => r.getAs[String]("kind") -> r.getAs[Long]("n_docs")).toMap
    val rep0 = rep()
    val (b, a) = IngestGate.compactDecisions(spark, "t_dlc_log")
    assert((b, a) == ((before, distinctN)), s"fold to the distinct set: ($b, $a)")
    assert(rep() == rep0, "every consumer reads distinct — the fold changes nothing")
    // the gate keeps appending THROUGH the versioned view (appendTarget)
    admit(101L)
    assert(spark.table("t_dlc_log").distinct()
      .filter($"batch_id" === 101L).count() >= 1,
      "post-compaction appends must land on the current backing")
    // idempotent: a second fold shrinks nothing further (already distinct
    // modulo the new batch) and the report still reads the same classes
    val (b2, a2) = IngestGate.compactDecisions(spark, "t_dlc_log")
    assert(b2 == a2, "an already-distinct log folds to itself")
    // VACUUM leg: the two publishLike swaps retained old versions; one
    // Maintenance.tick with a VacuumJob reclaims past keepVersions = 1
    val versionsBefore = graft.core.Store.versions(spark, "t_dlc_log").size
    assert(versionsBefore >= 2, s"swaps must retain versions: $versionsBefore")
    val log1 = Maintenance.tick(spark, 0L,
      vacuum = Seq(Maintenance.VacuumJob("t_dlc_log", keepVersions = 1)),
      logTable = "t_dlc_mlog").collect()
    val v1 = log1.find(_.getAs[String]("action") == "vacuum").get
    assert(v1.getAs[Boolean]("acted") && v1.getAs[Long]("after") == 1L
      && v1.getAs[Long]("before") == versionsBefore.toLong,
      s"vacuum row: $v1")
    assert(graft.core.Store.versions(spark, "t_dlc_log").size == 1)
    // quiet tick: nothing left to drop, acted = false
    val log2 = Maintenance.tick(spark, 1L,
      vacuum = Seq(Maintenance.VacuumJob("t_dlc_log", keepVersions = 1)),
      logTable = "t_dlc_mlog").collect()
    assert(!log2.find(_.getAs[String]("action") == "vacuum").get.getAs[Boolean]("acted"))
    // the log still serves after reclamation
    assert(rep().contains("exact"))
    dropGateTables(tables: _*)
  }

  test("span gate takedown: a tombstoned keeper releases its spans; the next carrier keeps and re-registers them") {
    import graft.streaming.{SpanStream, Takedown}
    val tables = Seq("t_sptd_reg", "t_sptd_out", "t_sptd_tomb")
    dropGateTables(tables: _*)
    val run = (1 to 20).map(i => s"sp$i").mkString(" ")
    def doc(id: Long, text: String) =
      Seq((id, text, "en", "crawl", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    def fresh(i: Int) = (1 to 20).map(j => s"f$i$j").mkString(" ")
    def dedup(df: org.apache.spark.sql.DataFrame): Unit =
      SpanStream.dedupBatch(df, "t_sptd_reg", "t_sptd_out", buckets = 2,
        tombstones = Some("t_sptd_tomb"))
    def outOf(id: Long) = spark.table("t_sptd_out").filter($"doc_id" === id)
      .collect().map(r => (r.getAs[String]("clean_text"), r.getAs[Int]("n_dropped"))).head
    dedup(doc(1L, run))
    dedup(doc(2L, s"$run ${fresh(2)}"))
    assert(outOf(1L) == ((run, 0)))
    assert(outOf(2L) == ((fresh(2), 1)), "doc 1 owns the span pre-takedown")
    // takedown of the keeper: its spans are RELEASED
    Takedown.tombstoneBatch(Seq(1L).toDF("doc_id"), 0L, "t_sptd_tomb")
    dedup(doc(3L, s"$run ${fresh(3)}"))
    assert(outOf(3L) == ((s"$run ${fresh(3)}", 0)),
      "the released span is kept by the next carrier")
    // ...and re-registered under the NEW keeper: the next duplicate is
    // scrubbed against doc 3
    dedup(doc(4L, s"$run ${fresh(4)}"))
    assert(outOf(4L) == ((fresh(4), 1)))
    val liveKeeper = Takedown.liveOnly(spark.table("t_sptd_reg"), Some("t_sptd_tomb"))
      .filter($"span" === run).collect().map(_.getAs[Long]("doc_id"))
    assert(liveKeeper.toSeq == Seq(3L), "one LIVE keeper, the new carrier")
    // PHYSICAL scrub of the registry: publishLike reproduces its
    // (bucketBy span, NO sortBy) layout, so the next batch's append to
    // the scrubbed view's backing must still work — a default
    // bucketBy(key).sortBy(key) rewrite would make it throw a
    // bucket-spec mismatch forever
    val (rb, ra) = Takedown.scrub(spark, "t_sptd_reg", "t_sptd_tomb")
    assert(ra < rb, "doc 1's dead registry rows are physically gone")
    dedup(doc(5L, s"$run ${fresh(5)}"))
    assert(outOf(5L) == ((fresh(5), 1)),
      "post-scrub appends and dedup must keep working")
    dropGateTables(tables: _*)
  }

  test("takedown with the semantic arm: a tombstoned doc's vector stops semantic-rejecting; its survivor row scrubs") {
    import org.apache.spark.sql.functions.typedlit
    import graft.streaming.{IngestGate, Takedown}
    val tables = Seq("t_tds_corpus", "t_tds_fps", "t_tds_sigs", "t_tds_log",
      "t_tds_surv", "t_tds_tomb")
    dropGateTables(tables: _*)
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val cents = graft.ops.Similarity.ivfCentroids(embs, k = 4, iters = 2)
    // seed doc 1 with vector 1 as a survivor; content is unique text so
    // only the SEMANTIC arm can reject (the vector twin is the signal)
    def doc(id: Long, text: String) =
      Seq((id, text, "en", "crawl", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, doc(1L, (1 to 30).map(i => s"semtext$i").mkString(" ")),
      "t_tds_corpus", "t_tds_fps", "t_tds_sigs", buckets = 2)
    IngestGate.seedSemantic(embs.filter($"vec_id" === 1L)
      .withColumn("cluster", graft.functions.GraftFunctions.nearestCentroid(
        $"embedding", typedlit(cents))), "t_tds_surv", buckets = 2)
    // batch doc 200 carries vector 1's EXACT embedding (vec_id = doc_id
    // lookup frame) and novel text — rejected by the semantic arm only
    val lookup = embs.filter($"vec_id" === 1L)
      .select(lit(200L).as("vec_id"), $"label", $"embedding")
      .unionByName(embs.filter($"vec_id" === 1L)
        .select(lit(201L).as("vec_id"), $"label", $"embedding"))
    def admit(id: Long): Unit = IngestGate.admitBatch(
      doc(id, (1 to 30).map(i => s"novel$id$i").mkString(" ")),
      "t_tds_corpus", "t_tds_fps", "t_tds_sigs", "t_tds_log", buckets = 2,
      semantic = Some(IngestGate.SemanticVet(lookup, "t_tds_surv", cents)),
      tombstones = Some("t_tds_tomb"))
    admit(200L)
    val rej200 = spark.table("t_tds_log").distinct()
      .filter($"batch_id" === 200L && $"kind" === "semantic")
      .collect().map(_.getAs[Long]("corpus_id"))
    assert(rej200.toSeq == Seq(1L), "the vector twin is semantically rejected pre-takedown")
    // takedown of doc 1: its survivor vector must stop rejecting
    Takedown.tombstoneBatch(Seq(1L).toDF("doc_id"), 0L, "t_tds_tomb")
    admit(201L)
    assert(spark.table("t_tds_log").distinct()
      .filter($"batch_id" === 201L && $"kind" === "semantic").count() == 0,
      "post-takedown the dead survivor no longer semantic-rejects")
    // the survivor table scrubs on vec_id (≡ doc_id), preserving its
    // (bucketBy cluster, sortBy vec_id) layout for later appends
    val (sb, sa) = Takedown.scrub(spark, "t_tds_surv", "t_tds_tomb", idCol = "vec_id")
    assert(sa < sb, "the dead survivor row is physically gone")
    assert(spark.table("t_tds_surv").filter($"vec_id" === 1L).count() == 0)
    // doc 201 was admitted and its vector registered — a replay of 200
    // now rejects against the NEW live survivor
    admit(200L)
    val rej200b = spark.table("t_tds_log").distinct()
      .filter($"batch_id" === 200L && $"kind" === "semantic")
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(rej200b.contains(201L), "the twin rejects against the LIVE survivor")
    dropGateTables(tables: _*)
  }

  test("cross-lingual gate rejection (r16): a TRANSLATED duplicate is semantically rejected at admission while the token arms are blind to it") {
    import graft.streaming.IngestGate
    import graft.ops.Dedup
    val tables = Seq("t_gxl_corpus", "t_gxl_fps", "t_gxl_sigs", "t_gxl_log",
      "t_gxl_surv")
    dropGateTables(tables: _*)
    // seed: the English original (the d_crosslingual planted fixture —
    // one definition, reused); survivor table seeded with its vector
    val en = Dedup.xlingDocs.find(_._1 == 9200001L).get
    val ru = Dedup.xlingDocs.find(_._1 == 9200002L).get
    val seed = Seq((en._1, en._3, en._2, "seed", en._3.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_gxl_corpus", "t_gxl_fps", "t_gxl_sigs",
      buckets = 2)
    val vecs = Dedup.xlingVecs.map { case (id, label, v) => (id, label, v) }
      .toDF("vec_id", "label", "embedding")
    // one coarse centroid: every vector lands in cluster 0 — blocking
    // cannot separate the pair, the cosine check decides
    val cents = Seq(Seq.tabulate(64)(i => if (i == 0) 1.0 else 0.0))
    IngestGate.seedSemantic(vecs.filter($"vec_id" === 9200001L)
      .withColumn("cluster", lit(0)), "t_gxl_surv", buckets = 2)
    val batch = Seq((ru._1, ru._3, ru._2, "crawl", ru._3.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the semantic arm vets in EMBEDDING space: the translation's
    // near-identical vector rejects against the English survivor even
    // though the texts share not one token and not one script
    IngestGate.admitBatch(batch, "t_gxl_corpus", "t_gxl_fps", "t_gxl_sigs",
      "t_gxl_log", buckets = 2,
      semantic = Some(IngestGate.SemanticVet(vecs, "t_gxl_surv", cents, tau = 0.9)))
    val rej = spark.table("t_gxl_log").distinct()
      .filter($"batch_id" === ru._1).collect()
      .map(r => r.getAs[String]("kind") -> r.getAs[Long]("corpus_id"))
    assert(rej.toSeq == Seq("semantic" -> en._1),
      s"the translation must be rejected by the SEMANTIC arm alone " +
        s"(every token arm is blind — no exact/fuzzy rejection): ${rej.toSeq}")
    assert(spark.table("t_gxl_corpus").select($"doc_id").collect()
      .map(_.getLong(0)).toSet == Set(en._1),
      "the translated duplicate must not enter the corpus")
    dropGateTables(tables: _*)
  }

  test("ingest gate with quality-model arm: below-tau and no-signal docs rejected; arm ≡ batch classifier under the fixed model; replay idempotent") {
    import graft.streaming.IngestGate
    import graft.ops.{Sampling, TextAnalysis}
    val tables = Seq("t_gateq_corpus", "t_gateq_fps", "t_gateq_sigs", "t_gateq_log",
      "t_gateq_model")
    dropGateTables(tables: _*)
    val seed = Seq((1L, "an entirely distinct seed document about storage engines", "en", "seed", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_gateq_corpus", "t_gateq_fps", "t_gateq_sigs", buckets = 2)
    // the PRE-TRAINED classifier: hq-vs-rest fit on the reference
    // corpus, published as a durable Store artifact and served off the
    // STORED table (r16 — the production path: Catalog fit →
    // Store.saveQualityModel → gate reads the table), applied to
    // unseen docs; plus a planted single-token doc with NO bigram
    // signal. The stored artifact must equal the in-plan fit.
    val corpus = graft.core.Tables(spark, TestSpark.sf0001).documents
    graft.core.Store.saveQualityModel(spark, TestSpark.sf0001, table = "t_gateq_model")
    val model = spark.table("t_gateq_model")
    assert(model.collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap ==
      TextAnalysis.qualityModelFit(corpus).collect()
        .map(r => r.getString(0) -> r.getDecimal(1)).toMap,
      "the Store-published artifact must equal the in-plan fit")
    val batch = corpus.filter($"doc_id" >= 40L && $"doc_id" < 70L)
      .unionByName(Seq((9998L, "solo", "en", "srcx", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // τ at the batch's median score: both sides of the cut nonempty
    val scores = Sampling.dsirScore(batch, model).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val tau = scores.values.toSeq.sorted.apply(scores.size / 2)
    def admit(): Unit = IngestGate.admitBatch(batch, "t_gateq_corpus",
      "t_gateq_fps", "t_gateq_sigs", "t_gateq_log", buckets = 2,
      qualityModel = Some(IngestGate.QualityModelVet(model, tau)))
    admit()
    val batchIds = batch.select($"doc_id").collect().map(_.getLong(0)).toSet
    val selected = scores.filter(_._2 >= tau).keySet
    val qmRejected = spark.table("t_gateq_log").distinct()
      .filter($"kind" === "quality_model").collect()
      .map(_.getAs[Long]("batch_id")).toSet
    assert(qmRejected == batchIds -- selected, "rejections = the classifier's complement")
    assert(qmRejected.contains(9998L), "the no-signal doc is rejected, not silently admitted")
    assert(selected.nonEmpty && qmRejected.size > 1, "fixture must exercise both sides")
    val ids = spark.table("t_gateq_corpus").select($"doc_id").collect().map(_.getLong(0)).toSet
    val otherRejects = spark.table("t_gateq_log").distinct()
      .filter($"kind" =!= "quality_model").collect().map(_.getAs[Long]("batch_id")).toSet
    assert(ids == Set(1L) ++ (selected -- otherRejects),
      "admitted = the model's keep set minus other-arm rejections")
    // replay idempotent (fixed model → identical scores)
    admit()
    assert(spark.table("t_gateq_corpus").select($"doc_id").collect()
      .map(_.getLong(0)).toSet == ids)
    assert(spark.table("t_gateq_log").distinct()
      .filter($"kind" === "quality_model").count() == qmRejected.size)
    dropGateTables(tables: _*)
  }

  test("ingest gate with semantic arm: vector dups of survivors rejected; admitted vectors become survivors; arm ≡ batch operator; replay idempotent") {
    import graft.streaming.IngestGate
    import graft.ops.{Dedup, Similarity}
    val tables = Seq("t_gate7_corpus", "t_gate7_fps", "t_gate7_sigs",
      "t_gate7_log", "t_gate7_surv")
    dropGateTables(tables: _*)
    val dim = 8
    def oneHot(i: Int, scale: Float = 1.0f): Seq[Float] =
      Seq.tabulate(dim)(j => if (j == i) scale else 0.0f)
    // corpus: 6 docs, mutually ORTHOGONAL vectors (cos 0 — no intra-corpus
    // dups at any τ), long distinct texts so no text arm interferes
    def doc(id: Long, tag: String) =
      (id, s"wholly distinct narrative $tag" +
        (0 until 12).map(k => s" token${tag}x$k").mkString, "en",
        if (id < 100) "srcC" else "src0", 80L)
    val corpusDocs = (0 until 6).map(i => doc(i.toLong, s"corpus$i"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpusEmb = (0 until 6).map(i => (i.toLong, i % 3, oneHot(i)))
      .toDF("vec_id", "label", "embedding")
    val cents = Similarity.ivfCentroids(corpusEmb, k = 2, iters = 2)
    IngestGate.seedCorpus(spark, corpusDocs, "t_gate7_corpus", "t_gate7_fps",
      "t_gate7_sigs", buckets = 2)
    IngestGate.seedSemantic(corpusEmb.withColumn("cluster",
      graft.functions.GraftFunctions.nearestCentroid($"embedding", typedlit(cents))),
      "t_gate7_surv", buckets = 2)
    // batch 1: 100/101 are EXACT vector copies of survivors 0/1 (cos 1.0);
    // 102/103 are new orthogonal directions
    val b1Docs = Seq(100L, 101L, 102L, 103L).map(id => doc(id, s"batch1v$id"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1Emb = Seq((100L, 0, oneHot(0)), (101L, 1, oneHot(1)),
      (102L, 2, oneHot(6)), (103L, 0, oneHot(7)))
      .toDF("vec_id", "label", "embedding")
    val allEmb = corpusEmb.unionByName(b1Emb)
    val sem1 = IngestGate.SemanticVet(allEmb, "t_gate7_surv", cents, tau = 0.9)
    IngestGate.admitBatch(b1Docs, "t_gate7_corpus", "t_gate7_fps", "t_gate7_sigs",
      "t_gate7_log", buckets = 2, semantic = Some(sem1))
    val semDecisions = spark.table("t_gate7_log").distinct()
      .filter($"kind" === "semantic").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(semDecisions == Set((100L, 0L), (101L, 1L)),
      s"vector copies must reject against their survivors, got $semDecisions")
    // the arm ≡ the batch operator over the same survivor set
    val batchOp = Dedup.crossSemanticDedup(corpusEmb, b1Emb, cents, tau = 0.9)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"))).toSet
    assert(semDecisions == batchOp)
    // admitted vectors joined the survivor set (6 + 2), rejected did not
    val survIds = fresh("t_gate7_surv").select($"vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(survIds == Set(0L, 1L, 2L, 3L, 4L, 5L, 102L, 103L))
    // batch 2: 200 copies ADMITTED 102's vector — rejected against batch
    // 1's admission (sequencing); 201 is a mixed direction (cos ≤ 0.71
    // to every survivor) — admitted
    val b2Docs = Seq(200L, 201L).map(id => doc(id, s"batch2v$id"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val mixed = Seq.tabulate(dim)(j => if (j >= 6) 1.0f else 0.0f)
    val b2Emb = Seq((200L, 2, oneHot(6)), (201L, 1, mixed))
      .toDF("vec_id", "label", "embedding")
    val sem2 = IngestGate.SemanticVet(allEmb.unionByName(b2Emb), "t_gate7_surv",
      cents, tau = 0.9)
    IngestGate.admitBatch(b2Docs, "t_gate7_corpus", "t_gate7_fps", "t_gate7_sigs",
      "t_gate7_log", buckets = 2, semantic = Some(sem2))
    val sem2Decisions = spark.table("t_gate7_log").distinct()
      .filter($"kind" === "semantic" && $"batch_id" >= 200L).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(sem2Decisions == Set((200L, 102L)),
      s"batch 2 must be vetted against batch 1's admissions, got $sem2Decisions")
    val survAfter2 = fresh("t_gate7_surv").select($"vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(survAfter2 == survIds + 201L)
    // crash-replay: identical decisions, no duplicate survivors
    IngestGate.admitBatch(b2Docs, "t_gate7_corpus", "t_gate7_fps", "t_gate7_sigs",
      "t_gate7_log", buckets = 2, semantic = Some(sem2))
    assert(fresh("t_gate7_surv").count() == survAfter2.size,
      "replay must not re-append survivors")
    assert(spark.table("t_gate7_log").distinct()
      .filter($"kind" === "semantic").count() == 3)
    dropGateTables(tables: _*)
  }

  test("span gate: doc_id-ordered stream equals batch spanDedup; replay idempotent") {
    import graft.streaming.SpanStream
    val tables = Seq("t_span_reg", "t_span_out")
    dropGateTables(tables: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val mid = 250L
    // two doc_id-ordered micro-batches (the regime where streaming order
    // equals the batch operator's global (doc_id, span_idx) order)
    SpanStream.dedupBatch(docs.filter($"doc_id" < mid), "t_span_reg", "t_span_out", buckets = 4)
    SpanStream.dedupBatch(docs.filter($"doc_id" >= mid), "t_span_reg", "t_span_out", buckets = 4)
    def outRows = fresh("t_span_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Int]("n_kept"), r.getAs[Int]("n_dropped"))).toSet
    val streamed = outRows
    val batchOp = graft.ops.Dedup.spanDedup(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Int]("n_kept"), r.getAs[Int]("n_dropped"))).toSet
    assert(streamed == batchOp, "ordered streamed span dedup must equal the batch operator")
    // crash-replay of the second batch: output and registry unchanged
    val regN = fresh("t_span_reg").count()
    SpanStream.dedupBatch(docs.filter($"doc_id" >= mid), "t_span_reg", "t_span_out", buckets = 4)
    assert(outRows == batchOp, "replay must not change the cleaned output")
    assert(fresh("t_span_reg").count() == regN, "replay must not grow the registry")
    dropGateTables(tables: _*)
  }

  test("span gate: a later batch's duplicated spans are removed against earlier batches (stream API)") {
    import graft.streaming.SpanStream
    val tables = Seq("t_span2_reg", "t_span2_out")
    dropGateTables(tables: _*)
    val run = (1 to 20).map(i => s"tok$i").mkString(" ") // exactly one 20-token span
    val fresh1 = (1 to 20).map(i => s"new$i").mkString(" ")
    val streamDir = Files.createTempDirectory("graft-span").toString
    val ckpt = Files.createTempDirectory("graft-span-ckpt").toString
    val q = SpanStream.start(
      graft.streaming.IngestGate.documentStream(spark, streamDir),
      "t_span2_reg", "t_span2_out", ckpt, buckets = 2)
    try {
      Seq((1L, run, "en", "crawl", run.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      // batch 2: one doc repeating batch 1's span + fresh content
      Seq((2L, s"$run $fresh1", "en", "crawl", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      val out = fresh("t_span2_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("clean_text"), r.getAs[Int]("n_dropped"))).toMap
      assert(out(1L) == (run, 0), "first carrier keeps its span")
      assert(out(2L) == (fresh1, 1), "the repeated span is removed against the earlier batch")
    } finally q.stop()
    dropGateTables(tables: _*)
  }

  test("ingest gate: a later batch is vetted against earlier admissions") {
    import graft.streaming.IngestGate
    val tables = Seq("t_gate2_corpus", "t_gate2_fps", "t_gate2_sigs", "t_gate2_log")
    dropGateTables(tables: _*)
    val seed = Seq((1L, "an entirely distinct seed document about storage engines", "en", "seed", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    IngestGate.seedCorpus(spark, seed, "t_gate2_corpus", "t_gate2_fps", "t_gate2_sigs", buckets = 2)
    val novel = "a brand new crawl document with twelve informative words in it"
    val streamDir = Files.createTempDirectory("graft-gate2").toString
    val ckpt = Files.createTempDirectory("graft-gate2-ckpt").toString
    val q = IngestGate.start(IngestGate.documentStream(spark, streamDir),
      "t_gate2_corpus", "t_gate2_fps", "t_gate2_sigs", "t_gate2_log", ckpt, buckets = 2)
    try {
      // batch 1: a novel doc — admitted
      Seq((9001L, novel, "en", "crawl", novel.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      assert(fresh("t_gate2_log").count() == 0)
      assert(fresh("t_gate2_corpus").count() == 2)
      // batch 2: an exact copy of batch 1's admission + another novel doc —
      // the copy must be rejected AGAINST THE STREAMED ADMISSION
      Seq((9002L, novel, "en", "crawl", novel.length.toLong),
          (9003L, "completely unrelated fresh content covering another topic entirely", "en", "crawl", 60L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      val log = fresh("t_gate2_log").distinct().collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"), r.getAs[String]("kind"))).toSet
      assert(log == Set((9002L, 9001L, "exact")))
      val ids = fresh("t_gate2_corpus").select($"doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 9001L, 9003L))
      assert(fresh("t_gate2_fps").count() == 3)
    } finally q.stop()
    dropGateTables(tables: _*)
  }

  test("tombstone CDC: planted delete emits removed; no resurrection by older live records; silent on absent keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
    def v(id: String, minutes: Int, obs: Long, occ: String) =
      graft.streaming.Vehicle(id, id, 0, 0, 9.0, 0, "IN_TRANSIT_TO", occ, 0,
        new java.sql.Timestamp(base + minutes * 60000L), obs)
    val source = MemoryStream[graft.streaming.Vehicle]
    val q = VehicleStream.cdcPerKeyTombstone(source.toDF())
      .writeStream.format("memory").queryName("cdc_tomb")
      .outputMode("update").start()
    def drained(n: Int): Seq[(String, String, Long)] = {
      q.processAllAvailable()
      spark.table("cdc_tomb").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.drop(n)
    }
    try {
      // batch 1: two live keys + a delete of a never-seen key (silent)
      source.addData(v("A", 0, 1, "UNKNOWN"), v("B", 0, 2, "UNKNOWN"),
        v("X", 0, 3, "FEW_SEATS_AVAILABLE"))
      val b1 = drained(0)
      assert(b1.toSet == Set(("A", "added", 1L), ("B", "added", 2L)),
        s"delete of an absent key must not emit: $b1")
      // batch 2: planted delete for A (removed), newer live for B (changed)
      source.addData(v("A", 10, 4, "FEW_SEATS_AVAILABLE"), v("B", 10, 5, "UNKNOWN"))
      val b2 = drained(b1.size)
      assert(b2.toSet == Set(("A", "removed", 4L), ("B", "changed", 5L)), s"$b2")
      // batch 3: an OLDER live record for A loses the argmax to the
      // retained tombstone — dead stays dead, nothing emits
      source.addData(v("A", 5, 6, "UNKNOWN"))
      val b3 = drained(b1.size + b2.size)
      assert(b3.isEmpty, s"older live record resurrected a deleted key: $b3")
      // batch 4: a NEWER live record re-registers A
      source.addData(v("A", 20, 7, "UNKNOWN"))
      val b4 = drained(b1.size + b2.size)
      assert(b4.toSet == Set(("A", "added", 7L)), s"$b4")
    } finally q.stop()
  }

  test("tombstone CDC ≡ batch: batch-2 class SETS equal snapshotDiffTombstone's classes on the real feed") {
    import graft.queries.VehicleQueries
    val cut = batchVehicles.agg(expr("percentile(obs_id, 0.5)"))
      .collect()(0).getDouble(0)
    val oldSnap = VehicleQueries.upsertTombstone(batchVehicles.filter($"obs_id" <= cut))
      .select($"id".as("old_id"), $"obs_id".as("old_obs"))
    val newSnap = VehicleQueries.upsertTombstone(batchVehicles)
      .select($"id".as("new_id"), $"obs_id".as("new_obs"))
    val classed = newSnap.join(oldSnap, $"new_id" === $"old_id", "full_outer")
      .select(coalesce($"new_id", $"old_id").as("id"),
        when($"old_id".isNull, "added")
          .when($"new_id".isNull, "removed")
          .when($"old_obs" =!= $"new_obs", "changed")
          .otherwise("unchanged").as("ct"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val events = graft.core.Tables(spark, TestSpark.sf0001).events
    val dir = Files.createTempDirectory("graft-stream-cdct").toString
    events.filter($"event_id" <= cut).coalesce(1).write.mode("overwrite").parquet(dir)
    val q = VehicleStream.cdcPerKeyTombstone(VehicleStream.ingest(spark, dir))
      .writeStream.format("memory").queryName("cdc_tomb_eq")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("cdc_tomb_eq").count().toInt
      val tmp = Files.createTempDirectory("graft-stream-cdct2")
      events.filter($"event_id" > cut).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, Paths.get(dir, "batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val b2 = spark.table("cdc_tomb_eq").collect()
        .map(r => (r.getString(0), r.getString(1))).drop(n1)
      def ids(ct: String) = b2.collect { case (id, c) if c == ct => id }.toSet
      // added/changed/removed stream classes are exactly the batch diff's
      assert(ids("added") == classed.collect { case (id, "added") => id }.toSet)
      assert(ids("changed") == classed.collect { case (id, "changed") => id }.toSet)
      assert(ids("removed") == classed.collect { case (id, "removed") => id }.toSet)
      assert(ids("removed").nonEmpty, "testdata must exercise the removed arm in-stream")
      assert(ids("unchanged").forall(classed(_) == "unchanged"))
      val counts = VehicleQueries.snapshotDiffTombstone(batchVehicles).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.getOrElse("removed", 0L) == ids("removed").size.toLong)
    } finally q.stop()
  }

  test("streaming CDC: batch-2 added/changed ID SETS equal batch snapshotDiff's classes") {
    import graft.queries.VehicleQueries
    // the batch artifact's cut: old snapshot = upsert of obs_id <= median
    val cut = batchVehicles.agg(expr("percentile(obs_id, 0.5)"))
      .collect()(0).getDouble(0)
    // batch reference classes, per id (the full-outer classification
    // inside snapshotDiff, before its count collapse)
    val oldSnap = VehicleFeed.latest(batchVehicles.filter($"obs_id" <= cut))
      .select($"id".as("old_id"), $"obs_id".as("old_obs"))
    val newSnap = VehicleFeed.latest(batchVehicles)
      .select($"id".as("new_id"), $"obs_id".as("new_obs"))
    val classed = newSnap.join(oldSnap, $"new_id" === $"old_id", "full_outer")
      .select(coalesce($"new_id", $"old_id").as("id"),
        when($"old_id".isNull, "added")
          .when($"new_id".isNull, "removed")
          .when($"old_obs" =!= $"new_obs", "changed")
          .otherwise("unchanged").as("ct"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // stream: batch 1 = events up to the cut (obs_id == event_id),
    // batch 2 = the rest
    val events = graft.core.Tables(spark, TestSpark.sf0001).events
    val dir = Files.createTempDirectory("graft-stream-cdc").toString
    events.filter($"event_id" <= cut).coalesce(1).write.mode("overwrite").parquet(dir)
    val q = VehicleStream.cdcPerKey(VehicleStream.ingest(spark, dir))
      .writeStream.format("memory").queryName("cdc")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("cdc").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(b1.nonEmpty && b1.forall(_._2 == "added"),
        "an empty state classifies every first-batch key as added")
      // second batch arrives: a distinct part file of the remaining events
      val tmp = Files.createTempDirectory("graft-stream-cdc2")
      events.filter($"event_id" > cut).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, Paths.get(dir, "batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val b2 = spark.table("cdc").collect()
        .map(r => (r.getString(0), r.getString(1))).drop(b1.length)
      def ids(ct: String) = b2.collect { case (id, c) if c == ct => id }.toSet
      // set equality, not just counts: stream's batch-2 classes ARE the
      // batch artifact's classes
      assert(ids("added") == classed.collect { case (id, "added") => id }.toSet)
      assert(ids("changed") == classed.collect { case (id, "changed") => id }.toSet)
      // every streamed "unchanged" arrival is unchanged in the batch diff
      assert(ids("unchanged").forall(classed(_) == "unchanged"))
      // ...and the batch unchanged class is the old-snapshot remainder
      // (keys without batch-2 arrivals simply don't emit — CDC contract)
      val counts = VehicleQueries.snapshotDiff(batchVehicles).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.getOrElse("added", 0L) == ids("added").size.toLong)
      assert(counts.getOrElse("changed", 0L) == ids("changed").size.toLong)
      assert(!counts.contains("removed"), "append-only upsert cannot remove keys")
    } finally q.stop()
  }

  test("agg-merge maintainer: streamed weekly == batch q_agg_merge under out-of-order batches; replay idempotent") {
    import graft.streaming.AggMergeStream
    dropGateTables("t_aggm_partials")
    val t = graft.core.Tables(spark, TestSpark.sf0001)
    val batchOp = graft.queries.AnalyticsQueries.aggMerge(t)
      .collect().map(_.toString).sorted.toSeq
    // interleave event_ids across batches so EVERY batch carries "late"
    // rows for days earlier batches already covered — the worst-case
    // arrival order for an incremental rollup
    val chunks = (0 until 3).map(i => t.events.filter(pmod($"event_id", lit(3)) === i))
    chunks.zipWithIndex.foreach { case (c, i) =>
      AggMergeStream.mergeBatch(c, i.toLong, "t_aggm_partials", buckets = 4) }
    assert(AggMergeStream.weekly(spark, "t_aggm_partials")
      .collect().map(_.toString).sorted.toSeq == batchOp,
      "re-merged partials must equal the direct two-level rollup exactly")
    // crash replay: foreachBatch re-delivers under the SAME batch_id —
    // the WAL skip keeps partials (and therefore the report) unchanged
    val before = fresh("t_aggm_partials").count()
    AggMergeStream.mergeBatch(chunks(1), 1L, "t_aggm_partials", buckets = 4)
    assert(fresh("t_aggm_partials").count() == before, "replayed batch_id must be a no-op")
    assert(AggMergeStream.weekly(spark, "t_aggm_partials")
      .collect().map(_.toString).sorted.toSeq == batchOp)
    dropGateTables("t_aggm_partials")
    // real stream wiring: the same events through readStream/foreachBatch
    val streamDir = Files.createTempDirectory("graft-aggm").toString
    val ckpt = Files.createTempDirectory("graft-aggm-ckpt").toString
    t.events.coalesce(1).write.mode("overwrite").parquet(streamDir)
    val q = AggMergeStream.start(VehicleStream.eventStream(spark, streamDir),
      "t_aggm2_partials", ckpt, buckets = 4)
    try q.processAllAvailable() finally q.stop()
    spark.catalog.refreshTable("t_aggm2_partials")
    assert(AggMergeStream.weekly(spark, "t_aggm2_partials")
      .collect().map(_.toString).sorted.toSeq == batchOp,
      "streamed maintainer must serve the exact batch report")
    dropGateTables("t_aggm2_partials")
  }

  test("drift maintainer: cold bootstrap == batch drift vs empty prev, warm refresh == batch t_corpus_drift, replay idempotent") {
    import graft.ops.TextAnalysis
    import graft.streaming.DriftStream
    dropGateTables("t_drift_s", "t_drift_snap", "t_drift2_s", "t_drift2_snap")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    // the t_corpus_drift fixture: "yesterday" = corpus minus every
    // 50th doc, today's crawl delta restores them
    val pre = docs.filter(pmod($"doc_id", lit(50)) =!= 0)
    val delta = docs.filter(pmod($"doc_id", lit(50)) === 0)
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // ingest yesterday as two out-of-order batches; the bootstrapping
    // refresh (no snapshot yet) equals the batch card vs an EMPTY prev
    DriftStream.ingestBatch(pre.filter(pmod($"doc_id", lit(2)) === 0), 0L, "t_drift_s")
    DriftStream.ingestBatch(pre.filter(pmod($"doc_id", lit(2)) =!= 0), 1L, "t_drift_s")
    val cold = DriftStream.refresh(spark, "t_drift_s", "t_drift_snap")
    assert(show(cold) == show(batchDrift(docs.filter(lit(false)), pre)),
      "cold bootstrap must equal the batch drift card against an empty snapshot")
    // stream today's delta, then one warm refresh — must equal the
    // batch t_corpus_drift card bit-for-bit (summed partials are the
    // same integers the batch aggregate counts directly)
    DriftStream.ingestBatch(delta, 2L, "t_drift_s")
    val card = DriftStream.refresh(spark, "t_drift_s", "t_drift_snap")
    assert(show(card) == show(batchDrift(pre, docs)),
      "streamed warm refresh must equal the batch t_corpus_drift card")
    // the rotated snapshot now carries today's card (one row per source)
    assert(show(fresh("t_drift_snap").select($"source", $"n_docs")) ==
      show(docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))))
    // crash replay: a re-delivered batch_id is a no-op on the WAL
    val before = fresh("t_drift_s").count()
    DriftStream.ingestBatch(delta, 2L, "t_drift_s")
    assert(fresh("t_drift_s").count() == before, "replayed batch_id must be a no-op")
    dropGateTables("t_drift_s", "t_drift_snap")
    // real stream wiring: documents through readStream/foreachBatch,
    // then a cold refresh equals the batch card vs an empty prev
    val streamDir = Files.createTempDirectory("graft-drift").toString
    val ckpt = Files.createTempDirectory("graft-drift-ckpt").toString
    docs.select($"source", $"n_chars").coalesce(1)
      .write.mode("overwrite").parquet(streamDir)
    val docStream = spark.readStream
      .schema("source STRING, n_chars BIGINT").parquet(streamDir)
    val q = DriftStream.start(docStream, "t_drift2_s", ckpt)
    try q.processAllAvailable() finally q.stop()
    spark.catalog.refreshTable("t_drift2_s")
    val cold2 = DriftStream.refresh(spark, "t_drift2_s", "t_drift2_snap")
    assert(show(cold2) == show(batchDrift(docs.filter(lit(false)), docs)),
      "streamed counters must serve the exact batch card")
    dropGateTables("t_drift2_s", "t_drift2_snap")
  }

  test("mixture maintainer: served report == batch d_mix_report under out-of-order batches, replay idempotent, real stream wiring") {
    import graft.ops.Sampling
    import graft.streaming.MixStream
    dropGateTables("t_mix_p", "t_mix2_p")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val rates = Sampling.MixRates
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // ingest the corpus as three out-of-order batches (worst-case
    // split: membership is a pure hash of (source, doc_id), counts are
    // additive) — the served report must equal batch d_mix_report
    // bit-for-bit
    MixStream.ingestBatch(docs.filter(pmod($"doc_id", lit(3)) === 2), 0L, "t_mix_p", rates, Sampling.MixDefault)
    MixStream.ingestBatch(docs.filter(pmod($"doc_id", lit(3)) === 0), 1L, "t_mix_p", rates, Sampling.MixDefault)
    MixStream.ingestBatch(docs.filter(pmod($"doc_id", lit(3)) === 1), 2L, "t_mix_p", rates, Sampling.MixDefault)
    val served = MixStream.report(spark, "t_mix_p", rates, Sampling.MixDefault)
    assert(show(served) == show(batchMixReport(docs, rates)),
      "served audit must equal the batch d_mix_report")
    // the RE-PLAN off the same partials table: bit-equal to the batch
    // d_mix_waterfill planner over the same documents (additive token
    // cards -> the same exact-integer feasibility arithmetic)
    assert(show(MixStream.waterfillPlan(spark, "t_mix_p")) ==
      show(Sampling.mixWaterfill(docs)),
      "served re-plan must equal the batch d_mix_waterfill")
    // a PARTIAL ingest serves the audit of exactly the ingested prefix
    dropGateTables("t_mix_p")
    MixStream.ingestBatch(docs.filter(pmod($"doc_id", lit(3)) === 2), 0L, "t_mix_p", rates, Sampling.MixDefault)
    assert(show(MixStream.report(spark, "t_mix_p", rates, Sampling.MixDefault)) ==
      show(batchMixReport(docs.filter(pmod($"doc_id", lit(3)) === 2), rates)),
      "mid-stream report must equal the batch audit over the ingested prefix")
    // crash replay: a re-delivered batch_id is a no-op on the WAL
    val before = fresh("t_mix_p").count()
    MixStream.ingestBatch(docs.filter(pmod($"doc_id", lit(3)) === 2), 0L, "t_mix_p", rates, Sampling.MixDefault)
    assert(fresh("t_mix_p").count() == before, "replayed batch_id must be a no-op")
    dropGateTables("t_mix_p")
    // real stream wiring: documents through readStream/foreachBatch
    val streamDir = Files.createTempDirectory("graft-mix").toString
    val ckpt = Files.createTempDirectory("graft-mix-ckpt").toString
    docs.select($"doc_id", $"source", $"text").coalesce(1)
      .write.mode("overwrite").parquet(streamDir)
    val docStream = spark.readStream
      .schema("doc_id BIGINT, source STRING, text STRING").parquet(streamDir)
    val q = MixStream.start(docStream, "t_mix2_p", ckpt, rates, Sampling.MixDefault)
    try q.processAllAvailable() finally q.stop()
    spark.catalog.refreshTable("t_mix2_p")
    assert(show(MixStream.report(spark, "t_mix2_p", rates, Sampling.MixDefault)) ==
      show(batchMixReport(docs, rates)),
      "streamed partials must serve the exact batch audit")
    assert(show(MixStream.waterfillPlan(spark, "t_mix2_p")) ==
      show(Sampling.mixWaterfill(docs)),
      "streamed partials must serve the exact batch re-plan")
    dropGateTables("t_mix2_p")
  }

  test("rank maintainer: cold bootstrap == domainRank, warm refresh == batch d_rank_delta, replay idempotent") {
    import graft.ops.DomainGraph
    import graft.streaming.RankStream
    dropGateTables("t_rank_w", "t_rank_snap", "t_rank2_w", "t_rank2_snap")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    // the d_rank_delta fixture: "yesterday" = corpus minus every 50th
    // doc, today's crawl delta restores them
    val pre = docs.filter(pmod($"doc_id", lit(50)) =!= 0)
    val delta = docs.filter(pmod($"doc_id", lit(50)) === 0)
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // seed yesterday's edges; the bootstrapping refresh (no snapshot
    // yet) must equal the cold batch domainRank bit-for-bit
    RankStream.ingestBatch(DomainGraph.syntheticEdges(pre), 0L, "t_rank_w", buckets = 4)
    val cold = RankStream.refresh(spark, "t_rank_w", "t_rank_snap")
    assert(show(cold.select($"host", $"pagerank")) ==
      show(DomainGraph.domainRank(DomainGraph.syntheticEdges(pre))),
      "cold bootstrap must equal the batch cold rank")
    // stream today's delta as two out-of-order weight batches, then one
    // warm refresh — must equal the batch warm delta over the FULL edge
    // set from the same snapshot (weights from summed partials are the
    // same integers the batch operator counts directly)
    val chunk1 = DomainGraph.syntheticEdges(delta.filter(pmod($"doc_id", lit(100)) === 0))
    val chunk2 = DomainGraph.syntheticEdges(delta.filter(pmod($"doc_id", lit(100)) =!= 0))
    RankStream.ingestBatch(chunk1, 1L, "t_rank_w", buckets = 4)
    RankStream.ingestBatch(chunk2, 2L, "t_rank_w", buckets = 4)
    val card = RankStream.refresh(spark, "t_rank_w", "t_rank_snap")
    val batchCard = DomainGraph.domainRankDeltaFromWeights(
      DomainGraph.syntheticEdges(docs).groupBy($"src", $"dst").agg(count(lit(1)).as("w")),
      DomainGraph.domainRank(DomainGraph.syntheticEdges(pre)))
    assert(show(card) == show(batchCard),
      "streamed warm refresh must equal the batch d_rank_delta card")
    // the stored snapshot serves the refreshed ranks
    assert(show(fresh("t_rank_snap")) == show(card.select($"host", $"pagerank")))
    // crash replay: a re-delivered batch_id is a no-op on the WAL
    val before = fresh("t_rank_w").count()
    RankStream.ingestBatch(chunk1, 1L, "t_rank_w", buckets = 4)
    assert(fresh("t_rank_w").count() == before, "replayed batch_id must be a no-op")
    dropGateTables("t_rank_w", "t_rank_snap")
    // real stream wiring: edges through readStream/foreachBatch, then a
    // cold refresh off the streamed weights equals the batch cold rank
    val streamDir = Files.createTempDirectory("graft-rank").toString
    val ckpt = Files.createTempDirectory("graft-rank-ckpt").toString
    DomainGraph.syntheticEdges(docs).coalesce(1)
      .write.mode("overwrite").parquet(streamDir)
    val edgeStream = spark.readStream
      .schema("src STRING, dst STRING").parquet(streamDir)
    val q = RankStream.start(edgeStream, "t_rank2_w", ckpt, buckets = 4)
    try q.processAllAvailable() finally q.stop()
    spark.catalog.refreshTable("t_rank2_w")
    val cold2 = RankStream.refresh(spark, "t_rank2_w", "t_rank2_snap")
    assert(show(cold2.select($"host", $"pagerank")) ==
      show(DomainGraph.domainRank(DomainGraph.syntheticEdges(docs))),
      "streamed weights must serve the exact batch rank")
    dropGateTables("t_rank2_w", "t_rank2_snap")
  }

  test("rank maintainer: hitsCard off split weight partials == batch d_domain_hits bit-for-bit") {
    import graft.ops.DomainGraph
    import graft.streaming.RankStream
    dropGateTables("t_hits_w")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // three out-of-order DOCUMENT batches: the same (src, dst) pair
    // lands partial rows in several batches, so the served card
    // exercises the cross-batch weight re-merge (additive integer
    // sums + the shared exact-decimal chain)
    val e = DomainGraph.syntheticEdges(docs)
    for (k <- 0 to 2)
      RankStream.ingestBatch(
        DomainGraph.syntheticEdges(docs.filter(pmod($"doc_id", lit(3)) === (2 - k))),
        k.toLong, "t_hits_w", buckets = 4)
    assert(show(RankStream.hitsCard(spark, "t_hits_w")) ==
      show(DomainGraph.domainHitsFromWeights(
        e.groupBy($"src", $"dst").agg(count(lit(1)).as("w")))),
      "streamed weight partials must serve the exact batch HITS card")
    dropGateTables("t_hits_w")
  }

  test("WAL compaction: merged views bit-identical, replay guard survives the fold, watermark folds forward, NULL capacity stays poisoned") {
    import graft.ops.{DomainGraph, Sampling}
    import graft.streaming.{MixStream, RankStream, Wal}
    dropGateTables("t_cw_w", "t_cmix_p")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def chunk(k: Int) =
      DomainGraph.syntheticEdges(docs.filter(pmod($"doc_id", lit(3)) === k))
    val full = DomainGraph.syntheticEdges(docs)
    // three "crawl days" observing the SAME links: every (src, dst)
    // pair carries one partial row per batch, so the fold must both
    // shrink the WAL 3× and sum the weights across batches
    for (k <- 0 to 2) RankStream.ingestBatch(full, k.toLong, "t_cw_w", buckets = 4)
    val merged0 = show(RankStream.weights(spark, "t_cw_w"))
    val (b0, a0) = RankStream.compact(spark, "t_cw_w")
    assert(a0 < b0, s"compaction must shrink the WAL ($b0 -> $a0)")
    assert(show(RankStream.weights(spark, "t_cw_w")) == merged0,
      "merged weights must be bit-identical after the fold")
    // replay of a folded batch is a no-op: the watermark covers it even
    // though its own batch_id rows are gone
    val rows = fresh("t_cw_w").count()
    RankStream.ingestBatch(full, 1L, "t_cw_w", buckets = 4)
    assert(fresh("t_cw_w").count() == rows, "replayed folded batch must be a no-op")
    // a genuinely NEW batch still appends and merges on top of the fold
    RankStream.ingestBatch(chunk(0), 3L, "t_cw_w", buckets = 4)
    val expected = full.unionByName(full).unionByName(full).unionByName(chunk(0))
    val expectedW = expected.groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    assert(show(RankStream.weights(spark, "t_cw_w")) == show(expectedW))
    // a second compaction folds the previous watermark row-set + the
    // new batch; the guard then covers ids 0..3 but not 4
    RankStream.compact(spark, "t_cw_w")
    assert(show(RankStream.weights(spark, "t_cw_w")) == show(expectedW),
      "re-compaction over a watermark row-set must stay exact")
    assert((0L to 3L).forall(Wal.seen(spark, "t_cw_w", _)), "watermark must cover 0..3")
    assert(!Wal.seen(spark, "t_cw_w", 4L), "an unseen id must not be covered")
    // a derived card (HITS) served off the twice-compacted table is
    // still the batch card over the same edge multiset
    assert(show(RankStream.hitsCard(spark, "t_cw_w")) ==
      show(DomainGraph.domainHitsFromWeights(expectedW)),
      "derived cards must be unchanged by compaction")
    // mixture maintainer: a legacy (pre-token) row poisons its source's
    // folded n_tokens to NULL — the audit survives bit-for-bit, the
    // re-plan refusal stays ARMED after compaction (silent undercount
    // would be the failure mode)
    val rates = Sampling.MixRates
    Sampling.mixturePartials(docs.filter(pmod($"doc_id", lit(2)) === 0), rates, Sampling.MixDefault)
      .withColumn("batch_id", lit(0L)).write.saveAsTable("t_cmix_p")
    // batch 1 covers ALL sources (sf0.001 sources split by doc parity,
    // so a parity-complement batch would not overlap batch 0 at all —
    // the fold must merge rows, not just relabel them)
    MixStream.ingestBatch(docs, 1L, "t_cmix_p", rates, Sampling.MixDefault)
    val audit0 = show(MixStream.report(spark, "t_cmix_p", rates, Sampling.MixDefault))
    val (mb, ma) = MixStream.compact(spark, "t_cmix_p")
    assert(ma < mb, s"mix fold must shrink the WAL ($mb -> $ma)")
    assert(show(MixStream.report(spark, "t_cmix_p", rates, Sampling.MixDefault)) == audit0,
      "audit must survive compaction bit-for-bit")
    val e = intercept[IllegalArgumentException] {
      MixStream.waterfillPlan(spark, "t_cmix_p").collect()
    }
    assert(e.getMessage.contains("legacy"),
      "NULL capacity must stay loud after compaction")
    dropGateTables("t_cw_w", "t_cmix_p")
  }

  test("WAL empty batches: the id ledger advances the watermark over 0-row batches; a no-op fold skips the rewrite; a legacy mix table compacts without throwing") {
    import graft.ops.{DomainGraph, Sampling}
    import graft.streaming.{MixStream, RankStream, Wal}
    dropGateTables("t_ce_w", "t_ce_w__wal_ids", "t_ce_mix", "t_ce_mix__wal_ids")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def partFiles(table: String): Set[String] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location
      new java.io.File(loc).listFiles().map(_.getName)
        .filter(_.startsWith("part-")).toSet
    }
    val full = DomainGraph.syntheticEdges(docs)
    val none = full.filter(lit(false))
    // batch 1 delivers ZERO edges — pre-fix its id left a permanent
    // hole and the watermark could never pass 0
    RankStream.ingestBatch(full, 0L, "t_ce_w", buckets = 4)
    RankStream.ingestBatch(none, 1L, "t_ce_w", buckets = 4)
    RankStream.ingestBatch(full, 2L, "t_ce_w", buckets = 4)
    assert(Wal.seen(spark, "t_ce_w", 1L),
      "an empty batch must be replay-skippable before any compaction")
    val merged0 = show(RankStream.weights(spark, "t_ce_w"))
    val (b0, a0) = RankStream.compact(spark, "t_ce_w")
    assert(a0 < b0, s"fold must shrink the WAL ($b0 -> $a0)")
    assert((0L to 2L).forall(Wal.seen(spark, "t_ce_w", _)),
      "the watermark must advance OVER the empty id")
    assert(!Wal.seen(spark, "t_ce_w", 3L))
    assert(!spark.catalog.tableExists("t_ce_w__wal_ids"),
      "ledger ids covered by the stored watermark must be pruned")
    assert(show(RankStream.weights(spark, "t_ce_w")) == merged0)
    // replay of the (pruned) empty batch stays a no-op via the watermark
    RankStream.ingestBatch(none, 1L, "t_ce_w", buckets = 4)
    assert(!spark.catalog.tableExists("t_ce_w__wal_ids"),
      "a watermark-covered replay must not re-enter the ledger")
    // NO-OP fold: nothing new arrived — compaction must skip both table
    // rewrites entirely (same part-files), not burn a double rewrite
    val files0 = partFiles("t_ce_w")
    val (b1, a1) = RankStream.compact(spark, "t_ce_w")
    assert(b1 == a1)
    assert(partFiles("t_ce_w") == files0, "a no-op fold must not rewrite the table")
    // TRAILING empty batch: the watermark may not advance via a fold
    // (an empty-prefix fold would write a zero-row set and lose it) —
    // the id stays ledger-covered, the table untouched
    RankStream.ingestBatch(none, 3L, "t_ce_w", buckets = 4)
    RankStream.compact(spark, "t_ce_w")
    assert(Wal.seen(spark, "t_ce_w", 3L),
      "a trailing empty id must stay seen after a fold-less compact")
    assert(partFiles("t_ce_w") == files0)
    assert(spark.catalog.tableExists("t_ce_w__wal_ids"),
      "an uncovered ledger id must survive the compact")
    // the next data batch folds it under the advanced watermark
    RankStream.ingestBatch(full, 4L, "t_ce_w", buckets = 4)
    RankStream.compact(spark, "t_ce_w")
    assert((0L to 4L).forall(Wal.seen(spark, "t_ce_w", _)))
    assert(!spark.catalog.tableExists("t_ce_w__wal_ids"))
    val expected = full.unionByName(full).unionByName(full)
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    assert(show(RankStream.weights(spark, "t_ce_w")) == show(expected),
      "three data batches (empty ones contribute nothing) must survive the folds")
    // legacy pre-token mix partials reaching compaction BEFORE any
    // post-upgrade ingest: compact must upgrade the schema in place
    // instead of throwing on the missing n_tokens column
    val rates = Sampling.MixRates
    Sampling.mixturePartials(docs, rates, Sampling.MixDefault)
      .withColumn("batch_id", lit(0L)).write.saveAsTable("t_ce_mix")
    val audit0 = show(MixStream.report(spark, "t_ce_mix", rates, Sampling.MixDefault))
    MixStream.compact(spark, "t_ce_mix") // pre-fix: threw on schema("n_tokens")
    assert(spark.table("t_ce_mix").columns.contains("n_tokens"))
    assert(show(MixStream.report(spark, "t_ce_mix", rates, Sampling.MixDefault)) == audit0,
      "the audit must survive the upgrading compact bit-for-bit")
    dropGateTables("t_ce_w", "t_ce_w__wal_ids", "t_ce_mix", "t_ce_mix__wal_ids")
  }

  test("maintenanceTick: one idempotent call composes WAL folds, store compaction and the refit check; replay re-runs nothing; a quiet tick rewrites nothing") {
    import graft.streaming.{AnnStream, Maintenance, MixStream, RankStream}
    import graft.core.{Catalog, Store}
    import graft.ops.{DomainGraph, Sampling, Similarity}
    val tickTables = Seq("t_tick_w", "t_tick_w__wal_ids", "t_tick_mix",
      "t_tick_mix__wal_ids", "t_tick_log", "t_tick_counters", "t_tick_sigs")
    dropGateTables(tickTables: _*)
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def partFiles(table: String): Set[String] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location
      new java.io.File(loc).listFiles().map(_.getName)
        .filter(_.startsWith("part-")).toSet
    }
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    val rates = Sampling.MixRates
    val full = DomainGraph.syntheticEdges(docs)
    // two batches per maintainer → the first fold has real work
    for (k <- 0 to 1) {
      RankStream.ingestBatch(full, k.toLong, "t_tick_w", buckets = 4)
      MixStream.ingestBatch(docs, k.toLong, "t_tick_mix", rates, Sampling.MixDefault)
    }
    // a fragmented store table: publish + incremental append
    Store.saveMinhashSignatures(spark, TestSpark.sf0001, buckets = 2, table = "t_tick_sigs")
    Store.refreshMinhashSignatures(spark,
      docs.select(($"doc_id" + 10000000L).as("doc_id"),
        concat($"text", lit(" tick rep")).as("text"), $"lang", $"source", $"n_chars"),
      buckets = 2, table = "t_tick_sigs")
    assert(Store.dataFileCount(spark, "t_tick_sigs") > 2,
      "fixture must start fragmented")
    // quiet refit world: fit-distribution arrivals, one-row delete
    val embs = graft.core.Tables(spark, TestSpark.sf0001).embeddings
    val (_, assigned) = Catalog.ivfIndex(spark, TestSpark.sf0001)
    val fitSnap = AnnStream.fitSnapshot(embs).cache()
    val listSnap = AnnStream.listSizeSnapshot(assigned).cache()
    try {
      AnnStream.deleteBatch(
        assigned.filter($"cluster" === 0).limit(1).select($"vec_id"),
        assigned, 0L, "t_tick_counters")
      val walJobs = Seq(
        Maintenance.WalJob("t_tick_w", s => RankStream.compact(s, "t_tick_w")),
        Maintenance.WalJob("t_tick_mix", s => MixStream.compact(s, "t_tick_mix")))
      val storeJobs = Seq(Maintenance.StoreJob("t_tick_sigs", "doc_id", 2))
      val refitJob = Some(Maintenance.RefitJob(embs, fitSnap, listSnap, "t_tick_counters"))
      val weights0 = show(RankStream.weights(spark, "t_tick_w"))
      val audit0 = show(MixStream.report(spark, "t_tick_mix", rates, Sampling.MixDefault))
      def tickMap(id: Long) =
        Maintenance.tick(spark, id, walJobs, storeJobs, refitJob,
        logTable = "t_tick_log")
          .collect().map(r => (r.getAs[String]("action"), r.getAs[String]("target")) ->
            ((r.getAs[Long]("before"), r.getAs[Long]("after"), r.getAs[Boolean]("acted"))))
          .toMap
      // FIRE: folds shrink, store compacts, refit stays quiet
      val t1 = tickMap(1L)
      assert(t1(("wal_compact", "t_tick_w"))._3 && t1(("wal_compact", "t_tick_mix"))._3,
        s"first tick must fold real WAL growth: $t1")
      assert(t1(("store_compact", "t_tick_sigs"))._3)
      assert(!t1(("refit_check", "t_tick_counters"))._3,
        "neither refit arm may fire on a quiet world")
      assert(Store.dataFileCount(spark, "t_tick_sigs") == 2,
        "store table compacted to one file per bucket")
      assert(show(RankStream.weights(spark, "t_tick_w")) == weights0 &&
        show(MixStream.report(spark, "t_tick_mix", rates, Sampling.MixDefault)) == audit0,
        "served state must be bit-identical across the tick")
      // REPLAY of tick 1: nothing re-runs, the original rows come back
      val files1 = (partFiles("t_tick_w"), partFiles("t_tick_mix"))
      assert(tickMap(1L) == t1, "a replayed tick must return its original decisions")
      assert((partFiles("t_tick_w"), partFiles("t_tick_mix")) == files1,
        "a replayed tick must not rewrite anything")
      // QUIET tick 2: every action logs acted = false, zero rewrites
      val t2 = tickMap(2L)
      assert(t2.values.forall(!_._3), s"a quiet tick must act on nothing: $t2")
      assert((partFiles("t_tick_w"), partFiles("t_tick_mix")) == files1,
        "a quiet tick must not rewrite the WAL tables")
      assert(Store.dataFileCount(spark, "t_tick_sigs") == 2)
      assert(spark.table("t_tick_log").select($"tick_id").distinct().count() == 2)
      // LOUD world: the takedown wave flips the refit leg
      AnnStream.deleteBatch(
        assigned.filter(!Similarity.takedownLive).select($"vec_id"),
        assigned, 1L, "t_tick_counters")
      val t3 = tickMap(3L)
      assert(t3(("refit_check", "t_tick_counters"))._3,
        "the volume arm must recommend a refit after the takedown")
    } finally {
      fitSnap.unpersist(); listSnap.unpersist()
      dropGateTables(tickTables: _*)
    }
  }

  test("maintenance scheduler: a started ticker fires ticks with checkpointed ids; a restart resumes the sequence without re-running fired ids") {
    import graft.streaming.{Maintenance, RankStream}
    import graft.ops.DomainGraph
    val tables = Seq("t_sched_w", "t_sched_w__wal_ids", "t_sched_log")
    dropGateTables(tables: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    for (k <- 0 to 1)
      RankStream.ingestBatch(DomainGraph.syntheticEdges(docs), k.toLong,
        "t_sched_w", buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sched").toString
    val wal = Seq(Maintenance.WalJob("t_sched_w",
      s => RankStream.compact(s, "t_sched_w")))
    def fired(): Long =
      if (!spark.catalog.tableExists("t_sched_log")) 0L
      else fresh("t_sched_log").select($"tick_id").distinct().count()
    def awaitTicks(atLeast: Long): Unit = {
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (fired() < atLeast && System.nanoTime() < deadline) Thread.sleep(250)
      assert(fired() >= atLeast, s"scheduler fired only ${fired()} tick(s)")
    }
    val q = Maintenance.start(spark, intervalSec = 1, checkpointDir = ckpt,
      wal = wal, logTable = "t_sched_log")
    try awaitTicks(2L) finally q.stop()
    val firstRun = fresh("t_sched_log").select($"tick_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // the first fired tick folded the two batches; later ones were
    // quiet (acted=false) — the no-op guard held under the scheduler
    val acted = fresh("t_sched_log")
      .filter($"action" === "wal_compact" && $"acted").count()
    assert(acted == 1L, s"exactly one tick had fold work, got $acted")
    // RESTART from the same checkpoint: the id sequence resumes PAST
    // the fired ids — none of them is re-run (their log rows stay
    // single) — and new ticks keep firing
    val q2 = Maintenance.start(spark, intervalSec = 1, checkpointDir = ckpt,
      wal = wal, logTable = "t_sched_log")
    try awaitTicks(firstRun.size + 1L) finally q2.stop()
    val perTick = fresh("t_sched_log").groupBy($"tick_id")
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(firstRun.forall(perTick(_) == 1L),
      "a resumed scheduler must not append duplicate rows for fired ids")
    assert(perTick.keySet.max > firstRun.max, "the id sequence must advance")
    dropGateTables(tables: _*)
  }

  test("WAL compaction: an id gap holds the watermark (first ingest of the missing id survives); a crash-leftover fold recovers, preserving post-crash appends") {
    import graft.ops.DomainGraph
    import graft.streaming.{RankStream, Wal}
    dropGateTables("t_cg_w", "t_cg_w__wal_fold")
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val full = DomainGraph.syntheticEdges(docs)
    // ids 0 and 2 arrive; id 1 is still in flight — the fold must stop
    // the watermark at 0 and pass id 2's rows through un-folded, or id
    // 1's FIRST ingest would be silently treated as a replay
    RankStream.ingestBatch(full, 0L, "t_cg_w", buckets = 4)
    RankStream.ingestBatch(full, 2L, "t_cg_w", buckets = 4)
    val merged0 = show(RankStream.weights(spark, "t_cg_w"))
    RankStream.compact(spark, "t_cg_w")
    assert(show(RankStream.weights(spark, "t_cg_w")) == merged0)
    assert(Wal.seen(spark, "t_cg_w", 0L) && Wal.seen(spark, "t_cg_w", 2L))
    assert(!Wal.seen(spark, "t_cg_w", 1L), "the gap id must NOT be covered")
    RankStream.ingestBatch(full, 1L, "t_cg_w", buckets = 4)
    val expect3 = full.unionByName(full).unionByName(full)
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    assert(show(RankStream.weights(spark, "t_cg_w")) == show(expect3),
      "the late gap batch must still be counted")
    // now contiguous: the next fold advances over all three ids
    RankStream.compact(spark, "t_cg_w")
    assert((0L to 2L).forall(Wal.seen(spark, "t_cg_w", _)))
    assert(show(RankStream.weights(spark, "t_cg_w")) == show(expect3))
    // crash simulation: the fold's durable side copy exists, the main
    // table was lost mid-swap, and a resumed writer landed batch 3 in a
    // RE-CREATED main before any compaction ran — recovery must restore
    // the side state AND keep the post-crash batch
    val snap = graft.ops.DupClusters.materialize(spark.table("t_cg_w"))
    snap.write.bucketBy(4, "src").saveAsTable("t_cg_w__wal_fold")
    graft.ops.DupClusters.release(snap)
    spark.sql("DROP TABLE t_cg_w")
    RankStream.ingestBatch(full, 3L, "t_cg_w", buckets = 4)
    RankStream.compact(spark, "t_cg_w")
    val expect4 = expect3.select($"src", $"dst", $"w")
      .unionByName(full.groupBy($"src", $"dst").agg(count(lit(1)).as("w")))
      .groupBy($"src", $"dst").agg(sum($"w").as("w"))
    assert(show(RankStream.weights(spark, "t_cg_w")) == show(expect4),
      "recovery must union the side copy with the post-crash batch")
    assert((0L to 3L).forall(Wal.seen(spark, "t_cg_w", _)))
    assert(!spark.catalog.tableExists("t_cg_w__wal_fold"), "the side copy must be dropped")
    dropGateTables("t_cg_w", "t_cg_w__wal_fold")
  }

  test("text-model staleness signal (r16): same-distribution arrivals quiet, stream ≡ batch; concentrated drift fires the cosine arm; a sparse fit fires the unseen-bucket arm; replay + ledger + compaction + tick leg") {
    import graft.streaming.{Maintenance, ModelStream, Wal}
    val ts = Seq("t_ms_ctr", "t_ms_ctr__wal_ids", "t_ms_ctr__wal_fold",
      "t_ms_ctr2", "t_ms_mlog")
    dropGateTables(ts: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
      .select($"doc_id", $"text", $"source")
    val fitSnap = graft.ops.DupClusters.materialize(ModelStream.fitSnapshot(docs))
    // before any arrivals: no counters table -> no evidence, quiet
    assert(!ModelStream.refitRecommended(spark, fitSnap, "t_ms_ctr"))
    // arrivals = the SAME corpus split into two out-of-order batches;
    // counts are additive, so the merged distribution is EXACTLY the
    // fit distribution -> cosine exactly 1.0, zero unseen mass, quiet
    ModelStream.ingestBatch(docs.filter($"doc_id" % 2 === 1), 1L, "t_ms_ctr")
    ModelStream.ingestBatch(docs.filter($"doc_id" % 2 === 0), 0L, "t_ms_ctr")
    def card() = ModelStream.signal(fitSnap,
      ModelStream.mergedCounts(spark, "t_ms_ctr")).collect()(0)
    val quiet = card()
    assert(quiet.getAs[Double]("drift_cos") == 1.0 &&
      quiet.getAs[Double]("unseen_frac") == 0.0 &&
      !quiet.getAs[Boolean]("refit_recommended"), s"quiet card: $quiet")
    // stream ≡ batch: the merged counters equal the one-shot batch
    // distribution bit-for-bit
    val oneShot = ModelStream.fitSnapshot(docs)
      .withColumnRenamed("n_fit", "n")
    assert(ModelStream.mergedCounts(spark, "t_ms_ctr")
      .exceptAll(oneShot).count() == 0)
    assert(oneShot.exceptAll(
      ModelStream.mergedCounts(spark, "t_ms_ctr")).count() == 0)
    // replay: the re-delivered batch_id is a no-op on the counters
    val n0 = spark.table("t_ms_ctr").count()
    ModelStream.ingestBatch(docs.filter($"doc_id" % 2 === 0), 0L, "t_ms_ctr")
    assert(spark.table("t_ms_ctr").count() == n0)
    // a featureless batch (every doc < 2 tokens) lands in the WAL
    // ledger, not the counters — and the watermark can advance over it
    ModelStream.ingestBatch(Seq((900L, "solo", "crawl"))
      .toDF("doc_id", "text", "source"), 2L, "t_ms_ctr")
    assert(spark.table("t_ms_ctr").count() == n0)
    assert(Wal.seen(spark, "t_ms_ctr", 2L), "the empty batch must be ledgered")
    // compaction folds the batch rows; the merged card is unchanged
    val (cb, ca) = ModelStream.compact(spark, "t_ms_ctr")
    assert(ca < cb, s"the fold must shrink the WAL: ($cb, $ca)")
    assert((0L to 2L).forall(Wal.seen(spark, "t_ms_ctr", _)))
    val afterFold = card()
    assert(afterFold.getAs[Double]("drift_cos") == 1.0 &&
      !afterFold.getAs[Boolean]("refit_recommended"))
    // DRIFT arm: an arrival WINDOW whose distribution concentrates in
    // one bucket (every bigram identical) collapses the cosine far
    // below minCos — measured on its own accumulation window (a fresh
    // counters table: the deployment pattern is one window per
    // model-refresh interval, rotated like DriftStream's snapshot)
    val repetitive = (1 to 40).map(i =>
      (1000L + i, Seq.fill(30)("graftdrift").mkString(" "), "crawl"))
      .toDF("doc_id", "text", "source")
    ModelStream.ingestBatch(repetitive, 0L, "t_ms_ctr2")
    val drifted = ModelStream.signal(fitSnap,
      ModelStream.mergedCounts(spark, "t_ms_ctr2")).collect()(0)
    assert(drifted.getAs[Double]("drift_cos") < 0.98 &&
      drifted.getAs[Boolean]("refit_recommended"),
      s"concentrated arrivals must fire the drift arm: $drifted")
    assert(ModelStream.refitRecommended(spark, fitSnap, "t_ms_ctr2"))
    // UNSEEN arm in isolation: a fit snapshot from a 2-doc corpus
    // leaves most of the 256 buckets unpopulated; the full corpus then
    // arrives mostly in unseen buckets — with the cosine arm disabled
    // (minCos = -1) only the unseen-mass arm can recommend
    val sparseFit = graft.ops.DupClusters.materialize(
      ModelStream.fitSnapshot(docs.limit(2)))
    val unseen = ModelStream.signal(sparseFit,
      ModelStream.mergedCounts(spark, "t_ms_ctr"), minCos = -1.0)
      .collect()(0)
    assert(unseen.getAs[Double]("unseen_frac") > 0.05 &&
      unseen.getAs[Boolean]("refit_recommended"),
      s"unseen-bucket mass must fire on a sparse fit: $unseen")
    // the composed tick RECORDS the recommendation: quiet on the
    // same-distribution window, firing on the drifted one
    val log = Maintenance.tick(spark, 0L,
      textRefit = Some(Maintenance.TextRefitJob(fitSnap, "t_ms_ctr")),
      logTable = "t_ms_mlog").collect()
    val row = log.find(_.getAs[String]("action") == "text_refit_check").get
    assert(!row.getAs[Boolean]("acted") && row.getAs[String]("target") == "t_ms_ctr")
    val log2 = Maintenance.tick(spark, 1L,
      textRefit = Some(Maintenance.TextRefitJob(fitSnap, "t_ms_ctr2")),
      logTable = "t_ms_mlog").collect()
    assert(log2.find(_.getAs[String]("action") == "text_refit_check").get
      .getAs[Boolean]("acted"), "the drifted window's tick must recommend")
    graft.ops.DupClusters.release(fitSnap)
    graft.ops.DupClusters.release(sparseFit)
    dropGateTables(ts: _*)
  }

  test("text-model refit loop closes (r16): drift -> recommend -> refit -> window rotation -> quiet; pre-rotation replays no-op; the new window's compaction bridges the id gap") {
    import graft.streaming.{ModelStream, Wal}
    val ts = Seq("t_mr_ctr", "t_mr_ctr__wal_ids", "t_mr_ctr__wal_ids__side",
      "t_mr_ctr__wal_fold")
    dropGateTables(ts: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
      .select($"doc_id", $"text", $"source")
    val fitSnap0 = graft.ops.DupClusters.materialize(ModelStream.fitSnapshot(docs))
    // a drifted regime arrives over batches 0..2 (every bigram in one
    // unseen-shape bucket) — the signal recommends a refit
    def driftBatch(id: Long): org.apache.spark.sql.DataFrame =
      (1 to 20).map(i => (5000L + id * 100 + i,
        Seq.fill(20)("graftrotate").mkString(" "), "crawl"))
        .toDF("doc_id", "text", "source")
    (0L to 2L).foreach(b => ModelStream.ingestBatch(driftBatch(b), b, "t_mr_ctr"))
    assert(ModelStream.refitRecommended(spark, fitSnap0, "t_mr_ctr"))
    // the consumer refits on the grown corpus (old ∪ the drifted docs)
    // and ROTATES the window
    val refitCorpus = docs.unionByName(
      (0L to 2L).map(driftBatch).reduce(_ unionByName _))
    val fitSnap1 = graft.ops.DupClusters.materialize(
      ModelStream.fitSnapshot(refitCorpus))
    ModelStream.rotate(spark, "t_mr_ctr")
    assert(!spark.catalog.tableExists("t_mr_ctr"), "rotation resets the window")
    // the fresh window carries no evidence yet
    assert(!ModelStream.refitRecommended(spark, fitSnap1, "t_mr_ctr"))
    // a PRE-rotation batch id replayed into the fresh window is a
    // no-op (its contribution belongs to the retired window)
    ModelStream.ingestBatch(driftBatch(1L), 1L, "t_mr_ctr")
    assert(!spark.catalog.tableExists("t_mr_ctr"),
      "a replayed pre-rotation id must not seed the fresh window")
    // arrivals matching the REFIT corpus's mix are now QUIET against
    // the refreshed snapshot (ids resume where the checkpoint left off)
    ModelStream.ingestBatch(refitCorpus.filter($"doc_id" % 2 === 0), 3L, "t_mr_ctr")
    ModelStream.ingestBatch(refitCorpus.filter($"doc_id" % 2 === 1), 4L, "t_mr_ctr")
    val card = ModelStream.signal(fitSnap1,
      ModelStream.mergedCounts(spark, "t_mr_ctr")).collect()(0)
    assert(card.getAs[Double]("drift_cos") == 1.0 &&
      card.getAs[Double]("unseen_frac") == 0.0 &&
      !card.getAs[Boolean]("refit_recommended"),
      s"the refreshed model must be quiet on the regime it was refit for: $card")
    // compaction ENGAGES across the rotation's id gap: the ledger
    // watermark seeds the fold floor, so ids 3..4 fold even though
    // 0..2 never landed in this window's data table
    val (cb, ca) = ModelStream.compact(spark, "t_mr_ctr")
    assert(ca < cb, s"the new window's fold must engage across the gap: ($cb, $ca)")
    assert((0L to 4L).forall(Wal.seen(spark, "t_mr_ctr", _)))
    // and the merged card is fold-invariant
    val card2 = ModelStream.signal(fitSnap1,
      ModelStream.mergedCounts(spark, "t_mr_ctr")).collect()(0)
    assert(card2.getAs[Double]("drift_cos") == card.getAs[Double]("drift_cos"))
    graft.ops.DupClusters.release(fitSnap0)
    graft.ops.DupClusters.release(fitSnap1)
    dropGateTables(ts: _*)
  }

  test("WAL fold recovery is itself crash-safe (r16b): the recovered union goes durable before main is touched; every crash window re-runs to convergence") {
    import graft.ops.DomainGraph
    import graft.streaming.{RankStream, Wal}
    val ts = Seq("t_cs_w", "t_cs_w__wal_fold", "t_cs_w__wal_fold2",
      "t_cs_w__wal_fold_ok", "t_cs_w__wal_ids")
    dropGateTables(ts: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def noTemps(): Unit = ts.tail.foreach(t =>
      assert(!spark.catalog.tableExists(t), s"$t must be dropped"))
    val full = DomainGraph.syntheticEdges(docs)
    (0L to 2L).foreach(RankStream.ingestBatch(full, _, "t_cs_w", buckets = 4))
    RankStream.compact(spark, "t_cs_w")
    def plantCrash(extraId: Long): Unit = {
      // crash #1 mid-swap: side is the only durable copy; a resumed
      // writer lands extraId in a re-created main before recovery runs
      val snap = graft.ops.DupClusters.materialize(spark.table("t_cs_w"))
      snap.write.bucketBy(4, "src").saveAsTable("t_cs_w__wal_fold")
      graft.ops.DupClusters.release(snap)
      spark.sql("DROP TABLE t_cs_w")
      RankStream.ingestBatch(full, extraId, "t_cs_w", buckets = 4)
    }
    def expectN(n: Int) = {
      var u = full
      (2 to n).foreach(_ => u = u.unionByName(full))
      u.groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    }
    // window A: recovery crashed mid-union-write — side2 exists but is
    // PARTIAL (here: a 1-row garbage subset), no marker. The re-run
    // must discard it and rebuild from side + main (extras preserved).
    plantCrash(3L)
    spark.table("t_cs_w__wal_fold").limit(1)
      .write.bucketBy(4, "src").saveAsTable("t_cs_w__wal_fold2")
    RankStream.compact(spark, "t_cs_w")
    assert(show(RankStream.weights(spark, "t_cs_w")) == show(expectN(4)),
      "window A: partial union copy discarded, extras preserved")
    assert((0L to 3L).forall(Wal.seen(spark, "t_cs_w", _)))
    noTemps()
    // window B: union write + marker completed, then the main rewrite
    // crashed with main FULLY LOST — the harshest state the r16
    // in-place recovery could not survive. The durable union copy must
    // restore main including the extras that lived only in main.
    plantCrash(4L)
    val union = graft.ops.DupClusters.materialize(
      spark.table("t_cs_w__wal_fold")
        .unionByName(spark.table("t_cs_w").filter($"batch_id" === 4L)))
    union.write.bucketBy(4, "src").saveAsTable("t_cs_w__wal_fold2")
    graft.ops.DupClusters.release(union)
    spark.range(1).select(lit(1L).as("ok"))
      .write.saveAsTable("t_cs_w__wal_fold_ok")
    spark.sql("DROP TABLE t_cs_w")
    RankStream.compact(spark, "t_cs_w")
    assert(show(RankStream.weights(spark, "t_cs_w")) == show(expectN(5)),
      "window B: the durable union copy restores main with its extras")
    assert((0L to 4L).forall(Wal.seen(spark, "t_cs_w", _)))
    noTemps()
    // window C: orphan marker (crash between the two teardown drops
    // left marker gone... then a manual state with marker but no
    // side2) — the rebuild branch must drop it and still converge.
    plantCrash(5L)
    spark.range(1).select(lit(1L).as("ok"))
      .write.saveAsTable("t_cs_w__wal_fold_ok")
    RankStream.compact(spark, "t_cs_w")
    assert(show(RankStream.weights(spark, "t_cs_w")) == show(expectN(6)),
      "window C: orphan marker discarded, recovery converges")
    noTemps()
    dropGateTables(ts: _*)
  }

  test("WAL ledger prune is crash-durable: kept ids survive a mid-rewrite crash, seen() sees through the window, post-crash ids preserved") {
    import graft.ops.DomainGraph
    import graft.streaming.{RankStream, Wal}
    val ts = Seq("t_lp_w", "t_lp_w__wal_fold", "t_lp_w__wal_ids", "t_lp_w__wal_ids__side")
    dropGateTables(ts: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val full = DomainGraph.syntheticEdges(docs)
    val none = full.filter(lit(false))
    // ids 0(data) 1(empty) 2(data) land; 4(empty) sits beyond the gap
    // at 3 — the fold covers 0..2, so the prune must KEEP ledger id 4
    RankStream.ingestBatch(full, 0L, "t_lp_w", buckets = 4)
    RankStream.ingestBatch(none, 1L, "t_lp_w", buckets = 4)
    RankStream.ingestBatch(full, 2L, "t_lp_w", buckets = 4)
    RankStream.ingestBatch(none, 4L, "t_lp_w", buckets = 4)
    RankStream.compact(spark, "t_lp_w")
    val ledger0 = spark.table("t_lp_w__wal_ids").collect().map(_.getLong(0)).toSet
    assert(ledger0 == Set(4L, -3L),
      s"partial prune = kept id + watermark tombstone, got $ledger0")
    assert(Wal.seen(spark, "t_lp_w", 1L) && Wal.seen(spark, "t_lp_w", 4L)
      && !Wal.seen(spark, "t_lp_w", 3L))
    // crash mid-prune: the durable side copy exists, the ledger itself
    // was lost, and a resumed writer recorded a NEW empty id 5 in a
    // re-created ledger before any compaction ran
    val snap = graft.ops.DupClusters.materialize(spark.table("t_lp_w__wal_ids"))
    snap.write.saveAsTable("t_lp_w__wal_ids__side")
    graft.ops.DupClusters.release(snap)
    spark.sql("DROP TABLE t_lp_w__wal_ids")
    assert(Wal.seen(spark, "t_lp_w", 4L),
      "seen must see the kept id through the crash window (side copy)")
    Wal.markEmpty(spark, "t_lp_w", 5L)
    // recovery on the next compact: side ∪ post-crash id, side dropped
    RankStream.compact(spark, "t_lp_w")
    assert(!spark.catalog.tableExists("t_lp_w__wal_ids__side"))
    val rec = spark.table("t_lp_w__wal_ids").collect().map(_.getLong(0)).toSet
    assert(rec.filter(_ >= 0L) == Set(4L, 5L),
      s"recovery must keep the kept id AND the post-crash id, got $rec")
    assert(Seq(1L, 4L, 5L).forall(Wal.seen(spark, "t_lp_w", _))
      && !Wal.seen(spark, "t_lp_w", 3L))
    // the gap fills: the fold advances over everything, the fully
    // covered ledger is dropped, and the merged weights are exact
    RankStream.ingestBatch(full, 3L, "t_lp_w", buckets = 4)
    RankStream.compact(spark, "t_lp_w")
    assert((0L to 5L).forall(Wal.seen(spark, "t_lp_w", _)))
    assert(!spark.catalog.tableExists("t_lp_w__wal_ids"),
      "a fully covered ledger is dropped (covered ids live under the main watermark)")
    val expect3 = full.unionByName(full).unionByName(full)
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    assert(show(RankStream.weights(spark, "t_lp_w")) == show(expect3))
    dropGateTables(ts: _*)
  }

  test("WAL ledger recovery is itself crash-safe (r16): append-only — any intermediate state re-runs to convergence without losing ids") {
    import graft.streaming.Wal
    val ts = Seq("t_lr_w", "t_lr_w__wal_ids", "t_lr_w__wal_ids__side")
    dropGateTables(ts: _*)
    def ledger(): Set[Long] =
      spark.table("t_lr_w__wal_ids").collect().map(_.getLong(0)).toSet
    def plantSide(): Unit =
      Seq(7L, -3L).toDF("batch_id").write.mode("overwrite")
        .saveAsTable("t_lr_w__wal_ids__side")
    // the ADVICE r15 scenario: prune crashed (side = kept id 7 + wm
    // tombstone −3), a resumed writer then recorded empty id 9 in a
    // re-created ledger. Recovery must preserve BOTH — and because it
    // APPENDS instead of overwriting, no crash inside the recovery
    // can lose 9 (the pre-r16 in-place overwrite could).
    plantSide()
    Seq(9L).toDF("batch_id").write.saveAsTable("t_lr_w__wal_ids")
    Wal.compactPartials(spark, "t_lr_w", Seq("k"), Seq("n")) // main absent: recovery only
    assert(!spark.catalog.tableExists("t_lr_w__wal_ids__side"))
    assert(ledger() == Set(7L, 9L, -3L), s"recovered ledger: ${ledger()}")
    assert(Wal.seen(spark, "t_lr_w", 7L) && Wal.seen(spark, "t_lr_w", 9L)
      && Wal.seen(spark, "t_lr_w", 1L)) // 1 covered by the −3 watermark
    // crash window A: append completed, drop-side crashed — side
    // re-appears with content the ledger already carries; the re-run
    // appends nothing, drops the side, ledger unchanged
    plantSide()
    Wal.compactPartials(spark, "t_lr_w", Seq("k"), Seq("n"))
    assert(ledger() == Set(7L, 9L, -3L), "re-run must not duplicate or lose ids")
    // crash window B: append itself died half-way (ledger got 7 but
    // not the tombstone) — the re-run appends exactly the missing row
    spark.sql("DROP TABLE t_lr_w__wal_ids")
    Seq(9L, 7L).toDF("batch_id").write.saveAsTable("t_lr_w__wal_ids")
    plantSide()
    Wal.compactPartials(spark, "t_lr_w", Seq("k"), Seq("n"))
    assert(ledger() == Set(7L, 9L, -3L), "partial append converges on re-run")
    // crash window C: ledger itself was missing (never re-created) —
    // recovery creates it from the side copy alone
    spark.sql("DROP TABLE t_lr_w__wal_ids")
    plantSide()
    Wal.compactPartials(spark, "t_lr_w", Seq("k"), Seq("n"))
    assert(ledger() == Set(7L, -3L), "side-only state restores the side copy")
    dropGateTables(ts: _*)
  }

  test("maintenance tick runs WAL recovery on a MISSING main table (crash left only the fold side copy)") {
    import graft.ops.DomainGraph
    import graft.streaming.{Maintenance, RankStream}
    val ts = Seq("t_mm_w", "t_mm_w__wal_fold", "t_mm_log")
    dropGateTables(ts: _*)
    val docs = graft.core.Tables(spark, TestSpark.sf0001).documents
    def show(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val full = DomainGraph.syntheticEdges(docs)
    RankStream.ingestBatch(full, 0L, "t_mm_w", buckets = 4)
    RankStream.compact(spark, "t_mm_w")
    val merged0 = show(RankStream.weights(spark, "t_mm_w"))
    // crash state: the overwrite-saveAsTable swap dropped the main
    // table and died before recreating it — only the side copy remains
    val snap = graft.ops.DupClusters.materialize(spark.table("t_mm_w"))
    snap.write.bucketBy(4, "src").saveAsTable("t_mm_w__wal_fold")
    graft.ops.DupClusters.release(snap)
    spark.sql("DROP TABLE t_mm_w")
    // pre-r15 the tick's tableExists guard skipped this job forever
    val log = Maintenance.tick(spark, 0L,
      wal = Seq(Maintenance.WalJob("t_mm_w", s => RankStream.compact(s, "t_mm_w"))),
      logTable = "t_mm_log").collect()
    assert(log.exists(r => r.getAs[String]("action") == "wal_compact"
      && r.getAs[String]("target") == "t_mm_w"))
    assert(spark.catalog.tableExists("t_mm_w"),
      "the tick must reach compactPartials' recovery for a missing main table")
    assert(!spark.catalog.tableExists("t_mm_w__wal_fold"))
    assert(show(RankStream.weights(spark, "t_mm_w")) == merged0,
      "the recovered table serves the pre-crash merged weights")
    dropGateTables(ts: _*)
  }
}
