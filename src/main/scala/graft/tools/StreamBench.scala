package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.core.GraftSession
import graft.streaming.VehicleStream

/** Streaming state-store benchmark: replays the sf0.1 events file as N
  * micro-batches through the stateful upsert (`latestPerKey`) and the
  * watermarked window aggregation, reporting per-batch rows/sec and the
  * state-store row count. What this verifies at scale:
  *
  *  - state stays FLAT for the upsert (one row per key, no growth as
  *    batches accumulate — re-delivered keys overwrite);
  *  - throughput stays flat batch-over-batch (no per-batch cost that
  *    grows with total history — the failure mode of unbounded state);
  *  - the windowed aggregation holds only open windows (watermark
  *    eviction), not one row per event ever seen.
  *
  *   sbt "runMain graft.tools.StreamBench 5"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(5)
    // optional 2nd arg: comma-separated arm labels to run (every arm
    // otherwise — the per-round default); the cheap way to re-measure
    // one arm's flatness without paying the full battery. Requested
    // labels are validated against the arms actually visited — a typo
    // must fail loudly, not measure nothing and exit green.
    val requested: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val visited = scala.collection.mutable.Set.empty[String]
    val only: String => Boolean = { label =>
      visited += label
      requested.forall(_.contains(label))
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_STATE_STORE=rocksdb benches the provider a real
    // cluster runs (state larger than heap, incremental checkpoints);
    // default is the HDFS-backed in-memory provider
    val provider = sys.env.get("SPARK_GRAFT_STATE_STORE") match {
      case Some("rocksdb") =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case _ =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    }
    val spark = GraftSession.builder("local[8]", "graft-stream-bench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.streaming.stateStore.providerClass", provider)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"""{"state_store":"${provider.split('.').last}"}""")

    def run(label: String, mk: String => org.apache.spark.sql.streaming.DataStreamWriter[_]): Unit = {
      if (!only(label)) return
      val dir = Files.createTempDirectory(s"graft-sbench-$label").toString
      val q = mk(dir).start()
      val src = Paths.get(sfDir, "events.parquet")
      val perBatch = Seq.newBuilder[(Double, Long)]
      try {
        for (b <- 0 until batches) {
          // stage + atomic move: the running query polls the directory
          // continuously, and a plain multi-MB copy could be listed
          // mid-write (truncated parquet → query failure)
          val tmp = Paths.get(dir, s".batch$b.tmp")
          Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, Paths.get(dir, s"batch$b.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          val stateRows = q.recentProgress.reverse
            .flatMap(p => p.stateOperators.headOption).headOption
            .map(_.numRowsTotal).getOrElse(-1L)
          perBatch += ((sec, stateRows))
        }
      } finally q.stop()
      val rows = spark.read.parquet(sfDir + "/events.parquet").count()
      val line = perBatch.result().zipWithIndex.map { case ((sec, st), i) =>
        f"""{"batch":$i,"sec":$sec%.2f,"rows_per_sec":${(rows / sec).toLong},"state_rows":$st}"""
      }.mkString("[", ",", "]")
      println(s"""{"bench":"$label","batches":$batches,"rows_per_batch":$rows,"per_batch":$line}""")
    }

    run("latest_per_key", dir =>
      VehicleStream.latestPerKey(VehicleStream.ingest(spark, dir))
        .writeStream.format("noop").outputMode("update"))
    run("windowed_counts", dir =>
      VehicleStream.windowedCounts(VehicleStream.ingest(spark, dir))
        .writeStream.format("noop").outputMode("update"))

    // ---- durable-state gates (foreachBatch units, no state store):
    // per-batch cost must stay FLAT as the durable corpus grows —
    // batch b is a full near-dup replica of the corpus (worst-case
    // vetting/dedup load), so a per-batch time growing with b would
    // mean the gate re-pays corpus-sized work per ingest.
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
    def replica(b: Int) = docs.select(
      (col("doc_id") + b * 10_000_000L).as("doc_id"),
      concat(col("text"), lit(s" rep $b")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    def gateBench(label: String, tables: Seq[String])(seed: () => Unit)(admit: Int => Unit): Unit = {
      if (!only(label)) return
      tables.foreach(t => graft.core.Store.drop(spark, t))
      seed()
      val times = (1 until batches + 1).map { b =>
        val t0 = System.nanoTime(); admit(b); (System.nanoTime() - t0) / 1e9
      }
      val line = times.zipWithIndex
        .map { case (s, i) => f"""{"batch":${i + 1},"sec":$s%.2f}""" }
        .mkString("[", ",", "]")
      println(s"""{"bench":"$label","batches":$batches,"docs_per_batch":${docs.count()},"per_batch":$line}""")
      tables.foreach(t => graft.core.Store.drop(spark, t))
    }
    val gt = Seq("sb_gate_corpus", "sb_gate_fps", "sb_gate_sigs", "sb_gate_log")
    gateBench("ingest_gate", gt)(
      () => graft.streaming.IngestGate.seedCorpus(spark, docs,
        "sb_gate_corpus", "sb_gate_fps", "sb_gate_sigs"))(
      b => graft.streaming.IngestGate.admitBatch(replica(b),
        "sb_gate_corpus", "sb_gate_fps", "sb_gate_sigs", "sb_gate_log"))
    // the gate with a PRE-GROWN decision log: a per-batch `rejected`
    // derivation that semi-joined the FULL decisions log would cost ∝
    // admitted history, which a 5-batch horizon can't see. Plant a 50-batch-deep log BEFORE timing: if any
    // per-batch path still reads the log, batch times here sit far
    // above the plain ingest_gate arm's; the fixed gate (rejected
    // derived from the batch's own in-hand frames) must read FLAT and
    // comparable to ingest_gate.
    val lt = Seq("sb_lgate_corpus", "sb_lgate_fps", "sb_lgate_sigs", "sb_lgate_log")
    gateBench("ingest_gate_loggrown", lt)(
      () => {
        graft.streaming.IngestGate.seedCorpus(spark, docs,
          "sb_lgate_corpus", "sb_lgate_fps", "sb_lgate_sigs")
        // 50 synthetic prior batches' decision rows (corpus-sized each,
        // ids disjoint from every timed batch) — the standing-pipeline
        // history a log-reading gate would re-read per batch
        (0 until 50).map(g => docs.select(
            (col("doc_id") + (100 + g) * 10_000_000L).as("batch_id"),
            col("doc_id").as("corpus_id"),
            lit("exact").as("kind")))
          .reduce(_ unionByName _)
          .write.mode("append").saveAsTable("sb_lgate_log")
      })(
      b => graft.streaming.IngestGate.admitBatch(replica(b),
        "sb_lgate_corpus", "sb_lgate_fps", "sb_lgate_sigs", "sb_lgate_log"))
    // full gate + the TAKEDOWN leg: each batch first tombstones the
    // PREVIOUS batch's doc_ids (one WAL fold into the tombstone table),
    // then admits the next replica with LIVE-only vetting — per-batch
    // cost must stay flat while the tombstone set grows by a corpus per
    // batch (the anti-join's distinct-id build side, the worst case for
    // the live filter)
    val tg = Seq("sb_tgate_corpus", "sb_tgate_fps", "sb_tgate_sigs",
      "sb_tgate_log", "sb_tgate_tomb")
    gateBench("ingest_gate_takedown", tg)(
      () => graft.streaming.IngestGate.seedCorpus(spark, docs,
        "sb_tgate_corpus", "sb_tgate_fps", "sb_tgate_sigs"))(
      b => {
        graft.streaming.Takedown.tombstoneBatch(
          replica(b - 1).select(col("doc_id")), b.toLong, "sb_tgate_tomb")
        graft.streaming.IngestGate.admitBatch(replica(b),
          "sb_tgate_corpus", "sb_tgate_fps", "sb_tgate_sigs", "sb_tgate_log",
          tombstones = Some("sb_tgate_tomb"))
      })
    val st = Seq("sb_span_reg", "sb_span_out")
    gateBench("span_gate", st)(
      () => graft.streaming.SpanStream.dedupBatch(docs, "sb_span_reg", "sb_span_out"))(
      b => graft.streaming.SpanStream.dedupBatch(replica(b), "sb_span_reg", "sb_span_out"))
    // full gate + the SEMANTIC arm: every batch carries a jittered
    // copy of each base vector, so all vetted vectors are semantic dups
    // of the seeded survivors — the survivor table stays ≈ corpus size
    // and per-batch cost must stay flat (work ∝ batch × bucket)
    import org.apache.spark.sql.functions.{expr, typedlit}
    // lazy: the Lloyd fit runs driver-side jobs EAGERLY — only pay it
    // when the semantic arm is actually selected by the label filter
    lazy val emb = spark.read.parquet(sfDir + "/embeddings.parquet")
    lazy val cents = graft.ops.Similarity.ivfCentroids(emb, k = 16, iters = 2)
    def embFor(b: Int) = emb.select(
      (col("vec_id") + b * 10_000_000L).as("vec_id"), col("label"),
      expr(s"transform(embedding, (v, i) -> " +
        s"cast(v + 0.0001 * ((hash(vec_id, $b, i) % 100) / 100.0) as float))")
        .as("embedding"))
    val gs = Seq("sb_sgate_corpus", "sb_sgate_fps", "sb_sgate_sigs",
      "sb_sgate_log", "sb_sgate_surv")
    gateBench("ingest_gate_semantic", gs)(
      () => {
        graft.streaming.IngestGate.seedCorpus(spark, docs,
          "sb_sgate_corpus", "sb_sgate_fps", "sb_sgate_sigs")
        graft.streaming.IngestGate.seedSemantic(emb.withColumn("cluster",
          graft.functions.GraftFunctions.nearestCentroid(col("embedding"),
            typedlit(cents))), "sb_sgate_surv")
      })(
      b => graft.streaming.IngestGate.admitBatch(replica(b),
        "sb_sgate_corpus", "sb_sgate_fps", "sb_sgate_sigs", "sb_sgate_log",
        semantic = Some(graft.streaming.IngestGate.SemanticVet(
          embFor(b), "sb_sgate_surv", cents))))
    // full gate + the DSIR arm: a FIXED pre-trained model (the
    // localCheckpointed 256-row bucket table) + a pinned median τ;
    // per-batch cost must stay flat (scoring is a scan-side feature
    // stream + broadcast model join — corpus size never enters the arm)
    lazy val dsirModel = graft.ops.Sampling.dsirModelFromFeats(
      graft.ops.Sampling.dsirFeats(docs)).localCheckpoint()
    lazy val dsirTau = graft.ops.Sampling.dsirScore(docs, dsirModel)
      .agg(org.apache.spark.sql.functions.percentile_approx(
        col("dsir_weight"), org.apache.spark.sql.functions.lit(0.5),
        org.apache.spark.sql.functions.lit(10000)))
      .collect()(0).getDouble(0)
    val gd = Seq("sb_dgate_corpus", "sb_dgate_fps", "sb_dgate_sigs", "sb_dgate_log")
    gateBench("ingest_gate_dsir", gd)(
      () => graft.streaming.IngestGate.seedCorpus(spark, docs,
        "sb_dgate_corpus", "sb_dgate_fps", "sb_dgate_sigs"))(
      b => graft.streaming.IngestGate.admitBatch(replica(b),
        "sb_dgate_corpus", "sb_dgate_fps", "sb_dgate_sigs", "sb_dgate_log",
        dsir = Some(graft.streaming.IngestGate.DsirVet(dsirModel, dsirTau))))
    // rank maintainer: each batch appends a replica corpus's edge
    // weights (same 20-host universe — weights grow, hosts don't) and
    // runs the warm 3-iteration refresh; per-batch cost must stay FLAT
    // (ingest ∝ batch, refresh over one-row-per-host tables — neither
    // rescans raw-edge history, which is never stored at all)
    val rt = Seq("sb_rank_w", "sb_rank_snap")
    gateBench("rank_maintainer", rt)(
      () => {
        graft.streaming.RankStream.ingestBatch(
          graft.ops.DomainGraph.syntheticEdges(docs), 0L, "sb_rank_w")
        graft.ops.DupClusters.release(
          graft.streaming.RankStream.refresh(spark, "sb_rank_w", "sb_rank_snap"))
      })(
      b => {
        graft.streaming.RankStream.ingestBatch(
          graft.ops.DomainGraph.syntheticEdges(replica(b)), b.toLong, "sb_rank_w")
        // the returned card is checkpoint-materialized for the CALLER;
        // this harness only times the refresh, so release it per batch
        // (N batches would otherwise pin N cached card RDDs)
        graft.ops.DupClusters.release(
          graft.streaming.RankStream.refresh(spark, "sb_rank_w", "sb_rank_snap"))
      })
    // rank maintainer + in-loop WAL fold: same load as
    // rank_maintainer but each batch also runs Wal.compactPartials
    // before the refresh — per-batch cost must stay FLAT while the WAL
    // is held at key cardinality (one row per (src, dst) + the
    // watermark) instead of growing one row-set per batch; the fold
    // itself reads ≤ (keys + batch) rows, so it can never become the
    // bottleneck it exists to prevent
    val rct = Seq("sb_rankc_w", "sb_rankc_snap")
    gateBench("rank_maintainer_compacting", rct)(
      () => {
        graft.streaming.RankStream.ingestBatch(
          graft.ops.DomainGraph.syntheticEdges(docs), 0L, "sb_rankc_w")
        graft.ops.DupClusters.release(
          graft.streaming.RankStream.refresh(spark, "sb_rankc_w", "sb_rankc_snap"))
      })(
      b => {
        graft.streaming.RankStream.ingestBatch(
          graft.ops.DomainGraph.syntheticEdges(replica(b)), b.toLong, "sb_rankc_w")
        graft.streaming.RankStream.compact(spark, "sb_rankc_w")
        graft.ops.DupClusters.release(
          graft.streaming.RankStream.refresh(spark, "sb_rankc_w", "sb_rankc_snap"))
      })
    // drift maintainer: each batch appends a replica corpus's
    // per-source counters (same 20-source universe — counts grow,
    // sources don't) and runs the snapshot-rotating refresh; per-batch
    // cost must stay FLAT (ingest ∝ batch's source aggregate, refresh
    // over #sources-row cards — documents are never stored or
    // rescanned by the maintainer)
    val dt = Seq("sb_drift_s", "sb_drift_snap")
    gateBench("drift_maintainer", dt)(
      () => {
        graft.streaming.DriftStream.ingestBatch(docs, 0L, "sb_drift_s")
        graft.ops.DupClusters.release(
          graft.streaming.DriftStream.refresh(spark, "sb_drift_s", "sb_drift_snap"))
      })(
      b => {
        graft.streaming.DriftStream.ingestBatch(replica(b), b.toLong, "sb_drift_s")
        // release the timed refresh's materialized card (see rank arm)
        graft.ops.DupClusters.release(
          graft.streaming.DriftStream.refresh(spark, "sb_drift_s", "sb_drift_snap"))
      })
    // mixture maintainer (+ re-plan): each batch appends a
    // replica corpus's per-source (n_docs, n_kept, n_tokens) mixture
    // partials (same 20-source universe — counts grow, sources don't)
    // and serves BOTH the audit and the waterfill RE-PLAN off the
    // merged partials; per-batch cost must stay FLAT (ingest ∝ batch's
    // source aggregate, audit + re-plan over #sources-row cards —
    // documents are never stored or rescanned by the maintainer)
    // volume-trigger maintainer: each batch lands a disjoint ~1%
    // delete wave's per-list counters (deletes broadcast-join the FIXED
    // serving index, so ingest ∝ batch) and evaluates the signal off
    // the merged ≤ nlist-row counters + the fit-time list-size
    // snapshot; per-batch cost must stay FLAT (the corpus is never
    // rescanned — the index and snapshot are fixed artifacts)
    lazy val assignedIdx = emb.withColumn("cluster",
      graft.functions.GraftFunctions.nearestCentroid(col("embedding"),
        typedlit(cents))).localCheckpoint()
    lazy val listSnap = graft.streaming.AnnStream.listSizeSnapshot(assignedIdx)
      .localCheckpoint()
    val vt = Seq("sb_ann_del")
    gateBench("ann_volume_maintainer", vt)(
      () => graft.streaming.AnnStream.deleteBatch(
        assignedIdx.filter(col("vec_id") % 97 === 0).select(col("vec_id")),
        assignedIdx, 0L, "sb_ann_del"))(
      b => {
        graft.streaming.AnnStream.deleteBatch(
          assignedIdx.filter(col("vec_id") % 97 === b).select(col("vec_id")),
          assignedIdx, b.toLong, "sb_ann_del")
        graft.streaming.AnnStream.volumeSignal(listSnap,
          graft.streaming.AnnStream.mergedDeleteCounts(spark, "sb_ann_del"))
          .count()
      })
    // composed maintenance tick (+ the tombstone fold): each
    // batch lands new rank/mix partials, a disjoint delete wave and a
    // text-takedown wave, then ONE Maintenance.tick folds all four
    // WALs and evaluates the refit leg off the merged counters;
    // per-batch cost must stay FLAT — every leg is
    // individually bounded (fold ≤ keys + batch rows, refit check over
    // model-scale snapshots) and the tick itself adds only a
    // ≤ #jobs-row log append per call
    lazy val fitSnapB = graft.streaming.AnnStream.fitSnapshot(emb).localCheckpoint()
    // the text-model staleness leg rides the same tick — fit-time
    // feature-distribution snapshot (model-scale, checkpointed once)
    lazy val textSnapB = graft.streaming.ModelStream.fitSnapshot(docs).localCheckpoint()
    val tt = Seq("sb_tick_w", "sb_tick_mix", "sb_tick_del", "sb_tick_tomb",
      "sb_tick_feat", "sb_tick_log")
    gateBench("maintenance_tick", tt)(
      () => {
        graft.streaming.RankStream.ingestBatch(
          graft.ops.DomainGraph.syntheticEdges(docs), 0L, "sb_tick_w")
        graft.streaming.MixStream.ingestBatch(docs, 0L, "sb_tick_mix",
          graft.ops.Sampling.MixRates, graft.ops.Sampling.MixDefault)
        graft.streaming.AnnStream.deleteBatch(
          assignedIdx.filter(col("vec_id") % 97 === 0).select(col("vec_id")),
          assignedIdx, 0L, "sb_tick_del")
        graft.streaming.Takedown.tombstoneBatch(
          docs.filter(col("doc_id") % 97 === 0).select(col("doc_id")),
          0L, "sb_tick_tomb")
        graft.streaming.ModelStream.ingestBatch(docs, 0L, "sb_tick_feat")
      })(
      b => {
        graft.streaming.RankStream.ingestBatch(
          graft.ops.DomainGraph.syntheticEdges(replica(b)), b.toLong, "sb_tick_w")
        graft.streaming.MixStream.ingestBatch(replica(b), b.toLong, "sb_tick_mix",
          graft.ops.Sampling.MixRates, graft.ops.Sampling.MixDefault)
        graft.streaming.AnnStream.deleteBatch(
          assignedIdx.filter(col("vec_id") % 97 === b).select(col("vec_id")),
          assignedIdx, b.toLong, "sb_tick_del")
        graft.streaming.Takedown.tombstoneBatch(
          replica(b).filter(col("doc_id") % 97 === 0).select(col("doc_id")),
          b.toLong, "sb_tick_tomb")
        graft.streaming.ModelStream.ingestBatch(replica(b), b.toLong, "sb_tick_feat")
        graft.streaming.Maintenance.tick(spark, b.toLong,
          wal = Seq(
            graft.streaming.Maintenance.WalJob("sb_tick_w",
              s => graft.streaming.RankStream.compact(s, "sb_tick_w")),
            graft.streaming.Maintenance.WalJob("sb_tick_mix",
              s => graft.streaming.MixStream.compact(s, "sb_tick_mix")),
            graft.streaming.Maintenance.WalJob("sb_tick_del",
              s => graft.streaming.AnnStream.compactDeleteCounters(s, "sb_tick_del")),
            graft.streaming.Maintenance.WalJob("sb_tick_tomb",
              s => graft.streaming.Takedown.compact(s, "sb_tick_tomb")),
            graft.streaming.Maintenance.WalJob("sb_tick_feat",
              s => graft.streaming.ModelStream.compact(s, "sb_tick_feat"))),
          refit = Some(graft.streaming.Maintenance.RefitJob(
            emb, fitSnapB, listSnap, "sb_tick_del")),
          textRefit = Some(graft.streaming.Maintenance.TextRefitJob(
            textSnapB, "sb_tick_feat")),
          logTable = "sb_tick_log").count()
      })
    val mt = Seq("sb_mix_p")
    gateBench("mix_maintainer", mt)(
      () => graft.streaming.MixStream.ingestBatch(docs, 0L, "sb_mix_p",
        graft.ops.Sampling.MixRates, graft.ops.Sampling.MixDefault))(
      b => {
        graft.streaming.MixStream.ingestBatch(replica(b), b.toLong, "sb_mix_p",
          graft.ops.Sampling.MixRates, graft.ops.Sampling.MixDefault)
        graft.streaming.MixStream.report(spark, "sb_mix_p",
          graft.ops.Sampling.MixRates, graft.ops.Sampling.MixDefault).count()
        graft.streaming.MixStream.waterfillPlan(spark, "sb_mix_p").count()
      })
    spark.stop()
    requested.foreach { want =>
      val unknown = want -- visited
      if (unknown.nonEmpty) {
        System.err.println(
          s"[streambench] unknown arm label(s): ${unknown.toSeq.sorted.mkString(", ")}; " +
            s"known: ${visited.toSeq.sorted.mkString(", ")}")
        sys.exit(1)
      }
    }
  }
}
