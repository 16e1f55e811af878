package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable form of "the loaded table" — the Spark-native equivalent of
  * the reference's persisted SQLite table + indexes
  * (pipeline.go:41-58 creates `vehicles` with indexes on `updated_at`
  * and `label`; every later query reads that table, not the feed).
  *
  * The Spark analogue of a btree index on the join/grouping key is a
  * BUCKETED, SORTED parquet table: `bucketBy(n, key)` pre-partitions the
  * data by hash(key) at write time, so later joins/aggregations on that
  * key read co-located buckets and skip the shuffle entirely
  * (`Bucketed: true`, zero Exchange below the join — proven in
  * ScaleOpsSpec and StoreSpec). `sortBy(key)` gives sort-merge-ready
  * runs within each bucket. At 100 TB this is the difference between an
  * upsert+query pipeline that shuffles the corpus once per query and
  * one that shuffles it once per LOAD.
  *
  * == Snapshot semantics ==
  *
  * Every full write ([[saveVehicles]]…, and the rewrites
  * [[compact]] / [[refreshDupClusters]]) goes through a versioned
  * PUBLISH: contents land in a fresh backing table `{name}__vN`, then
  * the public name — a VIEW — is re-pointed at it in one catalog
  * operation. A rewrite therefore never overwrites the files it reads
  * (the new version's plan reads the old version), a crash mid-write
  * leaves the current version untouched, and a reader that resolved the
  * view before a swap keeps scanning the old version's files, which
  * survive until the NEXT publish retires them (current + previous are
  * retained; a reader must straddle TWO rewrites to lose its files —
  * spec-proven in StoreSpec). Maintenance writes are single-writer by
  * contract, like any OPTIMIZE job.
  *
  * Reads go through [[vehicles]] / [[minhashSignatures]] /
  * [[docFingerprints]] / [[dupClusters]], which prefer the stored
  * name when it exists and fall back to deriving in-session (the
  * Catalog cache) when it doesn't — so queries are oblivious to whether
  * the load has been made durable yet. The view is a pure name
  * indirection: scans still carry the backing table's bucket spec, so
  * the exchange-free join property survives it (spec-proven).
  */
object Store {

  val VehiclesTable = "graft_vehicles"
  val SignaturesTable = "graft_minhash_sigs"
  val FingerprintsTable = "graft_doc_fps"
  val ClustersTable = "graft_dup_clusters"
  val SemanticSurvivorsTable = "graft_semantic_survivors"
  val AnnIndexTable = "graft_ann_index"
  val MrlPrefixTable = "graft_mrl_prefix"
  val QualityModelTable = "graft_quality_model"

  // ---- versioned publish machinery ----

  private def isView(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name) && spark.catalog.getTable(name).tableType == "VIEW"

  /** All versioned backing tables of `table`, oldest first. */
  private def versionsOf(spark: SparkSession, table: String): Seq[(Long, String)] = {
    val prefix = table.toLowerCase(java.util.Locale.ROOT) + "__v"
    spark.catalog.listTables().collect().toSeq
      .map(_.name)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption.map(_ -> n))
      .sortBy(_._1)
  }

  /** The table a read of `table` currently resolves to: the backing
    * table the published VIEW actually selects from (NOT simply the
    * newest `__vN` — a crash between writing a new backing table and the
    * view swap leaves an orphan version newer than the view's target,
    * and resolving to it would append deltas invisibly / retire the
    * version in-flight readers hold), or `table` itself when it is a
    * plain (pre-versioning) table. */
  private def currentBacking(spark: SparkSession, table: String): String =
    if (isView(spark, table)) {
      val prefix = table.toLowerCase(java.util.Locale.ROOT) + "__v"
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      meta.viewText
        .flatMap("(?i)\\bfrom\\s+`?([\\w.]+)`?".r.findFirstMatchIn(_))
        .map(_.group(1).split('.').last.toLowerCase(java.util.Locale.ROOT))
        .filter(_.startsWith(prefix))
        .getOrElse(versionsOf(spark, table).last._2)
    } else table

  /** Where an APPEND to `table` must land (r15): the current backing
    * version when `table` is a published view (appending "to" a view is
    * an error; appending to the newest backing is exactly what the
    * refresh protocol does), `table` itself when plain. Lets
    * append-style writers (the ingest gate's corpus, the span registry)
    * keep working after a `Takedown.scrub` converts their plain table
    * into a versioned view. */
  private[graft] def appendTarget(spark: SparkSession, table: String): String =
    currentBacking(spark, table)

  /** Versions of `table` NEWER than the view's current target — the
    * debris of a publish that crashed between the backing-table write
    * and the view swap. */
  private def orphanVersions(spark: SparkSession, table: String): Seq[String] =
    if (!isView(spark, table)) Seq.empty
    else {
      val cur = currentBacking(spark, table)
      versionsOf(spark, table).map(_._2).dropWhile(_ != cur).drop(1)
    }

  /** Publish `df` as the new current version of `table`: write a fresh
    * bucketed backing table, swap the public view to it, retire all but
    * the immediately-previous version. The input plan may freely READ
    * `table` — it resolves to the old version, which this never touches. */
  private[graft] def publish(spark: SparkSession, df: DataFrame, table: String,
                             buckets: Int, key: String): Unit =
    publishWith(spark, df, table,
      _.bucketBy(buckets, key).sortBy(key))

  /** [[publish]] reproducing the CURRENT backing's FULL bucket spec
    * (every bucket column and any sort columns) instead of the
    * bucketBy(key).sortBy(key) default — for rewrites of tables whose
    * layout the writer does not own (e.g. `Takedown.scrub` over the
    * span registry's (bucketBy span, no sortBy) or the survivor
    * table's (bucketBy cluster, sortBy vec_id)): a partial
    * reconstruction would make the NEXT streaming append throw a
    * bucket-spec mismatch, permanently failing the gate. */
  private[graft] def publishLike(spark: SparkSession, df: DataFrame,
                                 table: String): Unit = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier(currentBacking(spark, table)))
      .bucketSpec
    publishWith(spark, df, table, w => spec match {
      case Some(bs) =>
        val wb = w.bucketBy(bs.numBuckets,
          bs.bucketColumnNames.head, bs.bucketColumnNames.tail: _*)
        if (bs.sortColumnNames.nonEmpty)
          wb.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
        else wb
      case None => w
    })
  }

  private def publishWith(spark: SparkSession, df: DataFrame, table: String,
                          layout: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]
                            => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): Unit = {
    // Clear crash debris first: backing tables newer than the view's
    // target were never published (no reader can hold them), and leaving
    // them would make the retire pass below miscount "previous".
    orphanVersions(spark, table).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val vs = versionsOf(spark, table)
    val next = vs.lastOption.map(_._1 + 1).getOrElse(1L)
    val backing = s"${table}__v$next"
    layout(df.write.mode("overwrite")).saveAsTable(backing)
    // One-time migration from a pre-versioning plain table: the name must
    // be freed for the view. (Only this migration drop can disturb an
    // in-flight reader; every subsequent rewrite is snapshot-safe.)
    if (spark.catalog.tableExists(table) && !isView(spark, table))
      spark.sql(s"DROP TABLE $table")
    // The swap is one catalog update: CREATE OR REPLACE VIEW drops the
    // old view and creates the new one, and a reader resolving the name
    // between the two fails with TABLE_OR_VIEW_NOT_FOUND.
    if (isView(spark, table)) spark.sql(s"ALTER VIEW $table AS SELECT * FROM $backing")
    else spark.sql(s"CREATE VIEW $table AS SELECT * FROM $backing")
    // keep current + previous for in-flight readers; retire older
    vs.dropRight(1).foreach { case (_, t) => spark.sql(s"DROP TABLE IF EXISTS $t") }
  }

  /** Observability for long-lived deployments: every backing version of
    * `table`, oldest first, flagged with whether it is the one the
    * published view currently serves. Non-current rows are either the
    * retained previous version (in-flight-reader insurance) or crash
    * debris — both reclaimable via [[vacuum]]. */
  def versions(spark: SparkSession, table: String): Seq[(Long, String, Boolean)] = {
    val cur =
      if (spark.catalog.tableExists(table)) currentBacking(spark, table) else ""
    versionsOf(spark, table).map { case (v, t) => (v, t, t == cur) }
  }

  /** Retention control: drop backing versions outside the newest
    * `keepVersions` (counted back from the view's CURRENT target, which
    * is always kept), plus any orphan versions newer than the target
    * (crash debris — never published, no reader can hold them). Returns
    * the dropped table names.
    *
    * The publish path itself retains current + previous, so the
    * straddle property (a reader must survive TWO rewrites to lose its
    * files) holds by default; `vacuum(keepVersions = 1)` is the
    * explicit storage-over-insurance trade for a long-lived deployment
    * that compacts often and wants old files reclaimed NOW. Same
    * single-maintenance-writer contract as [[compact]]. */
  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the current version")
    if (!isView(spark, table)) Seq.empty
    else {
      val orphans = orphanVersions(spark, table)
      val cur = currentBacking(spark, table)
      val upToCur = versionsOf(spark, table).map(_._2).takeWhile(_ != cur) :+ cur
      val stale = upToCur.dropRight(keepVersions)
      val dropped = orphans ++ stale
      dropped.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      dropped
    }
  }

  /** Drop a stored table: the public name (view or plain table) and
    * every versioned backing table, deleting their files. */
  def drop(spark: SparkSession, table: String): Unit = {
    if (spark.catalog.tableExists(table)) {
      if (isView(spark, table)) spark.sql(s"DROP VIEW $table")
      else spark.sql(s"DROP TABLE $table")
    }
    versionsOf(spark, table).foreach { case (_, t) => spark.sql(s"DROP TABLE IF EXISTS $t") }
  }

  // ---- loads ----

  /** Persist the upserted vehicles as a bucketed+sorted table keyed by
    * vehicle id (the reference's PRIMARY KEY). Bucket count is a layout
    * choice: ~(table size / target file size) on a cluster. */
  def saveVehicles(spark: SparkSession, dir: String, buckets: Int = 8,
                   table: String = VehiclesTable): Unit =
    publish(spark, Catalog.vehicles(spark, dir), table, buckets, "id")

  /** Persist the MinHash signature table bucketed by doc_id — the
    * materialized signature table SCALING.md documents (≈1% of corpus
    * bytes; amortizes signature computation across dedup runs, and
    * candidate verification joins back to it shuffle-free). */
  def saveMinhashSignatures(spark: SparkSession, dir: String, buckets: Int = 8,
                            table: String = SignaturesTable): Unit =
    publish(spark, Catalog.minhashSignatures(spark, dir), table, buckets, "doc_id")

  /** Persist the content-fingerprint table `(doc_id, norm_hash)`
    * bucketed by doc_id — the exact-dup side of the cross-corpus ingest
    * gate ([[docFingerprints]] / `Dedup.crossDedupFromSignatures`). */
  def saveDocFingerprints(spark: SparkSession, dir: String, buckets: Int = 8,
                          table: String = FingerprintsTable): Unit =
    publish(spark, Catalog.docFingerprints(spark, dir), table, buckets, "doc_id")

  /** Persist the trained NB quality-model artifact (r16) — the 256-row
    * (bucket, log-odds) table from `Catalog.qualityModel` — as a durable
    * table: the stored classifier the streaming gate's quality_model
    * arm (`IngestGate.QualityModelVet`) serves against corpora the
    * model never saw. Model-scale (≤ `buckets` feature rows), one
    * storage bucket. */
  def saveQualityModel(spark: SparkSession, dir: String,
                       table: String = QualityModelTable): Unit =
    publish(spark, Catalog.qualityModel(spark, dir), table, 1, "b")

  /** Persist the semantic-dedup survivor set (vec_id, label, embedding,
    * cluster) bucketed by the coarse CLUSTER — the serving layout for
    * incremental semantic vetting (`Dedup.crossSemanticDedup`): each
    * arriving batch probes its nAssign nearest clusters, and the stored
    * survivor side joins on `cluster` reading pre-partitioned buckets.
    * Vetting a batch touches ~nAssign/nlist of the survivor table. */
  def saveSemanticSurvivors(spark: SparkSession, dir: String, buckets: Int = 8,
                            table: String = SemanticSurvivorsTable): Unit =
    publish(spark, Catalog.semanticSurvivors(spark, dir), table, buckets, "cluster")

  /** Persist the IVF-assigned corpus (vec_id, label, embedding,
    * cluster) bucketed by the LIST id — the durable serving layout:
    * a probe reads only its lists' buckets, so serving I/O is
    * ~nProbe/nlist of the table at any corpus size. */
  def saveAnnIndex(spark: SparkSession, dir: String, buckets: Int = 8,
                   table: String = AnnIndexTable): Unit =
    publish(spark, Catalog.ivfIndex(spark, dir)._2, table, buckets, "cluster")

  /** The MRL SCAN-TIER prefix column, materialized (r14): (vec_id,
    * label, prefix = first-shortDim slice of the embedding), bucketed
    * by vec_id. This is the table that makes the funnel's IO claim
    * REAL at the scan tier: `Similarity.annMrlServeFromPrefix` stage 1
    * reads only (vec_id, prefix) — ~shortDim/D of the vector bytes
    * (measured: SCALING.md r14 row) — and full vectors are read for
    * the ≤ shortlist survivors only, via a broadcast id-join against
    * the full embeddings table (bucketed by the same key at scale →
    * zero-exchange). Columnar parquet already prunes COLUMNS, but a
    * full-vector column prunes nothing WITHIN the vector — the prefix
    * must be its own column to cut bytes, which is exactly what this
    * materializes. Slice values are bit-identical to the scan-side
    * `slice(embedding, 1, shortDim)` (spec-proven equal serve). */
  def saveMrlPrefix(spark: SparkSession, dir: String, buckets: Int = 8,
                    shortDim: Int = 16, table: String = MrlPrefixTable): Unit =
    publish(spark, graft.ops.Similarity.mrlPrefixProjection(
      Tables(spark, dir).embeddings, shortDim), table, buckets, "vec_id")

  /** REPUBLISH after a refit — the swap `AnnStream.refitSignal` /
    * `s_ann_refit` recommend: the live-only rebuilt index
    * (`Catalog.ivfIndexLive`) replaces the stale one under the SAME
    * public name via the versioned view swap, so serving queries cut
    * over atomically at their next plan resolution while in-flight
    * readers keep the retained previous version (the straddle
    * property). Spec-proven in StoreSpec. */
  def publishAnnRefit(spark: SparkSession, dir: String, buckets: Int = 8,
                      table: String = AnnIndexTable): Unit =
    publish(spark, Catalog.ivfIndexLive(spark, dir)._2, table, buckets, "cluster")

  // ---- incremental refreshes ----

  /** Incrementally extend a stored signature table with NEW documents
    * only — see [[refreshDocDerived]]. */
  def refreshMinhashSignatures(spark: SparkSession, documents: DataFrame,
                               buckets: Int = 8, table: String = SignaturesTable): Long =
    refreshDocDerived(spark, documents, buckets, table,
      graft.ops.Dedup.minhashSignatures, "sig")

  /** Incrementally extend a stored fingerprint table with NEW documents
    * only — see [[refreshDocDerived]]. */
  def refreshDocFingerprints(spark: SparkSession, documents: DataFrame,
                             buckets: Int = 8, table: String = FingerprintsTable): Long =
    refreshDocDerived(spark, documents, buckets, table,
      graft.ops.Dedup.docFingerprints, "fp")

  /** Shared incremental-refresh protocol for doc_id-keyed derived
    * tables (signatures, fingerprints): given a documents frame, derive
    * rows ONLY for documents the table does not hold yet and append them
    * (the bucketed layout is preserved — Spark validates the bucket spec
    * on append). Derivation is proportional to NEW documents, but
    * finding them anti-joins every document in `documents` against the
    * stored table's doc_id column (pruned scan), so handing it a whole
    * corpus costs a corpus-wide pass. Used to seed the tables
    * (`IngestGate.seedCorpus`) and to catch a table up with a corpus;
    * the ingest gate itself appends each batch's rows directly from the
    * admitted documents. Idempotent: a re-run with the same corpus
    * appends nothing. Appends only ever ADD files, so they need no
    * version swap; they target the current backing table directly. */
  private def refreshDocDerived(spark: SparkSession, documents: DataFrame,
                                buckets: Int, table: String,
                                derive: DataFrame => DataFrame,
                                stageTag: String): Long = {
    import org.apache.spark.sql.functions.col
    if (!spark.catalog.tableExists(table)) {
      publish(spark, derive(documents), table, buckets, "doc_id")
      spark.table(table).count()
    } else {
      val known = spark.table(table).select(col("doc_id"))
      // STAGE the delta to a scratch path before appending: the delta's
      // plan reads the table being appended to, so any re-evaluation
      // after rows land — cache eviction, task retry — would see its own
      // output and silently drop/duplicate rows. A parquet stage is a
      // real materialization (unlike best-effort persist or
      // localCheckpoint blocks, which also have no deterministic
      // cleanup). The stage lives NEXT TO the warehouse — i.e. on the
      // same cluster-visible filesystem executors commit to — never in
      // a driver-local temp dir, and is deleted through the Hadoop FS
      // API on the way out (an append failure cannot lose table data,
      // so unconditional cleanup is safe HERE — rewrites go through
      // the versioned publish instead).
      val stage = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        s"/_graft_${stageTag}_delta_${java.util.UUID.randomUUID}"
      try {
        derive(documents.join(known, Seq("doc_id"), "left_anti"))
          .write.mode("overwrite").parquet(stage)
        val delta = spark.read.parquet(stage)
        val n = delta.count()
        if (n > 0)
          delta.write.mode("append").bucketBy(buckets, "doc_id").sortBy("doc_id")
            .saveAsTable(currentBacking(spark, table))
        n
      } finally {
        val p = new org.apache.hadoop.fs.Path(stage)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  /** Incrementally refresh a stored cluster map with a new batch's
    * near-dup pairs: the stored assignment re-enters as its star edges
    * (already the algorithm's fixpoint shape — see
    * `DupClusters.refresh`), so historical PAIRS are never recomputed;
    * only the new edges perturb the stars. Unlike the signature table
    * this REWRITES (cluster roots can change when components merge), so
    * it goes through the versioned publish: the new map reads the old
    * version and lands as a new one — no self-overwrite, no lost table
    * on a failed write, no torn reads. */
  def refreshDupClusters(spark: SparkSession, vertices: DataFrame, newPairs: DataFrame,
                         buckets: Int = 8, table: String = ClustersTable): Unit = {
    val assignment =
      if (!spark.catalog.tableExists(table))
        graft.ops.DupClusters.connectedComponents(newPairs, vertices)
      else
        graft.ops.DupClusters.refresh(spark.table(table), newPairs, vertices)
    publish(spark, assignment, table, buckets, "doc_id")
  }

  /** Data-file count of `table`'s CURRENT backing version — the cheap
    * "does this table need a [[compact]]?" probe (one directory
    * listing, no data read): > buckets means appends have fragmented
    * it. Public since r14 so `streaming.Maintenance.tick` can skip the
    * rewrite on an already-compact table. */
  def dataFileCount(spark: SparkSession, table: String): Long = {
    val loc = backingLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0L
    else fs.listStatus(loc).count(s => s.isFile && !s.getPath.getName.startsWith("_"))
  }

  /** The directory holding `table`'s CURRENT backing version's files. */
  private def backingLocation(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/" + currentBacking(spark, table).toLowerCase(java.util.Locale.ROOT))

  /** Compact a stored bucketed table back to ONE file per bucket.
    *
    * Every incremental [[refreshMinhashSignatures]] append lands one
    * file-set per batch, so bucket b accumulates one file per refresh —
    * the classic small-files decay of any append-only table (the
    * Delta/Iceberg OPTIMIZE problem). `repartition(buckets, key)` uses
    * the same murmur3-hash partitioning as the bucket spec, so each
    * write task holds exactly one bucket's rows and emits exactly one
    * file; the rewrite changes the LAYOUT only — contents and the
    * exchange-free join property are preserved (spec-proven). The
    * rewrite goes through the versioned publish, reading the current
    * version and swapping the view — concurrent readers are never torn.
    *
    * Returns (files before, files after). Run it when
    * files-per-bucket × open cost starts to show in scan times — at
    * 100 TB that is a scheduled maintenance job, exactly like SQLite's
    * VACUUM for the reference's store. */
  def compact(spark: SparkSession, table: String, key: String,
              buckets: Int = 8): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    def dataFiles(): Long = dataFileCount(spark, table)
    val before = dataFiles()
    // Read the source UNBUCKETED for the rewrite: a bucketed scan already
    // satisfies the repartition's distribution, so EnsureRequirements
    // would elide the exchange and each (per-file) scan task would write
    // its own file per bucket — reproducing the fragmentation this job
    // exists to remove. Reading the current backing's files by path
    // (the table's schema, no bucket spec) keeps the explicit
    // repartition, so each write task emits exactly one file — and
    // leaves the session's bucketing conf alone, which every query
    // planned concurrently on the session (a reader beside a
    // maintenance tick) would otherwise see flipped.
    val source = spark.read.schema(spark.table(table).schema)
      .parquet(backingLocation(spark, table).toString)
    publish(spark, source.repartition(buckets, col(key)), table, buckets, key)
    (before, dataFiles())
  }

  // ---- reads ----

  /** The cluster map: stored if present, else in-session. */
  def dupClusters(spark: SparkSession, dir: String,
                  table: String = ClustersTable): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(table)
    else Catalog.dupClusters(spark, dir)

  /** The loaded vehicles: the stored table if one exists, else the
    * in-session derived+cached frame. */
  def vehicles(spark: SparkSession, dir: String, table: String = VehiclesTable): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(table)
    else Catalog.vehicles(spark, dir)

  /** The signature table: stored if present, else in-session. */
  def minhashSignatures(spark: SparkSession, dir: String,
                        table: String = SignaturesTable): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(table)
    else Catalog.minhashSignatures(spark, dir)

  /** The fingerprint table: stored if present, else in-session. */
  def docFingerprints(spark: SparkSession, dir: String,
                      table: String = FingerprintsTable): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(table)
    else Catalog.docFingerprints(spark, dir)

  def semanticSurvivors(spark: SparkSession, dir: String,
                        table: String = SemanticSurvivorsTable): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(table)
    else Catalog.semanticSurvivors(spark, dir)

  /** The MRL prefix tier: stored if present, else the in-session
    * projection (same values — the stored form only changes the IO). */
  def mrlPrefix(spark: SparkSession, dir: String, shortDim: Int = 16,
                table: String = MrlPrefixTable): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(table)
    else graft.ops.Similarity.mrlPrefixProjection(
      Tables(spark, dir).embeddings, shortDim)
}
