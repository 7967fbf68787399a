package graft.streaming

import graft.catalog.{GraftConf, GraftMaintenance, GraftManifestIO}
import graft.operators.{FieldSelection, MergeKey, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Streaming CDC upsert into a Graft CATALOG table with O(churn) writes
  * and no target read per micro-batch: the latest row per merge key
  * wins within the batch, and the batch commits through
  * [[GraftStreamSink.commitBatch]] keyed on the merge key.
  *
  * This is the at-scale form of the reference's production loop
  * (/root/reference/src/main/scala/main.scala:121-126: staged batches
  * MERGE'd into Iceberg via Trino, touching only affected data). The
  * batch's data files double as its equality-delete key set (Iceberg v2
  * sequence-number shadowing, Flink's Iceberg upsert mode): every older
  * row whose key the batch carries becomes invisible and the batch's
  * own rows stay visible, so a micro-batch writes only its own rows and
  * never opens a target file, whatever the table's `graft.merge.mode`
  * (that property governs SQL MERGE, UPDATE and DELETE). Reads pay for
  * the delete mass until threshold compaction folds it (the reference's
  * `maintenanceSettings` cadence).
  *
  * The result is MERGE's (`UPDATE SET` every column, `INSERT` the rest)
  * on the contract a stream-owned table keeps: each merge key is held
  * once (a key held twice collapses to the batch's one row), and the
  * batches carry every target column (a cycle refuses a table with a
  * column its batches lack, rather than null it).
  *
  * Exactly-once over foreachBatch's at-least-once delivery: the commit
  * runs inside a [[graft.catalog.GraftCommitStamp]] scope, so the batch
  * id lands in the SAME atomic snapshot commit as the content, and a
  * replayed batch is refused inside the OCC commit window (then
  * skipped). A manifest pre-check short-circuits replays before any
  * staging work.
  */
object StreamMerge {

  /** Snapshot property holding the highest committed batch id (shared
    * with [[GraftStreamSink]] — same exactly-once contract).
    */
  val BatchIdProp: String = GraftStreamSink.BatchIdProp

  /** Create a merge-on-read target and seed it: merge key derived, the
    * seed cut into files of about `seedFileBytes`.
    */
  def seedTarget(spark: SparkSession, table: String, seed: DataFrame,
      primaryKeys: Seq[String], seedFileBytes: Long = 32L << 20): Unit = {
    val keyed = MergeKey.withMergeKey(seed, primaryKeys)
    spark.sql(s"""CREATE TABLE $table (${keyed.schema.toDDL})
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    val files = (graft.operators.ScaleSafe.leafScanBytes(seed) / seedFileBytes).max(1).min(4096).toInt
    keyed.repartition(files).writeTo(table).append()
  }

  final case class Config(
      sourceDir: String,
      /** SQL name of the target Graft table, used to name it in errors
        * (the stream commits through `tableDir`).
        */
      table: String,
      /** the table's physical directory: the batch commit and threshold
        * maintenance run against the format layer directly, like the
        * reference's TargetMaintenanceProcessor next to its merge loop.
        */
      tableDir: String,
      checkpointDir: String,
      primaryKeys: Seq[String],
      /** version ordering for latest-per-key dedup within a batch;
        * must be non-empty (the reference's upsert versioning).
        */
      versionCols: Seq[String],
      fieldRule: FieldSelection.Rule = FieldSelection.All,
      essentialFields: Set[String] = Set.empty,
      maxFilesPerTrigger: Option[Int] = None,
      /** fold equality deletes + small files every N batches. */
      compactEveryBatches: Option[Int] = None,
      compactSmallBytes: Long = 32L << 20,
      /** retire old snapshots every N batches (the reference's
        * `snapshotExpirationSettings.batchThreshold`); the current
        * snapshot — carrying the batch-id stamp — is always kept.
        */
      expireEveryBatches: Option[Int] = None,
      keepSnapshots: Int = 2,
      /** sweep unreferenced data files every N batches (the
        * reference's `orphanFilesExpirationSettings`). */
      orphansEveryBatches: Option[Int] = None,
      /** snapshot property carrying this STREAM's exactly-once batch
        * stamp. Two checkpointed streams merging into ONE table need
        * DISTINCT properties (each stream's batch ids are its own
        * monotonic sequence); sharing one would make stream B's batch 0
        * look like a replay of stream A's batch 3.
        */
      batchIdProp: String = StreamMerge.BatchIdProp)

  /** foreachBatch handler: latest-per-key dedup within the batch, then
    * one commit keyed on `keyCol` — exactly once per batch id, with
    * [[GraftStreamSink.commitBatch]]'s file cap and head check. Returns
    * what the batch committed, None for a replay skip.
    */
  def idempotentMerge(tableDir: String, keyCol: String, versionCols: Seq[String],
      batchIdProp: String = BatchIdProp, maxRowsPerFile: Long = Long.MaxValue,
      expectedHead: Option[Option[Long]] = None)(
      batch: DataFrame, batchId: Long): Option[GraftStreamSink.Committed] = {
    require(versionCols.nonEmpty, "upsert versioning requires at least one version column")
    GraftStreamSink.commitBatch(tableDir, Upsert.latestByKey(batch, Seq(keyCol), versionCols),
      batchId, Some(keyCol), batchIdProp, maxRowsPerFile, expectedHead)
  }

  /** Drain all currently-available source blobs into the target table
    * (one change-capture cycle): file source → field selection → merge
    * key → per-batch idempotent upsert, with threshold compaction,
    * expiry and orphan sweeps on the batch-id cadence (restart-safe:
    * the cadence is a pure function of the checkpointed batch id).
    * Returns micro-batches processed.
    */
  def runAvailableNow(spark: SparkSession, schema: StructType, cfg: Config): Long = {
    val keyed = ChangeCapture.keyed(
      ChangeCapture.files(spark, schema, cfg.sourceDir, cfg.maxFilesPerTrigger),
      cfg.fieldRule, cfg.essentialFields, cfg.primaryKeys, cfg.versionCols, sourceVersion = false)
    val batches = tableIO(cfg).currentSnapshot().fold(keyed)(s => alignedTo(cfg.table, s.schema, keyed))
    ChangeCapture.drain(batches, cfg.checkpointDir) { (batch, batchId) =>
      idempotentMerge(cfg.tableDir, MergeKey.ColumnName, cfg.versionCols, cfg.batchIdProp)(batch, batchId)
      // OUTSIDE the stamp scope: maintenance is content-neutral and
      // must not be refused as a "replay" of the batch it follows
      ChangeCapture.maintain(batchId)(
        cfg.compactEveryBatches -> (() =>
          GraftMaintenance.compact(spark, cfg.tableDir, cfg.compactSmallBytes)),
        cfg.expireEveryBatches -> (() => tableIO(cfg).expireSnapshots(cfg.keepSnapshots)),
        cfg.orphansEveryBatches -> (() => tableIO(cfg).removeOrphans()))
    }
  }

  /** `batches` in the target's column order and types (the casts
    * MERGE's assignments made). A batch row replaces the whole older
    * row, so a target column the batches lack would read as null where
    * MERGE's `UPDATE SET` kept the old value: that table is refused by
    * name, as is a batch column the target lacks.
    */
  private def alignedTo(table: String, target: StructType, batches: DataFrame): DataFrame = {
    val missing = target.fieldNames.filterNot(batches.columns.contains)
    require(missing.isEmpty, s"$table has column(s) ${missing.mkString(", ")} that the stream's " +
      "batches lack; a batch row replaces the whole row, so they would read as null")
    val extra = batches.columns.filterNot(target.fieldNames.contains)
    require(extra.isEmpty, s"the stream's batches carry column(s) ${extra.mkString(", ")} that $table lacks")
    batches.select(target.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
  }

  private def tableIO(cfg: Config) = new GraftManifestIO(new Path(cfg.tableDir), GraftConf.hadoop)

  /** Continuous change capture against the catalog table: repeated
    * AvailableNow cycles separated by jittered poll delays — the
    * reference's poll loop (`changeCaptureInterval` + jitter) on the
    * O(churn) upsert path. The checkpoint dedupes files across cycles;
    * batch ids stay monotonic across cycles, so the exactly-once stamp
    * and the maintenance cadence both span the stream's lifetime.
    */
  def runContinuously(
      spark: SparkSession, schema: StructType, cfg: Config,
      cadence: ChangeCapture, maxCycles: Int,
      lifetime: StreamLifetime = StreamLifetime.always): Long = {
    var total = 0L
    ChangeCapture.poll(cadence, maxCycles, lifetime)(total += runAvailableNow(spark, schema, cfg))
    total
  }
}
