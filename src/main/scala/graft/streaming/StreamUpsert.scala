package graft.streaming

import graft.catalog.{EqDeleteEntry, FileEntry, GraftCommitStamp, GraftMaintenance, GraftManifestIO, GraftParquetIO}
import graft.operators.{FieldSelection, MergeKey, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Streaming upsert via EQUALITY DELETES — zero target reads per batch.
  *
  * [[StreamMerge]] already makes per-batch WRITES O(churn), but its
  * `MERGE INTO` still SCANS the target every micro-batch to find
  * matches. This sink removes that too (Flink's Iceberg upsert mode;
  * Iceberg v2 equality deletes): each batch commits its rows PLUS one
  * equality-delete file per write task listing the batch's merge keys.
  * By sequence-number shadowing (an equality delete applies only to
  * data files with a LOWER data sequence), older rows with those keys
  * become invisible and the batch's own rows — same commit, same
  * higher sequence — stay live. Per-batch cost: one pass over the
  * churn, no shuffle (the key file is cut per partition in the SAME
  * task that writes the data file), no target I/O at all. The read
  * side pays until threshold compaction folds the delete files — the
  * classic write-optimized vs read-optimized trade, chosen exactly as
  * Iceberg/Flink chose it for high-rate CDC.
  *
  * Exactly-once: the batch id is stamped into the SAME atomic snapshot
  * commit as the content ([[GraftCommitStamp]]); replays are refused
  * inside the OCC window and their staged files removed.
  */
object StreamUpsert {

  val BatchIdProp: String = GraftStreamSink.BatchIdProp

  final case class Config(
      sourceDir: String,
      tableDir: String,
      checkpointDir: String,
      primaryKeys: Seq[String],
      versionCols: Seq[String],
      fieldRule: FieldSelection.Rule = FieldSelection.All,
      essentialFields: Set[String] = Set.empty,
      maxFilesPerTrigger: Option[Int] = None,
      /** fold equality/position deletes + small files every N batches —
        * REQUIRED for bounded read cost under sustained upserts. */
      compactEveryBatches: Option[Int] = None,
      compactSmallBytes: Long = 32L << 20)

  /** foreachBatch handler: latest-per-key dedup within the batch, then
    * one atomic commit of (data files + equality-delete key files).
    * Bootstraps the table on the first batch. Returns true if applied,
    * false for a replay skip.
    */
  def idempotentUpsert(tableDir: String, keyCol: String, versionCols: Seq[String])(
      batch: DataFrame, batchId: Long): Boolean = {
    require(versionCols.nonEmpty, "upsert versioning requires at least one version column")
    val io = new GraftManifestIO(new Path(tableDir), graft.catalog.GraftConf.hadoop)
    def alreadyCommitted: Boolean = io.currentSnapshot()
      .exists(s => GraftCommitStamp.committed(s.properties, BatchIdProp, batchId))
    if (alreadyCommitted) return false

    val staged = Upsert.latestByKey(batch, Seq(keyCol), versionCols)
    val schema = staged.schema
    val keyOrdinal = schema.fieldNames.indexOf(keyCol)
    require(keyOrdinal >= 0, s"key column $keyCol missing from batch schema")
    val keyField = schema.fields(keyOrdinal)
    val keySchema = StructType(Seq(keyField))

    val writeId = java.util.UUID.randomUUID().toString
    val serConf = graft.catalog.GraftConf.serializable
    val keyType = keyField.dataType
    // ONE pass: each task writes its data file and, in the same sweep,
    // the equality-delete file of its keys — no second scan, no shuffle
    val entries: Seq[(FileEntry, FileEntry)] =
      staged.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        if (!rows.hasNext) Iterator.empty
        else {
          val dataRel = s"data/part-upsert-$writeId-$batchId-$pid.parquet"
          val eqRel   = s"deletes/eq-$writeId-$batchId-$pid.parquet"
          val conf = serConf.value.value
          val dw = new GraftParquetIO.FileWriter(new Path(new Path(tableDir), dataRel), schema, conf)
          val kw = new GraftParquetIO.FileWriter(new Path(new Path(tableDir), eqRel), keySchema, conf)
          val keyRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
          rows.foreach { r =>
            dw.write(r)
            keyRow.update(0, r.get(keyOrdinal, keyType))
            kw.write(keyRow)
          }
          Iterator.single((dw.finish(dataRel), kw.finish(eqRel)))
        }
      }.collect().toSeq // O(#write tasks) driver-side

    try {
      GraftCommitStamp.withBatchId(BatchIdProp, batchId) {
        io.commit("stream-upsert") { base =>
          val cur = base
          GraftManifestIO.Content(
            cur.map(_.schema).getOrElse(schema),
            cur.map(_.properties).getOrElse(Map.empty),
            cur.map(_.files).getOrElse(Nil) ++
              entries.map(_._1.copy(seq = GraftManifestIO.PendingSeq)),
            cur.map(_.deletes).getOrElse(Nil),
            cur.map(_.eqDeletes).getOrElse(Nil) ++ entries.map { case (_, k) =>
              EqDeleteEntry(k.path, k.rows, Seq(keyCol), GraftManifestIO.PendingSeq) })
        }
      }
      true
    } catch {
      case e: Throwable if GraftCommitStamp.isReplay(e) =>
        // replay raced past the pre-check: drop the staged files
        val fs = new Path(tableDir).getFileSystem(graft.catalog.GraftConf.hadoop)
        entries.foreach { case (d, k) =>
          try fs.delete(new Path(new Path(tableDir), d.path), false)
          catch { case _: Throwable => () }
          try fs.delete(new Path(new Path(tableDir), k.path), false)
          catch { case _: Throwable => () }
        }
        false
    }
  }

  /** Drain all currently-available source blobs: file source → field
    * selection → merge key → per-batch equality-delete upsert, with
    * threshold compaction folding the delete mass. Returns batches.
    */
  def runAvailableNow(spark: SparkSession, schema: StructType, cfg: Config): Long = {
    val keyed = ChangeCapture.keyed(
      ChangeCapture.files(spark, schema, cfg.sourceDir, cfg.maxFilesPerTrigger),
      cfg.fieldRule, cfg.essentialFields, cfg.primaryKeys, cfg.versionCols, sourceVersion = false)
    ChangeCapture.drain(keyed, cfg.checkpointDir) { (batch, batchId) =>
      idempotentUpsert(cfg.tableDir, MergeKey.ColumnName, cfg.versionCols)(batch, batchId)
      ChangeCapture.maintain(batchId)(cfg.compactEveryBatches ->
        (() => GraftMaintenance.compact(spark, cfg.tableDir, cfg.compactSmallBytes)))
    }
  }
}
