package graft.streaming

import graft.catalog.{GraftCommitStamp, GraftManifestIO, GraftParquetIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Structured-Streaming sink into a Graft-format table: the engine's
  * version of the reference's core loop — a stream whose micro-batches
  * land in a snapshotted table format (reference main.scala:34-40
  * merges each batch into Iceberg via Trino).
  *
  * Exactly-once TABLE CONTENTS over at-least-once batch delivery: the
  * highest committed batchId is stamped into the snapshot properties,
  * and a replayed batch (restart after a crash between the table
  * commit and the checkpoint advance — foreachBatch's documented
  * at-least-once window) is detected and skipped. The guard is checked
  * both before staging (cheap skip) and inside the OCC commit (a
  * replay racing a concurrent writer still cannot double-append).
  */
object GraftStreamSink {

  val BatchIdProp = "graft.stream.batch-id"

  /** Write the batch's rows as immutable data files (invisible until a
    * snapshot or WAP ref references them); shared by the direct and
    * the WAP-staged handlers.
    */
  private def writeBatchFiles(tableDir: String, batch: DataFrame,
      batchId: Long): Seq[graft.catalog.FileEntry] = {
    val schema = batch.schema
    val writeId = java.util.UUID.randomUUID().toString
    val serConf = graft.catalog.GraftConf.serializable
    batch.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val rel = s"data/part-stream-$writeId-$batchId-$pid.parquet"
        val w = new GraftParquetIO.FileWriter(
          new Path(new Path(tableDir), rel), schema, serConf.value.value)
        rows.foreach(w.write)
        Iterator.single(w.finish(rel))
      }
    }.collect().toSeq
  }

  private def dropFiles(tableDir: String,
      entries: Seq[graft.catalog.FileEntry]): Unit = {
    val fs = new Path(tableDir).getFileSystem(graft.catalog.GraftConf.hadoop)
    entries.foreach(e =>
      try fs.delete(new Path(new Path(tableDir), e.path), false)
      catch { case _: Throwable => () })
  }

  /** foreachBatch handler: `stream.writeStream.foreachBatch(
    * GraftStreamSink.idempotentAppend(tableDir) _)`.
    */
  def idempotentAppend(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val io = new GraftManifestIO(new Path(tableDir), graft.catalog.GraftConf.hadoop)
    if (io.currentSnapshot().exists(s => GraftCommitStamp.committed(s.properties, BatchIdProp, batchId)))
      return

    val schema = batch.schema
    val entries = writeBatchFiles(tableDir, batch, batchId)

    // the stamp scope refuses a replay inside the commit window and
    // stamps the batch id into the same snapshot as the files
    try GraftCommitStamp.withBatchId(BatchIdProp, batchId) {
      io.commit("stream-append") { base =>
        graft.catalog.GraftManifestIO.Content(
          base.map(_.schema).getOrElse(schema), base.map(_.properties).getOrElse(Map.empty),
          base.map(_.files).getOrElse(Nil) ++
            entries.map(_.copy(seq = graft.catalog.GraftManifestIO.PendingSeq)),
          base.map(_.deletes).getOrElse(Nil),
          base.map(_.eqDeletes).getOrElse(Nil))
      }
    } catch {
      // no snapshot written; drop the redundantly staged files
      case e: Throwable if GraftCommitStamp.isReplay(e) => dropFiles(tableDir, entries)
    }
  }

  /** foreachBatch handler staging under a WAP ref instead of the
    * version chain — write-audit-publish for STREAMS: micro-batches
    * accumulate invisibly under `wapId` (the main table never sees
    * them), an auditor reads `VERSION AS OF '<wapId>'`, and `CALL
    * graft.system.wap_publish` cherry-picks the whole audited window
    * onto the head in one OCC commit (`wap_abort` discards it and its
    * files). This closes the audit square: batch WAP (`catalog_wap`) +
    * the streaming quality gate already existed; a stream's output can
    * now be HELD for audit before anything lands in the version chain.
    *
    * Exactly-once across both boundaries: while staged, the batch
    * stamp rides IN the wap ref (a replayed batch after a crash is
    * refused by the ref itself); at publish the stamp max-merges into
    * the head's properties, so a replay arriving AFTER publish is
    * refused by the head — [[GraftManifestIO.stageWapBatch]] checks
    * both. One stream per ref (the checkpoint-dir contract); a second
    * stream wanting audit staging uses its own ref.
    */
  def idempotentAppendWap(tableDir: String, wapId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val io = new GraftManifestIO(new Path(tableDir), graft.catalog.GraftConf.hadoop)
    // cheap pre-check (both stamps) before paying the file write; the
    // authoritative re-check runs inside stageWapBatch
    val stagedStamp = if (io.wapExists(wapId))
      io.readWap(wapId).properties.get(BatchIdProp).map(_.toLong) else None
    val headStamp = io.currentSnapshot()
      .flatMap(_.properties.get(BatchIdProp).map(_.toLong))
    if ((stagedStamp ++ headStamp).exists(_ >= batchId)) return
    val entries = writeBatchFiles(tableDir, batch, batchId)
    if (!io.stageWapBatch(wapId, entries, BatchIdProp, batchId))
      dropFiles(tableDir, entries) // replay detected at the stage
  }
}
