package graft.streaming

import graft.catalog.{EqDeleteEntry, GraftCommitConflict, GraftCommitStamp, GraftConf, GraftMaintenance, GraftManifestIO}
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

  /** The one stream-batch commit of the catalog: the batch's rows land
    * once as data files through the table's own writer (so its
    * `graft.bloom.columns` sidecars are written), and commit in one
    * snapshot stamped with `batchId` under `prop`; a replay is skipped
    * before the write or refused inside the commit, and its files go.
    * With `keyCol` the same files are also listed as equality deletes
    * on that column at this commit's sequence: each older row whose key
    * the batch carries is shadowed, the batch's own rows stay visible,
    * and no key file is written — the data file is its own key set.
    * Bootstraps the table from the batch's schema. Returns false for a
    * replay skip.
    */
  def commitBatch(tableDir: String, batch: DataFrame, batchId: Long,
      keyCol: Option[String] = None, prop: String = BatchIdProp): Boolean = {
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    val head = io.currentSnapshot()
    if (head.exists(s => GraftCommitStamp.committed(s.properties, prop, batchId))) return false
    val entries = GraftMaintenance.writeEntries(batch, tableDir, batch.schema, "stream",
      head.map(_.properties).getOrElse(Map.empty))
    try {
      GraftCommitStamp.withBatchId(prop, batchId) {
        io.commit(if (keyCol.isEmpty) "stream-append" else "stream-upsert") { base =>
          GraftManifestIO.Content(
            base.map(_.schema).getOrElse(batch.schema), base.map(_.properties).getOrElse(Map.empty),
            base.map(_.files).getOrElse(Nil) ++ entries.map(_.copy(seq = GraftManifestIO.PendingSeq)),
            base.map(_.deletes).getOrElse(Nil),
            base.map(_.eqDeletes).getOrElse(Nil) ++ keyCol.toSeq.flatMap(k => entries.map(e =>
              EqDeleteEntry(e.path, e.rows, Seq(k), GraftManifestIO.PendingSeq))))
        }
      }
      true
    } catch {
      case e: Throwable if GraftCommitStamp.isReplay(e) =>
        GraftMaintenance.dropEntries(tableDir, entries); false
      case e: GraftCommitConflict => GraftMaintenance.dropEntries(tableDir, entries); throw e
    }
  }

  /** foreachBatch handler: `stream.writeStream.foreachBatch(
    * GraftStreamSink.idempotentAppend(tableDir) _)`.
    */
  def idempotentAppend(tableDir: String)(batch: DataFrame, batchId: Long): Unit =
    commitBatch(tableDir, batch, batchId)

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
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    // cheap pre-check (both stamps) before paying the file write; the
    // authoritative re-check runs inside stageWapBatch
    val stagedStamp = if (io.wapExists(wapId))
      io.readWap(wapId).properties.get(BatchIdProp).map(_.toLong) else None
    val head = io.currentSnapshot()
    val headStamp = head.flatMap(_.properties.get(BatchIdProp).map(_.toLong))
    if ((stagedStamp ++ headStamp).exists(_ >= batchId)) return
    val entries = GraftMaintenance.writeEntries(batch, tableDir, batch.schema, "stream",
      head.map(_.properties).getOrElse(Map.empty))
    if (!io.stageWapBatch(wapId, entries, BatchIdProp, batchId))
      GraftMaintenance.dropEntries(tableDir, entries) // replay detected at the stage
  }
}
