package graft.streaming

import graft.catalog.{EqDeleteEntry, GraftCommitConflict, GraftCommitStamp, GraftConf, GraftMaintenance, GraftManifestIO, GraftSnapshot}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

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

  /** What a commit landed: the rows and data bytes of its files, and
    * the snapshot it made.
    */
  final case class Committed(rows: Long, bytes: Long, snapshot: GraftSnapshot)

  /** The one stream-batch commit of the catalog: the batch's rows land
    * once as data files through the table's own writer (so its
    * `graft.bloom.columns` sidecars are written), and commit in one
    * snapshot stamped with `batchId` under `prop`; a replay is skipped
    * before the write or refused inside the commit, and its files go.
    * With `keyCol` the same files are also listed as equality deletes
    * on that column at this commit's sequence: each older row whose key
    * the batch carries is shadowed, the batch's own rows stay visible,
    * and no key file is written — the data file is its own key set.
    * Bootstraps the table from the batch's schema, and evolves it: a
    * batch column the table lacks is added, and an int column that a
    * batch carries as long widens. `maxRowsPerFile` rolls the batch's
    * files; `expectedHead = Some(v)` fails the commit with a
    * [[GraftCommitConflict]] when the table's head is no longer `v`.
    * Returns None for a replay skip.
    */
  def commitBatch(tableDir: String, batch: DataFrame, batchId: Long,
      keyCol: Option[String] = None, prop: String = BatchIdProp,
      maxRowsPerFile: Long = Long.MaxValue,
      expectedHead: Option[Option[Long]] = None): Option[Committed] = {
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    val head = io.currentSnapshot()
    if (head.exists(s => GraftCommitStamp.committed(s.properties, prop, batchId))) None
    else try GraftCommitStamp.withBatchId(prop, batchId) {
      Some(commitRows(io, head, batch, keyCol, maxRowsPerFile, expectedHead))
    } catch { case e: Throwable if GraftCommitStamp.isReplay(e) => None }
  }

  /** [[commitBatch]]'s commit without its exactly-once stamp: one commit
    * of `df` into the table at `tableDir` (a backfill slice merged on
    * `keyCol`, which a later one may merge again).
    */
  def commit(tableDir: String, df: DataFrame, keyCol: Option[String],
      maxRowsPerFile: Long = Long.MaxValue): Committed = {
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    commitRows(io, io.currentSnapshot(), df, keyCol, maxRowsPerFile, None)
  }

  private def commitRows(io: GraftManifestIO, head: Option[GraftSnapshot], batch: DataFrame,
      keyCol: Option[String], maxRowsPerFile: Long, expectedHead: Option[Option[Long]]): Committed = {
    val tableDir = io.tableDir.toString
    keyCol.foreach(k => require(batch.columns.contains(k) && head.forall(_.schema.fieldNames.contains(k)),
      s"key column $k missing from the batch or from table $tableDir"))
    head.foreach(h => evolved(h.schema, batch.schema, tableDir))
    val entries = GraftMaintenance.writeEntries(batch, tableDir, batch.schema, "stream",
      head.map(_.properties).getOrElse(Map.empty), maxRowsPerFile)
    val snapshot = try {
      io.commit(if (keyCol.isEmpty) "stream-append" else "stream-upsert") { base =>
        expectedHead.foreach(v => if (base.map(_.version) != v) throw new GraftCommitConflict(
          s"table $tableDir advanced to v${base.fold(0L)(_.version)} during a batch based on " +
            s"v${v.getOrElse(0L)}: an out-of-band commit landed"))
        GraftManifestIO.Content(
          base.fold(batch.schema)(b => evolved(b.schema, batch.schema, tableDir)),
          base.map(_.properties).getOrElse(Map.empty),
          base.map(_.files).getOrElse(Nil) ++ entries.map(_.copy(seq = GraftManifestIO.PendingSeq)),
          base.map(_.deletes).getOrElse(Nil),
          base.map(_.eqDeletes).getOrElse(Nil) ++ keyCol.toSeq.flatMap(k => entries.map(e =>
            EqDeleteEntry(e.path, e.rows, Seq(k), GraftManifestIO.PendingSeq))))
      }
    } catch { case e: Throwable => GraftMaintenance.dropEntries(tableDir, entries); throw e }
    Committed(entries.map(_.rows).sum, entries.map(_.bytes).sum, snapshot)
  }

  /** `table` evolved to take `batch`: batch-only columns are appended,
    * and an int column meets a long one as long. Any other type change
    * is refused by name.
    */
  private def evolved(table: StructType, batch: StructType, tableDir: String): StructType = {
    val batchTypes = batch.map(f => f.name -> f.dataType).toMap
    val kept = table.map { f =>
      (f.dataType, batchTypes.getOrElse(f.name, f.dataType)) match {
        case (t, b) if t == b => f
        case (IntegerType, LongType) => f.copy(dataType = LongType)
        case (LongType, IntegerType) => f
        case (t, b) => throw new IllegalArgumentException(s"column ${f.name} of table $tableDir is " +
          s"${t.simpleString}; a batch carrying it as ${b.simpleString} cannot land")
      }
    }
    StructType(kept ++ batch.filterNot(f => table.fieldNames.contains(f.name)).map(_.copy(nullable = true)))
  }

  /** foreachBatch handler: `stream.writeStream.foreachBatch(
    * GraftStreamSink.idempotentAppend(tableDir) _)`.
    */
  def idempotentAppend(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    commitBatch(tableDir, batch, batchId); ()
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
