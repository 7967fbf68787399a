package graft.streaming

import graft.catalog.{GraftCommitStamp, GraftMaintenance}
import graft.operators.{FieldSelection, MergeKey, Upsert}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming CDC merge with O(changes) writes per micro-batch: each
  * batch is upserted into a Graft CATALOG table via real `MERGE INTO`
  * SQL instead of [[StreamPipeline]]'s snapshot-store rewrite.
  *
  * This is the at-scale form of the reference's production loop
  * (/root/reference/src/main/scala/main.scala:121-126: staged batches
  * MERGE'd into Iceberg via Trino, touching only affected data). On a
  * merge-on-read table (`graft.merge.mode = 'merge-on-read'`) Spark's
  * `RewriteMergeIntoTable` routes through the table's `SupportsDelta`
  * operation, so a micro-batch commits ONLY position-delete entries for
  * matched rows plus data files for the batch's rows — per-batch
  * written bytes are proportional to the CHURN, never to the target
  * size. A 100 TB target with a 1 GB/batch change stream writes ~1 GB
  * per trigger; the snapshot-store pipeline would rewrite 100 TB.
  * Accumulated deletes are folded by threshold compaction (the
  * reference's `maintenanceSettings` cadence), keeping read
  * amplification bounded under sustained capture.
  *
  * Exactly-once over foreachBatch's at-least-once delivery: the MERGE
  * runs inside a [[GraftCommitStamp]] scope, so the batch id lands in
  * the SAME atomic snapshot commit as the merged content, and a
  * replayed batch is refused inside the OCC commit window (then
  * skipped). A cheap table-property pre-check short-circuits replays
  * before any staging work.
  */
object StreamMerge {

  /** Snapshot property holding the highest committed batch id (shared
    * with [[GraftStreamSink]] — same exactly-once contract).
    */
  val BatchIdProp: String = GraftStreamSink.BatchIdProp

  /** Derived key-bucket column for read-amplification pruning:
    * `pmod(xxhash64(merge_key), nBuckets)`. High-cardinality CDC keys
    * (md5 merge keys) are uniform, so plain min/max file stats never
    * prune the target scan — every micro-batch MERGE reads the whole
    * table. Bucketing restores pruning: compaction clusters data files
    * by bucket (tight min/max boxes), each batch's DISTINCT buckets are
    * a bounded set (≤ min(churn, nBuckets)), and a static
    * `t.bucket IN (...)` conjunct in the ON clause pushes down to
    * [[graft.catalog.StatsPruner]] — per-batch target READS become
    * O(files covering the churn's buckets), completing the O(churn)
    * WRITE contract. This is Iceberg's bucket-partitioning guidance for
    * streaming upserts, done with stats pruning instead of directories.
    */
  val BucketColumnName = "arcane_merge_bucket"

  /** Cap on the bucket count: above this the per-batch IN list stops
    * being "a small static predicate" (and pruning gains flatten —
    * bucket count should sit ~10-100× the typical batch's distinct-key
    * count, not at key cardinality).
    */
  val MaxBuckets = 65536

  val MinBuckets = 16

  /** Target bytes per bucket for [[deriveBuckets]]: small enough that a
    * bucket is a slice of one compacted file (file-stat pruning then
    * drops whole files for absent buckets), large enough that the
    * bucket count stays metadata-sized until the [[MaxBuckets]] cap.
    */
  val DefaultBucketBytes: Long = 8L << 20

  /** Table property pinning the modulus the target's
    * [[BucketColumnName]] was computed with (set by [[seedTarget]] or
    * declared manually). The property — not any per-run config — is the
    * source of truth: a batch bucketed with a DIFFERENT modulus makes
    * matched target rows fail the IN conjunct, silently turning updates
    * into duplicate-key inserts, so [[resolveBuckets]] refuses to run
    * against an undeclared or mismatched bucket column.
    */
  val BucketsProp = "graft.merge.buckets"

  /** The bucket expression — exposed so writers seeding a target table
    * derive the IDENTICAL bucket for a given merge key.
    */
  def bucketExpr(nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(MergeKey.ColumnName)), lit(nBuckets.toLong)).cast("int")

  /** Bucket count for a target of `bytes`: one bucket per
    * [[DefaultBucketBytes]], clamped to [[[MinBuckets]], [[MaxBuckets]]].
    * At 100 TB this saturates at the cap — per-batch reads are then
    * bounded by churn × (bytes / MaxBuckets), the flattest the IN-list
    * contract allows; heavier streams should raise the count explicitly.
    */
  def deriveBuckets(bytes: BigInt): Int =
    (bytes / DefaultBucketBytes).max(MinBuckets).min(MaxBuckets).toInt

  /** The declared bucket modulus of `table`, if any. */
  def declaredBuckets(spark: SparkSession, table: String): Option[Int] =
    spark.sql(s"SHOW TBLPROPERTIES $table")
      .where(col("key") === BucketsProp)
      .collect().headOption.map(_.getString(1).toInt)

  /** Current snapshot read straight from the table's manifest — the
    * metadata fast path for PER-BATCH/PER-CYCLE checks. Table properties
    * and schema live in the snapshot (createTable commits them), so this
    * is equivalent to `SHOW TBLPROPERTIES` / `spark.table(...)` minus a
    * full catalog-table resolution per call (~0.1 s of driver work at
    * local scale, paid once per micro-batch on the replay pre-check —
    * §5: the driver should do almost no work per batch).
    */
  private def manifestSnapshot(tableDir: String): Option[graft.catalog.GraftSnapshot] =
    new graft.catalog.GraftManifestIO(
      new org.apache.hadoop.fs.Path(tableDir), graft.catalog.GraftConf.hadoop)
      .currentSnapshot()

  /** Create + seed a bucketed MOR target in one step: merge key and
    * bucket column derived, bucket count declared as a table property
    * (the modulus contract future streams validate against), and the
    * seed range-clustered by bucket so file stats prune tightly from
    * the first batch. Returns the bucket count.
    */
  def seedTarget(spark: SparkSession, table: String, seed: DataFrame,
      primaryKeys: Seq[String], mergeMode: String = "merge-on-read",
      buckets: Option[Int] = None, seedFileBytes: Long = 32L << 20): Int = {
    val keyed = MergeKey.withMergeKey(seed, primaryKeys)
    val bytes = graft.operators.ScaleSafe.leafScanBytes(seed)
    val n = buckets.getOrElse(deriveBuckets(bytes))
    val bucketed = keyed.withColumn(BucketColumnName, bucketExpr(n))
    spark.sql(s"""CREATE TABLE $table (${bucketed.schema.toDDL})
      TBLPROPERTIES ('graft.merge.mode' = '$mergeMode', '$BucketsProp' = '$n')""")
    val files = (bytes / seedFileBytes).max(1).min(4096).toInt
    bucketed.repartitionByRange(files, col(BucketColumnName))
      .sortWithinPartitions(BucketColumnName)
      .writeTo(table).append()
    n
  }

  /** The bucket modulus a stream cycle computes [[BucketColumnName]]
    * with and prunes by: the target's own [[BucketsProp]] declaration,
    * or None for an unbucketed target (full-scan merges). Fails LOUDLY on
    * the two silent-wrong tables: a bucket column with no declared
    * modulus, and a declared modulus with no column.
    */
  def resolveBuckets(spark: SparkSession, table: String,
      tableDir: Option[String] = None): Option[Int] = {
    // with the table's directory in hand (the streaming Config carries
    // it), the declaration reads from the manifest directly; the SQL
    // path stays for callers that only know the catalog name
    val (declared, hasColumn) = tableDir match {
      case Some(d) =>
        val snap = manifestSnapshot(d)
        (snap.flatMap(_.properties.get(BucketsProp)).map(_.toInt),
          snap.exists(_.schema.fieldNames.contains(BucketColumnName)))
      case None =>
        (declaredBuckets(spark, table),
          spark.table(table).columns.contains(BucketColumnName))
    }
    (declared, hasColumn) match {
      case (Some(_), false) => sys.error(
        s"$table declares $BucketsProp but lacks the $BucketColumnName column")
      case (None, true) => sys.error(
        s"$table carries $BucketColumnName with no declared $BucketsProp — the modulus is " +
          "unknowable and a mismatched batch silently turns updates into duplicate inserts; " +
          s"declare it (ALTER TABLE $table SET TBLPROPERTIES ('$BucketsProp' = '<n>'))")
      case _ => declared
    }
  }

  /** The MERGE statement [[idempotentMerge]] runs — factored out so
    * specs can EXPLAIN the exact SQL and pin the pruned scan shape.
    */
  def mergeSql(
      table: String, view: String, keys: Seq[String], cols: Seq[String],
      buckets: Option[Seq[Int]] = None): String = {
    val on = keys.map(k => s"t.`$k` = s.`$k`").mkString(" AND ") +
      buckets.filter(_.nonEmpty).fold("")(bs =>
        s" AND t.`$BucketColumnName` IN (${bs.sorted.mkString(", ")})")
    val set = cols.filterNot(keys.contains).map(c => s"t.`$c` = s.`$c`").mkString(", ")
    val ins = cols.map(c => s"`$c`").mkString(", ")
    val vals = cols.map(c => s"s.`$c`").mkString(", ")
    s"""MERGE INTO $table t USING $view s ON $on
       |WHEN MATCHED THEN UPDATE SET $set
       |WHEN NOT MATCHED THEN INSERT ($ins) VALUES ($vals)""".stripMargin
  }

  final case class Config(
      sourceDir: String,
      /** fully-qualified SQL name of a pre-created Graft table (MOR
        * mode for O(churn) writes; COW also works, trading write
        * amplification for read speed — same knob as Iceberg).
        */
      table: String,
      /** the table's physical directory (threshold compaction runs
        * against the format layer directly, like the reference's
        * TargetMaintenanceProcessor next to its merge loop).
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
      /** fold position deletes + small files every N batches. */
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

  /** Highest batch id stamped into the table's current snapshot under
    * `prop` (one stamp namespace per stream).
    */
  def committedBatchId(spark: SparkSession, table: String,
      prop: String = BatchIdProp): Option[Long] =
    spark.sql(s"SHOW TBLPROPERTIES $table")
      .where(col("key") === prop)
      .collect().headOption.map(_.getString(1).toLong)

  /** foreachBatch handler: latest-per-key dedup within the batch, then
    * one `MERGE INTO` on the merge keys — exactly once per batch id.
    * Returns true if the batch was applied, false for a replay skip.
    */
  def idempotentMerge(table: String, keys: Seq[String], versionCols: Seq[String],
      pruneBuckets: Option[Int] = None, batchIdProp: String = BatchIdProp,
      tableDir: Option[String] = None)(
      batch: DataFrame, batchId: Long): Boolean = {
    require(keys.nonEmpty, "merge requires at least one key column")
    require(versionCols.nonEmpty, "upsert versioning requires at least one version column")
    val spark = batch.sparkSession
    // replay pre-check: from the manifest when the caller knows the
    // table dir (per-batch SHOW TBLPROPERTIES was ~0.1 s of driver
    // resolution); the commit-window guard inside GraftCommitStamp stays
    // the authoritative exactly-once gate either way
    val replayed = tableDir match {
      case Some(d) => manifestSnapshot(d)
        .exists(s => GraftCommitStamp.committed(s.properties, batchIdProp, batchId))
      case None => committedBatchId(spark, table, batchIdProp).exists(_ >= batchId)
    }
    if (replayed) return false
    val staged = Upsert.latestByKey(batch, keys, versionCols)
    val cols = staged.columns.toSeq
    // the batch's distinct buckets: a bounded collect (≤ nBuckets ≤
    // MaxBuckets rows) over the RAW batch — dedup can't add buckets, so
    // this avoids computing the latest-per-key window twice. When every
    // bucket is present the conjunct prunes nothing; drop it.
    val buckets = pruneBuckets.flatMap { n =>
      require(cols.contains(BucketColumnName),
        s"pruneBuckets set but batch lacks $BucketColumnName")
      val bs = batch.select(BucketColumnName).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (bs.size < n) Some(bs) else None
    }
    val view = s"graft_stream_merge_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    staged.createOrReplaceTempView(view)
    try {
      GraftCommitStamp.withBatchId(batchIdProp, batchId) {
        spark.sql(mergeSql(table, view, keys, cols, buckets))
      }
      true
    } catch {
      // a replay that raced past the pre-check (crash between table
      // commit and checkpoint advance, or a concurrent writer): the
      // commit refused atomically, Spark aborted the staged files
      case e: Throwable if GraftCommitStamp.isReplay(e) => false
    } finally spark.catalog.dropTempView(view)
  }

  /** Drain all currently-available source blobs into the target table
    * (one change-capture cycle): file source → field selection → merge
    * key → per-batch idempotent MERGE, with threshold compaction on the
    * batch-id cadence (restart-safe: the cadence is a pure function of
    * the checkpointed batch id). A target that declares its bucket
    * modulus ([[seedTarget]]) has every batch bucketed with it, each
    * MERGE reads only the files whose bucket range covers the batch's
    * keys, and compaction clusters by bucket to keep those ranges
    * tight. Returns micro-batches processed.
    */
  def runAvailableNow(spark: SparkSession, schema: StructType, cfg: Config): Long = {
    // resolved ONCE per cycle against the target's own declaration —
    // the modulus can never drift from the table's bucket column
    val buckets = resolveBuckets(spark, cfg.table, Some(cfg.tableDir))
    val keyed = ChangeCapture.keyed(
      ChangeCapture.files(spark, schema, cfg.sourceDir, cfg.maxFilesPerTrigger),
      cfg.fieldRule, cfg.essentialFields, cfg.primaryKeys, cfg.versionCols, sourceVersion = false)
    val bucketed = buckets.fold(keyed)(n => keyed.withColumn(BucketColumnName, bucketExpr(n)))
    ChangeCapture.drain(bucketed, cfg.checkpointDir) { (batch, batchId) =>
      idempotentMerge(cfg.table, Seq(MergeKey.ColumnName), cfg.versionCols,
        buckets, cfg.batchIdProp, Some(cfg.tableDir))(batch, batchId)
      // OUTSIDE the stamp scope: maintenance is content-neutral and
      // must not be refused as a "replay" of the batch it follows
      ChangeCapture.maintain(batchId)(
        cfg.compactEveryBatches -> (() => GraftMaintenance.compact(spark, cfg.tableDir,
          cfg.compactSmallBytes, sortCols = buckets.map(_ => BucketColumnName).toSeq)),
        cfg.expireEveryBatches -> (() => tableIO(cfg).expireSnapshots(cfg.keepSnapshots)),
        cfg.orphansEveryBatches -> (() => tableIO(cfg).removeOrphans()))
    }
  }

  private def tableIO(cfg: Config) =
    new graft.catalog.GraftManifestIO(
      new org.apache.hadoop.fs.Path(cfg.tableDir), graft.catalog.GraftConf.hadoop)

  /** Continuous change capture against the catalog table: repeated
    * AvailableNow cycles separated by jittered poll delays — the
    * reference's poll loop (`changeCaptureInterval` + jitter) on the
    * O(churn) merge path. The checkpoint dedupes files across cycles;
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
