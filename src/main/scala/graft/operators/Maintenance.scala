package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Target-table maintenance, the reference's `TargetMaintenanceProcessor`
  * with `targetOptimizeSettings.fileSizeThreshold`
  * (/root/reference/stream-spec-yaml-example.yaml:49-61).
  *
  * Compaction = read the (many small) files and rewrite into
  * ceil(inputBytes / targetFileBytes) files via `repartition` — the Spark
  * equivalent of Iceberg OPTIMIZE. The repartition is a round-robin
  * shuffle sized by actual input bytes, so output files land near the
  * target size regardless of input skew. Snapshot/orphan expiration are
  * table-format concerns (Iceberg/Delta `expire_snapshots` /
  * `remove_orphan_files`); with plain parquet dirs the rewrite itself
  * supersedes old files atomically via overwrite.
  */
object Maintenance {
  def targetFileCount(inputBytes: Long, targetFileBytes: Long): Int =
    math.max(1, math.ceil(inputBytes.toDouble / targetFileBytes).toInt)

  def compact(spark: SparkSession, inputDir: String, outputDir: String, targetFileBytes: Long): DataFrame = {
    val df    = spark.read.parquet(inputDir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n     = targetFileCount(bytes.min(BigInt(Long.MaxValue)).toLong, targetFileBytes)
    df.repartition(n).write.mode("overwrite").parquet(outputDir)
    spark.read.parquet(outputDir)
  }
}

/** Threshold-driven target maintenance — the reference's
  * `TargetMaintenanceProcessor` firing OPTIMIZE / snapshot expiration /
  * orphan removal / ANALYZE every `batchThreshold` processed batches
  * (`maintenanceSettings.*.batchThreshold`,
  * /root/reference/stream-spec-yaml-example.yaml:49-63). The pipeline
  * counts batches across cycles and calls [[TargetMaintenance.maybeRun]]
  * after each commit.
  */
object TargetMaintenance {

  final case class Settings(
      batchThreshold: Int,
      keepSnapshots: Int = 2,
      targetFileBytes: Long = 512L * 1024 * 1024,
      /** `targetAnalyzeSettings.includedColumns` (empty = skip ANALYZE). */
      analyzeColumns: Seq[String] = Seq.empty
  ) { require(batchThreshold >= 1) }

  final case class Report(
      atBatch: Long,
      compactedToFiles: Int,
      expiredSnapshots: Seq[Long],
      orphansRemoved: Int,
      analyzedColumns: Int
  )

  /** Fire maintenance iff `batchNumber` is a multiple of the threshold. */
  def maybeRun(
      spark: SparkSession, store: graft.sources.SnapshotStore,
      settings: Settings, batchNumber: Long
  ): Option[Report] =
    if (batchNumber % settings.batchThreshold != 0) None
    else Some(run(spark, store, settings, batchNumber))

  /** OPTIMIZE (rewrite the current snapshot into target-sized files as a
    * new base commit, folding its merge-on-read delta chain), expire old
    * snapshots, remove orphan files, ANALYZE. Order matters: compaction
    * first so expiration can retire the fragmented snapshot and the
    * chain it superseded. `batchThreshold` thus bounds the chain, and
    * with it the cost of every read between folds.
    */
  def run(
      spark: SparkSession, store: graft.sources.SnapshotStore,
      settings: Settings, batchNumber: Long
  ): Report = {
    val compactedTo = store.read() match {
      case Some(current) =>
        val bytes = current.queryExecution.optimizedPlan.stats.sizeInBytes
        val n     = Maintenance.targetFileCount(bytes.min(BigInt(Long.MaxValue)).toLong, settings.targetFileBytes)
        store.commit(current.repartition(n))
        n
      case None => 0
    }
    val expired = store.expireSnapshots(settings.keepSnapshots)
    val orphans = store.removeOrphanFiles()
    val analyzed =
      if (settings.analyzeColumns.isEmpty) 0
      else store.read() match {
        case Some(current) =>
          // driver-side stats materialization, the ANALYZE equivalent;
          // one distributed scan via the shared stats operator
          Analyze.columnStats(current, settings.analyzeColumns, exact = true).collect().length
        case None => 0
      }
    Report(batchNumber, compactedTo, expired, orphans.length, analyzed)
  }
}
