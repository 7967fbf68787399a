package graft.streaming

import graft.catalog.GraftCommitConflict
import graft.operators.{FieldSelection, MergeKey}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import scala.util.Random

/** Change-capture cadence with deterministic jitter, the reference's
  * `changeCaptureInterval` / `changeCaptureJitterVariance` /
  * `changeCaptureJitterSeed`
  * (/root/reference/stream-spec-yaml-example.yaml:27-30). Jitter spreads
  * many concurrent streams' polling so a fleet does not hammer the
  * source in lockstep; the seed makes schedules reproducible.
  *
  * In continuous mode Spark's `Trigger.ProcessingTime` takes the base
  * interval; `nextDelayMs` supplies the jittered delay for
  * poll-style (AvailableNow-per-cycle) deployments like the reference's.
  */
final class ChangeCapture(intervalMs: Long, jitterVariance: Double, jitterSeed: Long) {
  require(jitterVariance >= 0 && jitterVariance < 1, "variance must be in [0, 1)")
  private val rnd = new Random(jitterSeed)

  /** Next delay: intervalMs * (1 ± variance), uniformly. */
  def nextDelayMs(): Long = {
    val factor = 1.0 + jitterVariance * (rnd.nextDouble() * 2 - 1)
    math.max(1L, math.round(intervalMs * factor))
  }

  /** The first n delays (for tests / schedule preview). */
  def schedule(n: Int): Seq[Long] = Seq.fill(n)(nextDelayMs())
}

/** The one change-capture cycle every streaming sink runs: the reference
  * polls on its cadence, selects fields, derives the merge key, upserts
  * the batch and maintains the target on a batch-count threshold. Sinks
  * differ only in the per-batch handler they pass to [[drain]].
  */
object ChangeCapture {

  /** The blob source: parquet files under `dir`, at most
    * `maxFilesPerTrigger` per micro-batch when set.
    */
  def files(spark: SparkSession, schema: StructType, dir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n)).parquet(dir)
  }

  /** `src` field-selected and merge-keyed. With `sourceVersion` each row
    * carries its blob's version ([[StreamPipeline.SourceVersionColumn]],
    * the file modification time), projected at the source where the
    * hidden metadata column is reachable. Key, version and source-version
    * fields always survive the selection. Stream or batch read alike.
    */
  def keyed(src: DataFrame, rule: FieldSelection.Rule, essentials: Set[String],
      primaryKeys: Seq[String], versionCols: Seq[String], sourceVersion: Boolean): DataFrame = {
    val versioned = if (!sourceVersion) src
      else src.withColumn(StreamPipeline.SourceVersionColumn, col("_metadata.file_modification_time"))
    val kept = essentials ++ primaryKeys ++ versionCols ++
      (if (sourceVersion) Set(StreamPipeline.SourceVersionColumn) else Set.empty)
    MergeKey.withMergeKey(FieldSelection(versioned, rule, kept), primaryKeys)
  }

  /** One capture cycle: drain everything `source` has now through
    * `handler` as AvailableNow micro-batches, checkpointed at
    * `checkpointDir` (the checkpoint dedupes files across cycles and
    * keeps batch ids monotonic). Returns the micro-batches processed.
    *
    * A batch of exactly one partition reaches `handler` as
    * `coalesce(1)`, which declares `SinglePartition`: its per-key
    * clustering (the upsert's latest-per-key window, an index batch's
    * term grouping) then plans without an exchange, and the batch's
    * sort, dedup and commit run as one Spark job in the task that reads
    * it, not as a shuffle map stage plus the write. foreachBatch hands
    * the batch over as a [[LogicalRDD]] over the rows it already
    * planned, so the count is read off that RDD without running a job.
    * The rule is exact: coalescing one partition into one moves no row
    * and reorders none, it only adds the guarantee that satisfies any
    * clustered distribution. From the file source such a batch is at
    * most `spark.sql.files.maxPartitionBytes` of input, which the source
    * already sized as one task's work. A batch of more partitions
    * reaches `handler` as it came.
    */
  def drain(source: DataFrame, checkpointDir: String)(handler: (DataFrame, Long) => Unit): Long = {
    var batches = 0L
    val q = source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        handler(singlePartition(batch), batchId); batches += 1
      }
      .start()
    q.awaitTermination()
    batches
  }

  /** `batch` as `coalesce(1)` when it is exactly one partition, else `batch`. */
  private def singlePartition(batch: DataFrame): DataFrame =
    batch.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.getNumPartitions == 1 => batch.coalesce(1)
      case _ => batch
    }

  /** The poll loop: up to `maxCycles` runs of `cycle`, separated by the
    * cadence's jittered delays. A stop of `lifetime` ends the loop after
    * the cycle in flight and cuts a delay short.
    */
  def poll(cadence: ChangeCapture, maxCycles: Int, lifetime: StreamLifetime)(cycle: => Unit): Unit = {
    var n = 0
    while (n < maxCycles && lifetime.isActive) {
      cycle
      n += 1
      if (n < maxCycles && lifetime.isActive) lifetime.interruptibleSleep(cadence.nextDelayMs())
    }
  }

  /** Is a step that fires every `every` batches due after `batchId`? The
    * cadence is a function of the checkpointed batch id, so it survives a
    * restart, and a replayed batch re-fires its step rather than skip it.
    */
  def due(every: Option[Int], batchId: Long): Boolean = every.exists(n => (batchId + 1) % n == 0)

  /** Run each due `(every, step)` after batch `batchId`, best-effort.
    * Maintenance is content-neutral and runs after the batch committed:
    * a conflict that survives a step's own retries (its inputs rewritten
    * by a racing writer) is dropped and the next due batch runs it again,
    * rather than failing the query over a batch that already landed.
    */
  def maintain(batchId: Long)(steps: (Option[Int], () => Any)*): Unit =
    steps.foreach { case (every, step) =>
      if (due(every, batchId)) try step() catch { case _: GraftCommitConflict => () }
    }
}
