package graft.streaming

import graft.operators.{FieldSelection, MergeKey, TargetMaintenance, Upsert}
import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The reference pipeline as Structured Streaming: parquet blobs landing
  * in a source directory are discovered incrementally (the engine's file
  * source performs the versioned listing), field-filtered, merge-keyed,
  * deduplicated to latest-per-key within each micro-batch, and committed
  * to a [[SnapshotStore]] target via `foreachBatch` as one merge-on-read
  * delta keyed on the merge key — the reference's staging → merge →
  * dispose → watermark loop in one write: the delta is the staged batch
  * (capped at `maxRowsPerFile` rows per file, listed by the manifest), so
  * no staged copy is written, re-read or disposed.
  *
  * Scale notes: `maxFilesPerTrigger` is the reference's throughput
  * shaping; the per-batch upsert is one windowed top-1 per key; the
  * commit writes only the staged rows (O(churn)) and never reads the
  * target, whose MERGE semantics resolve on read until the maintenance
  * optimize folds the chain. Checkpointing gives exactly-once file
  * tracking — the reference's watermark store.
  */
object StreamPipeline {

  /** Target column holding the source blob's version (file modification
    * time) — the reference's `createdon`.
    */
  val SourceVersionColumn = "arcane_created_on"

  final case class Config(
      sourceDir: String,
      targetDir: String,
      checkpointDir: String,
      primaryKeys: Seq[String],
      versionCols: Seq[String],
      fieldRule: FieldSelection.Rule = FieldSelection.All,
      essentialFields: Set[String] = Set.empty,
      maxFilesPerTrigger: Option[Int] = None,
      maxRowsPerFile: Int = 1_000_000,
      /** the reference's `source.buffering.enabled`
        * (stream-spec-yaml-example.yaml:101-103): buffer the whole
        * backlog into ONE micro-batch (one staged upsert + one commit)
        * instead of rate-limited per-trigger batches — fewer, larger
        * snapshots when the source bursts. Overrides maxFilesPerTrigger.
        */
      sourceBuffering: Boolean = false,
      /** persist each row's source blob version (the reference stamps
        * `createdon` from the blob's createdOn onto every target row,
        * IntegrationTests.scala:172-174) — Spark-native via the file
        * source's `_metadata.file_modification_time`, so it costs no
        * extra I/O and tracks exactly the version the listing used.
        * The column can then serve as a `versionCols` entry.
        */
      includeSourceVersion: Boolean = false,
      /** fire compact/expire/orphans/analyze every N batches (the
        * reference's `maintenanceSettings.*.batchThreshold`). */
      maintenance: Option[TargetMaintenance.Settings] = None,
      /** bound transient snapshot-commit failures (merge-client retry). */
      commitRetry: RetryPolicy = RetryPolicy.Never,
      /** scratch root for [[StreamRunner]]'s `Overwrite` backfill shards
        * (`<stagingDir>/backfill-staging`). Streaming never writes here:
        * each micro-batch's delta is its staged batch.
        */
      stagingDir: Option[String] = None,
      /** commit each batch with optimistic-concurrency detection
        * ([[graft.sources.SnapshotStore.commitIf]]): the batch's base
        * version is pinned when the batch starts its commit, and an
        * out-of-band writer advancing the table mid-batch (a manual
        * backfill, a second stream on the same target) fails the batch
        * with a typed conflict instead of silently reverting their
        * commit — last-writer-wins becomes fail-fast. The checkpoint
        * replays the batch on restart against a fresh base.
        */
      detectConflicts: Boolean = false
  )

  /** Per-cycle pipeline metrics — the Spark-native form of the
    * reference's DeclaredMetrics/DataDog counters. `rowsStaged` is
    * collected with the Observation API on the running plan (no extra
    * pass over the data); `rowsWritten` is the target's row count after
    * the cycle's last commit, counted once per cycle.
    */
  final case class CycleMetrics(batches: Long, rowsStaged: Long, rowsWritten: Long, maintenanceRuns: Long = 0)

  /** Monotonic batch counter carried ACROSS change-capture cycles so the
    * maintenance threshold counts stream batches, not per-cycle batches.
    */
  final class BatchCounter { private var n = 0L; def incrementAndGet(): Long = { n += 1; n }; def get: Long = n }

  /** Run the pipeline over all currently-available blobs (the streaming
    * equivalent of one change-capture cycle; `Trigger.AvailableNow`
    * drains the backlog in rate-limited micro-batches then stops).
    * Returns the number of micro-batches processed.
    */
  def runAvailableNow(spark: SparkSession, schema: StructType, cfg: Config): Long =
    runAvailableNowWithMetrics(spark, schema, cfg).batches

  /** As `runAvailableNow`, also reporting observed row counts.
    * `publisher` receives per-cycle counters (statsd-shaped seam);
    * `batchCounter` persists the batch count across cycles so the
    * maintenance threshold fires on stream-lifetime batch numbers.
    */
  def runAvailableNowWithMetrics(
      spark: SparkSession, schema: StructType, cfg: Config,
      publisher: MetricsPublisher = MetricsPublisher.Noop,
      batchCounter: BatchCounter = new BatchCounter
  ): CycleMetrics = {
    var rowsStaged = 0L
    var maintenanceRuns = 0L
    val files = ChangeCapture.files(spark, schema, cfg.sourceDir,
      if (cfg.sourceBuffering) None else cfg.maxFilesPerTrigger)
    val keyed = ChangeCapture.keyed(files, cfg.fieldRule, cfg.essentialFields, cfg.primaryKeys,
      cfg.versionCols, cfg.includeSourceVersion)
    val batches = ChangeCapture.drain(keyed, cfg.checkpointDir) { (batch, _) =>
      val store = new SnapshotStore(spark, cfg.targetDir)
      // merge-on-read: the staged latest-per-key rows land as one delta
      // keyed on the merge key, superseding every earlier row with that
      // key — the batch neither reads nor rewrites the target. The delta
      // IS the staged batch (the reference's staging table, capped at
      // maxRowsPerFile rows per file), written once. Under
      // detectConflicts the base version is pinned HERE, so an
      // out-of-band commit since fails the batch with a typed conflict.
      // A replayed batch re-commits the same rows, which supersede
      // themselves: the commit is idempotent. An evolved source schema
      // widens the table schema and reads align every part to it (the
      // reference's SchemaMigrationProcessor).
      val expected = if (cfg.detectConflicts) Some(store.currentVersion()) else None
      // each commitRetry attempt re-executes the staged plan under a
      // fresh Observation: a failed attempt completes its own with a
      // partial count, so a shared one would under-count the batch
      val (landed, staged) = Retry.withRetry(cfg.commitRetry) {
        val obs = new org.apache.spark.sql.Observation()
        val plan = Upsert.latestByKey(batch, Seq(MergeKey.ColumnName), cfg.versionCols)
          .observe(obs, count(lit(1)).as("rows"))
        val c = store.commitDelta(plan, Seq(MergeKey.ColumnName),
          maxRowsPerFile = Some(cfg.maxRowsPerFile), expectedVersion = expected)
        (c, obs.get("rows").asInstanceOf[Long])
      }
      rowsStaged += staged
      publisher.counter("graft.stream.bytes_committed", landed.bytes,
        Map("kind" -> (if (landed.deltas == 0) "base" else "delta")))
      // threshold-driven maintenance on the stream-lifetime batch number;
      // its optimize folds the delta chain into a new base
      val n = batchCounter.incrementAndGet()
      val maintained = cfg.maintenance.flatMap(s => TargetMaintenance.maybeRun(spark, store, s, n))
      maintained.foreach { r =>
        maintenanceRuns += 1
        publisher.counter("graft.maintenance.runs", 1, Map("at_batch" -> r.atBatch.toString))
      }
      val chain = if (maintained.isEmpty) landed.deltas
        else store.currentVersion().fold(0)(v => store.manifest(v).deltas.size)
      publisher.gauge("graft.snapshot.deltas", chain.toDouble)
    }
    // target rows after the cycle's last commit: one count per cycle
    val rowsWritten =
      if (batches == 0) 0L else new SnapshotStore(spark, cfg.targetDir).read().fold(0L)(_.count())
    val m = CycleMetrics(batches, rowsStaged, rowsWritten, maintenanceRuns)
    publisher.counter("graft.stream.batches", m.batches)
    publisher.counter("graft.stream.rows_staged", m.rowsStaged)
    publisher.gauge("graft.stream.rows_written", m.rowsWritten.toDouble)
    m
  }

  /** Continuous change-capture: repeated AvailableNow cycles separated by
    * jittered delays — exactly the reference's poll loop
    * (`changeCaptureInterval` + jitter). Each cycle drains newly-landed
    * blobs (checkpoint dedupes files across cycles) and commits one or
    * more snapshots. Runs `maxCycles` cycles (a production deployment
    * passes Int.MaxValue and stops via its lifetime service).
    */
  def runContinuously(
      spark: SparkSession,
      schema: StructType,
      cfg: Config,
      cadence: ChangeCapture,
      maxCycles: Int,
      lifetime: StreamLifetime = StreamLifetime.always,
      publisher: MetricsPublisher = MetricsPublisher.Noop
  ): CycleMetrics = {
    var total = CycleMetrics(0, 0, 0)
    val batchCounter = new BatchCounter // maintenance threshold spans cycles
    ChangeCapture.poll(cadence, maxCycles, lifetime) {
      val m = runAvailableNowWithMetrics(spark, schema, cfg, publisher, batchCounter)
      // rowsWritten is a gauge (target size at last commit): keep the
      // previous value through cycles that found nothing new
      val written = if (m.batches > 0) m.rowsWritten else total.rowsWritten
      total = CycleMetrics(total.batches + m.batches, total.rowsStaged + m.rowsStaged, written,
        total.maintenanceRuns + m.maintenanceRuns)
    }
    total
  }

  /** Stream-stream inner join bounded by event time: with watermarks on
    * both sides and a time-range join condition, the engine evicts each
    * side's state once the watermark passes the interval, so join-state
    * memory is governed by the lateness bound + interval width — never
    * by stream length. The streaming form of the as-of/enrichment joins
    * the batch layer provides.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftTsCol: String, rightTsCol: String,
      delay: String, condition: org.apache.spark.sql.Column
  ): DataFrame =
    left.withWatermark(leftTsCol, delay)
      .join(right.withWatermark(rightTsCol, delay), condition)

  /** Append-mode windowed aggregation with an event-time watermark: each
    * tumbling window emits EXACTLY ONCE, when the watermark passes its
    * end, and rows arriving later than `delay` past the watermark are
    * dropped — bounded state at any stream length (state per open window
    * only). This is the production streaming-aggregation shape; the
    * complete-mode variant below exists for the bounded oracle check.
    * Returns the streaming plan; callers attach their sink.
    */
  def windowedAggregateAppend(
      src: DataFrame, tsCol: String, windowDuration: String, delay: String,
      aggs: Seq[org.apache.spark.sql.Column]
  ): DataFrame =
    src.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDuration).as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket", col("w.start"))
      .drop("w")

  /** Streaming windowed aggregation (hourly counts per event type) over a
    * bounded source, complete-mode memory sink — used by the
    * `stream_pipeline` correctness query so the Structured Streaming
    * engine itself is under the oracle gate.
    */
  /** `sourceDir` must be a directory (file-source requirement); `glob`
    * selects the blobs within it.
    */
  def windowedCounts(spark: SparkSession, schema: StructType, sourceDir: String, glob: String, sinkName: String): DataFrame = {
    val src = graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).option("pathGlobFilter", glob).parquet(sourceDir))
    val agg = src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))
    val q = agg.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName).orderBy("bucket", "event_type")
  }
}
