package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Stream failures that should terminate the process with the
  * reference's "stream failed" exit code
  * (`StreamFailException` → exit 2, main.scala:80-83; any other failure
  * → exit 1). The distinction matters to the operator: exit 2 marks a
  * data/stream-level failure eligible for restart-with-backoff, exit 1 a
  * configuration/bootstrap failure that restarting will not fix.
  */
final class StreamFailException(message: String, cause: Throwable = null)
    extends RuntimeException(message, cause)

/** Boots the stream engine the way the reference boots
  * (main.scala:134-144): read the spec from `STREAMCONTEXT__SPEC`, build
  * the pipeline from it, run the change-capture loop, and map failures
  * to the reference's exit codes.
  */
object StreamRunner {

  val ExitSuccess      = 0
  val ExitBootFailure  = 1
  val ExitStreamFailed = 2

  /** The reference's `getExitCode` (main.scala:80-83). */
  def exitCodeFor(t: Throwable): Int = t match {
    case _: StreamFailException => ExitStreamFailed
    case _                      => ExitBootFailure
  }

  /** Bootstrap from the environment and run `maxCycles` change-capture
    * cycles. Spec parsing / config construction failures propagate as-is
    * (→ exit 1); failures while the stream is running are wrapped in
    * [[StreamFailException]] (→ exit 2), matching where the reference
    * raises it (inside the running stream graph, not during layer
    * construction). Returns the cycle metrics on success.
    *
    * `sourceDir`/`targetDir`/... override the spec's object-store paths
    * for local and test deployments, exactly like
    * [[StreamSpec.pipelineConfig]].
    */
  def boot(
      spark: SparkSession,
      schema: StructType,
      env: Map[String, String] = sys.env,
      maxCycles: Int = Int.MaxValue,
      lifetime: StreamLifetime = StreamLifetime.always,
      publisher: MetricsPublisher = MetricsPublisher.Noop,
      sourceDir: Option[String] = None,
      targetDir: Option[String] = None,
      checkpointDir: Option[String] = None,
      stagingDir: Option[String] = None
  ): StreamPipeline.CycleMetrics = {
    // bootstrap phase — failures here are configuration errors (exit 1)
    val spec    = StreamSpec.fromEnv(env)
    val cfg     = StreamSpec.pipelineConfig(spec, sourceDir, targetDir, checkpointDir, stagingDir)
    val cadence = StreamSpec.changeCapture(spec)
    StreamSpec.applyObjectStoreConf(spark, spec)
    // run phase — failures here are stream failures (exit 2)
    try {
      if (StreamSpec.isBackfill(env)) runBackfill(spark, schema, spec, env, cfg)
      else StreamPipeline.runContinuously(spark, schema, cfg, cadence, maxCycles, lifetime, publisher)
    } catch {
      case f: StreamFailException => throw f
      case t: Throwable           => throw new StreamFailException(s"stream failed: ${t.getMessage}", t)
    }
  }

  /** Backfill-mode boot (`STREAMCONTEXT__BACKFILL=true`, the reference's
    * `streamMode.backfill`): recompute the target from the source blobs
    * at or after `backfillStartDate` (blob VERSION = modification time,
    * exactly what the streaming path stamps), honoring the spec's
    * `backfillBehavior`:
    *
    *  - Overwrite — sharded recompute + atomic completion swap
    *    ([[graft.operators.Backfill.runSharded]]; resumable via the
    *    persisted shard state keyed by `STREAMCONTEXT__BACKFILL_ID`)
    *  - Merge — commit the slice's latest-per-key rows as one
    *    merge-on-read delta on the existing target (MERGE semantics,
    *    without reading or rewriting the target)
    *
    * Returned metrics: `batches` = shards staged this run (Overwrite) or
    * 1 (Merge); row counters stay 0 — a backfill is one commit, not a
    * metered stream.
    */
  private def runBackfill(
      spark: SparkSession,
      schema: StructType,
      spec: StreamSpec.Mapping,
      env: Map[String, String],
      cfg: StreamPipeline.Config
  ): StreamPipeline.CycleMetrics = {
    import graft.operators.{Backfill, MergeKey, Upsert}
    import graft.sources.{BlobListingSource, SnapshotStore}

    val behavior = StreamSpec.backfillBehavior(spec).getOrElse("Overwrite")
    val fromMs = StreamSpec.backfillStartDate(spec)
      .map(d => java.time.Instant.parse(d).toEpochMilli)
    val blobs    = BlobListingSource.listBlobs(spark, cfg.sourceDir, cfg.commitRetry)
    val selected = fromMs.fold(blobs)(ms => blobs.filter(_.modifiedMs >= ms))
    if (selected.isEmpty) return StreamPipeline.CycleMetrics(0, 0, 0)

    val keyed = ChangeCapture.keyed(spark.read.schema(schema).parquet(selected.map(_.path): _*),
      cfg.fieldRule, cfg.essentialFields, cfg.primaryKeys, cfg.versionCols, cfg.includeSourceVersion)

    val store = new SnapshotStore(spark, cfg.targetDir)
    behavior match {
      case "Overwrite" =>
        val staging = cfg.stagingDir.getOrElse("/tmp/graft-backfill") + "/backfill-staging"
        val state = new Backfill.BackfillStateManager(spark, s"$staging/state",
          StreamSpec.backfillId(env).getOrElse("backfill"))
        val result = Backfill.runSharded(spark, keyed, Seq(MergeKey.ColumnName), cfg.versionCols,
          nShards = 8, s"$staging/shards", store, state)
        StreamPipeline.CycleMetrics(result.stagedThisRun.size.toLong, 0, 0)
      case "Merge" =>
        store.commitDelta(Upsert.latestByKey(keyed, Seq(MergeKey.ColumnName), cfg.versionCols),
          Seq(MergeKey.ColumnName), maxRowsPerFile = Some(cfg.maxRowsPerFile), retry = cfg.commitRetry)
        StreamPipeline.CycleMetrics(1, 0, 0)
    }
  }

  /** `boot` with the process exit-code contract instead of exceptions:
    * 0 on success, 2 when the running stream failed, 1 otherwise.
    */
  def run(
      spark: SparkSession,
      schema: StructType,
      env: Map[String, String] = sys.env,
      maxCycles: Int = Int.MaxValue,
      lifetime: StreamLifetime = StreamLifetime.always,
      sourceDir: Option[String] = None,
      targetDir: Option[String] = None,
      checkpointDir: Option[String] = None
  ): Int =
    try {
      boot(spark, schema, env, maxCycles, lifetime,
        sourceDir = sourceDir, targetDir = targetDir, checkpointDir = checkpointDir)
      ExitSuccess
    } catch {
      case t: Throwable =>
        System.err.println(s"[graft] application failed: ${t.getMessage}")
        exitCodeFor(t)
    }
}

/** The deployable entrypoint (`spark-submit --class graft.streaming.
  * StreamMain ...`): everything comes from `STREAMCONTEXT__SPEC`; the
  * source schema is inferred from the blobs already present under the
  * spec's source path (a stream over an empty prefix has no schema to
  * run with — that is a bootstrap error, exit 1). SIGTERM stops the
  * lifetime service for a graceful drain, as the reference's
  * `PosixStreamLifetimeService` does.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-stream")
      .config("spark.sql.shuffle.partitions", 32)
      // unsound in Spark 4.1 — see GraftSession for the full account
      .config("spark.sql.unionOutputPartitioning", "false")
      .getOrCreate()
    val code =
      try {
        val spec = StreamSpec.fromEnv()
        val sourceDir = StreamSpec.str(spec, "source", "configuration", "sourcePath")
          .getOrElse(throw new IllegalArgumentException("spec missing source.configuration.sourcePath"))
        StreamSpec.applyObjectStoreConf(spark, spec)
        val schema   = spark.read.parquet(sourceDir).schema
        val lifetime = new StreamLifetime().installShutdownHook()
        StreamRunner.run(spark, schema, lifetime = lifetime)
      } catch {
        case t: Throwable =>
          System.err.println(s"[graft] bootstrap failed: ${t.getMessage}")
          StreamRunner.exitCodeFor(t)
      } finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
