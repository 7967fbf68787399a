package graft

import graft.catalog.{GraftManifestIO, GraftTable}
import graft.operators.FieldSelection
import graft.streaming.{RetryMode, StreamPipeline, StreamSpec}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Spec-driven configuration: the reference deployment is a YAML stream
  * spec (stream-spec-yaml-example.yaml); these tests prove the same spec
  * shape drives this engine end-to-end with no Scala required.
  */
class StreamSpecSpec extends SparkSpec {
  import spark.implicits._

  // mirrors the reference example's shape (tagged unions, durations,
  // sizes, rates, inline empties, quoted scalars, trailing comma)
  private val specText =
    """observability:
      |  metricTags: {}
      |staging:
      |  table:
      |    maxRowsPerFile: 10000
      |    stagingCatalogName: iceberg
      |    stagingSchemaName: test
      |streamMode:
      |  backfill:
      |    backfillBehavior: Overwrite
      |    backfillStartDate: "2026-01-01T00:00:00Z"
      |  changeCapture:
      |    changeCaptureInterval: 5 second
      |    changeCaptureJitterVariance: 0.1
      |    changeCaptureJitterSeed: 42
      |sink:
      |  mergeServiceClient:
      |    connectionUrl: "jdbc:trino://localhost:8080",
      |    queryRetryMode:
      |      onMessageContents: {}
      |    queryRetryBaseDuration: 100 millisecond
      |    queryRetryOnMessageContents:
      |      - TIMEOUT
      |      - CONNECTION_RESET
      |    queryRetryScaleFactor: 2.0
      |    queryRetryMaxAttempts: 3
      |  targetTableProperties:
      |    format: PARQUET
      |    sortedBy: []
      |    parquetBloomFilterColumns: []
      |  targetTableFullName: iceberg.test.parquet_test
      |  maintenanceSettings:
      |    targetOptimizeSettings:
      |      batchThreshold: 60
      |      fileSizeThreshold: 512MB
      |    targetSnapshotExpirationSettings:
      |      batchThreshold: 40
      |      retentionThreshold: 6h
      |    targetAnalyzeSettings:
      |      includedColumns: [k, payload]
      |      batchThreshold: 80
      |throughput:
      |  shaperImpl:
      |    memoryBound:
      |      fallbackStringTypeSizeEstimate: 50
      |      objectTypeSizeEstimate: 4096
      |      chunkCostScale: 1
      |      chunkCostMax: 10
      |      tableRowCountWeight: 0.05
      |      tableSizeWeight: 0.05
      |      tableSizeScaleFactor: 1
      |    advisedRate: "1000 per 1 second"
      |    advisedBurst: 1000
      |    advisedChunkSize: 10
      |source:
      |  configuration:
      |    sourcePath: /data/landing
      |    tempStoragePath: /tmp
      |    primaryKeys:
      |      - k
      |    useNameMapping: false
      |  buffering:
      |    enabled: false
      |    strategy: {}
      |  fieldSelectionRule:
      |    essentialFields: [k]
      |    rule:
      |      exclude: [internal_note]
      |""".stripMargin

  test("scalar grammar: durations, sizes, rates") {
    assert(StreamSpec.durationMs("5 second") == 5000L)
    assert(StreamSpec.durationMs("100 millisecond") == 100L)
    assert(StreamSpec.durationMs("6h") == 6L * 3600 * 1000)
    assert(StreamSpec.durationMs("3500 second") == 3_500_000L)
    assert(StreamSpec.sizeBytes("512MB") == 512L * 1024 * 1024)
    assert(StreamSpec.sizeBytes("2GB") == 2L * 1024 * 1024 * 1024)
    assert(StreamSpec.sizeBytes("1024") == 1024L)
    assert(StreamSpec.ratePerSecond("1000 per 1 second") == 1000.0)
    assert(StreamSpec.ratePerSecond("30 per 1 minute") == 0.5)
  }

  test("spec parses into the typed configs the reference spec describes") {
    val spec = StreamSpec.parse(specText)

    val retry = StreamSpec.retryPolicy(spec)
    assert(retry.maxAttempts == 3 && retry.baseDelayMs == 100L && retry.scaleFactor == 2.0)
    assert(retry.effectiveMode == RetryMode.OnMessageContents)
    assert(retry.isRetryable(new RuntimeException("query TIMEOUT while merging")))
    assert(!retry.isRetryable(new RuntimeException("syntax error")))

    val maint = StreamSpec.maintenanceSettings(spec).get
    // per-kind thresholds fold with min so nothing fires less often
    assert(maint.batchThreshold == 40)
    assert(maint.targetFileBytes == 512L * 1024 * 1024)
    assert(maint.analyzeColumns == Seq("k", "payload"))

    val (rule, essentials) = StreamSpec.fieldSelection(spec)
    assert(rule == FieldSelection.Exclude(Set("internal_note")) && essentials == Set("k"))

    assert(StreamSpec.backfillBehavior(spec).contains("Overwrite"))
    assert(StreamSpec.backfillStartDate(spec).contains("2026-01-01T00:00:00Z"))

    // jittered cadence is seed-deterministic and within ±variance
    val cadence = StreamSpec.changeCapture(spec)
    val sched   = cadence.schedule(10)
    assert(sched.forall(d => d >= 4500 && d <= 5500), s"jitter out of band: $sched")
    assert(StreamSpec.changeCapture(spec).schedule(10) == sched, "same seed must reproduce the schedule")

    val bucket = StreamSpec.tokenBucket(spec, () => 0L).get
    assert(bucket.tryAcquire(1000) && !bucket.tryAcquire(1))

    // memory-bound shaper settings parse with the yaml example's values
    val mb = StreamSpec.memoryBound(spec).get
    assert(mb.fallbackStringBytes == 50 && mb.objectBytes == 4096)
    assert(mb.chunkCostMax == 10.0 && mb.rowCountWeight == 0.05)

    val cfg = StreamSpec.pipelineConfig(spec)
    assert(cfg.sourceDir == "/data/landing" && cfg.targetDir == "iceberg.test.parquet_test")
    assert(cfg.primaryKeys == Seq("k") && cfg.maxRowsPerFile == 10000)
    assert(cfg.maxFilesPerTrigger.contains(10) && !cfg.sourceBuffering)
    assert(cfg.includeSourceVersion && cfg.versionCols == Seq(StreamPipeline.SourceVersionColumn))
    assert(!cfg.detectConflicts, "optimistic concurrency is opt-in")
    val occ = StreamSpec.pipelineConfig(StreamSpec.parse(
      """source:
        |  configuration:
        |    sourcePath: /data/landing
        |    primaryKeys: [k]
        |sink:
        |  targetTableFullName: t
        |  optimisticConcurrency: true
        |""".stripMargin))
    assert(occ.detectConflicts, "sink.optimisticConcurrency must map to detectConflicts")
  }

  test("a spec file drives the streaming pipeline end-to-end") {
    val src     = Files.createTempDirectory("graft_spec_src").toString
    val target  = Files.createTempDirectory("graft_spec_tgt").toString + "/t"
    val ckpt    = Files.createTempDirectory("graft_spec_ckpt").toString
    val staging = Files.createTempDirectory("graft_spec_stage").toString

    // two blobs for the same key, second one newer — reference upsert
    // semantics (latest blob version wins, IntegrationTests.scala:176-181)
    Seq((1, "old"), (2, "keep2")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100) // distinct file mtimes at 1s granularity
    Seq((1, "new")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)

    val spec = StreamSpec.parse(specText)
    val cfg  = StreamSpec.pipelineConfig(spec,
      sourceDir = Some(src), targetDir = Some(target), checkpointDir = Some(ckpt),
      stagingDir = Some(staging))
    assert(cfg.stagingDir.contains(staging), "the stagingDir override must reach the config")
    val schema = spark.read.parquet(src).schema

    val batches = StreamPipeline.runAvailableNow(spark, schema, cfg)
    assert(batches >= 1)
    val rows = GraftTable.read(spark, target).get
      .select("k", "payload").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "new", 2 -> "keep2"),
      s"spec-driven pipeline must keep the latest blob version per key: $rows")
    // each batch's delta is its staged batch: nothing lands under staging
    val leftovers = Option(new java.io.File(staging).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    assert(leftovers.isEmpty, s"streaming must write nothing under staging: $leftovers")
  }

  test("a spec-booted one-partition micro-batch with a staging section runs 1 job and writes only the delta") {
    import graft.streaming.StreamRunner
    val tmp    = Files.createTempDirectory("graft_spec_jobs").toString
    val src    = s"$tmp/src"
    val target = s"$tmp/t"
    val ckpt   = s"$tmp/ckpt"
    val m = 30
    Seq((1, "seed")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    // tempStoragePath roots the spec-derived stagingDir ($tmp/graft-staging)
    val env = Map(StreamSpec.SpecEnvVar -> specText
      .replace("tempStoragePath: /tmp", s"tempStoragePath: $tmp")
      .replace("maxRowsPerFile: 10000", s"maxRowsPerFile: $m"))
    assert(StreamSpec.pipelineConfig(StreamSpec.fromEnv(env), sourceDir = Some(src))
      .stagingDir.contains(s"$tmp/graft-staging"))
    val schema = spark.read.parquet(src).schema
    StreamRunner.boot(spark, schema, env, maxCycles = 1,
      sourceDir = Some(src), targetDir = Some(target), checkpointDir = Some(ckpt))

    // the measured cycle: one blob of n rows -> one merge micro-batch
    val n = 100
    Thread.sleep(1100) // a later blob version than the seed's
    (1 to n).map(i => (i, s"p$i")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    val (cycle, jobs) = JobCounter(spark) { counter =>
      val r = StreamRunner.boot(spark, schema, env, maxCycles = 1,
        sourceDir = Some(src), targetDir = Some(target), checkpointDir = Some(ckpt))
      (r, counter.drain())
    }
    val jobsByBatch = jobs.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .groupBy(identity).map { case (b, js) => b -> js.size }
    assert(cycle.batches == 1 && cycle.rowsStaged == n, s"unexpected metrics: $cycle")
    assert(jobsByBatch == Map("1" -> 1),
      s"a one-partition merge batch dedups and writes its delta in one job: $jobsByBatch")
    assert(!new java.io.File(s"$tmp/graft-staging").exists(), "no staged copy may be written")

    val head = new GraftManifestIO(new org.apache.hadoop.fs.Path(target),
      spark.sparkContext.hadoopConfiguration).currentSnapshot().get
    val counts = head.files.filter(_.seq == head.version)
      .map(f => spark.read.parquet(s"$target/${f.path}").count())
    assert(counts.size == (n + m - 1) / m && counts.forall(_ <= m) && counts.sum == n,
      s"the batch must land as ceil($n/$m) files of at most $m rows: $counts")
  }

  test("STREAMCONTEXT__SPEC env var boots the pipeline end-to-end") {
    import graft.streaming.StreamRunner
    val src    = Files.createTempDirectory("graft_env_src").toString
    val target = Files.createTempDirectory("graft_env_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_env_ckpt").toString
    Seq((1, "a"), (2, "b")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    // the operator serializes the spec into the env var; env is an
    // injectable map because the JVM cannot mutate its own environment
    val env = Map(
      StreamSpec.SpecEnvVar       -> specText,
      StreamSpec.BackfillEnvVar   -> "false",
      StreamSpec.BackfillIdEnvVar -> "bf-123")
    assert(!StreamSpec.isBackfill(env) && StreamSpec.backfillId(env).contains("bf-123"))

    val m = StreamRunner.boot(spark, schema, env, maxCycles = 1,
      sourceDir = Some(src), targetDir = Some(target), checkpointDir = Some(ckpt))
    assert(m.batches >= 1 && m.rowsWritten == 2)
    assert(GraftTable.read(spark, target).get.count() == 2)
  }

  test("STREAMCONTEXT__BACKFILL=true boots into backfill mode per the spec's behavior") {
    import graft.streaming.StreamRunner
    val src     = Files.createTempDirectory("graft_bf_src").toString
    val target  = Files.createTempDirectory("graft_bf_tgt").toString + "/t"
    val staging = Files.createTempDirectory("graft_bf_stage").toString

    // two versions of key 1 (later blob wins), plus key 2
    Seq((1, "old"), (2, "b")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100)
    Seq((1, "new")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    // Overwrite: sharded recompute + swap (spec's backfillBehavior)
    val env = Map(
      StreamSpec.SpecEnvVar       -> specText,
      StreamSpec.BackfillEnvVar   -> "true",
      StreamSpec.BackfillIdEnvVar -> "bf-spec-test")
    val m = StreamRunner.boot(spark, schema, env, sourceDir = Some(src),
      targetDir = Some(target), stagingDir = Some(staging))
    assert(m.batches >= 1, "at least one shard must stage")
    val rows = GraftTable.read(spark, target).get
      .select("k", "payload").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "new", 2 -> "b"),
      s"backfill must recompute latest-per-key from blob versions: $rows")

    // Merge behavior: backfill slice merges into the existing target
    // (new key appears, existing keys survive)
    Thread.sleep(1100)
    Seq((3, "c")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    val mergeEnv = env.updated(StreamSpec.SpecEnvVar, specText.replace("Overwrite", "Merge"))
    StreamRunner.boot(spark, schema, mergeEnv, sourceDir = Some(src),
      targetDir = Some(target), stagingDir = Some(staging))
    val merged = GraftTable.read(spark, target).get
      .select("k", "payload").as[(Int, String)].collect().toMap
    assert(merged == Map(1 -> "new", 2 -> "b", 3 -> "c"), s"merge backfill result: $merged")

    // a second Merge backfill is a new commit, not a replay of the first
    Thread.sleep(1100)
    Seq((2, "b2")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    StreamRunner.boot(spark, schema, mergeEnv, sourceDir = Some(src),
      targetDir = Some(target), stagingDir = Some(staging))
    val again = GraftTable.read(spark, target).get
      .select("k", "payload").as[(Int, String)].collect().toMap
    assert(again == Map(1 -> "new", 2 -> "b2", 3 -> "c"), s"second merge backfill result: $again")
  }

  test("backfill honors backfillStartDate: blobs older than the start never recompute") {
    import graft.streaming.StreamRunner
    val src    = Files.createTempDirectory("graft_bfsd_src").toString
    val target = Files.createTempDirectory("graft_bfsd_tgt").toString + "/t"
    Seq((1, "x")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    // start date far in the future -> the existing blob is out of scope,
    // nothing stages, nothing commits
    val futureSpec = specText.replace("2026-01-01T00:00:00Z", "2030-01-01T00:00:00Z")
    val m = StreamRunner.boot(spark, schema,
      Map(StreamSpec.SpecEnvVar -> futureSpec, StreamSpec.BackfillEnvVar -> "true"),
      sourceDir = Some(src), targetDir = Some(target))
    assert(m.batches == 0, "no blob at/after the start date may stage")
    assert(GraftTable.read(spark, target).isEmpty, "no commit may land")
  }

  test("failures map to the reference's exit codes (stream=2, bootstrap=1)") {
    import graft.streaming.{StreamFailException, StreamRunner}
    assert(StreamRunner.exitCodeFor(new StreamFailException("boom")) == 2)
    assert(StreamRunner.exitCodeFor(new RuntimeException("boom")) == 1)

    val schema = org.apache.spark.sql.types.StructType(Seq())
    // no STREAMCONTEXT__SPEC → bootstrap failure → exit 1
    assert(StreamRunner.run(spark, schema, env = Map.empty, maxCycles = 1) == 1)
    // unparseable spec → bootstrap failure → exit 1
    assert(StreamRunner.run(spark, schema,
      env = Map(StreamSpec.SpecEnvVar -> ": not : a : spec :"), maxCycles = 1) == 1)

    // valid spec but the stream itself dies (corrupt blob in the source
    // prefix) → StreamFailException → exit 2
    val src    = Files.createTempDirectory("graft_exit_src").toString
    val target = Files.createTempDirectory("graft_exit_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_exit_ckpt").toString
    Seq((1, "a")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema2 = spark.read.parquet(src).schema
    Files.write(java.nio.file.Paths.get(src, "corrupt.parquet"),
      "this is not parquet".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(StreamRunner.run(spark, schema2, env = Map(StreamSpec.SpecEnvVar -> specText),
      maxCycles = 1, sourceDir = Some(src), targetDir = Some(target),
      checkpointDir = Some(ckpt)) == 2)
  }

  test("s3 source settings map onto Hadoop s3a configuration") {
    val s3Spec = StreamSpec.parse(
      """source:
        |  configuration:
        |    sourcePath: s3a://landing-bucket/prefix
        |    tempStoragePath: /tmp
        |    s3:
        |      usePathStyle: true
        |      region: us-east-1
        |      endpoint: http://localhost:9000
        |      maxResultsPerPage: 1000
        |      retryMaxAttempts: 5
        |      retryBaseDelay: 100 millisecond
        |      retryMaxDelay: 1 second
        |""".stripMargin)
    val conf = StreamSpec.s3HadoopConf(s3Spec)
    assert(conf == Map(
      "fs.s3a.endpoint"          -> "http://localhost:9000",
      "fs.s3a.endpoint.region"   -> "us-east-1",
      "fs.s3a.path.style.access" -> "true",
      "fs.s3a.paging.maximum"    -> "1000",
      "fs.s3a.retry.limit"       -> "5",
      "fs.s3a.retry.interval"    -> "100ms"))
    // a spec without an s3 section configures nothing
    assert(StreamSpec.s3HadoopConf(StreamSpec.parse(specText)).isEmpty)
  }
}
