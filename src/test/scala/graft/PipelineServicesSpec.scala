package graft

import graft.catalog.{GraftManifestIO, GraftTable}
import graft.operators.{Backfill, TargetMaintenance, Upsert}
import graft.streaming._
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Pipeline-plumbing services: retry/backoff, graceful lifetime,
  * metrics publishing, threshold maintenance, sharded backfill + state.
  */
class PipelineServicesSpec extends SparkSpec {
  import spark.implicits._

  private def tableIO(dir: String) =
    new GraftManifestIO(new org.apache.hadoop.fs.Path(dir), spark.sparkContext.hadoopConfiguration)

  // ---- retry / backoff ----

  test("retry recovers from transient failures with exponential backoff") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls  = 0
    val out = Retry.withRetry(RetryPolicy(maxAttempts = 5, baseDelayMs = 100, maxDelayMs = 250), sleep = delays += _) {
      calls += 1
      if (calls < 4) throw new RuntimeException("transient")
      42
    }
    assert(out == 42 && calls == 4)
    assert(delays.toSeq == Seq(100, 200, 250)) // doubled, capped at maxDelayMs
  }

  test("retry gives up after maxAttempts and honors message filters") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetry(RetryPolicy(maxAttempts = 3), sleep = _ => ()) {
        calls += 1; throw new RuntimeException("always")
      }
    }
    assert(e.getMessage == "always" && calls == 3)

    // non-matching message contents: fail immediately, no retries
    var calls2 = 0
    intercept[RuntimeException] {
      Retry.withRetry(
        RetryPolicy(maxAttempts = 3, retryOnMessageContents = Seq("TIMEOUT")),
        sleep = _ => ()
      ) { calls2 += 1; throw new RuntimeException("permission denied") }
    }
    assert(calls2 == 1)
  }

  test("snapshot commit retries transient failures idempotently") {
    val dir = Files.createTempDirectory("graft_retry_commit").toString + "/t"
    GraftStreamSink.commitBatch(dir, Seq((1, "a")).toDF("k", "v"), 0L, Some("k"))
    // an attempt that fails after its commit landed (a lost reply) is
    // retried: the retry finds the batch stamped and lands nothing
    var attempts = 0
    val landed = Retry.withRetry(RetryPolicy(maxAttempts = 3, baseDelayMs = 1)) {
      attempts += 1
      val c = GraftStreamSink.commitBatch(dir, Seq((1, "b")).toDF("k", "v"), 1L, Some("k"))
      if (attempts == 1) throw new java.io.IOException("connection reset after the commit")
      c
    }
    assert(attempts == 2 && landed.isEmpty, s"the retry must skip the landed batch: $landed")
    assert(tableIO(dir).versions() == Seq(1L, 2L))
    assert(GraftTable.read(spark, dir).get.as[(Int, String)].collect().toSeq == Seq((1, "b")))
  }

  // ---- graceful lifetime ----

  test("lifetime stop() ends runContinuously after the in-flight cycle") {
    val src    = Files.createTempDirectory("graft_lt_src").toString
    val target = Files.createTempDirectory("graft_lt_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_lt_ckpt").toString
    Seq((1, 1L, "a")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"))

    val lifetime = new StreamLifetime
    // SIGTERM arrives during the first poll delay: with an effectively
    // infinite cycle budget the loop must exit cleanly after the current
    // cycle instead of polling forever
    val stopper = new Thread(() => { Thread.sleep(300); lifetime.stop() })
    stopper.start()
    val t0 = System.nanoTime()
    val m = StreamPipeline.runContinuously(spark, schema, cfg,
      new ChangeCapture(intervalMs = 60000, jitterVariance = 0.0, jitterSeed = 1),
      maxCycles = Int.MaxValue, lifetime = lifetime)
    stopper.join()
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(m.batches >= 1, s"first cycle should have processed the blob: $m")
    assert(elapsedMs < 30000, s"stop() must interrupt the 60s poll delay (took ${elapsedMs}ms)")
    assert(GraftTable.read(spark, target).get.count() == 1)
  }

  // ---- metrics publishing ----

  test("statsd publisher renders counters and gauges in line protocol") {
    val rec = new StatsdRecorder
    rec.counter("graft.stream.batches", 3)
    rec.gauge("graft.stream.rows_written", 42.0, Map("stream" -> "s1"))
    assert(rec.lines.toSeq == Seq(
      "graft.stream.batches:3|c",
      "graft.stream.rows_written:42.0|g|#stream:s1"))
  }

  test("pipeline emits per-cycle counters through the publisher seam") {
    val src    = Files.createTempDirectory("graft_met_src").toString
    val target = Files.createTempDirectory("graft_met_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_met_ckpt").toString
    Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"))
    val rec = new StatsdRecorder
    StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg, publisher = rec)
    assert(rec.lines.contains("graft.stream.batches:1|c"), rec.lines.mkString(","))
    assert(rec.lines.contains("graft.stream.rows_staged:2|c"), rec.lines.mkString(","))
    assert(rec.lines.contains("graft.stream.rows_written:2.0|g"), rec.lines.mkString(","))
  }

  test("pipeline publishes bytes committed per batch and the live delta chain length") {
    val src    = Files.createTempDirectory("graft_met_delta_src").toString
    val target = Files.createTempDirectory("graft_met_delta_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_met_delta_ckpt").toString
    def land(rows: Seq[(Int, Long, String)]): Unit =
      rows.toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    land(Seq((1, 1L, "a"), (2, 1L, "b")))
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"),
      maintenance = Some(TargetMaintenance.Settings(batchThreshold = 3, keepSnapshots = 10)))
    val rec = new StatsdRecorder
    val counter = new StreamPipeline.BatchCounter
    StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg, rec, counter)
    land(Seq((2, 2L, "b2")))
    StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg, rec, counter)
    land(Seq((3, 1L, "c")))
    StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg, rec, counter)

    val committed = rec.lines.toSeq.filter(_.startsWith("graft.stream.bytes_committed:"))
    assert(committed.size == 3, rec.lines.mkString(","))
    assert(committed.forall(_.matches("""graft\.stream\.bytes_committed:[1-9][0-9]*\|c""")), committed)
    // the counter is the data bytes the commit wrote (batch 2 = version 2)
    val v2Bytes = tableIO(target).readSnapshot(2L).files.filter(_.seq == 2L)
      .map(f => new java.io.File(s"$target/${f.path}").length()).sum
    assert(committed(1) == s"graft.stream.bytes_committed:$v2Bytes|c")
    // each batch lists its files as one more equality delete; the
    // maintenance compaction at batch 3 folds them all
    assert(rec.lines.toSeq.filter(_.startsWith("graft.snapshot.deltas:")) ==
      Seq("graft.snapshot.deltas:1.0|g", "graft.snapshot.deltas:2.0|g", "graft.snapshot.deltas:0.0|g"))
  }

  test("statsd UDP emitter delivers wire-format datagrams to a live socket") {
    val server = new java.net.DatagramSocket(0, java.net.InetAddress.getLoopbackAddress)
    server.setSoTimeout(5000)
    val pub = graft.streaming.StatsdSocket.udp("127.0.0.1", server.getLocalPort)
    try {
      pub.counter("graft.stream.batches", 3, Map("stream" -> "s1"))
      pub.gauge("graft.target.rows", 42.5)
      def recv(): String = {
        val p = new java.net.DatagramPacket(new Array[Byte](1024), 1024)
        server.receive(p)
        new String(p.getData, 0, p.getLength, java.nio.charset.StandardCharsets.UTF_8).trim
      }
      assert(recv() == "graft.stream.batches:3|c|#stream:s1")
      assert(recv() == "graft.target.rows:42.5|g")
    } finally { pub.close(); server.close() }
  }

  test("statsd UDS emitter delivers newline-delimited lines over a unix socket") {
    val sockPath = Files.createTempDirectory("graft_uds").resolve("dsd.socket")
    val addr     = java.net.UnixDomainSocketAddress.of(sockPath)
    val server   = java.nio.channels.ServerSocketChannel.open(java.net.StandardProtocolFamily.UNIX)
    server.bind(addr)
    val received = new java.util.concurrent.LinkedBlockingQueue[String]()
    val acceptor = new Thread(() => {
      val ch  = server.accept()
      val buf = java.nio.ByteBuffer.allocate(4096)
      val sb  = new StringBuilder
      while (ch.read(buf) >= 0 && received.size() < 2) {
        buf.flip()
        sb.append(java.nio.charset.StandardCharsets.UTF_8.decode(buf))
        buf.clear()
        var idx = sb.indexOf("\n")
        while (idx >= 0) {
          received.put(sb.substring(0, idx)); sb.delete(0, idx + 1); idx = sb.indexOf("\n")
        }
      }
      ch.close()
    }, "uds-acceptor")
    acceptor.start()
    val pub = graft.streaming.StatsdSocket.uds(sockPath.toString)
    try {
      pub.counter("graft.maintenance.runs", 1, Map("at_batch" -> "60"))
      pub.gauge("graft.stream.rows_written", 100.0)
      assert(received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        == "graft.maintenance.runs:1|c|#at_batch:60")
      assert(received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        == "graft.stream.rows_written:100.0|g")
    } finally { pub.close(); server.close(); acceptor.join(5000) }
  }

  test("statsd emitters are best-effort: a dead socket never throws into the pipeline") {
    // UDS peer that accepts then immediately closes
    val sockPath = Files.createTempDirectory("graft_uds_dead").resolve("dsd.socket")
    val server = java.nio.channels.ServerSocketChannel.open(java.net.StandardProtocolFamily.UNIX)
    server.bind(java.net.UnixDomainSocketAddress.of(sockPath))
    val closer = new Thread(() => server.accept().close(), "uds-closer")
    closer.start()
    val pub = graft.streaming.StatsdSocket.uds(sockPath.toString)
    closer.join(5000)
    // the peer is gone: emission must degrade to no-ops, not exceptions
    (1 to 10).foreach(i => pub.counter("graft.stream.batches", i))
    pub.gauge("graft.target.rows", 1.0)
    pub.close()
    pub.counter("after.close", 1) // still silent
    server.close()
  }

  test("source buffering drains the backlog in one micro-batch") {
    val src    = Files.createTempDirectory("graft_buf_src").toString
    val target = Files.createTempDirectory("graft_buf_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_buf_ckpt").toString
    for (i <- 1 to 3)
      Seq((i, 1L, s"v$i")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1), sourceBuffering = true)
    val m = StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg)
    assert(m.batches == 1, s"buffering must override the per-trigger cap: $m")
    assert(GraftTable.read(spark, target).get.count() == 3)
  }

  test("source version column stamps each target row with its blob's modification time") {
    val src    = Files.createTempDirectory("graft_ver_src").toString
    val target = Files.createTempDirectory("graft_ver_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_ver_ckpt").toString
    Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"), includeSourceVersion = true)
    StreamPipeline.runAvailableNow(spark, schema, cfg)

    val out = GraftTable.read(spark, target).get
    assert(out.columns.contains(StreamPipeline.SourceVersionColumn))
    // the stamped version IS the blob's modification time — the
    // reference's watermark == latest-source-version invariant
    val stamped = out.agg(max(col(StreamPipeline.SourceVersionColumn))).head()
      .getTimestamp(0).getTime
    val blobMtime = graft.sources.BlobListingSource.listBlobs(spark, src).map(_.modifiedMs).max
    assert(stamped == blobMtime, s"stamped=$stamped blobMtime=$blobMtime")
  }

  // ---- threshold-driven maintenance ----

  test("maintenance fires every batchThreshold batches and preserves data byte-exactly") {
    val src    = Files.createTempDirectory("graft_mx_src").toString
    val target = Files.createTempDirectory("graft_mx_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_mx_ckpt").toString
    for (i <- 1 to 4)
      Seq((i, 1L, s"v$i")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val rec = new StatsdRecorder
    val cfg = StreamPipeline.Config(
      sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1), // 4 blobs -> 4 micro-batches
      maintenance = Some(TargetMaintenance.Settings(
        batchThreshold = 2, keepSnapshots = 2, analyzeColumns = Seq("k"))))
    val m = StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg, publisher = rec)
    assert(m.batches == 4, s"expected 4 micro-batches, got $m")
    // threshold 2 over 4 batches: fired exactly at batch 2 and batch 4
    assert(m.maintenanceRuns == 2, s"expected 2 maintenance runs, got $m")
    assert(rec.lines.count(_.startsWith("graft.maintenance.runs:1|c")) == 2)
    assert(rec.lines.exists(_.contains("at_batch:2")) && rec.lines.exists(_.contains("at_batch:4")))

    // expiration kept only the most recent snapshots
    val versions = tableIO(target).versions()
    assert(versions.size <= 2, s"snapshots not expired: $versions")
    // data survived the compact/expire/orphan cycle byte-exactly
    val rows = GraftTable.read(spark, target).get.select("k", "payload").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "v1", 2 -> "v2", 3 -> "v3", 4 -> "v4"))
  }

  test("pipeline evolves the target schema when the source grows a column") {
    val src    = Files.createTempDirectory("graft_evo_src").toString
    val target = Files.createTempDirectory("graft_evo_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_evo_ckpt").toString

    // cycle 1: two keys, original schema
    Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(s"$src/gen1")
    val schema1 = spark.read.parquet(s"$src/gen1").schema
    def cfg(dir: String) = StreamPipeline.Config(sourceDir = dir, targetDir = target,
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"))
    StreamPipeline.runAvailableNow(spark, schema1, cfg(s"$src/gen1"))

    // cycle 2: source evolved — an extra column appears
    Seq((2, 2L, "b2", "x2"), (3, 1L, "c", "x3")).toDF("k", "version", "payload", "extra")
      .coalesce(1).write.mode("append").parquet(s"$src/gen2")
    val schema2 = spark.read.parquet(s"$src/gen2").schema
    StreamPipeline.runAvailableNow(spark, schema2,
      cfg(s"$src/gen2").copy(checkpointDir = ckpt + "_2"))

    val out = GraftTable.read(spark, target).get
    assert(out.columns.contains("extra"), s"target must gain the new column: ${out.columns.toSeq}")
    val rows = out.select("k", "payload", "extra")
      .as[(Int, String, Option[String])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows == Map(
      1 -> (("a", None)),          // pre-evolution row null-filled
      2 -> (("b2", Some("x2"))),   // updated by the evolved batch
      3 -> (("c", Some("x3")))))   // inserted with the new column
  }

  test("pipeline widens an int column to long, and compaction reads the widened files") {
    val src    = Files.createTempDirectory("graft_widen_src").toString
    val target = Files.createTempDirectory("graft_widen_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_widen_ckpt").toString
    Seq((1, 1L, 10), (2, 1L, 20)).toDF("k", "version", "n")
      .coalesce(1).write.mode("append").parquet(s"$src/gen1")
    val counter = new StreamPipeline.BatchCounter
    def cfg(dir: String, ck: String) = StreamPipeline.Config(sourceDir = dir, targetDir = target,
      checkpointDir = ck, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maintenance = Some(TargetMaintenance.Settings(batchThreshold = 2, targetFileBytes = 1L << 30)))
    StreamPipeline.runAvailableNowWithMetrics(spark, spark.read.parquet(s"$src/gen1").schema,
      cfg(s"$src/gen1", ckpt), batchCounter = counter)
    // the source evolves: n widens to long, and a column appears
    Seq((2, 2L, 5000000000L, "x2"), (3, 1L, 30L, "x3")).toDF("k", "version", "n", "extra")
      .coalesce(1).write.mode("append").parquet(s"$src/gen2")
    val m = StreamPipeline.runAvailableNowWithMetrics(spark, spark.read.parquet(s"$src/gen2").schema,
      cfg(s"$src/gen2", ckpt + "_2"), batchCounter = counter)
    assert(m.maintenanceRuns == 1, s"the second batch must compact: $m")
    assert(tableIO(target).currentSnapshot().get.files.size == 1, "compaction rewrote both files")
    val out = GraftTable.read(spark, target).get
    assert(out.schema("n").dataType == org.apache.spark.sql.types.LongType, out.schema.toString)
    val rows = out.select("k", "n", "extra").as[(Int, Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows == Map(1 -> ((10L, None)), 2 -> ((5000000000L, Some("x2"))), 3 -> ((30L, Some("x3")))))
  }

  test("a batch column of a type the table cannot hold is refused by name before any file is written") {
    val src    = Files.createTempDirectory("graft_struct_src").toString
    val target = Files.createTempDirectory("graft_struct_tgt").toString + "/t"
    Seq((1, 1L, "a")).toDF("k", "version", "payload")
      .withColumn("nested", struct(col("payload").as("inner")))
      .coalesce(1).write.mode("append").parquet(src)
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target,
      checkpointDir = Files.createTempDirectory("graft_struct_ckpt").toString,
      primaryKeys = Seq("k"), versionCols = Seq("version"))
    val err = intercept[Exception](StreamPipeline.runAvailableNow(spark, spark.read.parquet(src).schema, cfg))
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("column 'nested'")), messages)
    assert(!new java.io.File(s"$target/data").exists(), "no file may be written")
    assert(GraftTable.read(spark, target).isEmpty)
  }

  test("a target that still holds a SnapshotStore table is refused by name") {
    val src    = Files.createTempDirectory("graft_oldfmt_src").toString
    val target = Files.createTempDirectory("graft_oldfmt_tgt").toString + "/t"
    Seq((1, 1L, "a")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val manifests = new java.io.File(s"$target/manifests")
    manifests.mkdirs()
    Files.write(new java.io.File(manifests, "v3.manifest").toPath, "data/v3/part-0.parquet".getBytes("UTF-8"))
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target,
      checkpointDir = Files.createTempDirectory("graft_oldfmt_ckpt").toString,
      primaryKeys = Seq("k"), versionCols = Seq("version"))
    val err = intercept[IllegalArgumentException](
      StreamPipeline.runAvailableNow(spark, spark.read.parquet(src).schema, cfg))
    assert(err.getMessage.contains("SnapshotStore") && err.getMessage.contains("v3.manifest"), err.getMessage)
    assert(manifests.list().toSeq == Seq("v3.manifest"), "no catalog table may be bootstrapped beside it")
  }

  test("each micro-batch commits its staged rows as the delta; stagingDir is never created") {
    val src     = Files.createTempDirectory("graft_stg_src").toString
    val target  = Files.createTempDirectory("graft_stg_tgt").toString + "/t"
    val ckpt    = Files.createTempDirectory("graft_stg_ckpt").toString
    val staging = Files.createTempDirectory("graft_stg_stage").toString + "/scratch"
    for (i <- 1 to 3)
      Seq((i, 1L, s"v$i")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1), stagingDir = Some(staging))
    val m = StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg)
    assert(m.batches == 3 && m.rowsStaged == 3, s"unexpected metrics: $m")
    // the target holds every batch's rows, one file per batch, each its
    // own key set; stagingDir is backfill scratch only, so streaming
    // never writes (or disposes) anything under it
    val rows = GraftTable.read(spark, target).get.select("k", "payload").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "v1", 2 -> "v2", 3 -> "v3"), s"target rows: $rows")
    val head = tableIO(target).currentSnapshot().get
    assert(head.files.size == 3 && head.eqDeletes.map(_.path) == head.files.map(_.path))
    assert(!new java.io.File(staging).exists(), s"streaming must not create $staging")
  }

  // ---- sharded backfill + persisted state ----

  test("sharded backfill equals the full recompute and swaps atomically") {
    val base   = Files.createTempDirectory("graft_bf").toString
    val events = Tables(spark, sfDir).events.filter($"ts" >= lit("2024-01-10").cast("timestamp"))
    val state  = new Backfill.BackfillStateManager(spark, s"$base/state", "bf-1")
    val res = Backfill.runSharded(spark, events, Seq("user_id"), Seq("ts", "event_id"),
      nShards = 4, s"$base/staging", s"$base/target", state)
    assert(res.stagedThisRun == Seq(0, 1, 2, 3) && res.skippedResumed.isEmpty)

    val expected = Upsert.latestByKey(events, Seq("user_id"), Seq("ts", "event_id"))
      .orderBy("user_id").collect().toSeq
    val actual = GraftTable.read(spark, s"$base/target").get.orderBy("user_id").collect().toSeq
    assert(actual == expected, "shard-parallel result must equal the global upsert")
    assert(state.completedShards().isEmpty, "state must be cleared after the completion swap")
    // staged shards are disposed after the swap (DisposeBatchProcessor)
    val leftovers = Option(new java.io.File(s"$base/staging").listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    assert(leftovers.isEmpty, s"staging must be disposed post-swap: $leftovers")
  }

  test("interrupted backfill resumes from persisted state without re-staging") {
    val base   = Files.createTempDirectory("graft_bf_resume").toString
    val events = Tables(spark, sfDir).events.filter($"ts" >= lit("2024-01-10").cast("timestamp"))
    val state  = new Backfill.BackfillStateManager(spark, s"$base/state", "bf-2")

    // simulate a run that died after staging shards 0 and 1
    Backfill.stageShard(events, Seq("user_id"), Seq("ts", "event_id"), 4, 0, s"$base/staging")
    state.markCompleted(0)
    Backfill.stageShard(events, Seq("user_id"), Seq("ts", "event_id"), 4, 1, s"$base/staging")
    state.markCompleted(1)
    assert(state.completedShards() == Set(0, 1))

    val res = Backfill.runSharded(spark, events, Seq("user_id"), Seq("ts", "event_id"),
      nShards = 4, s"$base/staging", s"$base/target", state)
    assert(res.skippedResumed == Seq(0, 1), s"resume must skip staged shards: $res")
    assert(res.stagedThisRun == Seq(2, 3), s"resume must stage only the rest: $res")

    val expected = Upsert.latestByKey(events, Seq("user_id"), Seq("ts", "event_id"))
      .count()
    assert(GraftTable.read(spark, s"$base/target").get.count() == expected)
  }
}
