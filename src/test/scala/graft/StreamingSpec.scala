package graft

import graft.sources.{BlobListingSource, SnapshotStore}
import graft.streaming.StreamPipeline
import java.nio.file.Files
import org.apache.spark.sql.functions.col

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("BlobListingSource lists only blobs newer than the watermark") {
    val dir = Files.createTempDirectory("graft_blobs").toString
    Seq((1, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/b1")
    // parquet writers create subdirs; flatten one level for the listing
    val flat = Files.createTempDirectory("graft_blobs_flat").toString
    var i = 0
    for (sub <- new java.io.File(dir).listFiles(); f <- sub.listFiles() if f.getName.endsWith(".parquet")) {
      val dst = new java.io.File(flat, s"blob$i.parquet")
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(1000L * (i + 1))
      i += 1
    }
    val all = BlobListingSource.listBlobs(spark, flat)
    assert(all.nonEmpty && all.forall(_.name.endsWith(".parquet")))
    val newOnes = BlobListingSource.newBlobs(spark, flat, watermarkMs = all.head.modifiedMs)
    assert(newOnes.size == all.size - all.count(_.modifiedMs <= all.head.modifiedMs))
    assert(BlobListingSource.nextWatermark(all, 0L) == all.map(_.modifiedMs).max)
  }

  test("maxFilesPerTrigger rate-limits the backlog into multiple micro-batches") {
    val src    = Files.createTempDirectory("graft_rate_src").toString
    val target = Files.createTempDirectory("graft_rate_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_rate_ckpt").toString
    // 4 blobs land before the stream starts
    for (i <- 1 to 4)
      Seq((i, 1L, s"v$i")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(
      sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1))
    val batches = StreamPipeline.runAvailableNow(spark, schema, cfg)
    assert(batches >= 4, s"expected >= 4 rate-limited micro-batches, got $batches")
    assert(new SnapshotStore(spark, target).read().get.count() == 4)
  }

  test("StreamPipeline upserts arriving blobs into the target (two cycles)") {
    val src    = Files.createTempDirectory("graft_stream_src").toString
    val target = Files.createTempDirectory("graft_stream_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_stream_ckpt").toString

    // cycle 1: two keys at version 1
    Seq((1, 1L, "v1-a"), (2, 1L, "v1-b")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(
      sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"))
    StreamPipeline.runAvailableNow(spark, schema, cfg)
    val store = new SnapshotStore(spark, target)
    assert(store.read().get.count() == 2)

    // cycle 2: update key 2, insert key 3 — only the new blob is read
    Seq((2, 2L, "v2-b"), (3, 1L, "v1-c")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val m = StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg)
    assert(m.rowsStaged == 2 && m.rowsWritten == 3,
      s"observed metrics expected staged=2 written=3, got $m")
    val rows = store.read().get
      .select("k", "payload").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "v1-a", 2 -> "v2-b", 3 -> "v1-c"))
    // snapshot history: cycle-1 state is still readable (time travel)
    val v1 = store.versions().head
    assert(store.readVersion(v1).count() == 2)
  }

  test("streaming sessionization closes sessions on gap or watermark timeout") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSessionize
    import graft.streaming.StreamingSessionize.{Event, Session}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[Event]
    val sessions = StreamingSessionize.sessions(
      spark, input.toDS(), gapMs = 30L * 60 * 1000, watermarkDelay = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // two events 4 minutes apart: one open session for user 1
    input.addData(Event(1L, t("2024-01-01 00:01:00")), Event(1L, t("2024-01-01 00:05:00")))
    q.processAllAvailable()
    // an event far past the gap: closes session 1 in-batch AND advances
    // the watermark beyond session 1's timeout
    input.addData(Event(1L, t("2024-01-01 02:00:00")))
    q.processAllAvailable()
    // push the watermark past session 2's end + gap so the TIMEOUT path
    // (not a newer event) closes it
    input.addData(Event(2L, t("2024-01-01 05:00:00")))
    q.processAllAvailable()
    input.addData(Event(2L, t("2024-01-01 08:00:00")))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sess_sink").as[Session].collect()
      .map(s => (s.userId, s.sessionStart, s.sessionEnd, s.nEvents)).toSet
    assert(rows.contains((1L, t("2024-01-01 00:01:00"), t("2024-01-01 00:05:00"), 2L)),
      s"gap-closed session missing: $rows")
    assert(rows.contains((1L, t("2024-01-01 02:00:00"), t("2024-01-01 02:00:00"), 1L)),
      s"timeout-closed session missing: $rows")
    assert(rows.contains((2L, t("2024-01-01 05:00:00"), t("2024-01-01 05:00:00"), 1L)),
      s"user-2 session missing: $rows")
  }

  test("event-time watermark drops late data in append-mode windowed aggregation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[(java.sql.Timestamp, Int)]
    val agg = StreamPipeline.windowedAggregateAppend(
      input.toDF().toDF("ts", "v"), "ts", "10 minutes", "10 minutes",
      Seq(sum($"v").as("total"))).select($"bucket", $"total")
    val q = agg.writeStream.format("memory").queryName("wm_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    input.addData((t("2024-01-01 00:01:00"), 1), (t("2024-01-01 00:05:00"), 2))
    q.processAllAvailable()
    // advance the watermark far past the first window, closing it
    input.addData((t("2024-01-01 01:00:00"), 5))
    q.processAllAvailable()
    // this event is older than the watermark → must be dropped
    input.addData((t("2024-01-01 00:02:00"), 100))
    q.processAllAvailable()
    input.addData((t("2024-01-01 02:00:00"), 7))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_sink")
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    // exactly-once emission: no bucket appears twice in the append sink
    assert(rows.map(_._1).distinct.size == rows.size, s"duplicate window emission: $rows")
    val results = rows.toMap
    assert(results(t("2024-01-01 00:00:00")) == 3L, s"late row must not count: $results")
    assert(results(t("2024-01-01 01:00:00")) == 5L, s"closed on-time window must emit: $results")
  }

  test("streaming join-view maintenance: foreachBatch + delta rule converges to the full join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Incremental
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // static stored side + initial fact snapshot
    val dim = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("d_key", "d_name")
    val a0  = Seq((1L, 10.0), (2L, 20.0)).toDF("f_key", "f_val")
    val onKey = col("f_key") === col("d_key")
    val emptyDim = dim.limit(0)

    // the maintained view, refreshed per micro-batch by the delta rule;
    // localCheckpoint truncates lineage so k batches don't nest k plans
    var view = a0.join(dim, onKey).localCheckpoint()
    val input = MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("f_key", "f_val").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // dB empty: only the dA⨝B term contributes, stored sides never shuffle
        view = Incremental.refreshJoinView(view, a0, dim, batch, emptyDim, onKey)
          .localCheckpoint()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData((3L, 30.0))
    q.processAllAvailable()
    input.addData((1L, 11.0), (4L, 40.0)) // 4 has no dim row: inner join drops it
    q.processAllAvailable()
    q.stop()

    val got = view.select("f_key", "f_val", "d_name")
      .as[(Long, Double, String)].collect().toSeq.sorted
    val full = a0.union(Seq((3L, 30.0), (1L, 11.0), (4L, 40.0)).toDF("f_key", "f_val"))
      .join(dim, onKey).select("f_key", "f_val", "d_name")
      .as[(Long, Double, String)].collect().toSeq.sorted
    assert(got == full, s"maintained view $got != full join $full")
  }

  test("streaming SCD2 maintenance: per-batch applyChanges converges to the batch rebuild") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Scd2
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ks = Seq("user_id"); val as = Seq("status"); val oc = Seq("seq")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // micro-batches arrive in event-time order (the applyChanges
    // contract a CDC watermark guarantees); no-op re-emits included
    val b1 = Seq((1L, "A", ts("2024-01-01 00:00:00"), 1L), (2L, "X", ts("2024-01-01 06:00:00"), 2L))
    val b2 = Seq((1L, "A", ts("2024-01-02 00:00:00"), 3L), (1L, "B", ts("2024-01-03 00:00:00"), 4L))
    val b3 = Seq((2L, "Y", ts("2024-01-04 00:00:00"), 5L), (3L, "Q", ts("2024-01-05 00:00:00"), 6L))

    val empty = Seq.empty[(Long, String, java.sql.Timestamp, Long)]
      .toDF("user_id", "status", "ts", "seq")
    var history = Scd2.buildHistory(empty, ks, as, "ts", oc, keepOrder = true).localCheckpoint()
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val q = input.toDF().toDF("user_id", "status", "ts", "seq").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          history = Scd2.applyChanges(history, batch, ks, as, "ts", oc).localCheckpoint()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    Seq(b1, b2, b3).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    val batchBuild = Scd2.buildHistory((b1 ++ b2 ++ b3).toDF("user_id", "status", "ts", "seq"),
      ks, as, "ts", oc, keepOrder = true)
    val got  = history.collect().map(_.toSeq).toSet
    val want = batchBuild.collect().map(_.toSeq).toSet
    assert(got == want, s"streamed history diverged from batch rebuild: got $got want $want")
  }

  test("streaming near-dedup: per-batch band-index maintenance admits first-seen-wins") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // admitted history; the stream maintains BOTH stores per batch:
    // docs (fetched by id for candidates only) and the band index (the
    // only structure probed for banding) — the 100 TB/day ingestion
    // shape, where rejected rows never pollute either store
    val hist0 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    var histDocs  = hist0.localCheckpoint()
    var histIndex = Dedup.bandIndex(hist0, "doc_id", "text").localCheckpoint()
    var admitted  = Vector.empty[Long]

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.localCheckpoint()
        val dupIds = Dedup.minhashIncremental(histDocs, histIndex, b, "doc_id", "text",
            threshold = 0.5)
          .select("delta_id").distinct().as[Long].collect().toSet
        val adm = b.filter(!col("doc_id").isin(dupIds.toSeq: _*)).localCheckpoint()
        admitted = admitted ++ adm.select("doc_id").as[Long].collect().sorted
        histDocs = histDocs.unionByName(adm).localCheckpoint()
        histIndex = histIndex.unionByName(Dedup.bandIndex(adm, "doc_id", "text")).localCheckpoint()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: 10 ≈ doc 1 (one word changed, Jaccard well above 0.5) →
    // reject; 11 is novel → admit
    input.addData(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (11L, "red orange yellow green blue indigo violet pink brown black"))
    q.processAllAvailable()
    // batch 2: 12 ≈ doc 11 — a doc admitted by a PREVIOUS batch, so
    // detection proves the index maintenance — reject; 13 novel → admit
    input.addData(
      (12L, "red orange yellow green blue indigo violet pink brown white"),
      (13L, "do re mi fa sol la si octave sharp flat"))
    q.processAllAvailable()
    q.stop()

    assert(admitted == Vector(11L, 13L), s"admitted $admitted")
    assert(histDocs.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 11L, 13L))
    // the maintained index is EXACTLY the index a from-scratch rebuild
    // of the admitted corpus produces — the convergence invariant that
    // makes the incremental path trustworthy
    val maintained = histIndex.select("__id", "band_id", "band_hash")
      .as[(Long, Int, Long)].collect().toSet
    val rebuilt = Dedup.bandIndex(histDocs, "doc_id", "text")
      .select("__id", "band_id", "band_hash").as[(Long, Int, Long)].collect().toSet
    assert(maintained == rebuilt, "maintained band index diverged from a from-scratch rebuild")
  }

  test("streaming windowed heavy hitters: approx_top_k aggregates per event-time window") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the sketch is a TypedImperativeAggregate: this pins that it
    // checkpoints/merges correctly as STREAMING state across batches,
    // in the exact regime (maxItemsTracked ≥ ndv) so counts are checkable
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "item")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(expr("approx_top_k(item, 4, 32)").as("top_items"))
      .select($"window.start".as("bucket"), explode($"top_items").as("t"))
      .select($"bucket", $"t.item", $"t.count")
    val q = agg.writeStream.format("memory").queryName("hh_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    // two batches land in the SAME window: the sketch state must merge
    input.addData((t("2024-01-01 00:01:00"), "a"), (t("2024-01-01 00:02:00"), "a"))
    q.processAllAvailable()
    input.addData((t("2024-01-01 00:03:00"), "a"), (t("2024-01-01 00:04:00"), "b"))
    q.processAllAvailable()
    input.addData((t("2024-01-01 01:00:00"), "z")) // close the window
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("hh_sink")
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
      .filter(_._1 == t("2024-01-01 00:00:00"))
    assert(rows.toSet == Set(
      (t("2024-01-01 00:00:00"), "a", 3L),
      (t("2024-01-01 00:00:00"), "b", 1L)),
      s"cross-batch sketch merge produced $rows")
  }

  test("detectConflicts: an out-of-band commit BETWEEN cycles is merged, not clobbered") {
    val src    = Files.createTempDirectory("graft_occ_src").toString
    val target = Files.createTempDirectory("graft_occ_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_occ_ckpt").toString

    Seq((1, 1L, "stream-a")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(
      sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"),
      detectConflicts = true)
    StreamPipeline.runAvailableNow(spark, schema, cfg)
    val store = new SnapshotStore(spark, target)
    val v1 = store.currentVersion().get

    // an out-of-band writer (manual backfill) advances the table with a
    // row the stream has never seen — the merge-key column included,
    // since the stream merges on it
    val external = Seq((99, 1L, "backfill")).toDF("k", "version", "payload")
      .withColumn(graft.operators.MergeKey.ColumnName,
        graft.operators.MergeKey.keyExpr(Seq(col("k"))))
    val base = store.read().get
    store.commitIf(base.unionByName(external), Some(v1))

    // cycle 2: the stream's base is the EXTERNAL version, so their row
    // survives the merge and no conflict fires
    Seq((2, 1L, "stream-b")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    StreamPipeline.runAvailableNow(spark, schema, cfg)
    val payloads = store.read().get.select("k", "payload")
      .as[(Int, String)].collect().toMap
    assert(payloads == Map(1 -> "stream-a", 2 -> "stream-b", 99 -> "backfill"),
      s"external commit must survive the next stream cycle: $payloads")
  }

  test("a crash after the delta's data write and before the manifest flip keeps v; the replay converges") {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[ManifestCrashFileSystem].getName)
    val src    = Files.createTempDirectory("graft_crash_src").toString
    val local  = Files.createTempDirectory("graft_crash_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_crash_ckpt").toString
    def land(rows: Seq[(Int, Long, String)]): Unit =
      rows.toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    def hash(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    land(Seq((1, 1L, "a"), (2, 1L, "b")))
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = s"crashfs:$local",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"))
    StreamPipeline.runAvailableNow(spark, schema, cfg)
    val store  = new SnapshotStore(spark, cfg.targetDir)
    val before = hash(store.read().get)

    land(Seq((2, 2L, "b2"), (3, 1L, "c")))
    ManifestCrashFileSystem.armed = true
    try intercept[Exception](StreamPipeline.runAvailableNow(spark, schema, cfg))
    finally ManifestCrashFileSystem.armed = false
    assert(new java.io.File(s"$local/data").listFiles().filter(_.getName.startsWith("v2-"))
      .exists(_.list().exists(_.endsWith(".parquet"))), "the injected crash must follow the delta's data write")
    assert(!new java.io.File(s"$local/manifests/v2.manifest").exists())
    assert(store.currentVersion().contains(1L) && hash(store.read().get) == before,
      "a crashed commit must leave version 1 visible")

    // restart on the same checkpoint: the failed batch replays and lands
    StreamPipeline.runAvailableNow(spark, schema, cfg)
    assert(store.currentVersion().contains(2L) && store.manifest(2L).deltas.size == 1)
    val clean = cfg.copy(targetDir = Files.createTempDirectory("graft_crash_ref").toString + "/t",
      checkpointDir = Files.createTempDirectory("graft_crash_ref_ckpt").toString)
    StreamPipeline.runAvailableNow(spark, schema, clean)
    assert(hash(store.read().get) == hash(new SnapshotStore(spark, clean.targetDir).read().get))
  }

  test("a transient failure of the first delta write under commitRetry lands the batch once") {
    import graft.streaming.{RetryMode, RetryPolicy}
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[ManifestCrashFileSystem].getName)
    val src   = Files.createTempDirectory("graft_retry_src").toString
    val local = Files.createTempDirectory("graft_retry_tgt").toString + "/t"
    val ckpt  = Files.createTempDirectory("graft_retry_ckpt").toString
    def land(rows: Seq[(Int, Long, String)]): Unit =
      rows.toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    def hash(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    land(Seq((1, 1L, "a"), (2, 1L, "b")))
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = s"crashfs:$local",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      commitRetry = RetryPolicy(maxAttempts = 3, baseDelayMs = 1, mode = Some(RetryMode.Always)))
    StreamPipeline.runAvailableNow(spark, schema, cfg)

    land(Seq((2, 2L, "b2"), (3, 1L, "c"), (4, 1L, "d")))
    ManifestCrashFileSystem.failDataWrites.set(1)
    val m = try StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg)
      finally ManifestCrashFileSystem.failDataWrites.set(0)
    assert(ManifestCrashFileSystem.dataWritesFailed.getAndSet(0) == 1,
      "the first delta write must have failed once")
    assert(m.batches == 1 && m.rowsStaged == 3, s"the retried batch must count its rows once: $m")
    val store = new SnapshotStore(spark, cfg.targetDir)
    assert(store.currentVersion().contains(2L) && store.manifest(2L).deltas.size == 1)
    val v2Dirs = new java.io.File(s"$local/data").listFiles().filter(_.getName.startsWith("v2-"))
    assert(v2Dirs.length == 1, "the failed attempt must drop its own data dir")
    assert(spark.read.parquet(v2Dirs.head.toString).count() == 3, "only one attempt's rows may land")

    val clean = cfg.copy(targetDir = Files.createTempDirectory("graft_retry_ref").toString + "/t",
      checkpointDir = Files.createTempDirectory("graft_retry_ref_ckpt").toString)
    StreamPipeline.runAvailableNow(spark, schema, clean)
    assert(hash(store.read().get) == hash(new SnapshotStore(spark, clean.targetDir).read().get))
  }

  test("a StreamPipeline merge batch opens no parquet file under the target's data/") {
    spark.sparkContext.hadoopConfiguration.set("fs.cnt.impl", classOf[CountingFileSystem].getName)
    val src   = Files.createTempDirectory("graft_opens_src").toString
    val local = Files.createTempDirectory("graft_opens_tgt").toString + "/t"
    val ckpt  = Files.createTempDirectory("graft_opens_ckpt").toString
    def land(rows: Seq[(Int, Long, String)]): Unit =
      rows.toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    land((1 to 50).map(i => (i, 1L, s"p$i")))
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(sourceDir = src, targetDir = s"cnt:$local",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"))
    StreamPipeline.runAvailableNow(spark, schema, cfg)

    land(Seq((7, 2L, "new7"), (51, 1L, "p51")))
    CountingFileSystem.reset()
    val m = StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg)
    assert(m.batches == 1 && m.rowsWritten == 51)
    assert(CountingFileSystem.parquetOpensUnder(s"$local/data/", inBatch = true) == 0,
      "a merge batch must not read the target")
    // the shim does see target reads: the cycle's row count, outside the batch
    assert(CountingFileSystem.parquetOpensUnder(s"$local/data/", inBatch = false) > 0)
    val store = new SnapshotStore(spark, cfg.targetDir)
    assert(store.manifest(store.currentVersion().get).deltas.size == 1)
    assert(store.read().get.where(col("k") === 7).select("payload").as[String].collect().toSeq == Seq("new7"))
  }

  test("stream bench section: both ingest paths sustain a pinned throughput floor") {
    // the BENCH artifact records the real rows/sec at sf0.1; this spec
    // pins a VERY conservative floor at the tiny SF (commit overhead
    // dominates 1000 rows / 8 batches, so real throughput is far
    // higher) — a regression that halves streaming throughput trips
    // this long before it shows in the artifact diff. The section's own
    // require()s already pin exactly-once row accounting on both paths.
    val r = StreamBenchSection.run(spark, sfDir)
    assert(r.batches == 8L, s"expected 8 rate-limited micro-batches, got ${r.batches}")
    assert(r.mergeRowsPerSec > 25, s"pipeline throughput floor: ${r.mergeRowsPerSec} rows/s")
    assert(r.appendRowsPerSec > 25, s"append-sink throughput floor: ${r.appendRowsPerSec} rows/s")
  }
}

/** Local FileSystem (`crashfs://`) that injects commit faults.
  *  - `armed`: fails the creation of a snapshot manifest — a crash
  *    between a commit's data write and its manifest claim.
  *  - `failDataWrites = n`: fails the next n parquet file creations under
  *    a `data/v<N>` dir — a transient failure of a delta's data write.
  *  - `crashAt = n`: the n-th create, rename or delete from now on, and
  *    every one after it, fails — a process that dies at that point of a
  *    commit. `ops` counts them (set `crashAt` to `Int.MaxValue` to count
  *    a whole commit).
  *  - `emptyOpens = n`: the next n opens of a `.json` file read zero
  *    bytes — a reader racing a claim between its create and its write.
  *  - `tornClaims = n`: the next n writes of a `.manifest` or `.json`
  *    file land half their bytes and then fail — a claim whose write
  *    fails (a full disk, a failed stream write).
  *  - `onManifestCreate`: runs at each create of a `.manifest` file or
  *    a catalog `v<N>.json` claim — a racing writer interleaved at a
  *    commit's claim.
  */
final class ManifestCrashFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import ManifestCrashFileSystem._
  override def getScheme: String = "crashfs"
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  private def op(f: Path): Unit =
    if (ops.incrementAndGet() >= crashAt.get)
      throw new java.io.IOException(s"injected crash at commit op ${ops.get}: $f")
  private def check(f: Path): Unit = {
    op(f)
    if (f.getName.endsWith(".manifest") || f.getName.matches("v\\d+\\.json")) onManifestCreate()
    if (armed && f.getName.endsWith(".manifest"))
      throw new java.io.IOException(s"injected crash before the manifest claim: $f")
    if (f.getName.endsWith(".parquet") && f.toString.contains("/data/v") &&
        failDataWrites.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      dataWritesFailed.incrementAndGet()
      throw new java.io.IOException(s"injected transient failure of a delta data write: $f")
    }
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check(f); torn(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check(f); torn(f, super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }
  private def torn(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!f.getName.matches("[^.].*\\.(manifest|json)") || tornClaims.getAndUpdate(n => math.max(0, n - 1)) == 0) out
    else new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len / 2)
        throw new java.io.IOException(s"injected failure in the middle of a claim's write: $f")
      }
      override def close(): Unit = out.close()
    }, null)
  override def rename(src: Path, dst: Path): Boolean = { op(src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { op(f); super.delete(f, recursive) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    if (f.getName.endsWith(".json") && emptyOpens.getAndUpdate(n => math.max(0, n - 1)) > 0)
      super.open(new Path(java.nio.file.Files.createTempFile("graft_empty", ".json").toString), bufferSize)
    else super.open(f, bufferSize)
}

object ManifestCrashFileSystem {
  @volatile var armed = false
  val failDataWrites   = new java.util.concurrent.atomic.AtomicInteger(0)
  val dataWritesFailed = new java.util.concurrent.atomic.AtomicInteger(0)
  val crashAt          = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
  val ops              = new java.util.concurrent.atomic.AtomicInteger(0)
  val emptyOpens       = new java.util.concurrent.atomic.AtomicInteger(0)
  val tornClaims       = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var onManifestCreate: () => Unit = () => ()
}
