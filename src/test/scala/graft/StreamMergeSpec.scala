package graft

import graft.catalog.{GraftCommitStamp, GraftManifestIO}
import graft.operators.MergeKey
import graft.sources.SnapshotStore
import graft.streaming.{ChangeCapture, StreamMerge, StreamPipeline}
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Streaming MERGE into the Graft MOR catalog: per-batch written data
  * must be proportional to the CHURN, never the target — the property
  * that makes sustained CDC viable at 100 TB (the snapshot-store
  * pipeline rewrites the full target per batch; this path must not).
  */
class StreamMergeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse =
    Files.createTempDirectory("graft_sm_wh").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gsm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsm.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsm.db")
    "gsm"
  }

  private def io(table: String) =
    new GraftManifestIO(new Path(s"$warehouse/db/$table"), new Configuration())

  private def createMorTarget(table: String): Unit =
    spark.sql(s"""CREATE TABLE $cat.db.$table (
      k INT, version BIGINT, payload STRING, arcane_merge_key STRING)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")

  private def seed(table: String, n: Int): Unit = {
    val df = spark.range(n).selectExpr(
      "CAST(id AS INT) AS k", "CAST(0 AS BIGINT) AS version", "concat('seed-', id) AS payload")
    MergeKey.withMergeKey(df, Seq("k")).coalesce(2).writeTo(s"$cat.db.$table").append()
  }

  private def churnBlob(srcDir: String, batch: Int, updates: Int, inserts: Int, target: Int): Unit = {
    val up  = (0 until updates).map(k => (k, (batch + 1).toLong, s"upd-$batch-$k"))
    val ins = (0 until inserts).map(i => (target + batch * inserts + i, (batch + 1).toLong, s"new-$batch-$i"))
    (up ++ ins).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(srcDir)
  }

  test("per-batch writes are O(churn): merge commits add only delta files, never rewrite the target") {
    val table  = "mor_churn"
    val target = 20000
    val (updates, inserts, nBatches) = (500, 100, 4)
    createMorTarget(table)
    seed(table, target)

    val src  = Files.createTempDirectory("graft_sm_src").toString
    val ckpt = Files.createTempDirectory("graft_sm_ckpt").toString
    (0 until nBatches).foreach(b => churnBlob(src, b, updates, inserts, target))

    val schema = spark.read.parquet(src).schema
    val batches = StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1)))
    assert(batches == nBatches, s"expected $nBatches micro-batches, got $batches")

    // walk every merge commit: added data rows == churn, added delete
    // rows == matched rows, and NO pre-existing file is dropped — the
    // write-amplification contract (written bytes ∝ churn, not target)
    val m = io(table)
    val versions = (1L to m.currentVersion().get).map(m.readSnapshot)
    val mergeCommits = versions.filter(_.operation.startsWith("merge"))
    assert(mergeCommits.size == nBatches, s"ops: ${versions.map(_.operation)}")
    mergeCommits.foreach { s =>
      val parent = m.readSnapshot(s.parent.get)
      val parentFiles = parent.files.map(_.path).toSet
      assert(parent.files.forall(f => s.files.exists(_.path == f.path)),
        s"v${s.version} rewrote pre-existing data files (O(target) write!)")
      val addedRows  = s.files.filterNot(f => parentFiles.contains(f.path)).map(_.rows).sum
      val parentDels = parent.deletes.map(_.path).toSet
      val addedDels  = s.deletes.filterNot(d => parentDels.contains(d.path)).map(_.rows).sum
      assert(addedRows == updates + inserts,
        s"v${s.version}: added $addedRows data rows, churn is ${updates + inserts}")
      assert(addedDels == updates, s"v${s.version}: added $addedDels delete rows, expected $updates")
    }

    // content: latest version per key, inserts present, untouched keys intact
    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == target + nBatches * inserts)
    val byVersion = out.groupBy("version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion(nBatches.toLong) == updates + inserts, s"got $byVersion")
    assert(byVersion(0L) == target - updates)
    assert(out.where(s"k = 0").head.getString(2) == s"upd-${nBatches - 1}-0")
  }

  test("replayed batch is skipped: pre-check short-circuits, commit-window guard holds atomically") {
    val table = "mor_replay"
    createMorTarget(table)
    seed(table, 100)
    val batch = MergeKey.withMergeKey(
      Seq((0, 5L, "replayed"), (200, 5L, "fresh")).toDF("k", "version", "payload"), Seq("k"))

    val applied = StreamMerge.idempotentMerge(
      s"$cat.db.$table", Seq(MergeKey.ColumnName), Seq("version"))(batch, 7L)
    assert(applied)
    val vAfter = io(table).currentVersion().get
    assert(StreamMerge.committedBatchId(spark, s"$cat.db.$table").contains(7L))

    // fast path: the pre-check sees batch 7 stamped and skips
    val replayed = StreamMerge.idempotentMerge(
      s"$cat.db.$table", Seq(MergeKey.ColumnName), Seq("version"))(batch, 7L)
    assert(!replayed)
    assert(io(table).currentVersion().get == vAfter, "replay must not commit a snapshot")

    // slow path: a replay that races PAST the pre-check (the crash
    // window) is refused inside the atomic commit itself
    batch.createOrReplaceTempView("sm_replay_src")
    val err = intercept[Exception] {
      GraftCommitStamp.withBatchId(StreamMerge.BatchIdProp, 7L) {
        spark.sql(s"""MERGE INTO $cat.db.$table t USING sm_replay_src s
          ON t.arcane_merge_key = s.arcane_merge_key
          WHEN MATCHED THEN UPDATE SET t.version = s.version, t.payload = s.payload
          WHEN NOT MATCHED THEN INSERT *""")
      }
    }
    assert(GraftCommitStamp.isReplay(err), s"got: $err")
    assert(io(table).currentVersion().get == vAfter, "guarded replay must not commit")
    // a LATER batch still goes through (the guard is >=, not ==)
    assert(StreamMerge.idempotentMerge(
      s"$cat.db.$table", Seq(MergeKey.ColumnName), Seq("version"))(batch, 8L))
  }

  test("MOR stream target matches the snapshot-store pipeline bit-for-bit") {
    val src  = Files.createTempDirectory("graft_sm_eq_src").toString
    Seq((1, 1L, "a1"), (2, 1L, "b1")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((1, 2L, "a2"), (3, 1L, "c1")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    val table = "mor_equiv"
    createMorTarget(table)
    StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = Files.createTempDirectory("graft_sm_eq_c1").toString,
      primaryKeys = Seq("k"), versionCols = Seq("version"), maxFilesPerTrigger = Some(1)))

    val storeDir = Files.createTempDirectory("graft_sm_eq_tgt").toString + "/t"
    StreamPipeline.runAvailableNow(spark, schema, StreamPipeline.Config(
      sourceDir = src, targetDir = storeDir,
      checkpointDir = Files.createTempDirectory("graft_sm_eq_c2").toString,
      primaryKeys = Seq("k"), versionCols = Seq("version"), maxFilesPerTrigger = Some(1)))

    val mor = spark.sql(s"SELECT * FROM $cat.db.$table").collect().map(_.toSeq).sortBy(_.toString)
    val ss  = new SnapshotStore(spark, storeDir).read().get
      .select("k", "version", "payload", "arcane_merge_key")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(mor.toSeq == ss.toSeq)
  }

  test("concurrent stream + batch MERGE writers: OCC retry liveness, no lost updates") {
    // the production topology the reference runs daily: a change-capture
    // stream AND an out-of-band backfill MERGE racing on one target.
    // Disjoint key ranges make the expected final state deterministic;
    // the OCC manifest claim serializes the commits (losers re-derive
    // and retry), so BOTH writers' updates must land — a lost update
    // or a stuck retry loop fails loudly here.
    val table = "mor_race"
    val target = 8000
    createMorTarget(table)
    seed(table, target)

    val src  = Files.createTempDirectory("graft_sm_race_src").toString
    val ckpt = Files.createTempDirectory("graft_sm_race_ckpt").toString
    // stream churn: keys 0..499, versions 1..4 (4 blobs → 4 batches)
    (0 until 4).foreach(b => churnBlob(src, b, updates = 500, inserts = 0, target = target))
    val schema = spark.read.parquet(src).schema

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val streamF = Future {
      StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
        sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
        checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
        maxFilesPerTrigger = Some(1)))
    }
    // batch writer: 4 MERGEs on the DISJOINT key range 4000..4399,
    // racing the stream's commits through the same OCC loop
    for (round <- 1 to 4) {
      val batch = MergeKey.withMergeKey(
        (0 until 400).map(i => (4000 + i, round.toLong, s"backfill-$round-$i"))
          .toDF("k", "version", "payload"), Seq("k"))
      batch.createOrReplaceTempView("sm_race_backfill")
      spark.sql(s"""MERGE INTO $cat.db.$table t USING sm_race_backfill s
        ON t.arcane_merge_key = s.arcane_merge_key
        WHEN MATCHED THEN UPDATE SET t.version = s.version, t.payload = s.payload
        WHEN NOT MATCHED THEN INSERT *""")
    }
    val streamBatches = Await.result(streamF, 180.seconds)
    assert(streamBatches == 4L)

    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == target, "no rows lost or duplicated under concurrency")
    // stream's range carries its last version, batch range its last round
    assert(out.where("k < 500 AND version = 4").count() == 500,
      "stream updates lost under concurrent batch MERGE")
    assert(out.where("k >= 4000 AND k < 4400 AND version = 4").count() == 400,
      "batch updates lost under concurrent stream MERGE")
    assert(out.where("k >= 500 AND k < 4000 AND version = 0").count() == 3500)
    assert(out.where("k = 0").head.getString(2) == "upd-3-0")
    assert(out.where("k = 4000").head.getString(2) == "backfill-4-0")
    // liveness: every commit landed (4 stream + 4 batch + seed), and
    // the batch-id stamp tracked the stream's last batch despite the
    // interleaved unstamped batch commits
    assert(StreamMerge.committedBatchId(spark, s"$cat.db.$table").contains(3L))
  }

  test("continuous change capture: cycles drain newly-landed blobs, maintenance thresholds span cycles") {
    val table = "mor_cycles"
    createMorTarget(table)
    seed(table, 1000)
    val src  = Files.createTempDirectory("graft_sm_cyc_src").toString
    val ckpt = Files.createTempDirectory("graft_sm_cyc_ckpt").toString
    val cfg = StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1),
      compactEveryBatches = Some(2), compactSmallBytes = 1L << 30,
      expireEveryBatches = Some(2), keepSnapshots = 2,
      orphansEveryBatches = Some(2))
    val schema = {
      churnBlob(src, 0, updates = 100, inserts = 10, target = 1000)
      spark.read.parquet(src).schema
    }
    // cycle 1: one blob; cycle 2: two more land in between
    assert(StreamMerge.runAvailableNow(spark, schema, cfg) == 1L)
    churnBlob(src, 1, updates = 100, inserts = 10, target = 1000)
    churnBlob(src, 2, updates = 100, inserts = 10, target = 1000)
    val cadence = new ChangeCapture(intervalMs = 1, jitterVariance = 0.0, jitterSeed = 7)
    // maxCycles=2: second cycle finds nothing new (checkpoint dedupes)
    assert(StreamMerge.runContinuously(spark, schema, cfg, cadence, maxCycles = 2) == 2L)

    val out = spark.sql(s"SELECT k, version FROM $cat.db.$table")
    assert(out.count() == 1030)
    assert(out.where("version = 3").count() == 110, "cycle-2 blobs not merged")
    // maintenance fired on the stream-lifetime batch number: after
    // batch id 1 (2nd batch) — compaction folded deletes + expiry
    // trimmed history + orphan sweep ran without touching live files
    val m = io(table)
    assert(m.versions().size <= cfg.keepSnapshots + 4,
      s"snapshot expiry never fired: ${m.versions()}")
    assert(StreamMerge.committedBatchId(spark, s"$cat.db.$table").contains(2L))
  }

  test("MOR MERGE with a static partition predicate in ON prunes the target scan") {
    // the read-amplification mitigation for the streaming merge at
    // 100 TB: a partitioned target + a static partition conjunct in the
    // ON clause must confine both the scan and the delete mass to the
    // matching partition (Iceberg's standard MERGE guidance, here via
    // GraftScan's stats pruning on the delta-operation read)
    spark.sql(s"""CREATE TABLE $cat.db.morpart (k BIGINT, seg STRING, v STRING)
      PARTITIONED BY (seg)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    spark.range(0, 300)
      .selectExpr("id AS k",
        "CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS seg",
        "concat('v', id) AS v")
      .writeTo(s"$cat.db.morpart").append()
    val m = io("morpart")
    val files = m.currentSnapshot().get.files
    assert(files.size == 3, s"one file per partition expected: ${files.map(_.path)}")
    val bFile = files.find(_.stats("seg").min.contains("b")).get.path

    spark.range(0, 5).selectExpr("id * 3 + 1 AS k", "'upd' AS v")
      .createOrReplaceTempView("morpart_src")
    val plan = spark.sql(s"""EXPLAIN MERGE INTO $cat.db.morpart t USING morpart_src s
      ON t.k = s.k AND t.seg = 'b'
      WHEN MATCHED THEN UPDATE SET t.v = s.v""").head.getString(0)
    assert(plan.contains("GraftScan[files=1"),
      s"target scan not pruned by the static ON conjunct:\n$plan")

    spark.sql(s"""MERGE INTO $cat.db.morpart t USING morpart_src s
      ON t.k = s.k AND t.seg = 'b'
      WHEN MATCHED THEN UPDATE SET t.v = s.v""")
    val snap = m.currentSnapshot().get
    // delete mass confined to the matched partition's file
    assert(snap.deletes.nonEmpty && snap.deletes.flatMap(_.targets).toSet == Set(bFile),
      s"deletes leaked outside the pruned partition: ${snap.deletes.flatMap(_.targets)}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.morpart WHERE v = 'upd'").head.getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.morpart").head.getLong(0) == 300)
  }

  test("bucket pruning: high-cardinality merge reads only files covering the batch's buckets") {
    // min/max stats never prune uniform md5 merge keys, so an unbucketed
    // MOR merge reads the WHOLE target every micro-batch — O(target)
    // READS against O(churn) writes. The bucket column restores file
    // skipping: seed clustered by bucket, verify the per-batch IN
    // conjunct prunes the scan, and verify compaction re-clusters the
    // accumulated batch files so pruning stays tight under sustained CDC.
    val nBuckets = 64
    val table = "mor_buckets"
    spark.sql(s"""CREATE TABLE $cat.db.$table (
      k INT, version BIGINT, payload STRING, arcane_merge_key STRING,
      ${StreamMerge.BucketColumnName} INT)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read',
        '${StreamMerge.BucketsProp}' = '$nBuckets')""")
    val seedDf = MergeKey.withMergeKey(
      spark.range(20000).selectExpr(
        "CAST(id AS INT) AS k", "CAST(0 AS BIGINT) AS version", "concat('seed-', id) AS payload"),
      Seq("k"))
      .withColumn(StreamMerge.BucketColumnName, StreamMerge.bucketExpr(nBuckets))
    seedDf
      .repartitionByRange(8, org.apache.spark.sql.functions.col(StreamMerge.BucketColumnName))
      .sortWithinPartitions(StreamMerge.BucketColumnName)
      .writeTo(s"$cat.db.$table").append()

    val m = io(table)
    val seedFiles = m.currentSnapshot().get.files
    assert(seedFiles.size == 8, s"expected 8 clustered seed files, got ${seedFiles.size}")

    // churn: 6 existing keys + 2 inserts — a handful of buckets
    val churn = MergeKey.withMergeKey(
      ((0 until 6).map(k => (k * 997, 1L, s"upd-$k")) ++
        Seq((30001, 1L, "new-a"), (30002, 1L, "new-b"))).toDF("k", "version", "payload"),
      Seq("k"))
      .withColumn(StreamMerge.BucketColumnName, StreamMerge.bucketExpr(nBuckets))
    val churnBuckets = churn.select(StreamMerge.BucketColumnName)
      .distinct().collect().map(_.getInt(0)).toSet
    val affected = seedFiles.filter { f =>
      val st = f.stats(StreamMerge.BucketColumnName)
      churnBuckets.exists(b => st.min.get.toInt <= b && b <= st.max.get.toInt)
    }
    assert(affected.size < seedFiles.size,
      s"test needs churn that misses some files (buckets $churnBuckets)")

    // the exact SQL the stream runs, EXPLAIN'd: scan planned only the
    // files whose bucket range covers the churn
    churn.createOrReplaceTempView("mor_bucket_churn")
    val plan = spark.sql("EXPLAIN " + StreamMerge.mergeSql(
      s"$cat.db.$table", "mor_bucket_churn", Seq(MergeKey.ColumnName),
      churn.columns.toSeq, Some(churnBuckets.toSeq))).head.getString(0)
    assert(plan.contains(s"GraftScan[files=${affected.size}"),
      s"expected ${affected.size} of ${seedFiles.size} files planned:\n$plan")

    // live run via the stream path (bucket column added by the stream)
    val src  = Files.createTempDirectory("graft_smb_src").toString
    val ckpt = Files.createTempDirectory("graft_smb_ckpt").toString
    ((0 until 6).map(k => (k * 997, 1L, s"upd-$k")) ++
      Seq((30001, 1L, "new-a"), (30002, 1L, "new-b")))
      .toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    assert(StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"))) == 1L)

    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == 20002)
    assert(out.where("version = 1").count() == 8)
    assert(out.where("k = 997").head.getString(2) == "upd-1")
    assert(out.where("k = 30001").head.getString(2) == "new-a")
    // delete mass confined to the affected files
    val snap1 = m.currentSnapshot().get
    assert(snap1.deletes.flatMap(_.targets).toSet.subsetOf(affected.map(_.path).toSet),
      s"deletes leaked outside the bucket-pruned files: ${snap1.deletes.flatMap(_.targets)}")

    // sustained CDC: two more batches then threshold compaction — the
    // accumulated batch files (each spanning many buckets) must come
    // back bucket-clustered so later merges keep pruning
    (1 to 2).foreach { b =>
      (0 until 6).map(k => (k * 997, (b + 1).toLong, s"upd$b-$k"))
        .toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    }
    assert(StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1),
      compactEveryBatches = Some(3), compactSmallBytes = 1L << 30)) == 2L)
    val snap2 = m.currentSnapshot().get
    assert(snap2.operation == "compact", s"last op: ${snap2.operation}")
    assert(snap2.deletes.isEmpty, "compaction must fold deletes")
    // every compacted file covers a tight, disjoint bucket range
    val spans = snap2.files.map { f =>
      val st = f.stats(StreamMerge.BucketColumnName)
      (st.min.get.toInt, st.max.get.toInt)
    }.sorted
    assert(spans.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"compacted files overlap in bucket space: $spans")
    val out2 = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out2.count() == 20002)
    assert(out2.where("version = 3").count() == 6)
    assert(out2.where("k = 997").head.getString(2) == "upd2-1")
  }

  test("threshold compaction folds accumulated position deletes; content invariant") {
    val table = "mor_compact"
    createMorTarget(table)
    seed(table, 2000)
    val src  = Files.createTempDirectory("graft_sm_cp_src").toString
    val ckpt = Files.createTempDirectory("graft_sm_cp_ckpt").toString
    (0 until 4).foreach(b => churnBlob(src, b, updates = 200, inserts = 50, target = 2000))
    val schema = spark.read.parquet(src).schema
    StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1),
      compactEveryBatches = Some(4), compactSmallBytes = 1L << 30))
    val s = io(table).currentSnapshot().get
    assert(s.operation == "compact", s"last op: ${s.operation}")
    assert(s.deletes.isEmpty, s"compaction must fold deletes, ${s.deletes.size} remain")
    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == 2000 + 4 * 50)
    assert(out.where("version = 4").count() == 250)
  }

  test("two concurrent checkpointed streams on one table: distinct stamps, 0 lost updates") {
    // stream-vs-stream contention (round-10's race was stream-vs-batch):
    // two change-capture streams with their own checkpoints and their
    // own batch-id stamp properties MERGE into one target. The OCC
    // manifest claim serializes commits; each loser re-derives and
    // retries; each stream's replay guard reads ITS OWN property, so
    // the other stream's commits are never mistaken for replays. Both
    // streams' final versions must land and both stamps must advance.
    val table = "mor_two_streams"
    val target = 6000
    createMorTarget(table)
    seed(table, target)

    val propA = s"${StreamMerge.BatchIdProp}.a"
    val propB = s"${StreamMerge.BatchIdProp}.b"
    val srcA  = Files.createTempDirectory("graft_sm2_srcA").toString
    val srcB  = Files.createTempDirectory("graft_sm2_srcB").toString
    val ckptA = Files.createTempDirectory("graft_sm2_ckptA").toString
    val ckptB = Files.createTempDirectory("graft_sm2_ckptB").toString
    // stream A churns keys 0..299 (4 batches, versions 1..4); stream B
    // churns the DISJOINT 3000..3299 (4 batches) so the final state is
    // deterministic under any interleaving
    (0 until 4).foreach(b => churnBlob(srcA, b, updates = 300, inserts = 0, target = target))
    (0 until 4).foreach { b =>
      (0 until 300).map(k => (3000 + k, (b + 1).toLong, s"b-upd-$b-$k"))
        .toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(srcB)
    }
    val schema = spark.read.parquet(srcA).schema
    def cfg(src: String, ckpt: String, prop: String) = StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1), batchIdProp = prop)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val fA = Future(StreamMerge.runAvailableNow(spark, schema, cfg(srcA, ckptA, propA)))
    val fB = Future(StreamMerge.runAvailableNow(spark, schema, cfg(srcB, ckptB, propB)))
    assert(Await.result(fA, 180.seconds) == 4L)
    assert(Await.result(fB, 180.seconds) == 4L)

    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == target, "rows lost or duplicated under stream-vs-stream contention")
    assert(out.where("k < 300 AND version = 4").count() == 300,
      "stream A updates lost under concurrent stream B")
    assert(out.where("k >= 3000 AND k < 3300 AND version = 4").count() == 300,
      "stream B updates lost under concurrent stream A")
    assert(out.where("k >= 300 AND k < 3000 AND version = 0").count() == 2700)
    assert(out.where("k = 0").head.getString(2) == "upd-3-0")
    assert(out.where("k = 3000").head.getString(2) == "b-upd-3-0")
    // BOTH stamps advanced to their stream's last batch, independently
    assert(StreamMerge.committedBatchId(spark, s"$cat.db.$table", propA).contains(3L))
    assert(StreamMerge.committedBatchId(spark, s"$cat.db.$table", propB).contains(3L))
  }

  test("seedTarget + DEFAULT config: bucket pruning is on out of the box, files-opened pinned") {
    // the 100 TB-correct posture without any per-run knob: seedTarget
    // declares the modulus as a table property, the stream resolves it,
    // and per-batch target READS open only the files covering the
    // churn's buckets
    val table = "mor_auto"
    val seedDf = spark.range(20000).selectExpr(
      "CAST(id AS INT) AS k", "CAST(0 AS BIGINT) AS version", "concat('seed-', id) AS payload")
    val n = StreamMerge.seedTarget(spark, s"$cat.db.$table", seedDf, Seq("k"),
      buckets = Some(64), seedFileBytes = 8L << 10)
    assert(n == 64)
    assert(StreamMerge.declaredBuckets(spark, s"$cat.db.$table").contains(64))
    val seedFiles = io(table).currentSnapshot().get.files.size
    assert(seedFiles >= 8, s"need a multi-file seed to observe pruning, got $seedFiles")

    val src  = Files.createTempDirectory("graft_sm_auto_src").toString
    val ckpt = Files.createTempDirectory("graft_sm_auto_ckpt").toString
    val nBatches = 3
    (0 until nBatches).foreach(b => churnBlob(src, b, updates = 2, inserts = 1, target = 20000))
    val schema = spark.read.parquet(src).schema
    val f0 = graft.catalog.GraftReadMetrics.dataFilesOpened
    // DEFAULT Config — no bucketing argument at all
    assert(StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1))) == nBatches.toLong)
    val opened = graft.catalog.GraftReadMetrics.dataFilesOpened - f0
    assert(opened < seedFiles.toLong * nBatches,
      s"default posture did not prune: opened $opened of ${seedFiles * nBatches} file-reads")
    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == 20003)
    assert(out.where("version = 3").count() == 2 + 1)
    // inserts carry a real bucket (the stream computed it with the
    // declared modulus — never NULL, which would escape future pruning)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.$table " +
      s"WHERE ${StreamMerge.BucketColumnName} IS NULL").head.getLong(0) == 0)
  }

  test("resolveBuckets refuses every silent-wrong bucket configuration, loudly") {
    // bucket column present but modulus undeclared: unknowable — refuse
    val t1 = "mor_undeclared"
    spark.sql(s"""CREATE TABLE $cat.db.$t1 (
      k INT, version BIGINT, arcane_merge_key STRING, ${StreamMerge.BucketColumnName} INT)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    val e1 = intercept[RuntimeException] {
      StreamMerge.resolveBuckets(spark, s"$cat.db.$t1")
    }
    assert(e1.getMessage.contains(StreamMerge.BucketsProp))

    // a declared, bucketed table resolves to its declared modulus
    val t2 = "mor_declared"
    spark.sql(s"""CREATE TABLE $cat.db.$t2 (
      k INT, version BIGINT, arcane_merge_key STRING, ${StreamMerge.BucketColumnName} INT)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read', '${StreamMerge.BucketsProp}' = '64')""")
    assert(StreamMerge.resolveBuckets(spark, s"$cat.db.$t2").contains(64))
    // declaration without the column: the table can't satisfy it — refuse
    val t3 = "mor_nocol"
    spark.sql(s"""CREATE TABLE $cat.db.$t3 (
      k INT, version BIGINT, arcane_merge_key STRING)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read', '${StreamMerge.BucketsProp}' = '16')""")
    intercept[RuntimeException] {
      StreamMerge.resolveBuckets(spark, s"$cat.db.$t3")
    }
    // an unbucketed table merges full-scan
    val t4 = "mor_plain"
    spark.sql(s"""CREATE TABLE $cat.db.$t4 (
      k INT, version BIGINT, arcane_merge_key STRING)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    assert(StreamMerge.resolveBuckets(spark, s"$cat.db.$t4").isEmpty)
  }
}
