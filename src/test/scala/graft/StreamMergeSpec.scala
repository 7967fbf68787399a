package graft

import graft.catalog.{GraftCommitStamp, GraftManifestIO, GraftTable}
import graft.operators.MergeKey
import graft.streaming.{ChangeCapture, StreamMerge, StreamPipeline}
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Streaming upsert into the Graft catalog: per-batch written data
  * must be proportional to the CHURN, never the target, and no batch
  * may read the target — the properties that make sustained CDC viable
  * at 100 TB.
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

  private def stamp(table: String, prop: String = StreamMerge.BatchIdProp): Option[Long] =
    io(table).currentSnapshot().flatMap(_.properties.get(prop)).map(_.toLong)

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

    // walk every batch commit: added data rows == churn, NO pre-existing
    // file is dropped, the added files are exactly the added equality
    // deletes (the data file is its own key set) and no delete file is
    // written — the write-amplification contract (written bytes ∝
    // churn, not target)
    val m = io(table)
    val versions = (1L to m.currentVersion().get).map(m.readSnapshot)
    val mergeCommits = versions.filter(_.operation == "stream-upsert")
    assert(mergeCommits.size == nBatches, s"ops: ${versions.map(_.operation)}")
    mergeCommits.foreach { s =>
      val parent = m.readSnapshot(s.parent.get)
      val parentFiles = parent.files.map(_.path).toSet
      assert(parent.files.forall(f => s.files.exists(_.path == f.path)),
        s"v${s.version} rewrote pre-existing data files (O(target) write!)")
      val added = s.files.filterNot(f => parentFiles.contains(f.path))
      assert(added.map(_.rows).sum == updates + inserts,
        s"v${s.version}: added ${added.map(_.rows).sum} data rows, churn is ${updates + inserts}")
      val addedEq = s.eqDeletes.filterNot(d => parent.eqDeletes.contains(d))
      assert(addedEq.map(d => (d.path, d.rows, d.seq)).toSet == added.map(f => (f.path, f.rows, s.version)).toSet,
        s"v${s.version}: eq entries $addedEq are not the added files $added")
      assert(s.deletes == parent.deletes, s"v${s.version} wrote position deletes")
    }
    assert(!new java.io.File(s"$warehouse/db/$table/deletes").exists(), "a batch wrote a delete file")

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

    val dir = s"$warehouse/db/$table"
    val applied = StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(batch, 7L)
    assert(applied.isDefined)
    val vAfter = io(table).currentVersion().get
    assert(stamp(table).contains(7L))

    // fast path: the pre-check sees batch 7 stamped and skips
    val replayed = StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(batch, 7L)
    assert(replayed.isEmpty)
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
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(batch, 8L).isDefined)
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
    val ss  = GraftTable.read(spark, storeDir).get
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
    assert(stamp(table).contains(3L))
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
    assert(stamp(table).contains(2L))
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
    assert(s.deletes.isEmpty && s.eqDeletes.isEmpty,
      s"compaction must fold deletes, ${s.deletes.size + s.eqDeletes.size} remain")
    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == 2000 + 4 * 50)
    assert(out.where("version = 4").count() == 250)
  }

  test("a compaction counts each file it reads once: data, position-delete and key-set files") {
    val table = "mor_compact_reads"
    createMorTarget(table)
    seed(table, 2000)
    val src  = Files.createTempDirectory("graft_sm_cr_src").toString
    val ckpt = Files.createTempDirectory("graft_sm_cr_ckpt").toString
    (0 until 2).foreach(b => churnBlob(src, b, updates = 20, inserts = 5, target = 2000))
    StreamMerge.runAvailableNow(spark, spark.read.parquet(src).schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1)))
    spark.sql(s"DELETE FROM $cat.db.$table WHERE k = 1500")
    // two seed files and two batch files; each batch file is also its
    // own key set, and the DELETE wrote one position-delete file
    val base = io(table).currentSnapshot().get
    assert(base.files.size == 4 && base.deletes.size == 1 &&
      base.eqDeletes.map(_.path).toSet == base.files.map(_.path).filter(_.contains("-stream-")).toSet,
      s"unexpected layout: ${base.files.map(_.path)} ${base.deletes} ${base.eqDeletes}")
    val f0 = graft.catalog.GraftReadMetrics.dataFilesOpened
    assert(graft.catalog.GraftMaintenance.compact(spark, s"$warehouse/db/$table", 1L << 30) == (4, 1))
    val opened = graft.catalog.GraftReadMetrics.dataFilesOpened - f0
    assert(opened == 4 + 1 + 2, s"compaction counted $opened files, read 4 data + 1 delete + 2 key sets")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.$table").head.getLong(0) == 2000 + 2 * 5 - 1)
  }

  test("a one-partition micro-batch dedups without an exchange; a three-partition batch keeps its shuffle") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // three one-file blobs, each holding two versions of every key
    val src = Files.createTempDirectory("graft_sm_part_src").toString
    (0 until 3).foreach { b =>
      (for (k <- 0 until 20; j <- 0 until 2) yield (k, (b * 10 + j).toLong, s"b$b-k$k-v$j"))
        .toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val shuffled = new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.add(m.shuffleWriteMetrics.bytesWritten))
    }
    val stages = new AdaptiveSparkPlanHelper {}
    // per batch: (partitions, exchanges, jobs, shuffle bytes) of the
    // latest-per-key dedup, and whether its rows are the oracle's
    def drained(maxFiles: Int): Seq[(Int, Int, Int, Long, Boolean)] = {
      val out = Seq.newBuilder[(Int, Int, Int, Long, Boolean)]
      val ckpt = Files.createTempDirectory("graft_sm_part_ckpt").toString
      spark.sparkContext.addSparkListener(listener)
      try JobCounter(spark) { c =>
        ChangeCapture.drain(ChangeCapture.files(spark, schema, src, Some(maxFiles)), ckpt) { (batch, _) =>
          val oracle = batch.collect().groupBy(_.getInt(0)).values.map(_.maxBy(_.getLong(1))).toSet
          val dedup = graft.operators.Upsert.latestByKey(batch, Seq("k"), Seq("version"))
          c.drain()
          shuffled.reset()
          val rows = dedup.collect().toSet
          val jobs = c.drain().size
          val exchanges = stages.collect(dedup.queryExecution.executedPlan) {
            case e: ShuffleExchangeLike => e }.size
          out += ((batch.rdd.getNumPartitions, exchanges, jobs, shuffled.sum, rows == oracle))
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      out.result()
    }
    val one = drained(maxFiles = 1)
    assert(one == Seq.fill(3)((1, 0, 1, 0L, true)), s"one-file batches: $one")
    val three = drained(maxFiles = 3)
    assert(three.size == 1 && three.head._1 == 3 && three.head._2 == 1 && three.head._3 == 2 &&
      three.head._4 > 0 && three.head._5, s"a three-file batch: $three")
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
    assert(stamp(table, propA).contains(3L))
    assert(stamp(table, propB).contains(3L))
  }

  test("seedTarget + default config: a micro-batch opens no target file") {
    // the 100 TB posture without any per-run knob: the batch is its own
    // key set, so a stream batch never reads the target, however many
    // files the seed has
    val table = "mor_auto"
    val seedDf = spark.range(20000).selectExpr(
      "CAST(id AS INT) AS k", "CAST(0 AS BIGINT) AS version", "concat('seed-', id) AS payload")
    StreamMerge.seedTarget(spark, s"$cat.db.$table", seedDf, Seq("k"), seedFileBytes = 8L << 10)
    val seedFiles = io(table).currentSnapshot().get.files.size
    assert(seedFiles >= 8, s"need a multi-file seed, got $seedFiles")

    val src  = Files.createTempDirectory("graft_sm_auto_src").toString
    val ckpt = Files.createTempDirectory("graft_sm_auto_ckpt").toString
    val nBatches = 3
    (0 until nBatches).foreach(b => churnBlob(src, b, updates = 2, inserts = 1, target = 20000))
    val schema = spark.read.parquet(src).schema
    val f0 = graft.catalog.GraftReadMetrics.dataFilesOpened
    assert(StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1))) == nBatches.toLong)
    val opened = graft.catalog.GraftReadMetrics.dataFilesOpened - f0
    assert(opened == 0, s"the stream opened $opened target files")
    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == 20003)
    assert(out.where("version = 3").count() == 2 + 1)
  }

  test("a target key held twice collapses to one row when the stream updates it") {
    // the contract: a stream-owned table holds each merge key once.
    // MERGE updated every copy of a matched key; a batch's rows shadow
    // every older row with their key, so the copies become one row
    val table = "mor_dupkey"
    createMorTarget(table)
    MergeKey.withMergeKey(Seq((1, 0L, "a"), (1, 0L, "a-copy"), (2, 0L, "b"))
      .toDF("k", "version", "payload"), Seq("k")).coalesce(1).writeTo(s"$cat.db.$table").append()
    val src = Files.createTempDirectory("graft_sm_dup_src").toString
    Seq((1, 1L, "a1")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    assert(StreamMerge.runAvailableNow(spark, spark.read.parquet(src).schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
      checkpointDir = Files.createTempDirectory("graft_sm_dup_ckpt").toString,
      primaryKeys = Seq("k"), versionCols = Seq("version"))) == 1L)
    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
      .collect().map(_.toString).sorted.toSeq
    assert(out == Seq("[1,1,a1]", "[2,0,b]"), s"got $out")
  }

  test("a target column the stream's batches lack is refused by name at cycle start, a legacy bucket column too") {
    // a batch's row replaces the whole older row, so a target column
    // the batch lacks would read as null where MERGE's UPDATE SET kept
    // the old value: the cycle refuses the table before any commit
    val src = Files.createTempDirectory("graft_sm_cols_src").toString
    Seq((1, 1L, "a1")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def refused(table: String, ddl: String, props: String, column: String): Unit = {
      spark.sql(s"""CREATE TABLE $cat.db.$table (k INT, version BIGINT, payload STRING,
        arcane_merge_key STRING, $ddl) TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read'$props)""")
      val v = io(table).currentVersion()
      val e = intercept[IllegalArgumentException] {
        StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
          sourceDir = src, table = s"$cat.db.$table", tableDir = s"$warehouse/db/$table",
          checkpointDir = Files.createTempDirectory("graft_sm_cols_ckpt").toString,
          primaryKeys = Seq("k"), versionCols = Seq("version")))
      }
      assert(e.getMessage.contains(column) && e.getMessage.contains(s"$cat.db.$table"), e.getMessage)
      assert(io(table).currentVersion() == v, s"$table: a refused cycle committed")
    }
    refused("mor_extra_col", "note STRING", "", "note")
    // a target bucketed by an earlier release: nothing fills the column now
    refused("mor_legacy_bucket", "arcane_merge_bucket INT", ", 'graft.merge.buckets' = '16'",
      "arcane_merge_bucket")
  }
}
