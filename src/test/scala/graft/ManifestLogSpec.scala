package graft

import graft.catalog.{GraftManifestIO, GraftTable}
import graft.operators.{IndexManifests, ShardedIndex}
import graft.streaming.GraftStreamSink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

/** The manifest log every table format and index commits through
  * ([[graft.catalog.ManifestLog]]): a commit is visible exactly when its
  * claim lands, so a process that dies at ANY create, rename or delete
  * of a commit leaves version v or v+1 readable, and replaying the
  * commit converges. Faults come from [[ManifestCrashFileSystem]].
  */
class ManifestLogSpec extends SparkSpec {
  import spark.implicits._
  import ManifestCrashFileSystem.{crashAt, emptyOpens, ops, tornClaims}

  private def crashfsDir(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[ManifestCrashFileSystem].getName)
    "crashfs:" + java.nio.file.Files.createTempDirectory(prefix).toString
  }

  private def hash(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Creates, renames and deletes that `f` makes. */
  private def opsOf(f: => Unit): Int = { ops.set(0); f; ops.get }

  /** Run `f` in a process that dies at its `n`-th create, rename or
    * delete (its failed tasks' logs silenced).
    */
  private def crashingAt(n: Int)(f: => Unit): Unit = {
    spark.sparkContext.setLogLevel("OFF")
    ops.set(0); crashAt.set(n)
    try f catch { case _: Exception => () }
    finally { crashAt.set(Int.MaxValue); spark.sparkContext.setLogLevel("WARN") }
  }

  /** For every op of one commit: on a fresh table `setup(name)`, crash
    * `commit(name)` at that op. `state(name)` — the head version (None
    * when the table does not exist) and a hash of what it reads — must
    * then be the state before or after a clean commit, and replaying a
    * commit that did not land must reach the clean state.
    */
  private def everyCrashPoint(setup: String => Unit, commit: String => Unit,
      state: String => (Option[Long], Seq[String])): Unit = {
    setup("clean")
    val before = state("clean")
    val n = opsOf(commit("clean"))
    val after = state("clean")
    assert(before._1.nonEmpty && after._1 == before._1.map(_ + 1) && after._2 != before._2)
    assert(n >= 2, s"a commit must make its data write and its claim, saw $n ops")
    (1 to n).foreach { i =>
      val name = s"crash$i"
      setup(name)
      crashingAt(i)(commit(name))
      val s = state(name)
      assert(s == before || s == after, s"a crash at op $i of $n left version ${s._1}: ${s._2}")
      if (s == before) commit(name)
      assert(state(name) == after, s"the replay after a crash at op $i of $n did not converge")
    }
  }

  private def tableIO(dir: String) = new GraftManifestIO(new Path(dir), spark.sparkContext.hadoopConfiguration)

  /** The table at `dir`: its head version and a hash of what it reads. */
  private def tableState(dir: String): (Option[Long], Seq[String]) =
    (tableIO(dir).currentVersion(), GraftTable.read(spark, dir).fold(Seq.empty[String])(hash))

  test("a crash at any op of a keyed stream commitBatch leaves v or v+1; the replay converges") {
    val root = crashfsDir("graft_crash_store")
    everyCrashPoint(
      setup = name => GraftStreamSink.commitBatch(s"$root/$name", Seq((1, "a"), (2, "b")).toDF("k", "v"),
        0L, Some("k")),
      commit = name => GraftStreamSink.commitBatch(s"$root/$name", Seq((2, "b2"), (3, "c")).toDF("k", "v"),
        1L, Some("k")),
      state = name => tableState(s"$root/$name"))
  }

  private lazy val crashCatalog: (String, TableCatalog) = {
    val warehouse = crashfsDir("graft_crash_cat")
    spark.conf.set("spark.sql.catalog.crashcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.crashcat.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS crashcat.db")
    (warehouse, spark.sessionState.catalogManager.catalog("crashcat").asInstanceOf[TableCatalog])
  }

  private def catalogCrashPoints(prefix: String, commit: String => Unit): Unit = {
    val (warehouse, catalog) = crashCatalog
    everyCrashPoint(
      setup = name => {
        spark.sql(s"CREATE TABLE crashcat.db.${prefix}_$name (k INT, v STRING)")
        spark.sql(s"INSERT INTO crashcat.db.${prefix}_$name VALUES (1, 'a'), (2, 'b')")
      },
      commit = name => commit(s"crashcat.db.${prefix}_$name"),
      state = name =>
        if (!catalog.tableExists(Identifier.of(Array("db"), s"${prefix}_$name"))) (None, Nil)
        else (new GraftManifestIO(new Path(s"$warehouse/db/${prefix}_$name"),
          spark.sparkContext.hadoopConfiguration).currentVersion(),
          hash(spark.table(s"crashcat.db.${prefix}_$name"))))
  }

  test("a crash at any op of a catalog INSERT leaves the table at v or v+1; the replay converges") {
    catalogCrashPoints("ins", t => spark.sql(s"INSERT INTO $t VALUES (3, 'c')"))
  }

  test("a crash at any op of a catalog MERGE leaves the table at v or v+1; the replay converges") {
    Seq((2, "b2"), (3, "c")).toDF("k", "v").createOrReplaceTempView("crash_merge_src")
    catalogCrashPoints("mrg", t => spark.sql(
      s"""MERGE INTO $t t USING crash_merge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin))
  }

  test("a claim whose write fails leaves v, not a torn head; the replay converges") {
    val dir = crashfsDir("graft_torn_store") + "/t"
    GraftStreamSink.commitBatch(dir, Seq((1, "a"), (2, "b")).toDF("k", "v"), 0L, Some("k"))
    def batch(): Unit = GraftStreamSink.commitBatch(dir, Seq((2, "b2"), (3, "c")).toDF("k", "v"), 1L, Some("k"))
    tornClaims.set(1)
    try intercept[java.io.IOException](batch()) finally tornClaims.set(0)
    assert(tableState(dir) == ((Some(1L), Seq("[1,a]", "[2,b]"))))
    batch()
    assert(tableState(dir) == ((Some(2L), Seq("[1,a]", "[2,b2]", "[3,c]"))))

    val (_, catalog) = crashCatalog
    spark.sql("CREATE TABLE crashcat.db.torn (k INT, v STRING)")
    spark.sql("INSERT INTO crashcat.db.torn VALUES (1, 'a')")
    tornClaims.set(1)
    try intercept[Exception](spark.sql("INSERT INTO crashcat.db.torn VALUES (2, 'b')"))
    finally tornClaims.set(0)
    assert(catalog.tableExists(Identifier.of(Array("db"), "torn")))
    assert(hash(spark.table("crashcat.db.torn")) == Seq("[1,a]"))
    spark.sql("INSERT INTO crashcat.db.torn VALUES (2, 'b')")
    assert(hash(spark.table("crashcat.db.torn")) == Seq("[1,a]", "[2,b]"))
  }

  test("a racing keyed commitBatch of the same version cannot touch the winner's files") {
    val dir = crashfsDir("graft_race_store") + "/t"
    GraftStreamSink.commitBatch(dir, Seq((1, "a")).toDF("k", "v"), 0L, Some("k"))
    // A has written its batch; at A's claim, B writes one as well and dies before its own claim
    ManifestCrashFileSystem.onManifestCreate = () => {
      ManifestCrashFileSystem.onManifestCreate = () => throw new java.io.IOException("injected: B dies before its claim")
      intercept[java.io.IOException](GraftStreamSink.commit(dir, Seq((1, "b")).toDF("k", "v"), Some("k")))
      ManifestCrashFileSystem.onManifestCreate = () => ()
    }
    try GraftStreamSink.commitBatch(dir, Seq((1, "a2"), (2, "c")).toDF("k", "v"), 1L, Some("k"))
    finally ManifestCrashFileSystem.onManifestCreate = () => ()
    assert(tableState(dir) == ((Some(2L), Seq("[1,a2]", "[2,c]"))))
    val listed = tableIO(dir).currentSnapshot().get.files.map(_.path).toSet
    val onDisk = new java.io.File(dir.stripPrefix("crashfs:") + "/data").list()
      .filter(_.endsWith(".parquet")).map(n => s"data/$n").toSet
    assert(onDisk == listed, "B's files went with it; A's files all remain")
  }

  /** Run `competitor` at the `n`-th manifest claim from now, once,
    * before that claim lands.
    */
  private def raceAtClaim(n: Int)(competitor: => Unit): Unit = {
    var seen = 0
    ManifestCrashFileSystem.onManifestCreate = () => {
      seen += 1
      if (seen == n) { ManifestCrashFileSystem.onManifestCreate = () => (); competitor }
    }
  }

  test("a stream compaction that loses its inputs to a racing compaction never fails the committed batch") {
    import graft.catalog.GraftMaintenance
    import graft.streaming.StreamMerge
    val (warehouse, _) = crashCatalog
    val fs = new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def blob(src: String, rows: Seq[(Int, Long, String)]): Unit =
      rows.toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    /** The head is the racing compaction; the batch's snapshot before it
      * still lists only files that exist, so it reads as committed.
      */
    def compactedOnce(tableDir: String): Unit = {
      val io = new GraftManifestIO(new Path(tableDir), spark.sparkContext.hadoopConfiguration)
      val head = io.currentSnapshot().get
      assert(head.operation == "compact" && io.readSnapshot(head.version - 1).operation != "compact",
        s"exactly one compaction lands: ${io.versions().map(v => io.readSnapshot(v).operation)}")
      val batch = io.readSnapshot(head.version - 1).files
      assert(batch.size >= 2 && batch.forall(f => fs.exists(new Path(new Path(tableDir), f.path))),
        "the batch's small files must remain")
      // the losing compaction took its rewritten files with it
      val named = io.versions().map(io.readSnapshot)
        .flatMap(s => s.files.map(_.path) ++ s.eqDeletes.map(_.path)).toSet
      val unnamed = fs.listStatus(new Path(tableDir, "data")).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).map(n => s"data/$n").filterNot(named.contains)
      assert(unnamed.isEmpty, s"data files no retained version names: ${unnamed.mkString(", ")}")
    }

    // a seeded table: claim 1 is the batch's commit, claim 2 the compaction
    val mrgDir = s"$warehouse/db/race_mrg"
    spark.sql("""CREATE TABLE crashcat.db.race_mrg (k INT, version BIGINT, payload STRING,
      arcane_merge_key STRING) TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    graft.operators.MergeKey.withMergeKey(Seq((1, 0L, "a"), (2, 0L, "b")).toDF("k", "version", "payload"),
      Seq("k")).writeTo("crashcat.db.race_mrg").append()
    val mrgSrc = tmp("graft_race_mrg_src")
    blob(mrgSrc, Seq((2, 1L, "b2"), (3, 1L, "c")))
    raceAtClaim(2)(GraftMaintenance.compact(spark, mrgDir))
    val merged = try StreamMerge.runAvailableNow(spark, spark.read.parquet(mrgSrc).schema,
      StreamMerge.Config(sourceDir = mrgSrc, table = "crashcat.db.race_mrg", tableDir = mrgDir,
        checkpointDir = tmp("graft_race_mrg_ckpt"), primaryKeys = Seq("k"), versionCols = Seq("version"),
        compactEveryBatches = Some(1)))
      finally ManifestCrashFileSystem.onManifestCreate = () => ()
    assert(merged == 1L)
    assert(hash(spark.table("crashcat.db.race_mrg").select("k", "version", "payload")) ==
      Seq("[1,0,a]", "[2,1,b2]", "[3,1,c]"))
    assert(new GraftManifestIO(new Path(mrgDir), spark.sparkContext.hadoopConfiguration)
      .currentSnapshot().get.properties.get(StreamMerge.BatchIdProp).contains("0"))
    compactedOnce(mrgDir)

    // a table the stream bootstraps: claims 1 and 2 are its two batches, claim 3 the compaction
    val upsDir = s"$warehouse/db/race_ups"
    val upsSrc = tmp("graft_race_ups_src")
    blob(upsSrc, Seq((1, 0L, "a"), (2, 0L, "b")))
    blob(upsSrc, Seq((2, 1L, "b2"), (3, 1L, "c")))
    raceAtClaim(3)(GraftMaintenance.compact(spark, upsDir))
    val upserted = try StreamMerge.runAvailableNow(spark, spark.read.parquet(upsSrc).schema,
      StreamMerge.Config(sourceDir = upsSrc, table = "crashcat.db.race_ups", tableDir = upsDir,
        checkpointDir = tmp("graft_race_ups_ckpt"),
        primaryKeys = Seq("k"), versionCols = Seq("version"), maxFilesPerTrigger = Some(1),
        compactEveryBatches = Some(2)))
      finally ManifestCrashFileSystem.onManifestCreate = () => ()
    assert(upserted == 2L)
    assert(hash(spark.table("crashcat.db.race_ups").select("k", "version", "payload")) ==
      Seq("[1,0,a]", "[2,1,b2]", "[3,1,c]"))
    compactedOnce(upsDir)
  }

  test("a zero-byte first read of an index manifest or the federation marker is retried") {
    // built on the local filesystem, read back through crashfs
    val dir = crashfsDir("graft_empty_read") + "/fed"
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma"), (2L, "gamma delta"), (3L, "delta alpha"))
      .toDF("doc_id", "text")
    ShardedIndex.buildSharded(docs, "doc_id", "text", dir.stripPrefix("crashfs:"), shards = 2)
    val shard = ShardedIndex.shardDir(dir, 0)
    emptyOpens.set(1)
    try {
      assert(IndexManifests.head(spark, shard).version >= 1L)
      assert(emptyOpens.get == 0, "the head read must have met the zero-byte body")
      emptyOpens.set(1)
      assert(ShardedIndex.shardCount(spark, dir) == 2)
      assert(emptyOpens.get == 0, "the layout read must have met the zero-byte body")
    } finally emptyOpens.set(0)
  }
}
