package graft

import graft.catalog.{GraftCommitConflict, GraftMaintenance, GraftManifestIO, GraftTable}
import graft.streaming.GraftStreamSink
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** The stream target's table semantics — the cases the retired
  * SnapshotStore format was pinned by — run against the Graft catalog
  * table every stream now commits to: whole-table commits
  * ([[GraftMaintenance.overwrite]]), keyed batch commits
  * ([[GraftStreamSink.commitBatch]]), time travel, expiry and the
  * orphan sweep.
  */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tableIO(dir: String) =
    new GraftManifestIO(new org.apache.hadoop.fs.Path(dir), spark.sparkContext.hadoopConfiguration)

  private def read(dir: String, version: Option[Long] = None): DataFrame =
    GraftTable.read(spark, dir, version).get

  private def overwrite(dir: String, df: DataFrame): Long =
    GraftMaintenance.overwrite(df, dir, "overwrite").version

  /** Parquet files under `dir`/data, table-relative. */
  private def dataFiles(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/data").list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(n => s"data/$n").toSet

  test("commit / read / time travel across versions") {
    val dir = Files.createTempDirectory("graft_snap").toString + "/t"
    assert(GraftTable.read(spark, dir).isEmpty && tableIO(dir).currentVersion().isEmpty)

    assert(overwrite(dir, Seq((1, "a")).toDF("k", "v")) == 1L)
    assert(overwrite(dir, Seq((1, "a"), (2, "b")).toDF("k", "v")) == 2L)
    assert(overwrite(dir, Seq((9, "z")).toDF("k", "v")) == 3L)

    assert(tableIO(dir).currentVersion().contains(3L))
    assert(read(dir).count() == 1)
    assert(read(dir, Some(2L)).count() == 2, "time travel to v2")
    assert(read(dir, Some(1L)).as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(tableIO(dir).versions() == Seq(1L, 2L, 3L))
  }

  test("expireSnapshots keeps the newest N and deletes old data") {
    val dir = Files.createTempDirectory("graft_snap_exp").toString + "/t"
    (1 to 5).foreach(i => overwrite(dir, Seq((i, i)).toDF("k", "v")))
    val io = tableIO(dir)
    val expired = io.expireSnapshots(keepLast = 2)
    assert(expired == Seq(1L, 2L, 3L))
    assert(io.versions() == Seq(4L, 5L))
    assert(read(dir).as[(Int, Int)].head() == ((5, 5)))
    assert(dataFiles(dir) == Seq(4L, 5L).flatMap(v => io.readSnapshot(v).files.map(_.path)).toSet,
      "only the kept versions' files remain")
  }

  test("removeOrphanFiles deletes unreferenced data files only") {
    val dir = Files.createTempDirectory("graft_snap_orph").toString + "/t"
    overwrite(dir, Seq((1, "a")).toDF("k", "v"))
    // plant an orphan beside the live files
    val orphan = new java.io.File(s"$dir/data/orphan-file.parquet")
    Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val removed = tableIO(dir).removeOrphans()
    assert(removed == Seq("data/orphan-file.parquet"))
    assert(!orphan.exists())
    assert(read(dir).count() == 1, "live data untouched")
  }

  test("a commitBatch pinned to a head detects concurrent advancement; a retry from the fresh head succeeds") {
    val dir = Files.createTempDirectory("graft_snap_occ").toString + "/t"
    def batch(k: Int, v: String, id: Long, head: Option[Long]) =
      GraftStreamSink.commitBatch(dir, Seq((k, v)).toDF("k", "v"), id, Some("k"), expectedHead = Some(head))
    // first writer: the empty-table expectation holds
    assert(batch(1, "a", 0L, None).map(_.snapshot.version).contains(1L))
    // a second writer based on v1 wins the race...
    assert(batch(2, "b", 1L, Some(1L)).map(_.snapshot.version).contains(2L))
    // ...so a third writer still based on v1 is refused, and its files go
    val ex = intercept[GraftCommitConflict](batch(3, "c", 2L, Some(1L)))
    assert(ex.getMessage.contains("advanced to v2") && ex.getMessage.contains("based on v1"), ex.getMessage)
    val io = tableIO(dir)
    assert(io.versions() == Seq(1L, 2L), "a refused commit lands nothing")
    assert(dataFiles(dir) == io.currentSnapshot().get.files.map(_.path).toSet)
    // re-read + retry from the fresh head succeeds
    assert(batch(3, "c", 2L, io.currentVersion()).map(_.snapshot.version).contains(3L))
    assert(read(dir).count() == 3)
    // a stale empty-table expectation also conflicts
    intercept[GraftCommitConflict](batch(4, "d", 3L, None))
  }

  /** Rows as sorted strings plus (name, type) pairs: a content hash
    * that ignores row order.
    */
  private def answer(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.map(f => f.name -> f.dataType.simpleString), df.collect().map(_.toString).toSeq.sorted)

  test("manifest schema survives a wipe-and-recreate at the same path with the same manifest mtime") {
    val dir = Files.createTempDirectory("graft_snap_wipe").toString + "/t"
    overwrite(dir, Seq((1, "a")).toDF("k", "v"))
    assert(read(dir, Some(1L)).columns.toSeq == Seq("k", "v"))
    val manifest = new java.io.File(s"$dir/manifests/v1.json")
    val mtime = manifest.lastModified()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // same path, same version number, a different schema
    overwrite(dir, Seq((7L, 2.5, "x")).toDF("id", "score", "tag"))
    assert(manifest.setLastModified(mtime) && manifest.lastModified() == mtime)
    val back = read(dir, Some(1L))
    assert(back.columns.toSeq == Seq("id", "score", "tag"), s"stale schema served: ${back.schema}")
    assert(back.as[(Long, Double, String)].collect().toSeq == Seq((7L, 2.5, "x")))
  }

  test("random delta chains read equal to the full-rewrite answer at every version") {
    import graft.operators.{MergeInto, SchemaMigration, TargetMaintenance, Upsert}
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val root = Files.createTempDirectory("graft_snap_chain").toString
    val deltas = s"$root/delta"
    val full   = s"$root/full"
    var seq = 0
    (1 to 8).foreach { b =>
      // keys repeat within and across batches; batch 5 on widens `n`
      // (int -> long) and adds `extra`; key null appears now and then
      val rows = Seq.fill(4 + rnd.nextInt(8)) {
        seq += 1
        val k = if (rnd.nextInt(12) == 0) null else s"k${rnd.nextInt(9)}"
        (k, seq, s"b$b-$seq")
      }
      val narrow = rows.toDF("k", "n", "payload")
      val batch = if (b < 5) narrow
        else narrow.withColumn("n", col("n").cast("long")).withColumn("extra", col("payload"))
      // the stream's in-batch latest-per-key, or the raw batch (repeated
      // keys inside one batch all land, as MERGE inserts its whole source)
      val staged = if (b % 3 == 0) batch else Upsert.latestByKey(batch, Seq("k"), Seq("n"))
      GraftStreamSink.commitBatch(deltas, staged, b.toLong, Some("k"))
      overwrite(full, GraftTable.read(spark, full).fold(staged) { t =>
        val (ta, sa) = SchemaMigration.alignPair(t, staged)
        MergeInto.merge(ta, sa, Seq("k"))
      })
    }
    assert(tableIO(deltas).versions() == tableIO(full).versions())
    val last = tableIO(deltas).readSnapshot(8L)
    assert(last.eqDeletes.map(_.path) == last.files.map(_.path), "every batch file is its own key set")
    tableIO(deltas).versions().foreach { v =>
      assert(answer(read(deltas, Some(v))) == answer(read(full, Some(v))), s"version $v differs")
    }
    assert(answer(read(deltas)) == answer(read(full)))
    // compaction folds the delete mass with the same answer
    TargetMaintenance.run(spark, deltas, TargetMaintenance.Settings(batchThreshold = 1), 9)
    assert(tableIO(deltas).currentSnapshot().get.eqDeletes.isEmpty)
    assert(answer(read(deltas)) == answer(read(full)))
  }

  test("expireSnapshots and removeOrphanFiles keep every file a retained manifest lists") {
    import graft.operators.TargetMaintenance
    val dir = Files.createTempDirectory("graft_snap_chain_exp").toString + "/t"
    overwrite(dir, Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    (2 to 5).foreach(i => GraftStreamSink.commitBatch(dir, Seq((i, s"v$i")).toDF("k", "v"), i.toLong, Some("k")))
    val io = tableIO(dir)
    val expected = answer(read(dir))
    def listedFilesExist(): Unit = io.versions().foreach { v =>
      io.readSnapshot(v).files.foreach(f =>
        assert(new java.io.File(s"$dir/${f.path}").exists(), s"v$v lists deleted file ${f.path}"))
    }
    assert(io.expireSnapshots(keepLast = 2) == Seq(1L, 2L, 3L))
    assert(io.versions() == Seq(4L, 5L))
    listedFilesExist()
    assert(!io.removeOrphans().exists(_.endsWith(".parquet")))
    listedFilesExist()
    assert(answer(read(dir)) == expected && answer(read(dir, Some(4L)))._2.size == 4)
    // after a compaction, the old files go once nothing lists them
    TargetMaintenance.run(spark, dir, TargetMaintenance.Settings(batchThreshold = 1, keepSnapshots = 1), 6)
    assert(io.versions() == Seq(6L))
    listedFilesExist()
    assert(answer(read(dir)) == expected)
    assert(dataFiles(dir) == io.readSnapshot(6L).files.map(_.path).toSet)
  }

  test("a delta on keys the table lacks fails by name") {
    val dir = Files.createTempDirectory("graft_snap_badkey").toString + "/t"
    overwrite(dir, Seq((1, "a")).toDF("k", "v"))
    val ex = intercept[IllegalArgumentException](
      GraftStreamSink.commitBatch(dir, Seq((1, "b")).toDF("id", "v"), 0L, Some("id")))
    assert(ex.getMessage.contains("id"))
    assert(tableIO(dir).versions() == Seq(1L), "a refused batch lands nothing")
    assert(dataFiles(dir) == tableIO(dir).currentSnapshot().get.files.map(_.path).toSet)
  }
}
