package graft

import graft.sources.SnapshotStore
import java.nio.file.Files

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  test("commit / read / time travel across versions") {
    val dir   = Files.createTempDirectory("graft_snap").toString + "/t"
    val store = new SnapshotStore(spark, dir)
    assert(store.read().isEmpty && store.currentVersion().isEmpty)

    assert(store.commit(Seq((1, "a")).toDF("k", "v")) == 1L)
    assert(store.commit(Seq((1, "a"), (2, "b")).toDF("k", "v")) == 2L)
    assert(store.commit(Seq((9, "z")).toDF("k", "v")) == 3L)

    assert(store.currentVersion().contains(3L))
    assert(store.read().get.count() == 1)
    assert(store.readVersion(2).count() == 2, "time travel to v2")
    assert(store.readVersion(1).as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(store.versions() == Seq(1L, 2L, 3L))
  }

  test("expireSnapshots keeps the newest N and deletes old data") {
    val dir   = Files.createTempDirectory("graft_snap_exp").toString + "/t"
    val store = new SnapshotStore(spark, dir)
    (1 to 5).foreach(i => store.commit(Seq((i, i)).toDF("k", "v")))
    val expired = store.expireSnapshots(keepLast = 2)
    assert(expired == Seq(1L, 2L, 3L))
    assert(store.versions() == Seq(4L, 5L))
    assert(store.read().get.as[(Int, Int)].head() == ((5, 5)))
    assert(new java.io.File(s"$dir/data").list().map(_.takeWhile(_ != '-')).sorted.toSeq == Seq("v4", "v5"),
      "only the kept versions' commit dirs remain")
  }

  test("removeOrphanFiles deletes unreferenced data files only") {
    val dir   = Files.createTempDirectory("graft_snap_orph").toString + "/t"
    val store = new SnapshotStore(spark, dir)
    store.commit(Seq((1, "a")).toDF("k", "v"))
    // plant an orphan inside the live snapshot dir and a stray dir
    val orphan = new java.io.File(new java.io.File(s"$dir/${store.manifest(1).files.head}").getParentFile,
      "orphan-file.parquet")
    Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val removed = store.removeOrphanFiles()
    assert(removed.exists(_.endsWith("orphan-file.parquet")))
    assert(!orphan.exists())
    assert(store.read().get.count() == 1, "live data untouched")
  }

  test("commitIf detects concurrent advancement; retry from the fresh version succeeds") {
    import spark.implicits._
    val store = new SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft_snap_occ").toString)
    // first writer: empty-table expectation holds
    val v1 = store.commitIf(Seq((1, "a")).toDF("k", "v"), expectedVersion = None)
    assert(v1 == 1L)
    // second writer based on v1 wins the race...
    val v2 = store.commitIf(Seq((2, "b")).toDF("k", "v"), expectedVersion = Some(v1))
    assert(v2 == 2L)
    // ...so a third writer still based on v1 must be refused, data unstaged
    val ex = intercept[SnapshotStore.CommitConflictException] {
      store.commitIf(Seq((3, "c")).toDF("k", "v"), expectedVersion = Some(v1))
    }
    assert(ex.getMessage.contains("expected version 1") && ex.getMessage.contains("at 2"))
    assert(store.versions() == Seq(1L, 2L), "refused commit must stage nothing")
    // re-read + retry from the fresh version succeeds
    val v3 = store.commitIf(Seq((3, "c")).toDF("k", "v"),
      expectedVersion = store.currentVersion())
    assert(v3 == 3L && store.read().get.count() == 1)
    // stale empty-table expectation also conflicts
    intercept[SnapshotStore.CommitConflictException] {
      store.commitIf(Seq((4, "d")).toDF("k", "v"), expectedVersion = None)
    }
  }

  /** Rows as sorted strings plus (name, type) pairs: a content hash
    * that ignores row order.
    */
  private def answer(df: org.apache.spark.sql.DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.map(f => f.name -> f.dataType.simpleString), df.collect().map(_.toString).toSeq.sorted)

  test("manifest schema survives a wipe-and-recreate at the same path with the same manifest mtime") {
    val dir   = Files.createTempDirectory("graft_snap_wipe").toString + "/t"
    val store = new SnapshotStore(spark, dir)
    store.commit(Seq((1, "a")).toDF("k", "v"))
    assert(store.readVersion(1).columns.toSeq == Seq("k", "v"))
    val manifest = new java.io.File(s"$dir/manifests/v1.manifest")
    val mtime = manifest.lastModified()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // same path, same version number, a different schema
    store.commit(Seq((7L, 2.5, "x")).toDF("id", "score", "tag"))
    assert(manifest.setLastModified(mtime) && manifest.lastModified() == mtime)
    val back = store.readVersion(1)
    assert(back.columns.toSeq == Seq("id", "score", "tag"), s"stale schema served: ${back.schema}")
    assert(back.as[(Long, Double, String)].collect().toSeq == Seq((7L, 2.5, "x")))
  }

  test("random delta chains read equal to the full-rewrite answer at every version") {
    import graft.operators.{MergeInto, SchemaMigration, Upsert}
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val root = Files.createTempDirectory("graft_snap_chain").toString
    val deltas = new SnapshotStore(spark, s"$root/delta")
    val full   = new SnapshotStore(spark, s"$root/full")
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
      // keys inside one delta all land, as MERGE inserts its whole source)
      val staged = if (b % 3 == 0) batch else Upsert.latestByKey(batch, Seq("k"), Seq("n"))
      deltas.commitDelta(staged, Seq("k"))
      full.commit(full.read().fold(staged) { t =>
        val (ta, sa) = SchemaMigration.alignPair(t, staged)
        MergeInto.merge(ta, sa, Seq("k"))
      })
    }
    assert(deltas.versions() == full.versions())
    assert(deltas.manifest(8).deltas.size == 7)
    deltas.versions().foreach { v =>
      assert(answer(deltas.readVersion(v)) == answer(full.readVersion(v)), s"version $v differs")
    }
    assert(answer(deltas.read().get) == answer(full.read().get))
    // the optimize folds the chain into a base with the same answer
    graft.operators.TargetMaintenance.run(spark, deltas,
      graft.operators.TargetMaintenance.Settings(batchThreshold = 1), 9)
    val folded = deltas.manifest(deltas.currentVersion().get)
    assert(folded.deltas.isEmpty)
    assert(answer(deltas.read().get) == answer(full.read().get))
  }

  test("expireSnapshots and removeOrphanFiles keep every file a retained manifest lists") {
    val dir   = Files.createTempDirectory("graft_snap_chain_exp").toString + "/t"
    val store = new SnapshotStore(spark, dir)
    store.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    (2 to 5).foreach(i => store.commitDelta(Seq((i, s"v$i")).toDF("k", "v"), Seq("k")))
    val expected = answer(store.read().get)
    def listedFilesExist(): Unit = store.versions().foreach { v =>
      store.manifest(v).files.foreach(f =>
        assert(new java.io.File(s"$dir/$f").exists(), s"v$v lists deleted file $f"))
    }
    assert(store.expireSnapshots(keepLast = 2) == Seq(1L, 2L, 3L))
    assert(store.versions() == Seq(4L, 5L))
    listedFilesExist()
    assert(!store.removeOrphanFiles().exists(_.endsWith(".parquet")))
    listedFilesExist()
    assert(answer(store.read().get) == expected && answer(store.readVersion(4))._2.size == 4)
    // after a fold, the old base and chain dirs go once nothing lists them
    graft.operators.TargetMaintenance.run(spark, store,
      graft.operators.TargetMaintenance.Settings(batchThreshold = 1, keepSnapshots = 1), 6)
    assert(store.versions() == Seq(6L))
    listedFilesExist()
    assert(answer(store.read().get) == expected)
    assert(new java.io.File(s"$dir/data").list().toSeq.map(_.takeWhile(_ != '-')) == Seq("v6"))
  }

  test("a manifest of bare paths reads as a base with its footer schema") {
    val dir   = Files.createTempDirectory("graft_snap_bare").toString + "/t"
    val store = new SnapshotStore(spark, dir)
    store.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val manifest = java.nio.file.Paths.get(s"$dir/manifests/v1.manifest")
    val files = store.manifest(1).files
    Files.write(manifest, files.mkString("\n").getBytes("UTF-8"))
    Files.deleteIfExists(manifest.resolveSibling(".v1.manifest.crc"))
    assert(store.read().get.as[(Int, String)].collect().toSeq.sorted == Seq((1, "a"), (2, "b")))
    store.commitDelta(Seq((2, "z")).toDF("k", "v"), Seq("k"))
    assert(store.read().get.as[(Int, String)].collect().toSeq.sorted == Seq((1, "a"), (2, "z")))
  }

  test("a delta on keys the table lacks fails by name") {
    val dir   = Files.createTempDirectory("graft_snap_badkey").toString + "/t"
    val store = new SnapshotStore(spark, dir)
    store.commit(Seq((1, "a")).toDF("k", "v"))
    val ex = intercept[IllegalArgumentException](
      store.commitDelta(Seq((1, "b")).toDF("id", "v"), Seq("id")))
    assert(ex.getMessage.contains("id"))
    assert(store.versions() == Seq(1L), "a refused delta stages nothing")
  }
}
