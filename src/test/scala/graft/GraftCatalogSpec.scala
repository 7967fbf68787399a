package graft

import graft.catalog.{GraftCommitConflict, GraftManifestIO}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

/** End-to-end SQL against the Graft table format: CREATE / INSERT /
  * MERGE / UPDATE / DELETE / time travel through Spark's own DSv2 and
  * row-level-operation machinery — the in-repo equivalent of the
  * Iceberg MERGE target the reference drives via Trino
  * (/root/reference/src/main/scala/main.scala:34-40,121-126).
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_cat").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gtest", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.db")
    "gtest"
  }

  private def manifestIO(table: String) =
    new GraftManifestIO(new Path(s"$warehouse/db/$table"), new Configuration())

  test("create, insert, select roundtrip across the type surface") {
    spark.sql(s"""CREATE TABLE $cat.db.types (
      b BOOLEAN, i INT, l BIGINT, f FLOAT, d DOUBLE, s STRING,
      dt DATE, ts TIMESTAMP, dec DECIMAL(12,2), big DECIMAL(30,6),
      bin BINARY, arr ARRAY<FLOAT>)""")
    spark.sql(s"""INSERT INTO $cat.db.types VALUES
      (true, 1, 10, 1.5, 2.5, 'one', DATE'2024-01-02', TIMESTAMP'2024-01-02 03:04:05.123456',
       12.34, 123456789012345.678901, X'DEADBEEF', array(1.0f, 2.0f)),
      (false, 2, 20, -1.5, -2.5, 'two', DATE'2024-02-03', TIMESTAMP'2024-02-03 04:05:06',
       -56.78, -0.000001, NULL, array(3.0f)),
      (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)""")
    val rows = spark.sql(s"SELECT * FROM $cat.db.types ORDER BY i NULLS LAST").collect()
    assert(rows.length == 3)
    assert(rows(0).getBoolean(0) && rows(0).getInt(1) == 1 && rows(0).getString(5) == "one")
    assert(rows(0).getDate(6).toString == "2024-01-02")
    assert(rows(0).getTimestamp(7).toString == "2024-01-02 03:04:05.123456")
    assert(rows(0).getDecimal(8).toString == "12.34")
    assert(rows(0).getDecimal(9).toString == "123456789012345.678901")
    assert(rows(0).getAs[Array[Byte]](10).toSeq == Seq(0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte))
    assert(rows(0).getSeq[Float](11) == Seq(1.0f, 2.0f))
    assert(rows(1).getDecimal(9).toString == "-0.000001")
    assert((0 until 12).forall(rows(2).isNullAt))
  }

  test("array columns preserve null elements and empty arrays") {
    spark.sql(s"CREATE TABLE $cat.db.arrs (id INT, a ARRAY<FLOAT>, s ARRAY<STRING>)")
    spark.sql(s"""INSERT INTO $cat.db.arrs VALUES
      (1, array(1.0f, CAST(NULL AS FLOAT), 3.0f), array('x', NULL)),
      (2, array(), array()), (3, NULL, NULL)""")
    val rows = spark.sql(s"SELECT * FROM $cat.db.arrs ORDER BY id").collect()
    assert(rows(0).getSeq[java.lang.Float](1) == Seq(1.0f, null, 3.0f))
    assert(rows(0).getSeq[String](2) == Seq("x", null))
    assert(rows(1).getSeq[Float](1).isEmpty && rows(1).getSeq[String](2).isEmpty)
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("manifest min/max stats skip files at scan time; filters stay residual") {
    spark.sql(s"CREATE TABLE $cat.db.skip (k BIGINT, v STRING)")
    // two inserts -> two files with disjoint key ranges
    spark.sql(s"INSERT INTO $cat.db.skip SELECT id, concat('a', id) FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.skip SELECT id, concat('b', id) FROM range(1000, 1100)")
    // one file per non-empty write task (local[4] -> 4 per insert)
    assert(manifestIO("skip").currentSnapshot().get.files.size == 8)

    val q = spark.sql(s"SELECT v FROM $cat.db.skip WHERE k = 1042")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("b1042"))
    val desc = physicalPlan(q).toString
    assert(desc.contains("GraftScan[files=1"), s"expected 1-file scan, plan:\n$desc")
    // a filter matching nothing prunes every file
    val none = spark.sql(s"SELECT v FROM $cat.db.skip WHERE k = 500")
    assert(none.count() == 0)
    assert(physicalPlan(none).toString.contains("GraftScan[files=0"))
  }

  test("MERGE INTO updates, inserts, and rewrites only affected files") {
    spark.sql(s"CREATE TABLE $cat.db.tgt (id BIGINT, v STRING, amt DECIMAL(10,2))")
    spark.sql(s"INSERT INTO $cat.db.tgt SELECT id, concat('v', id), CAST(id AS DECIMAL(10,2)) FROM range(0, 50)")
    spark.sql(s"INSERT INTO $cat.db.tgt SELECT id, concat('v', id), CAST(id AS DECIMAL(10,2)) FROM range(1000, 1050)")
    val before = manifestIO("tgt").currentSnapshot().get
    assert(before.files.size == 8) // 4 write tasks per insert

    // source hits only the low-key file, plus brand-new keys
    spark.range(0, 10).selectExpr("id", "concat('NEW', id) AS v")
      .union(spark.range(5000, 5005).selectExpr("id", "concat('INS', id) AS v"))
      .createOrReplaceTempView("merge_src")

    spark.sql(s"""MERGE INTO $cat.db.tgt t USING merge_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, amt) VALUES (s.id, s.v, CAST(-1 AS DECIMAL(10,2)))""")

    val after = spark.sql(s"SELECT * FROM $cat.db.tgt")
    assert(after.count() == 105)
    assert(after.where("v LIKE 'NEW%'").count() == 10)
    assert(after.where("v LIKE 'INS%' AND amt = -1").count() == 5)
    assert(after.where("id >= 1000 AND id < 1050 AND v LIKE 'v%'").count() == 50)

    // copy-on-write group pruning: only the file holding ids 0-9 had
    // matches; every other pre-merge file must survive byte-identical
    // (same manifest path) via runtime group filtering
    val snap = manifestIO("tgt").currentSnapshot().get
    assert(snap.operation == "merge")
    val survivors = snap.files.map(_.path).toSet
    val (touched, untouched) =
      before.files.partition(f => f.stats("id").min.get.toLong <= 9 && f.stats("id").max.get.toLong >= 0)
    assert(touched.nonEmpty && untouched.nonEmpty)
    untouched.foreach(f => assert(survivors.contains(f.path),
      s"runtime group filtering should keep ${f.path}; survivors=$survivors"))
    touched.filter(_.stats("id").min.get.toLong == 0).foreach(f =>
      assert(!survivors.contains(f.path), s"matched file ${f.path} must be rewritten"))
  }

  test("UPDATE and DELETE run as row-level operations") {
    spark.sql(s"CREATE TABLE $cat.db.upd (id BIGINT, status STRING)")
    spark.sql(s"INSERT INTO $cat.db.upd SELECT id, 'open' FROM range(0, 100)")
    spark.sql(s"UPDATE $cat.db.upd SET status = 'closed' WHERE id % 10 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.upd WHERE status = 'closed'").head.getLong(0) == 10)
    spark.sql(s"DELETE FROM $cat.db.upd WHERE status = 'closed'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.upd").head.getLong(0) == 90)
    assert(manifestIO("upd").currentSnapshot().get.operation == "delete")
  }

  test("merge-on-read: DELETE writes position deletes, no data file rewritten") {
    spark.sql(s"""CREATE TABLE $cat.db.mor (id BIGINT, v STRING)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    spark.sql(s"INSERT INTO $cat.db.mor SELECT id, concat('v', id) FROM range(0, 100)")
    val before = manifestIO("mor").currentSnapshot().get
    spark.sql(s"DELETE FROM $cat.db.mor WHERE id % 10 = 3")
    val snap = manifestIO("mor").currentSnapshot().get
    assert(snap.operation == "delete-delta")
    assert(snap.files.map(_.path) == before.files.map(_.path),
      "MOR delete must not rewrite data files")
    assert(snap.deletes.nonEmpty && snap.deletes.map(_.rows).sum == 10)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor").head.getLong(0) == 90)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor WHERE id % 10 = 3").head.getLong(0) == 0)
  }

  test("merge-on-read: MERGE is delete+insert deltas; compaction folds them") {
    spark.sql(s"""CREATE TABLE $cat.db.mor2 (id BIGINT, v STRING)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    spark.sql(s"INSERT INTO $cat.db.mor2 SELECT id, concat('v', id) FROM range(0, 100)")
    val before = manifestIO("mor2").currentSnapshot().get

    spark.range(0, 5).selectExpr("id", "concat('UPD', id) AS v")
      .union(spark.range(900, 903).selectExpr("id", "concat('NEW', id) AS v"))
      .createOrReplaceTempView("mor_src")
    spark.sql(s"""MERGE INTO $cat.db.mor2 t USING mor_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")

    val snap = manifestIO("mor2").currentSnapshot().get
    assert(snap.operation == "merge-delta")
    // original data files all survive; updates landed as delete+insert
    before.files.map(_.path).foreach(p => assert(snap.files.map(_.path).contains(p)))
    assert(snap.deletes.map(_.rows).sum == 5)
    val expect = (0L until 5L).map(i => s"UPD$i") ++ (5L until 100L).map(i => s"v$i") ++
      (900L until 903L).map(i => s"NEW$i")
    val got = spark.sql(s"SELECT v FROM $cat.db.mor2 ORDER BY id").collect().map(_.getString(0)).toSeq
    assert(got == expect)

    // compaction folds the deletes into rewritten files
    val (nb, na) = graft.catalog.GraftMaintenance.compact(
      spark, s"$warehouse/db/mor2", smallBytes = 1L << 30)
    assert(na < nb)
    val after = manifestIO("mor2").currentSnapshot().get
    assert(after.deletes.isEmpty, "compaction must fold position deletes away")
    assert(spark.sql(s"SELECT v FROM $cat.db.mor2 ORDER BY id").collect().map(_.getString(0)).toSeq
      == expect)
    // and the rolled-up delete files become orphans once expired
    manifestIO("mor2").expireSnapshots(keepLast = 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor2").head.getLong(0) == 103)
  }

  test("snapshot isolation and time travel") {
    spark.sql(s"CREATE TABLE $cat.db.tt (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (1, 'first')")
    spark.sql(s"INSERT INTO $cat.db.tt VALUES (2, 'second')")
    spark.sql(s"UPDATE $cat.db.tt SET v = 'patched' WHERE k = 1")
    val io = manifestIO("tt")
    assert(io.versions() == Seq(1L, 2L, 3L, 4L))
    assert(spark.sql(s"SELECT v FROM $cat.db.tt VERSION AS OF 2 ORDER BY k").collect().map(_.getString(0)).toSeq
      == Seq("first"))
    assert(spark.sql(s"SELECT v FROM $cat.db.tt VERSION AS OF 3 ORDER BY k").collect().map(_.getString(0)).toSeq
      == Seq("first", "second"))
    assert(spark.sql(s"SELECT v FROM $cat.db.tt ORDER BY k").collect().map(_.getString(0)).toSeq
      == Seq("patched", "second"))
  }

  test("INSERT OVERWRITE truncates; _file metadata column is queryable") {
    spark.sql(s"CREATE TABLE $cat.db.ow (k INT)")
    spark.sql(s"INSERT INTO $cat.db.ow VALUES (1), (2)")
    spark.sql(s"INSERT OVERWRITE $cat.db.ow VALUES (7)")
    assert(spark.sql(s"SELECT k FROM $cat.db.ow").collect().map(_.getInt(0)).toSeq == Seq(7))
    val f = spark.sql(s"SELECT _file FROM $cat.db.ow").head.getString(0)
    assert(f.contains("/db/ow/data/part-") && f.endsWith(".parquet"))
  }

  test("schema evolution: added column reads null from pre-evolution files") {
    spark.sql(s"CREATE TABLE $cat.db.evo (k INT)")
    spark.sql(s"INSERT INTO $cat.db.evo VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.db.evo ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $cat.db.evo VALUES (2, 'with-note')")
    val rows = spark.sql(s"SELECT k, note FROM $cat.db.evo ORDER BY k").collect()
    assert(rows.toSeq == Seq(Row(1, null), Row(2, "with-note")))
  }

  test("RENAME COLUMN: pre-rename data files resolve under the new name") {
    spark.sql(s"CREATE TABLE $cat.db.ren (k INT, note STRING)")
    spark.sql(s"INSERT INTO $cat.db.ren VALUES (1, 'before')")
    spark.sql(s"ALTER TABLE $cat.db.ren RENAME COLUMN note TO comment")
    spark.sql(s"INSERT INTO $cat.db.ren VALUES (2, 'after')")
    assert(spark.sql(s"SELECT k, comment FROM $cat.db.ren ORDER BY k").collect().toSeq ==
      Seq(Row(1, "before"), Row(2, "after")),
      "old files must resolve through the former-name chain")
    // second rename: the chain keeps every historical name resolvable
    spark.sql(s"ALTER TABLE $cat.db.ren RENAME COLUMN comment TO remark")
    spark.sql(s"INSERT INTO $cat.db.ren VALUES (3, 'newest')")
    assert(spark.sql(s"SELECT remark FROM $cat.db.ren ORDER BY k").collect().map(_.getString(0)).toSeq ==
      Seq("before", "after", "newest"))
    // predicates and aggregates over the renamed column stay correct
    // (stats keyed by old names fall back to a real scan — sound)
    assert(spark.sql(s"SELECT k FROM $cat.db.ren WHERE remark = 'before'").head.getInt(0) == 1)
    assert(spark.sql(s"SELECT count(remark) FROM $cat.db.ren").head.getLong(0) == 3L)
    // MERGE through a rename: carried-over rows re-resolve, rewrite
    // emits files under the CURRENT name
    spark.createDataFrame(Seq((1, "merged"))).toDF("k", "remark")
      .createOrReplaceTempView("ren_updates")
    spark.sql(s"""MERGE INTO $cat.db.ren t USING ren_updates s ON t.k = s.k
                  WHEN MATCHED THEN UPDATE SET *""")
    assert(spark.sql(s"SELECT remark FROM $cat.db.ren ORDER BY k").collect().map(_.getString(0)).toSeq ==
      Seq("merged", "after", "newest"))
    // renaming a partition column is refused loudly
    spark.sql(s"CREATE TABLE $cat.db.renp (k INT, p STRING) PARTITIONED BY (p)")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.renp RENAME COLUMN p TO q")
    }
  }

  test("delete-file cache is a pure optimization: identical reads cached, cleared, and uncached") {
    // sustained MOR change capture accumulates delete files whose
    // re-parsing per data file measured super-linear at 30×
    // (BENCH_SF1.md round-9 addendum: 1.4→4.5 s over six rounds; flat
    // ~1.0 s with the cache). Correctness must be identical in every cache regime.
    spark.sql(s"CREATE TABLE $cat.db.delcache (k BIGINT, v STRING) TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')")
    spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .repartition(4).writeTo(s"$cat.db.delcache").append()
    for (r <- 1 to 3) {
      spark.range(0, 1000).filter(s"id % 5 = $r")
        .selectExpr("id AS k", s"'u$r' AS v").createOrReplaceTempView("delcache_src")
      spark.sql(s"""MERGE INTO $cat.db.delcache t USING delcache_src s ON t.k = s.k
                    WHEN MATCHED THEN UPDATE SET t.v = s.v""")
    }
    def state() = spark.sql(s"SELECT k, v FROM $cat.db.delcache ORDER BY k").collect().toSeq
    val warm = state()
    assert(warm.size == 1000 && warm(7).getString(1) == "u2" && warm(10).getString(1) == "10")
    graft.catalog.GraftDeletes.cacheClear()
    assert(state() == warm, "cold cache must read identically")
    // cap 0: nothing ever caches — the pure re-parse path stays correct
    spark.sparkContext.hadoopConfiguration
      .setLong(graft.catalog.GraftDeletes.CacheMaxEntriesKey, 0L)
    try {
      graft.catalog.GraftDeletes.cacheClear()
      assert(state() == warm, "uncacheable regime must read identically")
    } finally spark.sparkContext.hadoopConfiguration
      .unset(graft.catalog.GraftDeletes.CacheMaxEntriesKey)
    // and the scale shape itself: a cold full read parses each delete
    // file ONCE (one per task per merge round), not once per data file
    // — local[4] shares one JVM, mirroring one executor's view; the
    // in-flight dedup also stops the cold concurrent-task wave from
    // multiplying that by the core count
    val deleteFiles = manifestIO("delcache").currentSnapshot().get.deletes.size.toLong
    assert(deleteFiles >= 3L, s"expected ≥1 delete file per merge round, got $deleteFiles")
    graft.catalog.GraftDeletes.cacheClear()
    val before = graft.catalog.GraftDeletes.parseCount.get()
    state()
    val parses = graft.catalog.GraftDeletes.parseCount.get() - before
    assert(parses == deleteFiles,
      s"cold read must parse each of the $deleteFiles delete files once, parsed $parses")
  }

  test("TIMESTAMP_NTZ round-trips with stats-based pruning (streaming event time)") {
    // event streams routinely load as NTZ (parquet isAdjustedToUTC=false);
    // the format stores it as INT64 micros with the NTZ annotation
    spark.sql(s"CREATE TABLE $cat.db.ntz (k INT, ts TIMESTAMP_NTZ)")
    spark.sql(s"INSERT INTO $cat.db.ntz VALUES (1, TIMESTAMP_NTZ'2024-01-01 10:00:00'), (2, TIMESTAMP_NTZ'2024-06-01 12:30:00')")
    assert(spark.sql(s"SELECT ts FROM $cat.db.ntz WHERE k = 2").head.getAs[java.time.LocalDateTime](0)
      == java.time.LocalDateTime.of(2024, 6, 1, 12, 30))
    // min/max stats parse back in the micros domain → file pruning works
    val pruned = spark.sql(s"SELECT k FROM $cat.db.ntz WHERE ts > TIMESTAMP_NTZ'2024-03-01 00:00:00'")
    assert(pruned.collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("dropped-column names are tombstoned: re-ADD cannot resurrect old data") {
    // drop discards the field's former-name chain, but its data still
    // sits in old files under every name in that chain — without the
    // tombstone, ADD COLUMN a after RENAME a→b; DROP b would silently
    // surface the old b-data under the new column
    spark.sql(s"CREATE TABLE $cat.db.tomb (k INT, a STRING)")
    spark.sql(s"INSERT INTO $cat.db.tomb VALUES (1, 'secret')")
    spark.sql(s"ALTER TABLE $cat.db.tomb RENAME COLUMN a TO b")
    spark.sql(s"ALTER TABLE $cat.db.tomb DROP COLUMN b")
    for (name <- Seq("a", "b")) {
      val err = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.tomb ADD COLUMN $name STRING")
      }
      assert(err.getMessage.contains("dropped"), s"add $name: ${err.getMessage}")
    }
    // renaming another column onto a tombstoned name is refused too
    spark.sql(s"ALTER TABLE $cat.db.tomb ADD COLUMN c STRING")
    val renErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.tomb RENAME COLUMN c TO a")
    }
    assert(renErr.getMessage.contains("dropped"), s"got: ${renErr.getMessage}")
    // fresh names remain unrestricted and the table stays usable
    spark.sql(s"INSERT INTO $cat.db.tomb VALUES (2, 'ok')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tomb").head.getLong(0) == 2L)
    // the tombstone list itself is catalog-managed: SET/UNSET
    // TBLPROPERTIES must not be able to erase the reservations (that
    // would reopen the resurrect-old-data hole through a side door)
    val setErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.tomb SET TBLPROPERTIES ('graft.dropped-names' = '')")
    }
    assert(setErr.getMessage.contains("managed by the catalog"), s"got: ${setErr.getMessage}")
    val unsetErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.tomb UNSET TBLPROPERTIES ('graft.dropped-names')")
    }
    assert(unsetErr.getMessage.contains("managed by the catalog"), s"got: ${unsetErr.getMessage}")
    // and the reservation still holds afterwards
    val stillErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.tomb ADD COLUMN a STRING")
    }
    assert(stillErr.getMessage.contains("dropped"), s"got: ${stillErr.getMessage}")
    // unrelated user properties remain settable
    spark.sql(s"ALTER TABLE $cat.db.tomb SET TBLPROPERTIES ('user.note' = 'fine')")
  }

  test("former names stay reserved: ADD/RENAME onto a chain name is refused, rename-back works") {
    spark.sql(s"CREATE TABLE $cat.db.fnm (k INT, a STRING, c STRING)")
    spark.sql(s"INSERT INTO $cat.db.fnm VALUES (1, 'a-data', 'c-data')")
    spark.sql(s"ALTER TABLE $cat.db.fnm RENAME COLUMN a TO b")
    // 'a' still physically names b's data in the pre-rename file: a new
    // column 'a' would make readers resolve two logical columns onto the
    // same physical field and surface old b-data under the new column
    val addErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.fnm ADD COLUMN a STRING")
    }
    assert(addErr.getMessage.contains("former name"), s"got: ${addErr.getMessage}")
    // same hazard via RENAME of an unrelated column onto the chain name
    val renErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.fnm RENAME COLUMN c TO a")
    }
    assert(renErr.getMessage.contains("former name"), s"got: ${renErr.getMessage}")
    // rename BACK (b→a) reclaims the name from the field's own chain —
    // in every file that physical name is this very field, so it's safe
    spark.sql(s"ALTER TABLE $cat.db.fnm RENAME COLUMN b TO a")
    spark.sql(s"INSERT INTO $cat.db.fnm VALUES (2, 'post-back', 'c2')")
    assert(spark.sql(s"SELECT a FROM $cat.db.fnm ORDER BY k").collect().map(_.getString(0)).toSeq ==
      Seq("a-data", "post-back"))
    // after the round trip 'b' joins the chain — files written while
    // the column was named b store its data under physical 'b', so that
    // name stays reserved too
    val backErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.fnm ADD COLUMN b INT")
    }
    assert(backErr.getMessage.contains("former name"), s"got: ${backErr.getMessage}")
  }

  test("real concurrent appenders all land through the OCC retry loop") {
    spark.sql(s"CREATE TABLE $cat.db.race (w INT, i INT)")
    val io = manifestIO("race")
    // 8 writers x 5 manifest commits each, racing on the version claim:
    // every commit must land (bounded retries re-derive from the fresh
    // snapshot), no file lost, no version skipped
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val tasks = (0 until 8).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try (0 until 5).foreach { i =>
              io.commit(s"append", maxAttempts = 200) { base =>
                val cur = base.get
                val entry = graft.catalog.FileEntry(s"data/race-$w-$i.parquet", 1L, 1L, Map.empty)
                GraftManifestIO.Content(cur.schema, cur.properties, cur.files :+ entry, cur.deletes)
              }
            } catch { case t: Throwable => errors.add(t) }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    assert(errors.isEmpty, s"concurrent commits failed: ${errors.peek()}")
    val snap = io.currentSnapshot().get
    assert(snap.version == 41L, s"create + 40 commits, got v${snap.version}")
    assert(snap.files.size == 40 && snap.files.map(_.path).distinct.size == 40)
  }

  test("concurrent replace of the same file is a detected conflict") {
    spark.sql(s"CREATE TABLE $cat.db.occ (k INT)")
    spark.sql(s"INSERT INTO $cat.db.occ VALUES (1)")
    val io = manifestIO("occ")
    val victim = io.currentSnapshot().get.files.head.path
    intercept[GraftCommitConflict] {
      io.commit("merge") { base =>
        val cur = base.get
        // simulate a racing writer that removed the file this commit replaces
        if (cur.files.exists(_.path == victim))
          throw new GraftCommitConflict(s"concurrently replaced $victim")
        GraftManifestIO.Content(cur.schema, cur.properties, cur.files, cur.deletes)
      }
    }
  }

  test("orphan files from aborted writes are removable; snapshots expire") {
    spark.sql(s"CREATE TABLE $cat.db.gc (k INT)")
    spark.sql(s"INSERT INTO $cat.db.gc VALUES (1)")
    spark.sql(s"INSERT OVERWRITE $cat.db.gc VALUES (2)")
    val io = manifestIO("gc")
    // plant an orphan beside the live files; it is unreferenced by any
    // manifest, so orphan removal deletes it while live data survives
    val fs = new Path(warehouse).getFileSystem(new Configuration())
    val orphan = new Path(s"$warehouse/db/gc/data/part-orphan.parquet")
    val out = fs.create(orphan); out.write(1); out.close()
    val removed = io.removeOrphans()
    assert(removed.contains("data/part-orphan.parquet"))
    // expiring to the latest snapshot sweeps the overwritten v2-era file
    io.expireSnapshots(keepLast = 1)
    assert(io.versions().size == 1)
    assert(spark.sql(s"SELECT k FROM $cat.db.gc").head.getInt(0) == 2)
  }

  test("identity-partitioned table: clustered write, one file per value, exact pruning") {
    spark.sql(s"""CREATE TABLE $cat.db.part (k BIGINT, seg STRING)
      PARTITIONED BY (seg)""")
    // unclustered input: the write's required distribution shuffles by
    // seg, so each of the 3 values lands in exactly one task -> one file
    spark.range(0, 300)
      .selectExpr("id AS k", "CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS seg")
      .repartition(4) // deliberately mis-partitioned
      .writeTo(s"$cat.db.part").append()
    val files = manifestIO("part").currentSnapshot().get.files
    assert(files.size == 3, s"expected one file per partition value, got ${files.map(_.path)}")
    // every file holds exactly one seg value (min == max)
    files.foreach(f => assert(f.stats("seg").min == f.stats("seg").max))
    val q = spark.sql(s"SELECT count(*) FROM $cat.db.part WHERE seg = 'b'")
    assert(q.head.getLong(0) == 100)
    assert(physicalPlan(q).toString.contains("GraftScan[files=1"))
    // MERGE into one partition leaves the other partitions' files alone
    spark.range(0, 5).selectExpr("id * 3 + 1 AS k").createOrReplaceTempView("part_src")
    spark.sql(s"""MERGE INTO $cat.db.part t USING part_src s ON t.k = s.k AND t.seg = 'b'
      WHEN MATCHED THEN UPDATE SET t.seg = t.seg""")
    val after = manifestIO("part").currentSnapshot().get.files.map(_.path).toSet
    val untouched = files.filter(f => f.stats("seg").min.get != "b")
    untouched.foreach(f => assert(after.contains(f.path), s"${f.path} should survive"))
  }

  test("dynamic partition pruning: a filtered-dim join opens only the matching partition's files") {
    import spark.implicits._
    // the partition values that survive the dim's filter are only known
    // at RUNTIME — static stats pruning can't help. GraftScan's
    // SupportsRuntimeV2Filtering (Iceberg's DPP posture) receives the
    // broadcast build side's seg values and drops the other partitions'
    // files before any read.
    spark.sql(s"""CREATE TABLE $cat.db.dppfact (k BIGINT, seg STRING, v DOUBLE)
      PARTITIONED BY (seg)""")
    spark.range(0, 9000)
      .selectExpr("id AS k",
        "CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS seg",
        "CAST(id AS DOUBLE) AS v")
      .writeTo(s"$cat.db.dppfact").append()
    assert(manifestIO("dppfact").currentSnapshot().get.files.size == 3)
    // dim must be a real scan so its filter survives to the optimizer
    // (a local relation folds the filter away and DPP sees no selective
    // predicate on the build side)
    spark.sql(s"CREATE TABLE $cat.db.dppdim (seg STRING, flag STRING)")
    Seq(("a", "keep"), ("b", "drop"), ("c", "drop")).toDF("seg", "flag")
      .writeTo(s"$cat.db.dppdim").append()

    val q = spark.sql(s"""SELECT count(*) AS n, sum(f.v) AS s
      FROM $cat.db.dppfact f JOIN $cat.db.dppdim d ON f.seg = d.seg
      WHERE d.flag = 'keep'""")
    assert(physicalPlan(q).toString.contains("dynamicpruning"),
      s"no runtime filter planned:\n${physicalPlan(q)}")
    val f0 = graft.catalog.GraftReadMetrics.dataFilesOpened
    val row = q.head
    val opened = graft.catalog.GraftReadMetrics.dataFilesOpened - f0
    assert(row.getLong(0) == 3000)
    assert(row.getDouble(1) == (0 until 9000 by 3).map(_.toDouble).sum)
    // 2 = the dim's single file + ONE pruned fact file (an unpruned
    // fact scan would make this 4)
    assert(opened == 2, s"DPP opened $opened files, expected 2 (1 dim + 1 pruned fact)")
  }

  test("max-rows-per-file property rolls hot partitions into bounded files") {
    spark.sql(s"""CREATE TABLE $cat.db.roll (k BIGINT, seg STRING)
      PARTITIONED BY (seg)
      TBLPROPERTIES ('graft.write.max-rows-per-file' = '100')""")
    // one hot value ('a': 350 rows) and one cold ('b': 50)
    spark.range(0, 400)
      .selectExpr("id AS k", "CASE WHEN id < 350 THEN 'a' ELSE 'b' END AS seg")
      .writeTo(s"$cat.db.roll").append()
    val files = manifestIO("roll").currentSnapshot().get.files
    val aFiles = files.filter(_.stats("seg").min.contains("a"))
    val bFiles = files.filter(_.stats("seg").min.contains("b"))
    assert(aFiles.size == 4 && aFiles.map(_.rows).sum == 350 && aFiles.forall(_.rows <= 100),
      s"hot partition should roll at 100 rows: ${aFiles.map(_.rows)}")
    assert(bFiles.size == 1 && bFiles.head.rows == 50)
    assert(spark.sql(s"SELECT count(DISTINCT k) FROM $cat.db.roll").head.getLong(0) == 400)
  }

  test("compaction consolidates small files, preserves content, conflicts safely") {
    spark.sql(s"CREATE TABLE $cat.db.compact (k BIGINT, v STRING)")
    spark.range(0, 1000).selectExpr("id AS k", "concat('v', id) AS v")
      .repartition(8).writeTo(s"$cat.db.compact").append()
    val io = manifestIO("compact")
    assert(io.currentSnapshot().get.files.size == 8)
    val (before, after) = graft.catalog.GraftMaintenance.compact(
      spark, s"$warehouse/db/compact", smallBytes = 1L << 30)
    assert(before == 8 && after == 1, s"expected 8 -> 1 files, got $before -> $after")
    assert(io.currentSnapshot().get.operation == "compact")
    assert(spark.sql(s"SELECT count(*), count(DISTINCT k) FROM $cat.db.compact").head()
      == Row(1000L, 1000L))
    // stats survive the rewrite: point queries still prune to files=0
    val none = spark.sql(s"SELECT v FROM $cat.db.compact WHERE k = 999999")
    assert(none.count() == 0 && physicalPlan(none).toString.contains("GraftScan[files=0"))
  }

  test("streaming sink: idempotent micro-batch append into a Graft table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql(s"CREATE TABLE $cat.db.sink (v BIGINT)")
    val tableDir = s"$warehouse/db/sink"

    val input = MemoryStream[Long]
    val q = input.toDS().toDF("v").writeStream
      .foreachBatch(graft.streaming.GraftStreamSink.idempotentAppend(tableDir) _)
      .start()
    try {
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      input.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.sink").head.getLong(0) == 15L)

    val io = manifestIO("sink")
    val committedBatch = io.currentSnapshot().get
      .properties(graft.streaming.GraftStreamSink.BatchIdProp).toLong
    val versionBefore = io.currentVersion().get
    // replay the last batch (foreachBatch's at-least-once window): the
    // sink must detect the stale batchId and leave the table unchanged
    graft.streaming.GraftStreamSink.idempotentAppend(tableDir)(
      spark.range(100, 110).toDF("v"), committedBatch)
    assert(io.currentVersion().get == versionBefore, "replayed batch must not commit")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.sink").head.getLong(0) == 15L)
    // the pre-staging guard skipped the replay before writing anything,
    // so the table has no orphans either
    assert(io.removeOrphans().isEmpty)
    // a genuinely new batch still lands
    graft.streaming.GraftStreamSink.idempotentAppend(tableDir)(
      spark.range(10, 12).toDF("v"), committedBatch + 1)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.sink").head.getLong(0) == 36L)
  }

  test("streaming sink under a WAP ref: batches stage invisibly, audits read them, publish lands the window exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql(s"CREATE TABLE $cat.db.wsink (v BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.wsink VALUES (100)") // pre-existing head content
    val tableDir = s"$warehouse/db/wsink"

    val input = MemoryStream[Long]
    val q = input.toDS().toDF("v").writeStream
      .foreachBatch(
        graft.streaming.GraftStreamSink.idempotentAppendWap(tableDir, "audit-1") _)
      .start()
    try {
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      input.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    // the main table never saw the stream; the audit ref sees base +
    // BOTH staged batches (the ref accumulates, unlike one-shot stageWap)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wsink").head.getLong(0) == 100L,
      "staged stream leaked into the version chain")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wsink VERSION AS OF 'audit-1'")
      .head.getLong(0) == 115L, "audit read missed staged batches")

    val io = manifestIO("wsink")
    val stagedBatch = io.readWap("audit-1")
      .properties(graft.streaming.GraftStreamSink.BatchIdProp).toLong
    // a replayed batch WHILE STAGED: refused by the ref's own stamp
    graft.streaming.GraftStreamSink.idempotentAppendWap(tableDir, "audit-1")(
      spark.range(900, 910).toDF("v"), stagedBatch)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wsink VERSION AS OF 'audit-1'")
      .head.getLong(0) == 115L, "replay while staged double-counted")
    assert(io.removeOrphans().isEmpty, "replay while staged left orphans")

    // an interleaved direct writer lands mid-audit; publish cherry-picks
    // the audited window onto the CURRENT head (composes, not clobbers)
    spark.sql(s"INSERT INTO $cat.db.wsink VALUES (200)")
    spark.sql(s"CALL $cat.system.wap_publish('db.wsink', 'audit-1')")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wsink").head.getLong(0) == 315L,
      "publish lost the direct write or a staged batch")
    assert(!io.wapExists("audit-1"), "publish must retire the ref")

    // the stamp traveled into the head: a POST-PUBLISH replay is refused
    val versionAfter = io.currentVersion().get
    graft.streaming.GraftStreamSink.idempotentAppendWap(tableDir, "audit-1")(
      spark.range(900, 910).toDF("v"), stagedBatch)
    assert(io.currentVersion().get == versionAfter, "post-publish replay restaged")
    assert(!io.wapExists("audit-1") && io.removeOrphans().isEmpty,
      "post-publish replay left a ref or orphans")

    // the next batch under the same ref opens a FRESH audit window;
    // abort discards it and its files
    graft.streaming.GraftStreamSink.idempotentAppendWap(tableDir, "audit-1")(
      spark.range(10, 12).toDF("v"), stagedBatch + 1)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wsink").head.getLong(0) == 315L,
      "new audit window leaked to the head")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wsink VERSION AS OF 'audit-1'")
      .head.getLong(0) == 336L, "new audit window not staged")
    spark.sql(s"CALL $cat.system.wap_abort('db.wsink', 'audit-1')")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wsink").head.getLong(0) == 315L)
    assert(io.removeOrphans().isEmpty, "abort left the staged window's files")
  }

  test("z-order rewrite tightens file stats so 2-D predicates prune") {
    spark.sql(s"CREATE TABLE $cat.db.zord (x BIGINT, y BIGINT, v STRING)")
    // random-ish scatter: every file spans the whole (x, y) domain
    spark.range(0, 4096)
      .selectExpr("(id * 1103515245 + 12345) % 4096 AS x",
        "(id * 69069 + 1) % 4096 AS y", "concat('v', id) AS v")
      .repartition(8)
      .writeTo(s"$cat.db.zord").append()
    def filesScanned(): Int = {
      val q = spark.sql(s"SELECT v FROM $cat.db.zord WHERE x BETWEEN 100 AND 300 AND y BETWEEN 100 AND 300")
      val m = "GraftScan\\[files=(\\d+)".r.findFirstMatchIn(physicalPlan(q).toString)
      m.get.group(1).toInt
    }
    assert(filesScanned() == 8, "scattered layout: every file may match")
    val (before, after) = graft.catalog.GraftMaintenance.zorder(
      spark, s"$warehouse/db/zord", "x", "y", bits = 16, targetFiles = 8)
    assert(before == 8 && after == 8)
    assert(manifestIO("zord").currentSnapshot().get.operation == "zorder")
    val pruned = filesScanned()
    assert(pruned <= 3, s"z-ordered layout should prune the small box to <=3 files, scanned $pruned")
    assert(spark.sql(s"SELECT count(DISTINCT v) FROM $cat.db.zord").head.getLong(0) == 4096)
  }

  test("zorder counts the files it reads in GraftReadMetrics once, as compact does") {
    spark.sql(s"CREATE TABLE $cat.db.zreads (x BIGINT, y BIGINT, k STRING)")
    spark.range(0, 600).selectExpr("id % 37 AS x", "id % 41 AS y", "concat('k', id % 300) AS k")
      .repartition(3).writeTo(s"$cat.db.zreads").append()
    val dir = s"$warehouse/db/zreads"
    // one keyed batch adds a file that is also an equality-delete key set
    graft.streaming.GraftStreamSink.commit(dir,
      spark.range(0, 10).selectExpr("id AS x", "id AS y", "concat('k', id) AS k").coalesce(1), Some("k"))
    val snap = manifestIO("zreads").currentSnapshot().get
    assert(snap.files.size == 4 && snap.eqDeletes.size == 1)
    val f0 = graft.catalog.GraftReadMetrics.dataFilesOpened
    graft.catalog.GraftMaintenance.zorder(spark, dir, "x", "y", bits = 8, targetFiles = 2)
    // the 4 data files, plus the key set (itself a data file) once more
    assert(graft.catalog.GraftReadMetrics.dataFilesOpened - f0 == 5)
    // 600 rows, less the 20 the batch's 10 keys shadow, plus its 10
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.zreads").head.getLong(0) == 590)
  }

  test("a pretty-printed manifest of an older table still reads and commits") {
    spark.sql(s"CREATE TABLE $cat.db.pretty (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.pretty VALUES (1, 'a'), (2, 'b')")
    val manifest = java.nio.file.Paths.get(s"$warehouse/db/pretty/manifests/v2.json")
    val compact = new String(java.nio.file.Files.readAllBytes(manifest), "UTF-8")
    assert(!compact.contains("\n"), "manifests are written as compact JSON")
    // the rendering tables written before the compact form carry
    val pretty = org.json4s.jackson.JsonMethods.pretty(org.json4s.jackson.JsonMethods.parse(compact))
    assert(pretty.contains("\n  \"files\" : ["))
    java.nio.file.Files.write(manifest, pretty.getBytes("UTF-8"))
    assert(GraftManifestIO.fromJson(pretty) == GraftManifestIO.fromJson(compact))
    assert(spark.sql(s"SELECT * FROM $cat.db.pretty ORDER BY k").collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b")))
    spark.sql(s"INSERT INTO $cat.db.pretty VALUES (3, 'c')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pretty").head.getLong(0) == 3)
    assert(manifestIO("pretty").readSnapshot(3L).files.map(_.rows).sum == 3)
  }

  test("metadata-only aggregates answer from the manifest, fall back when unsafe") {
    spark.sql(s"CREATE TABLE $cat.db.agg (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.db.agg SELECT id, concat('s', id) FROM range(0, 500)")
    spark.sql(s"INSERT INTO $cat.db.agg VALUES (NULL, 'nullk')")
    val q = spark.sql(s"SELECT count(*) AS n, count(k) AS nk, min(k) AS mn, max(k) AS mx FROM $cat.db.agg")
    assert(q.collect().toSeq == Seq(Row(501L, 500L, 0L, 499L)))
    val plan = physicalPlan(q).toString
    assert(plan.contains("GraftLocalAggScan") || plan.contains("LocalTableScan"),
      s"expected metadata-only scan, got:\n$plan")
    assert(!plan.contains("GraftScan["), "no data file may be read")

    // a filter refuses the fast path but stays correct
    val qf = spark.sql(s"SELECT count(*) FROM $cat.db.agg WHERE k >= 250")
    assert(qf.head.getLong(0) == 250)
    assert(physicalPlan(qf).toString.contains("GraftScan["))

    // position deletes refuse the fast path (stats no longer exact)
    spark.sql(s"""CREATE TABLE $cat.db.aggmor (k BIGINT)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    spark.sql(s"INSERT INTO $cat.db.aggmor SELECT id FROM range(0, 100)")
    spark.sql(s"DELETE FROM $cat.db.aggmor WHERE k < 10")
    val qm = spark.sql(s"SELECT count(*) AS n, min(k) AS mn FROM $cat.db.aggmor")
    assert(qm.collect().toSeq == Seq(Row(90L, 10L)))
    assert(physicalPlan(qm).toString.contains("GraftScan["),
      "deletes must force a real scan")
  }

  test("manifest statistics drive automatic broadcast of small tables") {
    spark.sql(s"CREATE TABLE $cat.db.smalldim (k BIGINT, name STRING)")
    spark.sql(s"INSERT INTO $cat.db.smalldim SELECT id, concat('n', id) FROM range(0, 50)")
    val big = spark.range(0, 100000).selectExpr("id % 50 AS k", "id AS v")
    val j = big.join(spark.table(s"$cat.db.smalldim"), "k")
    assert(physicalPlan(j).toString.contains("BroadcastHashJoin"),
      s"50-row graft table should broadcast:\n${physicalPlan(j)}")
    assert(j.count() == 100000)
  }

  test("storage-partitioned join: co-partitioned tables join without a shuffle") {
    for (t <- Seq("spj_a", "spj_b")) {
      spark.sql(s"CREATE TABLE $cat.db.$t (seg STRING, v BIGINT) PARTITIONED BY (seg)")
      spark.sql(s"""INSERT INTO $cat.db.$t
        SELECT CASE id % 4 WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c' ELSE 'd' END, id
        FROM range(0, ${if (t == "spj_a") 400 else 800})""")
    }
    withBucketing {
      val j = spark.sql(s"""
        SELECT a.seg, count(*) AS n FROM $cat.db.spj_a a JOIN $cat.db.spj_b b ON a.seg = b.seg
        GROUP BY a.seg ORDER BY a.seg""")
      val rows = j.collect()
      assert(rows.map(_.getLong(1)).toSeq == Seq.fill(4)(20000L))
      val plan = physicalPlan(j).toString
      val joinSection = plan.split("HashAggregate").last // below the agg
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"co-partitioned join must not shuffle the join inputs:\n$plan")
    }
  }

  private def withBucketing[A](body: => A): A = {
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("streaming source: readStream.table delivers append batches exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    spark.sql(s"CREATE TABLE $cat.db.src (v BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.src VALUES (1), (2)") // pre-stream data
    val q = spark.readStream.table(s"$cat.db.src")
      .writeStream.format("memory").queryName("graft_src_sink")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT sum(v) FROM graft_src_sink").head.getLong(0) == 3,
        "existing rows stream as the first batch")
      spark.sql(s"INSERT INTO $cat.db.src VALUES (10), (20)")
      q.processAllAvailable()
      assert(spark.sql("SELECT sum(v) FROM graft_src_sink").head.getLong(0) == 33)
      spark.sql(s"INSERT INTO $cat.db.src VALUES (100)")
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM graft_src_sink").head.getLong(0) == 5)
      // a row-level rewrite poisons the stream without ignoreChanges
      spark.sql(s"UPDATE $cat.db.src SET v = 0 WHERE v = 1")
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("non-append") ||
        Option(err.getCause).exists(_.getMessage.contains("non-append")))
    } finally q.stop()

    // ignoreChanges streams the rewrite's added files (at-least-once)
    val q2 = spark.readStream.option("ignoreChanges", "true").table(s"$cat.db.src")
      .writeStream.format("memory").queryName("graft_src_sink2")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q2.processAllAvailable()
      // full current state as first batch: {0, 2, 10, 20, 100}
      assert(spark.sql("SELECT sum(v) FROM graft_src_sink2").head.getLong(0) == 132)
    } finally q2.stop()
  }

  test("CALL procedures: compact, zorder, expire_snapshots, remove_orphans") {
    spark.sql(s"CREATE TABLE $cat.db.proc (k BIGINT, v BIGINT)")
    spark.range(0, 1000).selectExpr("id AS k", "id * 7 AS v")
      .repartition(6).writeTo(s"$cat.db.proc").append()
    val r = spark.sql(s"CALL $cat.system.compact('db.proc')").collect()
    assert(r.toSeq == Seq(Row(6, 1)))
    val z = spark.sql(s"CALL $cat.system.zorder('db.proc', 'k', 'v', 8, 4)").collect()
    assert(z.toSeq == Seq(Row(1, 4)))
    val e = spark.sql(s"CALL $cat.system.expire_snapshots('db.proc', 1)").head.getInt(0)
    assert(e >= 3) // create + insert + compact at least
    assert(spark.sql(s"CALL $cat.system.remove_orphans('db.proc')").head.getInt(0) == 0)
    assert(spark.sql(s"SELECT count(DISTINCT k) FROM $cat.db.proc").head.getLong(0) == 1000)
  }

  test("CALL index_compact / index_vacuum maintain both serving-index kinds through one surface") {
    import spark.implicits._
    val docs = Tables(spark, sfDir).documents.select("doc_id", "text")
    val lexDir = java.nio.file.Files.createTempDirectory("proc_lex").toString
    graft.operators.InvertedIndex.build(docs.filter($"doc_id" < 100), "doc_id", "text",
      lexDir, buckets = 4)
    graft.operators.InvertedIndex.addDelta(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 140), "doc_id", "text", lexDir)
    // 4 seed files + delta files share buckets → compaction folds them
    assert(spark.sql(s"CALL $cat.system.index_compact('$lexDir')").head.getInt(0) > 0)
    assert(spark.sql(s"CALL $cat.system.index_vacuum('$lexDir', 1, 0)").head.getInt(0) > 0)
    val m = graft.operators.InvertedIndex.currentManifest(spark, lexDir)
    assert(m.postings.groupBy(_._1).forall(_._2.size == 1), "lexical postings not folded")

    val emb = Tables(spark, sfDir).embeddings
    val annDir = java.nio.file.Files.createTempDirectory("proc_ann").toString
    graft.operators.AnnIndex.build(emb.filter($"vec_id" < 200), "vec_id", "embedding",
      annDir, nCells = 4)
    graft.operators.AnnIndex.addDelta(
      emb.filter($"vec_id" >= 200 && $"vec_id" < 260), "vec_id", "embedding", annDir)
    // the manifest-sniffing dispatch must route to the ANN actions
    assert(spark.sql(s"CALL $cat.system.index_compact('$annDir')").head.getInt(0) > 0)
    assert(spark.sql(s"CALL $cat.system.index_vacuum('$annDir', 1, 0)").head.getInt(0) > 0)
    val am = graft.operators.AnnIndex.currentManifest(spark, annDir)
    assert(am.vectors.groupBy(_._1).forall(_._2.size == 1), "ANN cells not folded")
  }

  test("the index procedures treat a federation root as one artifact (compact/vacuum/describe/export fan out; rollback refuses)") {
    import spark.implicits._
    import graft.operators.{InvertedIndex, ShardedIndex}
    val docs = Tables(spark, sfDir).documents.select("doc_id", "text")
    val fed = java.nio.file.Files.createTempDirectory("proc_fed").toString
    ShardedIndex.buildSharded(docs.filter($"doc_id" < 100), "doc_id", "text",
      fed, shards = 2, buckets = 4)
    ShardedIndex.addDeltaSharded(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 160), "doc_id", "text", fed)
    val queries = Seq("fast key scan", "table value")
    val before = ShardedIndex.bm25TopKTextSharded(spark, fed, queries, k = 5)
      .orderBy("q", "rank").collect().toSeq

    // compact + vacuum fan out per shard; answers pinned through both
    assert(spark.sql(s"CALL $cat.system.index_compact('$fed')").head.getInt(0) > 0)
    assert(spark.sql(s"CALL $cat.system.index_vacuum('$fed', 1, 0)").head.getInt(0) > 0)
    (0 until 2).foreach { i =>
      val m = InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(fed, i))
      assert(m.postings.groupBy(_._1).forall(_._2.size == 1), s"shard $i not folded")
    }
    assert(ShardedIndex.bm25TopKTextSharded(spark, fed, queries, k = 5)
      .orderBy("q", "rank").collect().toSeq == before,
      "federation maintenance changed answers")

    // describe aggregates the federation in one row
    val desc = spark.sql(s"CALL $cat.system.index_describe('$fed')").head
    assert(desc.getString(0) == "sharded-lexical", s"kind: ${desc.getString(0)}")
    assert(desc.getString(5) == "shards=2", s"shape: ${desc.getString(5)}")
    assert(desc.getInt(2) > 0, "summed file count missing")

    // export promotes the whole federation through the same procedure;
    // the returned value is the max exported per-shard head version
    // (the freshness watermark — round 13 returned a meaningless 1L)
    val dest = java.nio.file.Files.createTempDirectory("proc_fed_dest").toString
    new java.io.File(dest).delete()
    // a half-exported earlier attempt (one committed shard dir, no
    // marker) must not dead-end the retry on exclusive-create claims
    InvertedIndex.exportIndex(spark, ShardedIndex.shardDir(fed, 0),
      ShardedIndex.shardDir(dest, 0))
    val maxHead = (0 until 2).map(i =>
      InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(fed, i)).version).max
    assert(spark.sql(s"CALL $cat.system.index_export('$fed', '$dest')").head.getLong(0)
      == maxHead, "export must return the federation's max exported head version")
    assert(ShardedIndex.bm25TopKTextSharded(spark, dest, queries, k = 5)
      .orderBy("q", "rank").collect().toSeq == before,
      "procedure-exported federation diverged")

    // reshard through the procedure surface: new layout, same answers
    val rs = java.nio.file.Files.createTempDirectory("proc_fed_rs").toString
    new java.io.File(rs).delete()
    val rr = spark.sql(s"CALL $cat.system.index_reshard('$fed', '$rs', 3)").head
    assert(rr.getInt(0) == 2 && rr.getInt(1) == 3, s"expected (2, 3), got $rr")
    assert(ShardedIndex.bm25TopKTextSharded(spark, rs, queries, k = 5)
      .orderBy("q", "rank").collect().toSeq == before,
      "procedure-resharded federation diverged")
    val eNotFed = intercept[Exception] {
      spark.sql(s"CALL $cat.system.index_reshard('${ShardedIndex.shardDir(fed, 0)}', '$rs', 3)")
        .collect()
    }
    assert(eNotFed.getMessage.contains("not a sharded federation"),
      s"unhelpful refusal: ${eNotFed.getMessage}")

    // in-place reshard through the procedure surface: the SAME root
    // grows 2 -> 4 along the route-stable axis, same answers
    val ri = spark.sql(s"CALL $cat.system.index_reshard_inplace('$fed', 4)").head
    assert(ri.getInt(0) == 2 && ri.getInt(1) == 4, s"expected (2, 4), got $ri")
    assert(ShardedIndex.shardCount(spark, fed) == 4)
    assert(ShardedIndex.bm25TopKTextSharded(spark, fed, queries, k = 5)
      .orderBy("q", "rank").collect().toSeq == before,
      "procedure in-place reshard diverged")

    // rollback refuses with the per-shard recipe
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.index_rollback('$fed', 1)").collect()
    }
    assert(e.getMessage.contains("shard"), s"unhelpful refusal: ${e.getMessage}")
  }

  test("CALL index_rollback undoes a bad CDC batch: content, stamps and vacuum all coherent") {
    import spark.implicits._
    val docs = Tables(spark, sfDir).documents.select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("proc_idx_rb").toString
    val probes = Seq(0L, 7L, 42L)
    def serve() = graft.operators.InvertedIndex.bm25TopK(
        docs, "doc_id", "text", dir, probes, k = 5)
      .collect().map(_.toSeq).toSeq

    graft.operators.InvertedIndex.build(docs.filter($"doc_id" < 200), "doc_id", "text", dir) // v1
    val good = serve()
    // the "bad" CDC batch: stamped, deletes some docs, garbles others
    val bad = docs.filter($"doc_id" >= 10 && $"doc_id" < 30)
    graft.operators.InvertedIndex.applyCdc(
      upserts = bad.select($"doc_id", org.apache.spark.sql.functions.lit("garbled garbage").as("text")),
      removals = bad, "doc_id", "text", dir, stamp = Some("cdc" -> 7L))          // v2
    assert(serve() != good, "the bad batch should have changed served answers")
    assert(graft.operators.InvertedIndex.committedBatchId(spark, dir, "cdc").contains(7L))

    val r = spark.sql(s"CALL $cat.system.index_rollback('$dir', 1)").head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L, s"expected (1, 3), got $r")
    assert(serve() == good, "rollback must serve the pre-CDC answers")
    // the stamp rewound WITH the content: the undone batch may re-apply
    assert(graft.operators.InvertedIndex.committedBatchId(spark, dir, "cdc").isEmpty,
      "stream stamp must rewind with the content it stamped")
    // vacuum keeps the rolled-back head serving (its files are
    // referenced by the new head manifest, not only the expired v1)
    graft.operators.InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(graft.operators.InvertedIndex.versions(spark, dir) == Seq(3L))
    assert(serve() == good, "vacuum after rollback must not sweep the restored files")
    // past the vacuum horizon the rollback target is a loud error
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.index_rollback('$dir', 2)").collect()
    }
    assert(e.getMessage.contains("expired") || e.getMessage.contains("no manifest"))

    // dense side through the same dispatch
    val emb = Tables(spark, sfDir).embeddings
    val annDir = java.nio.file.Files.createTempDirectory("proc_ann_rb").toString
    graft.operators.AnnIndex.build(emb.filter($"vec_id" >= 5 && $"vec_id" < 300),
      "vec_id", "embedding", annDir, nCells = 4)                                  // v1
    def annServe() = graft.operators.AnnIndex.topK(emb.filter($"vec_id" < 5),
        "vec_id", "embedding", annDir, k = 5, nProbe = 4)
      .collect().map(_.toSeq).toSeq
    val annGood = annServe()
    graft.operators.AnnIndex.deleteVecs(
      emb.filter($"vec_id" >= 5 && $"vec_id" < 100).select("vec_id"), "vec_id", annDir) // v2
    assert(annServe() != annGood)
    val ar = spark.sql(s"CALL $cat.system.index_rollback('$annDir', 1)").head
    assert(ar.getLong(0) == 1L && ar.getLong(1) == 3L)
    assert(annServe() == annGood, "ANN rollback must serve the pre-delete answers")
  }

  test("CALL index_export promotes the current version to a virgin destination on both index kinds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir).documents.select("doc_id", "text", "source")
    val probes = Seq(0L, 7L, 42L)
    def serve(dir: String) = graft.operators.InvertedIndex.bm25TopK(
        docs, "doc_id", "text", dir, probes, k = 5)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    def fserve(dir: String) = graft.operators.InvertedIndex.bm25TopK(
        docs, "doc_id", "text", dir, probes, k = 5,
        where = Some(col("source").isin("src0", "src1", "src2")))
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq

    // lifecycle-rich source: sidecar + delta + live tombstones at export time
    val src = java.nio.file.Files.createTempDirectory("proc_exp_src").toString
    graft.operators.InvertedIndex.build(docs.filter($"doc_id" < 300),
      "doc_id", "text", src, metaCols = Seq("source"))
    graft.operators.InvertedIndex.addDelta(
      docs.filter($"doc_id" >= 300 && $"doc_id" < 350), "doc_id", "text", src)
    graft.operators.InvertedIndex.deleteDocs(
      docs.filter($"doc_id" >= 100 && $"doc_id" < 120).select("doc_id"), "doc_id", src)
    val dest = java.nio.file.Files.createTempDirectory("proc_exp_dst").toString
    val r = spark.sql(s"CALL $cat.system.index_export('$src', '$dest')").head
    assert(r.getLong(0) == 1L, s"export must commit version 1 at the destination, got $r")
    val srcServed = serve(src); val srcFiltered = fserve(src)
    assert(serve(dest) == srcServed, "promoted index must serve identically (tombstones travel)")
    assert(fserve(dest) == srcFiltered, "filtered serving must travel (meta sidecars copied)")
    // independence: the promoted copy survives the SOURCE disappearing
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(src))
      .sorted(java.util.Comparator.reverseOrder())
    try walk.forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
    assert(serve(dest) == srcServed, "destination must not reference source paths")
    // the destination maintains independently (fresh version line)
    graft.operators.InvertedIndex.addDelta(
      docs.filter($"doc_id" >= 350 && $"doc_id" < 360), "doc_id", "text", dest)
    assert(graft.operators.InvertedIndex.versions(spark, dest) == Seq(1L, 2L))
    // a second export onto a committed destination refuses loudly
    val e = intercept[Exception] {
      graft.operators.InvertedIndex.exportIndex(spark, dest, dest)
    }
    assert(e.getMessage.contains("already holds"))

    // dense twin WITH PQ: codebooks/centroids travel inside the manifest
    val emb = Tables(spark, sfDir).embeddings
    val annSrc = java.nio.file.Files.createTempDirectory("proc_exp_asrc").toString
    graft.operators.AnnIndex.build(emb.filter($"vec_id" >= 5), "vec_id", "embedding",
      annSrc, nCells = 4, pq = Some(graft.operators.AnnIndex.PqSpec(m = 8, nCodes = 16)),
      metaCols = Seq("label"))
    graft.operators.AnnIndex.deleteVecs(
      emb.filter($"vec_id" >= 5 && $"vec_id" < 60).select("vec_id"), "vec_id", annSrc)
    def annServe(dir: String) = graft.operators.AnnIndex.pqTopK(
        emb.filter($"vec_id" < 5), "vec_id", "embedding", dir,
        k = 5, nProbe = 4, shortlist = 50)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val annDest = java.nio.file.Files.createTempDirectory("proc_exp_adst").toString
    val ar = spark.sql(s"CALL $cat.system.index_export('$annSrc', '$annDest')").head
    assert(ar.getLong(0) == 1L)
    assert(annServe(annDest) == annServe(annSrc),
      "promoted PQ index must ADC-serve identically (codebooks travel in the manifest)")
    assert(graft.operators.AnnIndex.topK(
        emb.filter($"vec_id" < 5), "vec_id", "embedding", annDest, k = 5, nProbe = 4,
        where = Some(col("label").isin(0, 1))).count() > 0,
      "filtered dense serving must travel (vector meta sidecar copied)")

    // index_describe: one-row operational summary, kind-sniffed
    val ld = spark.sql(s"CALL $cat.system.index_describe('$dest')").head
    assert(ld.getString(0) == "lexical" && ld.getLong(1) == 2L && ld.getInt(4) == 3,
      s"lexical describe (kind, v2 after the dest delta, 3 meta dirs: build + src delta + dest delta), got $ld")
    assert(ld.getString(5).contains("positions=true"))
    val ad = spark.sql(s"CALL $cat.system.index_describe('$annDest')").head
    assert(ad.getString(0) == "ann" && ad.getString(5).contains("pq=m=8"),
      s"ann describe must report the PQ shape, got $ad")
    assert(ad.getInt(3) == 1, s"the exported tombstone must be visible, got $ad")
  }

  test("WAP: staged writes are invisible to main, auditable by ref, published via OCC cherry-pick or aborted cleanly") {
    spark.sql(s"CREATE TABLE $cat.db.wap (k INT, v STRING)")             // v1
    spark.sql(s"INSERT INTO $cat.db.wap VALUES (1, 'a'), (2, 'b')")      // v2
    def mainRows() = spark.table(s"$cat.db.wap").orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq

    // stage under a ref: the main table must not move
    spark.conf.set(graft.catalog.GraftTable.WapIdConf, "nightly-1")
    try spark.sql(s"INSERT INTO $cat.db.wap VALUES (3, 'c'), (4, 'd')")
    finally spark.conf.unset(graft.catalog.GraftTable.WapIdConf)
    assert(mainRows() == Seq((1, "a"), (2, "b")), "staged write leaked into main")
    // the audit read addresses the ref and sees base + staged
    val audit = spark.sql(s"SELECT * FROM $cat.db.wap VERSION AS OF 'nightly-1'")
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(audit == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // an audit in flight is not an orphan
    assert(spark.sql(s"CALL $cat.system.remove_orphans('db.wap')").head.getInt(0) == 0,
      "remove_orphans must protect staged files")

    // a concurrent writer lands BETWEEN stage and publish — the
    // cherry-pick composes with it instead of clobbering
    spark.sql(s"INSERT INTO $cat.db.wap VALUES (9, 'z')")                // v3
    val pub = spark.sql(s"CALL $cat.system.wap_publish('db.wap', 'nightly-1')").head.getLong(0)
    assert(mainRows() == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (9, "z")),
      "publish must carry the staged rows AND the concurrent writer's")
    // publish is an ordinary commit: pre-publish history stays travelable
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.wap VERSION AS OF ${pub - 1}")
      .head.getLong(0) == 3L)
    // the ref retired at publish
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.wap VERSION AS OF 'nightly-1'").collect()
    }

    // abort path: stage, audit, reject — main never sees it, files go
    spark.conf.set(graft.catalog.GraftTable.WapIdConf, "bad-load")
    try spark.sql(s"INSERT INTO $cat.db.wap VALUES (7, 'garbage')")
    finally spark.conf.unset(graft.catalog.GraftTable.WapIdConf)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.wap VERSION AS OF 'bad-load'")
      .head.getLong(0) == 6L)
    assert(spark.sql(s"CALL $cat.system.wap_abort('db.wap', 'bad-load')").head.getInt(0) >= 1,
      "abort must delete the staged-only files")
    assert(mainRows().size == 5, "aborted rows must never reach main")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.wap VERSION AS OF 'bad-load'").collect()
    }
    assert(spark.sql(s"CALL $cat.system.remove_orphans('db.wap')").head.getInt(0) == 0,
      "abort must leave no orphans behind")

    // non-append writes under a WAP id are a loud misconfiguration
    spark.conf.set(graft.catalog.GraftTable.WapIdConf, "t1")
    try {
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $cat.db.wap VALUES (0, 'nope')")
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("append writes only")),
        s"expected the WAP append-only refusal, got: ${messages(e)}")
    } finally spark.conf.unset(graft.catalog.GraftTable.WapIdConf)
    assert(mainRows().size == 5, "the refused overwrite must not have touched main")

    // row-level writes under a WAP id refuse too — a MERGE/UPDATE must
    // never silently bypass the audit gate and land on main
    spark.conf.set(graft.catalog.GraftTable.WapIdConf, "t2")
    try {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $cat.db.wap SET v = 'n' WHERE k = 1")
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("append writes only")),
        s"expected the WAP append-only refusal on UPDATE, got: ${messages(e)}")
    } finally spark.conf.unset(graft.catalog.GraftTable.WapIdConf)
    assert(mainRows().contains((1, "a")), "the refused UPDATE must not have landed")

    // double-stage under one ref refuses (stage again under a new id)
    spark.conf.set(graft.catalog.GraftTable.WapIdConf, "dup")
    try {
      spark.sql(s"INSERT INTO $cat.db.wap VALUES (10, 'x')")
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.wap VALUES (11, 'y')")
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("already staged")))
    } finally spark.conf.unset(graft.catalog.GraftTable.WapIdConf)
    spark.sql(s"CALL $cat.system.wap_abort('db.wap', 'dup')")
  }

  test("tags: immutable named refs pin snapshots through expiry; VERSION AS OF resolves them") {
    spark.sql(s"CREATE TABLE $cat.db.tags (k INT)")                       // v1
    spark.sql(s"INSERT INTO $cat.db.tags VALUES (1)")                     // v2
    val tagged = spark.sql(s"CALL $cat.system.tag('db.tags', 'run-1')").head.getLong(0)
    assert(tagged == 2L, s"default tag target is the current version, got $tagged")
    spark.sql(s"INSERT INTO $cat.db.tags VALUES (2)")                     // v3
    spark.sql(s"INSERT INTO $cat.db.tags VALUES (3)")                     // v4
    // the tag resolves to its pinned content, not the head
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tags VERSION AS OF 'run-1'")
      .head.getLong(0) == 1L)
    // expiry keeps the tagged version alive (and its files)
    spark.sql(s"CALL $cat.system.expire_snapshots('db.tags', 1)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tags VERSION AS OF 'run-1'")
      .head.getLong(0) == 1L, "a tagged snapshot must survive expire_snapshots")
    // tags are immutable: re-pointing is drop + create
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.tag('db.tags', 'run-1', 4)").collect()
    }
    assert(e.getMessage.contains("immutable") || Option(e.getCause).exists(
      _.getMessage.contains("immutable")))
    assert(spark.sql(s"CALL $cat.system.drop_tag('db.tags', 'run-1')").head.getBoolean(0))
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.tags VERSION AS OF 'run-1'").collect()
    }
    // with the tag gone, expiry may finally release the old snapshot
    spark.sql(s"CALL $cat.system.expire_snapshots('db.tags', 1)")
    val io = manifestIO("tags")
    assert(io.versions() == Seq(4L), s"untagged old snapshots must expire, got ${io.versions()}")
    // tagging a non-live version refuses
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.tag('db.tags', 'ghost', 2)").collect()
    }
    assert(e2.getMessage.contains("not a live snapshot") || Option(e2.getCause).exists(
      _.getMessage.contains("not a live snapshot")))
    // an all-digit tag name would be unreachable (VERSION AS OF parses
    // digits as a snapshot version first) — refused at create
    val e3 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.tag('db.tags', '20260816')").collect()
    }
    assert(e3.getMessage.contains("all digits") || Option(e3.getCause).exists(
      _.getMessage.contains("all digits")))
    // a ref with characters no ref can carry is simply an unknown
    // version — the catalog contract, never a WAP-internals error
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.tags VERSION AS OF 'release/2026'").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(!messages(e4).exists(_.contains("WAP id must")),
      s"a mistyped ref must surface as an unknown table version, got: ${messages(e4)}")
  }

  test("CALL rollback restores an earlier snapshot as a new commit; history stays travelable") {
    spark.sql(s"CREATE TABLE $cat.db.rb (k INT, v STRING)")      // v1
    spark.sql(s"INSERT INTO $cat.db.rb VALUES (1, 'a')")          // v2
    spark.sql(s"INSERT INTO $cat.db.rb VALUES (2, 'b')")          // v3
    spark.sql(s"UPDATE $cat.db.rb SET v = 'X' WHERE k = 1")       // v4
    val r = spark.sql(s"CALL $cat.system.rollback('db.rb', 2)").head
    assert(r.getLong(0) == 2L && r.getLong(1) == 5L, s"expected (2, 5), got $r")
    // head now equals v2's content...
    assert(spark.sql(s"SELECT * FROM $cat.db.rb ORDER BY k").collect().toSeq ==
      Seq(Row(1, "a")))
    // ...and the rolled-over snapshots remain time-travelable (Iceberg
    // rollback_to_snapshot semantics: rollback is a commit, not an erasure)
    assert(spark.sql(s"SELECT v FROM $cat.db.rb VERSION AS OF 4 WHERE k = 1").head.getString(0) == "X")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rb VERSION AS OF 3").head.getLong(0) == 2L)
    // rolling back to a non-live version is a loud error
    intercept[Exception] { spark.sql(s"CALL $cat.system.rollback('db.rb', 99)").collect() }
    // data files of the restored snapshot survive a subsequent orphan sweep
    assert(spark.sql(s"CALL $cat.system.remove_orphans('db.rb')").head.getInt(0) == 0)
    assert(spark.sql(s"SELECT * FROM $cat.db.rb ORDER BY k").collect().toSeq ==
      Seq(Row(1, "a")))
  }

  test("catalog surface: list, rename, drop, timestamp travel") {
    spark.sql(s"CREATE TABLE $cat.db.c1 (k INT)")
    spark.sql(s"INSERT INTO $cat.db.c1 VALUES (5)")
    val tables = spark.sql(s"SHOW TABLES IN $cat.db").collect().map(_.getString(1)).toSet
    assert(tables.contains("c1"))
    spark.sql(s"ALTER TABLE $cat.db.c1 RENAME TO db.c2") // target is catalog-relative
    assert(spark.sql(s"SELECT k FROM $cat.db.c2").head.getInt(0) == 5)
    // timestamp travel: far-future timestamp resolves to the current snapshot
    assert(spark.sql(s"SELECT k FROM $cat.db.c2 TIMESTAMP AS OF '2999-01-01'").head.getInt(0) == 5)
    spark.sql(s"DROP TABLE $cat.db.c2")
    assert(!spark.sql(s"SHOW TABLES IN $cat.db").collect().map(_.getString(1)).contains("c2"))
  }
}
