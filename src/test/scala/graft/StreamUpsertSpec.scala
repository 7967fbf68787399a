package graft

import graft.catalog.{EqDeleteEntry, FileEntry, GraftChanges, GraftManifestIO, GraftMaintenance}
import graft.operators.MergeKey
import graft.streaming.StreamMerge
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The equality-delete side of the streaming upsert ([[StreamMerge]]
  * into a table it bootstraps): per-batch cost is one pass over the
  * churn — O(churn) writes AND zero target reads (the handler never
  * scans the table; shadowing happens at read time by sequence number,
  * each batch file being its own key set). The read side must apply
  * the deletes exactly, compaction must fold them, and the whole thing
  * must stay exactly-once.
  */
class StreamUpsertSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = Files.createTempDirectory("graft_su_wh").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gsu", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsu.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsu.db")
    "gsu"
  }

  private def io(table: String) =
    new GraftManifestIO(new Path(s"$warehouse/db/$table"), new Configuration())

  test("manifest round-trips data sequences and equality-delete entries") {
    val dir = Files.createTempDirectory("graft_su_manifest").toString
    val m = new GraftManifestIO(new Path(dir), new Configuration())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType)))
    m.commit("append") { _ =>
      GraftManifestIO.Content(schema, Map.empty,
        Seq(FileEntry("data/a.parquet", 10, 100, Map.empty, GraftManifestIO.PendingSeq)))
    }
    m.commit("stream-upsert") { base =>
      GraftManifestIO.Content(schema, Map.empty,
        base.get.files :+ FileEntry("data/b.parquet", 5, 50, Map.empty, GraftManifestIO.PendingSeq),
        Nil,
        Seq(EqDeleteEntry("deletes/eq-b.parquet", 5, Seq("k"), GraftManifestIO.PendingSeq)))
    }
    val s = m.currentSnapshot().get
    assert(s.files.map(f => f.path -> f.seq).toMap ==
      Map("data/a.parquet" -> 1L, "data/b.parquet" -> 2L), s.files)
    assert(s.eqDeletes == Seq(EqDeleteEntry("deletes/eq-b.parquet", 5, Seq("k"), 2L)))
    // shadowing: the delete applies to the OLDER file only
    assert(s.eqDeletesFor(s.files.find(_.path == "data/a.parquet").get).size == 1)
    assert(s.eqDeletesFor(s.files.find(_.path == "data/b.parquet").get).isEmpty)
  }

  test("upsert batches: zero target reads, O(churn) commits, latest-per-key visible reads") {
    val table = "ups1"
    val dir   = s"$warehouse/db/$table"
    val src   = Files.createTempDirectory("graft_su_src").toString
    val ckpt  = Files.createTempDirectory("graft_su_ckpt").toString
    // batch 0 bootstraps with 1000 keys; batches 1-2 churn 100 updates
    // + 20 inserts each
    spark.range(1000).selectExpr("CAST(id AS INT) AS k", "CAST(0 AS BIGINT) AS version",
      "concat('seed-', id) AS payload").coalesce(1).write.mode("append").parquet(src)
    for (b <- 1 to 2)
      (spark.range(100).selectExpr(s"CAST(id AS INT) AS k", s"CAST($b AS BIGINT) AS version",
        s"concat('upd-$b-', id) AS payload")
        unionByName spark.range(20).selectExpr(s"CAST(1000 + ${b - 1} * 20 + id AS INT) AS k",
        s"CAST($b AS BIGINT) AS version", s"concat('new-$b-', id) AS payload"))
        .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    val batches = StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.$table", tableDir = dir, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"), maxFilesPerTrigger = Some(1)))
    assert(batches == 3L)

    // commits: every batch added data + eq entries and REMOVED nothing
    val m = io(table)
    val versions = (1L to m.currentVersion().get).map(m.readSnapshot)
    assert(versions.forall(_.operation == "stream-upsert"))
    versions.sliding(2).foreach { case Seq(p, c) =>
      assert(p.files.map(_.path).toSet.subsetOf(c.files.map(_.path).toSet),
        s"v${c.version} rewrote files — upsert must be append-only")
    case _ => () }
    assert(versions.last.eqDeletes.size == 3, "one eq-delete entry per non-empty write task")
    assert(versions.last.eqDeletes.map(_.path) == versions.last.files.map(_.path),
      "each data file is the equality-delete entry of its own batch")

    // read through the catalog: latest version per key, inserts present
    val out = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
    assert(out.count() == 1040)
    assert(out.where("version = 2").count() == 120)
    assert(out.where("version = 1").count() == 20)  // batch-1 inserts not re-upserted
    assert(out.where("version = 0").count() == 900)
    assert(out.where("k = 5").head.getString(2) == "upd-2-5")
    assert(out.where("k = 1005").head.getString(2) == "new-1-5")
    // count(*) must NOT be answered from manifest stats (eq-deleted
    // rows are invisible): 1000 + 120 + 120 physical, 1040 logical
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.$table").head.getLong(0) == 1040)
  }

  test("replayed upsert batch is skipped atomically") {
    val table = "ups_replay"
    val dir = s"$warehouse/db/$table"
    val batch = MergeKey.withMergeKey(
      Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "version", "payload"), Seq("k"))
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(batch, 3L).isDefined)
    val v = io(table).currentVersion().get
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(batch, 3L).isEmpty)
    assert(io(table).currentVersion().get == v)
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(batch, 4L).isDefined)
    // duplicate-key batch: within-batch dedup keeps the latest version
    val dup = MergeKey.withMergeKey(
      Seq((9, 5L, "old"), (9, 6L, "new")).toDF("k", "version", "payload"), Seq("k"))
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(dup, 5L).isDefined)
    val out = spark.sql(s"SELECT payload FROM $cat.db.$table WHERE k = 9").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("new"))
  }

  test("compaction folds equality deletes; content and change feed stay exact") {
    val table = "ups_compact"
    val dir   = s"$warehouse/db/$table"
    val seed = MergeKey.withMergeKey(
      (0 until 500).map(k => (k, 0L, s"s$k")).toDF("k", "version", "payload"), Seq("k"))
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(seed, 0L).isDefined)
    val upd = MergeKey.withMergeKey(
      (0 until 50).map(k => (k, 1L, s"u$k")).toDF("k", "version", "payload"), Seq("k"))
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(upd, 1L).isDefined)

    // change feed across the upsert: 50 inserts + 50 shadow-deletes
    val changes = GraftChanges.between(spark, dir, 1L, 2L)
    val byType = changes.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 50L, "delete" -> 50L), s"got $byType")

    val before = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
      .collect().map(_.toSeq).sortBy(_.toString)
    val (nBefore, nAfter) = GraftMaintenance.compact(spark, dir, smallBytes = 1L << 30)
    assert(nAfter < nBefore)
    val snap = io(table).currentSnapshot().get
    assert(snap.eqDeletes.isEmpty, s"compaction must fold eq deletes: ${snap.eqDeletes}")
    // count(*) is metadata-answerable again once no deletes remain
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.$table").head.getLong(0) == 500)
    val after = spark.sql(s"SELECT k, version, payload FROM $cat.db.$table")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(before.toSeq == after.toSeq, "compaction changed visible content")
    assert(spark.sql(s"SELECT payload FROM $cat.db.$table WHERE k = 3").head.getString(0) == "u3")
  }

  test("row-level SQL (COW) composes with equality deletes and folds them for rewritten files") {
    val table = "ups_cow"
    val dir   = s"$warehouse/db/$table"
    val seed = MergeKey.withMergeKey(
      (0 until 100).map(k => (k, 0L, s"s$k")).toDF("k", "version", "payload"), Seq("k"))
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(seed, 0L).isDefined)
    val upd = MergeKey.withMergeKey(
      (0 until 10).map(k => (k, 1L, s"u$k")).toDF("k", "version", "payload"), Seq("k"))
    assert(StreamMerge.idempotentMerge(dir, MergeKey.ColumnName, Seq("version"))(upd, 1L).isDefined)
    // COW UPDATE reads THROUGH the eq deletes (the rewrite must not
    // resurrect shadowed seed rows) and rewrites matched files
    spark.sql(s"UPDATE $cat.db.$table SET payload = 'X' WHERE k < 5")
    val out = spark.sql(s"SELECT k, payload FROM $cat.db.$table")
    assert(out.count() == 100)
    assert(out.where("k < 5").collect().map(_.getString(1)).forall(_ == "X"))
    assert(out.where("k = 7").head.getString(1) == "u7", "non-updated upsert row intact")
    assert(out.where("k = 50").head.getString(1) == "s50")
  }
}
