package graft

import graft.catalog.{GraftBloom, GraftManifestIO, GraftReadMetrics}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Per-file key blooms: point lookups on uniform high-cardinality keys
  * (md5 merge keys) must open only the file(s) that may contain the
  * key — min/max stats cannot prune them, so without blooms a
  * `WHERE merge_key = 'x'` on a 100 TB table reads every file.
  */
class GraftBloomSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_bloom").toString

  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gbl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbl.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbl.db")
    "gbl"
  }

  private def io(table: String) =
    new GraftManifestIO(new Path(s"$warehouse/db/$table"), new Configuration())

  test("bloom bits: no false negatives, bounded false positives, serialized roundtrip") {
    val b = new GraftBloom.Builder(1 << 16)
    val present = (0 until 1000).map(i => s"key-$i")
    present.foreach(k =>
      b.add(GraftBloom.hashPair(UTF8String.fromString(k), StringType).get))
    val bits = b.result
    // zero false negatives, by construction
    present.foreach(k =>
      assert(bits.mayContain(GraftBloom.hashPair(UTF8String.fromString(k), StringType).get)))
    // fpp at 1000 keys in 64k bits (k=7) is ~0.5%; 5% is a loose pin
    val fp = (0 until 10000).count(i =>
      bits.mayContain(GraftBloom.hashPair(UTF8String.fromString(s"absent-$i"), StringType).get))
    assert(fp < 500, s"false-positive rate too high: $fp / 10000")
    // roundtrip through the sidecar byte format
    val back = GraftBloom.deserialize(GraftBloom.serialize(Seq("c" -> bits)))("c")
    present.foreach(k =>
      assert(back.mayContain(GraftBloom.hashPair(UTF8String.fromString(k), StringType).get)))
    assert((0 until 10000).count(i =>
      back.mayContain(GraftBloom.hashPair(UTF8String.fromString(s"absent-$i"), StringType).get)) == fp)
  }

  test("sidecars written with a different hash count probe with the WRITER's k, never false-negating") {
    // simulate an older writer whose NumHashes was 3: hand-build the
    // byte format with k=3 and bits set by 3 hash probes. A reader that
    // ignored the stored k and probed with today's 7 would false-negate
    // — and a bloom false negative SKIPS a file that contains matching
    // rows. The reader must honor the stored k.
    val oldK = 3
    val nBits = 1 << 12
    val mask = nBits - 1
    val words = new Array[Long](nBits / 64)
    val present = (0 until 200).map(i => s"legacy-$i")
    present.foreach { key =>
      val (h1, h2) = GraftBloom.hashPair(UTF8String.fromString(key), StringType).get
      (0 until oldK).foreach { i =>
        val bit = (h1 + i * h2) & mask
        words(bit >> 6) |= 1L << (bit & 63)
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(0x47424631); out.writeInt(1)
    out.writeUTF("c"); out.writeInt(oldK); out.writeInt(words.length)
    words.foreach(out.writeLong); out.flush()
    val bits = GraftBloom.deserialize(bos.toByteArray)("c")
    present.foreach(k =>
      assert(bits.mayContain(GraftBloom.hashPair(UTF8String.fromString(k), StringType).get),
        s"false negative on $k: stored k=$oldK not honored"))
    // an out-of-range stored k is a corrupt sidecar — deserialize
    // refuses, and load()'s catch degrades pruning to keeping the file
    val bad = bos.toByteArray.clone()
    // k field sits after magic(4) + count(4) + UTF("c" = 2 len + 1 byte)
    java.nio.ByteBuffer.wrap(bad).putInt(11, 0)
    intercept[IllegalArgumentException](GraftBloom.deserialize(bad))
  }

  test("point lookup on a bloom-indexed md5 key opens exactly the containing file") {
    spark.sql(s"""CREATE TABLE $cat.db.pt (k BIGINT, arcane_merge_key STRING, v STRING)
      TBLPROPERTIES ('graft.bloom.columns' = 'arcane_merge_key')""")
    graft.operators.MergeKey.withMergeKey(
      spark.range(0, 8000).selectExpr("id AS k", "concat('v-', id) AS v"), Seq("k"))
      .select("k", "arcane_merge_key", "v")
      .repartition(8)
      .writeTo(s"$cat.db.pt").append()
    val snap = io("pt").currentSnapshot().get
    assert(snap.files.size == 8)
    assert(snap.files.forall(_.bloom.isDefined), "every data file must carry a bloom sidecar")

    val key = spark.sql(s"SELECT arcane_merge_key FROM $cat.db.pt WHERE k = 1234")
      .head.getString(0)
    val q = spark.sql(s"SELECT v FROM $cat.db.pt WHERE arcane_merge_key = '$key'")
    // static plan already excludes 7 of 8 files (bloom pruning happens
    // at filter pushdown, before execution)
    assert(physicalPlan(q).toString.contains("GraftScan[files=1"),
      s"bloom did not prune the plan:\n${physicalPlan(q)}")
    val f0 = GraftReadMetrics.dataFilesOpened
    assert(q.collect().map(_.getString(0)).toSeq == Seq("v-1234"))
    assert(GraftReadMetrics.dataFilesOpened - f0 == 1)

    // absent key: provably in no file — zero reads, zero rows
    val none = spark.sql(
      s"SELECT v FROM $cat.db.pt WHERE arcane_merge_key = '0123456789abcdef0123456789abcdef'")
    assert(physicalPlan(none).toString.contains("GraftScan[files=0"))
    assert(none.count() == 0)

    // IN over keys from distinct rows: at most one file per key
    val keys = spark.sql(s"SELECT arcane_merge_key FROM $cat.db.pt WHERE k IN (11, 4021, 7777)")
      .collect().map(_.getString(0))
    val inQ = spark.sql(s"SELECT k FROM $cat.db.pt WHERE arcane_merge_key IN " +
      keys.mkString("('", "', '", "')"))
    val f1 = GraftReadMetrics.dataFilesOpened
    assert(inQ.collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 4021L, 7777L))
    assert(GraftReadMetrics.dataFilesOpened - f1 <= 3)
  }

  test("compaction rewrites blooms; orphan sweep retires replaced sidecars") {
    spark.sql(s"""CREATE TABLE $cat.db.cp (k BIGINT, arcane_merge_key STRING, v STRING)
      TBLPROPERTIES ('graft.bloom.columns' = 'arcane_merge_key')""")
    // 4 small appends -> 4 files + 4 sidecars
    (0 until 4).foreach { b =>
      graft.operators.MergeKey.withMergeKey(
        spark.range(b * 100, (b + 1) * 100).selectExpr("id AS k", "concat('v-', id) AS v"),
        Seq("k"))
        .select("k", "arcane_merge_key", "v")
        .coalesce(1).writeTo(s"$cat.db.cp").append()
    }
    val before = io("cp").currentSnapshot().get
    assert(before.files.size == 4 && before.files.forall(_.bloom.isDefined))
    val oldSidecars = before.files.flatMap(_.bloom)

    graft.catalog.GraftMaintenance.compact(spark, s"$warehouse/db/cp", smallBytes = 1L << 30)
    val after = io("cp").currentSnapshot().get
    assert(after.files.size == 1 && after.files.forall(_.bloom.isDefined),
      s"compacted file lost its bloom: ${after.files}")

    // expire history, then sweep: the replaced files' sidecars go away,
    // the live one survives
    io("cp").expireSnapshots(1)
    val fs = new Path(warehouse).getFileSystem(new Configuration())
    oldSidecars.foreach(b =>
      assert(!fs.exists(new Path(s"$warehouse/db/cp/$b")), s"orphan sidecar survived: $b"))
    assert(fs.exists(new Path(s"$warehouse/db/cp/${after.files.head.bloom.get}")))

    // pruning still works against the rewritten bloom
    val key = spark.sql(s"SELECT arcane_merge_key FROM $cat.db.cp WHERE k = 42").head.getString(0)
    assert(spark.sql(s"SELECT v FROM $cat.db.cp WHERE arcane_merge_key = '$key'")
      .head.getString(0) == "v-42")
    val none = spark.sql(
      s"SELECT v FROM $cat.db.cp WHERE arcane_merge_key = 'ffffffffffffffffffffffffffffffff'")
    assert(physicalPlan(none).toString.contains("GraftScan[files=0"))
  }

  test("MERGE on a bloom-indexed MOR table: new batch files get blooms, lookups stay pruned") {
    spark.sql(s"""CREATE TABLE $cat.db.mg (k BIGINT, arcane_merge_key STRING, v STRING)
      TBLPROPERTIES ('graft.bloom.columns' = 'arcane_merge_key',
                     'graft.merge.mode' = 'merge-on-read')""")
    graft.operators.MergeKey.withMergeKey(
      spark.range(0, 1000).selectExpr("id AS k", "concat('v-', id) AS v"), Seq("k"))
      .select("k", "arcane_merge_key", "v")
      .repartition(4).writeTo(s"$cat.db.mg").append()
    graft.operators.MergeKey.withMergeKey(
      Seq((7L, "upd"), (2000L, "new")).toDF("k", "v"), Seq("k"))
      .select("k", "arcane_merge_key", "v")
      .createOrReplaceTempView("bloom_merge_src")
    spark.sql(s"""MERGE INTO $cat.db.mg t USING bloom_merge_src s
      ON t.arcane_merge_key = s.arcane_merge_key
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    val snap = io("mg").currentSnapshot().get
    assert(snap.files.forall(_.bloom.isDefined),
      s"delta-written batch file lost its bloom: ${snap.files.filter(_.bloom.isEmpty)}")
    // the updated key resolves through MOR deletes to the NEW file; the
    // lookup may open the seed file (stale bloom entry) + the batch file
    val key = Seq(7L).toDF("k").select(graft.operators.MergeKey.keyExpr(Seq($"k")))
      .head.getString(0)
    val f0 = GraftReadMetrics.dataFilesOpened
    val got = spark.sql(s"SELECT v FROM $cat.db.mg WHERE arcane_merge_key = '$key'").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("upd"))
    assert(GraftReadMetrics.dataFilesOpened - f0 <= 2,
      "lookup should touch at most the stale seed file + the batch file")
  }

  test("streamed batches get bloom sidecars through the sink, and point lookups prune them") {
    import graft.streaming.{ChangeCapture, GraftStreamSink, StreamMerge}
    val src = java.nio.file.Files.createTempDirectory("graft_bloom_stream_src").toString
    (0 until 4).foreach { b =>
      (0 until 50).map(i => (b * 50 + i, 1L, s"v-${b * 50 + i}")).toDF("k", "version", "payload")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    def lookupPrunes(table: String): Unit = {
      val snap = io(table).currentSnapshot().get
      assert(snap.files.size == 4 && snap.files.forall(_.bloom.isDefined),
        s"$table: streamed files without a bloom sidecar: ${snap.files.filter(_.bloom.isEmpty)}")
      val key = Seq(123).toDF("k").select(graft.operators.MergeKey.keyExpr(Seq($"k"))).head.getString(0)
      val q = spark.sql(s"SELECT payload FROM $cat.db.$table WHERE arcane_merge_key = '$key'")
      assert(physicalPlan(q).toString.contains("GraftScan[files=1"),
        s"$table: bloom did not prune the plan:\n${physicalPlan(q)}")
      val f0 = GraftReadMetrics.dataFilesOpened
      assert(q.collect().map(_.getString(0)).toSeq == Seq("v-123"))
      assert(GraftReadMetrics.dataFilesOpened - f0 == 1)
    }
    def create(table: String): Unit =
      spark.sql(s"""CREATE TABLE $cat.db.$table (k INT, version BIGINT, payload STRING,
        arcane_merge_key STRING) TBLPROPERTIES ('graft.bloom.columns' = 'arcane_merge_key',
        'graft.merge.mode' = 'merge-on-read')""")
    def ckpt() = java.nio.file.Files.createTempDirectory("graft_bloom_stream_ckpt").toString

    // the append sink
    create("sa")
    ChangeCapture.drain(ChangeCapture.keyed(ChangeCapture.files(spark, schema, src, Some(1)),
      graft.operators.FieldSelection.All, Set.empty, Seq("k"), Seq("version"), sourceVersion = false),
      ckpt())(GraftStreamSink.idempotentAppend(s"$warehouse/db/sa") _)
    lookupPrunes("sa")
    // the keyed upsert
    create("su")
    assert(StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = s"$cat.db.su", tableDir = s"$warehouse/db/su", checkpointDir = ckpt(),
      primaryKeys = Seq("k"), versionCols = Seq("version"), maxFilesPerTrigger = Some(1))) == 4L)
    lookupPrunes("su")
  }
}
