package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("FieldSelection include keeps essential fields and column order") {
    val df  = Seq((1, "a", 2.0)).toDF("k", "name", "bal")
    val out = FieldSelection(df, FieldSelection.Include(Set("name")), essential = Set("k"))
    assert(out.columns.toSeq == Seq("k", "name"))
  }

  test("FieldSelection exclude never drops essential fields") {
    val df  = Seq((1, "a", 2.0)).toDF("k", "name", "bal")
    val out = FieldSelection(df, FieldSelection.Exclude(Set("k", "bal")), essential = Set("k"))
    assert(out.columns.toSeq == Seq("k", "name"))
  }

  test("MergeKey is md5 of pipe-joined pk strings") {
    val df  = Seq((7, 3)).toDF("a", "b")
    val key = MergeKey.withMergeKey(df, Seq("a", "b")).select("arcane_merge_key").as[String].head()
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("7|3".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(key == expected)
  }

  test("Upsert keeps exactly the latest row per key with tiebreak") {
    val df = Seq(
      (1, 10L, 1, "old"), (1, 20L, 2, "new"),
      (2, 30L, 5, "tie-lo"), (2, 30L, 6, "tie-hi")
    ).toDF("k", "version", "tb", "payload")
    val out = Upsert.latestByKey(df, Seq("k"), Seq("version", "tb"))
      .orderBy("k").select("k", "payload").as[(Int, String)].collect().toSeq
    assert(out == Seq((1, "new"), (2, "tie-hi")))
  }

  test("Upsert keeps an input column named like its rank helper") {
    val df = Seq((1, 10L, 7, "old"), (1, 20L, 8, "new"), (2, 5L, 9, "only"))
      .toDF("k", "version", "__rn", "payload")
    val out = Upsert.latestByKey(df, Seq("k"), Seq("version"))
    assert(out.columns.toSeq == df.columns.toSeq, s"input column dropped: ${out.columns.toSeq}")
    assert(out.orderBy("k").select("k", "__rn", "payload").as[(Int, Int, String)].collect().toSeq
      == Seq((1, 8, "new"), (2, 9, "only")))
  }

  test("MergeInto: source wins on match, target survives otherwise, inserts appear") {
    val target = Seq((1, "t1"), (2, "t2")).toDF("k", "v")
    val source = Seq((2, "s2"), (3, "s3")).toDF("k", "v")
    val out = MergeInto.merge(target, source, Seq("k"))
      .orderBy("k").as[(Int, String)].collect().toSeq
    assert(out == Seq((1, "t1"), (2, "s2"), (3, "s3")))
  }

  test("SchemaMigration null-fills old rows and widens types to the new side") {
    val oldDf = Seq((1, 5)).toDF("k", "x") // x: int
    val newDf = Seq((2, 7L, "extra")).toDF("k", "x", "y") // x: long now
    val out   = SchemaMigration.migrate(oldDf, newDf)
    assert(out.schema("x").dataType == LongType)
    assert(out.columns.toSeq == Seq("k", "x", "y"))
    val rows = out.orderBy("k").collect()
    assert(rows(0).getAs[Any]("y") == null && rows(0).getAs[Long]("x") == 5L)
    assert(rows(1).getAs[String]("y") == "extra")
  }

  test("a SnapshotStore delta (the staged batch) respects maxRowsPerFile") {
    val dir   = java.nio.file.Files.createTempDirectory("graft_staging").toString + "/t"
    val store = new graft.sources.SnapshotStore(spark, dir)
    store.commit(spark.range(1).toDF("id"))
    val df = spark.range(100).toDF("id")
    val c  = store.commitDelta(df.coalesce(1), Seq("id"), maxRowsPerFile = Some(30))
    val files = store.manifest(c.version).deltas.last.files
    assert(files.length == 4) // 30+30+30+10
    assert(files.map(f => spark.read.parquet(s"$dir/$f").count()).sorted == Seq(10L, 30L, 30L, 30L))
    assert(store.read().get.count() == 100)
  }

  test("memory-bound shaper advises fewer rows per chunk for wider schemas") {
    import org.apache.spark.sql.types._
    val mb = Throughput.MemoryBound()
    val narrow = StructType(Seq(StructField("k", LongType), StructField("v", IntegerType)))
    val wide = StructType(Seq(
      StructField("k", LongType), StructField("text", StringType),
      StructField("payload", BinaryType), StructField("tags", ArrayType(StringType))))
    assert(Throughput.estimateRowBytes(narrow, mb) == 12L)
    assert(Throughput.estimateRowBytes(wide, mb) == 8L + 50L + 4096L + 4096L)
    val narrowRows = Throughput.memoryBoundChunkRows(narrow, mb)
    val wideRows   = Throughput.memoryBoundChunkRows(wide, mb)
    assert(narrowRows > wideRows && wideRows >= 1,
      s"advice must shrink with row width: narrow=$narrowRows wide=$wideRows")
  }

  test("AsOfJoin.backward attaches the latest prior event, null before history") {
    val probes = Seq((1, 100L), (1, 5L), (2, 100L)).toDF("k", "pt")
    val events = Seq((1, 10L, "e10"), (1, 50L, "e50"), (1, 100L, "e100"), (2, 101L, "late")).toDF("k", "et", "name")
    val out = AsOfJoin.backward(probes, events, Seq("k"), "pt", "et", Seq("name"))
      .orderBy("k", "pt").collect()
    // probe (1,5): before any event -> null; (1,100): event at exactly 100 matches (inclusive)
    assert(out(0).getAs[String]("last_name") == null)
    assert(out(1).getAs[String]("last_name") == "e100")
    assert(out(2).getAs[String]("last_name") == null, "event after probe must not match")
  }

  test("AsOfJoin.forward attaches the earliest following event; tolerance bounds the gap") {
    val probes = Seq((1, 100L), (1, 5L), (2, 200L)).toDF("k", "pt")
    val events = Seq((1, 10L, "e10"), (1, 50L, "e50"), (1, 100L, "e100"), (2, 101L, "late")).toDF("k", "et", "name")
    val fwd = AsOfJoin.forward(probes, events, Seq("k"), "pt", "et", Seq("name"))
      .orderBy("k", "pt").collect()
    // probe (1,5) -> earliest following is e10; (1,100) matches inclusively;
    // (2,200) has no following event -> null
    assert(fwd(0).getAs[String]("next_name") == "e10")
    assert(fwd(1).getAs[String]("next_name") == "e100")
    assert(fwd(2).getAs[String]("next_name") == null)

    // backward with tolerance 20: probe (1,100) matches e100 (gap 0);
    // a probe at 75 would reach e50 (gap 25 > 20) -> nulled
    val probes2 = Seq((1, 75L), (1, 100L)).toDF("k", "pt")
    val tol = AsOfJoin.backward(probes2, events, Seq("k"), "pt", "et", Seq("name"),
        tolerance = Some(org.apache.spark.sql.functions.lit(20L)))
      .orderBy("k", "pt").collect()
    assert(tol(0).getAs[String]("last_name") == null, "match beyond tolerance must be nulled")
    assert(tol(1).getAs[String]("last_name") == "e100")
  }

  test("AsOfJoin.nearest picks the closer direction, resolves ties backward, in one shuffle") {
    val events = Seq((1, 10L, "e10"), (1, 50L, "e50"), (1, 100L, "e100")).toDF("k", "et", "name")
    // 5: only forward exists; 95: e100 (gap 5) beats e50 (45); 60: e50
    // (10) beats e100 (40); 75: EQUIDISTANT -> backward e50; 200: only
    // backward exists
    val probes = Seq((1, 5L), (1, 60L), (1, 75L), (1, 95L), (1, 200L)).toDF("k", "pt")
    val out = AsOfJoin.nearest(probes, events, Seq("k"), "pt", "et", Seq("name"))
      .orderBy("k", "pt").collect()
    assert(out.map(_.getAs[String]("near_name")).toSeq ==
      Seq("e10", "e50", "e50", "e100", "e100"))

    // tolerance bounds BOTH directions: probe 75 is 25 from either -> null
    val tol = AsOfJoin.nearest(probes, events, Seq("k"), "pt", "et", Seq("name"),
        tolerance = Some(org.apache.spark.sql.functions.lit(20L)))
      .orderBy("k", "pt").collect()
    assert(tol.map(_.getAs[String]("near_name")).toSeq ==
      Seq("e10", "e50", null, "e100", null))

    // plan shape: one exchange (plus AQE reads), never a join of two
    // as-of passes
    val plan = physicalPlan(AsOfJoin.nearest(probes, events, Seq("k"), "pt", "et", Seq("name")))
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1, s"nearest must shuffle once, got ${exchanges.size}")
    val joins = plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.isEmpty, "nearest must not plan any join")
  }

  test("Maintenance.compact preserves data and reduces file count") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact_spec").toString
    spark.range(1000).toDF("id").repartition(16).write.parquet(s"$base/in")
    assert(new java.io.File(s"$base/in").listFiles().count(_.getName.endsWith(".parquet")) == 16)
    val out = Maintenance.compact(spark, s"$base/in", s"$base/out", targetFileBytes = 512L * 1024 * 1024)
    assert(out.count() == 1000)
    assert(new java.io.File(s"$base/out").listFiles().count(_.getName.endsWith(".parquet")) == 1)
  }
}
