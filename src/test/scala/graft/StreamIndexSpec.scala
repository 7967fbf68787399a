package graft

import graft.operators.{AnnIndex, InvertedIndex}
import graft.streaming.StreamIndex
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Streaming index maintenance: micro-batches fold into the persisted
  * serving indexes exactly once. The hazards are silent — a replayed
  * batch that double-counts inflates df/n/avgdl (wrong BM25 scores) or
  * duplicates neighbors (wrong top-k), never an error — so every test
  * pins answers, not just versions.
  */
class StreamIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables(spark, sfDir).documents.select("doc_id", "text")
  private def emb  = Tables(spark, sfDir).embeddings

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq

  private def topKSet(df: org.apache.spark.sql.DataFrame) =
    df.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet

  /** Write `parts` one-file parquet blobs so maxFilesPerTrigger=1 gives
    * one micro-batch per blob.
    */
  private def blobs(df: org.apache.spark.sql.DataFrame, dir: String, parts: Int,
      partCol: String): Unit =
    (0 until parts).foreach { p =>
      df.filter(pmod(col(partCol), lit(parts)) === p)
        .coalesce(1).write.mode("append").parquet(dir)
    }

  private def fileSource(dir: String) = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
  }

  test("streamed deltas grow the inverted index to answer exactly like a one-shot build") {
    val seed  = docs.filter($"doc_id" < 300)
    val delta = docs.filter($"doc_id" >= 300 && $"doc_id" < 420)
    val probes = Seq(0L, 7L, 42L)

    val dir = Files.createTempDirectory("sidx_inv").toString
    InvertedIndex.build(seed, "doc_id", "text", dir)
    val src  = Files.createTempDirectory("sidx_inv_src").toString
    val ckpt = Files.createTempDirectory("sidx_inv_ckpt").toString
    blobs(delta, src, 3, "doc_id")

    val cfg = StreamIndex.Config(indexDir = dir, checkpointDir = ckpt, idCol = "doc_id")
    val batches = StreamIndex.runInvertedAvailableNow(fileSource(src), "text", cfg)
    assert(batches == 3, s"expected 3 micro-batches, got $batches")

    // every batch stamped; the index's committed state IS the progress
    assert(InvertedIndex.committedBatchId(spark, dir, cfg.ns).contains(2L))

    val scratchDir = Files.createTempDirectory("sidx_inv_scratch").toString
    InvertedIndex.build(docs.filter($"doc_id" < 420), "doc_id", "text", scratchDir)
    val grown   = InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, probes, k = 5)
    val scratch = InvertedIndex.bm25TopK(docs, "doc_id", "text", scratchDir, probes, k = 5)
    assert(rows(grown) == rows(scratch),
      "stream-grown index diverged from a one-shot build over the same corpus")
  }

  test("a replayed micro-batch is refused by the committed stamp — scores cannot inflate") {
    val dir = Files.createTempDirectory("sidx_replay").toString
    InvertedIndex.build(docs.filter($"doc_id" < 100), "doc_id", "text", dir)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 150)
    val cfg = StreamIndex.Config(indexDir = dir,
      checkpointDir = Files.createTempDirectory("sidx_replay_ckpt").toString,
      idCol = "doc_id", compactEveryBatches = None)

    assert(StreamIndex.invertedBatch(cfg, "text")(batch, 0L), "first delivery must apply")
    val v = InvertedIndex.versions(spark, dir)
    val before = rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(3L, 9L), k = 5))

    // crash between index commit and checkpoint advance → foreachBatch
    // re-delivers the SAME batch id; double-applying would double df/n
    assert(!StreamIndex.invertedBatch(cfg, "text")(batch, 0L), "replay must be skipped")
    assert(InvertedIndex.versions(spark, dir) == v, "replay must not commit a version")
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(3L, 9L), k = 5)) == before,
      "replay changed BM25 answers")
  }

  test("a lost checkpoint redelivers everything; the stamp alone keeps the index exact") {
    val seed  = docs.filter($"doc_id" < 200)
    val delta = docs.filter($"doc_id" >= 200 && $"doc_id" < 280)
    val dir = Files.createTempDirectory("sidx_lost").toString
    InvertedIndex.build(seed, "doc_id", "text", dir)
    val src = Files.createTempDirectory("sidx_lost_src").toString
    blobs(delta, src, 2, "doc_id")

    val cfg = StreamIndex.Config(indexDir = dir,
      checkpointDir = Files.createTempDirectory("sidx_lost_ckpt1").toString, idCol = "doc_id")
    StreamIndex.runInvertedAvailableNow(fileSource(src), "text", cfg)
    val v = InvertedIndex.versions(spark, dir)
    val before = rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(1L, 5L), k = 5))

    // fresh checkpoint, same namespace: at-least-once redelivery of
    // every blob under the SAME monotonic batch ids — all stamped, all
    // skipped (the worst-case crash-recovery posture)
    val cfg2 = cfg.copy(checkpointDir = Files.createTempDirectory("sidx_lost_ckpt2").toString)
    StreamIndex.runInvertedAvailableNow(fileSource(src), "text", cfg2)
    assert(InvertedIndex.versions(spark, dir) == v,
      "redelivered batches committed new versions")
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(1L, 5L), k = 5)) == before,
      "redelivery changed BM25 answers")
  }

  test("two streams with distinct namespaces grow one index without confusing progress") {
    val dir = Files.createTempDirectory("sidx_two").toString
    InvertedIndex.build(docs.filter($"doc_id" < 200), "doc_id", "text", dir)
    val srcA = Files.createTempDirectory("sidx_two_a").toString
    val srcB = Files.createTempDirectory("sidx_two_b").toString
    blobs(docs.filter($"doc_id" >= 200 && $"doc_id" < 260), srcA, 2, "doc_id")
    blobs(docs.filter($"doc_id" >= 260 && $"doc_id" < 320), srcB, 2, "doc_id")

    val cfgA = StreamIndex.Config(indexDir = dir, ns = "graft.stream.a", idCol = "doc_id",
      checkpointDir = Files.createTempDirectory("sidx_two_ca").toString)
    val cfgB = StreamIndex.Config(indexDir = dir, ns = "graft.stream.b", idCol = "doc_id",
      checkpointDir = Files.createTempDirectory("sidx_two_cb").toString)
    StreamIndex.runInvertedAvailableNow(fileSource(srcA), "text", cfgA)
    StreamIndex.runInvertedAvailableNow(fileSource(srcB), "text", cfgB)

    // stream B's batch 0 must NOT read as a replay of stream A's batch 1
    val m = InvertedIndex.currentManifest(spark, dir)
    assert(m.streams == Map("graft.stream.a" -> 1L, "graft.stream.b" -> 1L),
      s"stamp namespaces collided: ${m.streams}")
    val scratchDir = Files.createTempDirectory("sidx_two_scratch").toString
    InvertedIndex.build(docs.filter($"doc_id" < 320), "doc_id", "text", scratchDir)
    assert(
      rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 8L), k = 5)) ==
      rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", scratchDir, Seq(0L, 8L), k = 5)),
      "two-stream-grown index diverged from a one-shot build")
  }

  test("cadenced compaction bounds the per-delta file accumulation; stamps survive it") {
    val dir = Files.createTempDirectory("sidx_maint").toString
    InvertedIndex.build(docs.filter($"doc_id" < 200), "doc_id", "text", dir, buckets = 4)
    val src = Files.createTempDirectory("sidx_maint_src").toString
    blobs(docs.filter($"doc_id" >= 200 && $"doc_id" < 360), src, 4, "doc_id")

    val cfg = StreamIndex.Config(indexDir = dir,
      checkpointDir = Files.createTempDirectory("sidx_maint_ckpt").toString,
      idCol = "doc_id", compactEveryBatches = Some(2),
      vacuumEveryBatches = Some(2), keepVersions = 1, vacuumGraceMs = 0L)
    StreamIndex.runInvertedAvailableNow(fileSource(src), "text", cfg)

    val m = InvertedIndex.currentManifest(spark, dir)
    // compaction ran at batch 3: one file per bucket again
    assert(m.postings.groupBy(_._1).forall(_._2.size == 1),
      s"postings not folded: ${m.postings.groupBy(_._1).view.mapValues(_.size).toMap}")
    // the stamp must ride through compaction — dropping it would make
    // the NEXT replayed batch double-count
    assert(m.streams.get(cfg.ns).contains(3L), s"stamp lost across compaction: ${m.streams}")
    // vacuum (grace 0, keep 1) swept the superseded per-delta files
    val live = m.postings.map(_._2).toSet
    val f = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$dir/postings"), true)
    var onDisk = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) onDisk += 1 }
    assert(onDisk == live.size, s"vacuum left ${onDisk - live.size} unreferenced postings files")
  }

  test("one CDC batch (insert+update+delete) lands atomically and answers like a rebuild") {
    val spark0 = spark
    import spark0.implicits._
    val seed = docs.filter($"doc_id" < 300)
    val dir = Files.createTempDirectory("sidx_cdc").toString
    InvertedIndex.build(seed, "doc_id", "text", dir)

    // update 5 (new text borrowed from doc 460), delete 10, insert 450
    val newText5 = docs.filter($"doc_id" === 460).select("text").as[String].head()
    val text450  = docs.filter($"doc_id" === 450).select("text").as[String].head()
    val batch = Seq((5L, newText5, "U"), (10L, null.asInstanceOf[String], "D"),
      (450L, text450, "I")).toDF("doc_id", "text", "op")
    // the resolver reads the system of record (here: the seed corpus)
    val resolver = (ids: org.apache.spark.sql.DataFrame) =>
      seed.join(ids, Seq("doc_id"), "left_semi")
    val cfg = StreamIndex.Config(indexDir = dir, idCol = "doc_id",
      checkpointDir = Files.createTempDirectory("sidx_cdc_ckpt").toString,
      compactEveryBatches = None)
    assert(StreamIndex.invertedCdcBatch(cfg, "text", "op", resolver)(batch, 0L))

    val after = docs.filter($"doc_id" < 300 && !$"doc_id".isin(5L, 10L))
      .unionByName(Seq((5L, newText5), (450L, text450)).toDF("doc_id", "text"))
    val scratchDir = Files.createTempDirectory("sidx_cdc_scratch").toString
    InvertedIndex.build(after, "doc_id", "text", scratchDir)
    val probes = Seq(0L, 5L, 42L)
    assert(
      rows(InvertedIndex.bm25TopK(after, "doc_id", "text", dir, probes, k = 5)) ==
      rows(InvertedIndex.bm25TopK(after, "doc_id", "text", scratchDir, probes, k = 5)),
      "CDC-maintained index diverged from a rebuild over the post-CDC corpus")

    // the updated doc's NEW rows survived its own tombstone (coverage),
    // the deleted doc is gone, and a replay changes nothing
    val v = InvertedIndex.versions(spark, dir)
    assert(!StreamIndex.invertedCdcBatch(cfg, "text", "op", resolver)(batch, 0L))
    assert(InvertedIndex.versions(spark, dir) == v)

    // compact = physical pass; answers stable, tombstones cleared
    InvertedIndex.compact(spark, dir)
    assert(InvertedIndex.currentManifest(spark, dir).deletes.isEmpty)
    assert(
      rows(InvertedIndex.bm25TopK(after, "doc_id", "text", dir, probes, k = 5)) ==
      rows(InvertedIndex.bm25TopK(after, "doc_id", "text", scratchDir, probes, k = 5)),
      "compaction changed post-CDC answers")
  }

  test("catalog-backed CDC: system of record and serving index stay in lockstep") {
    val warehouse = Files.createTempDirectory("sidx_cat_wh").toString
    spark.conf.set("spark.sql.catalog.sidxcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sidxcat.warehouse", warehouse)
    spark.sql("CREATE TABLE sidxcat.db.docs (doc_id BIGINT, text STRING)")
    docs.filter($"doc_id" < 200).createOrReplaceTempView("sidx_cat_seed")
    spark.sql("INSERT INTO sidxcat.db.docs SELECT * FROM sidx_cat_seed")
    val dir = Files.createTempDirectory("sidx_cat").toString
    InvertedIndex.build(spark.table("sidxcat.db.docs"), "doc_id", "text", dir)

    val newText = docs.filter($"doc_id" === 300).select("text").as[String].head()
    val batch = Seq((5L, newText, "U"), (10L, null.asInstanceOf[String], "D"),
      (400L, newText, "I")).toDF("doc_id", "text", "op")
    val resolver = StreamIndex.catalogResolver(spark, "sidxcat.db.docs", "doc_id", "text")
    val cfg = StreamIndex.Config(indexDir = dir, idCol = "doc_id",
      checkpointDir = Files.createTempDirectory("sidx_cat_ckpt").toString,
      compactEveryBatches = None)
    // crash-safe order: resolve + applyCdc first (stamped), catalog MERGE second
    assert(StreamIndex.invertedCdcBatch(cfg, "text", "op", resolver)(batch, 0L))
    batch.createOrReplaceTempView("sidx_cat_cdc")
    spark.sql("""MERGE INTO sidxcat.db.docs t USING sidx_cat_cdc s ON t.doc_id = s.doc_id
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.text = s.text
      WHEN NOT MATCHED AND s.op != 'D' THEN INSERT (doc_id, text) VALUES (s.doc_id, s.text)""")

    val after = spark.table("sidxcat.db.docs")
    val scratch = Files.createTempDirectory("sidx_cat_scratch").toString
    InvertedIndex.build(after, "doc_id", "text", scratch)
    val probes = Seq(0L, 7L, 42L)
    assert(rows(InvertedIndex.bm25TopK(after, "doc_id", "text", dir, probes, k = 5)) ==
      rows(InvertedIndex.bm25TopK(after, "doc_id", "text", scratch, probes, k = 5)),
      "CDC-maintained index diverged from a rebuild over the merged table")
    // a replay of the index half (crash between index and catalog
    // commits) is refused by the committed stamp
    assert(!StreamIndex.invertedCdcBatch(cfg, "text", "op", resolver)(batch, 0L))
  }

  test("a CDC stream drains through foreachBatch: multi-batch I/U/D, exactly-once end to end") {
    val spark0 = spark
    import spark0.implicits._
    val seed = docs.filter($"doc_id" < 300)
    val dir = Files.createTempDirectory("sidx_cdc_stream").toString
    InvertedIndex.build(seed, "doc_id", "text", dir)

    // three micro-batches: an update wave, a delete wave, an insert wave
    val newText = docs.filter($"doc_id" === 460).select("text").as[String].head()
    val updates = Seq(5L, 6L).map(id => (id, newText, "U", 0L))
    val deletes = Seq(10L, 11L).map(id => (id, null.asInstanceOf[String], "D", 1L))
    val inserts = Seq(450L, 451L).map { id =>
      (id, docs.filter($"doc_id" === id).select("text").as[String].head(), "I", 2L)
    }
    val srcDir = Files.createTempDirectory("sidx_cdc_src").toString
    val cdc = (updates ++ deletes ++ inserts).toDF("doc_id", "text", "op", "wave")
    blobs(cdc, srcDir, 3, "wave")
    val source = fileSource(srcDir).drop("wave")

    val resolver = (ids: org.apache.spark.sql.DataFrame) =>
      seed.join(ids, Seq("doc_id"), "left_semi")
    val cfg = StreamIndex.Config(indexDir = dir, idCol = "doc_id",
      checkpointDir = Files.createTempDirectory("sidx_cdc_stream_ckpt").toString,
      compactEveryBatches = Some(2))
    assert(StreamIndex.runInvertedCdcAvailableNow(source, "text", "op", resolver, cfg) == 3L)

    val after = seed.filter(!$"doc_id".isin(5L, 6L, 10L, 11L))
      .unionByName(Seq((5L, newText), (6L, newText)).toDF("doc_id", "text"))
      .unionByName(inserts.map(r => (r._1, r._2)).toDF("doc_id", "text"))
    val scratch = Files.createTempDirectory("sidx_cdc_stream_scratch").toString
    InvertedIndex.build(after, "doc_id", "text", scratch)
    val probes = Seq(0L, 7L, 42L)
    assert(rows(InvertedIndex.bm25TopK(after, "doc_id", "text", dir, probes, k = 5)) ==
      rows(InvertedIndex.bm25TopK(after, "doc_id", "text", scratch, probes, k = 5)),
      "stream-drained CDC index diverged from a rebuild")
    // a full replay from a fresh checkpoint is refused batch by batch:
    // no delta/CDC content re-applies (stamps and answers unchanged).
    // Maintenance DOES re-fire on replayed cadence batches (that is the
    // restart-safety contract — a crash between index commit and
    // checkpoint advance must not skip a pass), so the version may
    // advance via content-neutral compact commits; content must not.
    val expected = rows(InvertedIndex.bm25TopK(after, "doc_id", "text", dir, probes, k = 5))
    val stamps = InvertedIndex.currentManifest(spark, dir).streams
    val cfg2 = cfg.copy(checkpointDir = Files.createTempDirectory("sidx_cdc_ckpt2").toString)
    val source2 = fileSource(srcDir).drop("wave")
    StreamIndex.runInvertedCdcAvailableNow(source2, "text", "op", resolver, cfg2)
    assert(InvertedIndex.currentManifest(spark, dir).streams == stamps,
      "replayed CDC stream advanced the exactly-once stamps")
    assert(rows(InvertedIndex.bm25TopK(after, "doc_id", "text", dir, probes, k = 5)) == expected,
      "replayed CDC stream mutated served content")
  }

  test("racing applyCdc and addDelta serialize on the manifest claim; no lost update") {
    val spark0 = spark
    import spark0.implicits._
    val seed = docs.filter($"doc_id" < 200)
    val dir = Files.createTempDirectory("sidx_race").toString
    InvertedIndex.build(seed, "doc_id", "text", dir)

    val updIds = Seq(5L, 6L, 7L, 8L, 9L)
    val updates = seed.filter($"doc_id".isin(updIds: _*))
      .select($"doc_id", concat_ws(" ", $"text", $"text").as("text"))
    val removals = seed.filter($"doc_id".isin(updIds: _*))
    val delta = docs.filter($"doc_id" >= 400 && $"doc_id" < 450)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fa = scala.concurrent.Future(
      InvertedIndex.applyCdc(updates, removals, "doc_id", "text", dir))
    val fb = scala.concurrent.Future(
      InvertedIndex.addDelta(delta, "doc_id", "text", dir))
    scala.concurrent.Await.result(fa.zip(fb), scala.concurrent.duration.Duration("300s"))
    pool.shutdown()

    // both commits landed (one of them through the OCC retry)
    assert(InvertedIndex.versions(spark, dir).last == 3L)
    val expected = seed.filter(!$"doc_id".isin(updIds: _*))
      .unionByName(updates).unionByName(delta)
    val scratch = Files.createTempDirectory("sidx_race_scratch").toString
    InvertedIndex.build(expected, "doc_id", "text", scratch)
    val probes = Seq(0L, 7L, 42L)
    assert(rows(InvertedIndex.bm25TopK(expected, "doc_id", "text", dir, probes, k = 5)) ==
      rows(InvertedIndex.bm25TopK(expected, "doc_id", "text", scratch, probes, k = 5)),
      "racing maintainers lost an update: index diverged from the rebuild")
  }

  test("re-insert after delete: coverage tombstones never shadow a later version") {
    val spark0 = spark
    import spark0.implicits._
    val seed = docs.filter($"doc_id" < 100)
    val dir = Files.createTempDirectory("sidx_reins").toString
    InvertedIndex.build(seed, "doc_id", "text", dir)
    InvertedIndex.deleteDocs(Seq(7L).toDF("doc_id"), "doc_id", dir)
    // bring doc 7 back with different text via a pure-insert CDC batch
    val newText = docs.filter($"doc_id" === 200).select("text").as[String].head()
    InvertedIndex.applyCdc(Seq((7L, newText)).toDF("doc_id", "text"),
      removals = Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val after = seed.filter($"doc_id" =!= 7L)
      .unionByName(Seq((7L, newText)).toDF("doc_id", "text"))
    val scratchDir = Files.createTempDirectory("sidx_reins_scratch").toString
    InvertedIndex.build(after, "doc_id", "text", scratchDir)
    val got = rows(InvertedIndex.bm25TopK(after, "doc_id", "text", dir, Seq(1L, 7L), k = 5))
    assert(got == rows(InvertedIndex.bm25TopK(after, "doc_id", "text", scratchDir,
      Seq(1L, 7L), k = 5)), "resurrected doc not served like a rebuild")
  }

  test("ANN CDC batch: updated vector replaces the old one atomically; replay is refused") {
    val spark0 = spark
    import spark0.implicits._
    val seed = emb.filter($"vec_id" >= 20 && $"vec_id" < 300)
    val dir = Files.createTempDirectory("sidx_anncdc").toString
    AnnIndex.build(seed, "vec_id", "embedding", dir, nCells = 8)
    val probes = emb.filter($"vec_id" < 10)

    // vec 25 takes vec 310's embedding; vec 30 is deleted; vec 310 inserts
    val v310 = emb.filter($"vec_id" === 310).select("embedding")
      .as[Seq[Float]].head()
    val batch = Seq((25L, v310, "U"), (30L, Seq.empty[Float], "D"), (310L, v310, "I"))
      .toDF("vec_id", "embedding", "op")
    val cfg = StreamIndex.Config(indexDir = dir, idCol = "vec_id",
      checkpointDir = Files.createTempDirectory("sidx_anncdc_ckpt").toString,
      compactEveryBatches = None)
    assert(StreamIndex.annCdcBatch(cfg, "embedding", "op")(batch, 0L))

    val got = AnnIndex.topK(probes, "vec_id", "embedding", dir, k = 200, nProbe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.contains(30L), "deleted vector still served")
    assert(got.contains(310L) || got.contains(25L),
      "no trace of the batch's new vectors in a full sweep")
    // 25 and 310 now share a vector: both or neither appear per probe
    // cell; stronger — 25's OLD vector must be gone: delete 25 again
    // and its new version with it, then re-query
    val v = AnnIndex.versions(spark, dir)
    assert(!StreamIndex.annCdcBatch(cfg, "embedding", "op")(batch, 0L), "replay applied")
    assert(AnnIndex.versions(spark, dir) == v)
    AnnIndex.compact(spark, dir)
    val m = AnnIndex.currentManifest(spark, dir)
    assert(m.deletes.isEmpty)
    val live = spark.read.parquet(m.vectors.map(p => s"$dir/${p._2}"): _*)
    assert(live.filter($"neighbor_id" === 30L).count() == 0, "deleted vector survived compact")
    assert(live.filter($"neighbor_id" === 25L).count() == 1, "update left duplicate vectors")
  }

  test("streamed vector deltas grow the ANN index to answer exactly like a one-shot delta fold") {
    val seed  = emb.filter($"vec_id" < 300)
    val delta = emb.filter($"vec_id" >= 300 && $"vec_id" < 420)
    val probes = emb.filter($"vec_id" >= 420 && $"vec_id" < 430)

    val dir = Files.createTempDirectory("sidx_ann").toString
    AnnIndex.build(seed, "vec_id", "embedding", dir, nCells = 8)
    val src  = Files.createTempDirectory("sidx_ann_src").toString
    blobs(delta, src, 3, "vec_id")

    val cfg = StreamIndex.Config(indexDir = dir, idCol = "vec_id",
      checkpointDir = Files.createTempDirectory("sidx_ann_ckpt").toString)
    val batches = StreamIndex.runAnnAvailableNow(fileSource(src), "embedding", cfg)
    assert(batches == 3)
    assert(AnnIndex.committedBatchId(spark, dir, cfg.ns).contains(2L))

    // one-shot comparator: same seed (same centroids), one delta fold —
    // assignment is pure per-row, so the lists must be identical
    val cmpDir = Files.createTempDirectory("sidx_ann_cmp").toString
    AnnIndex.build(seed, "vec_id", "embedding", cmpDir, nCells = 8)
    AnnIndex.addDelta(delta, "vec_id", "embedding", cmpDir)
    val a = topKSet(AnnIndex.topK(probes, "vec_id", "embedding", dir, k = 10, nProbe = 8))
    val b = topKSet(AnnIndex.topK(probes, "vec_id", "embedding", cmpDir, k = 10, nProbe = 8))
    assert(a == b, "stream-grown ANN index diverged from the one-shot fold")

    // replay of the last batch: refused, answers pinned
    val last = delta.filter(pmod($"vec_id", lit(3)) === 2)
    assert(!StreamIndex.annBatch(cfg, "embedding")(last, 2L))
    assert(topKSet(AnnIndex.topK(probes, "vec_id", "embedding", dir, k = 10, nProbe = 8)) == a,
      "ANN replay changed answers")
  }

  test("a stream grows the ANN federation exactly once per shard; CDC routes to the right shards") {
    import graft.operators.{AnnIndex => AIdx, ShardedIndex}
    val corpus = emb.filter($"vec_id" >= 5 && $"vec_id" < 300)
    val delta  = emb.filter($"vec_id" >= 300 && $"vec_id" < 420)
    val probes = emb.filter($"vec_id" < 5)
    val fed = Files.createTempDirectory("sidx_annfed").toString
    ShardedIndex.buildShardedAnn(corpus, "vec_id", "embedding", fed,
      shards = 3, nCells = 4)
    val src  = Files.createTempDirectory("sidx_annfed_src").toString
    blobs(delta.select("vec_id", "embedding"), src, 2, "vec_id")
    val cfg = StreamIndex.Config(indexDir = fed, idCol = "vec_id",
      checkpointDir = Files.createTempDirectory("sidx_annfed_ckpt").toString,
      compactEveryBatches = Some(1))
    assert(StreamIndex.runShardedAnnAvailableNow(fileSource(src), "embedding", cfg) == 2)
    // full probe is exact per shard, so the stream-grown federation
    // answers exactly like a flat one-shot index over the same corpus
    val flat = Files.createTempDirectory("sidx_annfed_flat").toString
    AIdx.build(emb.filter($"vec_id" >= 5 && $"vec_id" < 420),
      "vec_id", "embedding", flat, nCells = 4)
    def fedServe() = rows(ShardedIndex.annTopKSharded(probes, "vec_id", "embedding",
      fed, k = 5, nProbe = 4))
    assert(fedServe() == rows(AIdx.topK(probes, "vec_id", "embedding", flat,
      k = 5, nProbe = 4)), "stream-grown ANN federation diverged from a flat build")
    // full replay: every shard refuses by its stamp
    val lastBatch = delta.filter(pmod($"vec_id", lit(2)) === 1)
      .select("vec_id", "embedding")
    assert(!StreamIndex.shardedAnnBatch(cfg, "embedding")(lastBatch, 1L),
      "full ANN replay claimed to apply content")
    // CDC: re-vector one id, delete another — only their shards advance
    val newVec = emb.filter($"vec_id" === 450).select("embedding")
      .head().getSeq[Float](0)
    val cdc = Seq((10L, newVec, "U"), (20L, null.asInstanceOf[Seq[Float]], "D"))
      .toDF("vec_id", "embedding", "op")
    val vBefore = (0 until 3).map(i => AIdx.currentManifest(
      spark, ShardedIndex.shardDir(fed, i)).version)
    assert(StreamIndex.shardedAnnCdcBatch(cfg, "embedding", "op")(cdc, 2L))
    val hitShards = Seq(10L, 20L).map(id => graft.operators.DriverEval.shardOf(id, 3)).toSet
    val vAfter = (0 until 3).map(i => AIdx.currentManifest(
      spark, ShardedIndex.shardDir(fed, i)).version)
    (0 until 3).foreach { i =>
      if (hitShards(i)) assert(vAfter(i) > vBefore(i), s"shard $i should have advanced")
      else assert(vAfter(i) == vBefore(i), s"shard $i advanced without receiving CDC rows")
    }
    val flat2 = Files.createTempDirectory("sidx_annfed_flat2").toString
    AIdx.build(emb.filter($"vec_id" >= 5 && $"vec_id" < 420 && $"vec_id" =!= 20L)
        .select($"vec_id",
          when($"vec_id" === 10L, typedLit(newVec)).otherwise($"embedding").as("embedding")),
      "vec_id", "embedding", flat2, nCells = 4)
    assert(fedServe() == rows(AIdx.topK(probes, "vec_id", "embedding", flat2,
      k = 5, nProbe = 4)), "ANN federation CDC diverged from a flat rebuild")

    // the lexical federation's CDC handler on the same routing: an
    // update, a delete and an insert land on their shards only, each
    // hit shard stamped; the replay is refused shard by shard
    val lexSeed = docs.filter($"doc_id" < 300)
    val lex = Files.createTempDirectory("sidx_lexfed").toString
    ShardedIndex.buildSharded(lexSeed, "doc_id", "text", lex, shards = 3)
    val lexCfg = cfg.copy(indexDir = lex, idCol = "doc_id", compactEveryBatches = None)
    val lexCdc = Seq((10L, "fast key scan", "U"), (20L, null.asInstanceOf[String], "D"),
      (900L, "table value scan", "I")).toDF("doc_id", "text", "op")
      .select($"doc_id".cast(lexSeed.schema("doc_id").dataType), $"text", $"op")
    val oldTexts = (ids: org.apache.spark.sql.DataFrame) => lexSeed.join(ids, Seq("doc_id"), "left_semi")
    def lexVersions = (0 until 3).map(i => InvertedIndex.currentManifest(
      spark, ShardedIndex.shardDir(lex, i)).version)
    def lexStamps = (0 until 3).map(i => InvertedIndex.committedBatchId(
      spark, ShardedIndex.shardDir(lex, i), lexCfg.ns))
    val queries = Seq("fast key scan", "table value")
    def lexServe = ShardedIndex.bm25TopKTextSharded(spark, lex, queries, k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq
    val lBefore = lexVersions
    assert(StreamIndex.shardedCdcBatch(lexCfg, "text", "op", oldTexts)(lexCdc, 0L))
    val lexHit = Seq(10L, 20L, 900L).map(id => graft.operators.DriverEval.shardOf(id, 3)).toSet
    val lAfter = lexVersions
    (0 until 3).foreach { i =>
      if (lexHit(i)) assert(lAfter(i) > lBefore(i) && lexStamps(i).contains(0L),
        s"lexical shard $i should have advanced with the batch stamp")
      else assert(lAfter(i) == lBefore(i) && lexStamps(i).isEmpty,
        s"lexical shard $i advanced without receiving CDC rows")
    }
    val lexFlat = Files.createTempDirectory("sidx_lexfed_flat").toString
    InvertedIndex.build(lexSeed.filter(!$"doc_id".isin(10L, 20L))
      .unionByName(lexCdc.filter($"op" =!= "D").drop("op")), "doc_id", "text", lexFlat)
    val lexExpect = InvertedIndex.bm25TopKText(spark, lexFlat, queries, k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq
    assert(lexServe == lexExpect, "lexical federation CDC diverged from a flat rebuild")
    assert(!StreamIndex.shardedCdcBatch(lexCfg, "text", "op", oldTexts)(lexCdc, 0L),
      "lexical CDC replay claimed to apply content")
    assert(lexVersions == lAfter && lexServe == lexExpect, "lexical CDC replay changed the federation")
  }

  test("championC: cadenced compaction re-selects champions instead of orphaning approximate serves") {
    import graft.operators.ShardedIndex
    val seed  = docs.filter($"doc_id" < 200)
    val delta = docs.filter($"doc_id" >= 200 && $"doc_id" < 260)
    val full  = docs.filter($"doc_id" < 260)
    val queries = Seq("fast key scan", "table value")
    def approxFlat(d: String) = InvertedIndex.bm25TopKTextApprox(spark, d, queries, k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq

    // flat: compaction fires EVERY batch; championC re-selects each time
    val dir = Files.createTempDirectory("sidx_champ").toString
    InvertedIndex.build(seed, "doc_id", "text", dir)
    InvertedIndex.buildChampions(spark, dir, c = 4)
    val src  = Files.createTempDirectory("sidx_champ_src").toString
    blobs(delta, src, 2, "doc_id")
    val cfg = StreamIndex.Config(indexDir = dir, idCol = "doc_id",
      checkpointDir = Files.createTempDirectory("sidx_champ_ckpt").toString,
      compactEveryBatches = Some(1), championC = Some(4))
    assert(StreamIndex.runInvertedAvailableNow(fileSource(src), "text", cfg) == 2)
    val ref = Files.createTempDirectory("sidx_champ_ref").toString
    InvertedIndex.build(full, "doc_id", "text", ref)
    InvertedIndex.buildChampions(spark, ref, c = 4)
    assert(approxFlat(dir) == approxFlat(ref),
      "cadence-rebuilt champions diverged from a fresh build + selection")

    // control: the SAME stream without championC leaves the compacted
    // index refusing approximate serves — the silent downgrade the knob exists for
    val dir2 = Files.createTempDirectory("sidx_champ2").toString
    InvertedIndex.build(seed, "doc_id", "text", dir2)
    InvertedIndex.buildChampions(spark, dir2, c = 4)
    assert(StreamIndex.runInvertedAvailableNow(fileSource(src), "text",
      cfg.copy(indexDir = dir2, championC = None,
        checkpointDir = Files.createTempDirectory("sidx_champ2_ckpt").toString)) == 2)
    val e = intercept[IllegalArgumentException] { approxFlat(dir2) }
    assert(e.getMessage.contains("buildChampions"), s"unhelpful refusal: ${e.getMessage}")

    // federated: same knob re-selects GLOBALLY through compactSharded's cadence
    val fed = Files.createTempDirectory("sidx_champ_fed").toString
    ShardedIndex.buildSharded(seed, "doc_id", "text", fed, shards = 3)
    ShardedIndex.buildChampionsSharded(spark, fed, c = 4)
    assert(StreamIndex.runShardedAvailableNow(fileSource(src), "text",
      cfg.copy(indexDir = fed,
        checkpointDir = Files.createTempDirectory("sidx_champ_fed_ckpt").toString)) == 2)
    assert(ShardedIndex.bm25TopKTextApproxSharded(spark, fed, queries, k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq == approxFlat(ref),
      "federated cadence-rebuilt champions diverged from the flat approximate serve")

    // ANN handlers refuse the lexical knob loudly
    val annE = intercept[IllegalArgumentException] {
      StreamIndex.annBatch(cfg, "embedding")(emb.limit(1), 0L)
    }
    assert(annE.getMessage.contains("championC"), s"unhelpful refusal: ${annE.getMessage}")
  }

  test("a stream grows the sharded federation exactly once per shard; partial-crash replays only fill the gap") {
    import graft.operators.ShardedIndex
    val seed  = docs.filter($"doc_id" < 300)
    val delta = docs.filter($"doc_id" >= 300 && $"doc_id" < 420)
    val queries = Seq("fast key scan", "table value")

    val dir = Files.createTempDirectory("sidx_sh").toString
    ShardedIndex.buildSharded(seed, "doc_id", "text", dir, shards = 3)
    val src  = Files.createTempDirectory("sidx_sh_src").toString
    val ckpt = Files.createTempDirectory("sidx_sh_ckpt").toString
    blobs(delta, src, 2, "doc_id")

    val cfg = StreamIndex.Config(indexDir = dir, checkpointDir = ckpt, idCol = "doc_id")
    val batches = StreamIndex.runShardedAvailableNow(fileSource(src), "text", cfg)
    assert(batches == 2, s"expected 2 micro-batches, got $batches")

    // every shard that received docs carries the stamp high-water mark
    val stamps = (0 until 3).map(i => InvertedIndex.committedBatchId(
      spark, ShardedIndex.shardDir(dir, i), cfg.ns))
    assert(stamps.forall(_.contains(1L)),
      s"per-shard stamps did not advance uniformly: $stamps")

    // the grown federation answers exactly like a one-shot flat build
    val flat = Files.createTempDirectory("sidx_sh_flat").toString
    InvertedIndex.build(docs.filter($"doc_id" < 420), "doc_id", "text", flat)
    def fed = ShardedIndex.bm25TopKTextSharded(spark, dir, queries, k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq
    val expect = InvertedIndex.bm25TopKText(spark, flat, queries, k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq
    assert(fed == expect, "stream-grown federation diverged from a one-shot flat build")

    // full replay of the last batch: every shard refuses, answers pinned
    val lastBatch = delta.filter(pmod($"doc_id", lit(2)) === 1)
    assert(!StreamIndex.shardedInvertedBatch(cfg, "text")(lastBatch, 1L),
      "full replay claimed to apply content")
    assert(fed == expect, "replay changed federated answers")

    // PARTIAL-CRASH shape: a fresh batch lands on one shard (simulating
    // a crash mid-loop), then the handler replays the whole batch — the
    // pre-stamped shard refuses its slice, the others apply, and the
    // federation equals the flat index over the full corpus
    val b2 = docs.filter($"doc_id" >= 420 && $"doc_id" < 480)
    val routed = b2.withColumn("__s", pmod(xxhash64($"doc_id"), lit(3L)).cast("int"))
    val oneShardSlice = routed.filter($"__s" === 0).drop("__s")
    assert(!oneShardSlice.isEmpty, "fixture degenerated: no batch-2 docs route to shard 0")
    InvertedIndex.addDelta(oneShardSlice, "doc_id", "text",
      ShardedIndex.shardDir(dir, 0), stamp = Some(cfg.ns -> 2L))
    assert(StreamIndex.shardedInvertedBatch(cfg, "text")(b2, 2L),
      "partial replay applied nothing — the unstamped shards' slices were lost")
    val flat2 = Files.createTempDirectory("sidx_sh_flat2").toString
    InvertedIndex.build(docs.filter($"doc_id" < 480), "doc_id", "text", flat2)
    val expect2 = InvertedIndex.bm25TopKText(spark, flat2, queries, k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq
    assert(fed == expect2,
      "partial-crash replay double-counted or dropped a shard slice")

    // EMPTY batch: trivially applied (true, matching invertedBatch's
    // empty-delta reporting) WITHOUT advancing any shard — stamping all
    // S shards for a no-op would be pure commit amplification
    val vBefore = (0 until 3).map(i => InvertedIndex.currentManifest(
      spark, ShardedIndex.shardDir(dir, i)).version)
    assert(StreamIndex.shardedInvertedBatch(cfg, "text")(b2.filter(lit(false)), 3L),
      "empty first-seen batch reported as a replay")
    val vAfter = (0 until 3).map(i => InvertedIndex.currentManifest(
      spark, ShardedIndex.shardDir(dir, i)).version)
    assert(vBefore == vAfter, "an empty batch advanced shard manifests")
    assert(fed == expect2, "an empty batch changed federated answers")
  }
}
