package graft

import graft.catalog.GraftTable
import graft.operators._
import graft.streaming.{ChangeCapture, StreamPipeline}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Boundary behavior: empty inputs, degenerate documents, and the
  * continuous change-capture loop.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  test("Upsert/MergeInto handle empty sides") {
    val data  = Seq((1, 1L, "a")).toDF("k", "v", "p")
    val empty = data.limit(0)
    assert(Upsert.latestByKey(empty, Seq("k"), Seq("v")).count() == 0)
    assert(MergeInto.merge(data, empty, Seq("k")).count() == 1)
    assert(MergeInto.merge(empty, data, Seq("k")).count() == 1)
  }

  test("text operators tolerate empty and single-token documents") {
    val docs = Seq((1L, ""), (2L, "word"), (3L, "   "), (4L, "two tokens here")).toDF("doc_id", "text")
    // shingle sets smaller than n -> empty arrays, not errors
    val sh = docs.select(graft.plans.TextVectorExpressions.shingleHashes($"text", 3).as("s"))
      .select(size($"s")).as[Int].collect().toSeq
    assert(sh == Seq(0, 0, 0, 1))
    val fp = Dedup.withSimhash(docs, "text").select("simhash").as[Long].collect()
    assert(fp.length == 4) // no exceptions on degenerate token arrays
    val stats = TextAnalysis.tokenStats(docs, "doc_id", "text").collect()
    assert(stats.length == 4)
  }

  test("Avro and XML roundtrips survive hostile corpus text (markup, quotes, multi-byte)") {
    // corpus text is arbitrary: markup characters must come back through
    // the XML writer's escaping, and Avro must be byte-faithful
    val docs = Seq(
      (1L, "plain words only"),
      (2L, "<doc attr=\"x\">markup & entities</doc>"),
      (3L, "quotes ' \" and ]]> cdata-closer"),
      (4L, "ünïcödé tëxt & <tags> mixed")
    ).toDF("doc_id", "text")
    val avroDir = Files.createTempDirectory("graft_edge_avro").toString + "/d"
    graft.sources.Avro.write(docs, avroDir)
    val avroBack = graft.sources.Avro.read(spark, avroDir, docs.schema)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(avroBack == docs.orderBy("doc_id").as[(Long, String)].collect().toSeq)

    val xmlDir = Files.createTempDirectory("graft_edge_xml").toString + "/d"
    graft.sources.Xml.write(docs, xmlDir, rowTag = "doc")
    val xmlBack = graft.sources.Xml.read(spark, xmlDir, docs.schema, rowTag = "doc")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(xmlBack == docs.orderBy("doc_id").as[(Long, String)].collect().toSeq)
  }

  test("native text kernels handle empty, short, and multi-byte input") {
    import graft.plans.TextVectorExpressions._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, ""), (2L, "short"), (3L, "exactly eight chars here to fingerprint"),
      (4L, "ünïcödé tëxt wíth múltî-byté chäracters répéatéd ünïcödé tëxt")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        winnowingFingerprints(col("text"), 8, 4).as("fp"),
        textProfile(col("text"), Seq(Seq("tëxt", "with"))).as("c"))
      .as[(Long, Seq[Long], Seq[Long])].collect().sortBy(_._1)
    assert(out(0)._2.isEmpty, "text shorter than k has no fingerprints")
    // empty text: one empty token, one distinct token, zero code points,
    // zero char-class hits, zero set hits
    assert(out(0)._3 == Seq(1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L), "empty text splits to one empty token")
    assert(out(2)._2.nonEmpty)
    assert(out(3)._2.nonEmpty, "multi-byte text must fingerprint (UTF-8 offsets)")
    assert(out(3)._3(0) == 8 && out(3)._3(7) == 2, s"unicode token/set counts: ${out(3)._3}")
  }

  test("curation operators tolerate empty inputs and degenerate parameters") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Curation.packSequences(empty, "doc_id", "text", 100).count() == 0)
    assert(graft.operators.Curation.vocabTopK(empty, "text", 5).count() == 0)
    assert(graft.operators.Curation.contaminatedDocs(empty, empty, "doc_id", "text", 3).count() == 0)
    // a single shard degenerates to the plain backfill
    val base  = java.nio.file.Files.createTempDirectory("graft_bf1").toString
    val docs  = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c")).toDF("k", "v", "p")
    val state = new graft.operators.Backfill.BackfillStateManager(spark, s"$base/s", "one")
    graft.operators.Backfill.runSharded(spark, docs, Seq("k"), Seq("v"), 1, s"$base/stage", s"$base/t", state)
    val out = GraftTable.read(spark, s"$base/t").get.select("k", "p").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "b", 2L -> "c"))
  }

  test("round-6 operators tolerate empty, whitespace-only, and sub-span documents") {
    val docs = Seq((1L, ""), (2L, "word"), (3L, "   "), (4L, "a b c"), (5L, "a b c")).toDF("doc_id", "text")
    // span dedup: empty/whitespace docs drop out; the identical 3-token
    // docs excise each other fully; the short doc survives untouched
    val spans = Dedup.removeRepeatedSpans(docs, "doc_id", "text", spanTokens = 3, minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(spans == Seq((2L, "word", 1L)))
    // incremental path agrees on an empty history index
    val emptyIdx = Dedup.spanIndex(docs.limit(0), "doc_id", "text", 3)
    val incr = Dedup.removeRepeatedSpansIncremental(emptyIdx, docs, "doc_id", "text", 3, 2)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(incr == spans)
    // split manifest labels EVERY row, including degenerate text
    val splits = graft.operators.Curation.assignSplits(docs, "doc_id", Seq("train" -> 1.0))
      .select("split").distinct().as[String].collect().toSeq
    assert(splits == Seq("train"))
    // mixing manifest never divides by zero (whitespace text still has
    // one [empty] token under the whitespace-split convention)
    val mix = graft.operators.Curation.mixingManifest(docs, "doc_id", "text", budgetTokens = 10L)
    assert(mix.count() == 5 && mix.filter($"weight".isNull || $"weight".isNaN).count() == 0)
    // subsequences of a series shorter than L: no windows, no error
    val ts = Seq((1L, 1L, 1.0)).toDF("s", "p", "v")
    assert(graft.operators.TimeSeries.subsequences(ts, Seq("s"), Seq("p"), "v", 4).count() == 0)
  }

  test("JSONL ingestion: strict mode fails on malformed lines, permissive quarantines them") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.jsonl"),
      "{\"doc_id\": 1, \"text\": \"good line\"}\nthis is not json\n{\"doc_id\": 2, \"text\": \"also good\"}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

    val strictErr = intercept[Exception] {
      graft.sources.Jsonl.read(spark, dir, schema, strict = true).collect()
    }
    assert(strictErr.getMessage.contains("MALFORMED_RECORD") ||
      strictErr.toString.contains("FAILFAST") || strictErr.getCause != null,
      s"strict read must fail on the malformed line: $strictErr")

    val rows = graft.sources.Jsonl.read(spark, dir, schema, strict = false).collect()
    assert(rows.length == 3, s"permissive keeps all lines: ${rows.toSeq}")
    assert(rows.count(_.isNullAt(0)) == 1, "the malformed line must surface as a null row")
  }

  test("minhash LSH on an empty corpus returns no pairs") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashNearDups(docs, "doc_id", "text").count() == 0)
  }

  test("runContinuously executes multiple jittered change-capture cycles") {
    val src    = Files.createTempDirectory("graft_cont_src").toString
    val target = Files.createTempDirectory("graft_cont_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_cont_ckpt").toString
    Seq((1, 1L, "a")).toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val cfg = StreamPipeline.Config(
      sourceDir = src, targetDir = target, checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"))
    val cadence = new ChangeCapture(intervalMs = 1, jitterVariance = 0.1, jitterSeed = 1)
    val m = StreamPipeline.runContinuously(spark, schema, cfg, cadence, maxCycles = 2)
    // cycle 2 sees no new files (checkpointed) — rows written stays 1
    assert(m.rowsWritten == 1)
    assert(GraftTable.read(spark, target).get.count() == 1)
  }

  test("round-7 operators tolerate empty and degenerate inputs") {
    import graft.operators.{Curation, Dedup, Similarity, TimeSeries}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one   = Seq((1L, "just a few words here")).toDF("doc_id", "text")

    // DSIR: empty target → every bucket smooths to (0+1); scores still defined
    val wEmptyTarget = Curation.dsirWeights(one, empty, "doc_id", "text")
    assert(wEmptyTarget.count() == 1 && wEmptyTarget.filter(col("dsir_score").isNull).count() == 0)
    // DSIR: empty pool → empty result, no throw
    assert(Curation.dsirWeights(empty, one, "doc_id", "text").count() == 0)
    // dsirSelect k larger than the pool
    assert(Curation.dsirSelect(one, one, "doc_id", "text", k = 50).count() == 1)

    // soft dedup on empty input
    assert(Dedup.duplicationWeights(empty, "doc_id", "text").count() == 0)
    // span fraction: single doc has no cross-doc spans → all 0.0
    val f = Dedup.spanDupFraction(one, "doc_id", "text")
      .select("dup_fraction").as[Double].collect().toSeq
    assert(f == Seq(0.0))
    // excise with an empty span set is the identity (modulo reassembly)
    val ex = Dedup.exciseSpans(one, "doc_id", "text",
      Seq.empty[String].toDF("gram"), spanTokens = 5)
    assert(ex.select("clean_text").as[String].head() == "just a few words here")

    // hamming on a single-vector corpus
    val v = Seq((0L, (0 until 64).map(_.toFloat / 64)), (1L, (0 until 64).map(i => -i.toFloat / 64)))
      .toDF("vec_id", "embedding")
    assert(Similarity.hammingTopK(v.filter($"vec_id" === 0), v.filter($"vec_id" === 1),
      "vec_id", "embedding", k = 5).count() == 1)

    // packing: empty corpus and an all-oversize corpus
    assert(Curation.packHistogram(empty, "doc_id", "text", 100L).count() == 0)
    val big = Seq((1L, Seq.fill(300)("w").mkString(" "))).toDF("doc_id", "text")
    val packedBig = Curation.packHistogram(big, "doc_id", "text", 100L)
      .select("oversize").as[Boolean].collect().toSeq
    assert(packedBig == Seq(true))

    // sweep-line on an empty interval set
    val noIntervals = Seq.empty[(java.sql.Timestamp, java.sql.Timestamp)].toDF("st", "en")
    assert(TimeSeries.peakConcurrency(noIntervals, "st", "en").count() == 0)
  }

  test("q22_idle_customers finds a planted dormant customer (non-vacuous anti-join evidence)") {
    // round 11 found q22's only green signal was 0 == 0 (the generator
    // gives every customer a lifetime order, and the then-unbounded
    // anti-join could never match). The query is now date-bounded and
    // this fixture pins every branch: above-average + dormant (kept),
    // above-average + recent order (anti-joined away), below-average +
    // dormant (filtered by the scalar threshold), and an order ON the
    // cutoff date (boundary: counts as recent).
    val work = Files.createTempDirectory("graft_q22").toString
    val cutoff = java.sql.Timestamp.valueOf(s"${AnalyticsQueries.Idle1998Cutoff} 00:00:00")
    val old = java.sql.Timestamp.valueOf("1996-05-01 00:00:00")
    Seq(
      (1L, 900.0, 7),  // dormant, above avg -> the row
      (2L, 800.0, 8),  // above avg but ordered ON the cutoff -> excluded
      (3L, 10.0, 9)    // dormant but below avg -> excluded
    ).toDF("c_custkey", "c_acctbal", "c_nationkey")
      .write.parquet(s"$work/customer.parquet")
    Seq((1L, old), (2L, old), (2L, cutoff), (3L, old))
      .toDF("o_custkey", "o_orderdate")
      .write.parquet(s"$work/orders.parquet")
    val out = Queries.queries("q22_idle_customers")(spark, work).collect()
    assert(out.length == 1, s"expected exactly the planted dormant customer, got ${out.toSeq}")
    assert(out.head.getInt(0) == 7 && out.head.getLong(1) == 1L &&
      math.abs(out.head.getDouble(2) - 900.0) < 1e-9)
  }

  test("stream-bench pass combination: rates take the best pass, -1 failure sentinels never shadow a real sample") {
    val ok = StreamBenchSection.Result(
      mergeRowsPerSec = 10000, appendRowsPerSec = 30000, batches = 8,
      morGrowthRowsPerSec = 5000, morGrowthFlatness = 1.2, morWriteAmp = 5.2)
    val slower = ok.copy(mergeRowsPerSec = 7000, appendRowsPerSec = 20000, morGrowthFlatness = 1.5)
    val combined = StreamBenchSection.best(ok, slower)
    assert(combined.mergeRowsPerSec == 10000 && combined.appendRowsPerSec == 30000,
      "rates must take the best pass")
    assert(combined.morGrowthFlatness == 1.2,
      "flatness must take the min")
    // a failed pass records -1 everywhere: it must lose to any real pass
    // on every field, in either argument order
    val failed = StreamBenchSection.Result(-1, -1, 0)
    for (c <- Seq(StreamBenchSection.best(ok, failed), StreamBenchSection.best(failed, ok))) {
      assert(c == ok,
        s"-1 sentinel shadowed a real sample: $c")
    }
  }
}
