package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark jobs per index lifecycle phase and per streaming micro-batch,
  * pinned exactly. Job counts are the dispatch evidence that survives
  * wall-time drift, so a change that adds a job to a build, a CDC batch,
  * a serve or a sink's batch turns this spec red. The index scenario is
  * [[ServeScenario]]; each serve is run the way the bench runs it
  * (ordered, written to the noop sink).
  */
class LifecycleJobsSpec extends SparkSpec {

  private def serve(df: DataFrame): Unit =
    df.orderBy("probe_id", "rank").write.format("noop").mode("overwrite").save()

  test("lexical index: jobs per phase (build, applyCdc, CDC serve, delta build, addDelta, delta serve)") {
    val sc = new ServeScenario(spark)
    val cdc = Files.createTempDirectory("graft_jobs_cdc").toString + "/idx"
    val delta = Files.createTempDirectory("graft_jobs_delta").toString + "/idx"
    val half = (r: Int) => sc.docs.filter(pmod(col("doc_id"), lit(2)) === r)
    val jobs = JobCounter(spark) { c =>
      Seq(
        "build" -> c.jobsOf(sc.lexBuild(cdc)),
        "applyCdc" -> c.jobsOf(sc.lexApplyCdc(cdc)),
        "cdc serve" -> c.jobsOf(serve(sc.lexServe(cdc))),
        "delta build" -> c.jobsOf(operators.InvertedIndex.build(
          half(0), "doc_id", "text", delta, withPositions = false)),
        "addDelta" -> c.jobsOf(operators.InvertedIndex.addDelta(
          half(1), "doc_id", "text", delta)),
        "delta serve" -> c.jobsOf(serve(sc.lexServe(delta))))
    }
    assert(jobs == Seq("build" -> 9, "applyCdc" -> 21, "cdc serve" -> 15,
      "delta build" -> 9, "addDelta" -> 11, "delta serve" -> 13), s"jobs per phase: $jobs")
  }

  test("dense index: jobs per phase (build, applyCdc, topK serve)") {
    val sc = new ServeScenario(spark)
    val dir = Files.createTempDirectory("graft_jobs_ann").toString + "/ann"
    val jobs = JobCounter(spark) { c =>
      Seq(
        "build" -> c.jobsOf(sc.annBuild(dir)),
        "applyCdc" -> c.jobsOf(sc.annApplyCdc(dir)),
        "topK serve" -> c.jobsOf(serve(sc.annServe(dir))))
    }
    assert(jobs == Seq("build" -> 3, "applyCdc" -> 7, "topK serve" -> 8),
      s"jobs per phase: $jobs")
  }

  /** A federation's layout operations over one kind: build at 2 shards,
    * reshard to 3 at a new root, grow the original to 4 in place. Both
    * corpora carry one metadata column, so the sidecar's routing counts.
    */
  private def federationJobs(build: String => Unit): Seq[(String, Int)] = {
    val root = Files.createTempDirectory("graft_jobs_fed")
    val (fed, dest) = (s"$root/fed", s"$root/resharded")
    JobCounter(spark) { c =>
      Seq(
        "build" -> c.jobsOf(build(fed)),
        "reshard" -> c.jobsOf(operators.ShardedIndex.reshard(spark, fed, dest, 3)),
        "reshardInPlace" -> c.jobsOf(operators.ShardedIndex.reshardInPlace(spark, fed, 4)))
    }
  }

  test("lexical federation: jobs per phase (buildSharded, reshard, reshardInPlace)") {
    val docs = new ServeScenario(spark).docs.withColumn("src", pmod(col("doc_id"), lit(3)))
    val jobs = federationJobs(operators.ShardedIndex.buildSharded(docs, "doc_id", "text", _,
      shards = 2, withPositions = false, metaCols = Seq("src")))
    assert(jobs == Seq("build" -> 26, "reshard" -> 37, "reshardInPlace" -> 46),
      s"jobs per phase: $jobs")
  }

  /** Spark jobs per micro-batch of one AvailableNow drain, in batch
    * order, grouped by the batch id Structured Streaming puts on every
    * job it runs for a batch.
    */
  private def jobsPerBatch(drain: => Long): Seq[Int] = JobCounter(spark) { c =>
    c.drain()
    drain
    c.drain().flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .groupBy(_.toLong).toSeq.sortBy(_._1).map(_._2.size)
  }

  test("streaming sinks: jobs per micro-batch (StreamMerge on a seeded MOR table, invertedBatch)") {
    import spark.implicits._
    import graft.streaming.{StreamIndex, StreamMerge}
    val root = Files.createTempDirectory("graft_jobs_stream")
    spark.conf.set("spark.sql.catalog.jobscat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.jobscat.warehouse", s"$root/wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS jobscat.db")
    // three one-file churn blobs (two updates, one insert each); batch 1
    // is the merge sink's compaction batch
    val src = s"$root/src"
    (0 until 3).foreach { b =>
      Seq((b, b + 1L, s"upd-$b"), (b + 10, b + 1L, s"upd-$b"), (1000 + b, b + 1L, s"new-$b"))
        .toDF("k", "version", "payload").coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    StreamMerge.seedTarget(spark, "jobscat.db.mor",
      spark.range(200).selectExpr("CAST(id AS INT) AS k", "CAST(0 AS BIGINT) AS version",
        "concat('seed-', id) AS payload"), Seq("k"), seedFileBytes = 1L << 10)
    val merge = jobsPerBatch(StreamMerge.runAvailableNow(spark, schema, StreamMerge.Config(
      sourceDir = src, table = "jobscat.db.mor", tableDir = s"$root/wh/db/mor",
      checkpointDir = s"$root/ckpt_mor", primaryKeys = Seq("k"), versionCols = Seq("version"),
      maxFilesPerTrigger = Some(1), compactEveryBatches = Some(2))))

    val docs = Tables(spark, sfDir).documents.select("doc_id", "text")
    val idx = s"$root/idx"
    operators.InvertedIndex.build(docs.filter(col("doc_id") < 200), "doc_id", "text", idx)
    val docSrc = s"$root/docs"
    (0 until 3).foreach(p => docs.filter(col("doc_id") >= 200 && col("doc_id") < 260 &&
      pmod(col("doc_id"), lit(3)) === p).coalesce(1).write.mode("append").parquet(docSrc))
    val index = jobsPerBatch(StreamIndex.runInvertedAvailableNow(
      spark.readStream.schema(spark.read.parquet(docSrc).schema)
        .option("maxFilesPerTrigger", 1).parquet(docSrc),
      "text", StreamIndex.Config(indexDir = idx, checkpointDir = s"$root/ckpt_idx",
        idCol = "doc_id", compactEveryBatches = Some(2))))
    val jobs = Seq("StreamMerge" -> merge, "invertedBatch" -> index)
    assert(jobs == Seq("StreamMerge" -> Seq(1, 4, 1), "invertedBatch" -> Seq(10, 38, 10)),
      s"jobs per micro-batch: $jobs")
  }

  test("dense federation: jobs per phase (buildShardedAnn, reshard, reshardInPlace)") {
    val emb = new ServeScenario(spark).emb
    val jobs = federationJobs(operators.ShardedIndex.buildShardedAnn(emb, "vec_id", "embedding", _,
      shards = 2, nCells = 4, metaCols = Seq("label")))
    assert(jobs == Seq("build" -> 13, "reshard" -> 22, "reshardInPlace" -> 22),
      s"jobs per phase: $jobs")
  }
}
