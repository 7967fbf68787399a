package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark jobs per index lifecycle phase, pinned exactly. Job counts are
  * the dispatch evidence that survives wall-time drift, so a change
  * that adds a job to a build, a CDC batch or a serve turns this spec
  * red. The scenario is [[ServeScenario]]; each serve is run the way
  * the bench runs it (ordered, written to the noop sink).
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

  test("dense federation: jobs per phase (buildShardedAnn, reshard, reshardInPlace)") {
    val emb = new ServeScenario(spark).emb
    val jobs = federationJobs(operators.ShardedIndex.buildShardedAnn(emb, "vec_id", "embedding", _,
      shards = 2, nCells = 4, metaCols = Seq("label")))
    assert(jobs == Seq("build" -> 13, "reshard" -> 22, "reshardInPlace" -> 22),
      s"jobs per phase: $jobs")
  }
}
