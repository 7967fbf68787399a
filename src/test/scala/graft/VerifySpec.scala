package graft

import java.nio.file.{Files, Paths}

/** The Verify dump contract: a passing query writes parquet, a THROWING
  * query leaves an `_ERROR.txt` marker in its result dir — the fix for
  * round 6's silent-absence failure mode, pinned so it cannot regress.
  */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("a passing query dumps parquet; a throwing query leaves a named error marker") {
    val out = Files.createTempDirectory("graft_verify_spec").toString

    Verify.dumpOne(spark, sfDir, out, "ok_query",
      (s, _) => { import s.implicits._; Seq((1, "a")).toDF("k", "v") })
    assert(spark.read.parquet(s"$out/ok_query").count() == 1L)

    Verify.dumpOne(spark, sfDir, out, "boom_query",
      (_, _) => throw new RuntimeException("synthetic failure"))
    val marker = Paths.get(s"$out/boom_query/_ERROR.txt")
    assert(Files.exists(marker), "throwing query must leave _ERROR.txt")
    val content = Files.readString(marker)
    assert(content.contains("boom_query") && content.contains("synthetic failure"))
    // and the marker dir must NOT read as an empty-but-valid result
    intercept[Exception] { spark.read.parquet(s"$out/boom_query").collect() }
  }

  test("Bench's prior-round carry reads a named file or dir, not only the CWD, and logs a miss") {
    val dir = Files.createTempDirectory("graft_prior_bench")
    def round(n: Int, names: String*): Unit = Files.writeString(dir.resolve(s"BENCH_r$n.json"),
      names.map("\"" + _ + "\":1.0").mkString("""{"parsed":{"queries":{""", ",", "}}}"))
    round(2, "q_old")
    round(10, "q_new", "q_other") // numeric, not lexical, order picks r10
    val logged = scala.collection.mutable.Buffer.empty[String]
    assert(Bench.priorRoundNames(Some(dir.toString), logged += _) == Set("q_new", "q_other"))
    assert(Bench.priorRoundNames(Some(dir.resolve("BENCH_r2.json").toString), logged += _) == Set("q_old"))
    assert(logged.isEmpty, s"a hit logs nothing: $logged")

    val empty = Files.createTempDirectory("graft_prior_bench_empty")
    assert(Bench.priorRoundNames(Some(empty.toString), logged += _).isEmpty)
    assert(logged.size == 1 && logged.head.contains(empty.toString) &&
      logged.head.contains(Bench.PriorBenchEnv), s"a miss must be logged by name: $logged")
  }
}
