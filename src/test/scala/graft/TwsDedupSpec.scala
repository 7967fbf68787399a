package graft

import graft.streaming.TwsDedup
import graft.streaming.TwsDedup.Keyed
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** transformWithState operator coverage. Everything runs on RocksDB —
  * the 100 TB state backend (per-state-variable column families, state
  * spills to local disk not heap) and, for transformWithState, the
  * ONLY backend (HDFS-backed throws
  * UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES).
  *
  * ENV-GATED like S3IntegrationSpec: this container's JDK process-pipe
  * deadlock (Hadoop Shell forks for readLink/chmod hang — SURVEY §9)
  * is LOAD-DEPENDENT — `graft.tools.TwsProbe` and its TwsDedup
  * scenarios pass reliably in an isolated light JVM (run it, seconds),
  * but the same tests inside the heavily-threaded suite JVM reproduced
  * the round-4 hang (jstack: Shell.runCommand blocked in
  * ProcessImpl.waitFor under RawLocalFileSystem.readLink). Set
  * GRAFT_TWS_SPEC=1 on a healthy host to run these in-suite; the
  * isolated-JVM probe is the in-container validation vehicle.
  */
class TwsDedupSpec extends SparkSpec {
  import spark.implicits._

  private val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def gate(): Unit = {
    val enabled = sys.env.contains("GRAFT_TWS_SPEC")
    assume(enabled,
      "suite-embedded RocksDB deadlocks this container under load; " +
        "run `Test/runMain graft.tools.TwsProbe` (isolated JVM) instead, " +
        "or set GRAFT_TWS_SPEC=1 on a healthy host")
  }

  /** transformWithState needs per-state-variable column families, which
    * only RocksDB provides (HDFS-backed throws
    * UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES) — so the
    * at-scale backend is also the ONLY backend, and every test runs on it.
    */
  private def withRocksDB[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, RocksDB)
    try f finally spark.conf.unset(key)
  }

  private def runDedup(queryName: String): Map[String, String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Keyed]
    val out = TwsDedup.firstSeenOnly(spark, input.toDS())
    val q = out.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"tws_$queryName").toString)
      .start()
    input.addData(Keyed("a", "a1"), Keyed("b", "b1"), Keyed("a", "a2"))
    q.processAllAvailable()
    input.addData(Keyed("a", "a3"), Keyed("c", "c1"), Keyed("b", "b2"))
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).as[Keyed].collect().map(k => k.key -> k.payload).toMap
  }

  test("transformWithState dedup on the RocksDB state store (the at-scale backend)") {
    gate()
    val rows = withRocksDB { runDedup("tws_sink_rocks") }
    assert(rows.keySet == Set("a", "b", "c"))
    assert(rows("a") == "a1" && rows("c") == "c1", s"first-seen payloads expected: $rows")
  }

  test("TTL'd seen-registry re-admits keys after the horizon (bounded state)") { gate(); withRocksDB {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Keyed]
    // 1 ms TTL: state for batch-1 keys is expired by the time batch 2
    // runs, so the "duplicate" is re-admitted — proving eviction is
    // real, which is what bounds the registry at stream scale
    val out = TwsDedup.firstSeenOnly(spark, input.toDS(),
      org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(1)))
    val q = out.writeStream.format("memory").queryName("tws_ttl_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tws_ttl").toString)
      .start()
    input.addData(Keyed("a", "a1"))
    q.processAllAvailable()
    Thread.sleep(50) // let the TTL horizon pass
    input.addData(Keyed("a", "a2"))
    q.processAllAvailable()
    q.stop()
    val payloads = spark.table("tws_ttl_sink").as[Keyed].collect().map(_.payload).toSet
    assert(payloads == Set("a1", "a2"), s"expired key must re-admit: $payloads")
  } }

  test("event-time timer sessionization closes sessions when the watermark passes the gap") { gate(); withRocksDB {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.TwsSessionize
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = TwsSessionize.sessions(spark,
      input.toDF().toDF("ts", "user").withWatermark("ts", "10 minutes")
        .as[(java.sql.Timestamp, String)],
      gapMs = 5 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("tws_sess_spec")
      .outputMode("append").trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tws_sess").toString)
      .start()
    input.addData((t(0), "u1"), (t(2), "u1"), (t(1), "u2"))
    q.processAllAvailable()
    input.addData((t(40), "u3")) // watermark jumps past u1/u2's gap
    q.processAllAvailable()
    input.addData((t(59), "zz")) // and past u3's
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("tws_sess_spec").as[TwsSessionize.Session]
      .collect().map(s => s.user -> ((s.events, s.startMs, s.endMs))).toMap
    assert(sess("u1") == ((2L, t(0).getTime, t(2).getTime)), s"u1 session: $sess")
    assert(sess("u2")._1 == 1L && sess.get("u3").exists(_._1 == 1L), s"sessions: $sess")
  } }

  test("checkpoint restart resumes the seen-registry (exactly-once dedup across restarts)") { gate(); withRocksDB {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // file sink: the memory sink refuses checkpoint recovery by design
    val ckpt = java.nio.file.Files.createTempDirectory("tws_restart").toString
    val out  = java.nio.file.Files.createTempDirectory("tws_restart_out").toString
    val input = MemoryStream[Keyed]
    def start() = TwsDedup.firstSeenOnly(spark, input.toDS())
      .writeStream.format("parquet").option("path", out)
      .outputMode("append").trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    input.addData(Keyed("a", "a1"), Keyed("b", "b1"))
    q1.processAllAvailable(); q1.stop()
    // restart against the same checkpoint: 'a' must STILL be a duplicate
    input.addData(Keyed("a", "a2"), Keyed("c", "c1"))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val all = spark.read.parquet(out).as[Keyed].collect().map(_.payload).toSet
    assert(all == Set("a1", "b1", "c1"), s"restarted registry must still dedupe 'a': $all")
  } }
}
