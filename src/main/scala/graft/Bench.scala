package graft
import graft.streaming.ChangeCapture
import org.apache.spark.sql.SparkSession

/** Streaming throughput section of the bench: sustained rows/sec over
  * N micro-batches through the two production paths —
  *  - the full change-capture pipeline (field selection → merge key →
  *    per-batch upsert → MERGE → snapshot commit), the reference's
  *    whole identity (its ThroughputShaperBuilder shapes exactly this
  *    loop); and
  *  - the catalog append sink (foreachBatch → staged parquet → OCC
  *    manifest commit), the high-volume ingest path.
  * Source prep (splitting events into per-trigger files) happens
  * OUTSIDE the timed window; the timer covers stream start → drain.
  */
object StreamBenchSection {

  final case class Result(
      mergeRowsPerSec: Double, appendRowsPerSec: Double, batches: Long,
      /** growing-target axis: churn rows/s through the catalog
        * upsert against a SEEDED target that keeps growing while
        * per-batch churn stays fixed.
        */
      morGrowthRowsPerSec: Double = -1, morGrowthFlatness: Double = -1,
      /** bytes written during the axis / churn bytes: the write-
        * amplification factor, ~O(1) for the MOR merge. Wall-clock hides
        * a target rewrite at local scale (a small target rewrites inside
        * the page cache); the byte ratio is scale-invariant and is what a
        * 100 TB deployment pays in I/O and storage churn.
        */
      morWriteAmp: Double = -1)

  /** Noise-robust combination of repeated passes — the query board's
    * min-of-passes posture applied to the streaming axes (r12's board
    * printed single-pass wall-clock rates that moved 34–46% with no
    * code cause: machine-day drift a single sample cannot defend
    * against). Rates take the best pass (max rows/s ≡ min time),
    * per-batch seconds and flatness take the min (a drift burst only
    * ever inflates them), and the byte-ratio write-amp axes are
    * scale-invariant and take the min as a tie-break.
    */
  def best(a: Result, b: Result): Result = {
    // -1 marks a failed/absent axis: max ignores it naturally; min must
    // not let it shadow a real sample
    def mn(x: Double, y: Double) =
      if (x < 0) y else if (y < 0) x else math.min(x, y)
    Result(
      mergeRowsPerSec = math.max(a.mergeRowsPerSec, b.mergeRowsPerSec),
      appendRowsPerSec = math.max(a.appendRowsPerSec, b.appendRowsPerSec),
      batches = math.max(a.batches, b.batches),
      morGrowthRowsPerSec = math.max(a.morGrowthRowsPerSec, b.morGrowthRowsPerSec),
      morGrowthFlatness = mn(a.morGrowthFlatness, b.morGrowthFlatness),
      morWriteAmp = mn(a.morWriteAmp, b.morWriteAmp))
  }

  /** Standalone entry for scale runs:
    * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.StreamBenchSection` —
    * prints the same JSON fields as the Bench tail for any SF slice.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nPasses = math.max(1, sys.env.getOrElse("SPARK_GRAFT_STREAM_RUNS", "2").toInt)
    val done = runPasses(spark, sfDir, nPasses)
    require(done.nonEmpty, "every stream-bench pass failed")
    val r = done.reduce(best)
    spark.stop()
    println(s"""{"stream_merge_rows_per_sec":${r.mergeRowsPerSec.round},"stream_append_rows_per_sec":${r.appendRowsPerSec.round},"stream_batches":${r.batches},"mor_growth_rows_per_sec":${r.morGrowthRowsPerSec.round},"mor_growth_flatness":${math.round(r.morGrowthFlatness * 100) / 100.0},"mor_write_amp":${math.round(r.morWriteAmp * 100) / 100.0},"sf":"$sfDir"}""")
  }

  private val passCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run up to `n` full passes, isolating NON-FATAL per-pass failures
    * (one flaky pass must not discard a completed pass's minutes of
    * work; JVM-fatal errors still propagate — a heap-dead JVM must not
    * keep benching). Returns the survivors; callers decide the
    * all-failed fallback.
    */
  def runPasses(spark: SparkSession, sfDir: String, n: Int): Seq[Result] =
    (1 to n).flatMap { i =>
      try Some(run(spark, sfDir))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[stream-bench] pass $i failed: ${e.getMessage}")
        None
      }
    }

  def run(spark: SparkSession, sfDir: String, batches: Int = 8): Result = {
    val work = java.nio.file.Files.createTempDirectory("graft_stream_bench").toString
    // dispose in finally: a failed require/stream must not strand the
    // source copy + target + checkpoints in /tmp across bench runs.
    // Each pass gets its OWN catalog name: Spark caches catalog plugin
    // instances (with their warehouse) per name, so reusing one across
    // passes would point pass 2's tables at pass 1's disposed warehouse
    try runIn(spark, sfDir, batches, work, s"gbench${passCounter.incrementAndGet()}")
    finally graft.operators.Staging.dispose(spark, work)
  }

  private def runIn(spark: SparkSession, sfDir: String, batches: Int, work: String,
      cat: String): Result = {
    val srcDir = s"$work/src"
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    // drop the pandas metadata + pin the schema; one file per trigger
    events.repartition(batches).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val rows   = events.count()

    // path 1: change-capture pipeline into a catalog table (keyed commit each batch)
    val cfg = graft.streaming.StreamPipeline.Config(
      sourceDir = srcDir,
      targetDir = s"$work/target",
      checkpointDir = s"$work/ckpt",
      primaryKeys = Seq("event_id"),
      versionCols = Seq("ts"),
      maxFilesPerTrigger = Some(1))
    val t0 = System.nanoTime()
    val m  = graft.streaming.StreamPipeline.runAvailableNowWithMetrics(spark, schema, cfg)
    val mergeSec = (System.nanoTime() - t0) / 1e9

    // path 2: catalog append sink (OCC manifest commit per batch;
    // idempotentAppend bootstraps the table on first commit)
    val tableDir = s"$work/table"
    val t1 = System.nanoTime()
    ChangeCapture.drain(ChangeCapture.files(spark, schema, srcDir, Some(1)), s"$work/ckpt2")(
      graft.streaming.GraftStreamSink.idempotentAppend(tableDir) _)
    val appendSec = (System.nanoTime() - t1) / 1e9

    // sanity: both paths must have moved every row, or the rate is a lie
    require(m.rowsStaged == rows, s"pipeline staged ${m.rowsStaged} of $rows rows")
    val landed = spark.read.parquet(s"$tableDir/data").count()
    require(landed == rows, s"catalog sink landed $landed of $rows rows")
    val g = growthAxis(spark, sfDir, work, cat)
    Result(rows / mergeSec, rows / appendSec, m.batches, g.morRate, g.morFlat, g.morAmp)
  }

  final case class Growth(morRate: Double, morFlat: Double, morAmp: Double)

  /** Recursive on-disk bytes under `dir` (0 if absent). */
  private def dirBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    if (!root.exists()) 0L
    else {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(root)
    }
  }

  /** The write-amplification axis the fresh-target numbers cannot see:
    * a target SEEDED with the full events table, then fixed-churn
    * micro-batches (half updates, half inserts) while the target keeps
    * growing. The catalog upsert commits the churn files per batch,
    * which are also its equality-delete key set (O(churn) writes, no
    * target read — file-level contract pinned in StreamMergeSpec).
    * Reported: churn rows/sec, plus a flatness ratio (second-half avg
    * batch time / first-half avg) — flat ≈ 1.0 means no per-batch cost
    * term grows with the target.
    */
  private def growthAxis(spark: SparkSession, sfDir: String, work: String,
      cat: String): Growth = {
    import org.apache.spark.sql.functions._
    val nBatches = 16
    val churnN   = 2500 // per batch: churnN updates + churnN inserts
    val seed = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        lit(0L).as("version"))
    val maxId = seed.agg(max("event_id")).head.getLong(0)
    val updBase = seed.orderBy("event_id").limit(churnN).cache()

    // churn blobs (outside every timed window), one file per trigger
    val churnSrc = s"$work/churn"
    for (b <- 0 until nBatches) {
      val upd = updBase.withColumn("version", lit(b + 1L)).withColumn("value", col("value") * 2)
      val ins = spark.range(churnN).select(
        (lit(maxId + 1 + b.toLong * churnN) + col("id")).as("event_id"),
        col("id").as("user_id"), lit("synthetic").as("event_type"),
        lit(1.0).as("value"), lit(b + 1L).as("version"))
      upd.unionByName(ins).coalesce(1).write.mode("append").parquet(churnSrc)
    }
    val churnSchema = spark.read.parquet(churnSrc).schema
    val totalChurn  = nBatches.toLong * 2 * churnN
    val churnBytes  = dirBytes(churnSrc)

    // MOR catalog path: seed, then drain with per-batch timing
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$work/wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.mor (
      event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE,
      version BIGINT, arcane_merge_key STRING)
      TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
    graft.operators.MergeKey.withMergeKey(seed, Seq("event_id"))
      .writeTo(s"$cat.db.mor").append()
    val morTableDir = s"$work/wh/db/mor"
    val morBytes0   = dirBytes(morTableDir)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
    val keyed = ChangeCapture.keyed(ChangeCapture.files(spark, churnSchema, churnSrc, Some(1)),
      graft.operators.FieldSelection.All, Set.empty, Seq("event_id"), Nil, sourceVersion = false)
    val t0 = System.nanoTime()
    ChangeCapture.drain(keyed, s"$work/ckpt_mor") { (batch, batchId) =>
      val b0 = System.nanoTime()
      graft.streaming.StreamMerge.idempotentMerge(
        morTableDir, graft.operators.MergeKey.ColumnName, Seq("version"))(batch, batchId)
      perBatch += (System.nanoTime() - b0) / 1e9
    }
    val morSec = (System.nanoTime() - t0) / 1e9
    val morRows = spark.table(s"$cat.db.mor").count()
    require(morRows == seed.count() + nBatches.toLong * churnN,
      s"MOR growth target has $morRows rows")
    val (h1, h2) = perBatch.toSeq.splitAt(perBatch.size / 2)
    val morFlat  = (h2.sum / h2.size) / (h1.sum / h1.size)
    val morAmp   = (dirBytes(morTableDir) - morBytes0).toDouble / churnBytes

    updBase.unpersist()
    Growth(totalChurn / morSec, morFlat, morAmp)
  }
}

/** Benchmark main: times the headline queries (Queries.benchQueries) at
  * SPARK_GRAFT_SF_DIR and prints one JSON line. A small warmup query
  * first-touches the JIT + parquet footers so per-query times measure the
  * operators, not JVM startup.
  */
object Bench {
  /** Env var naming the prior round's results: a `BENCH_r*.json` file, or
    * a directory whose newest `BENCH_r<N>.json` is used. */
  val PriorBenchEnv = "SPARK_GRAFT_PRIOR_BENCH"

  /** Query names the prior round's compact line reported, parsed from
    * `prior` (a file, or a directory scanned for its newest
    * `BENCH_r<N>.json`); without `prior` the working directory is
    * scanned. A miss (nothing found, unreadable or unparseable) is logged
    * to stderr and carries no names.
    */
  def priorRoundNames(prior: Option[String], log: String => Unit = System.err.println): Set[String] = {
    val where = new java.io.File(prior.getOrElse("."))
    val file =
      if (where.isFile) Some(where)
      else Option(where.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .maxByOption(_.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
    val names = file.flatMap { f =>
      try {
        val body = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        org.json4s.jackson.JsonMethods.parse(body) \ "parsed" \ "queries" match {
          case org.json4s.JObject(fields) => Some(fields.map(_._1).toSet)
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    if (names.isEmpty)
      log(s"[bench] no prior-round query names in ${file.getOrElse(where).getAbsolutePath} " +
        s"(set $PriorBenchEnv to a BENCH_r*.json or its dir); carrying none")
    names.getOrElse(Set.empty)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table + exercise codegen/shuffle machinery AND
    // the noop write path once (otherwise the first timed query pays the
    // write-path class-loading + codegen bill)
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/documents.parquet").write.format("noop").mode("overwrite").save()

    // each query is timed `runs` times in one JVM, INTERLEAVED: pass 1
    // runs the whole board cold, passes 2..n repeat the whole board, so
    // a transient contention burst on the machine lands on DIFFERENT
    // queries in different passes instead of poisoning every sample of
    // one query. The reported time is the min across passes (steady
    // state — what a long-lived cluster actually sees, JIT + code cache
    // warm); the cold first pass and the steady (min,max) spread are
    // reported alongside so environmental noise is visible in the
    // artifact itself.
    val runs   = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // dev loop: SPARK_GRAFT_BENCH_ONLY=sub1,sub2,... times the subset of
    // queries matching ANY of the comma-separated substrings in
    // isolation (the driver never sets it, so its runs are unaffected)
    val only    = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    val failed  = scala.collection.mutable.LinkedHashSet.empty[String]
    val board   = Queries.benchQueries.filter(q => only.forall(_.exists(q.name.contains)))
    val samples = Array.fill(board.size)(scala.collection.mutable.ArrayBuffer.empty[Double])
    for (pass <- 1 to runs; (q, qi) <- board.zipWithIndex if !failed.contains(q.name)) {
      val t0 = System.nanoTime()
      // noop-format write: materializes every row INCLUDING final sorts
      // (a bare .count() lets EliminateSorts drop top-level ORDER BYs,
      // under-measuring sort-heavy queries)
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          failed += q.name
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
      }
      samples(qi) += (System.nanoTime() - t0) / 1e9
      // OUTSIDE the timed window: release per-query persisted aggregates
      // (q15-style reused relations persist inside query bodies with no
      // post-action hook) so the block manager stays flat across the
      // board × passes instead of accumulating dead cached blocks (§5).
      // Timing is unaffected — each invocation re-persists what it uses.
      try spark.catalog.clearCache() catch { case _: Throwable => () }
    }
    // (name, steady min, cold, steady max) — steady = passes after the first
    // when more than one pass ran
    val results = board.zipWithIndex.map { case (q, qi) =>
      val ts     = samples(qi).toSeq
      val steady = if (ts.size > 1) ts.drop(1) else ts
      (q.name, steady.min, ts.head, steady.max)
    }
    // two-decimal formatting keeps the final JSON line under ~1.8 KB: the
    // harness that collects this output stores only the LAST 2000 chars, and
    // a full-precision line with per-query cold times (~4.5 KB) gets its
    // `{"metric":...` head truncated away, making the line unparseable
    def f2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // the registry outgrew the 2000-char tail the collecting harness
    // keeps (round 6: a 3.6 KB line lost its '{"metric"' head and parsed
    // as nothing), so the compact line carries only the SLOWEST queries
    // — the ones a perf review reads — plus n_queries for context; the
    // full per-query map stays on the bench-detail line and in
    // BENCH_LOCAL.json.
    //
    // The top-40 window alone MANUFACTURES phantom drops in a
    // round-over-round diff: a query that fell from the prior round's
    // top-40 (because it got FASTER, or the day drifted) read as
    // "dropped_from_bench" (r15: three such phantoms). Fix: union in the
    // prior round's reported names ([[priorRoundNames]]), capped so the
    // line stays under the collector's tail. Entries are only ever ADDED
    // relative to the plain top-40.
    val priorNames = priorRoundNames(sys.env.get(PriorBenchEnv))
    val slowest = {
      val top = results.sortBy(-_._2).take(40)
      val topNames = top.map(_._1).toSet
      val carried = results
        .filter(r => priorNames.contains(r._1) && !topNames.contains(r._1))
        .sortBy(-_._2).take(8)
      top ++ carried
    }
    val qs    = slowest.map { case (k, v, _, _) => "\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    val cold  = results.map { case (k, _, c, _) => "\"" + k + "\":" + c }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val coldTotal = results.map(_._3).sum
    // a failed query records a (meaningless, tiny) time — list failures
    // explicitly so the JSON can never silently pass as an improvement
    val failedJson = failed.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
    // the compact line truncates `queries` to 40 and `failed` to 20 (to
    // fit the collecting harness's 2000-char tail) — flag it so parsers
    // never mistake the subset for the whole board
    val truncated = results.size > 40 || failed.size > 20
    // full-precision detail first (prefixed, so it can't be mistaken for the
    // metric line), then stop Spark so shutdown logs flush BEFORE the final
    // compact line — which must be the last stdout of the run.
    // spread_queries: per-query [steady min, steady max] across the
    // interleaved passes — a wide spread means machine contention, not a
    // plan regression.
    // streaming throughput: sustained rows/sec through the change-capture
    // pipeline (MERGE per batch) and the catalog append sink. Timed after
    // the board so its work never perturbs query samples; failures record
    // -1 rather than killing the whole bench artifact. Skipped when a
    // subset filter is active (dev loops iterate on queries).
    // min-of-passes on the streaming axes too (default 2 full passes):
    // r12's single-pass rates moved 34-46% on machine-day drift with no
    // code cause — a second pass caps what one noisy pass can print
    val streamRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_STREAM_RUNS", "2").toInt)
    // passes fail independently (NonFatal only); the -1 sentinel is
    // recorded only when every pass failed, and the JSON reports the
    // ACTUAL surviving pass count — a reader must be able to see that
    // a "min of 2" was really a single surviving sample
    val streamPasses = if (only.isDefined) Seq.empty
      else StreamBenchSection.runPasses(spark, sfDir, streamRuns)
    val stream = if (only.isDefined) None
      else Some(if (streamPasses.isEmpty) StreamBenchSection.Result(-1, -1, 0)
        else streamPasses.reduce(StreamBenchSection.best))
    val streamJson = stream.fold("") { r =>
      s""","stream_merge_rows_per_sec":${f2(r.mergeRowsPerSec)},"stream_append_rows_per_sec":${f2(r.appendRowsPerSec)},"stream_batches":${r.batches},"mor_growth_rows_per_sec":${f2(r.morGrowthRowsPerSec)},"mor_growth_flatness":${f2(r.morGrowthFlatness)},"mor_write_amp":${f2(r.morWriteAmp)},"stream_passes":${streamPasses.size}"""
    }
    println(s"""bench-detail: {"runs":$runs,"cold_total":$coldTotal,"cold_queries":$cold,"steady_queries":${results.map { case (k, v, _, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},"spread_queries":${results.map { case (k, v, _, mx) => "\"" + k + "\":[" + f2(v) + "," + f2(mx) + "]" }.mkString("{", ",", "}")}}""")
    spark.stop()
    println(s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$qs,"n_queries":${results.size},"sf":"$sfDir","runs":$runs,"cold_total":${f2(coldTotal)},"failed":$failedJson,"n_failed":${failed.size},"truncated":$truncated$streamJson}""")
  }
}
