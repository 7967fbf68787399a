package graftbench

import java.io.File
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, InvertedIndex}
import graft.streaming.{ChangeCapture, StreamLifetime, StreamMerge, StreamRunner, StreamSpec}

/** Input sizes per scale. `smoke` is the benchmark's own test (about
  * sf0.001); `default` is what the timed runs use.
  */
final case class Sizes(cdc: Gen.CdcSizes, search: Gen.SearchSizes, curate: Gen.CurateSizes,
    searchTickMs: Long, cdcLead: Int)

object Sizes {
  val default: Sizes = Sizes(
    cdc = Gen.CdcSizes(seedRows = 20000, blobs = 40, updates = 250, inserts = 250),
    search = Gen.SearchSizes(docs = 1500, vecs = 800, dim = 32, ticks = 12,
      lexUpd = 80, lexDel = 20, lexIns = 60, annUpd = 60, annDel = 20, annIns = 40),
    curate = Gen.CurateSizes(docs = 1000, nearDupShare = 0.15, exactDupShare = 0.05,
      contaminatedShare = 0.03, junkShare = 0.04, foreignShare = 0.04),
    searchTickMs = 1500, cdcLead = 6)

  val smoke: Sizes = Sizes(
    cdc = Gen.CdcSizes(seedRows = 6000, blobs = 12, updates = 100, inserts = 100),
    search = Gen.SearchSizes(docs = 300, vecs = 200, dim = 16, ticks = 12,
      lexUpd = 5, lexDel = 2, lexIns = 4, annUpd = 4, annDel = 2, annIns = 3, vocab = 500, queries = 16),
    curate = Gen.CurateSizes(docs = 300, nearDupShare = 0.15, exactDupShare = 0.05,
      contaminatedShare = 0.05, junkShare = 0.05, foreignShare = 0.05, vocab = 500),
    searchTickMs = 700, cdcLead = 2)

  def apply(name: String): Sizes = name match {
    case "default" => default
    case "smoke"   => smoke
    case other     => throw new IllegalArgumentException(s"unknown scale: $other")
  }
}

/** What one measured pass produced: latency quantiles of the workload's
  * unit operation (micro-batch, session step, curate run) over `ops`
  * operations; `named` carries the workload's own metric names for the
  * report line; `layers` the per-layer figures (traced passes only).
  * `jobsPerOp` overrides the default, Spark jobs of the pass over `ops`.
  */
final case class Measured(p50Ms: Double, p90Ms: Double, ops: Long, throughput: Double, writeAmp: Double,
    attempted: Long, failed: Long, named: Seq[(String, Double, String)],
    layers: Map[String, Double], jobsPerOp: Option[Double] = None)

final case class Gate(ok: Boolean, notes: Seq[(String, String)])

final class Ctx(val spark: SparkSession, val seed: Long, val sizes: Sizes, val jobs: JobCount) {
  private val catalogs = new AtomicInteger(0)
  def newCatalog(warehouse: String): String = {
    val cat = s"gb${catalogs.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    cat
  }
}

/** A workload: set-up (inputs + initial state), a measured pass of a
  * given length, and a correctness gate over what the pass left.
  */
trait Workload {
  type State
  def setup(ctx: Ctx, dir: String): State
  def measure(ctx: Ctx, st: State, seconds: Double, trace: Trace, progress: Progress): Measured
  def gate(ctx: Ctx, st: State): Gate
  /** Whether micro-batch `batchId` of the measured pass runs maintenance. */
  def isMaintenanceBatch(batchId: Long): Boolean = false
}

object Workload {
  def apply(name: String): Workload = name match {
    case "cdc_merge_mor"       => CdcMergeMor
    case "cdc_snapshot_runner" => CdcSnapshotRunner
    case "search_serve_cdc"    => SearchServeCdc
    case "curate_batch"        => CurateBatch
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

// ====================================================================== CDC

/** Shared CDC driving and checking. */
object CdcDrive {
  final case class Drained(blobs: Seq[File], wallS: Double, batches: Seq[Progress#Batch])

  /** Release backlog blobs into the watched source dir, at most `lead`
    * ahead of the batches the stream has finished, while `run` drives
    * change-capture cycles. A blob is held back while the blobs already
    * pending would, at the median batch time so far, run past `seconds`
    * (until the first batch is in there is no estimate, so one blob goes
    * out alone). Releasing ends at `seconds`; the lifetime then stops the
    * loop once the released blobs are in.
    */
  def drive(backlog: Seq[File], srcDir: String, lead: Int, seconds: Double, progress: Progress,
      run: StreamLifetime => Unit): Drained = {
    new File(srcDir).mkdirs()
    val before = progress.all.size
    val released = ArrayBuffer.empty[File]
    val lifetime = new StreamLifetime
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def done = progress.all.size - before
    def pendingS = {
      val bs = progress.all.drop(before)
      val pending = released.size - bs.size
      if (pending == 0) 0.0
      else if (bs.isEmpty) Double.PositiveInfinity
      else pending * Stats.p50(bs.map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0))
    }
    @volatile var failure: Throwable = null
    val feeder = new Thread(() => {
      try {
        val it = backlog.iterator
        while (elapsed < seconds && it.hasNext) {
          if (released.size - done < lead && elapsed + pendingS < seconds) released ++= release(Seq(it.next()), srcDir)
          else Thread.sleep(5)
        }
        require(elapsed >= seconds, "backlog exhausted before the deadline: raise the blob count")
        while (done < released.size) Thread.sleep(5)
      } catch { case t: Throwable => failure = t }
      finally lifetime.stop()
    }, "graftbench-feeder")
    feeder.setDaemon(true)
    feeder.start()
    run(lifetime)
    val wall = (System.nanoTime() - t0) / 1e9
    feeder.join()
    if (failure != null) throw failure
    Drained(released.toList, wall, progress.all.drop(before))
  }

  /** Move backlog blobs into the watched source directory (mtimes kept). */
  def release(blobs: Seq[File], srcDir: String): Seq[File] = {
    new File(srcDir).mkdirs()
    blobs.map { b =>
      val dst = new File(srcDir, b.getName)
      java.nio.file.Files.move(b.toPath, dst.toPath)
      dst
    }
  }

  def streamingLayers(bs: Seq[Progress#Batch]): Map[String, Double] = {
    def p50(k: String) = Stats.p50(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    val trig = bs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val floor = bs.map(b => (b.durations.getOrElse("triggerExecution", 0L) -
      b.durations.getOrElse("addBatch", 0L)).toDouble)
    Map(
      "streaming.trigger_ms_p50" -> Stats.p50(trig),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.floor_ms_p50" -> Stats.p50(floor),
      "streaming.latest_offset_ms_p50" -> p50("latestOffset"),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streaming.batches" -> bs.size.toDouble)
  }

  /** Micro-batches as spans: `batch`/`maintenance_batch` (streaming)
    * around an `add_batch` child in `addLayer`, under `parent`.
    */
  def recordBatchSpans(trace: Trace, bs: Seq[Progress#Batch], parent: Long, addLayer: String,
      isMaint: Long => Boolean): Unit = {
    // progress timestamps are wall-clock ms; spans use the JVM's monotonic ns
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    bs.foreach { b =>
      val start = b.startMs * 1000000L + offsetNs
      val trig = b.durations.getOrElse("triggerExecution", 0L) * 1000000L
      val add = b.durations.getOrElse("addBatch", 0L) * 1000000L
      val id = trace.newId()
      trace.record(Trace.Span(id, if (isMaint(b.batchId)) "maintenance_batch" else "batch",
        "streaming", parent, b.batchId, start, start + trig))
      trace.record(Trace.Span(trace.newId(), "add_batch", addLayer, id, b.batchId, start, start + add))
    }
  }

  /** One measured drain: per-batch bytes that appear under `targetDir`
    * (scanned as each batch reports progress) are charged to merge or
    * maintenance batches; write_amp is merge-batch bytes over the churn
    * bytes of those batches, and jobs per op is Spark jobs per merge
    * batch (maintenance lands at a cadence, so a short run sees zero,
    * one or two maintenance batches). Each batch reads one blob, in
    * release order. A merge batch writes more the more files the target
    * holds, and files pile up between compactions, so write_amp counts
    * the first [[AmpBatches]] merge batches only: a faster run drains
    * more batches, and its write_amp would otherwise read higher.
    */
  val AmpBatches = 4

  final case class Pass(d: Drained, disk: DiskDelta, maintBytes: Long, measured: Measured)

  def pass(backlog: Seq[File], srcDir: String, targetDir: String, lead: Int, seconds: Double,
      trace: Trace, progress: Progress, jobs: JobCount, addLayer: String, isMaint: Long => Boolean)(
      run: StreamLifetime => Unit): Pass = {
    jobs.clearBatches()
    val disk = new DiskDelta(new File(targetDir))
    disk.baseline()
    val bytesByBatch = scala.collection.concurrent.TrieMap.empty[Long, Long]
    progress.onBatch = b => bytesByBatch(b.batchId) = disk.delta()
    val d = try drive(backlog, srcDir, lead, seconds, progress, lifetime =>
      trace.span("drain", "streaming")(run(lifetime)))
    finally progress.onBatch = _ => ()
    disk.scan()
    Thread.sleep(300) // let the listener bus deliver the last job starts
    val mergeIds = d.batches.map(_.batchId).filterNot(isMaint)
    val jobsPerMerge = mergeIds.map(jobs.ofBatch).sum.toDouble / math.max(1, mergeIds.size)
    val churnRows = d.batches.map(_.rows).sum
    val perBatch = d.batches.zip(d.blobs).map { case (b, f) => (isMaint(b.batchId), bytesByBatch.getOrElse(b.batchId, 0L), f.length()) }
    val (maint, merge) = perBatch.partition(_._1)
    val counted = merge.take(AmpBatches)
    val amp = counted.map(_._2).sum.toDouble / math.max(1L, counted.map(_._3).sum)
    val lat = d.batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      recordBatchSpans(trace, d.batches, trace.all.filter(_.name == "drain").last.id, addLayer, isMaint)
      streamingLayers(d.batches)
    }
    Pass(d, disk, maint.map(_._2).sum,
      Measured(Stats.p50(lat), Stats.p90(lat), lat.size, churnRows / d.wallS, amp, d.batches.size, 0L,
        Seq(("ingest_rows_per_s", churnRows / d.wallS, "1/s"),
          ("batch_latency_p50_s", Stats.p50(lat) / 1000, "s"),
          ("batch_latency_p90_s", Stats.p90(lat) / 1000, "s"),
          ("write_amp", amp, "ratio")),
        layers, jobsPerOp = Some(jobsPerMerge)))
  }

  def blobRows(spark: SparkSession, blobs: Seq[File]): DataFrame =
    spark.read.schema(Gen.LineitemSchema).parquet(blobs.map(_.getPath): _*)

  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")

  /** Independent expectation: the latest row per key over seed ∪ churn
    * by `order`, with a plain window. Rows tied at the top rank are all
    * kept (`rank`), so the gate can accept any of them.
    */
  def latestCandidates(all: DataFrame, order: Seq[org.apache.spark.sql.Column]): DataFrame =
    all.withColumn("__r", rank().over(Window.partitionBy(Keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__r") === 1).drop("__r")

  /** Gate: one row per key, same key set as expected, every target row
    * one of its key's top candidates. Returns notes incl. the tie count.
    */
  def compare(target: DataFrame, candidates: DataFrame, cols: Seq[String], in: Gen.CdcInputs): Gate = {
    val t = target.select(cols.map(col): _*).collect().toSeq
    val c = candidates.select(cols.map(col): _*).collect().toSeq
    val nk = Keys.size
    val byKey = c.groupBy(r => r.toSeq.take(nk))
    val rows = t.size
    val keys = t.map(_.toSeq.take(nk)).distinct.size
    val ties = byKey.count(_._2.size > 1)
    val matched = t.count(r => byKey.get(r.toSeq.take(nk)).exists(_.contains(r)))
    val hash = t.map(_.hashCode.toLong).sum
    val ok = rows == keys && keys == byKey.size && matched == rows
    Gate(ok, Seq("target_rows" -> rows.toString, "expected_keys" -> byKey.size.toString,
      "distinct_keys" -> keys.toString, "rows_matching_latest" -> matched.toString,
      "tied_keys" -> ties.toString, "target_hash" -> hash.toString,
      "repeat_rows_per_blob" -> f"${in.repeatRows.toDouble / in.blobs.size}%.1f"))
  }
}

object CdcMergeMor extends Workload {
  final case class State(dir: String, in: Gen.CdcInputs, table: String, tableDir: String,
      srcDir: String, var consumed: Seq[File] = Nil)

  val CompactEvery = 12
  val ExpireEvery = 6

  override def isMaintenanceBatch(batchId: Long): Boolean =
    (batchId + 1) % CompactEvery == 0 || (batchId + 1) % ExpireEvery == 0

  def config(st: State): StreamMerge.Config =
    StreamMerge.Config(sourceDir = st.srcDir, table = st.table, tableDir = st.tableDir,
      checkpointDir = s"${st.dir}/ckpt", primaryKeys = CdcDrive.Keys, versionCols = Seq("version", "seq"),
      maxFilesPerTrigger = Some(1), compactEveryBatches = Some(CompactEvery),
      compactSmallBytes = 4L << 20, expireEveryBatches = Some(ExpireEvery), keepSnapshots = 2)

  /** Seed the target, then run the stream's first change-capture cycle
    * over the first churn blob (it creates the checkpoint).
    */
  def setup(ctx: Ctx, dir: String): State = {
    val in = Gen.cdc(ctx.spark, s"$dir/in", ctx.seed, ctx.sizes.cdc)
    val cat = ctx.newCatalog(s"$dir/wh")
    val table = s"$cat.db.lineitem"
    StreamMerge.seedTarget(ctx.spark, table, ctx.spark.read.parquet(in.seedDir), CdcDrive.Keys)
    val st = State(dir, in, table, s"$dir/wh/db/lineitem", s"$dir/source")
    st.consumed = CdcDrive.release(in.blobs.take(1), st.srcDir)
    StreamMerge.runAvailableNow(ctx.spark, Gen.LineitemSchema, config(st))
    st
  }

  def measure(ctx: Ctx, st: State, seconds: Double, trace: Trace, progress: Progress): Measured = {
    val files0 = graft.catalog.GraftReadMetrics.dataFilesOpened
    val version0 = Disk.maxVersion(new File(st.tableDir, "manifests"))
    val cfg = config(st)
    val p = CdcDrive.pass(st.in.blobs.drop(st.consumed.size), st.srcDir, st.tableDir, ctx.sizes.cdcLead,
        seconds, trace, progress, ctx.jobs, "catalog", isMaintenanceBatch) { lifetime =>
      StreamMerge.runContinuously(ctx.spark, Gen.LineitemSchema, cfg,
        new ChangeCapture(20, 0.0, 0L), Int.MaxValue, lifetime)
    }
    st.consumed ++= p.d.blobs
    if (!trace.enabled) p.measured else {
      val (maint, merge) = p.d.batches.partition(b => isMaintenanceBatch(b.batchId))
      def addMs(bs: Seq[Progress#Batch]) = Stats.p50(bs.map(_.durations.getOrElse("addBatch", 0L).toDouble))
      val nb = math.max(1, p.d.batches.size).toDouble
      p.measured.copy(layers = p.measured.layers ++ Map(
        "catalog.merge_batch_ms_p50" -> addMs(merge),
        "catalog.maintenance_batch_ms_p50" -> addMs(maint),
        "catalog.files_opened_per_batch" -> (graft.catalog.GraftReadMetrics.dataFilesOpened - files0) / nb,
        "catalog.bytes_written_per_batch" -> p.disk.bytesWritten / nb,
        "catalog.maintenance_bytes_per_batch" -> p.maintBytes / nb,
        // expired manifests are deleted: count commits by the version advance
        "catalog.snapshots_per_batch" -> (Disk.maxVersion(new File(st.tableDir, "manifests")) - version0) / nb,
        "catalog.live_files_end" -> Disk.liveFiles(new File(st.tableDir, "data")).toDouble))
    }
  }

  def gate(ctx: Ctx, st: State): Gate = {
    val spark = ctx.spark
    val all = spark.read.parquet(st.in.seedDir).unionByName(CdcDrive.blobRows(spark, st.consumed))
    val cand = CdcDrive.latestCandidates(all, Seq(col("version").desc, col("seq").desc))
    CdcDrive.compare(spark.table(st.table), cand, Gen.LineitemSchema.fieldNames.toSeq, st.in)
  }
}

object CdcSnapshotRunner extends Workload {
  final case class State(dir: String, in: Gen.CdcInputs, env: Map[String, String],
      srcDir: String, targetDir: String, var consumed: Seq[File] = Nil)

  val MaintEvery = 6
  /** The set-up cycle ingests the seed (batch 0) and the first churn
    * blob (batch 1); the measured boot counts its batches from 2.
    */
  private val FirstMeasuredBatch = 2L

  override def isMaintenanceBatch(batchId: Long): Boolean =
    (batchId - FirstMeasuredBatch + 1) % MaintEvery == 0

  val Included: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "version", "seq")

  def spec(dir: String): String =
    s"""staging:
       |  table:
       |    maxRowsPerFile: 200000
       |streamMode:
       |  changeCapture:
       |    changeCaptureInterval: 20 millisecond
       |    changeCaptureJitterVariance: 0.0
       |    changeCaptureJitterSeed: 7
       |sink:
       |  targetTableFullName: $dir/target
       |  maintenanceSettings:
       |    targetOptimizeSettings:
       |      batchThreshold: $MaintEvery
       |      fileSizeThreshold: 64MB
       |    targetSnapshotExpirationSettings:
       |      batchThreshold: $MaintEvery
       |throughput:
       |  shaperImpl:
       |    advisedChunkSize: 1
       |source:
       |  configuration:
       |    sourcePath: $dir/source
       |    tempStoragePath: $dir/tmp
       |    primaryKeys:
       |      - l_orderkey
       |      - l_linenumber
       |  fieldSelectionRule:
       |    essentialFields: [l_orderkey, l_linenumber]
       |    rule:
       |      include: [${Included.mkString(", ")}]
       |""".stripMargin

  def setup(ctx: Ctx, dir: String): State = {
    val in = Gen.cdc(ctx.spark, s"$dir/in", ctx.seed, ctx.sizes.cdc)
    Gen.seedBlob(in.seedDir, s"$dir/source")
    val st = State(dir, in, Map(StreamSpec.SpecEnvVar -> spec(dir)), s"$dir/source", s"$dir/target")
    st.consumed = CdcDrive.release(in.blobs.take(1), st.srcDir)
    // one change-capture cycle lands the seed blob, then merges the first churn blob
    StreamRunner.boot(ctx.spark, Gen.LineitemSchema, st.env, maxCycles = 1,
      checkpointDir = Some(s"$dir/ckpt"))
    st
  }

  def measure(ctx: Ctx, st: State, seconds: Double, trace: Trace, progress: Progress): Measured = {
    val p = CdcDrive.pass(st.in.blobs.drop(st.consumed.size), st.srcDir, st.targetDir, ctx.sizes.cdcLead,
        seconds, trace, progress, ctx.jobs, "sources", isMaintenanceBatch) { lifetime =>
      StreamRunner.boot(ctx.spark, Gen.LineitemSchema, st.env, lifetime = lifetime,
        checkpointDir = Some(s"${st.dir}/ckpt"))
    }
    st.consumed ++= p.d.blobs
    if (!trace.enabled) p.measured else {
      val nb = math.max(1, p.d.batches.size).toDouble
      p.measured.copy(layers = p.measured.layers ++ Map(
        "sources.bytes_written_per_batch" -> p.disk.bytesWritten / nb,
        "sources.files_written_per_batch" -> p.disk.filesWritten / nb,
        "sources.maintenance_bytes_per_batch" -> p.maintBytes / nb))
    }
  }

  def gate(ctx: Ctx, st: State): Gate = {
    val spark = ctx.spark
    // the runner versions rows by blob mtime alone: the seed blob(s) sort
    // first, then each churn blob; rows of one blob tie
    val seedBlobs = Option(new File(st.srcDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("seed-")).toSeq
    val all = (seedBlobs ++ st.consumed).map { f =>
      spark.read.schema(Gen.LineitemSchema).parquet(f.getPath).withColumn("__v", lit(f.lastModified()))
    }.reduce(_ unionByName _)
    val cand = CdcDrive.latestCandidates(all, Seq(col("__v").desc))
    val target = new graft.sources.SnapshotStore(spark, st.targetDir).read()
      .getOrElse(spark.emptyDataFrame)
    CdcDrive.compare(target, cand, Included, st.in)
  }
}

// ====================================================================== search

object SearchServeCdc extends Workload {
  final case class State(dir: String, in: Gen.SearchInputs, lexDir: String, annDir: String,
      var ticksApplied: Int = 0)

  val Kinds: Seq[String] = Seq("bm25", "phrase", "suggest", "ann")
  /** Index layout sized for a corpus of a few thousand documents. */
  val LexBuckets = 4
  val AnnCells = 8
  val WriteOps: Seq[String] = Seq("apply_cdc_lex", "apply_cdc_ann", "compact", "vacuum")
  /** CDC ticks between compact-and-vacuum passes. At one tick due every
    * 1.5 s, the first pass starts after the second tick, inside a 6 s
    * window, so the reader serves while it runs.
    */
  val MaintEvery = 2
  /** Ticks whose bytes make `write_amp`: every pass applies them, even
    * when the second starts after the deadline on a slow stretch, so the
    * ratio does not move with how many ticks fit in the window.
    */
  val AmpTicks = 2
  /** Operations every pass runs, whose jobs per operation make `jobs_per_op`. */
  val JobKinds: Seq[String] = Kinds ++ Seq("apply_cdc_lex", "apply_cdc_ann")

  def setup(ctx: Ctx, dir: String): State = {
    val spark = ctx.spark
    val in = Gen.search(spark, s"$dir/in", ctx.seed, ctx.sizes.search)
    val st = State(dir, in, s"$dir/lex", s"$dir/ann")
    InvertedIndex.build(spark.read.parquet(in.docsDir), "doc_id", "text", st.lexDir, buckets = LexBuckets)
    AnnIndex.build(spark.read.parquet(in.vecsDir), "vec_id", "embedding", st.annDir, nCells = AnnCells)
    // readiness probe: one serve of each kind before traffic starts
    Kinds.foreach(k => serve(spark, st, k, 0))
    st
  }

  private def probeDf(spark: SparkSession, id: Long, v: Array[Float]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(id, v.toSeq)), 1), Gen.VecSchema)

  def serve(spark: SparkSession, st: State, kind: String, i: Int): Long = {
    val in = st.in
    kind match {
      case "bm25"    => InvertedIndex.bm25TopKText(spark, st.lexDir, Seq(in.bm25(i % in.bm25.size)), k = 10).collect().length
      case "phrase"  => InvertedIndex.phraseTopK(spark, st.lexDir, Seq(in.phrases(i % in.phrases.size)), k = 10).collect().length
      case "suggest" => InvertedIndex.suggestTopK(spark, st.lexDir, Seq(in.prefixes(i % in.prefixes.size)), k = 5).collect().length
      case "ann"     => AnnIndex.topK(probeDf(spark, -1L - i, in.probes(i % in.probes.size)),
        "vec_id", "embedding", st.annDir, k = 10).collect().length
    }
  }

  def measure(ctx: Ctx, st: State, seconds: Double, trace: Trace, progress: Progress): Measured = {
    val spark = ctx.spark
    val z = ctx.sizes
    val watched = Seq(new DiskDelta(new File(st.lexDir)), new DiskDelta(new File(st.annDir)))
    watched.foreach(_.delta())
    val opMs = Kinds.++(WriteOps).map(_ -> ArrayBuffer.empty[Double]).toMap
    val jobs0 = JobKinds.map(k => k -> ctx.jobs.of(k)).toMap
    val commitMs = ArrayBuffer.empty[Double]
    val lagMs = ArrayBuffer.empty[Double]
    val attempted, failed = new AtomicLong(0)
    var cdcBytes = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    @volatile var writerError: Throwable = null

    def timed(name: String, op: Long)(body: => Unit): Unit = {
      attempted.incrementAndGet()
      try {
        val (_, ms) = trace.span(name, "operators", op)(body)
        opMs(name).synchronized { opMs(name) += ms }
      } catch { case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"[graftbench] $name failed: $e")
      }
    }

    // open-loop writer: tick i is due at t0 + i * tickMs. Bytes that
    // appear under the index dirs are charged to the CDC applies or to
    // maintenance by scanning after each.
    def newBytes(): Long = watched.map(_.delta()).sum
    var applyBytes, maintBytes = 0L
    val writer = new Thread(() => {
      try {
        var i = 1
        // past the first AmpTicks, no tick starts after the deadline; a late writer applies fewer ticks
        while (i <= st.in.ticks.size &&
            (i <= AmpTicks || math.max(System.nanoTime(), t0 + i * z.searchTickMs * 1000000L) < deadline)) {
          val due = t0 + i * z.searchTickMs * 1000000L
          while (System.nanoTime() < due) Thread.sleep(1)
          lagMs += (System.nanoTime() - due) / 1e6
          val tk = st.in.ticks(i - 1)
          timed("apply_cdc_lex", i) {
            InvertedIndex.applyCdc(spark.read.schema(Gen.DocSchema).parquet(tk.lexUp),
              spark.read.schema(Gen.DocSchema).parquet(tk.lexRm), "doc_id", "text", st.lexDir,
              stamp = Some("graftbench" -> i.toLong))
          }
          timed("apply_cdc_ann", i) {
            AnnIndex.applyCdc(spark.read.schema(Gen.VecSchema).parquet(tk.annUp),
              spark.read.parquet(tk.annRm), "vec_id", "embedding", st.annDir,
              stamp = Some("graftbench" -> i.toLong))
          }
          commitMs += (System.nanoTime() - due) / 1e6
          val written = newBytes()
          if (i <= AmpTicks) { applyBytes += written; cdcBytes += tk.bytes }
          st.ticksApplied = i
          if (i % MaintEvery == 0) {
            timed("compact", i) { InvertedIndex.compact(spark, st.lexDir); AnnIndex.compact(spark, st.annDir) }
            timed("vacuum", i) { InvertedIndex.vacuum(spark, st.lexDir); AnnIndex.vacuum(spark, st.annDir) }
            maintBytes += newBytes()
          }
          i += 1
        }
      } catch { case t: Throwable => writerError = t }
    }, "graftbench-writer")
    writer.start()

    // closed-loop reader over the seeded rotation
    var q = 0
    while (System.nanoTime() < deadline) {
      val kind = Kinds(q % Kinds.size)
      attempted.incrementAndGet()
      try {
        val (_, ms) = trace.span(kind, "operators", q)(serve(spark, st, kind, q / Kinds.size))
        opMs(kind) += ms
      } catch { case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"[graftbench] $kind failed: $e")
      }
      q += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    writer.join()
    if (writerError != null) throw writerError
    Thread.sleep(300) // let the listener bus deliver the last job starts
    // jobs per operation of each kind, averaged over the kinds: unlike
    // jobs over serves, it does not move with how many serves fit
    // between two CDC ticks
    val perKind = JobKinds.filter(opMs(_).nonEmpty).map(k => (ctx.jobs.of(k) - jobs0(k)).toDouble / opMs(k).size)
    val amp = if (cdcBytes == 0) 0.0 else applyBytes.toDouble / cdcBytes
    def p50(k: String) = Stats.p50(opMs(k).toSeq)
    // the four kinds differ several-fold in latency, so a median over the
    // mixed stream jumps between kinds; one session step (one query of
    // each kind) is summed from the per-kind quantiles instead
    val stepP50 = Kinds.map(p50).sum
    val stepP90 = Kinds.map(k => Stats.p90(opMs(k).toSeq)).sum
    val layers = if (!trace.enabled) Map.empty[String, Double] else
      Kinds.map(k => s"index.${k}_ms_p50" -> p50(k)).toMap ++ Map(
        "index.apply_cdc_lex_ms_p50" -> p50("apply_cdc_lex"),
        "index.apply_cdc_ann_ms_p50" -> p50("apply_cdc_ann"),
        "index.compact_ms_p50" -> p50("compact"),
        "index.vacuum_ms_p50" -> p50("vacuum"),
        "index.maintenance_bytes" -> maintBytes.toDouble,
        "index.manifest_versions_end" -> (Seq(st.lexDir, st.annDir).map(d =>
          Disk.count(new File(d, "manifest"), _.getName.endsWith(".json"))).sum.toDouble),
        "index.live_files_end" -> (Disk.liveFiles(new File(st.lexDir)) + Disk.liveFiles(new File(st.annDir))).toDouble,
        "index.generator_lag_ms_p90" -> Stats.p90(lagMs.toSeq))
    val serves = Kinds.map(opMs(_).size).sum
    Measured(stepP50, stepP90, serves, serves / wallS, amp, attempted.get(), failed.get(),
      Seq(("query_latency_p50_s", stepP50 / 1000, "s"),
        ("query_latency_p90_s", stepP90 / 1000, "s"),
        ("queries_per_s", serves / wallS, "1/s"),
        ("index_commit_latency_p50_s", Stats.p50(commitMs.toSeq) / 1000, "s"),
        ("write_amp", amp, "ratio")),
      layers, jobsPerOp = Some(perKind.sum / math.max(1, perKind.size)))
  }

  /** Final state per id: the last event over the initial rows (tick 0)
    * and each applied tick's removals, then upserts (a removal of an
    * updated id precedes its upsert within the tick).
    */
  private def finalRows(spark: SparkSession, initial: DataFrame, ups: Seq[(Int, DataFrame)],
      rms: Seq[(Int, DataFrame)], id: String): DataFrame = {
    val ev = (Seq(initial.withColumn("__t", lit(0)).withColumn("__o", lit(1))) ++
      rms.map { case (t, d) => d.withColumn("__t", lit(t)).withColumn("__o", lit(0)) } ++
      ups.map { case (t, d) => d.withColumn("__t", lit(t)).withColumn("__o", lit(1)) })
      .reduce(_.unionByName(_, allowMissingColumns = true))
    ev.withColumn("__r", row_number().over(Window.partitionBy(id).orderBy(col("__t").desc, col("__o").desc)))
      .filter(col("__r") === 1 && col("__o") === 1).drop("__r", "__t", "__o")
  }

  def gate(ctx: Ctx, st: State): Gate = {
    val spark = ctx.spark
    import spark.implicits._
    val ticks = st.in.ticks.take(st.ticksApplied).zipWithIndex.map { case (t, i) => (i + 1, t) }
    val docs = finalRows(spark, spark.read.parquet(st.in.docsDir),
      ticks.map { case (i, t) => i -> spark.read.schema(Gen.DocSchema).parquet(t.lexUp) },
      ticks.map { case (i, t) => i -> spark.read.schema(Gen.DocSchema).parquet(t.lexRm).select("doc_id") },
      "doc_id").select("doc_id", "text")
    val fresh = s"${st.dir}/gate_lex"
    InvertedIndex.build(docs, "doc_id", "text", fresh, buckets = LexBuckets)
    def answers(dir: String) =
      InvertedIndex.bm25TopKText(spark, dir, st.in.lexProbes, k = 10)
        .select(col("q"), col("doc_id"), col("score").cast("double"))
        .as[(String, Long, Double)].collect().toSeq.sorted
    val maintained = answers(st.lexDir)
    val rebuilt = answers(fresh)
    val lexOk = maintained == rebuilt && maintained.nonEmpty

    val vecs = finalRows(spark, spark.read.parquet(st.in.vecsDir),
      ticks.map { case (i, t) => i -> spark.read.schema(Gen.VecSchema).parquet(t.annUp) },
      ticks.map { case (i, t) => i -> spark.read.parquet(t.annRm) },
      "vec_id").select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val probes = st.in.probes.take(8).zipWithIndex.map { case (p, i) => (-1000L - i, p) }.toMap
    val probeRows = spark.createDataFrame(spark.sparkContext.parallelize(
      probes.toSeq.map { case (id, v) => Row(id, v.toSeq) }, 1), Gen.VecSchema)
    val got = AnnIndex.topK(probeRows, "vec_id", "embedding", st.annDir, k = 10)
      .select(col("probe_id"), col("neighbor_id"), col("cosine").cast("double"))
      .as[(Long, Long, Double)].collect().toSeq
      .map { case (pid, n, c) => (probes(pid), n, c) }
    def cosine(a: Array[Float], b: Seq[Float]): Double = {
      var d, na, nb = 0.0
      var j = 0
      while (j < a.length) { d += a(j) * b(j).toDouble; na += a(j) * a(j).toDouble; nb += b(j) * b(j).toDouble; j += 1 }
      d / math.sqrt(na * nb)
    }
    val dead = got.count { case (_, n, _) => !vecs.contains(n) }
    val off = got.count { case (p, n, c) => vecs.get(n).exists(v => math.abs(cosine(p, v) - c) > 1e-6) }
    val annOk = got.nonEmpty && dead == 0 && off == 0
    Gate(lexOk && annOk, Seq("ticks_applied" -> st.ticksApplied.toString,
      "lex_probe_rows" -> maintained.size.toString, "lex_matches_rebuild" -> lexOk.toString,
      "ann_neighbours" -> got.size.toString, "ann_dead_neighbours" -> dead.toString,
      "ann_cosine_mismatches" -> off.toString))
  }
}

// ====================================================================== curate

object CurateBatch extends Workload {
  final case class State(dir: String, in: Gen.CurateInputs, var outputs: Seq[String] = Nil)

  val TokenBudget = 2048L
  val ShingleN = 5

  def spec(st: State, out: String): String =
    s"""curation:
       |  input: ${st.in.corpusDir}
       |  output: $out
       |  idColumn: doc_id
       |  textColumn: text
       |  minQuality: 0.3
       |  languages: [en]
       |  maxDup3GramFrac: 0.5
       |  compressRatioLo: 0.05
       |  compressRatioHi: 0.9
       |  maxRareTokenFrac: 0.5
       |  dedup: near
       |  useBloomDecontamination: true
       |  decontaminateAgainst: ${st.in.benchDir}
       |  decontaminateShingleN: $ShingleN
       |  tokenBudget: $TokenBudget
       |""".stripMargin

  def setup(ctx: Ctx, dir: String): State =
    State(dir, Gen.curate(ctx.spark, s"$dir/in", ctx.seed, ctx.sizes.curate))

  def measure(ctx: Ctx, st: State, seconds: Double, trace: Trace, progress: Progress): Measured = {
    val disk = new DiskDelta(new File(st.dir, "out"))
    disk.baseline()
    val runs = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer.empty[String]
    var kept = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    while (runs.size + failed == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val out = s"${st.dir}/out/run-${runs.size + failed}"
      try {
        val (rep, ms) = trace.span("run", "operators", runs.size)(
          graft.CurateRunner.run(ctx.spark, StreamSpec.parse(spec(st, out))))
        runs += ms
        outs += out
        kept = rep.keptDocs
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] curate run failed: $e")
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    disk.scan()
    st.outputs = outs.toList
    val inBytes = st.in.bytes * math.max(1, runs.size)
    Measured(Stats.p50(runs.toSeq), Stats.p90(runs.toSeq), runs.size, st.in.docs.toDouble * runs.size / wallS, disk.bytesWritten.toDouble / inBytes,
      runs.size + failed, failed,
      Seq(("curate_s", Stats.p50(runs.toSeq) / 1000, "s"), ("kept_docs", kept.toDouble, "count")),
      Map.empty)
  }

  def gate(ctx: Ctx, st: State): Gate = {
    val spark = ctx.spark
    import spark.implicits._
    val input = spark.read.parquet(st.in.corpusDir)
    val out = spark.read.parquet(st.outputs.last)
    val rows = out.count()
    val foreign = out.select("doc_id").except(input.select("doc_id")).count()
    val dupIds = rows - out.select("doc_id").distinct().count()
    // decontamination: no kept doc shares a word ShingleN-gram with the benchmark
    def grams(t: String): Iterator[String] = t.trim.split("\\s+").sliding(ShingleN).filter(_.length == ShingleN).map(_.mkString(" "))
    val benchGrams = spark.read.parquet(st.in.benchDir).select("text").as[String].collect().flatMap(grams).toSet
    val contaminated = out.select("text").as[String].collect().count(t => grams(t).exists(benchGrams))
    // token budget: sequences follow id order, and every sequence's tokens
    // before its last document stay under the budget
    val toks = out.select(col("doc_id"), col("seq_id"), size(split(trim(col("text")), "\\s+")).as("n"))
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    val monotone = toks.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) <= w(1))
    val overBudget = toks.groupBy(_._2).count { case (_, ds) =>
      ds.map(_._3.toLong).sum - ds.maxBy(_._1)._3 >= TokenBudget }
    val hash = out.select(sum(xxhash64(col("doc_id"), col("text"), col("seq_id")).cast("decimal(38,0)")))
      .head().get(0).toString
    val ok = rows > 0 && foreign == 0 && dupIds == 0 && contaminated == 0 && monotone && overBudget == 0
    Gate(ok, Seq("kept_rows" -> rows.toString, "input_rows" -> st.in.docs.toString,
      "ids_not_in_input" -> foreign.toString, "contaminated_kept" -> contaminated.toString,
      "sequences_over_budget" -> overBudget.toString, "seq_ids_monotone" -> monotone.toString,
      "output_hash" -> hash))
  }
}
