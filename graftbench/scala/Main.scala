package graftbench

import java.io.File

/** One benchmark JVM: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --scale <default|smoke> --work <dir>
  * --out <file>`. Sets the workload up once, runs one untraced pass and
  * its gate, and with `--trace 1` a second, traced pass on a fresh
  * set-up. Writes one JSON object to `--out`; run.py turns it into the
  * result line.
  */
object Main {

  /** Spans whose Spark engine counts are reported (0 where a workload has none). */
  val SparkSpans: Seq[String] = Seq("batch", "maintenance_batch", "bm25", "phrase", "suggest", "ann",
    "apply_cdc_lex", "apply_cdc_ann", "compact", "vacuum", "run")

  val Layers: Seq[String] = Seq("harness", "streaming", "catalog", "sources", "operators")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work")).getAbsolutePath
    val w = Workload(name)
    val sizes = Sizes(opt.getOrElse("scale", "default"))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"graftbench-$name")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val progress = new Progress
    spark.streams.addListener(progress)
    val jobs = new JobCount
    spark.sparkContext.addSparkListener(jobs)
    val ctx = new Ctx(spark, seed, sizes, jobs)

    val out = new StringBuilder
    def field(k: String, v: String): Unit = out.append(if (out.isEmpty) "{" else ",").append(s""""$k":$v""")
    def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
    def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def measuredJson(m: Measured, g: Gate, cpu: Cpu.Window, nJobs: Long, heapMb: Double, liveMb: Double): String = obj(Seq(
      "cpu_ms_per_op" -> num(cpu.processMs / math.max(1L, m.ops)),
      "jobs_per_op" -> num(m.jobsPerOp.getOrElse(nJobs.toDouble / math.max(1L, m.ops))),
      "peak_heap_mb" -> num(heapMb), "live_heap_mb" -> num(liveMb),
      "cpu_steal_frac" -> num(cpu.stealFrac),
      "latency_p50_ms" -> num(m.p50Ms), "latency_p90_ms" -> num(m.p90Ms),
      "ops" -> m.ops.toString, "throughput_per_s" -> num(m.throughput),
      "write_amp" -> num(m.writeAmp), "attempted" -> m.attempted.toString, "failed" -> m.failed.toString,
      "named" -> obj(m.named.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "gate_ok" -> g.ok.toString, "gate" -> obj(g.notes.map { case (k, v) => k -> str(v) })))

    try {
      val t0 = System.nanoTime()
      val st = w.setup(ctx, s"$work/setup")
      val setupS = (System.nanoTime() - t0) / 1e9
      val setupCpuS = Cpu.processNs / 1e9 // every JVM thread, from JVM start to the end of set-up
      val plain = new Trace(spark, enabled = false)
      val ((((m, heapMb), cpu), nJobs), measureMs) = plain.span("measure", "harness")(
        jobs.during(Cpu.during(Heap.during(w.measure(ctx, st, seconds, plain, progress)))))
      val liveMb = Heap.liveMb()
      val (g, gateMs) = plain.span("gate", "harness")(w.gate(ctx, st))
      field("workload", str(name))
      field("seed", seed.toString)
      field("cores", cores.toString)
      field("session_s", num(sessionS))
      field("setup_s", num(setupS))
      field("setup_cpu_s", num(setupCpuS))
      field("measure_s", num(measureMs / 1000))
      field("gate_s", num(gateMs / 1000))
      field("untraced", measuredJson(m, g, cpu, nJobs, heapMb, liveMb))

      if (traced) {
        val st2 = w.setup(ctx, s"$work/traced")
        val counters = new SparkCounters(w.isMaintenanceBatch)
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
        val tr = new Trace(spark, enabled = true)
        val (((mt, heapT), cpuT), nJobsT) = tr.span("measure", "harness")(
          jobs.during(Cpu.during(Heap.during(w.measure(ctx, st2, seconds, tr, progress)))))._1
        val liveT = Heap.liveMb()
        // listener events are delivered asynchronously; let the bus drain
        Thread.sleep(1500)
        spark.listenerManager.unregister(counters)
        spark.sparkContext.removeSparkListener(counters)
        val gt = w.gate(ctx, st2)
        val accs = counters.spans
        val engine = SparkSpans.flatMap { s =>
          val a = accs.getOrElse(s, new counters.Acc)
          Seq(s"spark.jobs.$s" -> a.jobs.toDouble, s"spark.stages.$s" -> a.stages.toDouble,
            s"spark.tasks.$s" -> a.tasks.toDouble, s"spark.planning_ms.$s" -> a.planningMs,
            s"spark.executor_cpu_ms.$s" -> a.cpuMs, s"spark.shuffle_bytes.$s" -> a.shuffleBytes.toDouble,
            s"spark.spill_bytes.$s" -> a.spillBytes.toDouble, s"spark.output_bytes.$s" -> a.outputBytes.toDouble)
        }
        // bytes the runner's micro-batches read (target + staged batch), from task input metrics
        val readPerBatch = if (name != "cdc_snapshot_runner") Nil else Seq("sources.bytes_read_per_batch" ->
          Seq("batch", "maintenance_batch").map(s => accs.get(s).map(_.inputBytes).getOrElse(0L)).sum /
            math.max(1.0, mt.ops))
        val self = tr.selfMsByLayer
        val traceFile = new File(s"$work/trace-$name-$seed.jsonl")
        tr.dump(traceFile)
        field("traced", measuredJson(mt, gt, cpuT, nJobsT, heapT, liveT))
        field("layers", obj((mt.layers.toSeq ++ readPerBatch ++ engine ++
          Layers.map(l => s"self_ms.$l" -> self.getOrElse(l, 0.0)) ++
          Seq("spark.planning_ms.unattributed" -> counters.unattributedPlanningMs))
          .map { case (k, v) => k -> num(v) }))
        field("trace_file", str(traceFile.getPath))
      }
      field("peak_rss_mb", num(Disk.peakRssMb()))
      out.append("}")
      val f = new File(opt("out"))
      java.nio.file.Files.write(f.toPath, out.toString.getBytes("UTF-8"))
    } finally spark.stop()
  }
}
