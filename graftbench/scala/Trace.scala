package graftbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics with linear interpolation between closest ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
}

/** Spans at the benchmark's call boundaries: name, layer, start, end,
  * parent and op id. Kept in memory, written once at exit. While a span
  * is open on a thread, Spark jobs submitted from that thread carry its
  * name in the [[Trace.SpanProperty]] local property, traced or not
  * ([[JobCount]] reads it).
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  /** Time `body`, returning (result, elapsed ms). With tracing on the
    * span is recorded and Spark jobs from this thread are also tagged
    * with it.
    */
  def span[T](name: String, layer: String, opId: Long = 0L)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val parent = stack.get().headOption
    val s = Span(nextId.getAndIncrement(), name, layer, parent.map(_.id).getOrElse(0L), opId,
      System.nanoTime(), 0L)
    stack.set(s :: stack.get())
    sc.setLocalProperty(SpanProperty, name)
    if (enabled) {
      parent.foreach(p => sc.removeJobTag(tag(p.name)))
      sc.addJobTag(tag(name))
    }
    try {
      val out = body
      (out, (System.nanoTime() - s.startNs) / 1e6)
    } finally {
      s.endNs = System.nanoTime()
      stack.set(stack.get().tail)
      sc.setLocalProperty(SpanProperty, parent.map(_.name).orNull)
      if (enabled) {
        sc.removeJobTag(tag(name))
        parent.foreach(p => sc.addJobTag(tag(p.name)))
        record(s)
      }
    }
  }

  /** Record a span observed from outside (e.g. a micro-batch from its progress report). */
  def record(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def newId(): Long = nextId.getAndIncrement()

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer: each span's duration minus its children's. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
    }
  }

  def dump(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        s""""op":${s.opId},"start_ns":${s.startNs},"end_ns":${s.endNs},"ms":${s.ms}}""")
    } finally w.close()
  }
}

object Trace {
  val SpanProperty = "graftbench.span"
  /** The innermost open span is also a job tag, which SQL execution events carry. */
  val TagPrefix = "graftbench-span-"
  def tag(span: String): String = TagPrefix + span

  final case class Span(id: Long, name: String, layer: String, parent: Long, opId: Long,
      startNs: Long, var endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Counts per span from Spark's public listener APIs. Jobs are
  * attributed by the `streaming.sql.batchId` job property when present
  * (to `batch` or `maintenance_batch` by the workload's cadence),
  * otherwise by [[Trace.SpanProperty]]. SQL planning time comes from
  * the QueryExecutionListener (the planning phases of each finished
  * query). Spark delivers that callback on the shared listener queue
  * while it dispatches the query's execution-end event, just before this
  * listener sees the same event, so the two are paired there; the
  * execution's span is its first job's span, else the span tag the
  * execution-start event carries.
  */
final class SparkCounters(isMaintenanceBatch: Long => Boolean) extends SparkListener
    with QueryExecutionListener {

  final class Acc {
    var jobs, stages, tasks = 0L
    var planningMs, cpuMs = 0.0
    var shuffleBytes, spillBytes, outputBytes, inputBytes = 0L
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  @volatile private var ended: Option[Double] = None
  @volatile private var unattributed = 0.0

  def acc(span: String): Acc = accs.computeIfAbsent(span, _ => new Acc)
  def spans: Map[String, Acc] = accs.asScala.toMap

  private def spanOf(props: java.util.Properties): String = {
    val batch = Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    batch match {
      case Some(b) => if (isMaintenanceBatch(b.toLong)) "maintenance_batch" else "batch"
      case None => Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).getOrElse("other")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    val a = acc(span)
    a.synchronized { a.jobs += 1 }
    e.stageIds.foreach(stageSpan.put(_, span))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan.put(id.toLong, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageInfo.stageId, "other"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, "other"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.cpuMs += m.executorCpuTime / 1e6
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private def addPlanning(span: String, ms: Double): Unit = {
    val a = acc(span)
    a.synchronized { a.planningMs += ms }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    ended = Some(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart =>
      start.jobTags.find(_.startsWith(Trace.TagPrefix))
        .foreach(t => execSpan.putIfAbsent(start.executionId, t.stripPrefix(Trace.TagPrefix)))
    case end: SparkListenerSQLExecutionEnd =>
      ended.foreach { ms =>
        Option(execSpan.remove(end.executionId)) match {
          case Some(span) => addPlanning(span, ms)
          case None => synchronized { unattributed += ms }
        }
      }
      ended = None
    case _ => ()
  }

  /** Planning time of queries no span could be tied to. */
  def unattributedPlanningMs: Double = unattributed
}

/** Spark jobs started in this JVM: in all, per [[Trace.SpanProperty]]
  * value and per `streaming.sql.batchId`, from the public SparkListener.
  */
final class JobCount extends SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  private val n = new AtomicLong(0)
  private val bySpan = new ConcurrentHashMap[String, AtomicLong]()
  private val byBatch = new ConcurrentHashMap[Long, AtomicLong]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    n.incrementAndGet()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(Trace.SpanProperty).foreach(s => bySpan.computeIfAbsent(s, _ => new AtomicLong).incrementAndGet())
    prop("streaming.sql.batchId").foreach(b => byBatch.computeIfAbsent(b.toLong, _ => new AtomicLong).incrementAndGet())
  }

  /** Jobs started so far from inside spans named `span`. */
  def of(span: String): Long = Option(bySpan.get(span)).map(_.get()).getOrElse(0L)

  /** Jobs of micro-batch `id` since the last [[clearBatches]] (a new
    * stream checkpoint numbers its batches from 0 again).
    */
  def ofBatch(id: Long): Long = Option(byBatch.get(id)).map(_.get()).getOrElse(0L)
  def clearBatches(): Unit = byBatch.clear()

  /** Jobs started by `body`; waits briefly for the listener bus to deliver them. */
  def during[T](body: => T): (T, Long) = {
    val n0 = n.get()
    val out = body
    Thread.sleep(300)
    (out, n.get() - n0)
  }
}

/** Per-micro-batch progress (`durationMs` phases, input rows), from the
  * public StreamingQueryListener. `onBatch` runs after each recorded
  * batch, on the listener thread.
  */
final class Progress extends StreamingQueryListener {
  final case class Batch(batchId: Long, rows: Long, startMs: Long, durations: Map[String, Long])
  @volatile var onBatch: Batch => Unit = _ => ()
  private val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val b = Batch(p.batchId, p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli, d)
      onBatch(b)
      batches.synchronized { batches += b }
    }
  }

  def all: Seq[Batch] = batches.synchronized(batches.toList)
}

/** Bytes and files that appeared under a directory tree: every scan
  * adds the sizes of files not seen before, so files later removed by
  * maintenance still count as written.
  */
final class DiskDelta(root: File) {
  private val seen = scala.collection.mutable.HashMap.empty[String, Long]
  private var bytes = 0L
  private var files = 0L

  def scan(): Unit = synchronized {
    def walk(f: File): Unit =
      if (f.isFile) {
        val k = f.getPath
        if (!seen.contains(k)) { seen(k) = f.length(); bytes += f.length(); files += 1 }
      } else Option(f.listFiles()).foreach(_.foreach(walk))
    walk(root)
  }

  /** Start counting from what is there now. */
  def baseline(): Unit = synchronized { scan(); bytes = 0L; files = 0L }

  /** Scan; return the bytes of files first seen by this scan. */
  def delta(): Long = synchronized { val b = bytes; scan(); bytes - b }

  def bytesWritten: Long = synchronized(bytes)
  def filesWritten: Long = synchronized(files)
}

object Disk {
  /** Data files (parquet) currently under `root`. */
  def liveFiles(root: File): Long =
    if (!root.exists()) 0L
    else if (root.isFile) (if (root.getName.endsWith(".parquet")) 1L else 0L)
    else Option(root.listFiles()).map(_.map(liveFiles).sum).getOrElse(0L)

  def count(root: File, pred: File => Boolean): Long =
    if (!root.exists()) 0L
    else if (root.isFile) (if (pred(root)) 1L else 0L)
    else Option(root.listFiles()).map(_.map(count(_, pred)).sum).getOrElse(0L)

  /** Highest `v<N>.json` version in a manifest directory (0 if none). */
  def maxVersion(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).map(_.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") => n.stripPrefix("v").stripSuffix(".json").toLong }
      .foldLeft(0L)(math.max)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally f.close()
  }
}

/** Peak Java heap over a window: the heap pools' peak usage is reset
  * before `body` and summed after it, so set-up, the gate and the
  * heap's committed size do not count.
  */
object Heap {
  def during[T](body: => T): (T, Double) = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toList
    pools.foreach(_.resetPeakUsage())
    val out = body
    (out, pools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** Heap still in use after a full collection, in MiB: what the
    * workload and the engine hold on to, free of the collector's sizing.
    * Spark drops the blocks of unreachable broadcasts and shuffles on
    * its cleaner thread, and its listeners let go of finished work on
    * theirs, some time after a collection finds them; so collections
    * are repeated with pauses and the lowest reading is kept.
    */
  def liveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      mem.gc()
      val used = mem.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(250)
      used
    }.min
  }
}

/** CPU time of this JVM (all threads) and the host's steal share over a
  * window. Steal is time the hypervisor ran someone else while this VM
  * wanted a CPU; it inflates wall times but not CPU time.
  */
object Cpu {
  final case class Window(processMs: Double, stealFrac: Double)

  def processNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (steal, total) jiffies from the aggregate line of /proc/stat. */
  private def stealAndTotal: (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
    } finally f.close()
  }

  def during[T](body: => T): (T, Window) = {
    val c0 = processNs
    val (s0, t0) = stealAndTotal
    val out = body
    val (s1, t1) = stealAndTotal
    (out, Window((processNs - c0) / 1e6, (s1 - s0).toDouble / math.max(1L, t1 - t0)))
  }
}
