package graftbench

import java.io.File

/** The class-loading pass behind the class-data archive that build.py
  * dumps: one JVM runs every workload at the smoke scale, with the
  * collectors of a traced run attached, and exits. Timed runs then map
  * the classes it loaded from the archive instead of parsing and
  * verifying them from the jars again. `Warm <work dir> <cores>`.
  */
object Warm {
  def main(args: Array[String]): Unit = {
    val Array(dir, nCores) = args
    val work = new File(dir).getAbsolutePath
    val cores = nCores.toInt
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("graftbench-warm")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val progress = new Progress
      spark.streams.addListener(progress)
      val jobs = new JobCount
      spark.sparkContext.addSparkListener(jobs)
      val ctx = new Ctx(spark, 1L, Sizes.smoke, jobs)
      Seq("cdc_merge_mor", "cdc_snapshot_runner", "search_serve_cdc", "curate_batch").foreach { name =>
        val w = Workload(name)
        val counters = new SparkCounters(w.isMaintenanceBatch)
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
        val st = w.setup(ctx, s"$work/$name")
        w.measure(ctx, st, 2.0, new Trace(spark, enabled = true), progress)
        w.gate(ctx, st)
        spark.listenerManager.unregister(counters)
        spark.sparkContext.removeSparkListener(counters)
      }
    } finally spark.stop()
  }
}
