package graft

/** Dumps the formatted plans of the bench queries.
  * Usage: sbt "Test/runMain graft.Explain [substring filter] [output file] [sf dir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = args.lift(0)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val out = new java.io.PrintWriter(args.lift(1).getOrElse("/tmp/plans.txt"))
    for (q <- Queries.benchQueries if only.forall(q.name.contains)) {
      out.println(s"===== ${q.name} =====")
      try out.println(q.run(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => out.println(s"ERROR: ${e.getMessage}") }
    }
    out.close(); spark.stop()
  }
}
