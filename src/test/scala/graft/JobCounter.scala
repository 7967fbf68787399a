package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts Spark jobs from outside the code under test: a SparkListener
  * records every job start's local properties, and [[drain]] runs one
  * marker job to flush the asynchronous listener bus. Events arrive in
  * order, so once the marker's start is seen every earlier job's start
  * has been recorded. Use it through [[JobCounter.apply]], which
  * removes the listener afterwards.
  */
final class JobCounter private (spark: SparkSession) {
  private val started = new ConcurrentLinkedQueue[Properties]()
  private val markers = new Semaphore(0)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new Properties())
      if (p.getProperty(JobCounter.Marker) != null) markers.release() else started.add(p)
    }
  }

  /** The local properties of every job started since the previous
    * drain (marker jobs excluded), in start order.
    */
  def drain(): Seq[Properties] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobCounter.Marker, "1")
    try spark.range(1).collect() finally sc.setLocalProperty(JobCounter.Marker, null)
    assert(markers.tryAcquire(30, TimeUnit.SECONDS), "listener bus did not drain")
    Iterator.continually(started.poll()).takeWhile(_ != null).toSeq
  }

  /** The number of jobs that `f` starts, counted between two drains. */
  def jobsOf(f: => Any): Int = {
    drain()
    f
    drain().size
  }
}

object JobCounter {
  val Marker = "graft.spec.marker"

  def apply[A](spark: SparkSession)(f: JobCounter => A): A = {
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c.listener)
    try f(c) finally spark.sparkContext.removeSparkListener(c.listener)
  }
}
