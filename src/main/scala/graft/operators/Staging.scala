package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Staging: group rows into batches capped at `maxRowsPerFile`, the
  * reference's `StagingProcessor` + `staging.table.maxRowsPerFile`.
  *
  * Production write path: the streaming pipeline's merge-on-read delta
  * IS the staged batch — [[graft.sources.SnapshotStore.commitDelta]] caps
  * rows per delta file with Spark's native `maxRecordsPerFile` (zero
  * extra shuffle), so no separate staged copy is written. The
  * `batchAccounting` query exists for the correctness gate: it assigns
  * deterministic batch ids equal to a global row_number's, through the
  * partition-parallel two-phase numbering ([[withGlobalRank]]).
  */
object Staging {
  /** Drop a staged directory once it has been merged — the reference's
    * `DisposeBatchProcessor` drops staging tables after each merge cycle
    * so staged data never accumulates (the backfill shards and Bench's
    * scratch dirs use it). Returns whether anything was deleted. Callers
    * dispose only AFTER the target commit materialized, so a crash
    * between merge and dispose leaves a re-disposable leftover, never
    * data loss.
    */
  def dispose(spark: SparkSession, dir: String): Boolean = {
    val p  = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Global 0-based rank in `orderCol` order WITHOUT an unpartitioned
    * window — two-phase numbering (the `RDD.zipWithIndex` scheme):
    * rows range-partition on the key, number locally per partition in
    * parallel, and the per-partition counts — O(numPartitions)
    * driver-side metadata, not data — become cumulative offsets
    * broadcast back. Every input column is preserved; the rank lands
    * in `rankCol` as a long. Identical to
    * `row_number().over(Window.orderBy(orderCol)) - 1` (given distinct
    * keys) while every stage stays parallel — the plan carries no
    * single-partition exchange. [[batchAccounting]] and the packers'
    * oversize numbering both ride this.
    */
  def withGlobalRank(df: DataFrame, orderCol: String, rankCol: String): DataFrame = {
    val spark = df.sparkSession
    // materialized ONCE: the counts job and the consumer's job would
    // otherwise each replay the input lineage and the range exchange
    val local = df
      .repartitionByRange(col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__pid").orderBy(orderCol)))
      .localCheckpoint()
    val counts = local.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, cnt) =>
      val off = acc; acc += cnt; (pid, off)
    }.toSeq
    if (offsets.isEmpty) return df.withColumn(rankCol, lit(0L)).limit(0)
    val offDf = spark.createDataFrame(offsets).toDF("__pid", "__off")
    local.join(broadcast(offDf), Seq("__pid"))
      .withColumn(rankCol, col("__off") + col("__rn").cast("long") - 1L)
      .drop("__pid", "__rn", "__off")
  }

  /** Deterministic batch accounting: batch id per `maxRows` rows in
    * `orderCol` order, with per-batch stats — [[withGlobalRank]]'s
    * numbering grouped into batches (one shared implementation; a fix
    * to the numbering reaches both callers).
    */
  def batchAccounting(df: DataFrame, orderCol: String, maxRows: Int): DataFrame =
    withGlobalRank(df.select(col(orderCol).as("__k")), "__k", "__r")
      .withColumn("batch_id", expr(s"CAST(__r DIV $maxRows AS BIGINT)"))
      .groupBy("batch_id")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("__k")).as("min_key"),
        max(col("__k")).as("max_key")
      )
      .orderBy("batch_id")
}
