package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upsert versioning: latest row per merge key wins.
  *
  * The reference's `UpsertBlobStagedBatchFactory` keeps the newest version
  * of each primary key when staging blobs (its integration test expects
  * exactly one row per distinct key after streaming many files —
  * /root/reference/src/test/scala/tests/IntegrationTests.scala:176-181).
  *
  * Spark-first: `row_number() = 1` over (keys, orderCols desc). Spark
  * plans the rank-1 filter as a WindowGroupLimit pair, and the PARTIAL
  * WindowGroupLimit runs BEFORE the exchange — each task pre-truncates to
  * one candidate row per key, so the single shuffle carries at most
  * |distinct keys| rows per task (asserted in PlanSpec). That is the same
  * 100 TB property the previous `max_by(struct(payload), struct(ord))`
  * aggregation had, without its SortAggregate struct buffers: max_by
  * carried the full payload struct plus the ordering struct through four
  * SortAggregates and compared interpreted structs per row — measured
  * 1.3-1.7x slower on both the low-dup (CDC fact table) and high-dup
  * (events latest-per-user) shapes at sf0.1. Ordering semantics are
  * unchanged: desc = NULLS LAST per column, exactly max_by's
  * null-is-smallest struct order, and the oracle (QUALIFY row_number = 1)
  * is this formulation verbatim.
  * The `orderCols` tuple must be unique per key for determinism; callers
  * pass (versionCol, uniqueTiebreakCol).
  */
object Upsert {
  def latestByKey(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    val rn = freshColumn(df.columns.toSeq, "__rn")
    df.withColumn(rn, row_number().over(w))
      .where(col(rn) === 1)
      .drop(rn)
  }

  /** `base`, or `base` with underscores appended until it names no column
    * in `taken` (case-insensitively, as the analyzer resolves them), so a
    * helper column never shadows or drops an input column.
    */
  def freshColumn(taken: Seq[String], base: String): String = {
    val lower = taken.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    Iterator.iterate(base)(_ + "_").find(n => !lower(n.toLowerCase(java.util.Locale.ROOT))).get
  }
}
