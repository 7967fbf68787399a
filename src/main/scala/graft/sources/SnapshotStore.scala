package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only view of a stream target, kept for readers written against
  * the retired SnapshotStore table format. Stream targets are Graft
  * catalog tables now, so [[read]] is the catalog reader
  * ([[graft.catalog.GraftTable.read]]). The benchmark's gate still reads
  * the spec-booted runner's target through this class; a later
  * benchmark-only change reads it through a format-neutral call and
  * deletes this class. Nothing in the engine calls it.
  */
final class SnapshotStore(spark: SparkSession, tableDir: String) {

  /** The table's current snapshot (None if it has no commits). */
  def read(): Option[DataFrame] = graft.catalog.GraftTable.read(spark, tableDir)
}
