package graft.catalog

/** Process-wide counter of Graft file opens — the read-amplification
  * observable. Each partition reader increments once per data file it
  * actually opens, and a compaction, whose rewrite reads plain parquet,
  * adds each data, position-delete and key-set file it read once, so
  * (counter delta) across a batch = files READ for that batch: 0 for a
  * stream upsert batch, which never reads its target, and the compacted
  * inputs for a maintenance batch.
  * Single-JVM (local[*]) scope is exactly the bench/spec
  * topology; on a real cluster the same signal comes from the scan's
  * planned-files count in the UI. LongAdder: contention-free on the hot
  * path, cost is one cache-line add per FILE (not per row).
  */
object GraftReadMetrics {
  private val opened = new java.util.concurrent.atomic.LongAdder

  private[catalog] def fileOpened(): Unit = opened.increment()

  private[catalog] def filesOpened(n: Int): Unit = opened.add(n)

  /** Total files opened by graft scans and compactions in this JVM so far. */
  def dataFilesOpened: Long = opened.sum()
}
