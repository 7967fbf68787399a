package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sharded backfill with completion swap — the reference's
  * `BlobSourceShardFactory` + `BlobShardedBackfillStreamDataProvider` +
  * `ShardStagingProcessor` + `BackfillCompletionProcessor`
  * (/root/reference/src/main/scala/main.scala:100-107): the backfill
  * keyspace is split into independent shards, each shard is staged on its
  * own (restartable unit of work), and only when every shard is staged is
  * the target atomically swapped to the recomputed snapshot.
  *
  * Spark-first shape: a shard is `pmod(hash(keys), nShards) = i` — a
  * deterministic disjoint partition of the merge keyspace, so the union
  * of per-shard upserts equals the global upsert (latest-per-key never
  * crosses shards). Each shard stage is one distributed job over a
  * pruned scan; the completion swap is one replace commit of the Graft
  * catalog table at the target dir
  * ([[graft.catalog.GraftMaintenance.overwrite]], an atomic manifest
  * claim), so readers see either the old target or the complete
  * backfill, never a partial one.
  *
  * `BackfillStateManager` persists which shards are staged (the
  * reference's `DefaultBackfillStateManager`, main.scala:15): an
  * interrupted backfill resumes from the next unstaged shard instead of
  * recomputing everything.
  */
object Backfill {

  /** Persisted backfill progress: one empty marker file per completed
    * shard under `stateDir/<backfillId>/`. Marker writes happen AFTER the
    * shard's staging write, so a crash between the two merely re-stages
    * one shard (staging writes are idempotent overwrites).
    */
  final class BackfillStateManager(spark: SparkSession, stateDir: String, val backfillId: String) {
    private val root = new Path(stateDir, backfillId)
    private def fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def completedShards(): Set[Int] =
      if (!fs.exists(root)) Set.empty
      else
        fs.listStatus(root)
          .map(_.getPath.getName)
          .collect { case n if n.startsWith("shard-") => n.stripPrefix("shard-").toInt }
          .toSet

    def markCompleted(shard: Int): Unit = {
      fs.mkdirs(root)
      fs.create(new Path(root, s"shard-$shard"), true).close()
    }

    /** Drop all progress markers once the completion swap landed. */
    def clear(): Unit = { fs.delete(root, true); () }
  }

  final case class ShardedResult(stagedThisRun: Seq[Int], skippedResumed: Seq[Int], committedVersion: Long)

  private def shardCol(keys: Seq[String], nShards: Int) =
    pmod(hash(keys.map(col): _*), lit(nShards))

  /** Stage one shard: latest-per-key upsert of the shard's slice of
    * `source`, written to `stagingDir/shard=<i>`. Public so an
    * interrupted run can be reproduced/verified shard by shard.
    */
  def stageShard(
      source: DataFrame, keys: Seq[String], orderCols: Seq[String],
      nShards: Int, shard: Int, stagingDir: String
  ): Unit =
    Upsert.latestByKey(source.filter(shardCol(keys, nShards) === shard), keys, orderCols)
      .write.mode("overwrite").parquet(s"$stagingDir/shard=$shard")

  /** Run (or resume) a sharded backfill and atomically swap the target.
    * Returns which shards were staged by THIS run vs resumed from state.
    */
  def runSharded(
      spark: SparkSession,
      source: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      nShards: Int,
      stagingDir: String,
      targetDir: String,
      state: BackfillStateManager
  ): ShardedResult = {
    require(nShards >= 1)
    val done    = state.completedShards()
    val staged  = Seq.newBuilder[Int]
    val skipped = Seq.newBuilder[Int]
    (0 until nShards).foreach { shard =>
      if (done.contains(shard)) skipped += shard
      else {
        stageShard(source, keys, orderCols, nShards, shard, stagingDir)
        state.markCompleted(shard)
        staged += shard
      }
    }
    // completion swap: one atomic commit over all staged shards
    val full = spark.read.parquet((0 until nShards).map(i => s"$stagingDir/shard=$i"): _*)
    val v    = graft.catalog.GraftMaintenance.overwrite(full, targetDir, "backfill").version
    state.clear()
    // staged shards are merge inputs, not a second copy of the target:
    // dispose them after the swap (the reference's DisposeBatchProcessor)
    (0 until nShards).foreach(i => Staging.dispose(spark, s"$stagingDir/shard=$i"))
    ShardedResult(staged.result(), skipped.result(), v)
  }
}
