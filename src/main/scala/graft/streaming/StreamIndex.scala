package graft.streaming

import graft.operators.{AnnIndex, IndexManifests, InvertedIndex}
import org.apache.spark.sql.DataFrame

/** Streaming maintenance for the persisted serving indexes: each
  * micro-batch of NEW documents/vectors folds into [[InvertedIndex]] /
  * [[AnnIndex]] as one churn-sized delta, exactly once.
  *
  * This closes the loop the reference runs for its one persisted
  * artifact (change capture feeding a maintained target on a batch
  * cadence, /root/reference/src/main/scala/main.scala:121-126 +
  * stream-spec-yaml-example.yaml:49 `maintenanceSettings`), applied to
  * the index layer: a corpus ingested through [[StreamMerge]] can keep
  * its serving indexes current FROM THE SAME STREAM, without ever
  * re-reading the indexed history — per-trigger work is proportional to
  * the batch, per-query work stays proportional to the probed
  * buckets/cells.
  *
  * Exactly-once over foreachBatch's at-least-once delivery, the
  * [[StreamMerge.idempotentMerge]] contract transplanted to manifests:
  * the batch id commits INSIDE the same atomic manifest claim as the
  * delta's content (`streams` stamp map, one namespace per stream), so
  * a batch replayed after a crash between the index commit and the
  * checkpoint advance is refused by the committed state itself — the
  * replay stages nothing (cheap pre-check) or at worst stages orphans
  * that vacuum sweeps, and the index never double-counts a document
  * (double-counting would silently inflate df/n/avgdl — wrong BM25
  * scores, not an error). Two checkpointed streams growing ONE index
  * need distinct namespaces; the stamps merge map-wise, so neither
  * stream's replays are confused with the other's progress.
  *
  * Compaction and vacuum run on the checkpointed batch-id cadence and
  * are restart-safe: the stamp pre-check short-circuits only the DELTA
  * on a replayed batch — maintenance still fires, so a crash between
  * the index commit and the checkpoint advance re-runs the (idempotent,
  * content-neutral) pass instead of deferring it a full cadence. They
  * are also best-effort ([[ChangeCapture.maintain]]): an OCC conflict
  * that survives compact/vacuum's internal retries is swallowed —
  * maintenance must never fail a streaming query whose batch already
  * committed. The cadence bounds the per-delta small-file accumulation
  * that costs ~30% serve time after ten unmaintained deltas (BENCH_SF1).
  */
object StreamIndex {

  /** Default stamp namespace; distinct streams MUST override. */
  val DefaultNs = "graft.stream.index"

  final case class Config(
      /** index root directory (a committed index must already exist —
        * build seeds, the stream maintains).
        */
      indexDir: String,
      checkpointDir: String,
      idCol: String,
      /** exactly-once stamp namespace — one per stream (the
        * [[StreamMerge.Config.batchIdProp]] rule).
        */
      ns: String = DefaultNs,
      /** fold per-delta small files every N batches. */
      compactEveryBatches: Option[Int] = Some(8),
      /** expire stale manifests + sweep orphans every N batches. */
      vacuumEveryBatches: Option[Int] = None,
      keepVersions: Int = 2,
      vacuumGraceMs: Long = 60L * 60 * 1000,
      /** rebuild the champion sidecar (top-`c` impact lists for the
        * APPROXIMATE serving mode) after every cadenced compaction.
        * Compaction CLEARS champions (it rewrites the postings list the
        * champion cover indexes), so a stream maintaining an
        * approximate-served index without this silently downgrades its
        * serves to a loud refusal at the first compact cadence — set
        * the same `c` the index was built with. Lexical handlers only
        * (flat and federated); the ANN handlers refuse it loudly.
        */
      championC: Option[Int] = None)

  /** foreachBatch handler growing an inverted index: skip-replay →
    * stamped addDelta → cadenced maintenance. Returns true if the batch
    * was applied, false for a replay skip.
    */
  def invertedBatch(cfg: Config, textCol: String)(
      batch: DataFrame, batchId: Long): Boolean =
    flatFold(cfg, batchId, batch.sparkSession, () => compactLexical(batch.sparkSession, cfg)) {
      InvertedIndex.addDelta(batch, cfg.idCol, textCol, cfg.indexDir,
        stamp = Some(cfg.ns -> batchId))
    }

  /** The scaffolding behind the four flat handlers: skip a replay the
    * committed stamp already covers, else `apply` the batch (stamped),
    * then the cadenced maintenance either way. Returns true if the batch
    * was applied, false for a replay skip.
    */
  private def flatFold(cfg: Config, batchId: Long, spark: org.apache.spark.sql.SparkSession,
      compact: () => Any)(apply: => Unit): Boolean = {
    val replay = IndexManifests.committedBatchId(spark, cfg.indexDir, cfg.ns)
      .exists(_ >= batchId)
    if (!replay) apply
    maintain(cfg, batchId, compact,
      () => IndexManifests.vacuum(spark, cfg.indexDir, cfg.keepVersions, cfg.vacuumGraceMs))
    !replay
  }

  private val NoChampions =
    "championC is the LEXICAL approximate-serving knob — an ANN index has no champion sidecar"

  // compact + (optional) champion-sidecar rebuild: compaction clears the
  // impact lists (the cover indexes die with the postings rewrite), so a
  // stream serving the approximate mode re-selects on the same cadence —
  // inside the same best-effort wrapper (an OCC race defers to the next
  // cadence, never fails the batch)
  private def compactLexical(spark: org.apache.spark.sql.SparkSession, cfg: Config): Unit = {
    InvertedIndex.compact(spark, cfg.indexDir)
    cfg.championC.foreach(c => InvertedIndex.buildChampions(spark, cfg.indexDir, c))
  }

  /** foreachBatch handler growing an ANN index (vectors assign against
    * the persisted centroids — the lists-union identity, so the grown
    * index answers exactly like a one-shot build).
    */
  def annBatch(cfg: Config, vecCol: String)(
      batch: DataFrame, batchId: Long): Boolean = {
    require(cfg.championC.isEmpty, NoChampions)
    val spark = batch.sparkSession
    flatFold(cfg, batchId, spark, () => AnnIndex.compact(spark, cfg.indexDir)) {
      AnnIndex.addDelta(batch, cfg.idCol, vecCol, cfg.indexDir,
        stamp = Some(cfg.ns -> batchId))
    }
  }

  // outside the stamp, on REPLAYED batches too (the stamp pre-check
  // skips only the delta): a crash between the index commit and the
  // checkpoint advance re-fires the pass instead of skipping a cadence
  private def maintain(cfg: Config, batchId: Long, compact: () => Any, vacuum: () => Any): Unit =
    ChangeCapture.maintain(batchId)(cfg.compactEveryBatches -> compact, cfg.vacuumEveryBatches -> vacuum)

  /** CDC foreachBatch against the inverted index — the reference's
    * change-capture loop maintaining the SERVING layer. Batch rows
    * carry (id, text, `opCol` ∈ I/U/D), at most one row per id (dedup
    * upstream with [[graft.operators.Upsert.latestByKey]]). `oldTexts`
    * resolves the INDEXED text of ids leaving the index (U and D rows)
    * from the system of record — e.g. a bucket-pruned catalog point
    * lookup, churn-sized — returning (id, text) rows for only the ids
    * it has. The whole batch lands in ONE atomic manifest claim
    * ([[graft.operators.InvertedIndex.applyCdc]]): new postings,
    * coverage tombstone, corrected vocab/stats, and the exactly-once
    * stamp.
    */
  def invertedCdcBatch(cfg: Config, textCol: String, opCol: String,
      oldTexts: DataFrame => DataFrame)(batch: DataFrame, batchId: Long): Boolean =
    flatFold(cfg, batchId, batch.sparkSession, () => compactLexical(batch.sparkSession, cfg)) {
      val (upserts, leaving) = splitCdc(batch, cfg, opCol)
      InvertedIndex.applyCdc(upserts, oldTexts(leaving), cfg.idCol, textCol,
        cfg.indexDir, stamp = Some(cfg.ns -> batchId))
    }

  /** CDC foreachBatch against the ANN index: same shape, no resolver —
    * the dense side needs only the LEAVING IDS (no corpus stats to
    * correct), so the batch itself carries everything.
    */
  def annCdcBatch(cfg: Config, vecCol: String, opCol: String)(
      batch: DataFrame, batchId: Long): Boolean = {
    require(cfg.championC.isEmpty, NoChampions)
    val spark = batch.sparkSession
    flatFold(cfg, batchId, spark, () => AnnIndex.compact(spark, cfg.indexDir)) {
      val (upserts, leaving) = splitCdc(batch, cfg, opCol)
      AnnIndex.applyCdc(upserts, leaving, cfg.idCol, vecCol,
        cfg.indexDir, stamp = Some(cfg.ns -> batchId))
    }
  }

  /** foreachBatch handler growing a DOCUMENT-PARTITIONED federation
    * ([[graft.operators.ShardedIndex]]): the batch routes by id hash
    * and each affected shard folds its slice as one stamped delta —
    * untouched shards never advance. Exactly-once is PER SHARD (shard
    * manifests are independent chains, each tracking its own
    * high-water mark under `cfg.ns`): a crash mid-loop leaves some
    * shards stamped and some not, and the replay re-routes identically
    * (deterministic hash), so the stamped shards refuse their slices
    * while the rest apply — no shard ever double-counts a document.
    * Cross-shard, a batch lands shard-at-a-time (the federation's
    * documented semantics: S independent pipelines); GLOBAL-stats
    * serving reads each shard's current manifest, so a half-landed
    * batch serves like a half-applied delta — monotone, never
    * corrupt. Maintenance cadence compacts every shard; the vacuum
    * cadence also sweeps crashed folds' routing-staging orphans
    * ([[graft.operators.ShardedIndex.sweepStaging]]).
    *
    * Returns true if ANY shard applied new content, and true for an
    * EMPTY batch (nothing to apply — trivially processed, matching
    * [[invertedBatch]]'s empty-delta semantics; no shard's high-water
    * mark advances, because stamping all S shards for a no-op would be
    * pure commit amplification — a later replay of an empty batch is
    * itself a no-op, so the missing stamp cannot double-count).
    * False = a non-empty full replay.
    */
  def shardedInvertedBatch(cfg: Config, textCol: String)(
      batch: DataFrame, batchId: Long): Boolean =
    shardedFold(cfg, batchId, batch.sparkSession, compactShardedLexical(batch.sparkSession, cfg),
      () => graft.operators.ShardedIndex.addDeltaSharded(
        batch, cfg.idCol, textCol, cfg.indexDir, stamp = Some(cfg.ns -> batchId)))

  /** CDC foreachBatch against the federation: upsert and removal rows
    * route to the SAME shard (one id, one route), so each shard's
    * atomic applyCdc claim covers its whole slice — new postings,
    * coverage tombstone, stats corrections, and the per-shard stamp in
    * one commit. Same resolver contract as [[invertedCdcBatch]].
    */
  def shardedCdcBatch(cfg: Config, textCol: String, opCol: String,
      oldTexts: DataFrame => DataFrame)(batch: DataFrame, batchId: Long): Boolean = {
    val (upserts, leaving) = splitCdc(batch, cfg, opCol)
    shardedFold(cfg, batchId, batch.sparkSession, compactShardedLexical(batch.sparkSession, cfg),
      () => graft.operators.ShardedIndex.applyCdcSharded(upserts, oldTexts(leaving),
        cfg.idCol, textCol, cfg.indexDir, stamp = Some(cfg.ns -> batchId)))
  }

  /** foreachBatch handler growing a DENSE (ANN) federation — the
    * [[shardedInvertedBatch]] contract on vector shards: route once,
    * per-shard stamped deltas against each shard's persisted centroids,
    * empty batch = applied without advancing any shard.
    */
  def shardedAnnBatch(cfg: Config, vecCol: String)(
      batch: DataFrame, batchId: Long): Boolean =
    shardedFold(cfg, batchId, batch.sparkSession, compactShardedAnn(batch.sparkSession, cfg),
      () => graft.operators.ShardedIndex.addDeltaShardedAnn(
        batch, cfg.idCol, vecCol, cfg.indexDir, stamp = Some(cfg.ns -> batchId)))

  /** CDC foreachBatch against the ANN federation — upsert/removal rows
    * route to the same shard; the dense side needs only the leaving ids
    * (the [[annCdcBatch]] rule, federated).
    */
  def shardedAnnCdcBatch(cfg: Config, vecCol: String, opCol: String)(
      batch: DataFrame, batchId: Long): Boolean = {
    val (upserts, leaving) = splitCdc(batch, cfg, opCol)
    shardedFold(cfg, batchId, batch.sparkSession, compactShardedAnn(batch.sparkSession, cfg),
      () => graft.operators.ShardedIndex.applyCdcShardedAnn(upserts, leaving,
        cfg.idCol, vecCol, cfg.indexDir, stamp = Some(cfg.ns -> batchId)))
  }

  /** An I/U/D batch split into the (upserts, leaving-ids) pair every
    * CDC fold consumes. */
  private def splitCdc(batch: DataFrame, cfg: Config,
      opCol: String): (DataFrame, DataFrame) = (
    batch.filter(org.apache.spark.sql.functions.col(opCol) =!= "D").drop(opCol),
    batch.filter(org.apache.spark.sql.functions.col(opCol).isin("U", "D"))
      .select(cfg.idCol))

  // the federated compaction passes: per-shard compact, plus the
  // lexical champion re-selection when `cfg.championC` is set
  private def compactShardedLexical(spark: org.apache.spark.sql.SparkSession,
      cfg: Config): () => Unit = () => {
    graft.operators.ShardedIndex.compactSharded(spark, cfg.indexDir)
    cfg.championC.foreach(c =>
      graft.operators.ShardedIndex.buildChampionsSharded(spark, cfg.indexDir, c))
  }

  private def compactShardedAnn(spark: org.apache.spark.sql.SparkSession,
      cfg: Config): () => Unit = {
    require(cfg.championC.isEmpty, NoChampions)
    () => graft.operators.ShardedIndex.compactShardedAnn(spark, cfg.indexDir)
  }

  /** The ONE scaffolding behind the four federated handlers: per-shard
    * stamp snapshot before/after the routed fold, the
    * empty-batch-applied rule, and cadenced maintenance (the handler's
    * `compact` pass, per-shard vacuum, and the routing-staging orphan
    * sweep). Handlers differ ONLY in the fold and compaction they run;
    * keeping the semantics here means the next contract change lands
    * once, not four times.
    */
  private def shardedFold(cfg: Config,
      batchId: Long, spark: org.apache.spark.sql.SparkSession,
      compact: () => Unit, fold: () => Seq[Int]): Boolean = {
    import graft.operators.ShardedIndex
    val n = ShardedIndex.shardCount(spark, cfg.indexDir)
    def stamped: Seq[Boolean] = (0 until n).map(i => IndexManifests.committedBatchId(
      spark, ShardedIndex.shardDir(cfg.indexDir, i), cfg.ns).exists(_ >= batchId))
    val before = stamped
    val hit = fold()
    val applied = hit.isEmpty ||
      stamped.zip(before).exists { case (now, was) => now && !was }
    maintain(cfg, batchId, compact,
      () =>
        // an in-flight in-place reshard pins serving to pre-transition
        // manifest versions — vacuuming them out from under the pins
        // would crash every mid-transition serve, so the cadence SKIPS
        // vacuum until the flip (the fold itself already refused, so
        // this only matters for the vacuum-only cadence window)
        if (ShardedIndex.inTransition(spark, cfg.indexDir)) 0
        else (0 until n).map(i => IndexManifests.vacuum(spark,
          ShardedIndex.shardDir(cfg.indexDir, i), cfg.keepVersions, cfg.vacuumGraceMs)
        ).sum + ShardedIndex.sweepStaging(spark, cfg.indexDir, cfg.vacuumGraceMs))
    applied
  }

  /** Standard `oldTexts` resolver for [[invertedCdcBatch]]: point-look
    * up the system of record (a catalog table) for the leaving ids'
    * INDEXED text. The distinct id set broadcasts, so the DSv2 scan
    * receives the ids as runtime filters and key-bloom / min-max
    * sidecars prune the files — a churn-sized read of an arbitrarily
    * large table. Resolve against the PRE-batch table state: the
    * crash-safe order is resolve → applyCdc (stamped, idempotent) →
    * catalog MERGE (stamped) — a replay of the index half re-reads
    * text the index still serves, and a replay after both committed is
    * refused by both stamps.
    */
  def catalogResolver(spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String, textCol: String): DataFrame => DataFrame =
    ids => spark.table(table)
      .join(org.apache.spark.sql.functions.broadcast(ids.select(idCol).distinct()),
        Seq(idCol), "left_semi")
      .select(idCol, textCol)

  /** Drain a CDC source into the inverted index (one capture cycle). */
  def runInvertedCdcAvailableNow(source: DataFrame, textCol: String, opCol: String,
      oldTexts: DataFrame => DataFrame, cfg: Config): Long =
    ChangeCapture.drain(source, cfg.checkpointDir)(invertedCdcBatch(cfg, textCol, opCol, oldTexts)(_, _))

  /** Drain all currently-available rows of `source` into the inverted
    * index (one maintenance cycle). Returns micro-batches processed.
    */
  def runInvertedAvailableNow(source: DataFrame, textCol: String, cfg: Config): Long =
    ChangeCapture.drain(source, cfg.checkpointDir)(invertedBatch(cfg, textCol)(_, _))

  /** Same cycle shape for the ANN index. */
  def runAnnAvailableNow(source: DataFrame, vecCol: String, cfg: Config): Long =
    ChangeCapture.drain(source, cfg.checkpointDir)(annBatch(cfg, vecCol)(_, _))

  /** Same cycle shape for the sharded federation. */
  def runShardedAvailableNow(source: DataFrame, textCol: String, cfg: Config): Long =
    ChangeCapture.drain(source, cfg.checkpointDir)(shardedInvertedBatch(cfg, textCol)(_, _))

  /** Same cycle shape for the sharded ANN federation. */
  def runShardedAnnAvailableNow(source: DataFrame, vecCol: String, cfg: Config): Long =
    ChangeCapture.drain(source, cfg.checkpointDir)(shardedAnnBatch(cfg, vecCol)(_, _))
}
