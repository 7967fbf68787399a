package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish tables in a scale-factor
  * directory (see TESTDATA.md). One parquet file per table at test SFs;
  * in production each would be a partitioned directory — the readers
  * below do not assume single-file inputs.
  */
final class Tables(spark: SparkSession, sfDir: String) {
  private def t(name: String): DataFrame = Tables.cachedRead(spark, s"$sfDir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `events.ts` has shipped as both TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) parquet across testdata generations, so branch on
    * the loaded dtype rather than assuming one encoding:
    *  - NANOS: Spark cannot decode it natively; read as raw int64 nanos
    *    (nanosAsLong) and truncate to microseconds — exactly what DuckDB
    *    does for TIMESTAMP_NS (truncation, not rounding), so both engines
    *    agree bit-for-bit.
    *  - MICROS (isAdjustedToUTC=false → TIMESTAMP_NTZ): cast to
    *    TimestampType. The session timezone is pinned UTC
    *    (GraftSession), so the cast is a wall-clock identity and the
    *    downstream column type matches the nanos path.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventsTs(t("events"))
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, sfDir: String): Tables = new Tables(spark, sfDir)

  // Lazy-DataFrame reuse per (session, path): every registered query
  // calls spark.read.parquet on its tables, and each call re-infers the
  // schema from a footer read plus a fresh relation resolution — pure
  // metadata overhead multiplied by the 229-entry bench board. The
  // cached object is a LAZY plan (no data, no results — each query
  // still computes from the parquet bytes). INPUTS MUST BE IMMUTABLE:
  // the cached relation pins the file listing at first read, so a path
  // regenerated in-process would serve stale/missing files — testdata
  // dirs are immutable by contract and no graft operator writes under
  // them (mutable tables go through the catalog, never Tables).
  //
  // Eviction: a DataFrame strongly references its session (the
  // HadoopFsRelation inside the plan holds it), so a session-weak-keyed
  // map could never evict — entries kept their own keys reachable (the
  // round-15 advisor's finding). Instead sessions get an identity uuid
  // through a (value-only, collectable) weak map and the plan cache is
  // BOUNDED. A miss first drops the plans of stopped SparkContexts
  // (never servable again); on overflow it evicts other sessions' plans
  // before the caller's own, so one session's sweep of many paths does
  // not cost another live session its resolved relations.
  private[graft] val ReadCacheMax = 512
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  private[graft] def readCacheSize: Int = readCache.size

  private def cachedRead(spark: SparkSession, path: String): DataFrame = {
    val sid = sessionIds.synchronized {
      var id = sessionIds.get(spark)
      if (id == null) {
        id = java.util.UUID.randomUUID().toString
        sessionIds.put(spark, id)
      }
      id
    }
    val key = (sid, path)
    val hit = readCache.get(key)
    if (hit != null) hit
    else {
      readCache.values.removeIf(_.sparkSession.sparkContext.isStopped)
      if (readCache.size >= ReadCacheMax) {
        readCache.keySet.removeIf(_._1 != sid)
        if (readCache.size >= ReadCacheMax) readCache.clear()
      }
      readCache.computeIfAbsent(key, _ => spark.read.parquet(path))
    }
  }

  /** Normalize the `ts` column of an events frame (batch or streaming) to
    * TimestampType regardless of which parquet encoding the data shipped
    * with — see [[Tables.events]] for the per-encoding rationale. Works
    * on any DataFrame whose schema is already resolved (for streaming
    * readers, pass the reader's declared schema through this same
    * branch).
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer DIV: double division would lose precision above 2^53 ns
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000L")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
}
