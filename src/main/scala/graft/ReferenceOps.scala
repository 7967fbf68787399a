package graft

import graft.operators._
import graft.sources.BlobListingSource
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Section A of SURVEY.md §2 — the arcane-stream-parquet surface,
  * re-expressed Spark-first. Each entry exercises one operator; ORDER BY
  * clauses are part of the verification contract (deterministic compare),
  * not the operators themselves.
  */
object ReferenceOps {

  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  private def ts(s: String)          = lit(s).cast("timestamp")

  /** Latest event per user — the canonical upsert input used by several
    * entries (CDC "current state" of the events stream keyed on user_id).
    */
  private def latestEvents(spark: SparkSession, dir: String, from: Option[String] = None, until: Option[String] = None): DataFrame = {
    val ev0 = Tables(spark, dir).events
    val ev1 = from.fold(ev0)(f => ev0.filter(col("ts") >= ts(f)))
    val ev  = until.fold(ev1)(u => ev1.filter(col("ts") < ts(u)))
    Upsert.latestByKey(ev, Seq("user_id"), Seq("ts", "event_id"))
  }

  private val latestSql =
    """SELECT event_id, ts, user_id, event_type, value, props FROM events %s
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin

  /** Shared oracle for quantile_sketch + quantile_sketch_rollup (both
    * must agree with it AND each other): the INCLUSIVE-rule quantile in
    * the exact regime is the ceil(q·n)-th order statistic, computed with
    * the same double multiply + ceil the sketch library uses. Ties in
    * c_acctbal are harmless — row_number breaks them arbitrarily but the
    * VALUE at a given rank is tie-order-independent.
    */
  private val quantileOracleSql = """
    WITH r AS (
      SELECT c_nationkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS rn,
             count(*) OVER (PARTITION BY c_nationkey) AS n
      FROM customer
    )
    SELECT c_nationkey, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.25 * n) AS BIGINT)) THEN c_acctbal END) AS p25,
           max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5  * n) AS BIGINT)) THEN c_acctbal END) AS p50,
           max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.75 * n) AS BIGINT)) THEN c_acctbal END) AS p75,
           max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.9  * n) AS BIGINT)) THEN c_acctbal END) AS p90,
           max(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.99 * n) AS BIGINT)) THEN c_acctbal END) AS p99
    FROM r GROUP BY c_nationkey ORDER BY c_nationkey
  """.trim

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "src_parquet_scan",
      (spark, dir) => {
        import spark.implicits._
        // projection + filters all reach the parquet scan (PushedFilters
        // includes l_quantity even though it is not projected)
        Tables(spark, dir).lineitem
          .filter($"l_shipdate" >= ts("2000-01-01") && $"l_quantity" < 10)
          .select($"l_orderkey", $"l_extendedprice", $"l_shipdate")
          .orderBy($"l_orderkey", $"l_extendedprice", $"l_shipdate")
      },
      Some("""
        SELECT l_orderkey, l_extendedprice, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity < 10
        ORDER BY l_orderkey, l_extendedprice, l_shipdate
      """.trim)
    ),
    QueryDef(
      "field_select_include",
      (spark, dir) =>
        FieldSelection(
          Tables(spark, dir).customer,
          FieldSelection.Include(Set("c_name", "c_acctbal")),
          essential = Set("c_custkey")
        ).orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey")
    ),
    QueryDef(
      "field_select_exclude",
      (spark, dir) =>
        FieldSelection(
          Tables(spark, dir).lineitem,
          FieldSelection.Exclude(Set("l_tax", "l_returnflag", "l_linestatus"))
        ).orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_shipdate
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
      """.trim)
    ),
    QueryDef(
      "merge_key",
      (spark, dir) =>
        MergeKey.withMergeKey(Tables(spark, dir).lineitem, Seq("l_orderkey", "l_linenumber"))
          .select("l_orderkey", "l_linenumber", "arcane_merge_key")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""
        SELECT l_orderkey, l_linenumber,
               md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))) AS arcane_merge_key
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber
      """.trim)
    ),
    QueryDef(
      "upsert_latest",
      (spark, dir) => latestEvents(spark, dir).orderBy("user_id"),
      Some(latestSql.format("") + "\nORDER BY user_id"),
      bench = true
    ),
    QueryDef(
      "upsert_cdc_lineitem",
      // the driver data plants duplicate (l_orderkey, l_linenumber) rows
      // in lineitem — the reference's CDC shape on a fact table. Latest
      // version per pk wins; ordering over the full remaining column
      // tuple makes the winner engine-agnostic even among partial dups.
      (spark, dir) => {
        val li = Tables(spark, dir).lineitem
        Upsert.latestByKey(
          li,
          keys = Seq("l_orderkey", "l_linenumber"),
          orderCols = Seq("l_shipdate", "l_extendedprice", "l_partkey", "l_suppkey",
            "l_quantity", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
        ).orderBy("l_orderkey", "l_linenumber")
      },
      Some("""
        SELECT * FROM lineitem
        QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber
          ORDER BY l_shipdate DESC, l_extendedprice DESC, l_partkey DESC, l_suppkey DESC,
                   l_quantity DESC, l_discount DESC, l_tax DESC, l_returnflag DESC, l_linestatus DESC) = 1
        ORDER BY l_orderkey, l_linenumber
      """.trim),
      bench = true
    ),
    QueryDef(
      "merge_into",
      (spark, dir) => {
        val target = latestEvents(spark, dir, until = Some("2024-01-20"))
        val source = latestEvents(spark, dir, from = Some("2024-01-20"))
        MergeInto.merge(target, source, Seq("user_id")).orderBy("user_id")
      },
      Some(s"""
        WITH tgt AS (${latestSql.format("WHERE ts < TIMESTAMP '2024-01-20 00:00:00'")}),
             src AS (${latestSql.format("WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'")})
        SELECT * FROM src
        UNION ALL
        SELECT * FROM tgt WHERE user_id NOT IN (SELECT user_id FROM src)
        ORDER BY user_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "watermark",
      (spark, dir) =>
        Tables(spark, dir).events
          .groupBy(col("event_type").as("stream_id"))
          .agg(max(col("ts")).as("watermark_ts"), count(lit(1)).as("n_records"))
          .orderBy("stream_id"),
      Some("""
        SELECT event_type AS stream_id, max(ts) AS watermark_ts, count(*) AS n_records
        FROM events GROUP BY 1 ORDER BY stream_id
      """.trim)
    ),
    QueryDef(
      "backfill_overwrite",
      (spark, dir) => latestEvents(spark, dir, from = Some("2024-01-10")).orderBy("user_id"),
      Some(latestSql.format("WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'") + "\nORDER BY user_id")
    ),
    QueryDef(
      "backfill_merge",
      // backfill-as-merge: snapshot(<D) merged with slice(>=D) must equal
      // the latest-per-key state over the full history — the oracle IS
      // that equivalence.
      (spark, dir) => {
        val target = latestEvents(spark, dir, until = Some("2024-01-10"))
        val source = latestEvents(spark, dir, from = Some("2024-01-10"))
        MergeInto.merge(target, source, Seq("user_id")).orderBy("user_id")
      },
      Some(latestSql.format("") + "\nORDER BY user_id")
    ),
    QueryDef(
      "backfill_sharded",
      // shard-parallel backfill with completion swap must equal the full
      // recompute (backfill_overwrite's oracle): shards partition the
      // keyspace disjointly by hash, so the union of per-shard upserts IS
      // the global upsert, committed atomically in one snapshot
      (spark, dir) => {
        val base   = java.nio.file.Files.createTempDirectory("graft_backfill").toString
        val source = Tables(spark, dir).events.filter(col("ts") >= ts("2024-01-10"))
        val state  = new Backfill.BackfillStateManager(spark, s"$base/state", "bf-verify")
        Backfill.runSharded(spark, source, Seq("user_id"), Seq("ts", "event_id"),
          nShards = 4, s"$base/staging", s"$base/target", state)
        graft.catalog.GraftTable.read(spark, s"$base/target").get.orderBy("user_id")
      },
      Some(latestSql.format("WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'") + "\nORDER BY user_id")
    ),
    QueryDef(
      "schema_migration",
      (spark, dir) => {
        import spark.implicits._
        val orders = Tables(spark, dir).orders
        val oldDf  = orders.filter($"o_orderdate" < ts("1998-01-01"))
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val newDf = orders.filter($"o_orderdate" >= ts("1998-01-01"))
          .withColumn("o_year", year($"o_orderdate"))
        SchemaMigration.migrate(oldDf, newDf).orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_orderstatus, CAST(NULL AS TIMESTAMP) AS o_orderdate,
               CAST(NULL AS VARCHAR) AS o_orderpriority, CAST(NULL AS INT) AS o_year
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate, o_orderpriority,
               CAST(year(o_orderdate) AS INT)
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        ORDER BY o_orderkey
      """.trim)
    ),
    QueryDef(
      "staging_batches",
      (spark, dir) => {
        val keyed = MergeKey.withMergeKey(latestEvents(spark, dir), Seq("user_id"))
        Staging.batchAccounting(keyed, "arcane_merge_key", maxRows = 25)
      },
      Some(s"""
        WITH latest AS (${latestSql.format("")}),
             keyed AS (SELECT md5(CAST(user_id AS VARCHAR)) AS k FROM latest),
             numbered AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS rn FROM keyed)
        SELECT CAST(rn // 25 AS BIGINT) AS batch_id, count(*) AS n_rows, min(k) AS min_key, max(k) AS max_key
        FROM numbered GROUP BY 1 ORDER BY batch_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "throughput_chunks",
      (spark, dir) =>
        Throughput.chunkAdvice(
          Tables(spark, dir).events,
          groupCol = "event_type",
          stringCols = Seq("props"),
          fixedBytesPerRow = 52L,
          chunkBudgetBytes = 65536L
        ),
      Some("""
        SELECT event_type,
               count(*) AS n_rows,
               CAST(sum(strlen(props)) AS BIGINT) AS string_bytes,
               CAST(sum(strlen(props)) AS BIGINT) // count(*) + 52 AS est_row_bytes,
               greatest(CAST(1 AS BIGINT), 65536 // (CAST(sum(strlen(props)) AS BIGINT) // count(*) + 52)) AS chunk_rows,
               CAST(ceil(CAST(count(*) AS DOUBLE) / greatest(CAST(1 AS BIGINT), 65536 // (CAST(sum(strlen(props)) AS BIGINT) // count(*) + 52))) AS BIGINT) AS n_chunks
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim),
      bench = true
    ),
    QueryDef(
      "compaction",
      (spark, dir) => {
        import spark.implicits._
        // fragment events into 64 small files, compact to ~512 KiB files,
        // then prove the data survived byte-exactly via aggregates
        val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
        val ev   = Tables(spark, dir).events
        ev.repartition(64).write.mode("overwrite").parquet(s"$base/in")
        val compacted = Maintenance.compact(spark, s"$base/in", s"$base/out", targetFileBytes = 512L * 1024)
        compacted.agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"user_id").as("n_users"),
          sum(dec($"value")).cast("double").as("sum_value")
        )
      },
      Some("""
        SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
      """.trim)
    ),
    QueryDef(
      "stream_pipeline",
      (spark, dir) => {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val schema = spark.read.parquet(s"$dir/events.parquet").schema
        StreamPipeline.windowedCounts(spark, schema, dir, "events.parquet", "stream_pipeline_sink")
      },
      Some("""
        SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
      """.trim)
    ),
    QueryDef(
      "analyze_ndv_sketch",
      // mergeable-sketch ndv (the 100 TB path of analyze_stats' exact
      // branch): deterministic estimates, but engine-specific — spec
      // asserts <5% error vs exact and lossless shard merging
      (spark, dir) =>
        Sketches.approxDistinct(Tables(spark, dir).events, Seq("event_type"), "user_id")
          .orderBy("event_type"),
      None,
      bench = true
    ),
    QueryDef(
      "frequent_items",
      // DataSketches frequent-items heavy hitters per cohort (Spark 4.1
      // built-in aggregate — fixed O(maxItemsTracked) state per group).
      // Run in the NO-EVICTION regime (maxItemsTracked ≥ ndv) where
      // counts are exact, so a plain GROUP BY is a faithful oracle; the
      // eviction-regime guarantee and the partials-rollup identity are
      // SketchTopKSpec properties
      (spark, dir) =>
        Sketches.approxTopK(
            Tables(spark, dir).events.withColumn("cohort", pmod(col("user_id"), lit(4))),
            Seq("cohort"), "event_type", k = 8, maxItemsTracked = 64)
          .select(col("cohort"), explode(col("top_items")).as("t"))
          .select(col("cohort"), col("t.item").as("event_type"), col("t.count").as("n"))
          .orderBy(col("cohort"), col("n").desc, col("event_type")),
      Some("""
        SELECT CAST(user_id % 4 AS BIGINT) AS cohort, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2 ORDER BY cohort, n DESC, event_type
      """.trim),
      bench = true
    ),
    QueryDef(
      "join_cardinality",
      // join pre-flight from two HLL sketches: distinct keys per side /
      // union / intersection (inclusion–exclusion) — sizes the shuffle
      // WITHOUT joining or shuffling either table. Estimates are
      // engine-specific -> rows-only; <5% error vs exact and the
      // 3x-compounded intersection bound are SketchTopKSpec properties
      (spark, dir) =>
        Sketches.joinKeyOverlap(
          Tables(spark, dir).orders, "o_custkey",
          Tables(spark, dir).customer, "c_custkey"),
      None,
      bench = true
    ),
    QueryDef(
      "quantile_sketch",
      // mergeable KLL quantiles per nation (the third sketch family,
      // completing HLL ndv + frequent-items). Run in the EXACT regime
      // (group count ≤ k: every value retained, no compaction), where
      // the INCLUSIVE-rule quantile is the ceil(q·n)-th order
      // statistic — the same Math.ceil(q·n) the library computes, so a
      // row_number oracle pins it exactly. The approximate regime's
      // rank-error bound and the persisted-partials rollup are
      // QuantileSketchSpec properties
      (spark, dir) =>
        Sketches.approxQuantiles(Tables(spark, dir).customer,
            Seq("c_nationkey"), "c_acctbal", probs = Seq(0.25, 0.5, 0.75, 0.9, 0.99), k = 4096)
          .select(col("c_nationkey"), col("n"),
            element_at(col("quantiles"), 1).as("p25"),
            element_at(col("quantiles"), 2).as("p50"),
            element_at(col("quantiles"), 3).as("p75"),
            element_at(col("quantiles"), 4).as("p90"),
            element_at(col("quantiles"), 5).as("p99"))
          .orderBy("c_nationkey"),
      Some(quantileOracleSql),
      bench = true
    ),
    QueryDef(
      "quantile_sketch_rollup",
      // the persist-partials/rollup path: per-(nation, segment) sketch
      // bytes UNIONED up to nation — no rescan of customer — must equal
      // the direct per-nation sketch in the exact regime (union of
      // uncompacted sketches retains every value). Same oracle
      (spark, dir) => {
        val partials = Sketches.partialQuantileSketches(Tables(spark, dir).customer,
          Seq("c_nationkey"), Seq("c_mktsegment"), "c_acctbal", k = 4096)
        Sketches.mergeQuantileSketches(partials, Seq("c_nationkey"),
            probs = Seq(0.25, 0.5, 0.75, 0.9, 0.99), k = 4096)
          .select(col("c_nationkey"), col("n"),
            element_at(col("quantiles"), 1).as("p25"),
            element_at(col("quantiles"), 2).as("p50"),
            element_at(col("quantiles"), 3).as("p75"),
            element_at(col("quantiles"), 4).as("p90"),
            element_at(col("quantiles"), 5).as("p99"))
          .orderBy("c_nationkey")
      },
      Some(quantileOracleSql),
      bench = true
    ),
    QueryDef(
      "range_splits",
      // equi-depth range-partition boundaries from ONE KLL pass (what
      // repartitionByRange row-samples for, but mergeable: tomorrow's
      // layout boundaries can roll up from yesterday's persisted shard
      // sketches). numParts=8 is a power of two, so every i/8·n rank is
      // exact double arithmetic in both engines; exact regime (n ≤ k)
      (spark, dir) =>
        Sketches.rangeSplitPoints(Tables(spark, dir).customer, "c_acctbal",
            numParts = 8, k = 32768)
          .orderBy("part"),
      Some("""
        WITH r AS (
          SELECT c_acctbal, row_number() OVER (ORDER BY c_acctbal) AS rn,
                 count(*) OVER () AS n
          FROM customer
        ), p AS (SELECT unnest(range(1, 8)) AS part)
        SELECT CAST(p.part AS INT) AS part,
               max(CASE WHEN r.rn = GREATEST(1, CAST(CEIL((p.part / 8.0) * r.n) AS BIGINT))
                        THEN r.c_acctbal END) AS split_at
        FROM p CROSS JOIN r GROUP BY p.part ORDER BY part
      """.trim),
      bench = true
    ),
    QueryDef(
      "analyze_stats",
      (spark, dir) =>
        Analyze.columnStats(
          Tables(spark, dir).orders,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          exact = true
        ).orderBy("column"),
      Some("""
        SELECT 'o_orderkey' AS "column", count(o_orderkey) AS n_non_null, count(DISTINCT o_orderkey) AS ndv,
               CAST(min(o_orderkey) AS VARCHAR) AS min_value, CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
        UNION ALL
        SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(o_orderstatus), count(DISTINCT o_orderstatus),
               CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(o_totalprice), count(DISTINCT o_totalprice),
               CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM orders
        ORDER BY "column"
      """.trim),
      bench = true
    ),
    QueryDef(
      "analyze_corr",
      // Pearson correlation matrix in ONE scan: moment sums (Σx, Σx²,
      // Σxy per pair) as exact integer cents — order-independent where
      // the built-in corr's double accumulation is not — numerator and
      // variance terms formed in INTEGER space (double-space a·b−c·d is
      // both cancellation-lossy and FMA-contraction-ambiguous across
      // engines), then one cast + sqrt/×/÷: all single IEEE ops
      (spark, dir) =>
        Analyze.corrMatrix(Tables(spark, dir).lineitem,
            Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
          .orderBy("col_x", "col_y"),
      Some("""
        WITH c AS (
          SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS HUGEINT) AS q,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS HUGEINT) AS e,
                 CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS HUGEINT) AS d,
                 CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS HUGEINT) AS t
          FROM lineitem
        ), s AS (
          SELECT CAST(count(*) AS HUGEINT) AS n,
                 sum(q) AS s_q, sum(q*q) AS ss_q,
                 sum(e) AS s_e, sum(e*e) AS ss_e,
                 sum(d) AS s_d, sum(d*d) AS ss_d,
                 sum(t) AS s_t, sum(t*t) AS ss_t,
                 sum(q*e) AS sp_qe, sum(q*d) AS sp_qd, sum(q*t) AS sp_qt,
                 sum(e*d) AS sp_ed, sum(e*t) AS sp_et, sum(d*t) AS sp_dt
          FROM c
        )
        SELECT * FROM (
          SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
                 CAST(n * sp_qe - s_q * s_e AS DOUBLE) / (sqrt(CAST(n * ss_q - s_q * s_q AS DOUBLE)) * sqrt(CAST(n * ss_e - s_e * s_e AS DOUBLE))) AS corr FROM s
          UNION ALL SELECT 'l_quantity', 'l_discount',
                 CAST(n * sp_qd - s_q * s_d AS DOUBLE) / (sqrt(CAST(n * ss_q - s_q * s_q AS DOUBLE)) * sqrt(CAST(n * ss_d - s_d * s_d AS DOUBLE))) FROM s
          UNION ALL SELECT 'l_quantity', 'l_tax',
                 CAST(n * sp_qt - s_q * s_t AS DOUBLE) / (sqrt(CAST(n * ss_q - s_q * s_q AS DOUBLE)) * sqrt(CAST(n * ss_t - s_t * s_t AS DOUBLE))) FROM s
          UNION ALL SELECT 'l_extendedprice', 'l_discount',
                 CAST(n * sp_ed - s_e * s_d AS DOUBLE) / (sqrt(CAST(n * ss_e - s_e * s_e AS DOUBLE)) * sqrt(CAST(n * ss_d - s_d * s_d AS DOUBLE))) FROM s
          UNION ALL SELECT 'l_extendedprice', 'l_tax',
                 CAST(n * sp_et - s_e * s_t AS DOUBLE) / (sqrt(CAST(n * ss_e - s_e * s_e AS DOUBLE)) * sqrt(CAST(n * ss_t - s_t * s_t AS DOUBLE))) FROM s
          UNION ALL SELECT 'l_discount', 'l_tax',
                 CAST(n * sp_dt - s_d * s_t AS DOUBLE) / (sqrt(CAST(n * ss_d - s_d * s_d AS DOUBLE)) * sqrt(CAST(n * ss_t - s_t * s_t AS DOUBLE))) FROM s
        ) ORDER BY col_x, col_y
      """.trim),
      bench = true
    ),
    QueryDef(
      "name_mapping",
      (spark, dir) =>
        NameMapping.applyMapping(
          Tables(spark, dir).orders,
          Map("o_orderkey" -> "order_id", "o_custkey" -> "customer_id")
        ).select("order_id", "customer_id", "o_totalprice").orderBy("order_id"),
      Some("""
        SELECT o_orderkey AS order_id, o_custkey AS customer_id, o_totalprice
        FROM orders ORDER BY order_id
      """.trim)
    ),
    QueryDef(
      "sink_properties",
      (spark, dir) => {
        import spark.implicits._
        // write with sort order + bloom filters (reference's
        // targetTableProperties), read back, prove data integrity
        val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
        SinkProperties.write(
          Tables(spark, dir).events, s"$base/t",
          SinkProperties.TableProperties(
            sortedBy = Seq("user_id", "ts"),
            bloomFilterColumns = Seq("user_id")))
        spark.read.parquet(s"$base/t").agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"user_id").as("n_users"),
          sum(dec($"value")).cast("double").as("sum_value"))
      },
      Some("""
        SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
      """.trim)
    ),
    QueryDef(
      "q_json_extract",
      // semi-structured payload path: schema'd from_json (JsonToStructs,
      // codegen'd — never a schema-inference pass over the corpus) feeding
      // a plain aggregation
      (spark, dir) => {
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val sch = StructType(Seq(StructField("k", LongType)))
        Tables(spark, dir).events
          .withColumn("k", from_json(col("props"), sch).getField("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
            min("k").as("min_k"), max("k").as("max_k"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
               CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim),
      bench = true
    ),
    QueryDef(
      "snapshot_diff",
      // the inverse of MERGE: change stream (added/deleted/changed) from
      // two plain snapshots — one full-outer hash join on the key, output
      // proportional to churn (operators.SnapshotDiff). The planted
      // snapshot pair exercises all three change types deterministically
      (spark, dir) => {
        val o = Tables(spark, dir).orders
        val oldSnap = o.filter(pmod(col("o_orderkey"), lit(13)) =!= 5)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val newSnap = o.filter(pmod(col("o_orderkey"), lit(11)) =!= 7)
          .select(col("o_orderkey"),
            (col("o_totalprice") +
              when(pmod(col("o_orderkey"), lit(7)) === 0, 1000.0).otherwise(0.0)).as("o_totalprice"),
            col("o_orderstatus"))
        SnapshotDiff.diff(oldSnap, newSnap, Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH old AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 13 != 5
        ), neu AS (
          SELECT o_orderkey,
                 o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 1000.0 ELSE 0.0 END AS o_totalprice,
                 o_orderstatus
          FROM orders WHERE o_orderkey % 11 != 7
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               o.o_totalprice AS old_o_totalprice, o.o_orderstatus AS old_o_orderstatus,
               n.o_totalprice AS new_o_totalprice, n.o_orderstatus AS new_o_orderstatus,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'deleted'
                    ELSE 'changed' END AS change_type
        FROM old o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey
        WHERE NOT (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                   AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
        ORDER BY o_orderkey
      """.trim),
      bench = true
    ),
    QueryDef(
      "skew_hotkeys",
      // skew diagnosis: the hottest keys and their row share — the report
      // that decides which keys get salted before a job ships (Skew.hotKeys)
      (spark, dir) =>
        Skew.hotKeys(Tables(spark, dir).lineitem, "l_suppkey", k = 25),
      Some("""
        SELECT l_suppkey, count(*) AS n,
               CAST(count(*) AS DOUBLE) / total AS share
        FROM lineitem, (SELECT count(*) AS total FROM lineitem)
        GROUP BY l_suppkey, total
        ORDER BY n DESC, l_suppkey LIMIT 25
      """.trim),
      bench = true
    ),
    QueryDef(
      "cdc_apply",
      // CDC replay roundtrip: diff two snapshots, apply the change stream
      // back to the old one — the oracle is LITERALLY the new snapshot
      // (apply ∘ diff == identity), the strongest correctness statement a
      // change-feed pair can make
      (spark, dir) => {
        val o = Tables(spark, dir).orders
        val oldSnap = o.filter(pmod(col("o_orderkey"), lit(13)) =!= 5)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val newSnap = o.filter(pmod(col("o_orderkey"), lit(11)) =!= 7)
          .select(col("o_orderkey"),
            (col("o_totalprice") +
              when(pmod(col("o_orderkey"), lit(7)) === 0, 1000.0).otherwise(0.0)).as("o_totalprice"),
            col("o_orderstatus"))
        val changes = SnapshotDiff.diff(oldSnap, newSnap, Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
        SnapshotDiff.applyChanges(oldSnap, changes, Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 1000.0 ELSE 0.0 END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 11 != 7
        ORDER BY o_orderkey
      """.trim),
      bench = true
    ),
    QueryDef(
      "scd2_history",
      // the warehouse shape downstream of the CDC surface: the event
      // stream as a type-2 dimension of per-user status — no-op
      // re-emits collapsed, half-open [valid_from, valid_to) versions,
      // one is_current row per user. Both windows share the user
      // partitioning → ONE shuffle (plan-asserted in Scd2Spec)
      (spark, dir) =>
        Scd2.buildHistory(
            Tables(spark, dir).events
              .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
            keys = Seq("user_id"), attrs = Seq("event_type"),
            tsCol = "ts", orderCols = Seq("event_id"))
          .orderBy("user_id", "valid_from"),
      Some("""
        WITH o AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        ), v AS (
          SELECT user_id, event_type, ts AS valid_from FROM o
          WHERE prev IS NULL OR prev != event_type
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current
        FROM v ORDER BY user_id, valid_from
      """.trim),
      bench = true
    ),
    QueryDef(
      "scd2_incremental",
      // the daily dimension refresh: an append-only change delta folds
      // into the built history touching only current rows — cost
      // O(delta + closed rows), never O(history). The oracle is the
      // FULL-log rebuild: incremental ∘ split == rebuild, the same
      // identity contract cdc_apply carries
      (spark, dir) => {
        val events = Tables(spark, dir).events
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        val cutoff = lit("2024-01-20").cast("timestamp")
        Scd2.applyChanges(
            Scd2.buildHistory(events.filter(col("ts") < cutoff),
              Seq("user_id"), Seq("event_type"), "ts", Seq("event_id"), keepOrder = true),
            events.filter(col("ts") >= cutoff),
            Seq("user_id"), Seq("event_type"), "ts", Seq("event_id"))
          .orderBy("user_id", "valid_from")
      },
      Some("""
        WITH o AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        ), v AS (
          SELECT user_id, event_type, ts AS valid_from, event_id FROM o
          WHERE prev IS NULL OR prev != event_type
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current,
               event_id
        FROM v ORDER BY user_id, valid_from
      """.trim),
      bench = true
    ),
    QueryDef(
      "scd2_lookup",
      // the consumption side of SCD2: annotate each purchase with the
      // user-status version valid AT purchase time. Tiled half-open
      // versions make the interval join a backward as-of join →
      // AsOfJoin's one-shuffle union+carry-forward plan, no interval
      // cross product (the oracle runs the literal BETWEEN join)
      (spark, dir) => {
        val events = Tables(spark, dir).events
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        val hist  = Scd2.buildHistory(events,
          Seq("user_id"), Seq("event_type"), "ts", Seq("event_id"))
        val facts = events.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        Scd2.lookupAsOf(facts, hist, Seq("user_id"), "ts", Seq("event_type"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("last_event_type").as("status"),
            col("last_valid_from").as("valid_from"))
          .orderBy("event_id")
      },
      Some("""
        WITH o AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        ), v AS (
          SELECT user_id, event_type, ts AS valid_from FROM o
          WHERE prev IS NULL OR prev != event_type
        ), h AS (
          SELECT user_id, event_type AS status, valid_from,
                 lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
          FROM v
        )
        SELECT e.event_id, e.user_id, e.ts, h.status, h.valid_from
        FROM events e JOIN h ON e.user_id = h.user_id
          AND e.ts >= h.valid_from AND (h.valid_to IS NULL OR e.ts < h.valid_to)
        WHERE e.event_type = 'purchase'
        ORDER BY e.event_id
      """.trim),
      bench = true
    ),
    QueryDef(
      "zorder_layout",
      // two-dimensional clustering for data skipping: the per-bucket
      // extents returned ARE the footer stats a reader prunes on; the
      // oracle recomputes the identical bit-interleave, proving the
      // layout function engine-exact (operators.Layout)
      (spark, dir) =>
        Layout.bucketExtents(Tables(spark, dir).lineitem,
            "l_partkey", "l_suppkey", bits = 12, bucketShift = 12)
          .orderBy("bucket"),
      Some(s"""
        WITH s AS (
          SELECT min(l_partkey) AS mnx, max(l_partkey) AS mxx,
                 min(l_suppkey) AS mny, max(l_suppkey) AS mxy
          FROM lineitem
        ), g AS (
          SELECT l_partkey, l_suppkey,
                 ((l_partkey - mnx) * 4095) // greatest(mxx - mnx, 1) AS gx,
                 ((l_suppkey - mny) * 4095) // greatest(mxy - mny, 1) AS gy
          FROM lineitem, s
        ), z AS (
          SELECT l_partkey, l_suppkey,
                 ${Layout.zValueSql("gx", "gy", 12)} AS zv
          FROM g
        )
        SELECT zv >> 12 AS bucket, count(*) AS n,
               min(l_partkey) AS min_x, max(l_partkey) AS max_x,
               min(l_suppkey) AS min_y, max(l_suppkey) AS max_y
        FROM z GROUP BY 1 ORDER BY 1
      """.trim),
      bench = true
    ),
    QueryDef(
      "zorder_layout3",
      // k-column Morton clustering (real layouts cluster 3-4 predicate
      // columns): round-robin bit interleave over three normalized grids
      (spark, dir) =>
        Layout.bucketExtentsN(Tables(spark, dir).lineitem,
            Seq("l_partkey", "l_suppkey", "l_orderkey"), bits = 12, bucketShift = 24)
          .orderBy("bucket"),
      Some(s"""
        WITH s AS (
          SELECT min(l_partkey) AS mn1, max(l_partkey) AS mx1,
                 min(l_suppkey) AS mn2, max(l_suppkey) AS mx2,
                 min(l_orderkey) AS mn3, max(l_orderkey) AS mx3
          FROM lineitem
        ), g AS (
          SELECT l_partkey, l_suppkey, l_orderkey,
                 ((l_partkey - mn1) * 4095) // greatest(mx1 - mn1, 1) AS g1,
                 ((l_suppkey - mn2) * 4095) // greatest(mx2 - mn2, 1) AS g2,
                 ((l_orderkey - mn3) * 4095) // greatest(mx3 - mn3, 1) AS g3
          FROM lineitem, s
        ), z AS (
          SELECT l_partkey, l_suppkey, l_orderkey,
                 ${Layout.zValueNSql(Seq("g1", "g2", "g3"), 12)} AS zv
          FROM g
        )
        SELECT zv >> 24 AS bucket, count(*) AS n,
               min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey,
               min(l_suppkey) AS min_l_suppkey, max(l_suppkey) AS max_l_suppkey,
               min(l_orderkey) AS min_l_orderkey, max(l_orderkey) AS max_l_orderkey
        FROM z GROUP BY 1 ORDER BY 1
      """.trim),
      bench = true
    ),
    QueryDef(
      "dq_checks",
      // pre-promotion validation gate: all row-level checks fold into ONE
      // scan (sum(when) columns); uniqueness is one hash agg; FK orphans
      // are broadcast anti-joins — the fact table never shuffles
      (spark, dir) => {
        val t = Tables(spark, dir)
        DataQuality.gate(
          t.lineitem,
          rowLevel = Seq(
            DataQuality.notNull("l_orderkey"),
            DataQuality.inRange("l_quantity", 1, 50),
            DataQuality.inRange("l_discount", 0, 0.1),
            DataQuality.matches("l_returnflag", "^[ANR]$")),
          uniqueKeys = Seq("l_orderkey", "l_linenumber"),
          refs = Seq(
            ("l_partkey", t.part, "p_partkey"),
            ("l_suppkey", t.supplier, "s_suppkey"))
        ).orderBy("check")
      },
      Some("""
        SELECT 'not_null_l_orderkey' AS "check",
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
               count(*) AS total FROM lineitem
        UNION ALL
        SELECT 'range_l_quantity',
               CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
               count(*) FROM lineitem
        UNION ALL
        SELECT 'range_l_discount',
               CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT),
               count(*) FROM lineitem
        UNION ALL
        SELECT 'matches_l_returnflag',
               CAST(sum(CASE WHEN NOT regexp_matches(l_returnflag, '^[ANR]$') THEN 1 ELSE 0 END) AS BIGINT),
               count(*) FROM lineitem
        UNION ALL
        SELECT 'unique_l_orderkey_l_linenumber',
               CAST(COALESCE(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0) AS BIGINT),
               CAST(COALESCE(sum(n), 0) AS BIGINT)
        FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'ref_l_partkey_to_p_partkey',
               (SELECT count(*) FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL),
               (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'ref_l_suppkey_to_s_suppkey',
               (SELECT count(*) FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL),
               (SELECT count(*) FROM lineitem)
        ORDER BY "check"
      """.trim),
      bench = true
    ),
    QueryDef(
      "join_incremental",
      // incremental JOIN view maintenance (delta rule, append-only):
      // yesterday's materialized orders⨝lineitem plus three delta joins
      // whose broadcast build side is always the day-sized delta — refresh
      // cost ∝ churn, yet the result is row-identical to the oracle's
      // full re-join
      (spark, dir) => {
        val o      = Tables(spark, dir).orders
        val l      = Tables(spark, dir).lineitem
        val oldO   = o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        val dO     = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        val oldL   = l.filter(pmod(col("l_suppkey"), lit(5)) =!= 0)
        val dL     = l.filter(pmod(col("l_suppkey"), lit(5)) === 0)
        val onKey  = col("o_orderkey") === col("l_orderkey")
        val view   = oldO.join(oldL, onKey) // yesterday's materialization
        Incremental.refreshJoinView(view, oldO, oldL, dO, dL, onKey)
          .select(col("o_orderkey"), col("l_linenumber"),
            col("o_totalprice"), col("l_quantity"))
          .orderBy("o_orderkey", "l_linenumber")
      },
      Some("""
        SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ORDER BY o_orderkey, l_linenumber
      """.trim),
      bench = true
    ),
    QueryDef(
      "agg_incremental",
      // incremental aggregate maintenance: refresh a materialized per-key
      // summary from a delta batch WITHOUT rescanning history — merge cost
      // is O(summary + delta), yet the result is bit-equal to the oracle's
      // full recompute (additive states, decimal-exact sums)
      (spark, dir) => {
        val li      = Tables(spark, dir).lineitem
        val cutoff  = ts("1996-01-01")
        val history = li.filter(col("l_shipdate") < cutoff)
        val delta   = li.filter(col("l_shipdate") >= cutoff)
        val old     = Incremental.summarize(history, Seq("l_partkey"), Seq("l_quantity", "l_extendedprice"))
        Incremental.refresh(old, delta, Seq("l_partkey"), Seq("l_quantity", "l_extendedprice"))
          .select(col("l_partkey"), col("n"),
            col("sum_l_quantity").cast("double").as("sum_qty"),
            col("min_l_quantity").cast("double").as("min_qty"),
            col("max_l_quantity").cast("double").as("max_qty"),
            col("sum_l_extendedprice").cast("double").as("sum_price"),
            col("min_l_extendedprice").cast("double").as("min_price"),
            col("max_l_extendedprice").cast("double").as("max_price"))
          .orderBy("l_partkey")
      },
      Some("""
        SELECT l_partkey, count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
               CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
               CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        FROM lineitem GROUP BY l_partkey ORDER BY l_partkey
      """.trim),
      bench = true
    ),
    QueryDef(
      "blob_listing",
      // filesystem-dependent (mtimes): rows-only check here; semantics
      // covered by BlobListingSpec
      (spark, dir) => {
        import spark.implicits._
        BlobListingSource.listBlobs(spark, dir).map(b => (b.name, b.sizeBytes)).toDF("name", "size_bytes").orderBy("name")
      },
      None
    )
  )
}
