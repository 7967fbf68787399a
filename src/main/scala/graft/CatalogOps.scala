package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registered queries driving the Graft table format end-to-end
  * through Spark SQL — the engine's answer to the reference's Iceberg
  * MERGE target (/root/reference/src/main/scala/main.scala:34-40,
  * 121-126): a real catalog table is created, mutated with ANSI
  * `MERGE INTO` / `UPDATE` / `DELETE` (group-based copy-on-write via
  * [[graft.catalog.GraftTable]]), and the final table state is
  * compared hash-exact against a DuckDB oracle that computes the same
  * mutation relationally.
  *
  * Each invocation works in a fresh table under a per-JVM temp
  * warehouse, so re-runs (verify + multi-pass bench in one JVM) never
  * collide; the result DataFrame stays readable because tables are
  * never dropped mid-flight.
  */
object CatalogOps {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_catalog_ops").toString

  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Register the ops catalog on this session (idempotent) and return
    * a fresh fully-qualified table name.
    */
  private def freshTable(spark: SparkSession): String = {
    spark.conf.set("spark.sql.catalog.graftops", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftops.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftops.db")
    s"graftops.db.t${nextId.incrementAndGet()}"
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "catalog_merge_into",
      (spark, dir) => {
        val tbl = freshTable(spark)
        // target: 3/4 of orders; source: every even order with repriced
        // totals — so MERGE exercises matched-update, not-matched-insert,
        // and untouched-carryover in one statement
        Tables(spark, dir).orders
          .where("o_orderkey % 4 <> 0")
          .selectExpr(
            "o_orderkey", "o_custkey",
            "CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice",
            "o_orderstatus AS status")
          .writeTo(tbl).create()
        Tables(spark, dir).orders
          .where("o_orderkey % 2 = 0")
          .selectExpr(
            "o_orderkey", "o_custkey",
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice",
            "'X' AS status")
          .createOrReplaceTempView("catalog_merge_src")
        spark.sql(s"""
          MERGE INTO $tbl t USING catalog_merge_src s ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET t.totalprice = s.totalprice, t.status = s.status
          WHEN NOT MATCHED THEN INSERT *""")
        // exact decimal math inside the table; DOUBLE only at the final
        // projection (driver-compare convention for money columns)
        spark.sql(s"""SELECT o_orderkey, o_custkey,
          CAST(totalprice AS DOUBLE) AS totalprice, status
          FROM $tbl ORDER BY o_orderkey""")
      },
      Some("""
        WITH tgt AS (
          SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
                 o_orderstatus AS status
          FROM orders WHERE o_orderkey % 4 <> 0),
        src AS (
          SELECT o_orderkey, o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice,
                 'X' AS status
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
               CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.totalprice ELSE t.totalprice END AS DOUBLE) AS totalprice,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.status ELSE t.status END AS status
        FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey
      """.trim),
      bench = true
    ),
    QueryDef(
      "catalog_update_delete",
      (spark, dir) => {
        val tbl = freshTable(spark)
        Tables(spark, dir).customer
          .selectExpr(
            "c_custkey", "CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal", "c_mktsegment")
          .writeTo(tbl).create()
        spark.sql(s"UPDATE $tbl SET acctbal = acctbal + 100 WHERE c_mktsegment = 'BUILDING'")
        spark.sql(s"DELETE FROM $tbl WHERE acctbal < 0")
        spark.sql(s"""SELECT c_custkey, CAST(acctbal AS DOUBLE) AS acctbal, c_mktsegment
          FROM $tbl ORDER BY c_custkey""")
      },
      Some("""
        WITH updated AS (
          SELECT c_custkey,
                 CASE WHEN c_mktsegment = 'BUILDING'
                      THEN CAST(c_acctbal AS DECIMAL(12,2)) + 100
                      ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS acctbal,
                 c_mktsegment
          FROM customer)
        SELECT c_custkey, CAST(CAST(acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal, c_mktsegment
        FROM updated WHERE acctbal >= 0
        ORDER BY c_custkey
      """.trim)
    ),
    QueryDef(
      "catalog_time_travel",
      (spark, dir) => {
        val tbl = freshTable(spark)
        val nat = Tables(spark, dir).nation
          .selectExpr("n_nationkey", "n_name", "n_regionkey")
        nat.where("n_nationkey % 3 = 0").writeTo(tbl).create() // v1 (create+data)
        nat.where("n_nationkey % 3 = 1").writeTo(tbl).append() // v2
        nat.where("n_nationkey % 3 = 2").writeTo(tbl).append() // v3
        // CTAS is two commits (create=v1, data=v2), so VERSION AS OF 2
        // sees exactly the first batch; the head read sees all rows
        spark.sql(s"""
          SELECT n_nationkey, n_name, n_regionkey, 'v2' AS snap
          FROM $tbl VERSION AS OF 2
          UNION ALL
          SELECT n_nationkey, n_name, n_regionkey, 'head' AS snap FROM $tbl
          ORDER BY snap, n_nationkey""")
      },
      Some("""
        SELECT n_nationkey, n_name, n_regionkey, 'v2' AS snap
        FROM nation WHERE n_nationkey % 3 = 0
        UNION ALL
        SELECT n_nationkey, n_name, n_regionkey, 'head' AS snap FROM nation
        ORDER BY snap, n_nationkey
      """.trim)
    ),
    QueryDef(
      "catalog_changes",
      (spark, dir) => {
        // change-data feed across a MERGE commit: net row changes only
        // (carried-over COW rows cancel via EXCEPT ALL), reading only
        // manifest-diff-changed files
        val tbl = freshTable(spark)
        Tables(spark, dir).orders
          .where("o_orderkey % 4 <> 0")
          .selectExpr("o_orderkey",
            "CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice",
            "o_orderstatus AS status")
          .writeTo(tbl).create() // v1 create + v2 data
        Tables(spark, dir).orders
          .where("o_orderkey % 2 = 0")
          .selectExpr("o_orderkey",
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice",
            "'X' AS status")
          .createOrReplaceTempView("catalog_chg_src")
        spark.sql(s"""
          MERGE INTO $tbl t USING catalog_chg_src s ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET t.totalprice = s.totalprice, t.status = s.status
          WHEN NOT MATCHED THEN INSERT *""") // v3
        val tableDir = s"$warehouse/db/${tbl.split('.').last}"
        graft.catalog.GraftChanges.between(spark, tableDir, 2L, 3L)
          .selectExpr("o_orderkey", "CAST(totalprice AS DOUBLE) AS totalprice",
            "status", "_change_type")
          .orderBy("_change_type", "o_orderkey")
      },
      Some("""
        WITH tgt AS (
          SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
                 o_orderstatus AS status
          FROM orders WHERE o_orderkey % 4 <> 0),
        src AS (
          SELECT o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice,
                 'X' AS status
          FROM orders WHERE o_orderkey % 2 = 0),
        merged AS (
          SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                 CASE WHEN s.o_orderkey IS NOT NULL THEN s.totalprice ELSE t.totalprice END AS totalprice,
                 CASE WHEN s.o_orderkey IS NOT NULL THEN s.status ELSE t.status END AS status
          FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey),
        ins AS (SELECT * FROM merged EXCEPT ALL SELECT * FROM tgt),
        del AS (SELECT * FROM tgt EXCEPT ALL SELECT * FROM merged)
        SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice, status,
               'insert' AS _change_type FROM ins
        UNION ALL
        SELECT o_orderkey, CAST(totalprice AS DOUBLE) AS totalprice, status,
               'delete' AS _change_type FROM del
        ORDER BY _change_type, o_orderkey
      """.trim)
    ),
    QueryDef(
      "catalog_merge_mor",
      (spark, dir) => {
        // same merge semantics as catalog_merge_into but on a
        // merge-on-read table: matched updates become position-delete +
        // insert deltas (no data file rewritten — spec-pinned), and the
        // scan applies the deletes. The oracle is the same relational
        // merge, so MOR read correctness is hash-gated.
        val tbl = freshTable(spark)
        spark.sql(s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_custkey BIGINT,
          totalprice DECIMAL(12,2), status STRING)
          TBLPROPERTIES ('graft.merge.mode' = 'merge-on-read')""")
        Tables(spark, dir).orders
          .where("o_orderkey % 4 <> 0")
          .selectExpr(
            "o_orderkey", "o_custkey",
            "CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice",
            "o_orderstatus AS status")
          .writeTo(tbl).append()
        Tables(spark, dir).orders
          .where("o_orderkey % 2 = 0")
          .selectExpr(
            "o_orderkey", "o_custkey",
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice",
            "'X' AS status")
          .createOrReplaceTempView("catalog_mor_src")
        spark.sql(s"""
          MERGE INTO $tbl t USING catalog_mor_src s ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET t.totalprice = s.totalprice, t.status = s.status
          WHEN NOT MATCHED THEN INSERT *""")
        spark.sql(s"""SELECT o_orderkey, o_custkey,
          CAST(totalprice AS DOUBLE) AS totalprice, status
          FROM $tbl ORDER BY o_orderkey""")
      },
      Some("""
        WITH tgt AS (
          SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
                 o_orderstatus AS status
          FROM orders WHERE o_orderkey % 4 <> 0),
        src AS (
          SELECT o_orderkey, o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice,
                 'X' AS status
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
               CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.totalprice ELSE t.totalprice END AS DOUBLE) AS totalprice,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.status ELSE t.status END AS status
        FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey
      """.trim),
      bench = true
    ),
    QueryDef(
      "stream_merge_mor",
      (spark, dir) => {
        // the reference's production loop at its 100 TB shape: a stream
        // of change blobs MERGE'd into a merge-on-read catalog table via
        // foreachBatch, per-batch writes O(churn) (position deletes +
        // batch rows; file-level contract pinned in StreamMergeSpec),
        // batch-id exactly-once via the atomic commit stamp. Oracle =
        // the same relational merge, so the full stream → MERGE → MOR
        // read path is hash-gated end to end.
        val tbl = freshTable(spark)
        val seed = Tables(spark, dir).orders
          .where("o_orderkey % 4 <> 0")
          .selectExpr(
            "o_orderkey", "o_custkey",
            "CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice",
            "o_orderstatus AS status", "CAST(1 AS BIGINT) AS version")
        // seedTarget: bucket column + declared modulus derived from the
        // seed's size — the stream then prunes its per-batch target
        // reads with that modulus, so the oracle gates the PRUNED
        // merge path end to end
        graft.streaming.StreamMerge.seedTarget(spark, tbl, seed, Seq("o_orderkey"))
        val work = java.nio.file.Files.createTempDirectory("graft_smm").toString
        Tables(spark, dir).orders
          .where("o_orderkey % 2 = 0")
          .selectExpr(
            "o_orderkey", "o_custkey",
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice",
            "'X' AS status", "CAST(2 AS BIGINT) AS version")
          .coalesce(1).write.parquet(s"$work/src")
        val schema = spark.read.parquet(s"$work/src").schema
        graft.streaming.StreamMerge.runAvailableNow(spark, schema, graft.streaming.StreamMerge.Config(
          sourceDir = s"$work/src", table = tbl,
          tableDir = s"$warehouse/db/${tbl.split('.').last}",
          checkpointDir = s"$work/ckpt",
          primaryKeys = Seq("o_orderkey"), versionCols = Seq("version")))
        spark.sql(s"""SELECT o_orderkey, o_custkey,
          CAST(totalprice AS DOUBLE) AS totalprice, status, version
          FROM $tbl ORDER BY o_orderkey""")
      },
      Some("""
        WITH tgt AS (
          SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
                 o_orderstatus AS status, CAST(1 AS BIGINT) AS version
          FROM orders WHERE o_orderkey % 4 <> 0),
        src AS (
          SELECT o_orderkey, o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice,
                 'X' AS status, CAST(2 AS BIGINT) AS version
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
               CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.totalprice ELSE t.totalprice END AS DOUBLE) AS totalprice,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.status ELSE t.status END AS status,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.version ELSE t.version END AS version
        FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey
      """.trim),
      bench = true
    ),
    QueryDef(
      "stream_upsert_eqdelete",
      (spark, dir) => {
        // the zero-target-read CDC shape: each micro-batch commits its
        // rows + equality-delete key files (Iceberg v2 / Flink upsert
        // mode); recency ACROSS batches is commit order (the stream's
        // checkpoint guarantees source order), within a batch the
        // version column. Two change-capture cycles: seed, then churn.
        val tbl = freshTable(spark)
        val tableDir = s"$warehouse/db/${tbl.split('.').last}"
        val work = java.nio.file.Files.createTempDirectory("graft_sue").toString
        def blob(df: org.apache.spark.sql.DataFrame): Unit =
          df.coalesce(1).write.mode("append").parquet(s"$work/src")
        blob(Tables(spark, dir).orders
          .where("o_orderkey % 4 <> 0")
          .selectExpr("o_orderkey", "o_custkey",
            "CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice",
            "o_orderstatus AS status", "CAST(1 AS BIGINT) AS version"))
        val schema = spark.read.parquet(s"$work/src").schema
        val cfg = graft.streaming.StreamUpsert.Config(
          sourceDir = s"$work/src", tableDir = tableDir,
          checkpointDir = s"$work/ckpt",
          primaryKeys = Seq("o_orderkey"), versionCols = Seq("version"))
        graft.streaming.StreamUpsert.runAvailableNow(spark, schema, cfg)
        blob(Tables(spark, dir).orders
          .where("o_orderkey % 2 = 0")
          .selectExpr("o_orderkey", "o_custkey",
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice",
            "'X' AS status", "CAST(2 AS BIGINT) AS version"))
        graft.streaming.StreamUpsert.runAvailableNow(spark, schema, cfg)
        spark.sql(s"""SELECT o_orderkey, o_custkey,
          CAST(totalprice AS DOUBLE) AS totalprice, status, version
          FROM $tbl ORDER BY o_orderkey""")
      },
      Some("""
        WITH tgt AS (
          SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
                 o_orderstatus AS status, CAST(1 AS BIGINT) AS version
          FROM orders WHERE o_orderkey % 4 <> 0),
        src AS (
          SELECT o_orderkey, o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 3 AS DECIMAL(12,2)) AS totalprice,
                 'X' AS status, CAST(2 AS BIGINT) AS version
          FROM orders WHERE o_orderkey % 2 = 0)
        SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
               CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.totalprice ELSE t.totalprice END AS DOUBLE) AS totalprice,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.status ELSE t.status END AS status,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.version ELSE t.version END AS version
        FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
        ORDER BY o_orderkey
      """.trim),
      bench = true
    ),
    QueryDef(
      "catalog_partitioned",
      (spark, dir) => {
        // identity-partitioned table: the write's clustered distribution
        // lands one file per event_type, so the partition-scoped query
        // scans exactly one file (plan-asserted in GraftCatalogSpec)
        val tbl = freshTable(spark)
        spark.sql(s"""CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT,
          event_type STRING, value DOUBLE) PARTITIONED BY (event_type)""")
        Tables(spark, dir).events
          .selectExpr("event_id", "user_id", "event_type", "value")
          .writeTo(tbl).append()
        spark.sql(s"""
          SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
          FROM $tbl WHERE event_type = 'purchase'
          GROUP BY user_id ORDER BY user_id""")
      },
      Some("""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id ORDER BY user_id
      """.trim)
    ),
    QueryDef(
      "catalog_meta_agg",
      (spark, dir) => {
        // metadata-only aggregates: answered from manifest stats without
        // reading data files (plan-asserted in GraftCatalogSpec); the
        // oracle checks the VALUES against a real scan in DuckDB
        val tbl = freshTable(spark)
        Tables(spark, dir).lineitem
          .selectExpr("l_orderkey", "l_quantity", "l_returnflag")
          .writeTo(tbl).create()
        spark.sql(s"""SELECT count(*) AS n, count(l_returnflag) AS n_flag,
          CAST(min(l_orderkey) AS BIGINT) AS min_key,
          CAST(max(l_orderkey) AS BIGINT) AS max_key,
          min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag
          FROM $tbl""")
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(l_returnflag) AS BIGINT) AS n_flag,
               CAST(min(l_orderkey) AS BIGINT) AS min_key,
               CAST(max(l_orderkey) AS BIGINT) AS max_key,
               min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag
        FROM lineitem
      """.trim)
    ),
    QueryDef(
      "catalog_zorder",
      (spark, dir) => {
        // z-order re-clustering of a whole table: content invariant
        // (this oracle), file-pruning win plan-asserted in the spec
        val tbl = freshTable(spark)
        Tables(spark, dir).orders
          .selectExpr("o_orderkey", "o_custkey", "o_orderstatus")
          .repartition(8)
          .writeTo(tbl).create()
        val tableDir = s"$warehouse/db/${tbl.split('.').last}"
        graft.catalog.GraftMaintenance.zorder(
          spark, tableDir, "o_orderkey", "o_custkey", bits = 16, targetFiles = 8)
        spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus FROM $tbl ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus FROM orders ORDER BY o_orderkey
      """.trim)
    ),
    QueryDef(
      "catalog_compact",
      (spark, dir) => {
        // many small files in, few consolidated files out, content
        // byte-identical — Iceberg's rewrite_data_files over the Graft
        // format. File-count assertions live in GraftCatalogSpec; the
        // oracle gates content invariance.
        val tbl = freshTable(spark)
        Tables(spark, dir).orders
          .selectExpr("o_orderkey", "o_custkey", "o_orderstatus")
          .repartition(12)
          .writeTo(tbl).create()
        val tableDir = s"$warehouse/db/${tbl.split('.').last}"
        graft.catalog.GraftMaintenance.compact(spark, tableDir, smallBytes = 1L << 30)
        spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus FROM $tbl ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus FROM orders ORDER BY o_orderkey
      """.trim)
    )
  )
}
