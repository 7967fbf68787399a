package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler for scale validation: replicates a
  * testdata slice `factor`× with key offsets so every foreign-key
  * relationship survives intact — replica i of a customer owns replica
  * i of its orders, which own replica i of their lineitems; replica i
  * of a user replays its exact event history under a new user_id.
  * Dimension tables with fixed real-world cardinality (region, nation)
  * are NOT replicated, exactly like TPC-H scaling.
  *
  * Non-key columns are left byte-identical, which is the conservative
  * choice for dedup operators: every document gains `factor` exact
  * copies, so duplicate-group sizes grow with the factor and the
  * candidate-pair mass of the blocked dedup family is stress-tested at
  * its worst (all replicas share every band/bucket/cell).
  *
  * Usage: sbt "Test/runMain graft.tools.ScaleGen <srcDir> <destDir> <factor>"
  */
object ScaleGen {

  /** Key offset per replica — far above any key in the source slices,
    * so replica key ranges never collide. */
  val ReplicaOffset = 100000000L

  private def replicate(df: DataFrame, factor: Int, keyCols: Seq[String]): DataFrame =
    (0 until factor).map { i =>
      keyCols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * ReplicaOffset)))
    }.reduce(_ unionAll _)

  /** table -> int64 key columns shifted per replica (int32 dim refs
    * like nationkey stay put — they point at unreplicated dims). */
  val keyColumns: Map[String, Seq[String]] = Map(
    "region"     -> Seq.empty,
    "nation"     -> Seq.empty,
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id")
  )

  def scaleTable(spark: SparkSession, srcDir: String, destDir: String,
      name: String, factor: Int): Long = {
    val src  = spark.read.parquet(s"$srcDir/$name.parquet")
    val keys = keyColumns.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    val out = if (keys.isEmpty) src else replicate(src, factor, keys)
    out.write.mode("overwrite").parquet(s"$destDir/$name.parquet")
    spark.read.parquet(s"$destDir/$name.parquet").count()
  }

  def main(args: Array[String]): Unit = {
    val (srcDir, destDir, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1 && factor * ReplicaOffset > 0, s"bad factor $factor")
    // optional 4th arg: comma-separated table subset (a rung that only
    // needs documents shouldn't pay for 60M scaled lineitem rows)
    val tables = args.lift(3).map(_.split(',').toSeq)
      .getOrElse(keyColumns.keys.toSeq.sorted)
    tables.foreach(t => require(keyColumns.contains(t), s"unknown table: $t"))
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- tables) {
      val n = scaleTable(spark, srcDir, destDir, name, factor)
      println(s"[scalegen] $name: $n rows")
    }
    spark.stop()
  }
}
