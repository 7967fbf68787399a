package graft

import graft.operators.{AnnIndex, InvertedIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The index lifecycle scenario that LifecycleJobsSpec counts jobs over
  * and PlanSpec pins the post-CDC serve trees of: a lexical index built
  * on 4/5 of the documents, then one CDC batch (ids ≡ 6 mod 13 update,
  * ids ≡ 5 mod 11 leave, ids ≡ 4 mod 5 arrive), and a dense index over
  * the embeddings with vec_id >= 20, then one CDC batch (ids ≡ 3 mod 17
  * take new vectors, ids ≡ 5 mod 19 leave). Runs on sf0.01, the scale
  * the `plans/r16` serve dumps were taken at.
  */
final class ServeScenario(spark: SparkSession) {
  private val sfDir = "/root/testdata/sf0.01"

  // both tables resolve here, so their one-off schema-inference jobs
  // fall outside every measured phase
  val docs: DataFrame = Tables(spark, sfDir).documents
    .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    .select("doc_id", "text")
  private def seed = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)

  def lexBuild(dir: String): Unit =
    InvertedIndex.build(seed, "doc_id", "text", dir, withPositions = false)

  def lexApplyCdc(dir: String): Unit = {
    val updates = seed
      .filter(pmod(col("doc_id"), lit(13)) === 6 && pmod(col("doc_id"), lit(11)) =!= 5)
      .select(col("doc_id"), concat_ws(" ", col("text"), col("text")).as("text"))
    val inserts = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val deletes = seed.filter(pmod(col("doc_id"), lit(11)) === 5).select("doc_id")
    val leaving = updates.select("doc_id").unionByName(deletes)
    InvertedIndex.applyCdc(
      upserts = updates.unionByName(inserts),
      removals = seed.join(leaving, Seq("doc_id"), "left_semi"),
      "doc_id", "text", dir)
  }

  /** The pre-collect BM25 serve frame. */
  def lexServe(dir: String): DataFrame =
    InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, probeIds = Seq(0L, 7L, 42L), k = 5)

  val emb: DataFrame = Tables(spark, sfDir).embeddings
  private def corpus = emb.filter(col("vec_id") >= 20)

  def annBuild(dir: String): Unit =
    AnnIndex.build(corpus, "vec_id", "embedding", dir, nCells = 8)

  def annApplyCdc(dir: String): Unit = {
    val moved = pmod(col("vec_id"), lit(17)) === 3
    AnnIndex.applyCdc(
      upserts = corpus.filter(moved),
      removalIds = corpus.filter(moved || pmod(col("vec_id"), lit(19)) === 5).select("vec_id"),
      "vec_id", "embedding", dir)
  }

  /** The pre-collect dense serve frame: the tombstoned (liveRows) path. */
  def annServe(dir: String): DataFrame =
    AnnIndex.topK(emb.filter(col("vec_id") < 20), "vec_id", "embedding", dir, k = 10)
}
