package graft

import org.apache.spark.sql.functions._

/** Dev tool: dump the PRE-COLLECT serve frames of the lexical and
  * dense lifecycles after a tombstoning CDC batch (the entry-level
  * Explain shows only the LocalTableScan tail that
  * [[ServingIndexes.disposeAfter]] collects — VERDICT r15 #9 asked for
  * the frames that actually show structure).
  * args: [output file] [sf dir]
  */
object DumpServePlans {
  def main(args: Array[String]): Unit = {
    val outPath = args.lift(0).getOrElse("/tmp/serve_plans.txt")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new java.io.PrintWriter(outPath)
    def dump(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      out.println(s"===== $name =====")
      out.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    val work = java.nio.file.Files.createTempDirectory("graft_plandump").toString + "/idx"
    val docs = Tables(spark, sfDir).documents
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select("doc_id", "text")
    val seed = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    operators.InvertedIndex.build(seed, "doc_id", "text", work, withPositions = false)
    val updates = seed
      .filter(pmod(col("doc_id"), lit(13)) === 6 && pmod(col("doc_id"), lit(11)) =!= 5)
      .select(col("doc_id"), concat_ws(" ", col("text"), col("text")).as("text"))
    val inserts = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val deletes = seed.filter(pmod(col("doc_id"), lit(11)) === 5).select("doc_id")
    val leaving = updates.select("doc_id").unionByName(deletes)
    operators.InvertedIndex.applyCdc(
      upserts = updates.unionByName(inserts),
      removals = seed.join(leaving, Seq("doc_id"), "left_semi"),
      "doc_id", "text", work)
    // the serve frame as bm25TopK plans it (pre-collect)
    dump("serve_bm25TopK_postCdc") {
      operators.InvertedIndex.bm25TopK(docs, "doc_id", "text", work,
        probeIds = Seq(0L, 7L, 42L), k = 5)
    }
    // the dense side's tombstoned serve (the liveRows path): ids ≡ 3
    // mod 17 take new vectors, ids ≡ 5 mod 19 leave
    val emb = Tables(spark, sfDir).embeddings
    val annWork = work.stripSuffix("/idx") + "/ann"
    val corpus = emb.filter(col("vec_id") >= 20)
    operators.AnnIndex.build(corpus, "vec_id", "embedding", annWork, nCells = 8)
    val moved = pmod(col("vec_id"), lit(17)) === 3
    operators.AnnIndex.applyCdc(
      upserts = corpus.filter(moved),
      removalIds = corpus.filter(moved || pmod(col("vec_id"), lit(19)) === 5).select("vec_id"),
      "vec_id", "embedding", annWork)
    dump("serve_annTopK_postCdc") {
      operators.AnnIndex.topK(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        annWork, k = 10)
    }
    out.close()
    spark.stop()
    println(s"wrote $outPath")
  }
}
