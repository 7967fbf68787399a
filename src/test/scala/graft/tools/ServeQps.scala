package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, InvertedIndex}

/** Concurrent-QPS serving axis: every serve-only board number times ONE
  * query at a time, but a serving index faces concurrent probes — if
  * anything shared (manifest reads, FS handles, driver-side bucket
  * collects, the session's scheduler) serializes, aggregate throughput
  * flatlines as clients multiply and the per-query numbers are a lie at
  * deployment concurrency. This tool builds the two shared indexes
  * once, then drives T ∈ {1, 8, 32} client threads of mixed serve
  * queries (BM25 text, phrase, ANN) through ONE SparkSession — the
  * deployment shape: Spark's scheduler multiplexes concurrent actions
  * over the same executors — and reports aggregate QPS per tier plus
  * the scaling ratio. Queries rotate probe terms/vectors so no plan or
  * page-cache artifact repeats back-to-back.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> sbt "Test/runMain graft.tools.ServeQps"
  */
object ServeQps {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // FAIR scheduling must be set at CONTEXT CREATION (SparkConf, not a
    // local property — TaskSchedulerImpl reads it once at init): with
    // FIFO, one client's multi-stage query convoys everyone else's jobs
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    require(spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO") == "FAIR",
      "an existing session pinned FIFO — run this tool in its own JVM")
    spark.sparkContext.setLogLevel("ERROR")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") >= 5)
    // scratchDir registers JVM-exit deletion — the same backstop the
    // fed dir below (and every bench serving dir) rides
    val lexDir = graft.ServingIndexes.scratchDir("qps_lex")
    InvertedIndex.build(docs, "doc_id", "text", lexDir)
    val annDir = graft.ServingIndexes.scratchDir("qps_ann")
    AnnIndex.build(emb, "vec_id", "embedding", annDir, nCells = 16)

    // query material: mid-frequency tokens (rotating pairs) + probe vectors
    val toks = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().orderBy(desc("count"), col("tok"))
      .limit(64).collect().map(_.getString(0)).drop(16) // skip the stopword head
    require(toks.nonEmpty, s"corpus at $sfDir has too few distinct tokens for the QPS mix")
    val probeVecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 16)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))

    // kinds=3 (default) is the original BM25/phrase/ANN mix every
    // recorded tier used; kinds=5 adds the round-13 interactive
    // features (vocab autocomplete + more-like-this) — the mix a
    // search box actually generates. Separate knob so the 5-kind
    // numbers never masquerade as the 3-kind history.
    // kinds=6 adds the FEDERATED serve (ShardedIndex) and rotates ALL
    // SIX kinds on one modulus (uniform 1/6 each — round-13's i%6
    // intercept stole slots unevenly from the i%5 rotation, so 6-kind
    // fractions weren't comparable to 5-kind history; 6-kind numbers
    // from round 14 on use this blend) — the axis that shows whether
    // the fan-out's extra driver work or its S-way scan width
    // serializes under concurrency
    val kinds = sys.env.getOrElse("SPARK_GRAFT_QPS_KINDS", "3").toInt
    require(kinds == 3 || kinds == 5 || kinds == 6,
      s"SPARK_GRAFT_QPS_KINDS must be 3, 5 or 6, got $kinds")
    val fedDir = if (kinds != 6) "" else {
      // scratchDir registers JVM-exit deletion (the backstop every
      // other serving dir in this harness already rides)
      val d = graft.ServingIndexes.scratchDir("qps_fed")
      graft.operators.ShardedIndex.buildSharded(docs, "doc_id", "text", d, shards = 3)
      d
    }
    def oneQuery(i: Int): Unit = {
      val s = spark.newSession() // isolated SQLConf/plan state per client
      // each client THREAD gets its own ad-hoc scheduler pool: under a
      // FAIR root, sibling pools share fairly — without this, every job
      // lands in the single 'default' pool whose INTERNAL mode is FIFO
      // and inter-client convoying returns through the back door
      s.sparkContext.setLocalProperty("spark.scheduler.pool",
        s"client-${Thread.currentThread().getId}")
      def bm25(): Unit = {
        val a = toks(i % toks.length); val b = toks((i * 7 + 3) % toks.length)
        InvertedIndex.bm25TopKText(s, lexDir, Seq(s"$a $b"), k = 5)
          .write.format("noop").mode("overwrite").save()
      }
      def phrase(): Unit = {
        val a = toks((i * 5 + 1) % toks.length); val b = toks((i * 11 + 2) % toks.length)
        InvertedIndex.phraseTopK(s, lexDir, Seq(s"$a $b"), k = 5)
          .write.format("noop").mode("overwrite").save()
      }
      def ann(): Unit = {
        import s.implicits._
        val (pid, v) = probeVecs(i % probeVecs.length)
        AnnIndex.topK(Seq((pid, v)).toDF("vec_id", "embedding"),
            "vec_id", "embedding", annDir, k = 5, nProbe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      def suggest(): Unit =
        InvertedIndex.suggestTopK(s, lexDir,
            Seq(toks(i % toks.length).take(2)), k = 5)
          .write.format("noop").mode("overwrite").save()
      def mlt(): Unit = {
        val a = toks((i * 3 + 2) % toks.length); val b = toks((i * 13 + 5) % toks.length)
        InvertedIndex.moreLikeThisTopKText(s, lexDir, Seq(s"$a $b"), m = 2, k = 5)
          .write.format("noop").mode("overwrite").save()
      }
      def fed(): Unit = {
        val a = toks((i * 17 + 7) % toks.length); val b = toks((i * 19 + 11) % toks.length)
        graft.operators.ShardedIndex.bm25TopKTextSharded(s, fedDir, Seq(s"$a $b"), k = 5)
          .write.format("noop").mode("overwrite").save()
      }
      kinds match {
        case 3 => i % 3 match {
          case 0 => bm25(); case 1 => phrase(); case _ => ann()
        }
        // kinds=5 keeps its recorded blend EXACTLY (suggest/mlt on i%5,
        // the rest on i%3) so 5-kind history stays comparable
        case 5 => i % 5 match {
          case 3 => suggest(); case 4 => mlt()
          case _ => i % 3 match {
            case 0 => bm25(); case 1 => phrase(); case _ => ann()
          }
        }
        case _ => i % 6 match {
          case 0 => bm25(); case 1 => phrase(); case 2 => ann()
          case 3 => suggest(); case 4 => mlt(); case _ => fed()
        }
      }
    }

    // warmup (JIT + noop writer + parquet footers)
    (0 until 6).foreach(oneQuery)

    def tier(threads: Int, perThread: Int): (Double, Int) = {
      val total = threads * perThread
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      try {
        val futs = (0 until total).map { i =>
          pool.submit(new Runnable { def run(): Unit = oneQuery(i + 100) })
        }
        futs.foreach(_.get())
        val sec = (System.nanoTime() - t0) / 1e9
        (total / sec, total)
      } finally pool.shutdownNow()
    }

    val (q1, n1) = tier(1, 12)
    val (q8, n8) = tier(8, 4)
    val (q32, n32) = tier(32, 2)
    println(f"[serve-qps] sf=$sfDir kinds=$kinds qps_1=$q1%.2f (n=$n1) qps_8=$q8%.2f (n=$n8) " +
      f"qps_32=$q32%.2f (n=$n32) scale_8=${q8 / q1}%.1fx scale_32=${q32 / q1}%.1fx")
    spark.stop()
  }
}
