package graftbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Seeded input generator. It writes only inputs (seed tables, churn
  * blobs, CDC batches, corpora) under the directory it is given and
  * never calls the engine under test: the same seed and sizes give the
  * same bytes. The traffic dimensions and why each was chosen are in
  * README.md ("Traffic").
  */
object Gen {

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Blob modification times: a fixed epoch plus one second per blob,
    * so they strictly increase in blob order and repeat across runs.
    */
  val BlobEpochMs: Long = 1700000000000L

  // ------------------------------------------------------------ CDC (lineitem)

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_comment", StringType),
    StructField("version", LongType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** Hot-key skew of CDC updates: YCSB's Zipfian constant (Cooper et
    * al., "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010).
    */
  val KeyZipfS: Double = 0.99

  /** Both sizes use as many inserts as updates, the split `graft.Bench`'s
    * StreamBenchSection churns with.
    */
  final case class CdcSizes(seedRows: Int, blobs: Int, updates: Int, inserts: Int)

  /** `repeatRows`: rows that re-touch a key already earlier in the same
    * blob (hot keys drawn more than once), over all blobs.
    */
  final case class CdcInputs(seedDir: String, backlogDir: String, blobs: Seq[File],
      seedRows: Int, rowsPerBlob: Int, repeatRows: Long)

  private val Comments = Array("quick", "regular", "final", "pending", "express",
    "special", "ironic", "careful", "bold", "even", "silent", "furious")

  private def lineitemRow(r: SplittableRandom, key: Long, version: Long, seq: Long): Row = {
    val qty = 1.0 + r.nextInt(50)
    Row(key / 4 + 1, (key % 4).toInt + 1, 1L + r.nextInt(20000), 1L + r.nextInt(1000), qty,
      math.round(qty * (900 + r.nextInt(100000)) / 100.0).toDouble,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      if (r.nextBoolean()) "R" else "N", if (r.nextBoolean()) "O" else "F",
      Comments(r.nextInt(Comments.length)) + " " + Comments(r.nextInt(Comments.length)),
      version, seq)
  }

  /** Seed rows (version 0) plus `blobs` churn blobs (version = blob
    * number). Each blob: Zipf-skewed updates of seed keys and fresh
    * inserts. The skew draws hot keys more than once per blob, and each
    * draw gets its own `seq`, so one blob repeats a key with distinct
    * `(version, seq)`. Blob files land flat in `backlog/` with strictly
    * increasing mtimes.
    */
  def cdc(spark: SparkSession, dir: String, seed: Long, z: CdcSizes): CdcInputs = {
    val r = new SplittableRandom(seed)
    val n = z.seedRows
    val seedRows = (0 until n).map(k => lineitemRow(r, k.toLong, 0L, k.toLong))
    val seedDir = s"$dir/seed"
    spark.createDataFrame(spark.sparkContext.parallelize(seedRows, 1), LineitemSchema)
      .write.parquet(seedDir)
    // hot ranks map to keys through a multiplicative permutation, so hot
    // keys scatter across buckets instead of clustering at low keys
    val stride = { var p = 7919L; while (BigInt(p).gcd(BigInt(n)) != 1) p += 2; p }
    val zipf = new Zipf(n, KeyZipfS)
    var nextKey = n.toLong
    var repeats = 0L
    val blobRows = (1 to z.blobs).flatMap { b =>
      val upd = Seq.fill(z.updates)((zipf.sample(r) * stride) % n)
      val ins = Seq.fill(z.inserts) { nextKey += 1; nextKey - 1 }
      repeats += upd.size - upd.distinct.size
      (upd ++ ins).zipWithIndex.map { case (k, i) =>
        Row.fromSeq(lineitemRow(r, k, b.toLong, i.toLong).toSeq :+ b)
      }
    }
    val stagingDir = s"$dir/blobs_staging"
    spark.createDataFrame(spark.sparkContext.parallelize(blobRows, 4),
        LineitemSchema.add("blob", IntegerType))
      .repartition(col("blob")).write.partitionBy("blob").parquet(stagingDir)
    val backlog = flatten(stagingDir, s"$dir/backlog", "blob")
    CdcInputs(seedDir, s"$dir/backlog", backlog, n, z.updates + z.inserts, repeats)
  }

  /** Move `<staging>/<part>=<i>/part-*.parquet` to `<dst>/blob-<i>.parquet`
    * (one file per value) with mtime BlobEpochMs + i seconds.
    */
  private def flatten(staging: String, dst: String, part: String): Seq[File] = {
    new File(dst).mkdirs()
    val dirs = new File(staging).listFiles().filter(_.getName.startsWith(s"$part="))
    val out = dirs.map { d =>
      val i = d.getName.stripPrefix(s"$part=").toInt
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      require(files.length == 1, s"expected one file for $part=$i, got ${files.length}")
      val f = new File(dst, f"blob-$i%05d.parquet")
      java.nio.file.Files.move(files.head.toPath, f.toPath)
      require(f.setLastModified(BlobEpochMs + i * 1000L), s"cannot set mtime of $f")
      i -> f
    }.sortBy(_._1).map(_._2).toSeq
    deleteTree(new File(staging))
    out
  }

  /** The seed as a source blob for the snapshot runner: mtime below every churn blob. */
  def seedBlob(seedDir: String, dst: String): File = {
    new File(dst).mkdirs()
    val parts = new File(seedDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.map { case (p, i) =>
      val f = new File(dst, f"seed-$i%03d.parquet")
      java.nio.file.Files.copy(p.toPath, f.toPath)
      require(f.setLastModified(BlobEpochMs - 3600L * 1000 + i * 1000L))
      f
    }.last
  }

  // ------------------------------------------------------------ text

  private val Syllables = Array("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "po",
    "ar", "el", "in", "os", "ur", "ba", "ce", "fu", "gi", "ho", "ja", "ke", "ly", "ne")

  /** Word `i` of the synthetic vocabulary: base-24 syllable spelling. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + Syllables.length // every word has at least two syllables
    while (x > 0) { sb.append(Syllables(x % Syllables.length)); x /= Syllables.length }
    sb.toString
  }

  /** English stopwords mixed into text (the language and quality stages key on them). */
  private val EnStop = Array("the", "and", "of", "to", "in", "is", "that", "it", "for", "was")
  private val EsStop = Array("el", "la", "de", "que", "y", "en", "un", "una", "los", "es")

  final class TextGen(r: SplittableRandom, vocab: Int) {
    private val zipf = new Zipf(vocab, 1.0)
    def words(n: Int, stop: Array[String] = EnStop): Seq[String] =
      Seq.fill(n)(if (r.nextInt(4) == 0) stop(r.nextInt(stop.length)) else word(zipf.sample(r)))
    def doc(minLen: Int, maxLen: Int, stop: Array[String] = EnStop): String =
      words(minLen + r.nextInt(maxLen - minLen + 1), stop).mkString(" ")
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def writeDocs(spark: SparkSession, docs: Seq[(Long, String)], dir: String, parts: Int = 4): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, parts),
      DocSchema).write.parquet(dir)

  // ------------------------------------------------------------ search

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  final case class SearchSizes(docs: Int, vecs: Int, dim: Int, ticks: Int,
      lexUpd: Int, lexDel: Int, lexIns: Int, annUpd: Int, annDel: Int, annIns: Int,
      vocab: Int = 4000, queries: Int = 64)

  /** One CDC tick's files: lexical upserts (doc_id, text) and removals
    * (doc_id, OLD text); ANN upserts (vec_id, embedding) and removal ids.
    */
  final case class Tick(lexUp: String, lexRm: String, annUp: String, annRm: String, bytes: Long)

  final case class SearchInputs(docsDir: String, vecsDir: String, ticks: Seq[Tick],
      bm25: Seq[String], phrases: Seq[String], prefixes: Seq[String], probes: Seq[Array[Float]],
      lexProbes: Seq[String])

  def search(spark: SparkSession, dir: String, seed: Long, z: SearchSizes): SearchInputs = {
    val r = new SplittableRandom(seed)
    val tg = new TextGen(r, z.vocab)
    val docs = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    (0 until z.docs).foreach(i => docs(i.toLong) = tg.doc(12, 60))
    val centers = Array.fill(16)(Array.fill(z.dim)(r.nextDouble() * 2 - 1))
    def vec(): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(z.dim)(j => (c(j) + (r.nextDouble() - 0.5) * 0.6).toFloat)
    }
    val vecs = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Float]]
    (0 until z.vecs).foreach(i => vecs(i.toLong) = vec())
    writeDocs(spark, docs.toSeq, s"$dir/docs")
    // query rotation: terms, phrases and prefixes drawn from the initial corpus
    val initialDocs = docs.values.map(_.split(' ')).toIndexedSeq
    val corpusWords = initialDocs.flatten.filter(_.length > 3).distinct.sorted.toIndexedSeq
    def pickWords(k: Int) = Seq.fill(k)(corpusWords(r.nextInt(corpusWords.size))).mkString(" ")
    val bm25 = Seq.fill(z.queries)(pickWords(1 + r.nextInt(3)))
    val phrases = Seq.fill(z.queries) {
      val ws = initialDocs(r.nextInt(initialDocs.size))
      val i = r.nextInt(ws.length - 1)
      s"${ws(i)} ${ws(i + 1)}"
    }
    val prefixes = Seq.fill(z.queries)(corpusWords(r.nextInt(corpusWords.size)).take(2 + r.nextInt(2)))
    val probes = Seq.fill(z.queries)(vec())
    val lexProbes = Seq.fill(16)(pickWords(2))
    writeVecs(spark, vecs.toSeq, s"$dir/vecs")

    var nextDoc = z.docs.toLong
    var nextVec = z.vecs.toLong
    val tickRows = (1 to z.ticks).map { t =>
      val live = docs.keys.toIndexedSeq
      val picked = r.ints(z.lexUpd + z.lexDel, 0, live.size).toArray.distinct.map(live(_))
      val (upd, del) = picked.splitAt(math.min(z.lexUpd, picked.length))
      val rm = picked.map(id => (id, docs(id))).toSeq
      val up = upd.map(id => (id, tg.doc(12, 60))).toSeq ++
        Seq.fill(z.lexIns) { nextDoc += 1; (nextDoc - 1, tg.doc(12, 60)) }
      del.foreach(docs.remove)
      up.foreach { case (id, tx) => docs(id) = tx }
      val liveV = vecs.keys.toIndexedSeq
      val pickedV = r.ints(z.annUpd + z.annDel, 0, liveV.size).toArray.distinct.map(liveV(_))
      val (updV, delV) = pickedV.splitAt(math.min(z.annUpd, pickedV.length))
      val upV = updV.map(id => (id, vec())).toSeq ++
        Seq.fill(z.annIns) { nextVec += 1; (nextVec - 1, vec()) }
      delV.foreach(vecs.remove)
      upV.foreach { case (id, v) => vecs(id) = v }
      (t, up, rm, upV, pickedV.toSeq)
    }
    // one write per stream, partitioned by tick: tick t's files are <stream>/tick=t
    def byTick[T](rows: Seq[(Int, T)], schema: StructType, stream: String)(row: T => Row): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map { case (t, x) => Row.fromSeq(row(x).toSeq :+ t) }, 4), schema.add("tick", IntegerType))
        .repartition(col("tick")).write.partitionBy("tick").parquet(s"$dir/cdc/$stream")
    byTick(tickRows.flatMap(r => r._2.map(r._1 -> _)), DocSchema, "lex_up") { case (i, t) => Row(i, t) }
    byTick(tickRows.flatMap(r => r._3.map(r._1 -> _)), DocSchema, "lex_rm") { case (i, t) => Row(i, t) }
    byTick(tickRows.flatMap(r => r._4.map(r._1 -> _)), VecSchema, "ann_up") { case (i, v) => Row(i, v.toSeq) }
    byTick(tickRows.flatMap(r => r._5.map(r._1 -> _)),
      StructType(Seq(StructField("vec_id", LongType, nullable = false))), "ann_rm")(Row(_))
    val ticks = tickRows.map { r =>
      val paths = Seq("lex_up", "lex_rm", "ann_up", "ann_rm").map(st => s"$dir/cdc/$st/tick=${r._1}")
      Tick(paths(0), paths(1), paths(2), paths(3), paths.map(p => treeBytes(new File(p))).sum)
    }

    SearchInputs(s"$dir/docs", s"$dir/vecs", ticks, bm25, phrases, prefixes, probes, lexProbes)
  }

  def writeVecs(spark: SparkSession, vecs: Seq[(Long, Array[Float])], dir: String, parts: Int = 4): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.map { case (i, v) => Row(i, v.toSeq) }, parts), VecSchema).write.parquet(dir)

  // ------------------------------------------------------------ curation

  final case class CurateSizes(docs: Int, nearDupShare: Double, exactDupShare: Double,
      contaminatedShare: Double, junkShare: Double, foreignShare: Double, vocab: Int = 4000)

  final case class CurateInputs(corpusDir: String, benchDir: String, docs: Int, bytes: Long)

  /** Base documents plus: near-duplicate variants (a few words replaced),
    * exact copies, documents carrying an 8-word span of a held-out
    * benchmark passage, low-quality junk (one token repeated, or digit
    * runs), and Spanish-stopword documents for the language stage.
    */
  def curate(spark: SparkSession, dir: String, seed: Long, z: CurateSizes): CurateInputs = {
    val r = new SplittableRandom(seed)
    val tg = new TextGen(r, z.vocab)
    val bench = Seq.fill(32)(tg.doc(30, 40))
    val base = (0 until z.docs).map(_ => tg.doc(40, 120)).toBuffer
    def variant(t: String): String = {
      val ws = t.split(' ')
      (0 until math.max(1, ws.length / 25)).foreach(_ => ws(r.nextInt(ws.length)) = word(r.nextInt(z.vocab)))
      ws.mkString(" ")
    }
    val extra = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until (z.docs * z.nearDupShare).toInt).foreach(_ => extra += variant(base(r.nextInt(base.size))))
    (0 until (z.docs * z.exactDupShare).toInt).foreach(_ => extra += base(r.nextInt(base.size)))
    (0 until (z.docs * z.contaminatedShare).toInt).foreach { _ =>
      val b = bench(r.nextInt(bench.size)).split(' ')
      val i = r.nextInt(b.length - 8)
      val d = base(r.nextInt(base.size)).split(' ').toBuffer
      d.insertAll(r.nextInt(d.size), b.slice(i, i + 8))
      extra += d.mkString(" ")
    }
    (0 until (z.docs * z.junkShare).toInt).foreach { i =>
      extra += (if (i % 2 == 0) Seq.fill(60)(word(r.nextInt(5))).mkString(" ")
        else Seq.fill(40)(r.nextInt(1000000).toString).mkString(" "))
    }
    (0 until (z.docs * z.foreignShare).toInt).foreach(_ => extra += tg.doc(40, 120, EsStop))
    // interleave the extras so ids carry no hint of a document's kind
    val all = base ++ extra
    val order = (0 until all.size).toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val docs = order.indices.map(i => (i.toLong, all(order(i))))
    writeDocs(spark, docs, s"$dir/corpus")
    writeDocs(spark, bench.zipWithIndex.map { case (t, i) => (i.toLong, t) }, s"$dir/bench", 1)
    CurateInputs(s"$dir/corpus", s"$dir/bench", docs.size, treeBytes(new File(s"$dir/corpus")))
  }

  // ------------------------------------------------------------ files

  def treeBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Standalone entry: `Gen <cdc|search|curate> <seed> <outDir>` writes
    * one workload's default-size inputs (for inspecting what a seed makes).
    */
  def main(args: Array[String]): Unit = {
    val Array(kind, seed, out) = args
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try kind match {
      case "cdc"    => cdc(spark, out, seed.toLong, Sizes.default.cdc)
      case "search" => search(spark, out, seed.toLong, Sizes.default.search)
      case "curate" => curate(spark, out, seed.toLong, Sizes.default.curate)
    } finally spark.stop()
  }
}
