package graft

import org.apache.spark.sql.functions._
import graft.operators.{InvertedIndex, TextAnalysis}

class InvertedIndexSpec extends SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "alpha beta gamma alpha"),
      (1L, "beta beta delta"),
      (2L, "alpha delta epsilon epsilon epsilon"),
      (3L, "gamma gamma beta alpha delta"),
      (4L, "zeta eta theta"),
      (5L, "alpha beta"),
      (6L, "delta epsilon zeta"),
      (7L, "beta gamma delta epsilon")
    ).toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq

  private def hfs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def postingFiles(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/postings")
    if (!hfs.exists(p)) return Seq.empty
    val it = hfs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) out += f.toUri.getPath
    }
    out.result()
  }

  test("phrase search from positional postings: exact, overlapping, rank by occurrences") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "a a a b"),                // "a a" twice (overlapping), "a a a" once
      (1L, "a b a b a b"),            // "a b" three times, "b a" twice
      (2L, "b b a"),                  // "a a" never ("a" once)
      (3L, "x a a y a a"),            // "a a" twice (disjoint)
      (4L, "a")                       // single token: matches "a" only
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_phrase").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir)
    val got = InvertedIndex.phraseTopK(spark, dir, Seq("a a", "a b", "a a a", "a"), k = 5)
      .orderBy("phrase", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("a", 1, 3L, 4L), ("a", 2, 0L, 3L), ("a", 3, 1L, 3L), ("a", 4, 2L, 1L), ("a", 5, 4L, 1L),
      ("a a", 1, 0L, 2L), ("a a", 2, 3L, 2L),
      ("a a a", 1, 0L, 1L),
      ("a b", 1, 1L, 3L), ("a b", 2, 0L, 1L)))
  }

  test("proximity search: ordered span-near with window edge, reversed pair, same-term pair") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "a x x b"),     // gap 3 = window edge: anchors
      (1L, "a x x x b"),   // gap 4: out of window
      (2L, "b a"),         // reversed order: (a,b) misses, (b,a) hits
      (3L, "a b a b"),     // two anchors for (a,b)
      (4L, "a a")          // same-term pair
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_prox").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir)
    val got = InvertedIndex.proximityTopK(spark, dir,
        Seq(("a", "b"), ("b", "a"), ("a", "a")), window = 3, k = 5)
      .orderBy("q", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("a a", 1, 3L, 1L), ("a a", 2, 4L, 1L),
      ("a b", 1, 3L, 2L), ("a b", 2, 0L, 1L),
      ("b a", 1, 2L, 1L), ("b a", 2, 3L, 1L)))
  }

  test("phrase search sees CDC: an update's old positions die, its new ones serve") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "m n m n"),   // "m n" twice — until the update rewrites it
      (1L, "m n x"),     // "m n" once
      (2L, "n m")        // reversed: never matches
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_phrase_cdc").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir)
    // doc 0 loses its phrase ("m x n" has no adjacent m n); doc 3 arrives with one
    InvertedIndex.applyCdc(
      upserts = Seq((0L, "m x n"), (3L, "y m n")).toDF("doc_id", "text"),
      removals = Seq((0L, "m n m n")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    def got() = InvertedIndex.phraseTopK(spark, dir, Seq("m n"), k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got() == Seq((1, 1L, 1L), (2, 3L, 1L)),
      "phrase results under coverage tombstones diverged")
    // compact = the physical pass; phrase answers must not move
    InvertedIndex.compact(spark, dir)
    assert(got() == Seq((1, 1L, 1L), (2, 3L, 1L)), "compaction changed phrase answers")
  }

  test("applyCdc's merged vocab correction equals a rebuild's vocab sidecar") {
    // pins the single full-join df-delta formulation (minus ∪ plus,
    // then base ⟗ delta): update removes tokens from a doc, delete
    // drives two dfs to zero (the df > 0 filter), inserts introduce a
    // token ABSENT from the base vocab contributed by TWO docs
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("invidx_vocab_cdc").toString
    InvertedIndex.build(docs, "doc_id", "text", dir, withPositions = false)
    InvertedIndex.applyCdc(
      upserts = Seq((0L, "alpha nu"), (8L, "nu xi")).toDF("doc_id", "text"),
      removals = Seq((0L, "alpha beta gamma alpha"), (4L, "zeta eta theta"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir)
    def vocabOf(d: String) = {
      val m = InvertedIndex.currentManifest(spark, d)
      spark.read.parquet(s"$d/${m.vocabDir}").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val scratch = java.nio.file.Files.createTempDirectory("invidx_vocab_rb").toString
    InvertedIndex.build(
      docs.filter(col("doc_id") =!= 0L && col("doc_id") =!= 4L)
        .unionByName(Seq((0L, "alpha nu"), (8L, "nu xi")).toDF("doc_id", "text")),
      "doc_id", "text", scratch, withPositions = false)
    val got = vocabOf(dir)
    assert(got == vocabOf(scratch), "CDC-corrected vocab diverged from rebuild")
    assert(!got.contains("eta") && !got.contains("theta"),
      "df-zero tokens must leave the vocab")
    assert(got("nu") == 2L, "new token's df must sum across the batch's docs")
  }

  test("a NULL-text doc is never indexed: its CDC removal and re-insert serve like a rebuild") {
    // tokens(null) is null, so a NULL-text doc stages no postings and
    // counts in no df, n or sumdl; its removal has no postings for a
    // tombstone to cover. Served answers equal a rebuild at every step.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("invidx_nulltext").toString
    InvertedIndex.build(docs.unionByName(Seq((9L, null: String)).toDF("doc_id", "text")),
      "doc_id", "text", dir)
    def served(d: String) = InvertedIndex.bm25TopKText(spark, d,
      Seq("alpha beta", "omega", "delta omega"), k = 5)
      .orderBy("q", "rank").collect().map(_.toSeq).toSeq
    def rebuilt(corpus: org.apache.spark.sql.DataFrame) = {
      val d = java.nio.file.Files.createTempDirectory("invidx_nulltext_rb").toString
      InvertedIndex.build(corpus, "doc_id", "text", d)
      served(d)
    }
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(served(dir) == rebuilt(docs), "the NULL-text doc contributed to the index")
    InvertedIndex.applyCdc(upserts = none,
      removals = Seq((9L, null: String)).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(InvertedIndex.currentManifest(spark, dir).deletes.isEmpty,
      "a removal with no postings committed a tombstone")
    assert(served(dir) == rebuilt(docs), "removing the NULL-text doc changed answers")
    val reinserted = Seq((9L, "omega alpha omega")).toDF("doc_id", "text")
    InvertedIndex.applyCdc(upserts = reinserted, removals = none, "doc_id", "text", dir)
    assert(served(dir) == rebuilt(docs.unionByName(reinserted)),
      "the re-inserted doc does not serve like a rebuild")
  }

  test("phrase search still answers after a delta grows the index") {
    val s = spark
    import s.implicits._
    val half1 = Seq((0L, "p q r"), (1L, "q r p")).toDF("doc_id", "text")
    val half2 = Seq((2L, "p q p q"), (3L, "r r r")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_phrase_d").toString
    InvertedIndex.build(half1, "doc_id", "text", dir)
    InvertedIndex.addDelta(half2, "doc_id", "text", dir)
    val got = InvertedIndex.phraseTopK(spark, dir, Seq("p q"), k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1, 2L, 2L), (2, 0L, 1L)))
  }

  test("indexed BM25 answers identically to the from-scratch query") {
    val dir = java.nio.file.Files.createTempDirectory("invidx").toString
    InvertedIndex.build(docs, "doc_id", "text", dir)
    val indexed = InvertedIndex.bm25TopK(docs, "doc_id", "text", dir,
      probeIds = Seq(0L, 3L), k = 4)
    val scratch = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      probeIds = Seq(0L, 3L), k = 4)
    assert(rows(indexed) == rows(scratch))
  }

  test("multi-file buckets: staging splits past one-file-per-bucket without changing answers") {
    // one file per bucket does not scale (one task writes a bucket's
    // whole postings) — the layout contract is only "each file belongs
    // to one bucket"; a wider staging must answer identically
    val dir = java.nio.file.Files.createTempDirectory("invidx_split").toString
    InvertedIndex.build(docs, "doc_id", "text", dir, buckets = 2, splits = Some(8))
    val m = InvertedIndex.currentManifest(spark, dir)
    assert(m.postings.size > 2, s"expected multi-file buckets, got ${m.postings.size} files")
    assert(m.postings.map(_._1).toSet.subsetOf(Set(0, 1)))
    val indexed = InvertedIndex.bm25TopK(docs, "doc_id", "text", dir,
      probeIds = Seq(0L, 3L), k = 4)
    val scratch = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      probeIds = Seq(0L, 3L), k = 4)
    assert(rows(indexed) == rows(scratch), "split staging changed BM25 answers")
  }

  test("deleteDocs answers exactly like a rebuild without the docs; compact drops rows, clears tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_del").toString
    InvertedIndex.build(docs, "doc_id", "text", dir, buckets = 4)
    val deleted = Seq(2L, 5L)
    InvertedIndex.deleteDocs(
      docs.filter(col("doc_id").isin(deleted: _*)).select("doc_id"), "doc_id", dir)
    val remaining = docs.filter(!col("doc_id").isin(deleted: _*))
    // served scores must equal a from-scratch BM25 over the remaining
    // corpus — df/n/sumdl were corrected in the tombstone's commit
    val served  = InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 3L), k = 4)
    val scratch = TextAnalysis.bm25TopK(remaining, "doc_id", "text", Seq(0L, 3L), k = 4)
    assert(rows(served) == rows(scratch), "tombstoned serve diverged from rebuild-without")

    // double delete is a no-op (no double-subtraction of df/n)
    val v = InvertedIndex.versions(spark, dir)
    InvertedIndex.deleteDocs(
      docs.filter(col("doc_id").isin(deleted: _*)).select("doc_id"), "doc_id", dir)
    assert(InvertedIndex.versions(spark, dir) == v, "re-deleting committed a version")

    // compact = the physical-delete pass: rows gone, tombstones cleared,
    // answers unchanged; vacuum sweeps the tombstone files
    InvertedIndex.compact(spark, dir)
    val m = InvertedIndex.currentManifest(spark, dir)
    assert(m.deletes.isEmpty, "compact left tombstones in the manifest")
    val left = spark.read.parquet(m.postings.map(p => s"$dir/${p._2}"): _*)
      .filter(col("doc_id").isin(deleted: _*)).count()
    assert(left == 0, s"$left physical rows of deleted docs survived compaction")
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 3L), k = 4)) ==
      rows(scratch), "compaction changed post-delete answers")
    InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val delRoot = new org.apache.hadoop.fs.Path(s"$dir/deletes")
    assert(!hfs.exists(delRoot) || hfs.listStatus(delRoot).isEmpty,
      "vacuum left stale tombstone dirs")
  }

  test("the bucket count is pinned in the manifest, not supplied by callers") {
    // a non-default modulus at build time: queries and deltas resolve it
    // from the manifest, so a mismatched-modulus wrong-ranking (the old
    // per-call `buckets` parameter hazard) is structurally impossible
    val dir = java.nio.file.Files.createTempDirectory("invidx_b4").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 6), "doc_id", "text", dir, buckets = 4)
    assert(InvertedIndex.currentManifest(spark, dir).buckets == 4)
    InvertedIndex.addDelta(docs.filter(col("doc_id") >= 6), "doc_id", "text", dir)
    val m = InvertedIndex.currentManifest(spark, dir)
    assert(m.buckets == 4 && m.postings.forall(_._1 < 4))
    val indexed = InvertedIndex.bm25TopK(docs, "doc_id", "text", dir,
      probeIds = Seq(0L, 7L), k = 5)
    val scratch = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      probeIds = Seq(0L, 7L), k = 5)
    assert(rows(indexed) == rows(scratch))
  }

  test("index grown by addDelta answers exactly like a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_delta").toString
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    InvertedIndex.addDelta(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir)
    val grown = InvertedIndex.bm25TopK(docs, "doc_id", "text", dir,
      probeIds = Seq(0L, 7L), k = 5)
    val full = java.nio.file.Files.createTempDirectory("invidx_full").toString
    InvertedIndex.build(docs, "doc_id", "text", full)
    val rebuilt = InvertedIndex.bm25TopK(docs, "doc_id", "text", full,
      probeIds = Seq(0L, 7L), k = 5)
    assert(rows(grown) == rows(rebuilt))
    // the delta committed a second manifest version; the query read v2
    assert(InvertedIndex.versions(spark, dir) == Seq(1L, 2L))
  }

  test("query reads only the probe terms' buckets' files") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_prune").toString
    InvertedIndex.build(docs, "doc_id", "text", dir)
    // single-term probe: doc 4 is the only doc with zeta/eta/theta, so
    // its terms cover ≤ 3 of the 16 buckets — the manifest prune must
    // plan the scan over only those buckets' files
    val q = InvertedIndex.bm25TopK(docs, "doc_id", "text", dir,
      probeIds = Seq(4L), k = 3)
    val read = q.inputFiles.filter(_.contains("/postings/")).toSeq
    assert(read.nonEmpty, "postings files not visible in the planned scan")
    val bucketsRead = read.flatMap(_.split('/').collectFirst {
      case s if s.startsWith("bucket=") => s.stripPrefix("bucket=").toInt
    }).distinct
    assert(bucketsRead.size <= 3,
      s"expected <=3 buckets' files read, got buckets $bucketsRead")
    val all = postingFiles(dir)
    assert(read.size < all.size,
      s"prune read ${read.size} of ${all.size} files — nothing pruned")
  }

  test("addDelta never reads historical postings") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_noscan").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 4), "doc_id", "text", dir)
    // make historical postings unreadable as parquet: if addDelta tried
    // to scan them the job would fail
    val historical = postingFiles(dir)
    assert(historical.nonEmpty)
    historical.foreach { f =>
      val out = hfs.create(new org.apache.hadoop.fs.Path(f), true)
      out.write("not parquet".getBytes); out.close()
    }
    InvertedIndex.addDelta(docs.filter(col("doc_id") >= 4), "doc_id", "text", dir)
    // vocab/stats DID merge (vocabulary-bounded paths, not postings)
    assert(InvertedIndex.versions(spark, dir) == Seq(1L, 2L))
  }

  test("a crash between staging and commit leaves the OLD version serving, never a torn one") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_crash").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 4), "doc_id", "text", dir)
    val before = rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir,
      probeIds = Seq(0L), k = 5))
    // simulate the maintainer dying after its postings/vocab/stats land
    // but before the manifest claim: stage only, never commit
    val staged = InvertedIndex.stageDelta(
      docs.filter(col("doc_id") >= 4), "doc_id", "text", dir)
    assert(staged.files.nonEmpty)
    // the torn delta is INVISIBLE: same manifest, same answers — stats
    // can never count docs whose postings are absent
    assert(InvertedIndex.versions(spark, dir) == Seq(1L))
    val after = rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir,
      probeIds = Seq(0L), k = 5))
    assert(after == before)
    // vacuum sweeps the orphaned staging (grace 0: this test IS the
    // crashed maintainer)
    val removed = InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(removed >= 1)
    staged.files.foreach { case (_, rel) =>
      assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")),
        s"orphaned staged file survived vacuum: $rel")
    }
    // a retried delta then lands normally and serves the FULL new version
    InvertedIndex.addDelta(docs.filter(col("doc_id") >= 4), "doc_id", "text", dir)
    val full = java.nio.file.Files.createTempDirectory("invidx_crash_full").toString
    InvertedIndex.build(docs, "doc_id", "text", full)
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 7L), k = 5))
      == rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", full, Seq(0L, 7L), k = 5)))
  }

  test("two racing maintainers both land (OCC retry), no lost update") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_race").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 4), "doc_id", "text", dir)
    val d1 = docs.filter(col("doc_id") === 4 || col("doc_id") === 5)
    val d2 = docs.filter(col("doc_id") === 6 || col("doc_id") === 7)
    val t1 = new Thread(() => InvertedIndex.addDelta(d1, "doc_id", "text", dir))
    val t2 = new Thread(() => InvertedIndex.addDelta(d2, "doc_id", "text", dir))
    t1.start(); t2.start(); t1.join(); t2.join()
    // both deltas committed: versions 1..3, and the index answers like a
    // rebuild over everything
    assert(InvertedIndex.versions(spark, dir) == Seq(1L, 2L, 3L))
    val full = java.nio.file.Files.createTempDirectory("invidx_race_full").toString
    InvertedIndex.build(docs, "doc_id", "text", full)
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 7L), k = 5))
      == rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", full, Seq(0L, 7L), k = 5)))
  }

  test("filtered retrieval: meta sidecar gates results, CDC metadata wins latest, vacuum keeps it") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma", "web"),
      (1L, "alpha beta delta", "web"),
      (2L, "alpha beta epsilon", "books"),
      (3L, "alpha beta zeta", "books"),
      (4L, "alpha beta eta", "web")
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("invidx_meta").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir, metaCols = Seq("source"))
    def top(where: Option[org.apache.spark.sql.Column]) =
      InvertedIndex.bm25TopK(corpus, "doc_id", "text", dir, Seq(0L), k = 5, where = where)
        .select("doc_id").as[Long].collect().toSet
    assert(top(None) == Set(1L, 2L, 3L, 4L))
    assert(top(Some(col("source") === "web")) == Set(1L, 4L),
      "filter must gate to the allowed sources only")
    // CDC: doc 1 moves web -> books; its LATEST metadata must decide
    val upd = Seq((1L, "alpha beta delta", "books")).toDF("doc_id", "text", "source")
    InvertedIndex.applyCdc(upserts = upd,
      removals = corpus.filter($"doc_id" === 1).select("doc_id", "text"),
      "doc_id", "text", dir)
    assert(top(Some(col("source") === "web")) == Set(4L),
      "CDC'd metadata must win over the build-time sidecar row")
    assert(top(Some(col("source") === "books")) == Set(1L, 2L, 3L))
    // maintenance keeps the sidecar: compact + vacuum, answers stable
    InvertedIndex.compact(spark, dir)
    InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(top(Some(col("source") === "books")) == Set(1L, 2L, 3L),
      "vacuum must not sweep live meta sidecar dirs")
    // an index without metaCols refuses filtered queries loudly
    val bare = java.nio.file.Files.createTempDirectory("invidx_nometa").toString
    InvertedIndex.build(corpus.select("doc_id", "text"), "doc_id", "text", bare)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.bm25TopK(corpus, "doc_id", "text", bare, Seq(0L), k = 5,
        where = Some(col("source") === "web")).collect()
    }
    assert(e.getMessage.contains("metaCols"))
  }

  test("rebuild at the same path: the manifest cache must not serve the old tree") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("invidx_rebuild").toString
    InvertedIndex.build(Seq((1L, "oldcorpus alpha")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    def hits(term: String) =
      InvertedIndex.bm25TopKText(spark, dir, Seq(term), k = 5)
        .select("doc_id").as[Long].collect().toSet
    assert(hits("oldcorpus") == Set(1L))
    // wipe the index dir entirely and build a DIFFERENT corpus at the
    // SAME path — version numbers restart at 1, so a (dir, version)
    // cache without invalidation would serve the old tree's manifest
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
    try walk.forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
    InvertedIndex.build(Seq((2L, "newcorpus beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(hits("newcorpus") == Set(2L),
      "rebuilt index must serve the NEW corpus, not a cached manifest")
    assert(hits("oldcorpus").isEmpty)
  }

  test("compact range-splits postings by token: ranges in the manifest, files skipped exactly, answers identical") {
    val s = spark
    import s.implicits._
    // many distinct tokens per bucket so range splitting yields files
    // with genuinely different token ranges
    val corpus = (0L until 200L).map(i => (i, s"tok$i alpha shared")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_range").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir, splits = Some(4))
    val probeTerm = "tok17"
    def serve(term: String) =
      InvertedIndex.bm25TopKText(spark, dir, Seq(term), k = 5)
        .orderBy("rank").collect().map(_.toSeq).toSeq
    val before = serve(probeTerm)
    // force several range files per bucket despite the tiny corpus
    assert(InvertedIndex.compact(spark, dir, targetFileBytes = 300) > 0)
    val m = InvertedIndex.currentManifest(spark, dir)
    assert(m.tokRanges.nonEmpty, "compact must record per-file token ranges")
    assert(m.postings.forall { case (_, p) => m.tokRanges.contains(p) },
      "every compacted file must carry its token range")
    assert(serve(probeTerm) == before, "range layout changed BM25 answers")
    // pick a bucket that actually split, and one of its tokens: the
    // query must plan a strict subset of that bucket's files
    val tokBucket = spark.read.parquet(s"$dir/${m.vocabDir}")
      .select(col("tok"), pmod(xxhash64(col("tok")), lit(m.buckets.toLong)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val byBucket = m.postings.groupBy(_._1)
    val splitBuckets = byBucket.filter(_._2.size >= 2)
    assert(splitBuckets.nonEmpty, "test corpus too small: no bucket range-split")
    val (bkt, files) = splitBuckets.head
    val term = tokBucket.collectFirst {
      case (t, b) if b == bkt && t.startsWith("tok") => t
    }.get
    val planned = InvertedIndex.bm25TopKText(spark, dir, Seq(term), k = 5)
      .inputFiles.filter(_.contains("/postings/")).toSeq
    assert(planned.nonEmpty && planned.size < files.size,
      s"expected a strict subset of bucket $bkt's ${files.size} files, planned ${planned.size}")
    assert(serve(term).nonEmpty, "the ranged serve must still find the term's doc")
    // a delta staged after compact has no range and is always read;
    // answers stay correct across the mixed ranged/unranged layout
    InvertedIndex.addDelta(
      Seq((500L, s"$term freshdelta")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val withDelta = serve(term)
    assert(withDelta.map(_(2)).contains(500L),
      s"delta doc must surface for $term, got $withDelta")
  }

  test("df-capped serving resolves the cap driver-side: no vocab semi-join, probe-sized pushed vocab read") {
    val s = spark
    import s.implicits._
    // hotterm sits in every doc (df 100%); rare3 in a handful
    val corpus = (0L until 60L).map(i => (i, s"hotterm tok$i rare${i % 7}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_dfcap").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir)
    val capped = InvertedIndex.bm25TopKText(spark, dir, Seq("hotterm rare3 rare4"),
      k = 5, maxDfPercent = Some(90))
    val plan = capped.queryExecution.executedPlan.toString
    // the serving-text path resolves the cap ON THE DRIVER against a
    // term-pruned vocab scan — the plan must carry no semi-join whose
    // build side is the corpus vocabulary (AQE broadcasts it at test
    // scale; past the broadcast ceiling at 100 TB it would degrade to
    // a per-query vocab shuffle)
    assert(!plan.contains("LeftSemi"),
      s"capped bounded serve must not plan a vocab semi-join:\n$plan")
    // the idf side's vocab read is pushed down to the (two surviving)
    // probe terms
    assert(plan.contains("In(tok"),
      s"expected the vocab scan pushed to tok IN (probe terms):\n$plan")
    // semantics unchanged: the hot term is dropped, the rare terms serve
    val got = capped.orderBy("rank")
      .select("rank", "doc_id", "score").collect().map(_.toSeq).toSeq
    val rareOnly = InvertedIndex.bm25TopKText(spark, dir, Seq("rare3 rare4"), k = 5)
      .orderBy("rank").select("rank", "doc_id", "score")
      .collect().map(_.toSeq).toSeq
    assert(got == rareOnly && got.nonEmpty,
      "df-capped query must answer exactly as the query without its hot term")
  }

  test("compact folds the meta sidecar: ten CDC batches -> one dir, answers identical, dead ids dropped") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 40L).map(i =>
      (i, s"alpha beta tok$i common", if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("invidx_metafold").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir, metaCols = Seq("source"))
    // ten CDC batches: docs 10..19 flip source books<->web one at a
    // time; doc 30 is deleted in batch 0 and RE-INSERTED in batch 5
    // (its latest metadata must survive the fold); doc 31 is deleted
    // in batch 1 and never returns (its sidecar row must drop)
    (0 until 10).foreach { i =>
      val id = 10L + i
      val newSrc = if (id % 2 == 0) "books" else "web"
      val up = Seq((id, s"alpha beta tok$id common", newSrc)) ++
        (if (i == 5) Seq((30L, "alpha beta tok30 common", "resurrected")) else Nil)
      val rm = Seq(id) ++ (i match {
        case 0 => Seq(30L)
        case 1 => Seq(31L)
        case _ => Nil
      })
      InvertedIndex.applyCdc(
        upserts = up.toDF("doc_id", "text", "source"),
        removals = corpus.filter(col("doc_id").isin(rm.map(Long.box): _*))
          .select("doc_id", "text"),
        "doc_id", "text", dir)
    }
    val before = InvertedIndex.currentManifest(spark, dir)
    assert(before.metaDirs.size == 11, s"expected 11 sidecar dirs, got ${before.metaDirs.size}")
    def filtered(src: String) =
      InvertedIndex.bm25TopKText(spark, dir, Seq("alpha beta common"), k = 40,
          where = Some(col("source") === src))
        .orderBy("rank").collect().map(_.toSeq).toSeq
    val webBefore = filtered("web"); val booksBefore = filtered("books")
    val resBefore = filtered("resurrected")
    InvertedIndex.compact(spark, dir)
    val after = InvertedIndex.currentManifest(spark, dir)
    assert(after.metaDirs.size == 1,
      s"compact must fold the sidecar to ONE dir, got ${after.metaDirs.size}")
    assert(filtered("web") == webBefore && filtered("books") == booksBefore,
      "filtered answers must be hash-identical across the fold")
    assert(filtered("resurrected") == resBefore && resBefore.nonEmpty,
      "a doc re-inserted after its tombstone keeps its latest metadata")
    // dead doc 31's sidecar row is physically gone, not just unreachable
    val folded = spark.read.parquet(s"$dir/${after.metaDirs.head}")
    assert(folded.filter(col("doc_id") === 31L).isEmpty,
      "tombstoned doc's sidecar row must drop at the fold")
    assert(folded.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "folded sidecar must be latest-wins unique per doc")
    // vacuum sweeps the superseded dirs
    InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val metaRoot = new org.apache.hadoop.fs.Path(s"$dir/meta")
    assert(hfs.listStatus(metaRoot).length == 1,
      "vacuum must sweep the superseded sidecar dirs")
    assert(filtered("web") == webBefore, "answers stable after vacuum")
  }

  test("span-near: ordered chains, unordered coverage windows, edges and duplicates pinned") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "a x b y c"),        // a@0 b@2 c@4: ordered abc stretch 4-0-2=2
      (1L, "c b a"),            // reversed: unordered only
      (2L, "a b c a b c"),      // two ordered chains (a@0,a@3), plus cross-chain
      (3L, "a a b"),            // duplicate-term material: "a a" via chain
      (4L, "b a x x x c"),      // scattered: unordered window test
      (5L, "a")                 // single term only
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_span").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir)
    def got(qs: Seq[Seq[String]], slop: Int, inOrder: Boolean) =
      InvertedIndex.spanNearTopK(spark, dir, qs, slop, inOrder, k = 10)
        .orderBy("q", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq

    // ordered 3-term: doc0 stretch 2 needs slop >= 2 (edge: slop 1 misses)
    assert(got(Seq(Seq("a", "b", "c")), slop = 1, inOrder = true)
      .filter(_._2 == 0L).isEmpty)
    assert(got(Seq(Seq("a", "b", "c")), slop = 2, inOrder = true)
      .contains(("a b c", 0L, 1L)))
    // doc2: anchors a@0 (chain 0,1,2 stretch 0) and a@3 (chain 3,4,5) -> 2
    assert(got(Seq(Seq("a", "b", "c")), slop = 0, inOrder = true)
      .contains(("a b c", 2L, 2L)))
    // reversed doc1 never matches ordered, but matches unordered
    val ord = got(Seq(Seq("a", "b", "c")), slop = 4, inOrder = true)
    assert(!ord.exists(_._2 == 1L))
    val unord = got(Seq(Seq("a", "b", "c")), slop = 0, inOrder = false)
    // doc1: window [0, 0+0+2] = positions {0,1,2} covers c,b,a -> anchor m=0 (c) only
    assert(unord.contains(("a b c", 1L, 1L)))
    // doc4 "b a x x x c": b@0 a@1 c@5; width slop+2 must reach 5 from m=0 -> slop >= 3
    assert(!got(Seq(Seq("a", "b", "c")), slop = 2, inOrder = false).exists(_._2 == 4L))
    assert(got(Seq(Seq("a", "b", "c")), slop = 3, inOrder = false)
      .contains(("a b c", 4L, 1L)))
    // duplicate terms: ordered chains keep positions distinct —
    // doc3 "a a b" has the only adjacent pair (doc2's a's are 3 apart)
    assert(got(Seq(Seq("a", "a")), slop = 0, inOrder = true) ==
      Seq(("a a", 3L, 1L)))
    // ... but are refused loudly in unordered mode
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.spanNearTopK(spark, dir, Seq(Seq("a", "a")), 1, inOrder = false)
    }
    assert(e.getMessage.contains("distinct"))
    // slop-0 ordered span-near IS exact phrase: identical counts
    val phr = InvertedIndex.phraseTopK(spark, dir, Seq("a b c", "a a"), k = 10)
      .orderBy("phrase", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    val span0 = got(Seq(Seq("a", "b", "c"), Seq("a", "a")), slop = 0, inOrder = true)
    assert(phr.toSet == span0.toSet,
      s"phraseTopK and slop-0 ordered spanNearTopK diverged: $phr vs $span0")
  }

  test("proximity via the linear kernel matches a naive position scan on a hot pair") {
    val s = spark
    import s.implicits._
    // hot pair: both terms at stopword frequency in one long doc — the
    // r11 HOF paid |pa|·|pb| here; the kernel must stay linear AND
    // row-identical to the naive scan
    val hot = (0 until 2000).map(i => if (i % 2 == 0) "a" else "b").mkString(" ")
    val corpus = Seq((0L, hot), (1L, "a b a"), (2L, "b x a"), (3L, "a x x b")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("invidx_prox_hot").toString
    InvertedIndex.build(corpus, "doc_id", "text", dir)
    val got = InvertedIndex.proximityTopK(spark, dir, Seq(("a", "b")), window = 2, k = 10)
      .orderBy("doc_id").collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    // naive oracle: every a-position with a b in (p, p+2]
    def naive(text: String, w: Int): Long = {
      val toks = text.split("\\s+")
      val pa = toks.zipWithIndex.collect { case ("a", i) => i }
      val pb = toks.zipWithIndex.collect { case ("b", i) => i }.toSet
      pa.count(p => (p + 1 to p + w).exists(pb)).toLong
    }
    val expected = Seq((0L, naive(hot, 2)), (1L, 1L), (3L, 0L), (2L, 0L))
      .filter(_._2 > 0).sortBy(_._1)
    assert(got == expected, s"kernel diverged from naive scan: $got vs $expected")
  }

  test("withPositions=false: BM25 identical, no positions column, positional queries refuse loudly") {
    val pos   = java.nio.file.Files.createTempDirectory("invidx_pos").toString
    val nopos = java.nio.file.Files.createTempDirectory("invidx_nopos").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 6), "doc_id", "text", pos)
    InvertedIndex.build(docs.filter(col("doc_id") < 6), "doc_id", "text", nopos,
      withPositions = false)
    // deltas follow the manifest's pinned shape on both indexes
    InvertedIndex.addDelta(docs.filter(col("doc_id") >= 6), "doc_id", "text", pos)
    InvertedIndex.addDelta(docs.filter(col("doc_id") >= 6), "doc_id", "text", nopos)
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", pos, Seq(0L, 7L), k = 5))
      == rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", nopos, Seq(0L, 7L), k = 5)),
      "BM25 must not depend on the positions axis")
    val m = InvertedIndex.currentManifest(spark, nopos)
    assert(!m.positions, "manifest must pin the positions-free shape")
    val schema = spark.read.parquet(
      m.postings.map { case (_, p) => s"$nopos/$p" }: _*).schema
    assert(!schema.fieldNames.contains("positions"),
      "positions-free postings must not carry the column (delta included)")
    // a positional query against the BM25-only index fails AT THE
    // MANIFEST — never an empty result from a positionless scan
    val e1 = intercept[IllegalArgumentException] {
      InvertedIndex.phraseTopK(spark, nopos, Seq("alpha beta"), k = 5)
    }
    assert(e1.getMessage.contains("withPositions=false"))
    val e2 = intercept[IllegalArgumentException] {
      InvertedIndex.proximityTopK(spark, nopos, Seq(("alpha", "beta")), window = 3, k = 5)
    }
    assert(e2.getMessage.contains("withPositions=false"))
    // the positional twin still serves phrases (deltas carried positions)
    assert(InvertedIndex.phraseTopK(spark, pos, Seq("alpha beta"), k = 5).count() > 0)

    // the FULL maintenance lifecycle holds on the positions-free shape:
    // CDC (tokenizes outgoing text positions-free regardless), delete,
    // compact, and serve all run without the column, answers matching a
    // positions-free rebuild of the post-churn corpus
    val upd = docs.filter(col("doc_id") === 1)
      .select(col("doc_id"), concat_ws(" ", col("text"), col("text")).as("text"))
    InvertedIndex.applyCdc(upserts = upd,
      removals = docs.filter(col("doc_id") === 1), "doc_id", "text", nopos)
    InvertedIndex.deleteDocs(
      docs.filter(col("doc_id") === 2).select("doc_id"), "doc_id", nopos)
    InvertedIndex.compact(spark, nopos)
    val after = docs.filter(col("doc_id") =!= 1 && col("doc_id") =!= 2).unionByName(upd)
    val scratch = java.nio.file.Files.createTempDirectory("invidx_nopos_sc").toString
    InvertedIndex.build(after, "doc_id", "text", scratch, withPositions = false)
    assert(rows(InvertedIndex.bm25TopK(after, "doc_id", "text", nopos, Seq(0L, 7L), k = 5))
      == rows(InvertedIndex.bm25TopK(after, "doc_id", "text", scratch, Seq(0L, 7L), k = 5)),
      "positions-free CDC/delete/compact lifecycle diverged from a rebuild")
  }

  test("compaction that loses the claim race retries against the fresh manifest and still lands") {
    // round 11 shipped compact as single-shot OCC (require on a lost
    // race) — in the supported two-streams-one-index configuration a
    // compact cadence racing the other stream's delta commit killed the
    // streaming query. The seam commits a racing delta between
    // compact's manifest read and its claim, deterministically losing
    // compact's first attempt.
    val dir = java.nio.file.Files.createTempDirectory("invidx_crace").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 4), "doc_id", "text", dir)
    InvertedIndex.addDelta(docs.filter(col("doc_id") === 4 || col("doc_id") === 5),
      "doc_id", "text", dir)
    val folded = InvertedIndex.compactWithHook(spark, dir,
      () => InvertedIndex.addDelta(docs.filter(col("doc_id") === 6 || col("doc_id") === 7),
        "doc_id", "text", dir))
    assert(folded > 0, "compact returned without folding after the lost race")
    // v1 build, v2 delta, v3 racing delta (wins), v4 compact (retried)
    assert(InvertedIndex.versions(spark, dir).last == 4L)
    val m = InvertedIndex.currentManifest(spark, dir)
    assert(m.postings.groupBy(_._1).forall(_._2.size == 1),
      "the retried compact must fold the racing delta's files too")
    // nothing lost on either side: answers equal a from-scratch rebuild
    // over the union of all three commits
    val full = java.nio.file.Files.createTempDirectory("invidx_crace_full").toString
    InvertedIndex.build(docs, "doc_id", "text", full)
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 7L), k = 5))
      == rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", full, Seq(0L, 7L), k = 5)))
  }

  test("compaction folds per-delta files; vacuum expires superseded versions") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_compact").toString
    InvertedIndex.build(docs.filter(col("doc_id") < 2), "doc_id", "text", dir)
    (2L until 8L).grouped(2).foreach { ids =>
      InvertedIndex.addDelta(docs.filter(col("doc_id").isin(ids: _*)),
        "doc_id", "text", dir)
    }
    val before = InvertedIndex.currentManifest(spark, dir)
    assert(before.postings.groupBy(_._1).exists(_._2.size > 1),
      "deltas should have accumulated multi-file buckets")
    val expected = rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 7L), k = 5))

    val folded = InvertedIndex.compact(spark, dir)
    assert(folded > 0)
    val after = InvertedIndex.currentManifest(spark, dir)
    assert(after.postings.groupBy(_._1).forall(_._2.size == 1),
      "every bucket must be single-file after compaction")
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 7L), k = 5))
      == expected, "compaction changed answers")

    // vacuum: keep only the compacted version; superseded postings and
    // stale vocab/stats versions are swept, answers unchanged
    val filesBefore = postingFiles(dir).size
    val removed = InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(removed > 0)
    assert(InvertedIndex.versions(spark, dir) == Seq(after.version))
    assert(postingFiles(dir).size < filesBefore)
    assert(postingFiles(dir).size == after.postings.size,
      "exactly the live manifest's files must survive vacuum")
    assert(rows(InvertedIndex.bm25TopK(docs, "doc_id", "text", dir, Seq(0L, 7L), k = 5))
      == expected, "vacuum changed answers")
  }

  private def textRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("q", "rank").collect().map(_.toSeq).toSeq

  test("champion sidecar: c >= max df degenerates to the exact serve; small c is deterministic and recall-sane") {
    val dir = java.nio.file.Files.createTempDirectory("invidx_champ").toString
    InvertedIndex.build(docs, "doc_id", "text", dir)
    val queries = Seq("alpha delta", "beta epsilon", "zeta")
    val exact = textRows(InvertedIndex.bm25TopKText(spark, dir, queries, k = 3))
    // c = 100 > any df (8 docs): candidate sets are complete AND no
    // score tail truncates — the approximate serve IS the exact serve
    InvertedIndex.buildChampions(spark, dir, c = 100)
    assert(InvertedIndex.currentManifest(spark, dir).championC == 100)
    assert(textRows(InvertedIndex.bm25TopKTextApprox(spark, dir, queries, k = 3)) == exact,
      "c >= max df must serve bit-identically to the exact path")
    // small c: a strict candidate subset, deterministic across runs,
    // and every returned doc is in some query term's champion list
    InvertedIndex.buildChampions(spark, dir, c = 2)
    val a1 = textRows(InvertedIndex.bm25TopKTextApprox(spark, dir, queries, k = 3))
    val a2 = textRows(InvertedIndex.bm25TopKTextApprox(spark, dir, queries, k = 3))
    assert(a1 == a2, "approximate serve must be deterministic")
    // the candidate contract, checked against the persisted sidecar
    // itself: every returned doc is a champion of >= 1 of its query's
    // terms (no delta files exist here, so champions are the whole
    // candidate space)
    val m = InvertedIndex.currentManifest(spark, dir)
    val champ = spark.read.parquet(m.champions.map(p => s"$dir/${p._2}"): _*)
      .select("tok", "doc_id").collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
    assert(champ.values.forall(_.size <= 2), "champion lists exceed c")
    a1.foreach { r =>
      val qTerms = r.head.asInstanceOf[String].split(" ").toSeq
      val allowed = qTerms.flatMap(t => champ.getOrElse(t, Set.empty)).toSet
      assert(allowed.contains(r(2).asInstanceOf[Long]),
        s"returned doc ${r(2)} is not a champion of any term of '${r.head}'")
    }
    // and no query disappears: sub-c-df terms ("zeta", df 2) answer
    // identically to the exact serve
    assert(a1.filter(_.head == "zeta") == exact.filter(_.head == "zeta"),
      "a sub-c-df query must be exact under the approximate mode")
  }

  test("champion sidecar under maintenance: deltas serve unchampioned, CDC masks stale champions, compact clears") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("invidx_champ_m").toString
    InvertedIndex.build(docs, "doc_id", "text", dir)
    InvertedIndex.buildChampions(spark, dir, c = 3)
    // a delta doc with a brand-new term must be findable IMMEDIATELY
    // (its file lies past championCover and serves unchampioned)
    InvertedIndex.addDelta(Seq((100L, "omicron omicron rho")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val fresh = textRows(InvertedIndex.bm25TopKTextApprox(spark, dir, Seq("omicron"), k = 3))
    assert(fresh.map(_(2)) == Seq(100L), "delta doc invisible to the approximate serve")
    // CDC: doc 4 ("zeta eta theta") loses zeta — its champion rows for
    // zeta must be masked by the tombstone (cover >= championCover),
    // while its NEW terms serve from the uncovered delta
    InvertedIndex.applyCdc(
      upserts = Seq((4L, "sigma tau")).toDF("doc_id", "text"),
      removals = Seq((4L, "zeta eta theta")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val zeta = textRows(InvertedIndex.bm25TopKTextApprox(spark, dir, Seq("zeta"), k = 5))
    assert(!zeta.exists(_(2) == 4L), "CDC'd doc's stale champion rows still serve")
    assert(zeta.exists(_(2) == 6L), "unrelated champion rows must survive the CDC")
    val sigma = textRows(InvertedIndex.bm25TopKTextApprox(spark, dir, Seq("sigma"), k = 3))
    assert(sigma.map(_(2)) == Seq(4L), "CDC'd doc's new terms must serve")
    // the approximate answers equal the EXACT serve here: candidate
    // truncation can only drop docs, and these term dfs are < c + the
    // churn files serve in full
    assert(zeta == textRows(InvertedIndex.bm25TopKText(spark, dir, Seq("zeta"), k = 5)),
      "approximate diverged from exact on sub-c dfs under maintenance")
    // compact rewrites the postings list -> the sidecar clears and the
    // approximate mode refuses loudly until rebuilt; vacuum sweeps the
    // orphaned champion files
    InvertedIndex.compact(spark, dir)
    assert(InvertedIndex.currentManifest(spark, dir).championC == 0,
      "compact must clear the champion sidecar")
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.bm25TopKTextApprox(spark, dir, Seq("zeta"), k = 3)
    }
    assert(e.getMessage.contains("buildChampions"), s"unhelpful refusal: ${e.getMessage}")
    InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L)
    val champRoot = new org.apache.hadoop.fs.Path(s"$dir/champions")
    assert(!hfs.exists(champRoot) || hfs.listStatus(champRoot).isEmpty,
      "vacuum left orphaned champion sidecar dirs")
    // rebuild on the compacted layout: approximate serving returns
    InvertedIndex.buildChampions(spark, dir, c = 100)
    assert(textRows(InvertedIndex.bm25TopKTextApprox(spark, dir, Seq("sigma omicron"), k = 5))
      == textRows(InvertedIndex.bm25TopKText(spark, dir, Seq("sigma omicron"), k = 5)),
      "rebuilt champions at c >= max df must serve exactly")
  }
}
