package graft

import graft.operators.{AnnIndex, InvertedIndex, ShardedIndex, Similarity}
import org.apache.spark.sql.functions._

/** Document-partitioned index federation: per-shard builds/maintenance
  * must be independent (untouched shards never advance), and the
  * fan-out serve must be HASH-IDENTICAL to the unsharded index over
  * the same corpus — global BM25 statistics are the load-bearing part
  * (per-shard idf would make cross-shard ranks incomparable).
  */
class ShardedIndexSpec extends SparkSpec {

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
      (7L, "beta gamma delta epsilon"),
      (8L, "epsilon zeta alpha"),
      (9L, "theta alpha beta beta")
    ).toDF("doc_id", "text")
  }

  private val queries = Seq("alpha delta", "beta epsilon", "zeta theta")

  private def served(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("q", "rank").collect().map(_.toSeq).toSeq

  private def shardVersions(dir: String, n: Int): Seq[Long] =
    (0 until n).map(i =>
      InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(dir, i)).version)

  private def routeOf(id: Long, shards: Int): Int = {
    val s = spark
    import s.implicits._
    Seq(id).toDF("id")
      .select(pmod(xxhash64(col("id")), lit(shards.toLong)).cast("int"))
      .head().getInt(0)
  }

  /** The dense legs' corpus: vectors with their `label` as metadata. */
  private def labeled = Tables(spark, sfDir).embeddings.filter(col("vec_id") >= 5)

  private val lowLabel = col("label") < 5

  /** Full-probe (exact) dense serve over a 4-cell federation, optionally
    * filtered through the shards' metadata sidecars.
    */
  private def annServed(dir: String, where: Option[org.apache.spark.sql.Column] = None) =
    ShardedIndex.annTopKSharded(Tables(spark, sfDir).embeddings.filter(col("vec_id") < 3),
        "vec_id", "embedding", dir, k = 5, nProbe = 8, where = where, excludeSelf = false)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq

  /** A filtered dense serve is non-empty and returns only allowed ids. */
  private def assertFiltered(rows: Seq[Seq[Any]]): Unit = {
    val allowed = labeled.filter(lowLabel).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.nonEmpty && rows.forall(r => allowed(r(1).asInstanceOf[Long])),
      s"filtered dense serve returned disallowed or no neighbors: $rows")
  }

  /** Hand-commit a layout overlay: the state a crashed reshard leaves. */
  private def writeOverlay(dir: String, version: Long, body: String): Unit = {
    val ov = new org.apache.hadoop.fs.Path(s"$dir/reshard/v$version.json")
    val fs = ov.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ov.getParent)
    val out = fs.create(ov, false)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  test("sharded BM25 serve is hash-identical to the unsharded index (global statistics)") {
    val flat = java.nio.file.Files.createTempDirectory("shidx_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_fed").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    val expect = served(InvertedIndex.bm25TopKText(spark, flat, queries, k = 5))
    val got    = served(ShardedIndex.bm25TopKTextSharded(spark, shrd, queries, k = 5))
    assert(got == expect,
      "sharded serve diverged from the unsharded index over the same corpus")
    // tombstone-free federations serve through the FUSED single scan:
    // one parquet scan over the concatenated pruned file lists, not an
    // S-wide union (the 32-client dispatch ceiling, VERDICT r14 #3)
    val exec = physicalPlan(ShardedIndex.bm25TopKTextSharded(spark, shrd, queries, k = 5))
    val scans = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"steady federated serve must plan ONE fused postings scan, found ${scans.size}")
    // every doc landed in exactly one shard: per-shard doc counts sum
    // to the corpus (the partition property global stats rely on)
    val ns = (0 until 3).map { i =>
      val d = ShardedIndex.shardDir(shrd, i)
      val m = InvertedIndex.currentManifest(spark, d)
      spark.read.parquet(s"$d/${m.statsDir}").agg(sum("n")).head().getLong(0)
    }
    assert(ns.sum == 10L, s"shard doc counts $ns do not partition the corpus")
    assert(ns.count(_ > 0) > 1, "fixture degenerated: all docs in one shard")
  }

  test("maintenance touches only the shards its ids route to; serve tracks a rebuilt flat index") {
    val s = spark
    import s.implicits._
    val shrd = java.nio.file.Files.createTempDirectory("shidx_m").toString
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    val v0 = shardVersions(shrd, 3)

    // delta: two new docs — only THEIR shards advance
    val delta = Seq((100L, "omicron rho alpha"), (101L, "sigma tau")).toDF("doc_id", "text")
    ShardedIndex.addDeltaSharded(delta, "doc_id", "text", shrd)
    val hit = Set(routeOf(100L, 3), routeOf(101L, 3))
    val v1 = shardVersions(shrd, 3)
    (0 until 3).foreach { i =>
      if (hit(i)) assert(v1(i) > v0(i), s"shard $i should have advanced")
      else assert(v1(i) == v0(i), s"shard $i advanced without receiving docs")
    }

    // CDC: doc 4 re-texted (upsert+removal route to ONE shard); delete doc 6
    ShardedIndex.applyCdcSharded(
      upserts = Seq((4L, "iota kappa")).toDF("doc_id", "text"),
      removals = Seq((4L, "zeta eta theta")).toDF("doc_id", "text"),
      "doc_id", "text", shrd)
    ShardedIndex.deleteDocsSharded(Seq(6L).toDF("doc_id"), "doc_id", shrd)

    // the federation must now serve exactly what a FRESH unsharded
    // index over the post-maintenance corpus serves
    val finalCorpus = docs.filter(col("doc_id") =!= 4L && col("doc_id") =!= 6L)
      .unionByName(delta)
      .unionByName(Seq((4L, "iota kappa")).toDF("doc_id", "text"))
    val flat = java.nio.file.Files.createTempDirectory("shidx_m_flat").toString
    InvertedIndex.build(finalCorpus, "doc_id", "text", flat)
    val qs = queries ++ Seq("omicron kappa", "iota")
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, shrd, qs, k = 5))
      == served(InvertedIndex.bm25TopKText(spark, flat, qs, k = 5)),
      "post-maintenance sharded serve diverged from a rebuilt flat index")

    // compaction runs per shard and changes nothing
    ShardedIndex.compactSharded(spark, shrd)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, shrd, qs, k = 5))
      == served(InvertedIndex.bm25TopKText(spark, flat, qs, k = 5)),
      "compaction changed sharded answers")
  }

  test("a sparse corpus still builds every declared shard; empty shards serve as empty, not errors") {
    val s = spark
    import s.implicits._
    val tiny = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text")
    val shrd = java.nio.file.Files.createTempDirectory("shidx_sparse").toString
    ShardedIndex.buildSharded(tiny, "doc_id", "text", shrd, shards = 4)
    val flat = java.nio.file.Files.createTempDirectory("shidx_sparse_flat").toString
    InvertedIndex.build(tiny, "doc_id", "text", flat)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, shrd, Seq("alpha", "gamma"), k = 3))
      == served(InvertedIndex.bm25TopKText(spark, flat, Seq("alpha", "gamma"), k = 3)),
      "sparse federation diverged from the flat index")
  }

  test("loud contracts: no shards.json = no serve; double build refused") {
    val dir = java.nio.file.Files.createTempDirectory("shidx_loud").toString
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.bm25TopKTextSharded(spark, dir, Seq("alpha"), k = 3)
    }
    assert(e.getMessage.contains("shards.json"), s"unhelpful refusal: ${e.getMessage}")
    ShardedIndex.buildSharded(docs, "doc_id", "text", dir, shards = 2)
    val e2 = intercept[IllegalArgumentException] {
      ShardedIndex.buildSharded(docs, "doc_id", "text", dir, shards = 2)
    }
    assert(e2.getMessage.contains("already holds a committed federation"),
      s"double build not refused: ${e2.getMessage}")
  }

  test("sharded ANN at full probe is the exact global top-k (matches brute force); deltas route per shard") {
    val s = spark
    import s.implicits._
    val emb = Tables(spark, sfDir).embeddings
    val probes     = emb.filter($"vec_id" < 10)
    val candidates = emb.filter($"vec_id" >= 10 && $"vec_id" < 200)
    val dir = java.nio.file.Files.createTempDirectory("shidx_ann").toString
    ShardedIndex.buildShardedAnn(candidates, "vec_id", "embedding", dir,
      shards = 3, nCells = 4)
    // nProbe >= nCells: each shard answers exactly over its slice, so
    // the merged federation answer is the exact global top-k
    val got = ShardedIndex.annTopKSharded(probes, "vec_id", "embedding", dir,
        k = 10, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(probes, candidates, "vec_id", "embedding", k = 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == exact, "full-probe sharded ANN diverged from brute force")

    // a delta folds into ITS shards against each shard's own centroids
    val extra = emb.filter($"vec_id" >= 200 && $"vec_id" < 220)
    ShardedIndex.addDeltaShardedAnn(extra, "vec_id", "embedding", dir)
    val got2 = ShardedIndex.annTopKSharded(probes, "vec_id", "embedding", dir,
        k = 10, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact2 = Similarity.bruteForceTopK(probes,
        candidates.unionByName(extra), "vec_id", "embedding", k = 10)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got2 == exact2, "post-delta sharded ANN diverged from brute force")

    // the export path is kind-agnostic per shard: an ANN federation
    // promotes through the shared exportIndex, and the copy answers identically
    val dest = java.nio.file.Files.createTempDirectory("shidx_ann_dest").toString
    new java.io.File(dest).delete()
    ShardedIndex.exportSharded(spark, dir, dest)
    val got3 = ShardedIndex.annTopKSharded(probes, "vec_id", "embedding", dest,
        k = 10, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got3 == got2, "promoted ANN federation diverged from the source")
  }

  test("phrase federation equals the flat positional index (per-doc counts merge exactly)") {
    val flat = java.nio.file.Files.createTempDirectory("shidx_ph_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_ph_fed").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    val phrases = Seq("alpha beta", "beta beta", "delta epsilon", "gamma gamma beta")
    def byPhrase(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("phrase", "rank").collect().map(_.toSeq).toSeq
    assert(byPhrase(ShardedIndex.phraseTopKSharded(spark, shrd, phrases, k = 5))
      == byPhrase(InvertedIndex.phraseTopK(spark, flat, phrases, k = 5)),
      "federated phrase search diverged from the flat positional index")
  }

  test("proximity and span-near federations equal the flat positional index") {
    val flat = java.nio.file.Files.createTempDirectory("shidx_px_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_px_fed").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    def byQ(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q", "rank").collect().map(_.toSeq).toSeq
    val pairs = Seq(("alpha", "beta"), ("beta", "delta"), ("gamma", "beta"))
    assert(byQ(ShardedIndex.proximityTopKSharded(spark, shrd, pairs, window = 3, k = 5))
      == byQ(InvertedIndex.proximityTopK(spark, flat, pairs, window = 3, k = 5)),
      "federated proximity diverged from the flat positional index")
    val spans = Seq(Seq("alpha", "beta", "gamma"), Seq("delta", "zeta"))
    for (inOrder <- Seq(true, false)) {
      assert(byQ(ShardedIndex.spanNearTopKSharded(spark, shrd, spans, slop = 2,
          inOrder = inOrder, k = 5))
        == byQ(InvertedIndex.spanNearTopK(spark, flat, spans, slop = 2,
          inOrder = inOrder, k = 5)),
        s"federated span-near (inOrder=$inOrder) diverged from the flat index")
    }
  }

  test("filtered federation: the sidecar predicate composes per shard (equals the flat filtered serve)") {
    val s = spark
    import s.implicits._
    val tagged = Seq(
      (0L, "alpha beta gamma alpha", "web"), (1L, "beta beta delta", "web"),
      (2L, "alpha delta epsilon epsilon epsilon", "book"),
      (3L, "gamma gamma beta alpha delta", "book"), (4L, "zeta eta theta", "web"),
      (5L, "alpha beta", "book"), (6L, "delta epsilon zeta", "web"),
      (7L, "beta gamma delta epsilon", "book"), (8L, "epsilon zeta alpha", "web"),
      (9L, "theta alpha beta beta", "web")
    ).toDF("doc_id", "text", "src")
    val flat = java.nio.file.Files.createTempDirectory("shidx_f_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_f_fed").toString
    InvertedIndex.build(tagged, "doc_id", "text", flat, metaCols = Seq("src"))
    ShardedIndex.buildSharded(tagged, "doc_id", "text", shrd, shards = 3,
      metaCols = Seq("src"))
    val pred = Some(col("src") === "web")
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, shrd, queries, k = 5, where = pred))
      == served(InvertedIndex.bm25TopKText(spark, flat, queries, k = 5, where = pred)),
      "federated filtered serve diverged from the flat filtered serve")
    // the unfiltered answers differ from the filtered ones (the
    // predicate is load-bearing, not vacuous)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, shrd, queries, k = 5))
      != served(ShardedIndex.bm25TopKTextSharded(spark, shrd, queries, k = 5, where = pred)),
      "fixture degenerated: the source filter excluded nothing")
  }

  test("id-routed highlights: the driver route matches the engine, and un-routed shards are never touched") {
    val s = spark
    import s.implicits._
    // the driver-side shard route IS the engine expression (same
    // XxHash64, same seed) — the silent-miss risk a re-implemented
    // hash would carry, pinned over a spread of ids
    val ids = Seq(0L, 1L, 7L, 42L, 1000L, -3L, Long.MaxValue, Long.MinValue + 1)
    for (n <- Seq(2, 3, 16)) {
      val engine = ids.toDF("id")
        .select(col("id"), pmod(xxhash64(col("id")), lit(n.toLong)).cast("int").as("s"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      ids.foreach(id => assert(graft.operators.DriverEval.shardOf(id, n) == engine(id),
        s"shardOf diverged from the engine route on $id at $n shards"))
    }

    val flat = java.nio.file.Files.createTempDirectory("shidx_hl_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_hl_fed").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    val terms = Seq("alpha", "beta", "epsilon")
    def hl(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "tok", "pos").collect().map(_.toSeq).toSeq
    val all = (0L to 9L)
    assert(hl(ShardedIndex.termPositionsSharded(spark, shrd, terms, all))
      == hl(InvertedIndex.termPositions(spark, flat, terms, all)),
      "federated highlights diverged from the flat index")

    // the id-routing contract, pinned behaviorally: REMOVE a shard's
    // whole tree and request only docs routed elsewhere — a fan-out
    // implementation would crash on the missing manifest; the id-routed
    // serve never lists it
    val victim = 0
    val survivors = all.filter(id =>
      graft.operators.DriverEval.shardOf(id, 3) != victim)
    assert(survivors.nonEmpty && survivors.size < all.size,
      "fixture degenerated: shard 0 holds none/all of the docs")
    val victimPath = new org.apache.hadoop.fs.Path(ShardedIndex.shardDir(shrd, victim))
    victimPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(victimPath, true)
    assert(hl(ShardedIndex.termPositionsSharded(spark, shrd, terms, survivors))
      == hl(InvertedIndex.termPositions(spark, flat, terms, survivors)),
      "id-routed highlights touched (and died on) an un-routed shard")
  }

  test("federated suggest sums dfs across shards; federation export promotes whole and refuses partial serves") {
    val flat = java.nio.file.Files.createTempDirectory("shidx_sg_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_sg_fed").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    def sg(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("prefix", "rank").collect().map(_.toSeq).toSeq
    val prefixes = Seq("al", "b", "e", "zzz")
    assert(sg(ShardedIndex.suggestTopKSharded(spark, shrd, prefixes, k = 3))
      == sg(InvertedIndex.suggestTopK(spark, flat, prefixes, k = 3)),
      "federated suggest diverged from the flat vocabulary ranking")

    // export the whole federation; the promoted copy serves identically
    // and survives source deletion
    val dest = java.nio.file.Files.createTempDirectory("shidx_sg_dest").toString
    new java.io.File(dest).delete() // export wants a virgin path per shard
    ShardedIndex.exportSharded(spark, shrd, dest)
    val expect = served(ShardedIndex.bm25TopKTextSharded(spark, shrd, queries, k = 5))
    val srcPath = new org.apache.hadoop.fs.Path(shrd)
    srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(srcPath, true)
    graft.operators.IndexManifests.invalidate(shrd)
    (0 until 3).foreach(i =>
      graft.operators.IndexManifests.invalidate(ShardedIndex.shardDir(shrd, i)))
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dest, queries, k = 5)) == expect,
      "promoted federation diverged (or still depended on the source)")
    // a second export into the same destination is refused
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.exportSharded(spark, dest, dest)
    }
    assert(e.getMessage.contains("already holds"), s"double export not refused: ${e.getMessage}")
  }

  test("PQ + filtered ANN federation: per-shard ADC recall holds through the merge; predicates compose") {
    val s = spark
    import s.implicits._
    val emb = Tables(spark, sfDir).embeddings
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val probes     = emb.filter($"vec_id" < 10)
    val candidates = emb.filter($"vec_id" >= 10 && $"vec_id" < 300)
    val dir = java.nio.file.Files.createTempDirectory("shidx_pq").toString
    ShardedIndex.buildShardedAnn(candidates, "vec_id", "embedding", dir,
      shards = 2, nCells = 4, metaCols = Seq("label"),
      pq = Some(AnnIndex.PqSpec(m = 8, nCodes = 16)))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // full probe + generous shortlist: each shard's ADC re-rank sees
    // every candidate, so the federation is exact like annTopKSharded
    val exact = ids(Similarity.bruteForceTopK(probes, candidates,
      "vec_id", "embedding", k = 10))
    val pqFull = ids(ShardedIndex.pqTopKSharded(probes, "vec_id", "embedding",
      dir, k = 10, nProbe = 4, shortlist = 1000))
    assert(pqFull == exact, "full-probe full-shortlist PQ federation not exact")
    // tight shortlist: recall-bounded, pinned like the single-index spec
    val pqTight = ids(ShardedIndex.pqTopKSharded(probes, "vec_id", "embedding",
      dir, k = 10, nProbe = 4, shortlist = 40))
    val recall = exact.intersect(pqTight).size.toDouble / exact.size
    assert(recall >= 0.8, s"sharded ADC recall $recall too low")
    // filtered: the sidecar predicate composes per shard — every
    // result obeys it, and results equal the label-filtered brute force
    val pred = Some(col("label") === 1)
    val filtered = ShardedIndex.annTopKSharded(probes, "vec_id", "embedding",
      dir, k = 10, nProbe = 4, where = pred)
    val labelOf = candidates.select($"vec_id", $"label").as[(Long, Int)]
      .collect().toMap
    val fIds = ids(filtered)
    assert(fIds.nonEmpty && fIds.forall { case (_, nb) => labelOf(nb) == 1 },
      "filtered federation returned an off-label neighbor")
    val exactF = ids(Similarity.bruteForceTopK(probes,
      candidates.filter($"label" === 1), "vec_id", "embedding", k = 10))
    assert(fIds == exactF, "filtered federation diverged from label-filtered brute force")
  }

  test("hybrid over a pair of federations equals the flat-index hybrid at full probe; TVF identity") {
    val s = spark
    import s.implicits._
    val emb = Tables(spark, sfDir).embeddings
    val corpus = Tables(spark, sfDir).documents.select("doc_id", "text")
    val lexFlat = java.nio.file.Files.createTempDirectory("shidx_hy_lf").toString
    val annFlat = java.nio.file.Files.createTempDirectory("shidx_hy_af").toString
    val lexFed  = java.nio.file.Files.createTempDirectory("shidx_hy_lfed").toString
    val annFed  = java.nio.file.Files.createTempDirectory("shidx_hy_afed").toString
    InvertedIndex.build(corpus, "doc_id", "text", lexFlat)
    AnnIndex.build(emb, "vec_id", "embedding", annFlat, nCells = 4)
    ShardedIndex.buildSharded(corpus, "doc_id", "text", lexFed, shards = 3)
    ShardedIndex.buildShardedAnn(emb, "vec_id", "embedding", annFed,
      shards = 2, nCells = 4)
    val vec = emb.filter($"vec_id" === 3).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(_.toSeq).toSeq
    // both branches exact at full probe -> identical ranked lists ->
    // identical fusion (rrfFuseRanked is shared, ranker-agnostic)
    val flat = rows(graft.operators.TextAnalysis.hybridTopKText(spark,
      lexFlat, annFlat, "fast key scan", vec, k = 5, depth = 10, nProbe = 4))
    val fed = rows(ShardedIndex.hybridTopKTextSharded(spark,
      lexFed, annFed, "fast key scan", vec, k = 5, depth = 10, nProbe = 4))
    assert(fed == flat, "federated hybrid diverged from the flat-index hybrid")
    // SQL surface resolves to the same plan
    val vecSql = vec.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
    val tvf = rows(spark.sql(
      s"SELECT * FROM graft_hybrid_sharded('$lexFed', '$annFed', 'fast key scan', $vecSql, 5, 10, 4)"))
    assert(tvf == fed, "graft_hybrid_sharded TVF diverged from the Scala serve")
  }

  test("more-like-this over the federation selects by GLOBAL idf and equals the flat serve") {
    val flat = java.nio.file.Files.createTempDirectory("shidx_mlt_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_mlt_fed").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    val exemplars = Seq("alpha beta gamma zeta", "delta epsilon theta")
    for (m <- Seq(2, 3, 8)) {
      assert(served(ShardedIndex.moreLikeThisTopKTextSharded(spark, shrd, exemplars, m = m, k = 5))
        == served(InvertedIndex.moreLikeThisTopKText(spark, flat, exemplars, m = m, k = 5)),
        s"federated MLT diverged from flat at m=$m")
    }
    // exemplar with no indexed terms: empty, never an error
    assert(ShardedIndex.moreLikeThisTopKTextSharded(spark, shrd,
      Seq("xyzzy unknownterm"), m = 3, k = 5).isEmpty,
      "unknown-term exemplar should serve empty")
  }

  test("every federated serve shape is reachable from SQL (TVF identities)") {
    val s = spark
    import s.implicits._
    val shrd = java.nio.file.Files.createTempDirectory("shidx_tvf").toString
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(spark.sql(s"SELECT * FROM graft_bm25_sharded('$shrd', 'alpha delta', 3) ORDER BY rank"))
      == rows(ShardedIndex.bm25TopKTextSharded(spark, shrd, Seq("alpha delta"), k = 3).orderBy("rank")))
    assert(rows(spark.sql(s"SELECT * FROM graft_phrase_sharded('$shrd', 'alpha beta', 3) ORDER BY rank"))
      == rows(ShardedIndex.phraseTopKSharded(spark, shrd, Seq("alpha beta"), k = 3).orderBy("rank")))
    assert(rows(spark.sql(s"SELECT * FROM graft_highlight_sharded('$shrd', 'alpha beta', array(0, 3, 5)) ORDER BY doc_id, tok, pos"))
      == rows(ShardedIndex.termPositionsSharded(spark, shrd, Seq("alpha", "beta"), Seq(0L, 3L, 5L)).orderBy("doc_id", "tok", "pos")))
    assert(rows(spark.sql(s"SELECT * FROM graft_suggest_sharded('$shrd', 'al', 3) ORDER BY rank"))
      == rows(ShardedIndex.suggestTopKSharded(spark, shrd, Seq("al"), k = 3).orderBy("rank")))
    assert(rows(spark.sql(s"SELECT * FROM graft_mlt_sharded('$shrd', 'alpha zeta', 2, 3) ORDER BY rank"))
      == rows(ShardedIndex.moreLikeThisTopKTextSharded(spark, shrd, Seq("alpha zeta"), m = 2, k = 3).orderBy("rank")))
    ShardedIndex.buildChampionsSharded(spark, shrd, c = 3)
    assert(rows(spark.sql(s"SELECT * FROM graft_bm25_approx_sharded('$shrd', 'alpha delta', 3) ORDER BY rank"))
      == rows(ShardedIndex.bm25TopKTextApproxSharded(spark, shrd, Seq("alpha delta"), k = 3).orderBy("rank")))

    val ann = java.nio.file.Files.createTempDirectory("shidx_tvf_ann").toString
    val emb = Tables(spark, sfDir).embeddings
    ShardedIndex.buildShardedAnn(emb.filter($"vec_id" >= 10 && $"vec_id" < 200),
      "vec_id", "embedding", ann, shards = 2, nCells = 4)
    val vec = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val vecSql = vec.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
    val viaSql = rows(spark.sql(
      s"SELECT * FROM graft_ann_sharded('$ann', $vecSql, 5, 4) ORDER BY rank"))
    val probe = Seq((-1L, vec.toSeq)).toDF("probe_id", "embedding")
    val viaApi = rows(ShardedIndex.annTopKSharded(probe, "probe_id", "embedding",
        ann, k = 5, nProbe = 4, excludeSelf = false)
      .select("neighbor_id", "cosine", "rank").orderBy("rank"))
    assert(viaSql == viaApi, "graft_ann_sharded TVF diverged from the Scala serve")
  }

  test("ANN federation refuses a shard with no vectors (quantizers need data)") {
    val s = spark
    import s.implicits._
    val emb = Tables(spark, sfDir).embeddings
    val three = emb.filter($"vec_id" >= 10).limit(3)
    val dir = java.nio.file.Files.createTempDirectory("shidx_ann_sparse").toString
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.buildShardedAnn(three, "vec_id", "embedding", dir,
        shards = 16, nCells = 2)
    }
    assert(e.getMessage.contains("no vectors"), s"unhelpful refusal: ${e.getMessage}")
  }

  test("reshard: a new shard count serves identically, with no re-tokenization inputs") {
    val s = spark
    import s.implicits._
    // corpus WITH metadata + maintenance history (delta, CDC re-text,
    // tombstone) so the reshard must carry live postings, positions,
    // and latest-wins metadata — not just a fresh build's happy path
    val corpus = (0L until 40L).map(i =>
      (i, s"alpha beta word-$i gamma delta", if (i % 2 == 0) "web" else "book"))
      .toDF("doc_id", "text", "source")
    val src = java.nio.file.Files.createTempDirectory("shidx_rs_src").toString
    ShardedIndex.buildSharded(corpus, "doc_id", "text", src, shards = 2,
      metaCols = Seq("source"))
    ShardedIndex.addDeltaSharded(
      Seq((100L, "alpha epsilon zeta", "web")).toDF("doc_id", "text", "source"),
      "doc_id", "text", src)
    ShardedIndex.applyCdcSharded(
      upserts = Seq((3L, "beta retexted doc", "book")).toDF("doc_id", "text", "source"),
      removals = Seq((3L, "alpha beta word-3 gamma delta", "book")).toDF("doc_id", "text", "source"),
      "doc_id", "text", src)
    ShardedIndex.deleteDocsSharded(Seq(7L).toDF("doc_id"), "doc_id", src)

    val dest = java.nio.file.Files.createTempDirectory("shidx_rs_dst").toString
    // debris from an "interrupted" earlier reshard must not dead-end
    InvertedIndex.build(corpus.limit(2), "doc_id", "text",
      ShardedIndex.shardDir(dest, 0))
    ShardedIndex.reshard(spark, src, dest, newShards = 5)
    assert(ShardedIndex.shardCount(spark, dest) == 5)

    val qs = Seq("alpha gamma", "beta", "epsilon retexted")
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dest, qs, k = 5))
      == served(ShardedIndex.bm25TopKTextSharded(spark, src, qs, k = 5)),
      "resharded federation diverged from the source on BM25")
    // positions carried: phrase serve identical across layouts
    def phr(d: String) = ShardedIndex.phraseTopKSharded(spark, d,
      Seq("alpha beta", "retexted doc"), k = 5).orderBy("phrase", "rank")
      .collect().map(_.toSeq).toSeq
    assert(phr(dest) == phr(src), "positions lost in reshard")
    // latest-wins metadata carried: filtered serve identical
    def filt(d: String) = served(ShardedIndex.bm25TopKTextSharded(spark, d,
      Seq("alpha"), k = 5, where = Some(col("source") === "web")))
    assert(filt(dest) == filt(src), "metadata sidecar lost in reshard")
    // the source kept serving untouched; the destination refuses a
    // second reshard (committed marker)
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.reshard(spark, src, dest, newShards = 3)
    }
    assert(e.getMessage.contains("already holds"), s"unhelpful refusal: ${e.getMessage}")

    // a positions-free SPARSE federation reshards too: the empty
    // shard's synthesized postings schema must match the manifest's
    // positions flag or the live-rows union breaks (r14 review find)
    val tiny = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text")
    val npSrc = java.nio.file.Files.createTempDirectory("shidx_rs_np").toString
    val npDst = java.nio.file.Files.createTempDirectory("shidx_rs_npd").toString
    ShardedIndex.buildSharded(tiny, "doc_id", "text", npSrc, shards = 4,
      withPositions = false)
    // interrupted-reshard debris including the META staging tree must
    // sweep on retry (exact-name sweeps left _route_staging_meta behind)
    tiny.withColumn("__shard", lit(0)).write.parquet(s"$npDst/_route_staging_meta")
    ShardedIndex.reshard(spark, npSrc, npDst, newShards = 2)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, npDst, Seq("alpha", "gamma"), k = 3))
      == served(ShardedIndex.bm25TopKTextSharded(spark, npSrc, Seq("alpha", "gamma"), k = 3)),
      "positions-free sparse reshard diverged from its source")

    // ANN federation: reshard re-routes live vectors; full probe stays
    // exact over the new layout
    val emb = Tables(spark, sfDir).embeddings.filter($"vec_id" >= 5)
    val annSrc = java.nio.file.Files.createTempDirectory("shidx_rs_asrc").toString
    val annDst = java.nio.file.Files.createTempDirectory("shidx_rs_adst").toString
    ShardedIndex.buildShardedAnn(emb, "vec_id", "embedding", annSrc,
      shards = 3, nCells = 4)
    ShardedIndex.reshard(spark, annSrc, annDst, newShards = 2)
    val probes = Tables(spark, sfDir).embeddings.filter($"vec_id" < 3)
    def ann(d: String) = ShardedIndex.annTopKSharded(probes, "vec_id", "embedding",
        d, k = 5, nProbe = 4, excludeSelf = false)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    assert(ann(annDst) == ann(annSrc),
      "resharded ANN federation diverged from the source at full probe")

    // a dense federation WITH metadata: the sidecar re-routes with the
    // vectors, so the filtered serve survives the new layout
    val metaSrc = java.nio.file.Files.createTempDirectory("shidx_rs_msrc").toString
    val metaDst = java.nio.file.Files.createTempDirectory("shidx_rs_mdst").toString
    ShardedIndex.buildShardedAnn(labeled, "vec_id", "embedding", metaSrc,
      shards = 3, nCells = 4, metaCols = Seq("label"))
    val preFiltered = annServed(metaSrc, Some(lowLabel))
    assertFiltered(preFiltered)
    ShardedIndex.reshard(spark, metaSrc, metaDst, newShards = 2)
    assert(ShardedIndex.shardCount(spark, metaDst) == 2)
    assert(annServed(metaDst) == annServed(metaSrc),
      "resharded dense federation with metadata diverged at full probe")
    assert(annServed(metaDst, Some(lowLabel)) == preFiltered,
      "dense metadata sidecar lost in reshard")
  }

  test("federated champion serving: GLOBAL top-c selection equals the flat approximate serve") {
    val s = spark
    import s.implicits._
    // a corpus where per-shard selection would DIVERGE from global:
    // many docs share hot terms so the top-c cut falls differently
    // under shard-local vs global avgdl
    val corpus = (0L until 60L).map { i =>
      val pad = Seq.fill((i % 7).toInt)("filler").mkString(" ")
      (i, s"alpha beta common-$i $pad" + (if (i % 3 == 0) " gamma" else ""))
    }.toDF("doc_id", "text")
    val flat = java.nio.file.Files.createTempDirectory("shidx_ch_flat").toString
    val shrd = java.nio.file.Files.createTempDirectory("shidx_ch_fed").toString
    InvertedIndex.build(corpus, "doc_id", "text", flat)
    ShardedIndex.buildSharded(corpus, "doc_id", "text", shrd, shards = 3)
    InvertedIndex.buildChampions(spark, flat, c = 4)
    ShardedIndex.buildChampionsSharded(spark, shrd, c = 4)
    val qs = Seq("alpha gamma", "beta")
    // c=4 < df(alpha)=60: a real approximation — the candidate
    // restriction bites, and the federated answer must still be the
    // flat one (global selection + global statistics)
    val expect = served(InvertedIndex.bm25TopKTextApprox(spark, flat, qs, k = 5))
    assert(served(ShardedIndex.bm25TopKTextApproxSharded(spark, shrd, qs, k = 5))
      == expect, "federated approximate serve diverged from flat champion serve")
    // degeneracy: c >= max df equals the EXACT serve on both layouts
    val flat2 = java.nio.file.Files.createTempDirectory("shidx_ch_flat2").toString
    val shrd2 = java.nio.file.Files.createTempDirectory("shidx_ch_fed2").toString
    InvertedIndex.build(corpus, "doc_id", "text", flat2)
    ShardedIndex.buildSharded(corpus, "doc_id", "text", shrd2, shards = 3)
    InvertedIndex.buildChampions(spark, flat2, c = 200)
    ShardedIndex.buildChampionsSharded(spark, shrd2, c = 200)
    val exact = served(InvertedIndex.bm25TopKText(spark, flat2, qs, k = 5))
    assert(served(ShardedIndex.bm25TopKTextApproxSharded(spark, shrd2, qs, k = 5))
      == exact, "c >= max df must degenerate to the exact serve")
    // freshness: a delta staged AFTER the champion build serves
    // unchampioned on both layouts — answers stay flat-identical
    val fresh = Seq((1000L, "alpha gamma zeta"), (1001L, "beta zeta")).toDF("doc_id", "text")
    InvertedIndex.addDelta(fresh, "doc_id", "text", flat)
    ShardedIndex.addDeltaSharded(fresh, "doc_id", "text", shrd)
    assert(served(ShardedIndex.bm25TopKTextApproxSharded(spark, shrd, qs :+ "zeta", k = 5))
      == served(InvertedIndex.bm25TopKTextApprox(spark, flat, qs :+ "zeta", k = 5)),
      "post-champion delta diverged between federated and flat approximate serves")
    // MIXED selections must refuse: a stray per-shard buildChampions
    // (or a partially-landed federated selection) leaves shards with
    // championC > 0 but DIFFERENT epochs — serving a silent mix of two
    // selections is the one wrong answer this surface can produce
    InvertedIndex.buildChampions(spark, ShardedIndex.shardDir(shrd, 0), c = 4)
    val eMix = intercept[IllegalArgumentException] {
      ShardedIndex.bm25TopKTextApproxSharded(spark, shrd, qs, k = 5)
    }
    assert(eMix.getMessage.contains("DIFFERENT selections"),
      s"mixed champion epochs served silently: ${eMix.getMessage}")
    // a re-run lands one selection across every shard and serves again
    // (re-select the FLAT index too: both selections must see the same
    // corpus state — the earlier flat selection predates the delta)
    ShardedIndex.buildChampionsSharded(spark, shrd, c = 4)
    InvertedIndex.buildChampions(spark, flat, c = 4)
    assert(served(ShardedIndex.bm25TopKTextApproxSharded(spark, shrd, qs :+ "zeta", k = 5))
      == served(InvertedIndex.bm25TopKTextApprox(spark, flat, qs :+ "zeta", k = 5)),
      "re-run federated selection diverged from flat")

    // compaction clears champion sidecars — the approximate serve must
    // refuse loudly per shard, exactly like the flat index
    ShardedIndex.compactSharded(spark, shrd)
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.bm25TopKTextApproxSharded(spark, shrd, qs, k = 5)
    }
    assert(e.getMessage.contains("buildChampionsSharded"),
      s"unhelpful refusal after compaction cleared champions: ${e.getMessage}")
  }

  test("federated maintenance scans the batch ONCE regardless of shards hit (files-opened pinned)") {
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration.set(
      "fs.cnt.impl", classOf[CountingFileSystem].getName)
    val shrd = java.nio.file.Files.createTempDirectory("shidx_scan").toString
    ShardedIndex.buildSharded(docs, "doc_id", "text", shrd, shards = 4)

    // one-file delta whose ids hit SEVERAL shards — the shape where the
    // round-13 filter-per-shard path re-read the whole batch per shard
    val batchDir = java.nio.file.Files.createTempDirectory("shidx_scan_b").toString
    (100L until 124L).map(i => (i, s"alpha payload-$i beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(batchDir)
    val sch = spark.read.parquet(batchDir).schema
    val batch = spark.read.schema(sch).parquet(s"cnt:$batchDir")

    CountingFileSystem.reset()
    val hit = ShardedIndex.addDeltaSharded(batch, "doc_id", "text", shrd)
    assert(hit.size >= 2, s"fixture degenerated: delta hit only shards $hit")
    val opens = CountingFileSystem.parquetOpensUnder(batchDir)
    // exactly one staging scan of the batch: parquet opens each file a
    // small constant number of times per scan (footer + row groups) —
    // the bound is INDEPENDENT of how many shards the batch touches.
    // The old path paid (1 route probe + hit.size shard folds, each
    // multi-scan) full-batch reads: ≥ 5 opens here, growing with S.
    assert(opens >= 1 && opens <= 3,
      s"federated fold read the batch $opens times — expected one staging scan")

    // CDC path shares the staged routing — same one-scan bound per frame
    val upDir = java.nio.file.Files.createTempDirectory("shidx_scan_u").toString
    (100L until 112L).map(i => (i, s"gamma retext-$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(upDir)
    val ups = spark.read.schema(sch).parquet(s"cnt:$upDir")
    val olds = (100L until 112L).map(i => (i, s"alpha payload-$i beta")).toDF("doc_id", "text")
    CountingFileSystem.reset()
    val hitCdc = ShardedIndex.applyCdcSharded(ups, olds, "doc_id", "text", shrd)
    assert(hitCdc.size >= 2, s"fixture degenerated: CDC hit only shards $hitCdc")
    val cdcOpens = CountingFileSystem.parquetOpensUnder(upDir)
    assert(cdcOpens >= 1 && cdcOpens <= 3,
      s"federated CDC read the upsert batch $cdcOpens times — expected one staging scan")

    // and the staged routing changed nothing: the federation equals a
    // fresh flat index over the post-maintenance corpus
    val finalCorpus = docs
      .unionByName((112L until 124L).map(i => (i, s"alpha payload-$i beta")).toDF("doc_id", "text"))
      .unionByName((100L until 112L).map(i => (i, s"gamma retext-$i")).toDF("doc_id", "text"))
    val flat = java.nio.file.Files.createTempDirectory("shidx_scan_f").toString
    InvertedIndex.build(finalCorpus, "doc_id", "text", flat)
    val qs = Seq("alpha beta", "gamma")
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, shrd, qs, k = 5))
      == served(InvertedIndex.bm25TopKText(spark, flat, qs, k = 5)),
      "staged routing changed federated answers")

    // no staging debris left behind after successful folds
    val leftovers = new java.io.File(s"$shrd/${ShardedIndex.MaintStagingDir}")
    assert(!leftovers.exists() || leftovers.listFiles().isEmpty,
      "maintenance staging tree not swept")
  }

  test("a crashed earlier build's debris is swept by the retry (no errorifexists dead end)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shidx_crash").toString
    // simulate a crash mid-build: staging tree + one half-built shard
    // root on disk, NO shards.json
    docs.withColumn("__shard", pmod(xxhash64(col("doc_id")), lit(2L)).cast("int"))
      .write.partitionBy("__shard").parquet(s"$dir/_route_staging")
    InvertedIndex.build(docs.limit(3), "doc_id", "text", ShardedIndex.shardDir(dir, 0))
    // the retry must succeed AND serve from the fresh build only
    ShardedIndex.buildSharded(docs, "doc_id", "text", dir, shards = 2)
    val flat = java.nio.file.Files.createTempDirectory("shidx_crash_flat").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, queries, k = 5))
      == served(InvertedIndex.bm25TopKText(spark, flat, queries, k = 5)),
      "retry after crash debris served stale or duplicated content")
    assert(!new java.io.File(s"$dir/_route_staging").exists(),
      "retry left the crashed build's staging tree behind")
  }

  test("in-place reshard moves only the route-diff: stayers never rewritten, serve identity holds, champions auto-rebuild") {
    val s = spark
    import s.implicits._
    // metadata + positions + maintenance history + CHAMPIONS — the full
    // serving state an online reshard must preserve
    val corpus = (0L until 60L).map(i =>
      (i, s"alpha beta word-$i gamma delta", if (i % 2 == 0) "web" else "book"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("shidx_rip").toString
    ShardedIndex.buildSharded(corpus, "doc_id", "text", dir, shards = 2,
      metaCols = Seq("source"))
    ShardedIndex.addDeltaSharded(
      Seq((100L, "alpha epsilon zeta", "web")).toDF("doc_id", "text", "source"),
      "doc_id", "text", dir)
    ShardedIndex.deleteDocsSharded(Seq(7L).toDF("doc_id"), "doc_id", dir)
    ShardedIndex.buildChampionsSharded(spark, dir, c = 3)

    val qs = Seq("alpha gamma", "beta", "epsilon zeta")
    val preBm25   = served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5))
    val preApprox = served(ShardedIndex.bm25TopKTextApproxSharded(spark, dir, qs, k = 5))
    def phr(d: String) = ShardedIndex.phraseTopKSharded(spark, d,
      Seq("alpha beta"), k = 5).orderBy("phrase", "rank").collect().map(_.toSeq).toSeq
    val prePhrase = phr(dir)
    def filt(d: String) = served(ShardedIndex.bm25TopKTextSharded(spark, d,
      Seq("alpha"), k = 5, where = Some(col("source") === "web")))
    val preFilt = filt(dir)
    val preSuggest = ShardedIndex.suggestTopKSharded(spark, dir, Seq("al", "ep"), k = 3)
      .orderBy("prefix", "rank").collect().map(_.toSeq).toSeq
    // movement pin baseline: the old shards' postings FILE SETS
    def postingsOf(i: Int) =
      InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(dir, i)).postings

    val prePostings = (0 until 2).map(postingsOf)

    // a non-multiple target refuses (any other ratio moves ~everything)
    val nm = intercept[IllegalArgumentException] {
      ShardedIndex.reshardInPlace(spark, dir, 3)
    }
    assert(nm.getMessage.contains("route-stable"), s"unhelpful: ${nm.getMessage}")

    ShardedIndex.reshardInPlace(spark, dir, 4)
    assert(ShardedIndex.shardCount(spark, dir) == 4)

    // serve identity across the layout change — exact + approximate
    // (champions rebuilt with NO manual step) + positional + filtered +
    // vocabulary, all on the grown layout
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5)) == preBm25,
      "in-place reshard changed the exact BM25 serve")
    assert(served(ShardedIndex.bm25TopKTextApproxSharded(spark, dir, qs, k = 5)) == preApprox,
      "in-place reshard changed (or orphaned) the approximate serve")
    assert(phr(dir) == prePhrase, "in-place reshard lost positions")
    assert(filt(dir) == preFilt, "in-place reshard lost metadata")
    assert(ShardedIndex.suggestTopKSharded(spark, dir, Seq("al", "ep"), k = 3)
      .orderBy("prefix", "rank").collect().map(_.toSeq).toSeq == preSuggest,
      "in-place reshard changed the vocabulary serve")
    // ... and equals a flat rebuild over the live corpus
    val liveCorpus = corpus.filter($"doc_id" =!= 7L)
      .unionByName(Seq((100L, "alpha epsilon zeta", "web")).toDF("doc_id", "text", "source"))
    val flat = java.nio.file.Files.createTempDirectory("shidx_rip_flat").toString
    InvertedIndex.build(liveCorpus, "doc_id", "text", flat, metaCols = Seq("source"))
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5))
      == served(InvertedIndex.bm25TopKText(spark, flat, qs, k = 5)),
      "in-place resharded federation diverged from a flat rebuild")

    // MOVEMENT: the stay set was never rewritten — the old shards'
    // postings files are EXACTLY the pre-reshard ones (the tombstone
    // commit adds deletes + corrected vocab/stats, no data rewrite)
    (0 until 2).foreach { i =>
      assert(postingsOf(i) == prePostings(i),
        s"old shard $i rewrote postings — movement must be the route-diff only")
      assert(InvertedIndex.currentManifest(spark,
        ShardedIndex.shardDir(dir, i)).deletes.nonEmpty,
        s"old shard $i carries no leaver tombstone")
    }
    // every doc lives in exactly one shard of the NEW layout
    val counts = (0 until 4).map { i =>
      val m = InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(dir, i))
      graft.operators.IndexManifests.cachedStats(spark,
        ShardedIndex.shardDir(dir, i), m.statsDir)._1
    }
    assert(counts.sum == 60, s"per-shard doc counts ${counts} must sum to the live corpus")
    // the leavers' metadata rows stay in the old shards' sidecars until
    // compaction: the next reshard must take each shard's metadata for
    // the ids it owns only, or every moved id arrives twice and the
    // one-row-per-id sidecar check refuses
    val again = java.nio.file.Files.createTempDirectory("shidx_rip_again").toString
    ShardedIndex.reshard(spark, dir, again, newShards = 3)
    assert(filt(again) == preFilt, "reshard after an in-place reshard lost metadata")

    // the ANN federation reshards in place too: stayer shards KEEP
    // their trained geometry (vector file lists untouched), leavers
    // train the new shards, and the full-probe serve is unchanged
    val emb = Tables(spark, sfDir).embeddings.filter($"vec_id" >= 5)
    val annDir = java.nio.file.Files.createTempDirectory("shidx_rip_ann").toString
    ShardedIndex.buildShardedAnn(emb, "vec_id", "embedding", annDir, shards = 2, nCells = 4)
    val probes = Tables(spark, sfDir).embeddings.filter($"vec_id" < 3)
    def annServe() = ShardedIndex.annTopKSharded(probes, "vec_id", "embedding",
        annDir, k = 5, nProbe = 8, excludeSelf = false)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val preAnn = annServe()
    val preVectors = (0 until 2).map(i =>
      graft.operators.AnnIndex.currentManifest(spark,
        ShardedIndex.shardDir(annDir, i)).vectors)
    ShardedIndex.reshardInPlace(spark, annDir, 4)
    assert(ShardedIndex.shardCount(spark, annDir) == 4)
    assert(annServe() == preAnn,
      "ANN in-place reshard changed the full-probe serve")
    (0 until 2).foreach { i =>
      assert(graft.operators.AnnIndex.currentManifest(spark,
          ShardedIndex.shardDir(annDir, i)).vectors == preVectors(i),
        s"ANN stayer shard $i rewrote vector files — movement must be the route-diff")
    }

    // ... and carries its metadata: the filtered serve is unchanged
    val metaDir = java.nio.file.Files.createTempDirectory("shidx_rip_meta").toString
    ShardedIndex.buildShardedAnn(labeled, "vec_id", "embedding", metaDir,
      shards = 2, nCells = 4, metaCols = Seq("label"))
    val preMeta = annServed(metaDir)
    val preFiltered = annServed(metaDir, Some(lowLabel))
    assertFiltered(preFiltered)
    ShardedIndex.reshardInPlace(spark, metaDir, 4)
    assert(ShardedIndex.shardCount(spark, metaDir) == 4)
    assert(annServed(metaDir) == preMeta,
      "dense in-place reshard with metadata changed the full-probe serve")
    assert(annServed(metaDir, Some(lowLabel)) == preFiltered,
      "dense in-place reshard lost metadata")
    ShardedIndex.reshardInPlace(spark, metaDir, 8)
    assert(annServed(metaDir, Some(lowLabel)) == preFiltered,
      "second dense in-place reshard lost metadata")
  }

  test("mid-transition: serving stays pinned to the pre-reshard snapshot; maintenance refuses; resume completes") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 40L).map(i => (i, s"alpha beta word-$i gamma")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("shidx_mid").toString
    ShardedIndex.buildSharded(corpus, "doc_id", "text", dir, shards = 2)
    val qs = Seq("alpha gamma", "beta")
    val pre = served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5))

    // hand-commit the transition overlay at the current heads — the
    // exact state a reshard crash leaves (phase A done, nothing else)
    val pins = (0 until 2).map(i =>
      InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(dir, i)).version)
    val ov = new org.apache.hadoop.fs.Path(s"$dir/reshard/v1.json")
    val fs = ov.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ov.getParent)
    val out = fs.create(ov, false)
    out.write(s"""{"shards": 2, "pins": [${pins.mkString(", ")}], "target": 4}""".getBytes("UTF-8"))
    out.close()

    // land ONE shard's leaver tombstone directly (the reshard's own
    // mid-flight write): HEAD advances past the pin, but serving must
    // keep answering the PINNED pre-reshard snapshot
    val d0 = ShardedIndex.shardDir(dir, 0)
    val m0 = InvertedIndex.currentManifest(spark, d0)
    val leavers0 = InvertedIndex.liveRows(spark, d0, m0, m0.postings)
      .filter(pmod(xxhash64(col("doc_id")), lit(4L)).cast("int") =!= lit(0))
    InvertedIndex.removeRows(spark, d0, leavers0)
    assert(InvertedIndex.currentManifest(spark, d0).version > pins(0),
      "test setup: the tombstone must advance shard 0's head")
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5)) == pre,
      "mid-transition serve saw the invisible tombstone — pins not honored")

    // maintenance + positional serves refuse while the transition is live
    val me = intercept[IllegalArgumentException] {
      ShardedIndex.addDeltaSharded(Seq((900L, "alpha")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    assert(me.getMessage.contains("in flight"), s"unhelpful: ${me.getMessage}")
    val pe = intercept[IllegalArgumentException] {
      ShardedIndex.phraseTopKSharded(spark, dir, Seq("alpha beta"), k = 3)
    }
    assert(pe.getMessage.contains("in flight"), s"unhelpful: ${pe.getMessage}")
    // ... and a DIFFERENT target refuses (one transition at a time)
    val te = intercept[IllegalArgumentException] {
      ShardedIndex.reshardInPlace(spark, dir, 8)
    }
    assert(te.getMessage.contains("already in flight"), s"unhelpful: ${te.getMessage}")

    // resume with the declared target: skips the landed tombstone,
    // builds the new shards, flips — and the final serve matches both
    // the pre-reshard answer and a flat rebuild
    ShardedIndex.reshardInPlace(spark, dir, 4)
    assert(ShardedIndex.shardCount(spark, dir) == 4)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5)) == pre,
      "resumed reshard changed the serve")
    val flat = java.nio.file.Files.createTempDirectory("shidx_mid_flat").toString
    InvertedIndex.build(corpus, "doc_id", "text", flat)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5))
      == served(InvertedIndex.bm25TopKText(spark, flat, qs, k = 5)),
      "resumed reshard diverged from a flat rebuild")
    // post-flip the federation is steady again: maintenance works
    ShardedIndex.addDeltaSharded(Seq((900L, "alpha omega")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, Seq("omega"), k = 3)).nonEmpty)

    // the dense kind: the same crash state (overlay + one landed leaver
    // removal) serves pinned, refuses maintenance, and resumes
    val annDir = java.nio.file.Files.createTempDirectory("shidx_mid_ann").toString
    ShardedIndex.buildShardedAnn(labeled, "vec_id", "embedding", annDir,
      shards = 2, nCells = 4, metaCols = Seq("label"))
    val preAnn = annServed(annDir)
    val preFiltered = annServed(annDir, Some(lowLabel))
    assertFiltered(preFiltered)
    val annPins = (0 until 2).map(i =>
      AnnIndex.currentManifest(spark, ShardedIndex.shardDir(annDir, i)).version)
    writeOverlay(annDir, 1, s"""{"shards": 2, "pins": [${annPins.mkString(", ")}], "target": 4}""")
    val a0 = ShardedIndex.shardDir(annDir, 0)
    val am0 = AnnIndex.currentManifest(spark, a0)
    AnnIndex.deleteVecs(AnnIndex.liveRows(spark, a0, am0, am0.vectors)
        .filter(pmod(xxhash64(col("neighbor_id")), lit(4L)).cast("int") =!= lit(0))
        .select("neighbor_id"), "neighbor_id", a0)
    assert(AnnIndex.currentManifest(spark, a0).version > annPins(0),
      "test setup: the dense removal must advance shard 0's head")
    assert(annServed(annDir) == preAnn,
      "mid-transition dense serve saw the invisible tombstone — pins not honored")
    val ame = intercept[IllegalArgumentException] {
      ShardedIndex.addDeltaShardedAnn(
        Tables(spark, sfDir).embeddings.filter($"vec_id" < 2)
          .select(col("vec_id") + 900000L as "vec_id", col("embedding")),
        "vec_id", "embedding", annDir)
    }
    assert(ame.getMessage.contains("in flight"), s"unhelpful: ${ame.getMessage}")
    ShardedIndex.reshardInPlace(spark, annDir, 4)
    assert(ShardedIndex.shardCount(spark, annDir) == 4)
    assert(annServed(annDir) == preAnn, "resumed dense reshard changed the serve")
    assert(annServed(annDir, Some(lowLabel)) == preFiltered,
      "resumed dense reshard lost metadata")

    // a FOREIGN dense commit during a transition refuses the resume
    val fDir = java.nio.file.Files.createTempDirectory("shidx_mid_annf").toString
    ShardedIndex.buildShardedAnn(labeled, "vec_id", "embedding", fDir,
      shards = 2, nCells = 4, metaCols = Seq("label"))
    val fPins = (0 until 2).map(i =>
      AnnIndex.currentManifest(spark, ShardedIndex.shardDir(fDir, i)).version)
    writeOverlay(fDir, 1, s"""{"shards": 2, "pins": [${fPins.mkString(", ")}], "target": 4}""")
    AnnIndex.addDelta(Tables(spark, sfDir).embeddings.filter($"vec_id" < 2)
        .select(col("vec_id") + 900000L as "vec_id", col("embedding"), col("label")),
      "vec_id", "embedding", ShardedIndex.shardDir(fDir, 0))
    val afe = intercept[IllegalArgumentException] {
      ShardedIndex.reshardInPlace(spark, fDir, 4)
    }
    assert(afe.getMessage.contains("foreign commit"), s"unhelpful: ${afe.getMessage}")
  }

  test("re-running a finished in-place reshard is a no-op, for both kinds") {
    val s = spark
    import s.implicits._
    // the state a crash just after the flip claim leaves: the documented
    // recovery (re-run with the same target) must succeed and change nothing
    val corpus = (0L until 40L).map(i => (i, s"alpha beta word-$i gamma")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("shidx_rerun").toString
    ShardedIndex.buildSharded(corpus, "doc_id", "text", dir, shards = 2)
    ShardedIndex.reshardInPlace(spark, dir, 4)
    val qs = Seq("alpha gamma", "beta")
    val done = served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5))
    val heads = shardVersions(dir, 4)
    def overlays(d: String) = new java.io.File(s"$d/reshard").list().toSet
    val flipped = overlays(dir)
    ShardedIndex.reshardInPlace(spark, dir, 4)
    assert(ShardedIndex.shardCount(spark, dir) == 4)
    assert(shardVersions(dir, 4) == heads, "re-run committed to a shard")
    assert(overlays(dir) == flipped, "re-run claimed a layout overlay")
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5)) == done)

    val annDir = java.nio.file.Files.createTempDirectory("shidx_rerun_ann").toString
    ShardedIndex.buildShardedAnn(labeled, "vec_id", "embedding", annDir,
      shards = 2, nCells = 4)
    ShardedIndex.reshardInPlace(spark, annDir, 4)
    val annDone = annServed(annDir)
    val annFlipped = overlays(annDir)
    ShardedIndex.reshardInPlace(spark, annDir, 4)
    assert(ShardedIndex.shardCount(spark, annDir) == 4)
    assert(overlays(annDir) == annFlipped, "dense re-run claimed a layout overlay")
    assert(annServed(annDir) == annDone)
  }

  test("abort rolls an un-landed transition back; foreign commits and landed removals refuse the easy paths") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 30L).map(i => (i, s"alpha beta word-$i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("shidx_abort").toString
    ShardedIndex.buildSharded(corpus, "doc_id", "text", dir, shards = 2)
    val qs = Seq("alpha", "beta")
    val pre = served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5))

    // no transition -> abort refuses
    val na = intercept[IllegalArgumentException] {
      ShardedIndex.abortReshardInPlace(spark, dir)
    }
    assert(na.getMessage.contains("no in-place reshard"), s"unhelpful: ${na.getMessage}")

    // hand-commit a transition (phase A only) + one half-built new shard
    val pins = (0 until 2).map(i =>
      InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(dir, i)).version)
    val ov = new org.apache.hadoop.fs.Path(s"$dir/reshard/v1.json")
    val fs = ov.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ov.getParent)
    val o = fs.create(ov, false)
    o.write(s"""{"shards": 2, "pins": [${pins.mkString(", ")}], "target": 4}""".getBytes("UTF-8"))
    o.close()
    InvertedIndex.build(corpus.limit(2), "doc_id", "text", ShardedIndex.shardDir(dir, 2))
    // abort: new-shard debris swept, layout restored, everything works
    ShardedIndex.abortReshardInPlace(spark, dir)
    assert(ShardedIndex.shardCount(spark, dir) == 2)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, qs, k = 5)) == pre)
    ShardedIndex.addDeltaSharded(Seq((500L, "omega")).toDF("doc_id", "text"),
      "doc_id", "text", dir) // steady again — maintenance accepted

    // a FOREIGN commit during a transition (a delta landed directly on a
    // shard, bypassing the refusals) must refuse the resume loudly, not
    // masquerade as the transition's own removal
    val pins2 = (0 until 2).map(i =>
      InvertedIndex.currentManifest(spark, ShardedIndex.shardDir(dir, i)).version)
    val ov3 = new org.apache.hadoop.fs.Path(s"$dir/reshard/v3.json")
    val o3 = fs.create(ov3, false)
    o3.write(s"""{"shards": 2, "pins": [${pins2.mkString(", ")}], "target": 4}""".getBytes("UTF-8"))
    o3.close()
    InvertedIndex.addDelta(Seq((600L, "foreign doc")).toDF("doc_id", "text"),
      "doc_id", "text", ShardedIndex.shardDir(dir, 0))
    val fe = intercept[IllegalArgumentException] {
      ShardedIndex.reshardInPlace(spark, dir, 4)
    }
    assert(fe.getMessage.contains("foreign commit"), s"unhelpful: ${fe.getMessage}")
    // ... and abort refuses too (the head moved past the pin)
    val ae = intercept[IllegalArgumentException] {
      ShardedIndex.abortReshardInPlace(spark, dir)
    }
    assert(ae.getMessage.contains("cannot abort"), s"unhelpful: ${ae.getMessage}")
  }

  test("ANN reshard with an unfillable family shard auto-aborts instead of wedging the federation") {
    val s = spark
    import s.implicits._
    // choose vector ids whose 4-way route NEVER hits shard 2, while the
    // 2-way build still fills both shards — the deterministic
    // empty-family case the pre-check must catch BEFORE any build
    val all = Tables(spark, sfDir).embeddings.filter($"vec_id" >= 5)
    val routed = all.withColumn("__r4",
      pmod(xxhash64(col("vec_id").cast("long")), lit(4L)).cast("int"))
    val emb = routed.filter($"__r4" =!= 2).drop("__r4")
    val dir = java.nio.file.Files.createTempDirectory("shidx_annabort").toString
    ShardedIndex.buildShardedAnn(emb, "vec_id", "embedding", dir, shards = 2, nCells = 4)
    val probes = Tables(spark, sfDir).embeddings.filter($"vec_id" < 3)
    def annServe() = ShardedIndex.annTopKSharded(probes, "vec_id", "embedding",
        dir, k = 5, nProbe = 8, excludeSelf = false)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val pre = annServe()
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.reshardInPlace(spark, dir, 4)
    }
    assert(e.getMessage.contains("ABORTED"), s"must auto-abort: ${e.getMessage}")
    // the federation is steady at 2 shards and serves exactly as before
    assert(ShardedIndex.shardCount(spark, dir) == 2)
    assert(annServe() == pre, "auto-aborted reshard changed the serve")
    ShardedIndex.addDeltaShardedAnn(
      Tables(spark, sfDir).embeddings.filter($"vec_id" < 2)
        .select(col("vec_id") + 900000L as "vec_id", col("embedding")),
      "vec_id", "embedding", dir) // maintenance accepted — not wedged
  }

  test("a committed FLAT index refuses to become a federation root (build/export/reshard)") {
    val s = spark
    import s.implicits._
    // a flat index at the destination would be silently SHADOWED the
    // moment shards.json lands (procedures dispatch federation-first) —
    // and the builder's debris sweep would eat its staging siblings, so
    // every federation-committing entry point must refuse it loudly
    val flat = java.nio.file.Files.createTempDirectory("shidx_flatroot").toString
    InvertedIndex.build(docs, "doc_id", "text", flat)
    val src = java.nio.file.Files.createTempDirectory("shidx_flatroot_src").toString
    ShardedIndex.buildSharded(docs, "doc_id", "text", src, shards = 2)
    val b = intercept[IllegalArgumentException] {
      ShardedIndex.buildSharded(docs, "doc_id", "text", flat, shards = 2)
    }
    assert(b.getMessage.contains("FLAT index"), s"build refusal unhelpful: ${b.getMessage}")
    val e = intercept[IllegalArgumentException] {
      ShardedIndex.exportSharded(spark, src, flat)
    }
    assert(e.getMessage.contains("FLAT index"), s"export refusal unhelpful: ${e.getMessage}")
    val r = intercept[IllegalArgumentException] {
      ShardedIndex.reshard(spark, src, flat, newShards = 3)
    }
    assert(r.getMessage.contains("FLAT index"), s"reshard refusal unhelpful: ${r.getMessage}")
    // the dense build path shares the guard
    val emb = Tables(spark, sfDir).embeddings.filter($"vec_id" < 50)
    val a = intercept[IllegalArgumentException] {
      ShardedIndex.buildShardedAnn(emb, "vec_id", "embedding", flat, shards = 2)
    }
    assert(a.getMessage.contains("FLAT index"), s"ANN build refusal unhelpful: ${a.getMessage}")
    // ... and the flat index still serves, untouched
    assert(InvertedIndex.bm25TopKText(spark, flat, Seq("alpha"), k = 3).count() > 0)
  }

  test("staging sweep keys on the NEWEST mtime: stale orphans go, heartbeated in-flight folds stay") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shidx_sweep").toString
    ShardedIndex.buildSharded(docs, "doc_id", "text", dir, shards = 2)
    val root = new org.apache.hadoop.fs.Path(s"$dir/${ShardedIndex.MaintStagingDir}")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (a) a crashed fold's orphan, last written LONG ago: swept
    val orphan = new org.apache.hadoop.fs.Path(root, "deadbeef")
    fs.mkdirs(orphan)
    val old = System.currentTimeMillis() - 24L * 3600 * 1000
    fs.setTimes(orphan, old, old)
    // (b) a fold that started long ago but HEARTBEATS (runs longer than
    // the grace): its staging must survive a concurrent maintainer's
    // sweep — keying on the dir's own (= fold-start) mtime deleted it
    // mid-apply (ADVICE r14)
    val inflight = new org.apache.hadoop.fs.Path(root, "cafebabe")
    fs.mkdirs(inflight)
    fs.setTimes(inflight, old, old)
    val hb = fs.create(new org.apache.hadoop.fs.Path(inflight, "_heartbeat"), true)
    hb.close() // fresh mtime — what withHeartbeat maintains on its cadence
    val swept = ShardedIndex.sweepStaging(spark, dir, graceMs = 60000L)
    assert(swept == 1, s"expected exactly the stale orphan swept, got $swept")
    assert(!fs.exists(orphan), "stale orphan survived the sweep")
    assert(fs.exists(inflight), "heartbeated in-flight staging was swept mid-fold")
    // a real fold leaves no staging behind at all (heartbeat file included)
    ShardedIndex.addDeltaSharded(
      Seq((200L, "alpha omega")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val left = fs.listStatus(root).map(_.getPath.getName).filterNot(_ == "cafebabe")
    assert(left.isEmpty, s"fold left staging debris: ${left.toSeq}")
  }

  test("concurrent per-shard folds propagate the fold's ORIGINAL failure type") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shidx_concfail").toString
    ShardedIndex.buildSharded(docs, "doc_id", "text", dir, shards = 3)
    // corrupt ONE shard (manifest chain gone): its fold throws the
    // loud no-committed-index require — the caller must see that real
    // exception, not an ExecutionException wrapper (retry loops and
    // specs dispatch on the type)
    val s1 = new org.apache.hadoop.fs.Path(ShardedIndex.shardDir(dir, 1))
    s1.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(s1, true)
    graft.operators.IndexManifests.invalidate(ShardedIndex.shardDir(dir, 1))
    val bad = (0L until 24L).map(i => (300L + i, s"kappa word-$i")).toDF("doc_id", "text")
    val thrown = intercept[IllegalArgumentException] {
      ShardedIndex.addDeltaSharded(bad, "doc_id", "text", dir)
    }
    assert(thrown.getMessage.toLowerCase.contains("no committed"),
      s"fold failure lost its original message: ${thrown.getMessage}")
    // restore shard 1 so the healthy-path half runs against a whole federation
    val fs1 = s1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs1.delete(new org.apache.hadoop.fs.Path(dir), true)
    graft.operators.IndexManifests.invalidate(dir)
    (0 until 3).foreach(i =>
      graft.operators.IndexManifests.invalidate(ShardedIndex.shardDir(dir, i)))
    ShardedIndex.buildSharded(docs, "doc_id", "text", dir, shards = 3)
    // healthy concurrent folds: a multi-shard delta lands everywhere it
    // routes and the federation matches a flat rebuild
    val good = (0L until 12L).map(i => (400L + i, s"lambda word-$i")).toDF("doc_id", "text")
    ShardedIndex.addDeltaSharded(good, "doc_id", "text", dir)
    val flat = java.nio.file.Files.createTempDirectory("shidx_concfail_flat").toString
    InvertedIndex.build(docs.unionByName(good), "doc_id", "text", flat)
    assert(served(ShardedIndex.bm25TopKTextSharded(spark, dir, Seq("lambda alpha"), k = 5))
      == served(InvertedIndex.bm25TopKText(spark, flat, Seq("lambda alpha"), k = 5)),
      "concurrent folds diverged from a flat rebuild")
  }
}

/** Local-disk FileSystem that counts data-file opens — the observability
  * shim behind the one-batch-scan assertions (registered as `cnt://`).
  */
final class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cnt"
  override def getUri: java.net.URI = java.net.URI.create("cnt:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingFileSystem.record(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  private val BatchIdKey = "streaming.sql.batchId"
  /** (path, opened inside a streaming micro-batch) */
  private val opens = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
  def record(path: String): Unit = {
    // the micro-batch's local property, on the task or on the driver thread
    val inBatch = Option(org.apache.spark.TaskContext.get()).map(_.getLocalProperty(BatchIdKey))
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession.map(_.sparkContext.getLocalProperty(BatchIdKey)))
      .exists(_ != null)
    opens.add((path, inBatch)); ()
  }
  def reset(): Unit = opens.clear()
  def parquetOpensUnder(prefix: String): Int = parquetOpens(prefix, _ => true)
  def parquetOpensUnder(prefix: String, inBatch: Boolean): Int = parquetOpens(prefix, _ == inBatch)
  private def parquetOpens(prefix: String, tag: Boolean => Boolean): Int = {
    import scala.jdk.CollectionConverters._
    opens.asScala.count { case (p, b) => tag(b) && p.startsWith(prefix) && p.endsWith(".parquet") }
  }
}
