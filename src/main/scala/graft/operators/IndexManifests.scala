package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The lifecycle of a persisted serving index, written once for both
  * payloads ([[InvertedIndex]] postings, [[AnnIndex]] cell vectors).
  *
  *  - '''commit protocol''': versioned JSON manifests under
  *    `dir/manifest/v<N>.json`, a [[graft.catalog.ManifestLog]] — the
  *    same claim, listing and read as the catalog's tables. Exactly one
  *    racing maintainer wins a version; a crash before the claim leaves
  *    only invisible orphans. Every mutation goes through [[commit]]
  *    (stamp refusal, then the log's CAS loop: re-derive on a lost
  *    claim, [[graft.catalog.GraftCommitConflict]] on exhaustion).
  *  - '''envelope''': the fields both manifests carry ([[Envelope]]:
  *    version, stream stamps, meta sidecar, coverage tombstones), encoded
  *    once ([[render]]); a payload adds only its own fields.
  *  - '''kind-agnostic operations''' on a committed dir, whatever its
  *    payload: [[committedBatchId]], [[rollback]], [[exportIndex]],
  *    [[vacuum]]; and the shared pieces of the payload operations:
  *    [[liveRows]] (coverage tombstones), [[compact]] (victim selection,
  *    the meta-sidecar fold, the claim) and [[metaFilter]].
  *
  * docs/SEARCH_INDEX.md "Lifecycle contract" states the contract.
  */
private[graft] object IndexManifests {

  def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def log(spark: SparkSession, dir: String) = graft.catalog.ManifestLog(
    new org.apache.hadoop.fs.Path(s"$dir/manifest"), spark.sparkContext.hadoopConfiguration)

  /** Committed versions, ascending; the listing is authoritative. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = log(spark, dir).versions()

  /** Parse a manifest body of either kind — the ONE kind dispatch: ANN
    * manifests carry `centroids`, lexical ones don't. Every read goes
    * through here, so the manifest cache holds one class per (dir, v),
    * and every payload-specific operation (compact, describe, the
    * federation's layout operations) is a method of the parsed value.
    */
  private def parse(body: String): Envelope = {
    val j = JsonMethods.parse(body)
    if ((j \ "centroids") != JNothing) AnnIndex.fromJson(j) else InvertedIndex.fromJson(j)
  }

  /** The head manifest of `dir`; refuses loudly when nothing is committed. */
  def head(spark: SparkSession, dir: String): Envelope = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed serving index at $dir")
    read(spark, dir, vs.last)
  }

  /** Atomically claim manifest `m.version` with `m`'s encoding; false =
    * lost the race.
    */
  def claim(spark: SparkSession, dir: String, m: Envelope): Boolean =
    log(spark, dir).claim(m.version, m.toJson)

  /** Per-process cache of PARSED manifests, keyed (dir, version).
    * Manifests are immutable once committed (every mutation claims a
    * NEW version; rollback re-commits old content as a new head), so
    * the cache can never serve stale content — only spare the
    * read+parse. That matters at serving QPS on a large index: the
    * manifest JSON grows with the file count (tokRanges pins two
    * strings per postings file), and without the cache every query
    * re-reads and re-parses it. Bounded FIFO-ish eviction keeps test
    * churn (thousands of temp indexes per JVM) from pinning memory.
    */
  private val ManifestCacheMax = 256
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Envelope]()
  // per-dir generation: bumped by invalidate() so a reader that raced a
  // wipe+rebuild (read the OLD body, stalled, resumed after the
  // invalidation) cannot re-poison the cache with its stale parse
  private val dirGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Drop every cached manifest under `dir` — called by build(): an
    * index dir deleted and rebuilt at the SAME path within one JVM
    * would otherwise serve the old tree's parsed manifest for
    * (dir, version). Mutations never need this (each claims a NEW
    * version); only a from-scratch build reuses version numbers.
    */
  def invalidate(dir: String): Unit = {
    dirGen.merge(dir, java.lang.Long.valueOf(1L), (a, b) => java.lang.Long.valueOf(a + b))
    val it = manifestCache.keySet.iterator()
    while (it.hasNext) if (it.next()._1 == dir) it.remove()
    val st = statsCache.keySet.iterator()
    while (st.hasNext) if (st.next()._1 == dir) st.remove()
    val td = termDfCache.keySet.iterator()
    while (td.hasNext) if (td.next()._1 == dir) td.remove()
  }

  /** Manifest `v` of `dir`, through the cache (the version must not
    * have been vacuumed).
    */
  def read(spark: SparkSession, dir: String, v: Long): Envelope = {
    val key = (dir, v)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val gen = dirGen.get(dir)
    val parsed = parse(log(spark, dir).read(v))
    if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
    // only cache if no invalidation raced the read — a stale parse may
    // be RETURNED once (the caller read a then-live manifest) but must
    // never be REMEMBERED past the dir's invalidation
    if (java.util.Objects.equals(dirGen.get(dir), gen)) manifestCache.put(key, parsed)
    parsed
  }

  /** Per-process cache of the corpus stats SCALARS (n, sumdl), keyed
    * (dir, stats rel path). Every mutation that changes them writes a
    * FRESH UUID-named stats dir and commits a new manifest referencing
    * it, so the pair under one key is immutable — the cache can never
    * serve stale numbers, only spare the one-row aggregate job every
    * BM25 serve/df-cap/MLT-selection otherwise launches per query.
    * At interactive concurrency that job was the measured ceiling
    * (BENCH_SF1 round-13 addendum 4): clients multiply executors, not
    * driver job dispatch. Same generation guard as the manifest cache
    * (export/rebuild into a wiped dir reuses rel paths; invalidate()
    * covers it).
    */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()

  /** Write the one-row stats sidecar FROM DRIVER SCALARS and prime the
    * stats cache for it. Every mutation knows (n, sumdl) exactly at
    * commit time (base scalars from [[cachedStats]] plus the batch's
    * collected delta), so the former distributed merge job — a read of
    * the base stats parquet unioned/cross-joined with aggregate
    * broadcasts — collapses to one local-relation write (a 1-task job),
    * and the NEXT serve's stats lookup is a cache hit instead of a
    * read. The gen guard mirrors [[read]]: a prime racing an
    * invalidate() must not be remembered past it.
    */
  def writeStats(spark: SparkSession, dir: String, statsRel: String,
      n: Long, sumdl: Long): Unit = {
    val gen = dirGen.get(dir)
    spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(n, sumdl)),
      org.apache.spark.sql.types.StructType.fromDDL("n BIGINT, sumdl BIGINT"))
      .coalesce(1).write.mode("errorifexists").parquet(s"$dir/$statsRel")
    if (statsCache.size >= ManifestCacheMax) statsCache.clear()
    if (java.util.Objects.equals(dirGen.get(dir), gen))
      statsCache.put((dir, statsRel), (n, sumdl))
  }

  def cachedStats(spark: SparkSession, dir: String, statsRel: String): (Long, Long) = {
    val key = (dir, statsRel)
    val hit = statsCache.get(key)
    if (hit != null) return hit
    val gen = dirGen.get(dir)
    import org.apache.spark.sql.functions.{coalesce, lit, sum}
    // coalesce: an EMPTY index (legal — e.g. a federation shard no doc
    // routed to) writes n=0 with a NULL sumdl (sum over zero rows)
    // explicit schema: footer inference is a Spark job per read
    val row = spark.read.schema("n BIGINT, sumdl BIGINT").parquet(s"$dir/$statsRel")
      .agg(coalesce(sum("n"), lit(0L)), coalesce(sum("sumdl"), lit(0L))).head()
    val v = (row.getLong(0), row.getLong(1))
    if (statsCache.size >= ManifestCacheMax) statsCache.clear()
    if (java.util.Objects.equals(dirGen.get(dir), gen)) statsCache.put(key, v)
    v
  }

  /** Per-process cache of term DOCUMENT FREQUENCIES, keyed by
    * (dir, vocab rel path) — immutable like the stats dirs. Serving
    * queries look up a handful of probe terms each; concurrent clients
    * repeat terms (and whole probes) constantly, so the cache turns the
    * per-query probe-sized vocab job into a driver map hit, and a MISS
    * reads ONLY the unseen terms (pushed `tok IN (...)` scan — still
    * probe-sized, never the vocabulary). Absent-from-vocab terms are
    * cached as ABSENT (the sentinel) so unknown-term probes don't
    * re-scan forever. Bounded on BOTH axes: per rel (clear-on-overflow)
    * so query diversity cannot pin vocabulary-sized driver memory, and
    * on the NUMBER of rels (clear-on-overflow like the manifest cache)
    * — every index mutation writes a fresh vocab rel, so a long-running
    * CDC stream would otherwise accumulate one dead inner map per
    * superseded version forever.
    */
  private val TermDfCacheMax = 1 << 16
  private val TermDfRelsMax = 64
  private val AbsentDf = java.lang.Long.valueOf(-1L)
  private val termDfCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()

  /** dfs of `toks` present in the vocab sidecar (absent toks omitted). */
  def cachedTermDfs(spark: SparkSession, dir: String, vocabRel: String,
      toks: Seq[String]): Map[String, Long] = {
    val gen = dirGen.get(dir)
    if (termDfCache.size >= TermDfRelsMax &&
        !termDfCache.containsKey((dir, vocabRel)))
      termDfCache.clear()
    val m = termDfCache.computeIfAbsent((dir, vocabRel),
      _ => new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]())
    val distinct = toks.distinct
    // one value snapshot up front — a concurrent clear-on-overflow
    // between a containsKey and a get could otherwise drop a term that
    // IS in the vocab from the result
    val snapshot = distinct.flatMap(t => Option(m.get(t)).map(t -> _)).toMap
    val misses = distinct.filterNot(snapshot.contains)
    val read = if (misses.isEmpty) Map.empty[String, Long] else {
      import org.apache.spark.sql.functions.col
      val r = spark.read.schema("tok STRING, df BIGINT").parquet(s"$dir/$vocabRel")
        .filter(col("tok").isin(misses: _*))
        .select("tok", "df").collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      if (m.size + misses.size > TermDfCacheMax) m.clear()
      if (java.util.Objects.equals(dirGen.get(dir), gen))
        misses.foreach(t =>
          m.put(t, r.get(t).map(java.lang.Long.valueOf).getOrElse(AbsentDf)))
      r
    }
    snapshot.collect { case (t, v) if v != AbsentDf => t -> v.longValue() } ++ read
  }

  def freshRel(kind: String): String =
    s"$kind/${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Copy dir-relative trees (files or directories) from one index
    * root to another, preserving relative paths — the promote/export
    * primitive (build cluster → serving cluster). File-level parallel
    * over a bounded pool; refuses to overwrite (the destination must
    * be virgin — export is a first commit, not a sync). At real scale
    * the same rel-list feeds distcp; the layout contract (immutable
    * files, relative manifest paths) is what makes either transport
    * correct.
    */
  def copyTree(spark: SparkSession, srcDir: String, destDir: String,
      rels: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sfs = fs(spark, srcDir)
    val dfs = fs(spark, destDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val copied = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val tasks = rels.distinct.map { rel =>
        pool.submit(new Runnable {
          override def run(): Unit = try {
            val s = new org.apache.hadoop.fs.Path(s"$srcDir/$rel")
            val d = new org.apache.hadoop.fs.Path(s"$destDir/$rel")
            require(sfs.exists(s), s"export: source path missing: $s")
            require(!dfs.exists(d), s"export: destination already has $d")
            val parent = d.getParent
            if (parent != null) dfs.mkdirs(parent)
            if (!org.apache.hadoop.fs.FileUtil.copy(sfs, s, dfs, d,
                false /* deleteSource */, conf))
              throw new java.io.IOException(s"export: copy failed for $rel")
            copied.add(rel)
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      tasks.foreach(_.get())
      if (!failures.isEmpty) {
        // leave the destination VIRGIN for a clean retry: sweep what
        // this attempt copied (no manifest referenced it yet), then
        // throw the first failure with the rest attached
        copied.forEach(rel =>
          try { dfs.delete(new org.apache.hadoop.fs.Path(s"$destDir/$rel"), true); () }
          catch { case _: java.io.IOException => () })
        val head = failures.poll()
        failures.forEach(t => head.addSuppressed(t))
        throw head
      }
    } finally pool.shutdown()
  }

  /** Sum of the on-disk lengths of `relPaths` (dir-relative files). */
  def fileBytes(spark: SparkSession, dir: String, relPaths: Seq[String]): Long = {
    val f = fs(spark, dir)
    relPaths.map { p =>
      try f.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$p")).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
  }

  /** Per-stream exactly-once stamps (namespace → highest applied batch
    * id) as a JSON object; absent in pre-stamp manifests, which parse
    * as empty.
    */
  def streamsToJson(streams: Map[String, Long]): org.json4s.JValue =
    org.json4s.JObject(streams.toList.sortBy(_._1).map { case (ns, b) =>
      ns -> (org.json4s.JLong(b): org.json4s.JValue) })

  def streamsFromJson(j: org.json4s.JValue): Map[String, Long] = j match {
    case org.json4s.JObject(fields) =>
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      fields.map { case (ns, v) => ns -> v.extract[Long] }.toMap
    case _ => Map.empty
  }

  /** Resolve each key's LATEST metadata row across the append-ordered
    * sidecar dirs (manifest append order = dir index, so a CDC-updated
    * doc's newest metadata wins). One dir short-circuits to a plain
    * read — the shape [[InvertedIndex.compact]]/[[AnnIndex.compact]]
    * maintain: they fold the accumulated dirs into one, so a filtered
    * query's sidecar cost stays doc-count-sized regardless of how many
    * delta/CDC batches the index absorbed.
    */
  def latestMeta(spark: SparkSession, dir: String, metaDirs: Seq[String],
      keyCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(metaDirs.nonEmpty, "latestMeta needs at least one sidecar dir")
    if (metaDirs.size == 1) spark.read.parquet(s"$dir/${metaDirs.head}")
    else {
      val all = metaDirs.zipWithIndex.map { case (d, i) =>
        spark.read.parquet(s"$dir/$d").withColumn("__seq", lit(i))
      }.reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol)).orderBy(col("__seq").desc)
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "__seq")
    }
  }

  /** List the staged parquet files under `dir/rel` as (partition value,
    * dir-relative path) pairs, where the partition value is parsed from
    * the `prefix=<v>` directory level (partitionBy layout).
    */
  def listStaged(spark: SparkSession, dir: String, rel: String,
      prefix: String): Seq[(Int, String)] = {
    val f = fs(spark, dir)
    val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$dir/$rel"), true)
    val out = Seq.newBuilder[(Int, String)]
    val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) {
        val relPath = p.toUri.getPath.stripPrefix(root + "/")
        val v = relPath.split('/').collectFirst {
          case s if s.startsWith(prefix + "=") => s.stripPrefix(prefix + "=").toInt
        }.getOrElse(sys.error(s"staged file outside a $prefix= dir: $relPath"))
        out += v -> relPath
      }
    }
    out.result()
  }

  // ---- the shared lifecycle ------------------------------------------

  /** The fields every index manifest carries, whatever its payload — all
    * the kind-agnostic lifecycle reads. `files` is the payload in
    * manifest order as (bucket | cell, rel path): a tombstone's cover
    * counts positions in it, and [[vacuum]] sweeps `payloadRoot` file by
    * file against it. `sidecars` are the payload's own rels beyond the
    * meta dirs and tombstones (vocab, stats, champion files): they export
    * with the head and keep their dir alive in [[vacuum]].
    */
  private[graft] trait Envelope {
    def version: Long
    def streams: Map[String, Long]
    def metaCols: Seq[String]
    def metaDirs: Seq[String]
    def deletes: Seq[(String, Int)]
    def files: Seq[(Int, String)]
    def sidecars: Seq[String]
    def payloadRoot: String
    /** the payload's id column — tombstones and meta rows key on it */
    def idCol: String
    def withVersion(v: Long): Envelope
    def toJson: String
    /** the kind's name and payload shape, as index_describe reports them */
    def kind: String
    def shape: String
    /** compact the committed index at `dir` with the payload's rewrite */
    def compact(spark: SparkSession, dir: String): Int
    /** the payload's part in the federation's layout operations, over
      * `shards` — every shard's manifest, all of this one's kind
      */
    def federation(shards: Seq[(String, Envelope)], dir: String): ShardedIndex.Payload
  }

  /** Encode a manifest: the envelope's fields, then the payload's. */
  def render(m: Envelope, payload: List[JField]): String =
    JsonMethods.pretty(JsonMethods.render(JObject(List(
      "version" -> JLong(m.version),
      "streams" -> streamsToJson(m.streams),
      "metaCols" -> JArray(m.metaCols.map(JString(_): JValue).toList),
      "metaDirs" -> JArray(m.metaDirs.map(JString(_): JValue).toList),
      "deletes" -> JArray(m.deletes.map { case (p, c) =>
        JObject(List("path" -> JString(p), "cover" -> JInt(c))): JValue
      }.toList)) ++ payload)))

  /** A string-array field; absent (an older manifest) reads empty. */
  def stringsFromJson(j: JValue): Seq[String] = j match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _ => Nil
  }

  /** The tombstone list; a legacy bare-path entry covered everything. */
  def deletesFromJson(j: JValue): Seq[(String, Int)] = j match {
    case JArray(items) =>
      implicit val fmts: Formats = DefaultFormats
      items.collect {
        case JString(s) => (s, Int.MaxValue)
        case o: JObject => ((o \ "path").extract[String], (o \ "cover").extract[Int])
      }
    case _ => Nil
  }

  /** Does `m` already carry `stamp`'s batch — a replay to refuse? */
  def stamped(m: Envelope, stamp: Option[(String, Long)]): Boolean =
    stamp.exists { case (ns, b) => m.streams.get(ns).exists(_ >= b) }

  /** The CAS loop every index mutation commits through: read the head,
    * derive the next manifest from it, claim its version. `next` returns
    * None when there is nothing to commit. A lost claim re-reads the head
    * and derives again — staged payload files are immutable and reused,
    * whatever was derived from the base (sidecar merges, tombstone
    * covers) is re-derived — and `maxAttempts` lost claims throw
    * [[graft.catalog.GraftCommitConflict]]. With a `stamp`, a head that
    * already carries the batch refuses it: nothing commits (the staged
    * files become orphans for [[vacuum]]), so a replayed micro-batch can
    * never double-apply. Returns the committed manifest.
    */
  def commit[M <: Envelope](spark: SparkSession, dir: String, what: String,
      maxAttempts: Int, stamp: Option[(String, Long)] = None)(
      next: M => Option[M]): Option[M] =
    log(spark, dir).commit(what, maxAttempts) {
      val base = head(spark, dir).asInstanceOf[M]
      (if (stamped(base, stamp)) None else next(base)).map(m => (m.version, m.toJson, m))
    }

  /** Highest batch id committed under stream namespace `ns`, if any. */
  def committedBatchId(spark: SparkSession, dir: String, ns: String): Option[Long] =
    head(spark, dir).streams.get(ns)

  val MaxSplits = 4096

  /** Files to split `bytes` into at `target` bytes each: bytes-derived
    * only, at least one, at most [[MaxSplits]].
    */
  def splitsFor(bytes: BigInt, target: Long): Int =
    (bytes / target).max(1).min(MaxSplits).toInt

  /** Read payload files under their declared schema (footer inference is
    * a Spark job per read); an empty list is an empty frame of it.
    */
  def readFiles(spark: SparkSession, dir: String, files: Seq[(Int, String)],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map { case (_, p) => s"$dir/$p" }: _*)

  /** The ids of tombstone dirs `rels`, read in one scan. */
  def tombstones(spark: SparkSession, dir: String, idCol: String,
      rels: Seq[String]): DataFrame =
    spark.read.schema(s"$idCol BIGINT").parquet(rels.map(r => s"$dir/$r"): _*)

  /** The distinct ids of tombstone entries `deletes`, whatever their cover. */
  def tombstoneIds(spark: SparkSession, dir: String, idCol: String,
      deletes: Seq[(String, Int)]): DataFrame =
    deletes.map { case (d, _) => tombstones(spark, dir, idCol, Seq(d)) }
      .reduce(_ unionByName _).distinct()

  /** LIVE rows of `rows` — a read of some of `m`'s payload files — under
    * `m`'s tombstones: a row is dead when a tombstone on its id covers
    * its file, i.e. the cover extends past the file's position in
    * `m.files` (Iceberg equality-delete sequence semantics: a delete
    * applies to the files that preceded it, so one commit can tombstone
    * an id's old rows and append its new ones). The position rides in
    * via the file name, keyed on its last THREE path components
    * (staging-uuid/unit=N/part file — the leaf name alone collides: one
    * partitionBy job writes identically-named part files into every
    * unit dir), joined against a driver-built O(#files) (name, position)
    * LocalRelation — the List overload, NOT parallelize: broadcasting an
    * RDD-backed frame costs a job per serve. Without tombstones this is
    * `rows` itself.
    */
  def liveRows(spark: SparkSession, dir: String, m: Envelope,
      rows: DataFrame): DataFrame = {
    if (m.deletes.isEmpty) return rows
    val id = m.idCol
    val posRows = m.files.map(_._2).zipWithIndex.map { case (p, i) =>
      org.apache.spark.sql.Row(p.split('/').takeRight(3).mkString("/"), i)
    }
    val posDf = spark.createDataFrame(
      java.util.Arrays.asList(posRows: _*),
      org.apache.spark.sql.types.StructType.fromDDL("__fn STRING, __fidx INT"))
    val tomb = m.deletes.map { case (d, c) =>
      tombstones(spark, dir, id, Seq(d)).select(col(id), lit(c).as("__cover"))
    }.reduce(_ unionByName _)
    val tagged = rows
      .withColumn("__fn",
        concat_ws("/", slice(split(input_file_name(), "/"), -3, 3)))
      .join(broadcast(posDf), Seq("__fn"))
    tagged
      .join(tomb, tagged(id) === tomb(id) &&
        tagged("__fidx") < tomb("__cover"), "left_anti")
      .drop("__fn", "__fidx")
  }

  /** Stage one batch's meta sidecar — (`key`, metaCols…) rows, one per
    * id, never payload-sized — under a fresh dir; None when the index
    * carries no metadata. One row per id per batch, enforced loudly:
    * latest-wins is ordered ACROSS batches (dir order), and two rows for
    * one id inside a batch would tie and resolve nondeterministically.
    */
  def stageMeta(rows: DataFrame, idCol: String, key: String, metaCols: Seq[String],
      dir: String): Option[String] =
    if (metaCols.isEmpty) None
    else {
      val rel = freshRel("meta")
      val meta = rows.select((col(idCol).cast("long").as(key) +: metaCols.map(col)): _*)
      val dup = meta.groupBy(col(key)).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"duplicate $key ${if (dup.nonEmpty) dup.head.getLong(0) else ""} in the " +
          s"metadata sidecar batch — supply one metadata row per $key per batch")
      meta.write.mode("errorifexists").parquet(s"$dir/$rel")
      Some(rel)
    }

  /** Filtered retrieval, shared by every serve path: semi-join the
    * per-id candidates against the predicate-filtered LATEST sidecar
    * metadata BEFORE ranking — top-k of the allowed subset. No-op
    * without a predicate; loud refusal against a sidecar-free index.
    */
  def metaFilter(spark: SparkSession, dir: String, m: Envelope,
      candidates: DataFrame, where: Option[Column]): DataFrame = where match {
    case None => candidates
    case Some(pred) =>
      require(m.metaCols.nonEmpty,
        s"filtered query against $dir, but the index was built without metaCols " +
          "(build(metaCols = ...) pins the sidecar)")
      val latest = latestMeta(spark, dir, m.metaDirs, m.idCol)
      candidates.join(latest.filter(pred).select(m.idCol), Seq(m.idCol), "left_semi")
  }

  /** compact's meta-sidecar fold: ONE materialized latest-wins dir, ids
    * whose tombstone left no live row dropped (tombstoned ids never reach
    * a result, but their sidecar rows would ride every filtered query's
    * scan forever). An id re-inserted AFTER its tombstone has a live row
    * in later files, so its latest metadata survives. `live` reads all
    * of `m`'s live rows.
    */
  private def foldMeta(spark: SparkSession, dir: String, m: Envelope,
      live: => DataFrame): String = {
    val id = m.idCol
    val latest = latestMeta(spark, dir, m.metaDirs, id)
    val folded =
      if (m.deletes.isEmpty) latest
      else {
        val tombIds = tombstoneIds(spark, dir, id, m.deletes)
        val liveTomb = live.join(broadcast(tombIds), Seq(id)).select(id).distinct()
        val dead = tombIds.join(liveTomb, Seq(id), "left_anti")
        latest.join(broadcast(dead), Seq(id), "left_anti")
      }
    val rel = freshRel("meta")
    folded.write.mode("errorifexists").parquet(s"$dir/$rel")
    rel
  }

  /** compact's body. Victims are the payload units (buckets or cells)
    * holding more than one file or more than `targetFileBytes` per file
    * (the force-merge knob; the default target on a compacted index stays
    * a no-op) — EVERY unit while tombstones exist: compaction is the
    * physical-delete pass, and the claimed manifest clears `deletes`.
    * `rewrite` writes the victims' live rows, given (unit, files, width),
    * and returns each unit's new files plus whatever `next` needs to
    * build the manifest to claim from the base, the new file list and
    * the meta dirs. The meta sidecar folds alongside ([[foldMeta]])
    * whenever batches accumulated dirs or tombstones left dead rows, so a
    * filtered query's sidecar cost returns to one dir. `onBeforeCommit`
    * runs once, before the first claim (the race specs' seam). A lost
    * claim re-derives everything from the fresh head: the prior attempt's
    * rewrites reference a superseded file set (reusing them could
    * resurrect tombstoned rows or miss a racing delta's files) and become
    * [[vacuum]]'s orphans. Returns the payload files plus sidecar dirs
    * folded — a meta-only pass still committed a version, and callers
    * gate vacuum on a nonzero return; 0 = nothing committed.
    */
  def compact[M <: Envelope, X](spark: SparkSession, dir: String, what: String,
      targetFileBytes: Long, maxAttempts: Int, onBeforeCommit: () => Unit,
      live: (M, Seq[(Int, String)]) => DataFrame)(
      rewrite: (M, Seq[(Int, Seq[(Int, String)], Int)]) => (Map[Int, Seq[(Int, String)]], X))(
      next: (M, X, Seq[(Int, String)], Seq[String]) => M): Int = {
    var attempt = 0
    var folded = 0
    commit[M](spark, dir, what, maxAttempts) { base =>
      attempt += 1
      val byUnit = base.files.groupBy(_._1)
      // per-unit byte totals, computed ONCE: the victims filter and the
      // widths both need them, and duplicate getFileStatus round-trips
      // double a compact's metadata RPCs on an object store
      val unitBytes = byUnit.map { case (u, fs) => u -> fileBytes(spark, dir, fs.map(_._2)) }
      val victims =
        if (base.deletes.nonEmpty) byUnit
        else byUnit.filter { case (u, fs) =>
          fs.size > 1 || (unitBytes(u) / targetFileBytes).max(1) > fs.size
        }
      val foldsMeta = base.metaDirs.size > 1 ||
        (base.deletes.nonEmpty && base.metaDirs.nonEmpty)
      if (victims.isEmpty && !foldsMeta) None
      else {
        val (rewritten, extra) = rewrite(base, victims.toSeq.sortBy(_._1).map {
          case (u, fs) => (u, fs, splitsFor(unitBytes(u), targetFileBytes)) })
        val metaDirs =
          if (foldsMeta) Seq(foldMeta(spark, dir, base, live(base, base.files)))
          else base.metaDirs
        if (attempt == 1) onBeforeCommit()
        folded = victims.valuesIterator.map(_.size).sum +
          (if (foldsMeta) base.metaDirs.size else 0)
        Some(next(base, extra, byUnit.toSeq.flatMap { case (u, fs) =>
          rewritten.getOrElse(u, fs) }.sortBy(_._2), metaDirs))
      }
    }.fold(0)(_ => folded)
  }

  /** Roll `dir` back to `toVersion`'s content as a NEW head commit (the
    * catalog's rollback posture: history stays travelable, and the
    * rollback is one more CAS claim, so a racing maintainer serializes
    * like any other). Everything rewinds together — payload, sidecars,
    * tombstones AND stream stamps: the rolled-back batches are no longer
    * applied, so their replays must re-apply, not be refused by a stamp
    * whose content was discarded. The target must survive [[vacuum]]
    * (`keepVersions` bounds the reach; past it this fails loudly).
    * Returns the new head version.
    */
  def rollback(spark: SparkSession, dir: String, toVersion: Long,
      maxAttempts: Int = 5): Long = {
    require(versions(spark, dir).contains(toVersion),
      s"no manifest v$toVersion at $dir — expired by vacuum (keepVersions bounds rollback reach)")
    val target = read(spark, dir, toVersion)
    commit[Envelope](spark, dir, "index rollback", maxAttempts) { base =>
      if (base.version == toVersion) None else Some(target.withVersion(base.version + 1))
    }.fold(toVersion)(_.version)
  }

  /** Export/promote `srcDir`'s HEAD to a virgin `destDir` (build cluster
    * → serving cluster): copy every rel the head references — payload
    * files, meta sidecars, tombstones, the payload's own sidecars —
    * preserving relative paths, then commit it at the destination as
    * version 1 through the exclusive-create claim every writer uses (a
    * racing writer there loses cleanly). What a query derives from rides
    * inside the manifest (bucket modulus and token ranges keyed by the
    * copied rel paths; centroids and PQ codebooks as bit-exact IEEE
    * longs), and stream stamps travel with the content, so a stream
    * repointed at the copy keeps exactly-once. History does not: the
    * destination starts a fresh version line. Returns the committed
    * destination version (1).
    */
  def exportIndex(spark: SparkSession, srcDir: String, destDir: String): Long = {
    val m = head(spark, srcDir)
    require(versions(spark, destDir).isEmpty,
      s"export destination $destDir already holds a committed index")
    copyTree(spark, srcDir, destDir,
      m.files.map(_._2) ++ m.sidecars ++ m.metaDirs ++ m.deletes.map(_._1))
    // same-path hygiene as build(): a wiped tree re-exported into must
    // not serve a stale cached manifest for (destDir, 1)
    invalidate(destDir)
    require(claim(spark, destDir, m.withVersion(1L)),
      s"export lost the first-commit race at $destDir — another writer is active there")
    1L
  }

  /** The sidecar kinds [[vacuum]] sweeps dir by dir; a kind the payload
    * never writes is an absent dir.
    */
  private val SidecarKinds = Seq("vocab", "stats", "deletes", "meta", "champions")

  /** Expire all but the newest `keepVersions` manifests, then sweep what
    * no surviving manifest references — torn stagings of crashed
    * maintainers, files compaction superseded, stale sidecar versions.
    * The payload root sweeps at FILE granularity (compaction supersedes
    * single files inside a staging dir whose other units stay live; a
    * staging with no live file goes whole, crumbs and all); sidecars at
    * DIR granularity (each version is a whole dir). `graceMs` protects a
    * CONCURRENT maintainer's in-flight staging, which no manifest
    * references yet: anything younger stays. Returns files/directories
    * removed.
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
      graceMs: Long = 60L * 60 * 1000): Int = {
    import org.apache.hadoop.fs.{LocatedFileStatus, Path}
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed serving index at $dir")
    val (expire, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val kept = keep.map(read(spark, dir, _))
    expire.foreach(v => f.delete(log(spark, dir).path(v), false))
    val now = System.currentTimeMillis()
    def old(mtime: Long) = now - mtime >= graceMs
    val root = new Path(dir).toUri.getPath.stripSuffix("/")
    def rel(p: Path) = p.toUri.getPath.stripPrefix(root + "/")
    var removed = 0
    val liveFiles = kept.flatMap(_.files.map(_._2)).toSet
    val pRoot = new Path(s"$dir/${kept.last.payloadRoot}")
    if (f.exists(pRoot)) f.listStatus(pRoot).foreach { st =>
      val it = f.listFiles(st.getPath, true)
      val all = Seq.newBuilder[LocatedFileStatus]
      while (it.hasNext) all += it.next()
      val files = all.result()
      if (!files.exists(x => liveFiles(rel(x.getPath)))) {
        if (old(st.getModificationTime) && files.forall(x => old(x.getModificationTime))) {
          f.delete(st.getPath, true); removed += 1
        }
      } else files.foreach { x =>
        if (x.getPath.getName.endsWith(".parquet") && !liveFiles(rel(x.getPath)) &&
            old(x.getModificationTime)) {
          f.delete(x.getPath, false); removed += 1
        }
      }
    }
    // a sidecar rel may name files inside its dir (champions/<uuid>/
    // bucket=N/…): the sweep unit is the dir, its first two components
    val liveDirs = kept.flatMap(m => m.sidecars ++ m.metaDirs ++ m.deletes.map(_._1))
      .map(_.split('/').take(2).mkString("/")).toSet
    SidecarKinds.foreach { kind =>
      val p = new Path(s"$dir/$kind")
      if (f.exists(p)) f.listStatus(p).foreach { st =>
        if (!liveDirs(s"$kind/${st.getPath.getName}") && old(st.getModificationTime)) {
          f.delete(st.getPath, true); removed += 1
        }
      }
    }
    removed
  }
}
