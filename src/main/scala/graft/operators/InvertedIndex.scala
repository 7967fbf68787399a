package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

/** Persisted inverted index for lexical retrieval — the 100 TB shape of
  * [[TextAnalysis.bm25TopK]].
  *
  * `search_bm25` recomputes tf/df/dl from the corpus on every query: one
  * full corpus scan + a (doc, token) shuffle per search. That is the
  * correct ORACLE shape but not a serving shape — at 100 TB a query must
  * touch only the posting lists of its own terms. This operator splits
  * the work the way every production search stack does:
  *
  *  - '''build''' (once, corpus-sized): tokenize → postings
  *    `(doc_id, tok, tf, dl)` written one file-set per token-hash
  *    bucket, plus a vocabulary-bounded `vocab (tok, df)` and a 1-row
  *    `stats (n, sumdl)` table.
  *  - '''query''' (posting-list-sized): the probe's distinct terms map
  *    to their buckets (≤ B values, collected driver-side — bounded by
  *    the constant bucket count, not by data); the manifest's file list
  *    is pruned to those buckets BEFORE the scan is planned, so the
  *    index's other buckets are never listed or read. Scoring joins the
  *    pruned postings to the broadcast probe terms and the broadcast
  *    (vocab-subset, stats) sides; the BM25 arithmetic is the exact
  *    fixed-point form of [[TextAnalysis.bm25TopK]], so the ranking is
  *    hash-identical to the from-scratch query.
  *  - '''addDelta''' (churn-sized): new documents stage their postings
  *    as fresh immutable files; `vocab` merges old df + delta df
  *    (vocabulary-bounded aggregation, no postings rescan); `stats`
  *    adds the delta's doc and token counts. tf-saturation depends on
  *    the CURRENT avgdl, so postings store raw (tf, dl) and saturation
  *    is computed at query time — an index grown by deltas answers
  *    exactly like one rebuilt from scratch (oracle-gated by
  *    `search_index_delta`).
  *  - '''deleteDocs / applyCdc''' (churn-sized): doc-id tombstones with
  *    coverage — each tombstone excludes a doc's rows only from the
  *    postings files that PRECEDED it in the manifest (Iceberg v2
  *    equality-delete sequence semantics), so one atomic commit can
  *    tombstone a doc's old rows AND append its new version (an update
  *    survives its own tombstone, a re-inserted doc is live again).
  *    df/n/sumdl corrections ride the same claim, so served scores
  *    equal a rebuild over the post-change corpus at every point
  *    (oracle-gated by `search_index_delete` / `search_index_cdc`).
  *  - '''compact''' folds each bucket's accumulated per-delta small
  *    files into one (dropping tombstoned rows and clearing the
  *    tombstone set); '''vacuum''' expires old manifests and sweeps
  *    every unreferenced file — the same maintenance cadence the
  *    reference runs for its one persisted artifact
  *    (/root/reference/stream-spec-yaml-example.yaml:49
  *    `maintenanceSettings`) and this repo's catalog runs via
  *    `CALL graft.system.*`.
  *
  * '''Commit protocol''' (shared with [[graft.catalog.GraftManifestIO]]):
  * every mutation stages immutable files under fresh UUID directories,
  * then atomically claims `manifest/v<N>.json` by exclusive create
  * ([[graft.catalog.ManifestLog.claim]]). The manifest
  * lists the EXACT postings files plus the vocab/stats directories of
  * that version and pins the bucket count, so:
  *
  *  - a crash anywhere before the claim leaves only invisible orphans
  *    (swept by vacuum) — readers can never observe stats counting docs
  *    whose postings are absent;
  *  - two racing maintainers serialize on the claim; the loser re-reads
  *    the fresh manifest and re-derives its vocab/stats merge (its
  *    staged postings are reusable as-is) — lost-update-free, not just
  *    conflict-detected;
  *  - the bucket count is read from the manifest at query/delta time,
  *    never supplied by the caller — a mismatched modulus (which would
  *    silently drop probe terms' postings from the pruned scan) is
  *    structurally impossible.
  *
  * At 100 TB: postings move from B file-sets to B × range-split files;
  * the per-query read stays proportional to the probe terms' posting
  * lists (df-bounded), never the corpus; compaction and vacuum stay
  * proportional to the churn since the last maintenance pass.
  */
object InvertedIndex {

  val DefaultBuckets = 16

  /** One committed index version: the exact postings files (with their
    * bucket), the merged vocab/stats directories, and the bucket count
    * pinned at build time. All paths are relative to the index root.
    * `streams` carries per-stream exactly-once batch stamps (namespace →
    * highest applied batch id) — the index-side analogue of the
    * catalog's [[graft.catalog.GraftCommitStamp]]: the stamp rides the
    * SAME atomic manifest claim as the delta's content, so a replayed
    * micro-batch is refused by the committed state itself, never by a
    * side channel that could desynchronize from it.
    */
  final case class Manifest(
      version: Long,
      buckets: Int,
      postings: Seq[(Int, String)],
      vocabDir: String,
      statsDir: String,
      streams: Map[String, Long] = Map.empty,
      /** whether postings rows carry the positions column. Pinned at
        * build time IN the manifest (like the bucket modulus): deltas
        * must stage the same row shape, and a phrase/proximity query
        * against a positions-free index must fail LOUDLY at the
        * manifest — never scan, find no column, and return empty. A
        * BM25-only index skips the positional build cost (collect_list
        * per (doc, tok): ×2.2 build at the 100× rung, BENCH_SF1).
        */
      positions: Boolean = true,
      /** doc-metadata sidecar for FILTERED retrieval: column names
        * pinned at build (`metaCols`) and the append-ordered sidecar
        * dirs (`metaDirs`, each holding (doc_id, metaCols…) rows —
        * doc-count-sized, never token-sized). Queries with a `where`
        * predicate resolve each doc's LATEST meta (dir order =
        * manifest append order, so CDC-updated metadata wins) and
        * semi-join the scored candidates pre-rank. Empty = no sidecar;
        * a `where` query against it fails loudly.
        */
      metaCols: Seq[String] = Nil,
      metaDirs: Seq[String] = Nil,
      /** doc-id tombstones ([[deleteDocs]]/[[applyCdc]]) as
        * (dir, cover): the tombstone excludes a doc's rows ONLY from
        * the first `cover` postings files of this manifest — Iceberg
        * v2 equality-delete sequence semantics (a delete applies to
        * files that preceded it), which is what lets one atomic commit
        * both tombstone a doc's old rows and append its new version.
        * The postings list is append-only between compactions and
        * [[compact]] clears the set, so covers stay valid. Vocab/stats
        * were corrected when each tombstone committed, so served
        * scores equal a rebuild at every point in between.
        */
      deletes: Seq[(String, Int)] = Nil,
      /** per-file token ranges (path -> (minTok, maxTok), UTF-8 binary
        * order — Spark's string comparator): [[compact]] rewrites each
        * bucket RANGE-SPLIT BY TOKEN and records each file's range, so
        * a query plans only the files whose range can contain one of
        * its terms — exact block skipping (a file without any query
        * term contributes nothing to any score). Delta-staged files
        * are hash-split (churn-sized, ranges unknown) and carry no
        * entry, so they are always read until the next compact folds
        * them into ranged files. At 100 TB this is what bounds a
        * query's read to its TERMS' slices of a bucket, not the whole
        * bucket: bucket pruning cuts 1/B, token ranges cut the rest.
        */
      tokRanges: Map[String, (String, String)] = Map.empty,
      /** IMPACT-ORDERED champion sidecar ([[buildChampions]]) for the
        * opt-in APPROXIMATE serving mode: per term, the top-`championC`
        * postings by the build-time fixed-point saturation (within a
        * term the idf factor is constant, so saturation order IS
        * impact order). `champions` lists the sidecar files
        * (bucket-partitioned like postings, so serves bucket-prune);
        * `championCover` pins how many postings files the selection
        * saw — the files appended since (deltas/CDC) are NOT
        * champion-covered and an approximate serve reads them fully
        * (churn-sized between compactions, the tombstone argument).
        * [[compact]] CLEARS the sidecar: it rewrites/reorders the
        * postings list, invalidating the cover index — rebuild
        * champions after maintenance folds. Empty/0 = exact-only
        * index; the approximate serve refuses loudly.
        */
      champions: Seq[(Int, String)] = Nil,
      championCover: Int = 0,
      championC: Int = 0,
      /** One id per champion SELECTION — a federated approximate serve
        * requires every shard to carry the SAME epoch
        * ([[ShardedIndex.buildChampionsSharded]] stamps one UUID across
        * its per-shard commits), so a partially-landed federated
        * selection (one shard's OCC refusal mid-build) can never serve
        * a silent mix of two selections: the serve refuses loudly until
        * a re-run lands whole. Flat selections stamp one too (unused by
        * the flat serve, travels with export/rollback).
        */
      championEpoch: String = "")
      extends IndexManifests.Envelope {
    def files: Seq[(Int, String)] = postings
    def sidecars: Seq[String] = Seq(vocabDir, statsDir) ++ champions.map(_._2)
    def payloadRoot: String = "postings"
    def idCol: String = "doc_id"
    def withVersion(v: Long): Manifest = copy(version = v)
    def kind: String = "lexical"
    def shape: String = s"buckets=$buckets positions=$positions ranged=${tokRanges.size}"
    def compact(spark: SparkSession, dir: String): Int = InvertedIndex.compact(spark, dir)
    def federation(shards: Seq[(String, IndexManifests.Envelope)],
        dir: String): ShardedIndex.Payload =
      InvertedIndex.federation(shards.map { case (d, m) => d -> m.asInstanceOf[Manifest] }, dir)
    def toJson: String = IndexManifests.render(this, List(
      "buckets" -> JInt(buckets),
      "positions" -> JBool(positions),
      "vocab" -> JString(vocabDir),
      "stats" -> JString(statsDir),
      "champions" -> JArray(champions.map { case (b, p) =>
        JObject(List("bucket" -> (JInt(b): JValue), "path" -> (JString(p): JValue))): JValue
      }.toList),
      "championCover" -> JInt(championCover),
      "championC" -> JInt(championC),
      "championEpoch" -> JString(championEpoch),
      "postings" -> JArray(postings.map { case (b, p) =>
        val base = List("bucket" -> (JInt(b): JValue), "path" -> (JString(p): JValue))
        val range = tokRanges.get(p).toList.flatMap { case (lo, hi) =>
          List("tmin" -> (JString(lo): JValue), "tmax" -> (JString(hi): JValue))
        }
        JObject(base ++ range): JValue
      }.toList)))
  }

  /** Staged-but-uncommitted delta: immutable postings files under a
    * fresh UUID dir. Visible only once a manifest referencing them is
    * committed.
    */
  private[graft] final case class StagedDelta(files: Seq[(Int, String)],
      meta: Option[String] = None)

  // ---- tokenization (MUST stay expression-identical to bm25TopK) ----

  /** One row per (doc, token): tf, plus (when `withPositions`) the
    * token's POSITIONS in the doc (0-based over the whitespace token
    * sequence). Positions are what make the postings a full positional
    * index — [[phraseTopK]]/[[proximityTopK]]/[[spanNearTopK]] need
    * them; BM25 never references the column, so Catalyst prunes it out
    * of every scoring scan (zero SERVE cost when unused). The BUILD
    * cost is real though (collect_list per (doc, tok) plans
    * ObjectHashAggregate instead of a codegen'd count: ×2.2 at the
    * 100× rung) — a BM25-only index skips it via
    * `build(withPositions = false)`, pinned in the manifest.
    */
  private def termFreqs(docs: DataFrame, idCol: String, textCol: String,
      withPositions: Boolean = true): DataFrame = {
    // __dl (the doc length) is size(tokens) computed BEFORE the explode:
    // split() always yields >= 1 element (an empty doc tokenizes to [""],
    // the same single token the oracle's regexp_split counts), so
    // size(tokens) == sum of per-token tf exactly — and carrying it
    // through the explode as a constant costs 8 bytes per token row,
    // where deriving it after the aggregate (the round-14 shape: a
    // window over the tf rows) cost a second full exchange on the doc
    // key plus its sort. One token-level shuffle builds the postings.
    // two-step select: the token ARRAY lands as an attribute first, so
    // size() and the explode both reference it — a single projection
    // would evaluate the regex split twice per row (CollapseProject
    // declines to inline a non-cheap expression used twice, but a
    // generator over an inline expression is not protected)
    val base = docs.select(col(idCol),
      graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
    if (withPositions)
      base.select(col(idCol), size(col("__toks")).cast("long").as("__dl"),
          posexplode(col("__toks")).as(Seq("__pos", "__tok")))
        .groupBy(col(idCol), col("__tok"))
        .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"),
          sort_array(collect_list(col("__pos"))).as("__positions"))
    else
      base.select(col(idCol), size(col("__toks")).cast("long").as("__dl"),
          explode(col("__toks")).as("__tok"))
        .groupBy(col(idCol), col("__tok"))
        .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
  }

  private[graft] def bucketOf(tok: Column, buckets: Int): Column =
    pmod(xxhash64(tok), lit(buckets.toLong)).cast("int")

  // ---- manifest IO (the lifecycle lives in IndexManifests) ----------

  private[operators] def fromJson(j: JValue): Manifest = {
    implicit val fmts: Formats = DefaultFormats
    val postingEntries = (j \ "postings").extract[List[JValue]]
    Manifest(
      version = (j \ "version").extract[Long],
      buckets = (j \ "buckets").extract[Int],
      postings = postingEntries.map(e =>
        ((e \ "bucket").extract[Int], (e \ "path").extract[String])),
      tokRanges = postingEntries.flatMap { e =>
        (e \ "tmin", e \ "tmax") match {
          case (JString(lo), JString(hi)) => Some((e \ "path").extract[String] -> (lo, hi))
          case _ => None
        }
      }.toMap,
      vocabDir = (j \ "vocab").extract[String],
      statsDir = (j \ "stats").extract[String],
      streams = IndexManifests.streamsFromJson(j \ "streams"),
      positions = j \ "positions" match {
        case JBool(b) => b
        case _ => true // legacy manifests predate the flag and carry positions
      },
      metaCols = IndexManifests.stringsFromJson(j \ "metaCols"),
      metaDirs = IndexManifests.stringsFromJson(j \ "metaDirs"),
      deletes = IndexManifests.deletesFromJson(j \ "deletes"),
      champions = j \ "champions" match {
        case JArray(items) => items.collect {
          case o: JObject => ((o \ "bucket").extract[Int], (o \ "path").extract[String])
        }
        case _ => Nil // legacy manifests predate the champion sidecar
      },
      championCover = j \ "championCover" match {
        case JInt(n) => n.toInt
        case _ => 0
      },
      championC = j \ "championC" match {
        case JInt(n) => n.toInt
        case _ => 0
      },
      championEpoch = j \ "championEpoch" match {
        case JString(e) => e
        case _ => ""
      })
  }

  private[graft] def versions(spark: SparkSession, dir: String): Seq[Long] =
    IndexManifests.versions(spark, dir)

  private[graft] def readManifest(spark: SparkSession, dir: String, v: Long): Manifest =
    IndexManifests.read(spark, dir, v).asInstanceOf[Manifest]

  private[graft] def currentManifest(spark: SparkSession, dir: String): Manifest =
    IndexManifests.head(spark, dir).asInstanceOf[Manifest]

  // ---- staging -------------------------------------------------------

  /** Target bytes per staged postings file: one file per bucket does
    * NOT scale (a single task would write a bucket's entire postings —
    * terabytes at 100 TB — and a probe's scan parallelism would
    * collapse to its bucket count), so staging splits by
    * (bucket, doc_id) hash: each file still belongs to exactly one
    * bucket (the layout contract pruning relies on), but writers and
    * readers stay task-sized.
    */
  val TargetFileBytes: Long = 64L << 20

  /** Write `(doc_id, tok, tf, dl, bucket)` rows as file-sets per
    * bucket under a fresh UUID dir; returns the (bucket, relative path)
    * entries. partitionBy keeps each bucket's rows in its own files;
    * the bucket value itself lives in the manifest, not the rows.
    */
  private def stagePostings(spark: SparkSession, postings: DataFrame, dir: String,
      buckets: Int, splits: Option[Int] = None): Seq[(Int, String)] = {
    val rel = IndexManifests.freshRel("postings")
    // bytes-derived ONLY — no task floor: each staging task writes a
    // file into every bucket dir its rows touch, so a floor of
    // `buckets` turns every churn-sized delta into ~buckets² small
    // files (measured: 10 deltas → 2173 files and a 3.7× serve
    // penalty at sf0.1, vs ~1 file/bucket/delta without the floor).
    // The 100 TB writer cliff is covered by the bytes term, and
    // READ parallelism never needed the floor — parquet scans split
    // large files by row group.
    val n = splits.getOrElse(
      IndexManifests.splitsFor(ScaleSafe.leafScanBytes(postings), TargetFileBytes))
    postings.repartition(n, col("bucket"), col("doc_id"))
      .write.mode("errorifexists").partitionBy("bucket").parquet(s"$dir/$rel")
    IndexManifests.listStaged(spark, dir, rel, "bucket")
  }

  /** (doc_id, tok, tf, dl, bucket) rows from term frequencies. dl rides
    * in from [[termFreqs]] (computed pre-explode as size(tokens)) — the
    * round-14 window-sum over the doc's tf rows cost a second full
    * exchange on the doc key plus a sort, and the join shape before it
    * re-sorted both sides and tripped Spark 4.1's unsound union
    * partitioning claim (see GraftSession). Now this is a pure
    * projection: the tf aggregate's exchange is the only shuffle.
    */
  private def postingsOf(tf: DataFrame, idCol: String, buckets: Int): DataFrame = {
    val base = Seq(col(idCol).as("doc_id"), col("__tok").as("tok"),
      col("__tf").as("tf"), col("__dl").as("dl"))
    val pos = if (tf.columns.contains("__positions"))
      Seq(col("__positions").as("positions")) else Nil
    tf.select(base ++ pos :+ bucketOf(col("__tok"), buckets).as("bucket"): _*)
  }

  /** Run independent sidecar writes as CONCURRENT Spark jobs. Actions
    * are only sequential because the driver calls them sequentially —
    * vocab/stats/tombstone writes touch disjoint output dirs and share
    * no ordering, so overlapping them lets one job's task tail backfill
    * the cores the other's tasks free (and folds their fixed job floors
    * together — at sf0.1 the lifecycle entries are floor-bound). Every
    * thunk SETTLES before the first failure propagates, so a failed
    * write never races a sibling still holding the staged inputs.
    */
  private def inParallel(thunks: Seq[() => Unit]): Unit =
    if (thunks.sizeIs <= 1) thunks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size,
        (r: Runnable) => {
          val t = new Thread(r, "graft-index-sidecar"); t.setDaemon(true); t
        })
      try {
        val futs = thunks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        }))
        val settled = futs.map { fu =>
          try Right(fu.get())
          catch {
            case e: java.util.concurrent.ExecutionException => Left(e.getCause)
            case e: Throwable => Left(e)
          }
        }
        val failures = settled.collect { case Left(t) => t }
        failures.headOption.foreach { first =>
          // sibling failures ride as suppressed — a multi-write failure
          // must not silently discard the other writes' diagnostics
          failures.drop(1).foreach(first.addSuppressed)
          throw first
        }
      } finally { pool.shutdown(); () }
    }

  /** Collect the corpus-stats SCALARS (n docs, sum of dl) of a postings
    * frame to the driver — one column-pruned aggregate job, the same
    * arithmetic the former distributed stats writes ran (per-doc dl via
    * first(dl), then count + sum). Shared by build/delta/removal paths:
    * every stats sidecar is now pure driver arithmetic over these
    * scalars plus [[IndexManifests.cachedStats]] of the base, written
    * through [[IndexManifests.writeStats]] (a 1-task local write that
    * also primes the serve-side cache), instead of a distributed job
    * that re-read the base stats parquet per commit attempt. The
    * collect doubles as the EMPTINESS PROBE the removal paths used to
    * run separately (n == 0 ⟺ no rows).
    */
  private def collectDocStats(postings: DataFrame): (Long, Long) = {
    val r = postings.groupBy(col("doc_id")).agg(first(col("dl")).as("__dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("__dl")), lit(0L)).as("sumdl"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** The sidecar schemas are pinned by the write paths (and by the
    * empty-frame unions every federation takes through them), so reads
    * declare them EXPLICITLY: read.parquet without a schema launches a
    * footer-inference Spark job per call — one dead job on every
    * postings/vocab/tombstone read, fleet-wide. A schema narrower than
    * the file (4-col postings over a positional file) is plain column
    * pruning; declaring a column the file lacks would read nulls, so
    * `withPositions` must be accurate wherever positions are consumed
    * (liveRows keys it on the manifest; the correction paths read the
    * 4-col shape regardless of the index's positional flag). Tombstones
    * are read as `doc_id BIGINT` ([[IndexManifests.tombstones]]).
    */
  private[graft] val PostingsSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT")
  private[graft] val PostingsSchemaPositional =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT, positions ARRAY<INT>")
  private[graft] val VocabSchema =
    org.apache.spark.sql.types.StructType.fromDDL("tok STRING, df BIGINT")

  /** Read a committed (or staged) file list; empty lists yield an empty
    * postings frame with the right schema.
    */
  private def readPostings(spark: SparkSession, dir: String,
      files: Seq[(Int, String)], withPositions: Boolean = true): DataFrame =
    IndexManifests.readFiles(spark, dir, files,
      if (withPositions) PostingsSchemaPositional else PostingsSchema)

  // ---- build ---------------------------------------------------------

  /** Build the index from scratch. One corpus pass: the (doc, token)
    * shuffle computes tf, a window over the same partitioning computes
    * dl, and the postings land one file-set per bucket (at larger SF,
    * raise the shuffle width per bucket; the layout contract is only
    * "each file belongs to one bucket"). The bucket count is pinned in
    * the manifest — queries and deltas always use the modulus the
    * postings were laid out with.
    *
    * Vocab and stats derive from the STAGED postings files, not from
    * `tf` — reusing the `tf` frame re-tokenizes and re-shuffles the
    * corpus once per sidecar (3 corpus passes per build; at 100 TB, two
    * extra corpus scans — at sf0.1 the entries are job-floor-bound and
    * wall stays flat, the event-log evidence is the two corpus-shaped
    * executions disappearing). The staged read is column-pruned: vocab
    * touches only `tok`, stats only (doc_id, dl) — exactly
    * [[buildFromPostings]]'s shape, which pinned the equivalence first.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      buckets: Int = DefaultBuckets, splits: Option[Int] = None,
      withPositions: Boolean = true, metaCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = docs.sparkSession
    require(versions(spark, dir).isEmpty,
      s"inverted index already committed at $dir (addDelta grows it; build starts fresh)")
    // a rebuild at a previously-used path must not serve the old tree's
    // cached manifests — invalidate BEFORE this build's sidecars land,
    // so the stats prime below survives (nothing can re-cache the old
    // tree in between: its manifests are gone from disk)
    IndexManifests.invalidate(dir)
    val tf = termFreqs(docs, idCol, textCol, withPositions)
    commitBuild(spark, dir, postingsOf(tf, idCol, buckets), buckets, splits, withPositions,
      metaCols, stageMeta(docs, idCol, metaCols, dir).toSeq)
  }

  /** Both builds' tail: stage the bucketed postings, derive vocab and
    * stats from the STAGED files (column-pruned reads, never the input
    * again), stage the meta sidecar, claim v1.
    */
  private def commitBuild(spark: SparkSession, dir: String, postings: DataFrame,
      buckets: Int, splits: Option[Int], withPositions: Boolean, metaCols: Seq[String],
      metaDirs: => Seq[String]): Unit = {
    val files = stagePostings(spark, postings, dir, buckets, splits)
    val staged = readPostings(spark, dir, files, withPositions)
    val vocabRel = IndexManifests.freshRel("vocab")
    val statsRel = IndexManifests.freshRel("stats")
    inParallel(Seq(
      () => staged.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .select(col("tok"), col("df"))
        .write.mode("errorifexists").parquet(s"$dir/$vocabRel"),
      () => {
        val (n, sumdl) = collectDocStats(staged)
        IndexManifests.writeStats(spark, dir, statsRel, n, sumdl)
      }))
    require(IndexManifests.claim(spark, dir,
      Manifest(1L, buckets, files, vocabRel, statsRel, positions = withPositions,
        metaCols = metaCols, metaDirs = metaDirs)),
      s"lost the build commit race at $dir — another maintainer built concurrently")
  }

  /** Build an index directly from LIVE POSTINGS rows ((doc_id, tok,
    * tf, dl [, positions]) — another index's content), skipping
    * tokenization entirely: the reshard path ([[ShardedIndex.reshard]])
    * re-routes a federation's postings to a new shard layout without
    * ever touching document text, because a posting row carries
    * everything its new home needs. Vocab and stats re-derive from the
    * staged files (tombstones were already applied by the caller's
    * liveRows read, so the new index is born clean — no tombstones, no
    * champions, no stream stamps: a resharded federation is a NEW
    * serving deployment; streams resume with fresh checkpoints).
    */
  private[graft] def buildFromPostings(spark: SparkSession, rows: DataFrame,
      meta: Option[DataFrame], dir: String, buckets: Int,
      withPositions: Boolean, metaCols: Seq[String]): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(versions(spark, dir).isEmpty,
      s"inverted index already committed at $dir (buildFromPostings starts fresh)")
    // invalidate-first for the same reason as [[build]]
    IndexManifests.invalidate(dir)
    val cols = Seq(col("doc_id"), col("tok"), col("tf"), col("dl")) ++
      (if (withPositions) Seq(col("positions")) else Nil)
    commitBuild(spark, dir, rows.select(cols :+ bucketOf(col("tok"), buckets).as("bucket"): _*),
      buckets, None, withPositions, metaCols,
      meta.flatMap(m => stageMeta(m, "doc_id", metaCols, dir)).toSeq)
  }

  private def stageMeta(docs: DataFrame, idCol: String, metaCols: Seq[String],
      dir: String): Option[String] =
    IndexManifests.stageMeta(docs, idCol, "doc_id", metaCols, dir)

  /** The lexical part in the federation's layout operations
    * ([[ShardedIndex.reshard]], [[ShardedIndex.reshardInPlace]]): live
    * postings re-route with their metadata routed apart (a posting row
    * is per (doc, term), metadata per doc), new shards build with no
    * re-tokenization ([[buildFromPostings]]), leavers tombstone with
    * vocab/stats corrections from the same staged rows ([[removeRows]]),
    * an empty shard builds as an empty index, and a source that served
    * approximate gets its champion selection back.
    */
  private[graft] def federation(shards: Seq[(String, Manifest)],
      dir: String): ShardedIndex.Payload = {
    val buckets = ShardedIndex.uniform("bucket modulus", shards.map(_._2.buckets), dir)
    val positions = ShardedIndex.uniform("positions flag", shards.map(_._2.positions), dir)
    val metaCols = ShardedIndex.uniform("metaCols", shards.map(_._2.metaCols), dir)
    new ShardedIndex.Payload {
      def live(spark: SparkSession, i: Int) = {
        val (d, m) = shards(i)
        liveRows(spark, d, m, m.postings)
      }
      def withMeta(rows: DataFrame, meta: Option[DataFrame]) = (rows, meta)
      def build(spark: SparkSession, rows: DataFrame, meta: Option[DataFrame], d: String) =
        buildFromPostings(spark, rows, meta, d, buckets, positions, metaCols)
      def remove(spark: SparkSession, d: String, leavers: DataFrame) =
        removeRows(spark, d, leavers)
      val emptyRefusal = None
      val championC = shards.map(_._2.championC).max
    }
  }

  // ---- delta maintenance ---------------------------------------------

  /** Stage a delta's postings (the only corpus-sized work — done ONCE,
    * reused across commit retries). Delta doc ids must be disjoint from
    * the indexed set.
    */
  private[graft] def stageDelta(delta: DataFrame, idCol: String, textCol: String,
      dir: String): StagedDelta = {
    val spark = delta.sparkSession
    val m = currentManifest(spark, dir)
    // the manifest decides the row shape — a positions-free index must
    // never grow mixed-schema postings (and vice versa); likewise the
    // meta sidecar: an index with metadata requires every delta to
    // carry the pinned columns (the select fails loudly if absent)
    val tf = termFreqs(delta, idCol, textCol, m.positions)
    StagedDelta(stagePostings(spark, postingsOf(tf, idCol, m.buckets), dir, m.buckets),
      stageMeta(delta, idCol, m.metaCols, dir))
  }

  /** Commit a staged delta: merge vocab/stats against the CURRENT
    * manifest and claim the next version. The delta's df/n/sumdl are
    * re-derived from its staged postings files (so retries never
    * re-tokenize), the merge is vocabulary-bounded, and historical
    * postings are never read. On a lost race the fresh manifest is
    * re-read and the merge re-derived — staged postings are immutable
    * and reusable, only the (cheap) metadata merge repeats.
    *
    * With a `stamp` (streaming exactly-once): the batch id commits in
    * the SAME manifest claim as the content, and a base manifest that
    * already carries `>= batchId` under the namespace refuses the commit
    * ([[IndexManifests.commit]]; the staged files become orphans for
    * [[vacuum]]) — a replayed micro-batch can never double-count.
    */
  private[graft] def commitDelta(spark: SparkSession, dir: String,
      staged: StagedDelta, maxAttempts: Int = 5,
      stamp: Option[(String, Long)] = None): Unit = {
    // ONE batch-scoped scan of the staged files (column-pruned past
    // positions) shared by the stats collect — which materializes it —
    // and every attempt's vocab merge; before, the vocab job re-listed
    // and re-read the staged files as its own scan
    val deltaPostings = readPostings(spark, dir, staged.files, withPositions = false)
      .select(col("doc_id"), col("tok"), col("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val deltaVocab = deltaPostings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // the delta's stats collect ONCE, outside the CAS loop (a pure
    // function of the staged files); each attempt's stats sidecar is
    // then driver arithmetic against the fresh base's cached scalars —
    // the former distributed merge re-read the base stats parquet and
    // re-aggregated the staged files on every attempt
    val (deltaN, deltaSumdl) = collectDocStats(deltaPostings)
    IndexManifests.commit[Manifest](spark, dir, "index delta", maxAttempts, stamp) { base =>
      val vocabRel = IndexManifests.freshRel("vocab")
      val statsRel = IndexManifests.freshRel("stats")
      inParallel(Seq(
        () => spark.read.schema(VocabSchema).parquet(s"$dir/${base.vocabDir}")
          .unionByName(deltaVocab)
          .groupBy(col("tok")).agg(sum(col("df")).as("df"))
          .write.mode("errorifexists").parquet(s"$dir/$vocabRel"),
        () => {
          val (baseN, baseSumdl) = IndexManifests.cachedStats(spark, dir, base.statsDir)
          IndexManifests.writeStats(spark, dir, statsRel,
            baseN + deltaN, baseSumdl + deltaSumdl)
        }))
      // champions survive deltas: the new files land PAST
      // championCover, so approximate serves read them fully
      Some(base.copy(version = base.version + 1, postings = base.postings ++ staged.files,
        vocabDir = vocabRel, statsDir = statsRel, streams = base.streams ++ stamp.toMap,
        metaDirs = base.metaDirs ++ staged.meta))
    }
    ()
    } finally deltaPostings.unpersist(blocking = false)
  }

  /** Fold a batch of NEW documents (ids disjoint from the indexed set)
    * into the index. Work is churn-sized + vocabulary-sized; the
    * historical postings are never read, and the new version becomes
    * visible ATOMICALLY at the manifest claim — a crash at any earlier
    * point leaves the old version serving and only invisible orphans
    * on disk (see the commit protocol in the object scaladoc).
    *
    * `stamp = Some(ns -> batchId)` makes the fold exactly-once per
    * batch id within the namespace (see [[commitDelta]]); a replay is
    * skipped before any staging work when the committed stamp already
    * covers it.
    */
  def addDelta(delta: DataFrame, idCol: String, textCol: String, dir: String,
      stamp: Option[(String, Long)] = None): Unit = {
    val spark = delta.sparkSession
    stamp.foreach { case (ns, batchId) =>
      if (committedBatchId(spark, dir, ns).exists(_ >= batchId)) return
    }
    commitDelta(spark, dir, stageDelta(delta, idCol, textCol, dir), stamp = stamp)
  }

  /** Highest batch id committed under stream namespace `ns`, if any. */
  def committedBatchId(spark: SparkSession, dir: String, ns: String): Option[Long] =
    IndexManifests.committedBatchId(spark, dir, ns)

  // ---- deletes -------------------------------------------------------

  /** LIVE rows of `selected` postings files under `m`'s tombstones
    * ([[IndexManifests.liveRows]]). An empty file list synthesizes its
    * schema, which must match the MANIFEST's positions flag, or a
    * positions-free federation with an empty shard breaks every union
    * over per-shard liveRows.
    */
  private[graft] def liveRows(spark: SparkSession, dir: String, m: Manifest,
      selected: Seq[(Int, String)]): DataFrame =
    IndexManifests.liveRows(spark, dir, m, readPostings(spark, dir, selected, m.positions))

  /** Delete documents from the index: commits a doc-id tombstone PLUS
    * df/n/sumdl corrections in one atomic manifest claim, so a served
    * score is exactly what a rebuild without the deleted docs would
    * produce — from the moment the claim lands, with the physical rows
    * still in place until [[compact]] drops them.
    *
    * The corrections need the deleted docs' (tok, tf, dl) rows, and a
    * doc's tokens hash across ALL buckets — so this is the one
    * maintenance action that scans the postings (once per delete
    * BATCH; batch deletes on the same cadence as the reference's
    * maintenance; [[applyCdc]] avoids the scan when the caller can
    * supply the outgoing text). Dead or absent ids are no-ops; a doc
    * re-inserted after a deletion is live again (tombstones cover only
    * the files that preceded them) and deletable again.
    */
  def deleteDocs(ids: DataFrame, idCol: String, dir: String,
      maxAttempts: Int = 5): Unit = {
    val spark = ids.sparkSession
    val del = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
    IndexManifests.commit[Manifest](spark, dir, "index delete", maxAttempts) { base =>
      // corrections must be computed against the SAME postings the
      // claim commits over — the (live-row) scan re-derives inside the
      // CAS loop (retries are rare). WITHIN an attempt the scan runs
      // once: the stats collect (which doubles as the emptiness probe —
      // n == 0 ⟺ nothing to delete) and removal's vocab
      // correction both consume the persisted hit rows (lineage kept —
      // a lost block recomputes), not separate postings scans.
      val hit = liveRows(spark, dir, base, base.postings)
        .join(broadcast(del), Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val hitStats = collectDocStats(hit)
        if (hitStats._1 == 0L) None
        else Some(removal(spark, dir, base, removed = hit, removedStats = hitStats,
          tombstoneIds = del, staged = Nil, stagedStats = (0L, 0L), stamp = None))
      } finally hit.unpersist(blocking = false)
    }
    ()
  }

  /** Tombstone PRE-COMPUTED outgoing rows (the in-place reshard's
    * seam): exactly [[deleteDocs]]' removal commit, but the (doc_id,
    * tok, tf, dl) rows are supplied by the caller — the reshard
    * materializes them from the PINNED live set anyway, so re-deriving
    * them from a scan inside the CAS loop would read the shard twice.
    * The caller owns the rows-are-live-at-head contract
    * ([[ShardedIndex.reshardInPlace]] skips shards whose head advanced
    * past the layout pin — the only writer mid-transition is the
    * reshard itself, so head == pin iff this removal hasn't landed).
    */
  private[graft] def removeRows(spark: SparkSession, dir: String,
      removed: DataFrame, maxAttempts: Int = 5): Unit = {
    // one materialization feeds the stats collect (which doubles as the
    // emptiness probe), the tombstone ids and removal's vocab
    // correction — the caller's `removed` may be a staged-tree read
    // (cheap) or a computed frame (the reshard's pinned live set):
    // either way it runs once
    val rm = removed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rmStats = collectDocStats(rm)
      if (rmStats._1 == 0L) return
      val tombstoneIds = rm.select(col("doc_id")).distinct()
      IndexManifests.commit[Manifest](spark, dir, "reshard removal", maxAttempts) { base =>
        Some(removal(spark, dir, base, rm, rmStats, tombstoneIds,
          staged = Nil, stagedStats = (0L, 0L), stamp = None))
      }
    } finally rm.unpersist(blocking = false)
  }

  /** Stage corrected vocab/stats from `removed` (outgoing (tok, tf,
    * dl) rows) plus `staged` (incoming postings files), write the
    * tombstone, and return the manifest to claim over `base` (the
    * caller's [[IndexManifests.commit]] loop re-derives on a lost race).
    *
    * The stats corrections arrive as DRIVER SCALARS (`removedStats` /
    * `stagedStats`, collected once per batch by the callers — pure
    * functions of the batch, not of the base), so the stats sidecar is
    * arithmetic over the base's cached scalars + a 1-task local write —
    * the former distributed job re-read the base stats parquet and
    * cross-joined two aggregate broadcasts on every commit attempt.
    */
  private def removal(spark: SparkSession, dir: String, base: Manifest,
      removed: DataFrame, removedStats: (Long, Long), tombstoneIds: DataFrame,
      staged: Seq[(Int, String)], stagedStats: (Long, Long),
      stamp: Option[(String, Long)], appendTombstone: Boolean = true,
      stagedMeta: Option[String] = None,
      stagedRows: Option[DataFrame] = None): Manifest = {
    // ONE merged df-delta per token (minus from the persisted outgoing
    // rows, plus from the staged postings — [[applyCdc]] hands the
    // latter in PERSISTED so the batch's one scan is shared with its
    // stats collect instead of re-listing/re-reading the staged files
    // here), then ONE full join against the base vocab — the former
    // shape joined base LEFT minus then FULL plus (two joins, three
    // inputs). Identical output under the loud contract (`removals`
    // carries the OLD INDEXED text): every minus tok is in the base
    // vocab with df ≥ its minus count, so delta-only toks have a
    // strictly positive net (pure inserts) exactly as before, and
    // in-base toks read df + (plus − minus).
    val minus = removed.select(col("tok"), lit(-1L).as("__ddf"))
    val plus =
      if (staged.isEmpty) None
      else Some(stagedRows.getOrElse(
          readPostings(spark, dir, staged, withPositions = false))
        .select(col("tok"), lit(1L).as("__ddf")))
    val vocabDelta = plus.fold(minus)(minus.unionByName(_))
      .groupBy(col("tok")).agg(sum(col("__ddf")).as("__ddf"))
    val vocabRel = IndexManifests.freshRel("vocab")
    val statsRel = IndexManifests.freshRel("stats")
    val delEntry =
      if (!appendTombstone) None
      else Some(IndexManifests.freshRel("deletes") -> base.postings.size)
    // the three sidecar writes are independent (disjoint output dirs,
    // inputs all staged/persisted/driver-resident) — overlap their jobs
    inParallel(Seq(
      () => {
        spark.read.schema(VocabSchema).parquet(s"$dir/${base.vocabDir}")
          .join(vocabDelta, Seq("tok"), "full")
          .select(col("tok"),
            (coalesce(col("df"), lit(0L)) + coalesce(col("__ddf"), lit(0L))).as("df"))
          .filter(col("df") > 0)
          .write.mode("errorifexists").parquet(s"$dir/$vocabRel")
      },
      () => {
        val (baseN, baseSumdl) = IndexManifests.cachedStats(spark, dir, base.statsDir)
        IndexManifests.writeStats(spark, dir, statsRel,
          baseN - removedStats._1 + stagedStats._1,
          baseSumdl - removedStats._2 + stagedStats._2)
      }) ++ delEntry.map { case (delRel, _) =>
        () => tombstoneIds.coalesce(1).write.mode("errorifexists").parquet(s"$dir/$delRel")
      })
    // champions survive tombstones/CDC: the tombstone's cover is
    // ≥ championCover (postings append-only between compactions), so
    // an approximate serve applies it to the champion rows too
    base.copy(version = base.version + 1, postings = base.postings ++ staged,
      vocabDir = vocabRel, statsDir = statsRel, streams = base.streams ++ stamp.toMap,
      metaDirs = base.metaDirs ++ stagedMeta, deletes = base.deletes ++ delEntry)
  }

  /** One ATOMIC CDC micro-batch against the index — the reference's
    * merge loop applied to the serving layer. `upserts` carries the
    * NEW (id, text) versions to index; `removals` carries the OLD
    * indexed text of every id leaving the index (deleted ids AND the
    * prior versions of updated ids — the caller reads them from the
    * system of record, e.g. a bucket-pruned catalog lookup, which is
    * churn-sized; supplying text that differs from what was indexed
    * silently corrupts df/n/sumdl, so the contract is loud here).
    *
    * One manifest claim commits: the upserts' postings files, the
    * removal tombstone (covering only the PRE-batch files, so the new
    * versions survive their own tombstone — the Iceberg sequence
    * trick), corrected vocab/stats, and the stream stamp. A replayed
    * batch is refused by the committed stamp; a crash leaves the old
    * version serving.
    *
    * NULL text: `tokens(null)` is null, so a NULL-text document is
    * never indexed — it stages no postings and counts in no df, n or
    * sumdl, exactly as a rebuild over it would. Its removal therefore
    * has no postings for a tombstone to cover and commits none; a later
    * upsert with text inserts it like any new document.
    */
  def applyCdc(upserts: DataFrame, removals: DataFrame, idCol: String,
      textCol: String, dir: String, stamp: Option[(String, Long)] = None,
      maxAttempts: Int = 5): Unit = {
    val spark = upserts.sparkSession
    stamp.foreach { case (ns, batchId) =>
      if (committedBatchId(spark, dir, ns).exists(_ >= batchId)) return
    }
    // stage WITHOUT a pre-probe: evaluating `upserts.isEmpty` costs a
    // separate (corpus-filter-shaped) job, and an empty delta stages to
    // zero files anyway (every doc tokenizes to >= 1 posting row, so
    // files.isEmpty ⟺ upserts is empty); the empty-case meta rel is
    // dropped (an invisible orphan for vacuum, like any crashed staging)
    val staged0 = stageDelta(upserts, idCol, textCol, dir)
    val staged = if (staged0.files.isEmpty) StagedDelta(Nil) else staged0
    // the outgoing rows re-tokenize the OLD text with the build's exact
    // expression — bit-identical (tok, tf, dl) to what was indexed.
    // Positions are never part of the corrections, so skip their build
    // regardless of the index's shape. BOTH outgoing frames persist for
    // the batch: `removals` may be an expensive lookup (the bench shape
    // is a corpus semi-join) and was previously re-evaluated four times
    // per batch — now the tokenize pass runs once (materialized by the
    // stats collect, which doubles as the has-removals probe) and the
    // tombstone ids once, shared across CAS attempts (the corrections
    // are a pure function of the batch, not of the base manifest).
    val removed = postingsOf(termFreqs(removals, idCol, textCol, withPositions = false),
        idCol, 1).drop("bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tombstone ids derive from the PERSISTED removed rows, not from
    // `removals` — the latter re-evaluates the caller's (corpus-shaped)
    // lookup per use. Identical sets under the loud contract: every doc
    // tokenizes to >= 1 posting row (split yields [""] for empty text),
    // so each removal id appears in `removed`.
    val tombstoneIds = removed.select(col("doc_id").cast("long").as("doc_id")).distinct()
    // the staged postings persist for the batch too: ONE scan feeds the
    // stats collect (materializing the cache) AND the vocab correction's
    // plus side — the correction previously re-listed and re-read the
    // staged files as its own job
    val stagedRows =
      if (staged.files.isEmpty) None
      else Some(readPostings(spark, dir, staged.files, withPositions = false)
        // only the columns stats (doc_id, dl) and vocab (tok) touch —
        // a positional index's staged positions never enter the cache
        .select(col("doc_id"), col("tok"), col("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val removedStats = collectDocStats(removed)
      val hasRemovals = removedStats._1 > 0L
      val stagedStats = stagedRows.map(collectDocStats).getOrElse((0L, 0L))
      IndexManifests.commit[Manifest](spark, dir, "index CDC batch", maxAttempts, stamp) { base =>
        Some(removal(spark, dir, base, removed, removedStats, tombstoneIds,
          staged.files, stagedStats, stamp, appendTombstone = hasRemovals,
          stagedMeta = staged.meta, stagedRows = stagedRows))
      }
    } finally {
      removed.unpersist(blocking = false)
      stagedRows.foreach(_.unpersist(blocking = false))
    }
  }

  // ---- maintenance ---------------------------------------------------

  /** Fold each bucket's accumulated per-delta files into one file —
    * bounded at `buckets` jobs over only the multi-file buckets' rows
    * (churn since the last compaction, never the corpus when deltas are
    * small; after N deltas without compaction, reads the affected
    * buckets once). When tombstones exist, EVERY bucket is a victim:
    * compaction is the physical-delete pass (a deleted doc's tokens
    * hash across all buckets), rows anti-join the tombstone set during
    * the fold, and the new manifest clears `deletes` — the same
    * rewrite-on-maintenance contract as the catalog's MOR delete
    * folding. The shared body is [[IndexManifests.compact]]; this
    * supplies the bucket rewrite. Returns the number of storage units
    * folded (postings files plus meta sidecar dirs); 0 means nothing
    * was committed.
    */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = TargetFileBytes): Int =
    compactWithHook(spark, dir, () => (), targetFileBytes = targetFileBytes)

  /** [[compact]] with a pre-commit seam (the race spec commits a
    * concurrent delta there).
    */
  private[graft] def compactWithHook(spark: SparkSession, dir: String,
      onBeforeCommit: () => Unit, maxAttempts: Int = 5,
      targetFileBytes: Long = TargetFileBytes): Int =
    IndexManifests.compact[Manifest, Map[String, (String, String)]](spark, dir,
        "index compaction", targetFileBytes, maxAttempts, onBeforeCommit,
        liveRows(spark, dir, _, _)) { (base, victims) =>
      val compacted = victims.map { case (bucket, files, width) =>
        val rel = IndexManifests.freshRel("postings")
        // RANGE-split by token (tok-sorted within files): each rewritten
        // file covers a contiguous token range, recorded in the manifest
        // so queries skip files whose range cannot contain their terms,
        // and parquet row-group tok stats serve the pushed term filter
        // inside the files that remain. Range sampling re-reads the
        // just-written parquet (cheap at maintenance cadence), never
        // recomputes an aggregation — which is why build/deltas stage
        // hash-split and leave the ranged layout to compaction.
        liveRows(spark, dir, base, files)
          .repartitionByRange(width, col("tok"), col("doc_id"))
          .sortWithinPartitions("tok", "doc_id")
          .write.mode("errorifexists")
          // 8 MB row groups (vs the 128 MB default): with tok-sorted
          // rows, row-group min/max stats are the intra-file skip unit
          // for the pushed term filter — a 64 MB file at default block
          // size is ONE row group, i.e. unskippable
          .option("parquet.block.size", (8L << 20).toString)
          .parquet(s"$dir/$rel/bucket=$bucket")
        bucket -> IndexManifests.listStaged(spark, dir, rel, "bucket")
      }.toMap
      // ONE footer-cheap pass over ALL rewritten files records each
      // file's (min, max) token — Spark string aggregates compare in
      // UTF-8 binary order, the same order the serve-side skip uses.
      // (One job, not one per bucket: per-bucket jobs serialize B
      // scheduling round-trips on the driver for no reason. Explicit
      // LEAF paths, not the staging dirs: multi-root partition
      // discovery trips CONFLICTING_DIRECTORY_STRUCTURES.)
      val rewrittenFiles = compacted.valuesIterator.flatMap(_.map(_._2)).toSeq
      val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath.stripSuffix("/")
      val ranges =
        if (rewrittenFiles.isEmpty) Map.empty[String, (String, String)]
        else spark.read.schema(PostingsSchema)
          .parquet(rewrittenFiles.map(p => s"$dir/$p"): _*)
          .select(input_file_name().as("__f"), col("tok"))
          .groupBy("__f").agg(min(col("tok")).as("lo"), max(col("tok")).as("hi"))
          .collect().map { r =>
            new java.net.URI(r.getString(0)).getPath.stripPrefix(root + "/") ->
              (r.getString(1), r.getString(2))
          }.toMap
      (compacted, ranges)
    } { (base, ranges, postings, metaDirs) =>
      val survivors = postings.map(_._2).toSet
      // champions clear ON PURPOSE: compaction rewrites/reorders the
      // postings list, so championCover's index into it is meaningless
      // afterwards — rebuild via [[buildChampions]] once maintenance
      // folds (vacuum sweeps the orphaned sidecar files like any
      // superseded rel)
      base.copy(version = base.version + 1, postings = postings, metaDirs = metaDirs,
        deletes = Nil,
        tokRanges = base.tokRanges.filter { case (p, _) => survivors(p) } ++ ranges,
        champions = Nil, championCover = 0, championC = 0, championEpoch = "")
    }

  /** Build the IMPACT-ORDERED champion sidecar for the opt-in
    * APPROXIMATE BM25 mode ([[bm25TopKTextApprox]]): per term, the
    * top-`c` live postings by fixed-point saturation (desc, doc_id asc
    * — within one term the idf factor is constant, so saturation order
    * IS impact order; the integer arithmetic is the serve's own, so
    * the selection is deterministic and oracle-replicable in ANSI
    * SQL). One tok-keyed window over the live postings — Spark plans
    * the rank<=c filter as a WindowGroupLimit, so each map task
    * pre-truncates to c rows per term before the exchange and the
    * shuffle carries O(vocab·c), not the corpus. The sidecar lays out
    * like postings (bucket= dirs, tok-sorted rows, 8 MB row groups) so
    * serves bucket-prune and push the term filter.
    *
    * Committed like every mutation: one OCC manifest claim; a lost
    * race RESTAGES against the fresh head (its postings may include
    * rows this selection never saw). Champions survive deltas/CDC —
    * files past `championCover` serve unchampioned — and CLEAR at
    * [[compact]] (which rewrites the postings list the cover indexes);
    * rebuild on the same maintenance cadence.
    */
  def buildChampions(spark: SparkSession, dir: String, c: Int,
      maxAttempts: Int = 5): Unit = {
    require(c >= 1, s"buildChampions needs c >= 1, got $c")
    IndexManifests.commit[Manifest](spark, dir, "champion build", maxAttempts) { base =>
      val (nDocs, sumdl) = IndexManifests.cachedStats(spark, dir, base.statsDir)
      val avgdlFp = if (nDocs == 0) 1L else 100L * sumdl / nDocs
      val rel = IndexManifests.freshRel("champions")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tok")).orderBy(col("__sat_fp").desc, col("doc_id").asc)
      liveRows(spark, dir, base, base.postings)
        .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
        .withColumn("__sat_fp",
          expr(s"22L * tf * ${avgdlFp}L * 10000L div " +
            s"(10L * tf * ${avgdlFp}L + 3L * ${avgdlFp}L + 900L * dl)"))
        .withColumn("__rank", row_number().over(w))
        .filter(col("__rank") <= c)
        .select(col("doc_id"), col("tok"), col("tf"), col("dl"),
          bucketOf(col("tok"), base.buckets).as("bucket"))
        .repartition(col("bucket"))
        .sortWithinPartitions("tok", "doc_id")
        .write.partitionBy("bucket").mode("errorifexists")
        .option("parquet.block.size", (8L << 20).toString)
        .parquet(s"$dir/$rel")
      val files = IndexManifests.listStaged(spark, dir, rel, "bucket")
      Some(base.copy(version = base.version + 1, champions = files,
        championCover = base.postings.size, championC = c,
        championEpoch = java.util.UUID.randomUUID().toString))
    }
    ()
  }

  /** Commit an EXTERNALLY-staged champion sidecar (the federation's
    * global selection, [[ShardedIndex.buildChampionsSharded]]) against
    * the manifest version the selection ran over: a base that advanced
    * since makes the selection stale — refuse (false) and let the
    * caller re-select, exactly [[buildChampions]]'s lost-race posture.
    */
  private[graft] def commitChampions(spark: SparkSession, dir: String,
      baseVersion: Long, files: Seq[(Int, String)], c: Int,
      epoch: String): Boolean = {
    val base = currentManifest(spark, dir)
    if (base.version != baseVersion) return false
    IndexManifests.claim(spark, dir, base.copy(version = base.version + 1,
      champions = files, championCover = base.postings.size, championC = c,
      championEpoch = epoch))
  }

  /** [[IndexManifests.rollback]]: postings, vocab/stats, tombstones
    * and stream stamps rewind together as a new head commit.
    */
  def rollback(spark: SparkSession, dir: String, toVersion: Long,
      maxAttempts: Int = 5): Long =
    IndexManifests.rollback(spark, dir, toVersion, maxAttempts)

  /** [[IndexManifests.exportIndex]]: token ranges stay valid (keyed by
    * the copied rel paths) and champion sidecars travel with the head.
    */
  def exportIndex(spark: SparkSession, srcDir: String, destDir: String): Long =
    IndexManifests.exportIndex(spark, srcDir, destDir)

  /** [[IndexManifests.vacuum]]: postings sweep file by file; vocab,
    * stats, tombstone, meta and champion dirs dir by dir.
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
      graceMs: Long = 60L * 60 * 1000): Int =
    IndexManifests.vacuum(spark, dir, keepVersions, graceMs)

  // ---- query ---------------------------------------------------------

  /** Most query terms the FILE-level range skip handles: past this,
    * driver-side range math stops paying for itself and the query
    * falls back to bucket pruning + the broadcast term join.
    */
  val MaxTermPrune = 512

  /** Most DISTINCT (probe, term) pairs the id-probe serve collects to
    * localize the probe relation (see [[serveBm25]]'s distributed tier)
    * — looser than [[MaxTermPrune]] because pairs multiply terms by the
    * probes sharing them; past this the serve falls back to the fully
    * distributed probe analysis.
    */
  val PairCollectBound = 4096

  /** Most query terms the pushed-down row filter handles. Separate —
    * and much lower — than [[MaxTermPrune]]: file-level skipping is
    * free at any term count (driver-side manifest math), but the
    * In-filter costs per ROW on every surviving scan row, and its
    * payoff (parquet row-group skipping over tok-sorted files) only
    * exists for FEW-term queries — hundreds of terms hit nearly every
    * row group of a sorted file anyway, so a probe-document's ~300
    * terms paid ~1.5× serve for zero skip (measured at the 100× rung).
    */
  val MaxPushdownTerms = 32

  /** UTF-8 binary string order — the comparator Spark's string min/max
    * aggregates use, so the driver-side range test matches the order
    * the manifest ranges were computed in (Java String compareTo
    * differs for supplementary characters).
    */
  private def utf8Leq(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** Files a query over `terms` must read: the probe buckets' files,
    * minus every token-RANGED file ([[compact]]'s layout) whose
    * (min, max) cannot contain any query term — exact block skipping
    * at file granularity (such a file provably holds none of the
    * query's postings). Unranged files (delta-staged since the last
    * compact) are always read; `terms = None` prunes by bucket only.
    */
  private def selectFiles(m: Manifest, buckets: Set[Int],
      terms: Option[Seq[String]]): Seq[(Int, String)] = {
    val inBucket = m.postings.filter(e => buckets(e._1))
    terms match {
      case None => inBucket
      case Some(ts) => inBucket.filter { case (_, p) =>
        m.tokRanges.get(p) match {
          case None => true
          case Some((lo, hi)) => ts.exists(t => utf8Leq(lo, t) && utf8Leq(t, hi))
        }
      }
    }
  }

  /** Live candidate posting rows for a bounded term list — the
    * federation's per-shard scan unit ([[ShardedIndex]]): bucket
    * pruning, token-range file skipping, the pushed term filter, and
    * tombstone coverage all apply exactly as in [[serveBm25]]; only
    * the scoring (which needs federation-GLOBAL statistics) stays with
    * the caller.
    */
  private[graft] def candidateRows(spark: SparkSession, dir: String,
      m: Manifest, terms: Seq[String]): DataFrame = {
    val termList = Some(terms.distinct)
    val probeBuckets = terms.map(DriverEval.bucketOf(_, m.buckets)).toSet
    pushTerms(liveRows(spark, dir, m, selectFiles(m, probeBuckets, termList)), termList)
      .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
  }

  /** Fused multi-shard candidate scan — the federation's steady-serving
    * fast path: when NO shard carries tombstones, the per-shard
    * bucket-pruned + token-range-skipped file lists concatenate into
    * ONE parquet scan with the pushed term filter, so the serve plan
    * carries width 1 instead of S (per-query dispatch of an S-wide
    * union was the measured 32-client federated serving ceiling,
    * BENCH_SF1 addendum r14-2). The rows read are EXACTLY the union of
    * the per-shard [[candidateRows]] — same files, same pushed filter —
    * so scores and ranks are unchanged. None when any shard has
    * deletes: tombstone coverage is per-shard file-indexed, and the
    * union path applies it per shard.
    */
  private[graft] def candidateRowsFused(spark: SparkSession,
      shards: Seq[(String, Manifest)], terms: Seq[String]): Option[DataFrame] = {
    if (shards.exists(_._2.deletes.nonEmpty)) return None
    val termList = terms.distinct
    val paths = shards.flatMap { case (d, m) =>
      selectFiles(m, termList.map(DriverEval.bucketOf(_, m.buckets)).toSet,
          Some(termList))
        .map { case (_, p) => s"$d/$p" }
    }
    val base =
      if (paths.isEmpty) readPostings(spark, "", Nil, withPositions = false)
      else spark.read.schema(PostingsSchema).parquet(paths: _*)
    Some(pushTerms(base, Some(termList))
      .select(col("doc_id"), col("tok"), col("tf"), col("dl")))
  }

  /** The approximate serve's fused twin of [[candidateRowsFused]]:
    * when NO shard carries tombstones, the federation's champion files
    * concatenate into one scan and its post-champion staged files into
    * a second — width 2 instead of 2S, rows identical to the per-shard
    * [[approxCandidateRows]] union (no tombstones means no champion
    * anti-join and liveRows degenerates to the plain read). None when
    * any shard has deletes.
    */
  private[graft] def approxCandidateRowsFused(spark: SparkSession,
      shards: Seq[(String, Manifest)], terms: Seq[String]): Option[DataFrame] = {
    if (shards.exists(_._2.deletes.nonEmpty)) return None
    val termList = Some(terms.distinct)
    def bucketsOf(m: Manifest) =
      terms.map(DriverEval.bucketOf(_, m.buckets)).toSet
    val champPaths = shards.flatMap { case (d, m) =>
      val pb = bucketsOf(m)
      m.champions.filter(e => pb(e._1)).map(e => s"$d/${e._2}")
    }
    val stagedPaths = shards.flatMap { case (d, m) =>
      val pb = bucketsOf(m)
      m.postings.zipWithIndex.collect {
        case ((b, p), i) if i >= m.championCover && pb(b) => s"$d/$p"
      }
    }
    def scan(paths: Seq[String]) =
      if (paths.isEmpty) readPostings(spark, "", Nil, withPositions = false)
      else pushTerms(spark.read.schema(PostingsSchema).parquet(paths: _*), termList)
        .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
    Some(scan(champPaths).unionByName(scan(stagedPaths)))
  }

  /** Positional twin of [[candidateRowsFused]]: one scan over the
    * federation's pruned POSITIONAL file lists, for the fused
    * phrase/proximity/span-near serves. None when any shard carries
    * tombstones or was built without positions (the per-shard path
    * then applies coverage — or refuses — per shard).
    */
  private[graft] def candidateRowsFusedPositional(spark: SparkSession,
      shards: Seq[(String, Manifest)], terms: Seq[String]): Option[DataFrame] = {
    if (shards.exists(sh => sh._2.deletes.nonEmpty || !sh._2.positions)) return None
    val termList = terms.distinct
    val paths = shards.flatMap { case (d, m) =>
      selectFiles(m, termList.map(DriverEval.bucketOf(_, m.buckets)).toSet,
          Some(termList))
        .map { case (_, p) => s"$d/$p" }
    }
    val base =
      if (paths.isEmpty) readPostings(spark, "", Nil, withPositions = true)
      else spark.read.schema(PostingsSchemaPositional).parquet(paths: _*)
    Some(pushTerms(base, Some(termList))
      .select(col("doc_id"), col("tok"), col("positions")))
  }

  /** Bounded driver-side term list for skip/pushdown, or None when the
    * query's vocabulary exceeds [[MaxTermPrune]].
    */
  private def boundedTerms(ts: Seq[String]): Option[Seq[String]] = {
    val d = ts.distinct
    if (d.size <= MaxTermPrune) Some(d) else None
  }

  /** Push the term filter INTO the postings scan when the term set is
    * bounded: semantically redundant with the broadcast term join, but
    * parquet row-group tok stats (compact sorts rows by token) turn it
    * into intra-file block skipping the join alone can never get.
    */
  private def pushTerms(postings: DataFrame, terms: Option[Seq[String]]): DataFrame =
    terms match {
      case Some(ts) if ts.size <= MaxPushdownTerms =>
        postings.filter(col("tok").isin(ts: _*))
      case _ => postings
    }

  /** Manifest of a POSITIONAL index, or a loud refusal: the manifest
    * knows whether positions were built (`positions` flag pinned at
    * build), so a phrase/proximity/span query against a BM25-only
    * index fails HERE — it must never plan a scan that silently finds
    * no positions column and returns empty.
    */
  private def requirePositional(spark: SparkSession, dir: String, op: String): Manifest = {
    val m = currentManifest(spark, dir)
    require(m.positions,
      s"$op needs a positional index, but $dir was built with withPositions=false " +
        "(BM25-only postings); rebuild with positions to serve phrase/proximity queries")
    m
  }

  /** BM25 top-`k` per probe answered FROM the index. Probe terms come
    * from the probe documents themselves (the "query is a document"
    * contract shared with [[TextAnalysis.bm25TopK]]); the postings scan
    * is planned over ONLY the probe terms' buckets' files — pruned from
    * the manifest's metadata before any I/O, using the bucket count the
    * index was built with. Ranking is hash-identical to the
    * from-scratch bm25TopK.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String, dir: String,
      probeIds: Seq[Long], k: Int = 5, maxDfPercent: Option[Int] = None,
      where: Option[Column] = None): DataFrame = {
    val spark = docs.sparkSession
    // probe terms need no positions regardless of the index's shape.
    // termFreqs groups by (doc, tok), so the pairs are ALREADY distinct:
    // one bounded collect localizes the probe relation and routes the
    // serve through the zero-job knownTerms tier (bucket routing +
    // df-cap resolve driver-side; the probe frame never re-evaluates
    // under the serve plan's broadcasts). Oversized probe sets keep the
    // distributed path.
    val qterms = termFreqs(docs.filter(col(idCol).isin(probeIds: _*)), idCol, textCol,
        withPositions = false)
      .select(col(idCol).as("probe_id"), col("__tok"))
    val head = qterms.limit(PairCollectBound + 1).collect()
    val serve =
      if (head.length <= PairCollectBound) {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(head.toIndexedSeq: _*), qterms.schema)
        serveBm25(spark, dir, local, k, excludeSelf = true, maxDfPercent, where,
          knownTerms = Some(head.map(_.getString(1)).toSeq))
      } else serveBm25(spark, dir, qterms, k, excludeSelf = true, maxDfPercent, where)
    serve.select(col("probe_id"), col("rank"), col("doc_id").as(idCol), col("score"))
  }

  /** BM25 top-`k` for RAW QUERY TEXT (the SQL/TVF surface's shape): the
    * query string is tokenized with the build's exact expression, its
    * distinct terms score against the index, and results carry the
    * query text as `q`. No self-exclusion — the query is not a corpus
    * document. Same fixed-point arithmetic as [[bm25TopK]].
    */
  def bm25TopKText(spark: SparkSession, dir: String, queries: Seq[String],
      k: Int = 5, maxDfPercent: Option[Int] = None,
      where: Option[Column] = None): DataFrame = {
    require(queries.nonEmpty, "bm25TopKText needs at least one query")
    import spark.implicits._
    // tokenized DRIVER-SIDE with the engine-identical DriverEval (the
    // expression route costs a Spark job per query — the interactive
    // concurrency ceiling); the pair list is the local qterms relation
    // AND the knownTerms that let serveBm25 skip probe-analysis jobs
    val pairs = queries.flatMap(q =>
      DriverEval.tokenize(q).distinct.map(t => (q, t))).distinct
    val qterms = pairs.toDF("probe_id", "__tok")
    serveBm25(spark, dir, qterms, k, excludeSelf = false, maxDfPercent, where,
        knownTerms = Some(pairs.map(_._2)))
      .select(col("probe_id").as("q"), col("rank"), col("doc_id"), col("score"))
  }

  /** APPROXIMATE BM25 for raw query text — the impact-ordered mode the
    * round-12 block-max adjudication scoped as the honest step past
    * the df-cap valve. Candidates are restricted to each query term's
    * CHAMPION postings (top-`championC` by impact,
    * [[buildChampions]]), plus everything staged since the champion
    * build (files past `championCover` — churn-sized between
    * compactions, same argument as tombstones), then scored with the
    * EXACT fixed-point arithmetic of [[bm25TopKText]]. Reads are
    * bounded by q·c champion rows + churn instead of the query terms'
    * full document frequencies — a stopword term costs c rows, not a
    * corpus scan. The approximation is the candidate restriction, on
    * both axes of the classic impact-ordered trade: a doc outside
    * every query term's champion list cannot be returned, and a
    * returned doc's score sums only the terms whose champion list it
    * made (the non-champion contributions are the truncated impact
    * tail). Unlike `maxDfPercent` — which DROPS a stopword term
    * entirely — the term still differentiates its own top-c documents.
    * A recall knob like IVF's nProbe, but DETERMINISTIC and
    * oracle-replicable: selection and scoring are integer arithmetic
    * both engines compute identically. `c >= max df` degenerates to
    * the exact serve; recall + degeneracy + the maintenance story are
    * spec-pinned.
    */
  def bm25TopKTextApprox(spark: SparkSession, dir: String, queries: Seq[String],
      k: Int = 5, where: Option[Column] = None): DataFrame = {
    require(queries.nonEmpty, "bm25TopKTextApprox needs at least one query")
    val m = currentManifest(spark, dir)
    require(m.championC > 0,
      s"no champion sidecar at $dir — approximate serving is opt-in: call " +
        "buildChampions(dir, c) first (compaction clears the sidecar; rebuild after)")
    import spark.implicits._
    val pairs = queries.flatMap(q =>
      DriverEval.tokenize(q).distinct.map(t => (q, t))).distinct
    val terms = pairs.map(_._2).distinct
    require(terms.size <= MaxTermPrune,
      s"bm25TopKTextApprox queries exceed $MaxTermPrune distinct terms — " +
        "batch fewer queries (the approximate mode is the serving-text shape)")
    val qterms = pairs.toDF("probe_id", "__tok")
    scoreAndRank(spark, dir, m, approxCandidateRows(spark, dir, m, terms), qterms,
        Some(terms), k, excludeSelf = false, where)
      .select(col("probe_id").as("q"), col("rank"), col("doc_id"), col("score"))
  }

  /** The approximate mode's candidate restriction — champion rows plus
    * everything staged since the champion build — as bare (doc_id, tok,
    * tf, dl) rows: [[bm25TopKTextApprox]] scores them flat, the
    * federation ([[ShardedIndex.bm25TopKTextApproxSharded]]) unions S
    * shards' restrictions under global statistics.
    */
  private[graft] def approxCandidateRows(spark: SparkSession, dir: String,
      m: Manifest, terms: Seq[String]): DataFrame = {
    val probeBuckets = terms.map(DriverEval.bucketOf(_, m.buckets)).toSet
    val termList = Some(terms)
    def emptyRows = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT"))
    // champion candidates: bucket-pruned sidecar files, the term
    // filter pushed into the scan (tok-sorted rows, 8 MB row groups —
    // the same intra-file skip unit as compacted postings)
    val champFiles = m.champions.filter(e => probeBuckets(e._1)).map(_._2)
    val championRows = if (champFiles.isEmpty) emptyRows else {
      val rows = pushTerms(
          spark.read.schema(PostingsSchema)
            .parquet(champFiles.map(p => s"$dir/$p"): _*), termList)
        .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
      // tombstones committed AFTER the champion build (cover >=
      // championCover) mask their docs' champion rows; earlier ones
      // were already applied when the selection ran — and a doc
      // re-inserted after an EARLY tombstone must keep its champions
      val postTombs = m.deletes.filter(_._2 >= m.championCover)
      if (postTombs.isEmpty) rows
      else rows.join(IndexManifests.tombstoneIds(spark, dir, "doc_id", postTombs),
        Seq("doc_id"), "left_anti")
    }
    // postings staged since the champion build serve UNCHAMPIONED —
    // fresh docs are findable immediately; tombstone covers apply
    // file-level through liveRows exactly like the exact serve
    val uncovered = m.postings.zipWithIndex.collect {
      case ((b, p), i) if i >= m.championCover && probeBuckets(b) => (b, p)
    }
    val deltaRows = if (uncovered.isEmpty) emptyRows
      else pushTerms(liveRows(spark, dir, m, uncovered), termList)
        .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
    championRows.unionByName(deltaRows)
  }

  /** More-like-this retrieval: each probe DOCUMENT's top-`m` terms by
    * idf (rarest first — the classic MLT query-building rule; Lucene's
    * MoreLikeThis is the public reference shape) become its query,
    * scored with the same fixed-point BM25 as [[bm25TopK]] and
    * self-excluded. Selection is DETERMINISTIC (idf_fp desc, token asc
    * — both engines replicate the integer idf exactly), and everything
    * before scoring is driver-resolved on bounded data: the probe
    * docs' term sets collect under the MaxTermPrune contract and the
    * vocab/stats reads are pushed to those terms, so term selection
    * costs two probe-sized index reads — never a corpus pass. The
    * scoring read is the selected terms' posting lists only (bucket-
    * pruned like every serve path), which is the point: "find documents
    * like this one" touches m posting lists, not the corpus.
    */
  def moreLikeThisTopK(docs: DataFrame, idCol: String, textCol: String,
      dir: String, probeIds: Seq[Long], m: Int = 5, k: Int = 5,
      where: Option[Column] = None): DataFrame = {
    val spark = docs.sparkSession
    require(m >= 1, s"moreLikeThisTopK needs m >= 1, got $m")
    val man = currentManifest(spark, dir)
    val probeRows = termFreqs(docs.filter(col(idCol).isin(probeIds: _*)),
        idCol, textCol, withPositions = false)
      .select(col(idCol).cast("long").as("probe_id"), col("__tok"))
      .limit(MaxTermPrune + 1).collect()
    require(probeRows.length <= MaxTermPrune,
      s"moreLikeThisTopK probe docs exceed $MaxTermPrune distinct (doc, term) " +
        "pairs — batch fewer/smaller probe documents")
    val selected = selectTopIdfTerms(spark, dir, man,
      probeRows.toSeq.map(r => (r.getLong(0), r.getString(1))), m)
    import spark.implicits._
    val qterms = selected.toDF("probe_id", "__tok")
    serveBm25(spark, dir, qterms, k, excludeSelf = true, None, where,
        knownTerms = Some(selected.map(_._2)))
      .select(col("probe_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** [[moreLikeThisTopK]] for RAW EXEMPLAR TEXT (the SQL/TVF surface's
    * shape): the text is tokenized with the build's expression, its
    * top-`m` idf terms become the query, no self-exclusion — the
    * exemplar is not a corpus document. Results carry the text as `q`.
    */
  def moreLikeThisTopKText(spark: SparkSession, dir: String, texts: Seq[String],
      m: Int = 5, k: Int = 5, where: Option[Column] = None): DataFrame = {
    require(texts.nonEmpty, "moreLikeThisTopKText needs at least one exemplar")
    require(m >= 1, s"moreLikeThisTopKText needs m >= 1, got $m")
    val man = currentManifest(spark, dir)
    import spark.implicits._
    // exemplar tokenization is driver-side (engine-identical
    // DriverEval) and selection resolves through the per-version
    // stats/term-df caches — the three sequential driver jobs the
    // round-13 QPS addendum measured as the interactive ceiling are
    // gone; only the serve itself dispatches work
    val probePairs = texts.flatMap(t =>
      DriverEval.tokenize(t).distinct.map(tok => (t, tok))).distinct
    require(probePairs.length <= MaxTermPrune,
      s"moreLikeThisTopKText exemplars exceed $MaxTermPrune distinct (text, term) " +
        "pairs — batch fewer/smaller exemplars")
    val selected = selectTopIdfTerms(spark, dir, man, probePairs, m)
    val qterms = selected.toDF("probe_id", "__tok")
    serveBm25(spark, dir, qterms, k, excludeSelf = false, None, where,
        knownTerms = Some(selected.map(_._2)))
      .select(col("probe_id").as("q"), col("rank"), col("doc_id"), col("score"))
  }

  /** Term-position highlights FROM the positional postings: for each
    * (requested doc, query term) pair, the exact 0-based token
    * positions of every occurrence — the snippet/highlight primitive a
    * serving layer renders around, answered WITHOUT touching the
    * corpus text. Reads only the query terms' buckets' files
    * (manifest-pruned like every serve path) with the term and doc
    * filters pushed into the scan, so the read is posting-sized and
    * the result (doc × term × tf)-bounded. Tombstone-aware; optional
    * sidecar predicate like the other serve shapes.
    */
  def termPositions(spark: SparkSession, dir: String, terms: Seq[String],
      docIds: Seq[Long], where: Option[Column] = None): DataFrame = {
    val m = requirePositional(spark, dir, "termPositions")
    require(terms.nonEmpty, "termPositions needs at least one term")
    require(docIds.nonEmpty && docIds.size <= MaxTermPrune,
      s"termPositions serves bounded doc sets (1..$MaxTermPrune ids) — " +
        "highlighting is per-result-page, not per-corpus")
    import spark.implicits._
    val distinctTerms = terms.distinct
    val probeBuckets = distinctTerms.map(DriverEval.bucketOf(_, m.buckets)).toSet
    val termList = boundedTerms(distinctTerms)
    val postings = pushTerms(
        liveRows(spark, dir, m, selectFiles(m, probeBuckets, termList)), termList)
      .filter(col("tok").isin(distinctTerms: _*) && col("doc_id").isin(docIds: _*))
    IndexManifests.metaFilter(spark, dir, m, postings, where)
      .select(col("doc_id"), col("tok"), explode(col("positions")).as("pos"))
  }

  /** Prefix suggestions (autocomplete) from the index VOCABULARY:
    * top-`k` completions per prefix ranked by document frequency
    * (df desc, token asc — deterministic). The read is the vocab
    * sidecar only — vocabulary-sized, never corpus- or posting-sized —
    * with the prefix disjunction pushed into the scan
    * (StringStartsWith reaches parquet row-group stats, so a
    * tok-sorted vocab skips to the prefixes' groups); the df ranking
    * is authoritative under maintenance because delta/delete/CDC all
    * commit exact df corrections to the vocab version.
    */
  def suggestTopK(spark: SparkSession, dir: String, prefixes: Seq[String],
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(prefixes.nonEmpty, "suggestTopK needs at least one prefix")
    require(prefixes.forall(_.nonEmpty), "suggestTopK prefixes must be non-empty")
    val m = currentManifest(spark, dir)
    import spark.implicits._
    val p = prefixes.toDF("prefix")
    val pred = prefixes.map(px => col("tok").startsWith(px)).reduce(_ || _)
    val matched = spark.read.schema(VocabSchema).parquet(s"$dir/${m.vocabDir}")
      .filter(pred)
      .join(broadcast(p), col("tok").startsWith(col("prefix")))
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("df").desc, col("tok").asc)
    matched.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("prefix"), col("rank"), col("tok"), col("df"))
  }

  /** MLT term selection, shared by the id and raw-text shapes: keep
    * each probe's top-`m` terms by exact integer idf (idf_fp desc,
    * token asc — deterministic, oracle-replicable). Driver-side over
    * the bounded collected pairs; the vocab/stats reads are pushed to
    * the probe terms (probe-sized, like the df-cap path). Terms absent
    * from the vocab (index doesn't cover the probe corpus, or fully
    * deleted) have no postings to score and drop out of selection.
    */
  private def selectTopIdfTerms[K](spark: SparkSession, dir: String, man: Manifest,
      pairs: Seq[(K, String)], m: Int): Seq[(K, String)] = {
    val toks = pairs.map(_._2).distinct
    // both reads resolve through the per-version caches: stats is a
    // driver scalar, and only UNSEEN terms hit the vocab (a pushed
    // probe-sized scan) — concurrent MLT clients repeating terms pay
    // zero jobs here, the measured interactive-mix ceiling (BENCH_SF1
    // round-13 addendum 4)
    val (n, _) = IndexManifests.cachedStats(spark, dir, man.statsDir)
    val dfMap = IndexManifests.cachedTermDfs(spark, dir, man.vocabDir, toks)
    def idfFp(df: Long): Long = ((2L * n - 2L * df + 1L) * 1000L) / (2L * df + 1L)
    pairs
      .filter { case (_, t) => dfMap.contains(t) }
      .groupBy(_._1).toSeq
      .flatMap { case (pid, ts) =>
        ts.map(_._2).distinct
          .sortBy(t => (-idfFp(dfMap(t)), t))
          .take(m).map(t => (pid, t))
      }
  }

  /** Shared serve core: score `qterms` (probe_id of ANY type, __tok)
    * against the index. The postings scan is planned over ONLY the
    * probe terms' buckets' files — pruned from the manifest's metadata
    * before any I/O, using the bucket count the index was built with.
    */
  private def serveBm25(spark: SparkSession, dir: String, qterms0: DataFrame,
      k: Int, excludeSelf: Boolean, maxDfPercent: Option[Int] = None,
      where: Option[Column] = None, knownTerms: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = currentManifest(spark, dir)
    // df cap (stopword pruning, the WAND-lite scale valve): a probe
    // term at stopword frequency has a posting list proportional to the
    // CORPUS, not the query — at 100 TB one such term turns a
    // posting-list-sized read into a corpus scan. With `maxDfPercent`,
    // terms with df·100 > n·pct are dropped from the query BEFORE
    // bucket pruning (their buckets are never read) — an exact integer
    // threshold both engines can replicate, applied identically in the
    // oracle. High-df terms carry near-zero idf anyway, so the ranking
    // loss is the BM25-idf tail, traded explicitly for bounded reads.
    //
    // Probe analysis is TIERED by what the caller knows:
    //  - `knownTerms` (the serving-text shapes — raw query/exemplar
    //    text tokenized driver-side via DriverEval): bucket routing is
    //    driver math on the engine hash and the df-cap resolves through
    //    the per-version term-df cache — ZERO Spark jobs before the
    //    serve itself. This is the interactive path; driver job
    //    dispatch was its measured concurrency ceiling (BENCH_SF1
    //    round-13 addendum 4).
    //  - distributed probes (id-based, terms live in the corpus): ONE
    //    bounded collect (limit MaxTermPrune+1) serves df-cap, bucket
    //    pruning, and file-range skipping.
    //  - past MaxTermPrune: constant-bounded buckets-only distinct
    //    (≤ m.buckets values) — extra jobs only on wide-vocabulary
    //    batch probes, never on the serving-text path.
    val (qterms, probeBuckets, termList) = knownTerms.map(_.distinct) match {
      case Some(ts) if ts.size <= MaxTermPrune =>
        val kept = maxDfPercent match {
          case None => ts
          case Some(pct) =>
            require(pct >= 1 && pct <= 100, s"maxDfPercent must be in [1, 100], got $pct")
            val (n, _) = IndexManifests.cachedStats(spark, dir, m.statsDir)
            val dfs = IndexManifests.cachedTermDfs(spark, dir, m.vocabDir, ts)
            // absent-from-vocab terms drop too (no postings to score,
            // and their buckets' files should never be listed) —
            // matching the pushed-vocab-scan shape below
            ts.filter(t => dfs.get(t).exists(df => df * 100 <= n * pct))
        }
        val q = if (kept.size == ts.size) qterms0
          else qterms0.filter(col("__tok").isin(kept: _*))
        (q, kept.map(DriverEval.bucketOf(_, m.buckets)).toSet, Some(kept))
      case _ =>
        // distributed probes (id-based, terms live in the corpus): ONE
        // bounded collect of the DISTINCT (probe_id, term) pairs serves
        // df-cap, bucket pruning, file-range skipping — and LOCALIZES
        // the probe relation itself. qterms is referenced repeatedly
        // downstream (the score join's broadcast side, the idf
        // semi-join's broadcast side), and as a corpus-derived frame
        // every reference re-ran the probe scan + tokenize as its own
        // Spark job; rebuilt as a LocalRelation from the collected
        // pairs, those broadcasts are driver-local rows and the serve
        // plan's only distributed input is the pruned postings scan.
        val pairs0 = qterms0.select(col("probe_id"), col("__tok")).distinct()
        val pairRows = pairs0.limit(PairCollectBound + 1).collect()
        val pairsBounded = pairRows.length <= PairCollectBound
        if (pairsBounded) {
          val localQ = spark.createDataFrame(
            java.util.Arrays.asList(pairRows.toIndexedSeq: _*), pairs0.schema)
          val ts = pairRows.map(_.getString(1)).distinct.toSeq
          // term pruning keeps its own (tighter) bound: file-range math
          // and the pushed row filter want few terms; past MaxTermPrune
          // the serve still bucket-prunes (buckets derive from the
          // collected terms driver-side — never a separate job)
          val kept = maxDfPercent match {
            case None => ts
            case Some(pct) =>
              require(pct >= 1 && pct <= 100, s"maxDfPercent must be in [1, 100], got $pct")
              val (n, _) = IndexManifests.cachedStats(spark, dir, m.statsDir)
              val dfs = IndexManifests.cachedTermDfs(spark, dir, m.vocabDir, ts)
              ts.filter(t => dfs.get(t).exists(df => df * 100 <= n * pct))
          }
          val q = if (kept.size == ts.size) localQ
            else localQ.filter(col("__tok").isin(kept: _*))
          (q, kept.map(DriverEval.bucketOf(_, m.buckets)).toSet,
            if (kept.size <= MaxTermPrune) Some(kept) else None)
        } else {
        val probed0 = qterms0
          .select(col("__tok"), bucketOf(col("__tok"), m.buckets).as("bucket"))
          .distinct()
        val head0 = probed0.limit(MaxTermPrune + 1).collect()
        val bounded = head0.length <= MaxTermPrune
        // the bounded term list always rides along: tokRanges (when
        // present) turn it into file-range skipping, and the pushed row
        // filter + probe-sized vocab/idf scan want it either way
        def fromRows(rows: Array[org.apache.spark.sql.Row]) =
          (rows.map(_.getInt(1)).toSet, Some(rows.map(_.getString(0)).toSeq))
        maxDfPercent match {
          case None =>
            if (bounded) { val (b, t) = fromRows(head0); (qterms0, b, t) }
            else (qterms0,
              probed0.select("bucket").distinct().collect().map(_.getInt(0)).toSet,
              None)
          case Some(pct) =>
            require(pct >= 1 && pct <= 100, s"maxDfPercent must be in [1, 100], got $pct")
            val (n, _) = IndexManifests.cachedStats(spark, dir, m.statsDir)
            if (bounded) {
              // resolve the cap DRIVER-SIDE through the term-df cache
              // (a miss is a vocab scan pushed down to the unseen
              // terms — probe-sized, never the vocabulary). The
              // semi-join alternative wants the CORPUS vocabulary as a
              // broadcast/shuffle side — fine at test scale, a
              // per-query vocab shuffle at 100 TB.
              val toks = head0.map(_.getString(0)).toSeq
              val dfs = IndexManifests.cachedTermDfs(spark, dir, m.vocabDir, toks)
              val kept = toks.filter(t =>
                dfs.get(t).exists(df => df * 100 <= n * pct)).toSet
              val keptRows = head0.filter(r => kept(r.getString(0)))
              val (b, t) = fromRows(keptRows)
              (qterms0.filter(col("__tok").isin(kept.toSeq: _*)), b, t)
            } else {
              // wide-vocabulary batch probes (> MaxTermPrune distinct
              // terms): distributed cap — vocab scanned once, restricted
              // to the probe terms by a semi whose plan AQE sizes at
              // runtime. An analytical shape, never the serving-text
              // path.
              val kept = spark.read.schema(VocabSchema).parquet(s"$dir/${m.vocabDir}")
                .filter(col("df") * 100 <= lit(n) * pct)
                .select(col("tok").as("__tok"))
                .join(qterms0.select("__tok").distinct(), Seq("__tok"), "left_semi")
              val q = qterms0.join(kept, Seq("__tok"), "left_semi")
              (q,
                q.select(bucketOf(col("__tok"), m.buckets).as("bucket"))
                  .distinct().collect().map(_.getInt(0)).toSet,
                None)
            }
        }
        }
    }
    // tombstoned rows are excluded here (coverage-aware); their
    // df/n/sumdl contributions were subtracted when each tombstone
    // committed, so the scores below equal a rebuild without them
    // (churn-sized between compactions — the next compact drops the
    // rows and clears the set)
    val postings = pushTerms(
      liveRows(spark, dir, m, selectFiles(m, probeBuckets, termList)), termList)
    scoreAndRank(spark, dir, m, postings, qterms, termList, k, excludeSelf, where)
  }

  /** BM25 scoring + ranking over candidate posting rows
    * (doc_id, tok, tf, dl) — the tail shared by the exact serve
    * ([[serveBm25]]) and the approximate champion serve
    * ([[bm25TopKTextApprox]]); the candidate RESTRICTION is the only
    * thing that differs between the modes, the arithmetic never does.
    *
    * The (n, sumdl) scalars are immutable per stats version (mutations
    * write a fresh stats dir) — cachedStats spares the one-row
    * aggregate job every serve used to launch, and the literals fold
    * straight into whole-stage codegen: the former stats scan +
    * broadcast cross joins disappear from the plan. Integer arithmetic
    * identical to the former SQL (`div` on non-negative longs ==
    * Scala /); an empty index pins avgdl to 1 only to keep the driver
    * division total — no postings exist, so the serve is empty either
    * way.
    */
  private def scoreAndRank(spark: SparkSession, dir: String, m: Manifest,
      postings: DataFrame, qterms: DataFrame, termList: Option[Seq[String]],
      k: Int, excludeSelf: Boolean, where: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (nDocs, sumdl) = IndexManifests.cachedStats(spark, dir, m.statsDir)
    val avgdlFp = if (nDocs == 0) 1L else 100L * sumdl / nDocs
    // the idf side only ever contributes probe terms (the join below
    // restricts it). Bounded term list: resolve the dfs through the
    // per-version term-df cache (a miss reads only the UNSEEN terms —
    // probe-sized, never the vocabulary) and fold the idf arithmetic
    // driver-side into a LocalRelation — the per-serve probe-pushed
    // vocab scan and its file-listing job disappear from the plan. Rows
    // identical to the pushed scan: kept ∩ vocab, and the driver `/` on
    // these non-negative longs equals the SQL `div` (2n−2df+1 ≥ 1).
    // Unbounded term sets keep the distributed vocab scan.
    val idf = termList match {
      case Some(ts) =>
        val dfs = IndexManifests.cachedTermDfs(spark, dir, m.vocabDir, ts)
        val rows = ts.distinct.flatMap(t => dfs.get(t).map(df =>
          org.apache.spark.sql.Row(
            t, (2L * nDocs - 2L * df + 1L) * 1000L / (2L * df + 1L))))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.types.StructType.fromDDL("tok STRING, __idf_fp BIGINT"))
      case None =>
        pushTerms(spark.read.schema(VocabSchema).parquet(s"$dir/${m.vocabDir}"),
            termList)
          .select(col("tok"),
            expr(s"(2L * ${nDocs}L - 2L * df + 1L) * 1000L div (2L * df + 1L)")
              .as("__idf_fp"))
    }
    val sat = postings
      .select(col("doc_id"), col("tok"),
        expr(s"22L * tf * ${avgdlFp}L * 10000L div " +
          s"(10L * tf * ${avgdlFp}L + 3L * ${avgdlFp}L + 900L * dl)").as("__sat_fp"))
    val joined = sat
      .join(broadcast(qterms.withColumnRenamed("__tok", "tok")), Seq("tok"))
    val scored0 = (if (excludeSelf) joined.filter(col("doc_id") =!= col("probe_id"))
      else joined)
      .join(broadcast(idf.join(qterms.select(col("__tok").as("tok")).distinct(), Seq("tok"))),
        Seq("tok"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(col("__idf_fp") * col("__sat_fp")).as("__score_fp"))
    // filtered retrieval (the `where` predicate over the meta sidecar):
    // resolve each doc's LATEST metadata (sidecar dirs are
    // manifest-append-ordered, so a CDC'd doc's new metadata wins),
    // apply the predicate, and semi-join the scored candidates BEFORE
    // ranking — top-k of the allowed subset, standard filtered-search
    // semantics (corpus-level idf/avgdl unchanged). The sidecar read is
    // doc-count-sized and column-pruned; scoring stays posting-sized;
    // [[compact]] folds the accumulated dirs to ONE, so the latest-wins
    // window here is a between-maintenance cost, never unbounded.
    val scored = IndexManifests.metaFilter(spark, dir, m, scored0, where)
    val rank = Window.partitionBy(col("probe_id"))
      .orderBy(col("__score_fp").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("doc_id"),
        (col("__score_fp").cast("double") / 1.0e7).as("score"))
  }

  /** Exact phrase search FROM the positional postings: top-`k` docs per
    * phrase ranked by occurrence count (overlapping occurrences
    * included). Pure index-side — no corpus access: a doc contains the
    * phrase `t_0 … t_{L-1}` at start position p iff every `t_i`'s
    * posting for the doc has position `p + i`, so the match set is the
    * intersection of each term's positions shifted left by its phrase
    * offset. The scan reads ONLY the phrase terms' buckets' files
    * (manifest-pruned, like [[bm25TopK]]); the phrase table broadcasts
    * (bounded by the caller's phrase list); duplicate terms in a
    * phrase are handled naturally (each offset intersects the same
    * posting shifted differently). Occurrence counting is exact and
    * overlapping ("a a a" contains "a a" twice), matching the naive
    * token-slice scan of the corpus.
    */
  /** Phrase match stage over bare (doc_id, tok, positions) rows —
    * (phrase, doc_id, n) per matching doc. Shared verbatim by the flat
    * serve and the federation's FUSED single-scan path (a doc lives
    * wholly in one shard, so matching over the fused rows equals the
    * per-shard union).
    */
  private[graft] def phraseMatches(postings: DataFrame,
      phrases: Seq[String]): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val probeRows = phrases.flatMap { p =>
      val terms = p.trim.split("\\s+").toSeq
      terms.zipWithIndex.map { case (t, i) => (p, t, i, terms.size) }
    }
    val probe = probeRows.toDF("phrase", "tok", "__term_idx", "__phrase_len")
    val hits = postings.join(broadcast(probe), Seq("tok"))
      .select(col("phrase"), col("__phrase_len"), col("doc_id"),
        transform(col("positions"), p => p - col("__term_idx")).as("__starts"))
    hits.groupBy(col("phrase"), col("doc_id"))
      .agg(first(col("__phrase_len")).as("__len"), count(lit(1)).as("__nterms"),
        collect_list(col("__starts")).as("__all"))
      // every phrase offset must have matched (one postings row per
      // (doc, tok), so rows == offsets iff all terms are present)
      .filter(col("__nterms") === col("__len"))
      .select(col("phrase"), col("doc_id"),
        // fold the WHOLE list with the first array as init — positions
        // are distinct, so intersecting the init with itself is a no-op
        size(aggregate(col("__all"), element_at(col("__all"), 1),
          (acc, x) => array_intersect(acc, x))).cast("long").as("n"))
      .filter(col("n") > 0)
  }

  /** Proximity match stage over bare positional rows — (q, doc_id, n);
    * shared by the flat serve and the fused federation path.
    */
  private[graft] def proximityMatches(postings: DataFrame,
      pairs: Seq[(String, String)], window: Int): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val probe = pairs.flatMap { case (a, b) =>
      Seq((s"$a $b", a, 0), (s"$a $b", b, 1))
    }.toDF("q", "tok", "__role")
    postings.join(broadcast(probe), Seq("tok"))
      .groupBy(col("q"), col("doc_id"))
      .agg(
        first(when(col("__role") === 0, col("positions")), ignoreNulls = true).as("__pa"),
        first(when(col("__role") === 1, col("positions")), ignoreNulls = true).as("__pb"))
      .filter(col("__pa").isNotNull && col("__pb").isNotNull)
      // linear two-pointer merge over the sorted position arrays (the
      // HOF filter/exists pair this replaces was O(|pa|·|pb|) per doc —
      // quadratic on a hot stopword pair; see plans/PositionExpressions)
      .select(col("q"), col("doc_id"),
        graft.plans.SpanNearCount.proximityAnchors(
          col("__pa"), col("__pb"), window).as("n"))
      .filter(col("n") > 0)
  }

  /** Span-near match stage over bare positional rows — (q, doc_id, n);
    * shared by the flat serve and the fused federation path.
    */
  private[graft] def spanNearMatches(postings: DataFrame,
      queries: Seq[Seq[String]], slop: Int, inOrder: Boolean): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val probe = queries.flatMap { terms =>
      val q = terms.mkString(" ")
      terms.zipWithIndex.map { case (t, i) => (q, t, i, terms.size) }
    }.toDF("q", "tok", "__term_idx", "__qlen")
    postings.join(broadcast(probe), Seq("tok"))
      .groupBy(col("q"), col("doc_id"))
      .agg(first(col("__qlen")).as("__len"), count(lit(1)).as("__nterms"),
        // per-term position arrays IN TERM ORDER: sort the collected
        // (term_idx, positions) structs by index, then project the
        // arrays — the kernel's input contract
        transform(
          sort_array(collect_list(struct(col("__term_idx"), col("positions")))),
          s => s.getField("positions")).as("__pos"))
      .filter(col("__nterms") === col("__len"))
      .select(col("q"), col("doc_id"),
        graft.plans.SpanNearCount.spanNear(col("__pos"), slop, inOrder).as("n"))
      .filter(col("n") > 0)
  }

  def phraseTopK(spark: SparkSession, dir: String, phrases: Seq[String],
      k: Int = 5, where: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phrases.nonEmpty, "phraseTopK needs at least one phrase")
    val m = requirePositional(spark, dir, "phraseTopK")
    val probeRows = phrases.flatMap { p =>
      val terms = p.trim.split("\\s+").toSeq
      terms.zipWithIndex.map { case (t, i) => (p, t, i, terms.size) }
    }
    import spark.implicits._
    // bucket routing is driver math through the SAME engine hash the
    // postings were laid out with (DriverEval calls XxHash64Function,
    // equality spec-pinned — a re-implemented hash would be a
    // silent-miss risk); the former one-row Spark job is gone
    val probeBuckets = probeRows.map(r => DriverEval.bucketOf(r._2, m.buckets)).toSet
    val terms = boundedTerms(probeRows.map(_._2))
    val postings = pushTerms(
        liveRows(spark, dir, m, selectFiles(m, probeBuckets, terms)), terms)
      .select(col("doc_id"), col("tok"), col("positions"))
    val matched = phraseMatches(postings, phrases)
    val allowed = IndexManifests.metaFilter(spark, dir, m, matched, where)
    val rank = Window.partitionBy(col("phrase"))
      .orderBy(col("n").desc, col("doc_id").asc)
    allowed.withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("phrase"), col("rank"), col("doc_id"), col("n"))
  }

  /** Ordered proximity search (span-near) FROM the positional postings:
    * top-`k` docs per (first, second) pair ranked by the number of
    * anchors — positions p of `first` with an occurrence of `second`
    * in (p, p + window]. Same serving shape as [[phraseTopK]] (only
    * the pair terms' buckets read, pair table broadcast); `first ==
    * second` means "the term repeats within the window".
    */
  def proximityTopK(spark: SparkSession, dir: String,
      pairs: Seq[(String, String)], window: Int, k: Int = 5,
      where: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pairs.nonEmpty, "proximityTopK needs at least one pair")
    require(window >= 1, s"window must be >= 1, got $window")
    val m = requirePositional(spark, dir, "proximityTopK")
    import spark.implicits._
    val probeBuckets = pairs.flatMap { case (a, b) => Seq(a, b) }
      .map(DriverEval.bucketOf(_, m.buckets)).toSet
    val terms = boundedTerms(pairs.flatMap { case (a, b) => Seq(a, b) })
    val postings = pushTerms(
        liveRows(spark, dir, m, selectFiles(m, probeBuckets, terms)), terms)
      .select(col("doc_id"), col("tok"), col("positions"))
    val matched = proximityMatches(postings, pairs, window)
    val allowed = IndexManifests.metaFilter(spark, dir, m, matched, where)
    val rank = Window.partitionBy(col("q")).orderBy(col("n").desc, col("doc_id").asc)
    allowed.withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("doc_id"), col("n"))
  }

  /** k-term span-near (Lucene SpanNearQuery semantics) FROM the
    * positional postings: top-`k` docs per query ranked by anchor
    * count — see [[graft.plans.SpanNearCount]] for the exact match
    * semantics per mode:
    *
    *  - `inOrder = true`: anchors = first-term positions starting a
    *    strictly-increasing chain through all terms with total stretch
    *    `pk - p1 - (k-1) <= slop` (slop 0 ≡ exact phrase). Duplicate
    *    terms are legal (the chain keeps their positions distinct).
    *  - `inOrder = false`: anchors = minimum positions of valid
    *    unordered assignments — every term within `[m, m+slop+(k-1)]`.
    *    Terms must be DISTINCT (enforced loudly here): with duplicate
    *    terms, assignment distinctness needs Hall-style matching that
    *    neither this kernel nor a SQL oracle can check linearly.
    *
    * Serving shape matches [[phraseTopK]]: only the query terms'
    * buckets are read (manifest-pruned), the query table broadcasts,
    * the per-doc count is one linear codegen'd kernel over the sorted
    * position arrays. A doc must contain EVERY term (enforced by the
    * matched-terms count) — span-near is conjunctive.
    */
  def spanNearTopK(spark: SparkSession, dir: String, queries: Seq[Seq[String]],
      slop: Int, inOrder: Boolean, k: Int = 5,
      where: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty, "spanNearTopK needs at least one query")
    require(queries.forall(_.nonEmpty), "span-near queries need at least one term")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    if (!inOrder) queries.foreach { terms =>
      require(terms.distinct.size == terms.size,
        s"unordered span-near requires distinct terms, got ${terms.mkString(" ")}")
    }
    val m = requirePositional(spark, dir, "spanNearTopK")
    import spark.implicits._
    val probeBuckets = queries.flatten
      .map(DriverEval.bucketOf(_, m.buckets)).toSet
    val terms = boundedTerms(queries.flatten)
    val postings = pushTerms(
        liveRows(spark, dir, m, selectFiles(m, probeBuckets, terms)), terms)
      .select(col("doc_id"), col("tok"), col("positions"))
    val matched = spanNearMatches(postings, queries, slop, inOrder)
    val allowed = IndexManifests.metaFilter(spark, dir, m, matched, where)
    val rank = Window.partitionBy(col("q")).orderBy(col("n").desc, col("doc_id").asc)
    allowed.withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("doc_id"), col("n"))
  }
}
