package graft.operators

import graft.functions.VectorFunctions._
import graft.plans.VectorQuantization
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._

/** Persisted IVF serving index — the dense-side twin of
  * [[InvertedIndex]] (`search_bm25_indexed`): [[Similarity.ivfTopK]]
  * re-trains the quantizer and re-assigns every candidate on every
  * query, which is the correct recall BASELINE but not a serving shape.
  * Here the corpus is assigned once to its coarse cell and persisted
  * one file-set per cell; a probe reads ONLY its nProbe cells' files —
  * pruned from the manifest's metadata before the scan is planned —
  * and the exact cosine runs on that slice alone. At 100 TB a query
  * touches ~nProbe/nCells of the index, never the corpus.
  *
  *  - '''build''': train the coarse quantizer on a bounded
  *    deterministic sample ([[Similarity.trainQuantizer]]'s
  *    contract), assign each vector to its nearest centroid (one
  *    scan, the codegen'd CentroidCells expression — no join), stage
  *    the vectors cell-partitioned, commit manifest v1 with the
  *    CENTROIDS INLINE (nCells × dim doubles, bit-exact as IEEE longs
  *    — they are the index metadata every later operation derives
  *    from).
  *  - '''addDelta''' (churn-sized): assign the delta against the
  *    PERSISTED centroids — a pure per-row function, so
  *    `lists(old) ∪ assign(delta)` is exactly `lists(old ∪ delta)`
  *    (the [[Similarity.ivfAssignDelta]] identity) — stage, commit.
  *    Historical cell files are never read.
  *  - '''topK''': probes map to their nProbe nearest cells (a
  *    ≤ nCells driver-side collect), the manifest's file list is
  *    pruned to those cells, and the exact cosine + per-probe window
  *    ranks the slice. Same output shape as `ann_ivf`.
  *  - '''compact''' / '''vacuum''' / '''rollback''' / '''export''': the
  *    lifecycle both indexes share, written once in [[IndexManifests]]
  *    (atomic exclusive-create claim; a crash before the claim leaves
  *    only invisible orphans; racing maintainers serialize and retry);
  *    this object supplies only the cell rewrite.
  *
  * Recall is the ann_ivf bound (≥ 0.8 vs brute force, spec-pinned):
  * identical centroid training, assignment, and probe-cell selection —
  * the persisted layout changes WHERE the lists live, not what they
  * contain. When centroid drift degrades recall, rebuild retrains;
  * [[graft.operators.Drift]]'s canary decides when.
  */
object AnnIndex {

  val DefaultCells = 16

  /** One committed index version: the coarse centroids (bit-exact) and
    * the exact vector files with their cell. Paths relative to root.
    * The envelope fields (`streams` stamps, `metaCols`/`metaDirs`,
    * `deletes`) follow [[IndexManifests.Envelope]]'s contract.
    */
  final case class Manifest(
      version: Long,
      centroids: Array[Array[Double]],
      vectors: Seq[(Int, String)],
      streams: Map[String, Long] = Map.empty,
      /** vector-metadata sidecar for FILTERED ANN: columns pinned at
        * build, dirs append-ordered so CDC-updated metadata wins;
        * a `where` query against a sidecar-free index fails loudly.
        */
      metaCols: Seq[String] = Nil,
      metaDirs: Seq[String] = Nil,
      /** vector-id tombstones ([[deleteVecs]]/[[applyCdc]]) as
        * (dir, cover): each excludes ids ONLY from the first `cover`
        * vector files — Iceberg equality-delete sequence semantics
        * ([[IndexManifests.liveRows]]), so one atomic commit can
        * tombstone an id's old vector and append its new one. No stat
        * corrections needed on the dense side — cosine ranking has no
        * corpus-level terms (centroid drift is the rebuild canary's
        * concern, not the tombstone's).
        */
      deletes: Seq[(String, Int)] = Nil,
      /** per-subspace PQ residual codebooks (m × nCodes × dim/m,
        * bit-exact IEEE longs like the centroids) — present iff the
        * index was built with `pq = Some(...)`. Rows then carry an
        * m-code `codes` column next to the raw vector: the ADC serve
        * path ([[pqTopK]]) scans ONLY (neighbor_id, codes, __cell) of
        * the probed cells (parquet column pruning delivers the byte
        * cut — m ints vs dim doubles per candidate) and touches raw
        * vectors just for the shortlist's exact re-rank. Deltas encode
        * against THESE persisted codebooks — encoding is a pure
        * per-row function of (vector, centroids, codebooks), so
        * delta ∪ old ≡ full re-encode (the ann_ivfpq_delta identity).
        */
      codebooks: Array[Array[Array[Double]]] = Array.empty)
      extends IndexManifests.Envelope {
    def files: Seq[(Int, String)] = vectors
    def sidecars: Seq[String] = Nil
    def payloadRoot: String = "vectors"
    def idCol: String = "neighbor_id"
    def withVersion(v: Long): Manifest = copy(version = v)
    def kind: String = "ann"
    def shape: String = s"cells=${centroids.length} pq=${
      if (codebooks.nonEmpty) s"m=${codebooks.length}" else "no"}"
    def compact(spark: SparkSession, dir: String): Int = AnnIndex.compact(spark, dir)
    def federation(shards: Seq[(String, IndexManifests.Envelope)],
        dir: String): ShardedIndex.Payload =
      AnnIndex.federation(shards.map { case (d, m) => d -> m.asInstanceOf[Manifest] }, dir)
    def toJson: String = {
      // doubles as raw IEEE-754 bits: JSON decimal printing is not
      // guaranteed to round-trip, and the centroids must be BIT-exact —
      // assignment with perturbed centroids silently moves cell borders
      def bits(v: Array[Double]): JValue =
        JArray(v.map(d => JLong(java.lang.Double.doubleToRawLongBits(d)): JValue).toList)
      IndexManifests.render(this, List(
        "centroids" -> JArray(centroids.map(bits).toList),
        "codebooks" -> JArray(codebooks.map(cb => JArray(cb.map(bits).toList): JValue).toList),
        "vectors" -> JArray(vectors.map { case (cell, p) =>
          JObject(List("cell" -> JInt(cell), "path" -> JString(p))): JValue
        }.toList)))
    }
  }

  private[operators] def fromJson(j: JValue): Manifest = {
    implicit val fmts: Formats = DefaultFormats
    Manifest(
      version = (j \ "version").extract[Long],
      centroids = (j \ "centroids").extract[List[List[Long]]]
        .map(_.map(java.lang.Double.longBitsToDouble).toArray).toArray,
      vectors = (j \ "vectors").extract[List[JValue]].map(e =>
        ((e \ "cell").extract[Int], (e \ "path").extract[String])),
      streams = IndexManifests.streamsFromJson(j \ "streams"),
      metaCols = IndexManifests.stringsFromJson(j \ "metaCols"),
      metaDirs = IndexManifests.stringsFromJson(j \ "metaDirs"),
      deletes = IndexManifests.deletesFromJson(j \ "deletes"),
      codebooks = j \ "codebooks" match {
        case JArray(cbs) => cbs.map(cb =>
          cb.extract[List[List[Long]]]
            .map(_.map(java.lang.Double.longBitsToDouble).toArray).toArray).toArray
        case _ => Array.empty
      })
  }

  private[graft] def versions(spark: SparkSession, dir: String): Seq[Long] =
    IndexManifests.versions(spark, dir)

  private[graft] def currentManifest(spark: SparkSession, dir: String): Manifest =
    IndexManifests.head(spark, dir).asInstanceOf[Manifest]

  /** Manifest at a PINNED version — the federation's transition-MVCC
    * read ([[ShardedIndex]] layout pins; the version must not have been
    * vacuumed: keepVersions >= 2 during a transition).
    */
  private[graft] def readManifest(spark: SparkSession, dir: String, v: Long): Manifest =
    IndexManifests.read(spark, dir, v).asInstanceOf[Manifest]

  /** Target bytes per staged vector file. One file per cell does NOT
    * scale — `repartition(nCells, cell)` makes a single task write a
    * cell's ENTIRE data (at 100 TB, terabytes through one writer), and
    * serve parallelism collapses to nProbe tasks. Splitting by
    * (cell, id) hash keeps the layout contract (each file belongs to
    * one cell) while bounding both writer task size and reader
    * task granularity.
    */
  val TargetFileBytes: Long = 64L << 20

  /** Stage a batch's vectors cell-partitioned under a fresh dir,
    * assigned (and PQ-coded) against the given quantizers. The split
    * count is bytes-derived only, with no nCells floor: a task floor
    * multiplies every churn-sized delta into ~floor × cells small files,
    * the writer cliff is covered by the bytes term, and readers split
    * large parquet files by row group.
    */
  private def stageVectors(spark: SparkSession, rows: DataFrame, idCol: String,
      vecCol: String, dir: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      splits: Option[Int] = None): Seq[(Int, String)] = {
    val assigned0 = assign(rows, idCol, vecCol, centroids)
    val assigned = if (codebooks.isEmpty) assigned0
      else withCodes(assigned0, centroids, codebooks)
    val rel = IndexManifests.freshRel("vectors")
    // the cell rides in the rows too (partitionBy strips its column
    // from file contents, and manifest-pruned reads open leaf files
    // directly, losing the dir value) — serving then never re-runs the
    // nCells × dim assignment per sliced row
    assigned.withColumn("__cell", col("cell"))
      .repartition(splits.getOrElse(
          IndexManifests.splitsFor(ScaleSafe.leafScanBytes(assigned), TargetFileBytes)),
        col("cell"), col("neighbor_id"))
      .write.mode("errorifexists").partitionBy("cell").parquet(s"$dir/$rel")
    IndexManifests.listStaged(spark, dir, rel, "cell")
  }

  // written schemas, declared explicitly on read: footer inference is
  // a Spark job per read.parquet call
  private val VectorSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "neighbor_id BIGINT, __cv ARRAY<DOUBLE>, __cell INT")
  private val VectorSchemaCoded = org.apache.spark.sql.types.StructType.fromDDL(
    "neighbor_id BIGINT, __cv ARRAY<DOUBLE>, codes ARRAY<INT>, __cell INT")

  private def assign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    emb.select(col(idCol).cast("long").as("neighbor_id"),
        asDouble(col(vecCol)).as("__cv"))
      .withColumn("cell",
        element_at(VectorQuantization.centroidCells(col("__cv"), centroids, 1), 1))

  // cosine contract across the PQ family (Similarity's convention):
  // residuals and ADC run on UNIT vectors — dot on raw vectors would
  // rank large-norm candidates above nearer ones
  private def unitCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    transform(v, x => x / greatest(n, lit(1e-12)))
  }

  /** Append the m-code PQ `codes` column to an assigned frame: residual
    * of the UNIT vector against its cell centroid, each subspace coded
    * against its persisted L2 codebook. Pure per-row — the property
    * that makes delta encoding ≡ full re-encode.
    */
  private def withCodes(assigned: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dim = centroids.head.length
    val sub = dim / m
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    val resid = zip_with(unitCol(col("__cv")), element_at(centLit, col("cell") + 1),
      (a, b) => a - b)
    val codeCols = (0 until m).map { j =>
      element_at(VectorQuantization.centroidCellsL2(
        slice(col("__resid"), j * sub + 1, sub), codebooks(j), 1), 1)
    }
    assigned.withColumn("__resid", resid)
      .withColumn("codes", array(codeCols: _*))
      .drop("__resid")
  }

  /** Train the per-subspace residual codebooks on the SAME bounded
    * deterministic sample contract as the coarse quantizer, against
    * the coarse centroids the index will persist (residuals must be
    * relative to the cells the vectors are actually stored under).
    */
  private def trainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int, nCodes: Int,
      sampleSize: Int, iters: Int): Array[Array[Array[Double]]] = {
    val sample = emb
      .select(col(idCol).cast("long").as("__id"), asDouble(col(vecCol)).as("__v"))
      .orderBy("__id").limit(sampleSize)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "PQ build needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m")
    val sub = dim / m
    val residuals = sample.map { raw =>
      var s = 0.0; var i = 0
      while (i < dim) { s += raw(i) * raw(i); i += 1 }
      val norm = math.max(math.sqrt(s), 1e-12)
      val v = raw.map(_ / norm)
      var best = 0; var bestDot = Double.MinValue
      var ci = 0
      while (ci < centroids.length) {
        var d = 0.0; i = 0
        while (i < dim) { d += v(i) * centroids(ci)(i); i += 1 }
        if (d > bestDot) { bestDot = d; best = ci }
        ci += 1
      }
      Array.tabulate(dim)(i => v(i) - centroids(best)(i))
    }
    Array.tabulate(m) { j =>
      VectorQuantization.trainCentroidsL2(
        residuals.map(_.slice(j * sub, (j + 1) * sub)), nCodes, iters, seed = 42L + j)
    }
  }

  /** Build from scratch: one assignment scan + a cell-clustered write.
    * Centroid training matches [[Similarity.ivfTopK]] exactly
    * (deterministic ordered sample, fixed seed), so recall carries over.
    */
  /** PQ spec for a code-carrying build: m subspaces × nCodes codewords
    * per subspace (dim must divide by m).
    */
  final case class PqSpec(m: Int = 8, nCodes: Int = 16)

  def build(emb: DataFrame, idCol: String, vecCol: String, dir: String,
      nCells: Int = DefaultCells, sampleSize: Int = 2048, iters: Int = 5,
      splits: Option[Int] = None, metaCols: Seq[String] = Nil,
      pq: Option[PqSpec] = None): Unit = {
    val spark = emb.sparkSession
    require(versions(spark, dir).isEmpty,
      s"ANN index already committed at $dir (addDelta grows it; build starts fresh)")
    val centroids = Similarity.trainQuantizer(emb, idCol, vecCol, nCells, sampleSize, iters)
    val codebooks = pq.fold(Array.empty[Array[Array[Double]]])(spec =>
      trainCodebooks(emb, idCol, vecCol, centroids, spec.m, spec.nCodes, sampleSize, iters))
    val files = stageVectors(spark, emb, idCol, vecCol, dir, centroids, codebooks, splits)
    val metaDirs = stageMeta(emb, idCol, metaCols, dir).toSeq
    // a rebuild at a previously-used path must not serve the old tree's
    // cached manifests
    IndexManifests.invalidate(dir)
    require(IndexManifests.claim(spark, dir,
      Manifest(1L, centroids, files, metaCols = metaCols, metaDirs = metaDirs,
        codebooks = codebooks)),
      s"lost the build commit race at $dir — another maintainer built concurrently")
  }

  private def stageMeta(emb: DataFrame, idCol: String, metaCols: Seq[String],
      dir: String): Option[String] =
    IndexManifests.stageMeta(emb, idCol, "neighbor_id", metaCols, dir)

  /** The dense part in the federation's layout operations
    * ([[ShardedIndex.reshard]], [[ShardedIndex.reshardInPlace]]): live
    * vectors re-route with their metadata joined on (one row per id),
    * each new shard trains its own quantizer on its slice (the
    * federation's shard-local geometry; the PQ shape re-derives from
    * shard 0's codebooks), leavers tombstone by id alone (no corpus
    * stats to correct), and a shard no vector routes to cannot be
    * built.
    */
  private[graft] def federation(shards: Seq[(String, Manifest)],
      dir: String): ShardedIndex.Payload = {
    val metaCols = ShardedIndex.uniform("metaCols", shards.map(_._2.metaCols), dir)
    val pq = shards.head._2.codebooks match {
      case cb if cb.nonEmpty => Some(PqSpec(cb.length, cb.head.length))
      case _ => None
    }
    val nCells = shards.map(_._2.centroids.length).max
    new ShardedIndex.Payload {
      def live(spark: SparkSession, i: Int) = {
        val (d, m) = shards(i)
        liveRows(spark, d, m, m.vectors).select("neighbor_id", "__cv")
      }
      def withMeta(rows: DataFrame, meta: Option[DataFrame]) =
        (meta.fold(rows)(rows.join(_, Seq("neighbor_id"), "left")), None)
      def build(spark: SparkSession, rows: DataFrame, meta: Option[DataFrame], d: String) =
        AnnIndex.build(rows, "neighbor_id", "__cv", d, nCells, metaCols = metaCols, pq = pq)
      def remove(spark: SparkSession, d: String, leavers: DataFrame) =
        deleteVecs(leavers.select("neighbor_id"), "neighbor_id", d)
      val emptyRefusal = Some(ShardedIndex.NoVectors)
      val championC = 0
    }
  }

  /** Fold NEW vectors (ids disjoint from the indexed set) in against
    * the persisted centroids: churn-sized, shuffle-free assignment,
    * historical cell files never read, visible atomically at the
    * manifest claim. Losing a race to a concurrent maintainer retries
    * against the fresh manifest (staged files are reusable as-is).
    */
  def addDelta(delta: DataFrame, idCol: String, vecCol: String, dir: String,
      maxAttempts: Int = 5, stamp: Option[(String, Long)] = None): Unit = {
    val spark = delta.sparkSession
    val base0 = currentManifest(spark, dir)
    if (IndexManifests.stamped(base0, stamp)) return
    val files = stageVectors(spark, delta, idCol, vecCol, dir, base0.centroids, base0.codebooks)
    val metaRel = stageMeta(delta, idCol, base0.metaCols, dir)
    IndexManifests.commit[Manifest](spark, dir, "ANN index delta", maxAttempts, stamp) { base =>
      Some(base.copy(version = base.version + 1, vectors = base.vectors ++ files,
        streams = base.streams ++ stamp.toMap, metaDirs = base.metaDirs ++ metaRel))
    }
    ()
  }

  /** Highest batch id committed under stream namespace `ns`, if any. */
  def committedBatchId(spark: SparkSession, dir: String, ns: String): Option[Long] =
    IndexManifests.committedBatchId(spark, dir, ns)

  /** LIVE rows of `selected` vector files under `m`'s tombstones
    * ([[IndexManifests.liveRows]]).
    */
  private[graft] def liveRows(spark: SparkSession, dir: String, m: Manifest,
      selected: Seq[(Int, String)]): DataFrame =
    IndexManifests.liveRows(spark, dir, m, IndexManifests.readFiles(spark, dir, selected,
      if (m.codebooks.nonEmpty) VectorSchemaCoded else VectorSchema))

  /** Delete vectors from the index: one atomic tombstone commit (no
    * index scan needed — the dense side has no corpus-level stats to
    * correct). Tombstoned ids are excluded from every [[topK]] until
    * [[compact]] drops their rows; an id re-inserted after a deletion
    * is live again (coverage semantics) and deletable again. Deleting
    * ids already dead under a full-coverage tombstone is a no-op.
    */
  def deleteVecs(ids: DataFrame, idCol: String, dir: String,
      maxAttempts: Int = 5): Unit = {
    val spark = ids.sparkSession
    val del = ids.select(col(idCol).cast("long").as("neighbor_id")).distinct()
    IndexManifests.commit[Manifest](spark, dir, "ANN index delete", maxAttempts) { base =>
      // certainly-dead ids: tombstoned with cover == current file count
      // (no delta appended since, so no resurrection possible)
      val full = base.deletes.filter(_._2 >= base.vectors.size).map(_._1)
      val fresh =
        if (full.isEmpty) del
        else del.join(IndexManifests.tombstones(spark, dir, "neighbor_id", full),
          Seq("neighbor_id"), "left_anti")
      if (fresh.isEmpty) None
      else {
        val delRel = IndexManifests.freshRel("deletes")
        fresh.coalesce(1).write.mode("errorifexists").parquet(s"$dir/$delRel")
        Some(base.copy(version = base.version + 1,
          deletes = base.deletes :+ (delRel -> base.vectors.size)))
      }
    }
    ()
  }

  /** One ATOMIC CDC micro-batch: `upserts` = new (id, vector) versions,
    * `removalIds` = ids leaving the index (deleted ids and updated
    * ids). One manifest claim commits the new cell files, a tombstone
    * covering only the PRE-batch files (the new vectors survive it —
    * Iceberg sequence semantics), and the stream stamp. No old vectors
    * needed: the dense side has no corpus-level stats to correct.
    */
  def applyCdc(upserts: DataFrame, removalIds: DataFrame, idCol: String,
      vecCol: String, dir: String, stamp: Option[(String, Long)] = None,
      maxAttempts: Int = 5): Unit = {
    val spark = upserts.sparkSession
    val base0 = currentManifest(spark, dir)
    if (IndexManifests.stamped(base0, stamp)) return
    val files =
      if (upserts.isEmpty) Nil
      else stageVectors(spark, upserts, idCol, vecCol, dir, base0.centroids, base0.codebooks)
    val metaRel =
      if (upserts.isEmpty) None
      else stageMeta(upserts, idCol, base0.metaCols, dir)
    val tombstoneIds = removalIds.select(col(idCol).cast("long").as("neighbor_id")).distinct()
    val hasRemovals = !tombstoneIds.isEmpty
    IndexManifests.commit[Manifest](spark, dir, "ANN CDC batch", maxAttempts, stamp) { base =>
      val delEntry =
        if (!hasRemovals) None
        else {
          val delRel = IndexManifests.freshRel("deletes")
          tombstoneIds.coalesce(1).write.mode("errorifexists").parquet(s"$dir/$delRel")
          Some(delRel -> base.vectors.size)
        }
      Some(base.copy(version = base.version + 1, vectors = base.vectors ++ files,
        streams = base.streams ++ stamp.toMap, metaDirs = base.metaDirs ++ metaRel,
        deletes = base.deletes ++ delEntry))
    }
    ()
  }

  /** Exact-cosine top-`k` within the probes' nProbe nearest cells,
    * answered FROM the index: the scan is planned over only those
    * cells' files. Output shape matches `ann_ivf` (probe_id,
    * neighbor_id, cosine, rank); probes are excluded from their own
    * neighbor lists when they are indexed.
    */
  def topK(probes: DataFrame, idCol: String, vecCol: String, dir: String,
      k: Int, nProbe: Int = 4, maxProbes: Int = 16384,
      where: Option[org.apache.spark.sql.Column] = None,
      excludeSelf: Boolean = true): DataFrame =
    // one bounded probe collect enforces the small-side contract AND
    // feeds the driver-side cell assignment — no separate count job
    topKRows(probes.sparkSession,
      collectProbes(probes, idCol, vecCol, maxProbes), dir, k, nProbe,
      where, excludeSelf)

  /** [[topK]] over DRIVER-collected probe rows — the serve kernel the
    * federation fans out ([[ShardedIndex.annTopKSharded]] collects the
    * probes ONCE and feeds every shard). Cell assignment runs on the
    * driver through the same [[VectorQuantization.nearestCells]]
    * arithmetic the rows were staged with (bit-identical centroids from
    * the manifest), so preparing a query launches ZERO Spark jobs: the
    * round-13 path paid one probe-cells collect job per shard per query
    * — S driver dispatches per federated query, the measured concurrency
    * ceiling at 32 clients (BENCH_SF1 addendum 7). The probe side
    * becomes a local relation; everything downstream (manifest-pruned
    * cell scan, broadcast join, window top-k) is one declarative plan.
    */
  private[graft] def topKRows(spark: SparkSession,
      probeRows: Seq[(Long, Array[Double])], dir: String,
      k: Int, nProbe: Int,
      where: Option[org.apache.spark.sql.Column],
      excludeSelf: Boolean,
      manifest: Option[Manifest] = None): DataFrame = {
    import spark.implicits._
    // an explicit manifest is the federation's transition pin — head
    // resolution stays the default for every steady-state caller
    val m = manifest.getOrElse(currentManifest(spark, dir))
    // centroid norms once per query, not per probe — a contract-max
    // probe set would otherwise rebuild them 16k times on the driver
    val norms = VectorQuantization.centroidNorms(m.centroids)
    val pLocal = probeRows.flatMap { case (pid, pv) =>
      VectorQuantization.nearestCells(pv, m.centroids, nProbe, normsPre = norms)
        .map(c => (pid, pv.toSeq, c))
    }
    val p = pLocal.toDF("probe_id", "__pv", "cell")
    // ≤ nCells distinct values by construction — driver-side set, no job
    val probeCells = pLocal.map(_._3).toSet
    // the cell was computed ONCE at stage time (same pure assignment
    // arithmetic, bit-identical centroids) and stored in the rows, so
    // each probe compares only within ITS probed cells — the exact
    // ivfTopK join semantics with no per-row re-assignment at serve
    // filtered ANN: restrict the candidate slice by the meta-sidecar
    // predicate BEFORE ranking — top-k of the allowed subset (latest
    // metadata wins under CDC, sidecar reads are vector-count-sized)
    val slice = IndexManifests.metaFilter(spark, dir, m,
      liveRows(spark, dir, m, m.vectors.filter(e => probeCells(e._1)))
        .withColumn("cell", col("__cell")), where)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    // self-exclusion only when the probes ARE corpus vectors (the
    // "query is a document" shape); a raw query vector (the SQL TVF
    // path) must keep every neighbor — its synthetic probe id could
    // collide with a real corpus id and silently drop that vector
    val joined0 = slice.join(broadcast(p), Seq("cell"))
    val joined = if (excludeSelf) joined0.filter(col("neighbor_id") =!= col("probe_id"))
      else joined0
    joined
      .withColumn("cosine", cosine(col("__pv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** ADC top-`k` FROM the persisted PQ codes — the serving shape of
    * [[Similarity.ivfPqTopK]] (FAISS IVFADC). Two stages over ONLY the
    * probed cells' files (manifest-pruned like [[topK]]):
    *
    *  1. '''shortlist''': per probe, score every candidate in its
    *     probed cells as `cdot(probe·centroid) + Σ_j table_j[code_j]`
    *     — the scan is column-pruned to (neighbor_id, codes, __cell),
    *     m ints per candidate instead of dim doubles: the byte cut
    *     that lets a 100 TB dense corpus's code columns stay
    *     page-cache-resident where raw vectors never would.
    *  2. '''re-rank''': exact cosine on the shortlist only, raw
    *     vectors fetched by an id join against the same pruned slice.
    *
    * Codes were encoded against the manifest's persisted quantizers at
    * build/delta/CDC time, so serving never re-encodes. Recall carries
    * the ann_ivfpq bound (spec-pinned); determinism follows from the
    * bit-exact manifest quantizers + deterministic tie-breaks.
    */
  def pqTopK(probes: DataFrame, idCol: String, vecCol: String, dir: String,
      k: Int, nProbe: Int = 4, shortlist: Int = 100, maxProbes: Int = 16384,
      where: Option[org.apache.spark.sql.Column] = None,
      excludeSelf: Boolean = true): DataFrame =
    pqTopKRows(probes.sparkSession, collectProbes(probes, idCol, vecCol, maxProbes),
      dir, k, nProbe, shortlist, where, excludeSelf)

  /** One bounded collect of the probe side — shared by [[pqTopK]] and
    * the federation ([[ShardedIndex.pqTopKSharded]] collects ONCE and
    * feeds every shard, instead of S identical probe jobs).
    */
  private[graft] def collectProbes(probes: DataFrame, idCol: String, vecCol: String,
      maxProbes: Int): Seq[(Long, Array[Double])] = {
    val probeRows = probes.select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .limit(maxProbes + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(probeRows.length <= maxProbes,
      s"ANN probe side exceeds the small-side contract (> $maxProbes rows); " +
        "batch large probe sets")
    probeRows.toSeq
  }

  private[graft] def pqTopKRows(spark: SparkSession,
      probeRows: Seq[(Long, Array[Double])], dir: String,
      k: Int, nProbe: Int, shortlist: Int,
      where: Option[org.apache.spark.sql.Column],
      excludeSelf: Boolean,
      manifest: Option[Manifest] = None): DataFrame = {
    val m = manifest.getOrElse(currentManifest(spark, dir))
    require(m.codebooks.nonEmpty,
      s"pqTopK against $dir, but the index carries no PQ codebooks " +
        "(build(pq = Some(PqSpec(...))) pins them)")
    val centroids = m.centroids
    val codebooks = m.codebooks
    val nSub = codebooks.length
    val dim = centroids.head.length
    val sub = dim / nSub
    // driver-side per probe: nProbe nearest cells by unit-probe·centroid
    // (the cdot constant of the ADC decomposition) + the m lookup tables
    val probeSide = probeRows.toSeq.flatMap { case (pid, pvRaw) =>
      val norm = math.max(math.sqrt(pvRaw.map(x => x * x).sum), 1e-12)
      val pv = pvRaw.map(_ / norm)
      val adcTables = (0 until nSub).map { j =>
        codebooks(j).map { cen =>
          var d = 0.0; var i = 0
          while (i < sub) { d += pv(j * sub + i) * cen(i); i += 1 }
          d
        }.toSeq
      }
      val byCell = centroids.zipWithIndex.map { case (cen, ci) =>
        var d = 0.0; var i = 0
        while (i < dim) { d += pv(i) * cen(i); i += 1 }
        (ci, d)
      }.sortBy { case (ci, d) => (-d, ci) }.take(nProbe)
      byCell.toSeq.map { case (ci, cdot) => (pid, ci, cdot, adcTables) }
    }
    import spark.implicits._
    val probeTables = probeSide.toDF("probe_id", "cell", "cdot", "tables")
    val probeCells = probeSide.map(_._2).toSet
    val slice = IndexManifests.metaFilter(spark, dir, m,
      liveRows(spark, dir, m, m.vectors.filter(e => probeCells(e._1))), where)
    // stage 1: ADC shortlist — column pruning keeps __cv out of this scan
    val adc = col("cdot") + aggregate(sequence(lit(1), lit(nSub)), lit(0.0), (acc, j) =>
      acc + element_at(element_at(col("tables"), j), element_at(col("codes"), j) + 1))
    val wAdc = Window.partitionBy(col("probe_id")).orderBy(col("adc").desc, col("neighbor_id"))
    val short0 = slice.select(col("neighbor_id"), col("codes"), col("__cell").as("cell"))
      .join(broadcast(probeTables), Seq("cell"))
    val short1 = if (excludeSelf) short0.filter(col("neighbor_id") =!= col("probe_id"))
      else short0
    val short = short1.withColumn("adc", adc)
      .withColumn("__adc_rank", row_number().over(wAdc))
      .filter(col("__adc_rank") <= shortlist)
      .select("probe_id", "neighbor_id")
    // stage 2: exact cosine re-rank — raw vectors touched for the
    // (probes × shortlist)-bounded id set only, broadcast by contract
    val pv = probeRows.toSeq.map { case (pid, v) => (pid, v.toSeq) }.toDF("probe_id", "__pv")
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    slice.select(col("neighbor_id"), col("__cv"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(pv), Seq("probe_id"))
      .withColumn("cosine", cosine(col("__pv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** Fold each cell's accumulated per-delta files into
    * TargetFileBytes-sized files, dropping tombstoned rows — the shared
    * [[IndexManifests.compact]] with the cell rewrite. Bounded at nCells
    * jobs over the victim cells' rows.
    */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = TargetFileBytes): Int =
    compactWithHook(spark, dir, () => (), targetFileBytes = targetFileBytes)

  /** [[compact]] with the pre-commit seam of the race spec. */
  private[graft] def compactWithHook(spark: SparkSession, dir: String,
      onBeforeCommit: () => Unit, maxAttempts: Int = 5,
      targetFileBytes: Long = TargetFileBytes): Int =
    IndexManifests.compact[Manifest, Unit](spark, dir, "ANN compaction", targetFileBytes,
        maxAttempts, onBeforeCommit, liveRows(spark, dir, _, _)) { (base, victims) =>
      (victims.map { case (cell, files, width) =>
        val rel = IndexManifests.freshRel("vectors")
        liveRows(spark, dir, base, files)
          .repartition(width, col("neighbor_id"))
          .write.mode("errorifexists").parquet(s"$dir/$rel/cell=$cell")
        cell -> IndexManifests.listStaged(spark, dir, rel, "cell")
      }.toMap, ())
    } { (base, _, vectors, metaDirs) =>
      base.copy(version = base.version + 1, vectors = vectors, metaDirs = metaDirs,
        deletes = Nil)
    }

  /** [[IndexManifests.rollback]]: vectors, centroids, tombstones and
    * stream stamps rewind together as a new head commit.
    */
  def rollback(spark: SparkSession, dir: String, toVersion: Long,
      maxAttempts: Int = 5): Long =
    IndexManifests.rollback(spark, dir, toVersion, maxAttempts)

  /** [[IndexManifests.exportIndex]]: centroids and PQ codebooks travel
    * inside the manifest, so the copy assigns and encodes identically.
    */
  def exportIndex(spark: SparkSession, srcDir: String, destDir: String): Long =
    IndexManifests.exportIndex(spark, srcDir, destDir)

  /** [[IndexManifests.vacuum]]. */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
      graceMs: Long = 60L * 60 * 1000): Int =
    IndexManifests.vacuum(spark, dir, keepVersions, graceMs)
}
