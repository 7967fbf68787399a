package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-column file statistics used for scan-time file skipping and
  * metadata-only pruning. `min`/`max` are stored as strings in the
  * column's INTERNAL domain (dates = epoch days, timestamps = epoch
  * micros, decimals = plain BigDecimal string) so comparison at prune
  * time is a typed parse + compare, never a lexicographic accident.
  * Absent stats (`None`) mean "unknown" and always pass the pruner —
  * long strings (>64 chars), binary, and array columns drop their
  * stats rather than store unbounded values, the same truncation
  * discipline Iceberg applies to its file metrics.
  */
final case class ColStats(min: Option[String], max: Option[String], nulls: Long)

/** One immutable data file of a Graft table snapshot.
  * `path` is table-relative (`data/part-*.parquet`).
  */
final case class FileEntry(
    path: String,
    rows: Long,
    bytes: Long,
    stats: Map[String, ColStats],
    /** data sequence number (Iceberg v2): the snapshot version that
      * added this file, stamped by commit(). An equality delete
      * applies to a data file iff the delete's seq is HIGHER — newer
      * upserts shadow older rows, never their own batch. Legacy
      * manifests read back as 0 (oldest: shadowed by every eq delete,
      * the correct upsert semantics for pre-existing data).
      */
    seq: Long = 0L,
    /** table-relative path of this file's key-bloom sidecar
      * ([[GraftBloom]]), present when the table had
      * `graft.bloom.columns` set at write time.
      */
    bloom: Option[String] = None)

/** A position-delete file (merge-on-read): standard parquet with
  * schema `(file STRING, pos BIGINT)` marking rows of data files as
  * deleted — Iceberg v2's position-delete shape. `targets` lists the
  * data files it covers so readers load only applicable deletes.
  */
final case class DeleteEntry(path: String, rows: Long, targets: Seq[String])

/** An equality-delete file (Iceberg v2's second delete form): standard
  * parquet holding KEY VALUES; a row in any data file with a LOWER seq
  * whose key appears in the file is deleted. This is the streaming
  * upsert primitive (Flink's Iceberg upsert mode): a micro-batch
  * commits its rows plus one equality-delete file of its keys and
  * NEVER READS THE TARGET — per-batch cost is O(churn) for writes and
  * zero for target reads, vs the MERGE path's full target scan.
  * Readers pay for it: each scan filters against the applicable
  * delete-key sets until compaction folds them.
  */
final case class EqDeleteEntry(path: String, rows: Long, cols: Seq[String], seq: Long = 0L)

/** One table snapshot: the complete file list plus the schema under
  * which it was committed. Snapshots are immutable; a commit claims
  * manifest v(N+1) by atomic exclusive create — the Iceberg
  * snapshot model (reference merges into Iceberg via Trino:
  * /root/reference/src/main/scala/main.scala:34-40,121-126) realized
  * over plain parquet + JSON manifests so it runs with zero external
  * jars.
  */
final case class GraftSnapshot(
    version: Long,
    parent: Option[Long],
    operation: String,
    schema: StructType,
    properties: Map[String, String],
    files: Seq[FileEntry],
    deletes: Seq[DeleteEntry] = Nil,
    eqDeletes: Seq[EqDeleteEntry] = Nil) {
  /** Delete files applicable to one data file. */
  def deletesFor(dataPath: String): Seq[DeleteEntry] =
    deletes.filter(_.targets.contains(dataPath))
  /** Equality deletes applicable to one data file (strictly newer seq). */
  def eqDeletesFor(file: FileEntry): Seq[EqDeleteEntry] =
    eqDeletes.filter(_.seq > file.seq)
}

/** Thrown when an optimistic commit loses the race: the caller
  * re-reads the table state, re-derives its change, and retries.
  */
final class GraftCommitConflict(msg: String) extends RuntimeException(msg)

/** Manifest IO for one table directory.
  *
  * Layout:
  * {{{
  *   tableDir/
  *     manifests/v<N>.json   snapshot manifest, claimed through [[ManifestLog]]
  *     data/part-*.parquet   immutable data files, shared across snapshots
  *     deletes/<f>.parquet   merge-on-read position-delete files
  * }}}
  *
  * Commit protocol: the mutation function is applied to the CURRENT
  * snapshot inside the manifest log's bounded CAS loop, and the new
  * version is CLAIMED by atomically creating its manifest file
  * exclusively — exactly one racing writer wins each version, losers
  * re-derive and retry, so concurrent appends are lost-update-free
  * (8-thread stress test in GraftCatalogSpec). The manifest listing is
  * the only record of the head; a table directory is one whose log
  * holds a version. Object stores without atomic create-exclusive need
  * a locking catalog in front, as with Iceberg.
  */
final class GraftManifestIO(val tableDir: Path, conf: Configuration) {
  private def fs = tableDir.getFileSystem(conf)
  private def log = ManifestLog(new Path(tableDir, "manifests"), conf)

  def currentVersion(): Option[Long] = log.head()

  def readSnapshot(v: Long): GraftSnapshot = GraftManifestIO.fromJson(log.read(v))

  def currentSnapshot(): Option[GraftSnapshot] = currentVersion().map(readSnapshot)

  def versions(): Seq[Long] = log.versions()

  /** Optimistically commit `mutate(current)` as the next snapshot.
    * `mutate` returns the new snapshot CONTENT (version/parent are
    * assigned here) or throws [[GraftCommitConflict]] itself if its
    * preconditions no longer hold (e.g. a replaced file vanished).
    *
    * The version is claimed through the manifest log's CAS loop
    * ([[ManifestLog.commit]]): exactly one of any number of racing
    * writers wins a version; the losers re-read the fresh snapshot,
    * re-derive, and retry up to `maxAttempts` — so concurrent appends
    * are genuinely lost-update-free, not just conflict-detected
    * (stress-proven with 8 racing threads in GraftCatalogSpec). Data
    * files are staged before and immutable, so retries re-derive only
    * the manifest.
    */
  def commit(operation: String, maxAttempts: Int = 5)(
      mutate: Option[GraftSnapshot] => GraftManifestIO.Content): GraftSnapshot =
    log.commit(s"commit of '$operation'", maxAttempts) {
      val base = currentSnapshot()
      val c = mutate(base)
      // streaming exactly-once seam: inside a GraftCommitStamp scope
      // this throws ReplayedCommit if base already covers the batch,
      // else adds the batch-id property — atomic with the content.
      // Re-evaluated per attempt against the freshly-read base, so a
      // replay that loses the version race to a concurrent writer is
      // still caught on its retry.
      val stampedProps = GraftCommitStamp.stamped(base, c.properties)
      val version = base.map(_.version).getOrElse(0L) + 1
      val next = GraftSnapshot(
        version = version,
        parent = base.map(_.version),
        operation = operation,
        schema = c.schema,
        // stamp commit wall-clock for TIMESTAMP AS OF travel
        properties = stampedProps + (GraftManifestIO.CommittedAtMs -> System.currentTimeMillis().toString),
        // PendingSeq entries get this commit's version as their data
        // sequence (re-stamped per OCC attempt against the fresh base)
        files = c.files.map(f => if (f.seq == GraftManifestIO.PendingSeq) f.copy(seq = version) else f),
        deletes = c.deletes,
        eqDeletes = c.eqDeletes.map(d =>
          if (d.seq == GraftManifestIO.PendingSeq) d.copy(seq = version) else d))
      Some((version, GraftManifestIO.toJson(next), next))
    }.get

  /** Roll the table back to `version` by committing a NEW snapshot with
    * that version's exact content (Iceberg `rollback_to_snapshot`
    * semantics): history is preserved — the bad snapshots stay
    * time-travelable until expired — and the rollback itself goes
    * through the OCC loop like any other commit, so it composes with
    * concurrent writers instead of clobbering them.
    */
  def rollbackTo(version: Long): GraftSnapshot = {
    require(versions().contains(version),
      s"cannot roll back to v$version: not a live snapshot at $tableDir")
    val target = readSnapshot(version)
    commit(s"rollback-to-v$version") { _ =>
      GraftManifestIO.Content(target.schema,
        target.properties - GraftManifestIO.CommittedAtMs, target.files, target.deletes,
        target.eqDeletes)
    }
  }

  // ---- WAP (write-audit-publish) staged commits ---------------------
  //
  // Iceberg's `spark.wap.id` audit pattern over the same manifests: a
  // staged write lands in `manifests/wap-<id>.json` — OUTSIDE the
  // version chain (versions() matches only v<N>.json), so the main
  // table never sees it — holding the FULL would-be file list (base ∪
  // added) for audit reads plus the added paths recorded in a
  // property for the publish cherry-pick. Publish re-applies the adds
  // onto the CURRENT head through the ordinary OCC commit (concurrent
  // writers that landed between stage and publish are composed with,
  // not clobbered); abort deletes the staged ref and its staged-only
  // files. Audit reads address the BARE ref: `VERSION AS OF '<id>'`.

  private def wapFile(id: String) = new Path(tableDir, s"manifests/wap-$id.json")

  /** Staged-write ids and tag names are path segments — keep them
    * boring. Create/read paths REQUIRE validity; existence probes
    * (which back `VERSION AS OF '<ref>'` resolution) treat an invalid
    * name as simply absent, so a mistyped ref surfaces as
    * NoSuchTableException — never a WAP-internals require failure.
    */
  private def validRef(id: String): Boolean =
    id.nonEmpty && id.forall(c => c.isLetterOrDigit || "._-".contains(c))

  private def requireWapId(id: String): Unit =
    require(validRef(id), s"WAP id must be [A-Za-z0-9._-]+, got '$id'")

  def wapExists(id: String): Boolean = validRef(id) && fs.exists(wapFile(id))

  def readWap(id: String): GraftSnapshot = {
    requireWapId(id)
    GraftManifestIO.fromJson(ManifestLog.read(fs, wapFile(id)))
  }

  /** Stage `added` files under ref `id` against the CURRENT snapshot.
    * One exclusive-create claim per ref — a second stage with the same
    * id fails loudly (stage again under a new id). Staged entries get
    * a provisional seq of base.version + 1 so older equality deletes
    * do not shadow them during audit (publish re-stamps against the
    * version it actually lands on).
    */
  def stageWap(id: String, operation: String, added: Seq[FileEntry]): GraftSnapshot = {
    requireWapId(id)
    val base = currentSnapshot().getOrElse(
      throw new GraftCommitConflict(s"cannot stage WAP '$id': no committed snapshot at $tableDir"))
    val provisional = added.map(f => f.copy(seq = base.version + 1))
    val staged = GraftSnapshot(
      version = base.version,
      parent = Some(base.version),
      operation = s"wap-stage:$operation",
      schema = base.schema,
      properties = base.properties +
        (GraftManifestIO.WapId -> id) +
        (GraftManifestIO.WapBase -> base.version.toString) +
        (GraftManifestIO.WapAdded -> added.map(_.path).mkString(",")),
      files = base.files ++ provisional,
      deletes = base.deletes,
      eqDeletes = base.eqDeletes)
    if (!ManifestLog.claim(fs, wapFile(id), GraftManifestIO.toJson(staged)))
      throw new GraftCommitConflict(
        s"WAP ref '$id' already staged at $tableDir — publish/abort it, or stage under a new id")
    staged
  }

  /** Publish a staged write: cherry-pick its added files onto the
    * CURRENT head as an ordinary OCC commit (composes with writers
    * that landed since the stage), then retire the staged ref. The
    * staged schema must still match the head's — a drifted table
    * refuses rather than publishing rows the audit never saw the
    * shape of.
    */
  def publishWap(id: String): GraftSnapshot = {
    val staged = readWap(id)
    val addedPaths = staged.properties.getOrElse(GraftManifestIO.WapAdded, "")
      .split(",").filter(_.nonEmpty).toSet
    val added = staged.files.filter(f => addedPaths.contains(f.path))
    val published = commit(s"wap-publish:$id") { baseOpt =>
      val base = baseOpt.getOrElse(throw new GraftCommitConflict(
        s"cannot publish WAP '$id': table at $tableDir has no committed snapshot"))
      if (base.schema != staged.schema)
        throw new GraftCommitConflict(
          s"cannot publish WAP '$id': table schema changed since the stage")
      val live = base.files.map(_.path).toSet
      val dup = addedPaths.intersect(live)
      if (dup.nonEmpty)
        throw new GraftCommitConflict(
          s"cannot publish WAP '$id': file(s) already live: ${dup.mkString(", ")}")
      // stream exactly-once across the publish boundary: the staged
      // ref's batch stamps ([[stageWapBatch]]) move into the head's
      // properties — max-merged, so a stale staged stamp can never
      // REGRESS a newer one the head already carries
      val streamStamps = staged.properties.collect {
        case (k, v) if k.startsWith("graft.stream.") =>
          k -> base.properties.get(k).fold(v)(b => math.max(b.toLong, v.toLong).toString)
      }
      GraftManifestIO.Content(base.schema, base.properties ++ streamStamps,
        base.files ++ added.map(_.copy(seq = GraftManifestIO.PendingSeq)),
        base.deletes, base.eqDeletes)
    }
    fs.delete(wapFile(id), false)
    published
  }

  /** Abort a staged write: delete the ref and its staged-only files
    * (files no live snapshot references). Returns the removed
    * table-relative data paths.
    */
  def abortWap(id: String): Seq[String] = {
    val staged = readWap(id)
    val addedPaths = staged.properties.getOrElse(GraftManifestIO.WapAdded, "")
      .split(",").filter(_.nonEmpty).toSet
    val live = versions().flatMap(v => readSnapshot(v).files.map(_.path)).toSet
    val added = staged.files.filter(f =>
      addedPaths.contains(f.path) && !live.contains(f.path))
    val removed = added.flatMap(f => f.path +: f.bloom.toSeq)
    removed.foreach(p => fs.delete(new Path(tableDir, p), false))
    fs.delete(wapFile(id), false)
    removed
  }

  /** Stage a STREAM micro-batch's files under WAP ref `id`,
    * ACCUMULATING across batches: the first batch creates the ref
    * (exclusive create, like [[stageWap]]), later ones replace it
    * ([[ManifestLog.replace]]), and `stampKey -> batchId` rides in the staged
    * properties so a replayed batch (restart between the stage and the
    * checkpoint advance) is refused by the ref itself — and, after
    * publish moved the stamp into the head's properties, by the head.
    * Audit reads (`VERSION AS OF '<id>'`) see base ∪ every staged
    * batch; publish cherry-picks them all in one OCC commit.
    *
    * Single writer per ref — one stream stages one audit window; a
    * second stream uses a distinct ref (same contract as checkpoint
    * dirs). An audit read sees the old or the new ref (off the local
    * filesystem it may retry through the replace's delete-to-rename
    * gap).
    *
    * Returns false when the batch was already staged or published
    * (replay) — the caller drops its redundantly written files.
    */
  def stageWapBatch(id: String, added: Seq[FileEntry], stampKey: String,
      batchId: Long): Boolean = {
    requireWapId(id)
    // publish migrates exactly the `graft.stream.` property namespace
    // into the head ([[publishWap]]); a stamp outside it would stage
    // fine but lose its post-publish replay protection SILENTLY — the
    // same loud-contract posture as the bucketing modulus checks
    require(stampKey.startsWith("graft.stream."),
      s"WAP stream stamp key '$stampKey' must live under the " +
        "'graft.stream.' namespace — publish migrates only that prefix " +
        "into the head's properties, so any other key would lose " +
        "post-publish replay protection")
    if (wapExists(id)) {
      val staged = readWap(id)
      if (staged.properties.get(stampKey).exists(_.toLong >= batchId)) return false
      val provisional = added.map(f => f.copy(seq = staged.version + 1))
      val prior = staged.properties.getOrElse(GraftManifestIO.WapAdded, "")
        .split(",").filter(_.nonEmpty)
      val next = staged.copy(
        properties = staged.properties +
          (stampKey -> batchId.toString) +
          (GraftManifestIO.WapAdded ->
            (prior ++ added.map(_.path)).mkString(",")),
        files = staged.files ++ provisional)
      if (!ManifestLog.replace(fs, wapFile(id), GraftManifestIO.toJson(next)))
        throw new GraftCommitConflict(
          s"WAP ref '$id' restage rename failed at $tableDir")
      true
    } else {
      // not staged: the batch may have been PUBLISHED already (publish
      // carries the stream stamps into the head's properties)
      if (currentSnapshot().exists(_.properties.get(stampKey).exists(_.toLong >= batchId)))
        return false
      val base = currentSnapshot().getOrElse(throw new GraftCommitConflict(
        s"cannot stage WAP '$id': no committed snapshot at $tableDir"))
      val provisional = added.map(f => f.copy(seq = base.version + 1))
      val staged = GraftSnapshot(
        version = base.version,
        parent = Some(base.version),
        operation = s"wap-stage:stream-append",
        schema = base.schema,
        properties = base.properties +
          (GraftManifestIO.WapId -> id) +
          (GraftManifestIO.WapBase -> base.version.toString) +
          (GraftManifestIO.WapAdded -> added.map(_.path).mkString(",")) +
          (stampKey -> batchId.toString),
        files = base.files ++ provisional,
        deletes = base.deletes,
        eqDeletes = base.eqDeletes)
      if (!ManifestLog.claim(fs, wapFile(id), GraftManifestIO.toJson(staged)))
        throw new GraftCommitConflict(
          s"WAP ref '$id' already staged at $tableDir — two streams on one ref? " +
            "each stream needs its own audit ref")
      true
    }
  }

  /** Staged WAP refs currently present (for removeOrphans protection
    * and operator introspection).
    */
  def wapRefs(): Seq[String] = {
    val dir = new Path(tableDir, "manifests")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("wap-") && n.endsWith(".json") =>
        n.stripPrefix("wap-").stripSuffix(".json") }
      .sorted.toSeq
  }

  // ---- tags (named immutable snapshot refs) --------------------------
  //
  // The read-side complement of WAP and the reproducibility pin a
  // training pipeline needs: `tag('prod-2026-08-16', v)` freezes a
  // name onto a snapshot; readers address it as `VERSION AS OF
  // '<name>'`; expire_snapshots never expires a tagged version, so
  // "the table as training run X read it" stays reconstructable until
  // the tag is dropped. Tags are immutable (exclusive-create claim) —
  // re-pointing means drop + re-create, which is an auditable pair of
  // operations rather than a silent move.

  private def tagFile(name: String) = new Path(tableDir, s"refs/$name.json")

  private def requireTagName(name: String): Unit = {
    require(validRef(name), s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    // a digit-only tag would be unreachable: VERSION AS OF resolves
    // digits as a snapshot version before any ref lookup
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — it would collide with version numbers in VERSION AS OF")
  }

  def tagExists(name: String): Boolean = validRef(name) && fs.exists(tagFile(name))

  def readTag(name: String): Long = {
    requireTagName(name)
    ManifestLog.read(fs, tagFile(name)).trim.toLong
  }

  def createTag(name: String, version: Long): Unit = {
    requireTagName(name)
    require(versions().contains(version),
      s"cannot tag v$version at $tableDir: not a live snapshot")
    if (!ManifestLog.claim(fs, tagFile(name), version.toString))
      throw new GraftCommitConflict(
        s"tag '$name' already exists at $tableDir (tags are immutable — drop it first)")
  }

  def dropTag(name: String): Boolean = { requireTagName(name); fs.delete(tagFile(name), false) }

  /** Live tags. A ref deleted between the listing and the read (a
    * racing drop_tag) is skipped — it is simply no longer a tag.
    */
  def tags(): Map[String, Long] = {
    val dir = new Path(tableDir, "refs")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.endsWith(".json") => n.stripSuffix(".json") }
      .flatMap { n =>
        try Some(n -> readTag(n))
        catch { case _: java.io.FileNotFoundException => None }
      }.toMap
  }

  def dataDir: Path = new Path(tableDir, "data")

  def drop(): Boolean = fs.delete(tableDir, true)

  /** Delete data files not referenced by any live manifest (orphans
    * from aborted writes); returns deleted table-relative paths.
    */
  def removeOrphans(): Seq[String] = {
    // staged (WAP) snapshots protect their files too: an audit in
    // flight is not an orphan — abortWap is the explicit release. A
    // ref that vanishes between the listing and the read was published
    // or aborted concurrently: its files are either live via the new
    // head or already deleted, so skipping it is exact.
    val staged = wapRefs().flatMap { id =>
      try Some(readWap(id))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val live = (versions().map(readSnapshot) ++ staged).flatMap { s =>
      s.files.map(_.path) ++ s.files.flatMap(_.bloom) ++
        s.deletes.map(_.path) ++ s.eqDeletes.map(_.path)
    }.toSet
    val dirs = Seq(("data", dataDir), ("deletes", new Path(tableDir, "deletes")),
      ("blooms", new Path(tableDir, "blooms")))
    dirs.flatMap { case (prefix, dir) =>
      if (!fs.exists(dir)) Nil
      else {
        val orphans = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
          .filter(p => !live.contains(s"$prefix/${p.getName}"))
        orphans.foreach(p => fs.delete(p, false))
        orphans.map(p => s"$prefix/${p.getName}").toSeq
      }
    }
  }

  /** Expire all snapshots but the most recent `keepLast`, then drop
    * any data file only they referenced. TAGGED versions never expire
    * — a tag is precisely the promise that its snapshot stays
    * reconstructable (drop the tag to release it).
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    val pinned = tags().values.toSet
    val expired = versions().dropRight(math.max(keepLast, 1))
      .filterNot(pinned.contains)
    expired.foreach(v => fs.delete(log.path(v), false))
    removeOrphans()
    expired
  }
}

object GraftManifestIO {
  /** What a commit's mutate function returns: the next snapshot's
    * content (version/parent/operation/timestamp assigned by commit).
    */
  final case class Content(
      schema: StructType,
      properties: Map[String, String],
      files: Seq[FileEntry],
      deletes: Seq[DeleteEntry] = Nil,
      eqDeletes: Seq[EqDeleteEntry] = Nil)

  /** Sentinel seq meaning "the version this commit is assigned":
    * commit() stamps it once the version race is won, so entries carry
    * the right sequence even across OCC retries.
    */
  val PendingSeq: Long = -1L

  /** Snapshot property: commit wall-clock millis (set by [[GraftManifestIO.commit]]). */
  val CommittedAtMs = "graft.committed-at-ms"

  /** Staged-snapshot (WAP) marker properties. */
  val WapId    = "graft.wap.id"
  val WapBase  = "graft.wap.base-version"
  val WapAdded = "graft.wap.added-paths"

  def toJson(s: GraftSnapshot): String = {
    val files = JArray(s.files.map { f =>
      JObject(List(
        "path" -> JString(f.path),
        "rows" -> JLong(f.rows),
        "bytes" -> JLong(f.bytes),
        "seq" -> JLong(f.seq),
        "bloom" -> f.bloom.map(JString(_): JValue).getOrElse(JNull),
        "stats" -> JObject(f.stats.toList.sortBy(_._1).map { case (c, st) =>
          c -> JObject(List(
            "min" -> st.min.map(JString(_): JValue).getOrElse(JNull),
            "max" -> st.max.map(JString(_): JValue).getOrElse(JNull),
            "nulls" -> JLong(st.nulls)))
        })))
    }.toList)
    val deletes = JArray(s.deletes.map { d =>
      JObject(List(
        "path" -> JString(d.path),
        "rows" -> JLong(d.rows),
        "targets" -> JArray(d.targets.map(JString(_): JValue).toList)))
    }.toList)
    val eqDeletes = JArray(s.eqDeletes.map { d =>
      JObject(List(
        "path" -> JString(d.path),
        "rows" -> JLong(d.rows),
        "cols" -> JArray(d.cols.map(JString(_): JValue).toList),
        "seq" -> JLong(d.seq)))
    }.toList)
    val root = JObject(List(
      "version" -> JLong(s.version),
      "parent" -> s.parent.map(JLong(_): JValue).getOrElse(JNull),
      "operation" -> JString(s.operation),
      "schema" -> JsonMethods.parse(s.schema.json),
      "properties" -> JObject(s.properties.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }),
      "files" -> files,
      "deletes" -> deletes,
      "eq_deletes" -> eqDeletes))
    JsonMethods.pretty(JsonMethods.render(root))
  }

  def fromJson(body: String): GraftSnapshot = {
    val j = JsonMethods.parse(body)
    def str(v: JValue): Option[String] = v match { case JString(s) => Some(s); case _ => None }
    def long(v: JValue): Long = v match {
      case JLong(n) => n; case JInt(n) => n.toLong; case JDecimal(n) => n.toLong
      case other => sys.error(s"expected number, got $other")
    }
    val files = (j \ "files") match {
      case JArray(fs) => fs.map { f =>
        val stats = (f \ "stats") match {
          case JObject(cols) => cols.map { case (c, st) =>
            c -> ColStats(str(st \ "min"), str(st \ "max"), long(st \ "nulls"))
          }.toMap
          case _ => Map.empty[String, ColStats]
        }
        val seq = (f \ "seq") match { case JNull | JNothing => 0L; case v => long(v) }
        FileEntry(str(f \ "path").get, long(f \ "rows"), long(f \ "bytes"), stats, seq,
          bloom = str(f \ "bloom"))
      }
      case _ => Nil
    }
    val deletes = (j \ "deletes") match {
      case JArray(ds) => ds.map { d =>
        val targets = (d \ "targets") match {
          case JArray(ts) => ts.collect { case JString(t) => t }
          case _ => Nil
        }
        DeleteEntry(str(d \ "path").get, long(d \ "rows"), targets)
      }
      case _ => Nil
    }
    val eqDeletes = (j \ "eq_deletes") match {
      case JArray(ds) => ds.map { d =>
        val cols = (d \ "cols") match {
          case JArray(cs) => cs.collect { case JString(c) => c }
          case _ => Nil
        }
        EqDeleteEntry(str(d \ "path").get, long(d \ "rows"), cols,
          (d \ "seq") match { case JNull | JNothing => 0L; case v => long(v) })
      }
      case _ => Nil
    }
    GraftSnapshot(
      version = long(j \ "version"),
      parent = (j \ "parent") match { case JNull | JNothing => None; case v => Some(long(v)) },
      operation = str(j \ "operation").getOrElse(""),
      schema = DataType.fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema"))).asInstanceOf[StructType],
      properties = (j \ "properties") match {
        case JObject(ps) => ps.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      },
      files = files,
      deletes = deletes,
      eqDeletes = eqDeletes)
  }
}
