package graft.sources

import graft.operators.{SchemaMigration, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, regexp_extract}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** A minimal snapshotted table layout over plain parquet — the engine's
  * stand-in for the reference's Iceberg target (no Iceberg jars in this
  * container). Semantics modeled on the Iceberg operations the reference
  * invokes: snapshot commit, merge-on-read row-level deltas, time travel,
  * snapshot expiration (`targetSnapshotExpirationSettings`) and orphan
  * file removal (`targetOrphanFilesExpirationSettings`),
  * /root/reference/stream-spec-yaml-example.yaml:49-61.
  *
  * Layout:
  * {{{
  *   tableDir/
  *     data/v<N>-<attempt>/part-*.parquet
  *                                  one immutable dir per commit
  *                                  attempt (older tables: `data/v<N>`)
  *     manifests/v<N>.manifest      table schema + the base and the
  *                                  delta chain, in commit order; a
  *                                  [[graft.catalog.ManifestLog]] whose
  *                                  highest version is the current one
  * }}}
  *
  * A version is a base plus a chain of deltas. [[commit]] writes a new
  * base (the chain is empty again); [[commitDelta]] writes only its own
  * rows and lists them after the base with their key columns. A delta
  * row supersedes every earlier row with the same key — Iceberg's
  * equality-delete semantics where the delta file is its own key set —
  * so a micro-batch commit costs O(churn), never a target rewrite.
  * [[readVersion]] resolves the chain in one plan whose shape does not
  * grow with it: base ⟕anti keys(deltas) ∪ latest-per-key over the
  * deltas by commit order. Maintenance folds the chain back into a base.
  *
  * Writers never mutate old commits, so concurrent readers of version
  * N are unaffected by a commit of N+1 — the same isolation property the
  * Iceberg target gives the reference. Every manifest carries the table
  * schema and each part's own schema, so no read infers a schema from
  * parquet footers. All metadata ops are driver-side and O(#files); the
  * data itself moves only through executor-side distributed writes.
  */
final class SnapshotStore(spark: SparkSession, tableDir: String) {
  import SnapshotStore._

  private val root = new Path(tableDir)
  private def fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def log = graft.catalog.ManifestLog(new Path(root, "manifests"),
    spark.sparkContext.hadoopConfiguration, ".manifest")

  def currentVersion(): Option[Long] = log.head()

  /** Commit `df` as the next snapshot's base; returns the new version.
    * `retry` bounds transient commit failures (the reference's merge
    * client `queryRetryMaxAttempts`/`queryRetryBaseDuration`): a failed
    * attempt never claimed its manifest and drops its own data dir, so
    * the re-attempt recomputes the same version — retrying the whole
    * commit is idempotent.
    */
  def commit(
      df: DataFrame, maxRowsPerFile: Option[Int] = None,
      retry: graft.streaming.RetryPolicy = graft.streaming.RetryPolicy.Never
  ): Long = commitChecked(df, Nil, maxRowsPerFile, retry, expected = None).version

  /** Commit `df` as a merge-on-read delta keyed on `keys`: its rows
    * supersede every earlier row of the table with the same key (all of
    * a delta's rows for a key land, as MERGE's `WHEN NOT MATCHED INSERT`
    * lands the whole source). Writes only `df`; the target is neither
    * read nor rewritten. On an empty table the delta is the base.
    * `expectedVersion = Some(exp)` adds [[commitIf]]'s optimistic
    * concurrency check. A schema-widening delta evolves the table schema
    * ([[SchemaMigration.unionSchema]]); reads align every part to it.
    */
  def commitDelta(
      df: DataFrame, keys: Seq[String], maxRowsPerFile: Option[Int] = None,
      retry: graft.streaming.RetryPolicy = graft.streaming.RetryPolicy.Never,
      expectedVersion: Option[Option[Long]] = None
  ): Commit = {
    require(keys.nonEmpty, "a delta needs at least one key column")
    commitChecked(df, keys, maxRowsPerFile, retry, expectedVersion)
  }

  /** Shared commit body; `keys` empty = base commit. Each attempt
    * stages into its own `data/v<N>-<attempt>` dir, and the version is
    * claimed by an atomic exclusive create of its manifest, so a writer
    * that lost it to a racing commit fails with a
    * [[SnapshotStore.CommitConflictException]] and touches neither the
    * winner's manifest nor its files. `expected = Some(exp)` also checks the head at
    * attempt start, a cheap fail before staging; a conflict under a
    * retrying policy re-fails the attempt there, so retries never
    * re-stage data.
    */
  private def commitChecked(
      df: DataFrame, keys: Seq[String], maxRowsPerFile: Option[Int],
      retry: graft.streaming.RetryPolicy, expected: Option[Option[Long]]
  ): Commit = {
    graft.streaming.Retry.withRetry(retry) {
      val cur = currentVersion()
      expected.foreach(exp => if (cur != exp) throw new SnapshotStore.CommitConflictException(exp, cur))
      val v = cur.getOrElse(0L) + 1
      val prev = if (keys.isEmpty) None else cur.map(manifest)
      prev.foreach { p =>
        val missing = keys.filterNot(k => p.schema.fieldNames.contains(k) && df.columns.contains(k))
        require(missing.isEmpty,
          s"delta key column(s) ${missing.mkString(", ")} missing from the delta or from table $tableDir")
        p.deltas.headOption.foreach(d => require(d.keys == keys,
          s"delta keys ${keys.mkString(",")} differ from the chain's ${d.keys.mkString(",")} in $tableDir"))
      }
      val stage = new Path(root, s"data/v$v-${java.util.UUID.randomUUID().toString.replace("-", "")}")
      def drop(): Unit = try fs.delete(stage, true) catch { case scala.util.control.NonFatal(_) => () }
      val (written, m) = try {
        val writer = maxRowsPerFile.foldLeft(df.write.mode("errorifexists"))(
          (w, n) => w.option("maxRecordsPerFile", n.toLong))
        writer.parquet(stage.toString)
        val written = fs.listStatus(stage)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
        val part = Part(StructType(df.schema.map(_.copy(nullable = true))),
          if (prev.isEmpty) Nil else keys, written.map(s => s"data/${stage.getName}/${s.getPath.getName}").toSeq)
        (written, prev.fold(Manifest(part.schema, part, Nil))(p =>
          Manifest(SchemaMigration.unionSchema(p.schema, part.schema), p.base, p.deltas :+ part)))
      } catch { case scala.util.control.NonFatal(e) => drop(); throw e }
      if (!log.claim(v, m.render)) {
        drop()
        throw new SnapshotStore.CommitConflictException(expected.getOrElse(cur), currentVersion())
      }
      Commit(v, written.map(_.getLen).sum, m.deltas.size)
    }
  }

  /** Optimistic-concurrency commit — the table-format semantic behind
    * Iceberg's commit protocol: the caller states the version it BASED
    * its write on (`None` = expects an empty table); if another writer
    * has advanced the table since, the commit is refused with a
    * [[SnapshotStore.CommitConflictException]] BEFORE any data is
    * staged, and the caller re-reads + re-derives + retries. Plain
    * [[commit]] claims the next version the same way, so of two racing
    * plain commits the loser also fails with the conflict; concurrent
    * writers (compaction beside ingestion, two backfill shards racing)
    * use this to state what they derived from. The expectation is checked
    * before staging (cheap fail), and the version itself is claimed by
    * an atomic exclusive create of its manifest: a racing writer that
    * advanced the table after the check makes the claim fail, which is
    * the same conflict — a true compare-and-swap.
    */
  def commitIf(df: DataFrame, expectedVersion: Option[Long],
      maxRowsPerFile: Option[Int] = None,
      retry: graft.streaming.RetryPolicy = graft.streaming.RetryPolicy.Never): Long =
    commitChecked(df, Nil, maxRowsPerFile, retry, Some(expectedVersion)).version

  /** Read the current snapshot (None if the table has no commits). */
  def read(): Option[DataFrame] = currentVersion().map(readVersion)

  /** Time travel: read snapshot `v` as of its commit, with the schema its
    * manifest records. A version without deltas reads as one plain scan
    * of its base; otherwise the chain resolves as
    * `latest-per-key(deltas) ∪ base ⟕anti keys(deltas)`: one scan per
    * distinct delta schema (each aligned to the table schema), each
    * row's commit order taken from its file's `data/v<N>-<attempt>` dir, so the
    * plan does not grow with the chain.
    */
  def readVersion(v: Long): DataFrame = {
    val m = manifest(v)
    def scan(parts: Seq[Part]): DataFrame =
      spark.read.schema(parts.head.schema).parquet(parts.flatMap(_.files).map(absolute): _*)
    val base = scan(Seq(m.base))
    if (m.deltas.isEmpty) base
    else {
      val keys = m.deltas.head.keys
      val commitCol = Upsert.freshColumn(m.schema.fieldNames.toSeq, "__commit")
      val latestCol = Upsert.freshColumn(m.schema.fieldNames.toSeq :+ commitCol, "__latest")
      val stamped = m.schema.add(commitCol, LongType)
      val deltas = m.deltas.map(_.schema).distinct.map { s =>
        val d = scan(m.deltas.filter(_.schema == s))
        SchemaMigration.alignTo(d.withColumn(commitCol,
          regexp_extract(col("_metadata.file_path"), CommitDirPattern, 1).cast(LongType)), stamped)
      }.reduce(_ unionByName _)
      // null keys never match (MERGE's equi-join), so every such row stays
      val latest = deltas
        .withColumn(latestCol, max(col(commitCol)).over(Window.partitionBy(keys.map(col): _*)))
        .where(col(commitCol) === col(latestCol) || keys.map(k => col(k).isNull).reduce(_ || _))
      SchemaMigration.alignTo(latest, m.schema).unionByName(
        SchemaMigration.alignTo(base, m.schema).join(deltas.select(keys.map(col): _*), keys, "left_anti"))
    }
  }

  /** Version `v`'s manifest: table schema, base and delta chain. */
  def manifest(v: Long): Manifest =
    Manifest.parse(v, log.read(v), files => spark.read.parquet(files.map(absolute): _*).schema)

  def versions(): Seq[Long] = log.versions()

  /** Expire old snapshots, keeping the most recent `keepLast` — the
    * reference's snapshot expiration. Expired manifests go first, then
    * every older commit dir that no retained manifest lists: a retained
    * version's base and earlier deltas live in older dirs and stay.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    val vs = versions()
    val (expired, kept) = vs.splitAt(math.max(0, vs.size - math.max(keepLast, 1)))
    if (expired.isEmpty) return Seq.empty
    val liveDirs = kept.flatMap(v => manifest(v).files).map(f => f.substring(0, f.lastIndexOf('/'))).toSet
    expired.foreach(v => fs.delete(log.path(v), false))
    val dataRoot = new Path(root, "data")
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).map(_.getPath.getName).collect {
        case n @ DataDirName(d) if d.toLong < kept.head && !liveDirs(s"data/$n") => n
      }.foreach(n => fs.delete(new Path(dataRoot, n), true))
    expired
  }

  /** Delete data files not referenced by any live manifest — the
    * reference's orphan file removal. Returns the deleted paths.
    */
  def removeOrphanFiles(): Seq[String] = {
    // qualify both sides: listStatus returns scheme-qualified paths while
    // manifests store table-relative ones
    val live = versions().flatMap(v => manifest(v).files)
      .map(p => fs.makeQualified(new Path(root, p)).toString).toSet
    val dataRoot = new Path(root, "data")
    if (!fs.exists(dataRoot)) return Seq.empty
    val all = fs.listStatus(dataRoot).filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath).filter(_.isFile).map(_.getPath)
    }
    val orphans = all.filterNot(p => live.contains(fs.makeQualified(p).toString))
    orphans.foreach(p => fs.delete(p, false))
    // drop now-empty snapshot dirs
    fs.listStatus(dataRoot).filter(_.isDirectory)
      .filter(d => fs.listStatus(d.getPath).isEmpty)
      .foreach(d => fs.delete(d.getPath, false))
    orphans.map(_.toString).toSeq
  }

  private def absolute(rel: String): String = new Path(root, rel).toString
}

object SnapshotStore {
  private val DataDirName = "v([0-9]+)(?:-[0-9a-f]+)?".r
  /** A data file's commit version, from its `data/v<N>[-<attempt>]/` dir. */
  private val CommitDirPattern = "/data/v([0-9]+)(?:-[0-9a-f]+)?/[^/]+$"

  /** One commit's data files, as written with `schema`: the base
    * (`keys` empty) or a delta keyed on `keys`. Paths are table-relative
    * and name the commit's `data/v<N>[-<attempt>]` dir.
    */
  final case class Part(schema: StructType, keys: Seq[String], files: Seq[String])

  /** A version: the table schema, its base and its delta chain in
    * commit order. Rendered one entry per line: `schema <id> <json>` for
    * each distinct schema, `table <id>`, then per part `part <schema id>
    * <key>...` followed by its file paths (tab-separated).
    */
  final case class Manifest(schema: StructType, base: Part, deltas: Seq[Part]) {
    def files: Seq[String] = (base +: deltas).flatMap(_.files)

    def render: String = {
      val parts = base +: deltas
      val ids = (schema +: parts.map(_.schema)).distinct.zipWithIndex
      val id = ids.toMap
      (ids.map { case (s, i) => s"schema\t$i\t${s.json}" } ++ Seq(s"table\t${id(schema)}") ++
        parts.flatMap(p => (Seq("part", id(p.schema)) ++ p.keys).mkString("\t") +: p.files))
        .mkString("\n")
    }
  }

  object Manifest {
    /** Parse a rendered manifest. A manifest of bare paths (the layout
      * before schemas were recorded) is a base of those files, its
      * schema taken from `inferSchema`.
      */
    def parse(v: Long, body: String, inferSchema: Seq[String] => StructType): Manifest = {
      val schemas = scala.collection.mutable.Map.empty[Int, StructType]
      var table = Option.empty[StructType]
      val parts = scala.collection.mutable.ArrayBuffer.empty[Part]
      val bare = scala.collection.mutable.ArrayBuffer.empty[String]
      body.linesIterator.filter(_.nonEmpty).foreach { line =>
        line.split("\t", -1).toList match {
          case "schema" :: i :: json :: Nil =>
            schemas(i.toInt) = DataType.fromJson(json).asInstanceOf[StructType]
          case "table" :: i :: Nil => table = Some(schemas(i.toInt))
          case "part" :: i :: keys => parts += Part(schemas(i.toInt), keys, Vector.empty)
          case path :: Nil if parts.nonEmpty => parts(parts.size - 1) = parts.last.copy(files = parts.last.files :+ path)
          case path :: Nil => bare += path
          case _ => throw new IllegalStateException(s"malformed manifest v$v line: $line")
        }
      }
      if (parts.isEmpty) {
        val s = inferSchema(bare.toSeq)
        Manifest(s, Part(s, Nil, bare.toSeq), Nil)
      } else
        Manifest(table.getOrElse(throw new IllegalStateException(s"manifest v$v has no table schema")),
          parts.head, parts.tail.toSeq)
    }
  }

  /** A landed commit: its version, the bytes of the data files it wrote
    * and the delta chain length of the version it created.
    */
  final case class Commit(version: Long, bytes: Long, deltas: Int)

  /** The table advanced since the caller's base version — re-read,
    * re-derive, retry (the optimistic-concurrency contract).
    */
  final class CommitConflictException(expected: Option[Long], actual: Option[Long])
    extends RuntimeException(
      s"commit conflict: expected version ${expected.getOrElse("none")}, " +
        s"table is at ${actual.getOrElse("none")}")
}
