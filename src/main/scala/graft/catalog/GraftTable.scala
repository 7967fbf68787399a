package graft.catalog

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A Graft-format table: Spark DSv2 `Table` with batch read, batch
  * write (append / truncate / overwrite), metadata columns, and
  * group-based (copy-on-write) row-level operations — so ANSI
  * `MERGE INTO`, `UPDATE`, and `DELETE` SQL run against it through
  * Spark's own `RewriteMergeIntoTable` / `RewriteUpdateTable` /
  * `RewriteDeleteFromTable` analyzer rules. This supplies, in-repo and
  * jar-free, the table-format MERGE semantics the reference delegates
  * to Iceberg via Trino (/root/reference/src/main/scala/main.scala:34-40,
  * 121-126: `IcebergS3CatalogWriter`, `JdbcMergeServiceClient`).
  *
  * Scale design:
  *  - reads plan one partition per data file (a production build would
  *    split by row group) with manifest min/max file skipping
  *    ([[StatsPruner]]) and column-pruned parquet projection;
  *  - copy-on-write MERGE/UPDATE/DELETE rewrites ONLY the files that
  *    contain matching rows: the COW scan implements
  *    `SupportsRuntimeV2Filtering` on the `_file` metadata column, so
  *    Spark's runtime group filtering narrows the rewrite to affected
  *    files via a dynamic `IN` subquery — on a 100 TB table a MERGE
  *    touching one day rewrites that day's files, not the table;
  *  - commits are optimistic against the manifest version with
  *    validation that no concurrently-committed writer replaced the
  *    same files ([[GraftManifestIO.commit]]).
  *
  * Reads are pinned to the snapshot current at `loadTable` time, so a
  * query sees one consistent version end-to-end (time travel loads a
  * specific version the same way).
  */
final class GraftTable(
    tableName: String,
    val tableDir: String,
    pinned: Option[Long] = None,
    wapRef: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  @transient lazy val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
  @transient lazy val snapshot: Option[GraftSnapshot] =
    wapRef.map(io.readWap)
      .orElse(pinned.map(io.readSnapshot))
      .orElse(io.currentSnapshot())

  override def name(): String = tableName
  override def schema(): StructType = snapshot.map(_.schema).getOrElse(new StructType())
  override def properties(): util.Map[String, String] =
    snapshot.map(_.properties).getOrElse(Map.empty[String, String]).asJava
  override def version(): String = snapshot.map(_.version.toString).orNull

  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ,
    TableCapability.BATCH_WRITE,
    TableCapability.MICRO_BATCH_READ,
    TableCapability.TRUNCATE,
    TableCapability.OVERWRITE_BY_FILTER)

  /** Identity partition columns (empty = unpartitioned). */
  def partitionCols: Seq[String] =
    snapshot.flatMap(_.properties.get(GraftTable.PartitionColsProp))
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray

  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftTable.FileColumn, GraftTable.PosColumn)

  def liveFiles(): Seq[FileEntry] = snapshot.map(_.files).getOrElse(Nil)
  def absolutePath(e: FileEntry): String = new Path(new Path(tableDir), e.path).toString
  def absolutePath(rel: String): String = new Path(new Path(tableDir), rel).toString

  /** Row-level operation mode: copy-on-write (default) rewrites
    * affected files; merge-on-read writes position deletes + inserts
    * and applies them at scan time (`graft.merge.mode` property).
    */
  def mergeOnRead: Boolean =
    snapshot.flatMap(_.properties.get(GraftTable.MergeModeProp)).contains("merge-on-read")

  /** Partition columns with their types, for key-grouped planning. */
  def partitionColTypes: Seq[(String, org.apache.spark.sql.types.DataType)] = {
    val sch = schema()
    partitionCols.flatMap(c => sch.fields.find(_.name == c).map(f => (c, f.dataType)))
  }

  /** (absolute data path, entry, delete context) for scans: applicable
    * position-delete files plus (seq-newer) equality-delete files with
    * the resolved key field.
    */
  def scanFiles(): Seq[(String, FileEntry, GraftReadDeletes)] = {
    val snap = snapshot
    val sch = schema()
    snap.map(_.files).getOrElse(Nil).map { e =>
      val eq = snap.get.eqDeletesFor(e)
      require(eq.forall(d => d.cols.length == 1 && d.cols == eq.head.cols),
        s"equality deletes must share one key column, got ${eq.map(_.cols)}")
      val eqField = eq.headOption.flatMap(d => sch.fields.find(_.name == d.cols.head))
      require(eq.isEmpty || eqField.isDefined,
        s"equality-delete key column ${eq.head.cols.head} missing from table schema")
      (absolutePath(e), e, GraftReadDeletes(
        snap.get.deletesFor(e.path).map(d => absolutePath(d.path)),
        eq.map(d => absolutePath(d.path)), eqField))
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(this, info)

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () =>
      if (mergeOnRead) new GraftDeltaOperation(this, info.command)
      else new GraftRowLevelOperation(this, info.command)
}

object GraftTable {
  /** The table at `tableDir` as a DataFrame through this reader, with
    * no catalog in front: its head, or snapshot `version` (None when
    * the table has no commit).
    */
  def read(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      version: Option[Long] = None): Option[org.apache.spark.sql.DataFrame] = {
    val table = new GraftTable(tableDir, tableDir, pinned = version)
    table.snapshot.map(_ => org.apache.spark.sql.GraftShim.dataFrame(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        table, None, None, CaseInsensitiveStringMap.empty())))
  }

  /** Snapshot property holding the identity partition column list. */
  val PartitionColsProp = "graft.partition-cols"

  /** Session conf routing appends into a staged (WAP) snapshot —
    * Iceberg's `spark.wap.id` pattern.
    */
  val WapIdConf = "spark.graft.wap.id"

  /** The active session's WAP id, if any — resolved on the driver at
    * write-plan time (one definition so the builder call sites can't
    * drift; `conf.get(key, null)` returns null when unset, hence the
    * Option around the VALUE).
    */
  private[catalog] def sessionWapId(): Option[String] =
    Option(org.apache.spark.sql.SparkSession.active.conf.get(WapIdConf, null))
      .filter(_.nonEmpty)

  /** Snapshot property selecting copy-on-write vs merge-on-read. */
  val MergeModeProp = "graft.merge.mode"

  /** `_file` metadata column: absolute path of the data file a row
    * came from — the COW group identity (Iceberg exposes the same).
    */
  object FileColumn extends MetadataColumn {
    override def name: String = "_file"
    override def dataType: StringType.type = StringType
    override def isNullable: Boolean = false
  }

  /** `_pos` metadata column: physical row index within the data file —
    * together with `_file` it is the merge-on-read row id (Iceberg v2
    * position-delete identity).
    */
  object PosColumn extends MetadataColumn {
    override def name: String = "_pos"
    override def dataType: org.apache.spark.sql.types.LongType.type =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
  }
}

/** Regular read path: column pruning reaches the parquet projection,
  * pushed filters drive manifest min/max file skipping (and are
  * reported as residual, so Spark still evaluates them row-wise —
  * skipping is I/O-only, never load-bearing for correctness).
  */
final class GraftScanBuilder(
    table: GraftTable,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownAggregates {

  private var requested: StructType = table.schema()
  private var skipping: Array[Filter] = Array.empty
  private var aggValues: Option[Seq[Any]] = None

  override def pruneColumns(s: StructType): Unit = requested = s

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    skipping = filters
    filters // all residual: file skipping only, Spark re-evaluates rows
  }
  override def pushedFilters(): Array[Filter] = skipping

  /** Metadata-only aggregates: count(*)/count(col)/min/max answered
    * from manifest stats, no data read. Refused under any filter,
    * group-by, delete, or missing stat ([[GraftMetadataAgg]]).
    */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (skipping.nonEmpty) return false // aggregate is over filtered rows
    aggValues = table.snapshot.flatMap(GraftMetadataAgg.tryCompute(_, agg))
    // the scan must report the pushed-aggregate output schema
    if (aggValues.isDefined) requested = GraftMetadataAgg.outputSchema(agg, table.schema())
    aggValues.isDefined
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushAggregation(agg)
  }

  override def build(): Scan = aggValues match {
    case Some(vals) =>
      // Spark pruned `requested` to the aggregate output schema
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals.toArray)
      new GraftLocalAggScan(requested, Array[InternalRow](row))
    case None =>
      val schema = table.schema()
      val kept = table.scanFiles().filter { case (_, e, _) =>
        skipping.forall(f => StatsPruner.mayMatch(f, e, schema)) }
      new GraftScan(bloomPrune(kept, schema), requested, table.partitionColTypes,
        streaming = Some((table.tableDir, options.getBoolean("ignoreChanges", false))))
  }

  /** Point-lookup file skipping via the per-file key blooms
    * ([[GraftBloom]]): for pushed `=`/`IN` filters on bloom-indexed
    * columns, drop files whose bloom proves the value(s) absent.
    * min/max stats cannot prune uniform high-cardinality keys; this
    * can. Sidecars load lazily on the driver (LRU-cached; files are
    * immutable so entries never invalidate) and every unknown — no
    * sidecar, unhashable value, IN wider than 64 — keeps the file.
    */
  private def bloomPrune(
      files: Seq[(String, FileEntry, GraftReadDeletes)],
      schema: StructType): Seq[(String, FileEntry, GraftReadDeletes)] = {
    val bloomed = table.snapshot.map(s => GraftBloom.columns(s.properties)).getOrElse(Nil).toSet
    if (bloomed.isEmpty || files.isEmpty) return files
    val points: Seq[(String, Seq[Any])] = skipping.toSeq.collect {
      case org.apache.spark.sql.sources.EqualTo(a, v) if bloomed.contains(a) && v != null =>
        (a, Seq(v))
      case org.apache.spark.sql.sources.In(a, vs)
          if bloomed.contains(a) && vs != null && vs.nonEmpty && vs.length <= 64 &&
            !vs.contains(null) =>
        (a, vs.toSeq)
    }
    val conf = GraftConf.hadoop
    points.foldLeft(files) { case (fs, (col, vals)) =>
      schema.fields.find(_.name == col).map(_.dataType) match {
        case None => fs
        case Some(dt) =>
          val hashes = vals.flatMap(v => GraftBloom.hashPairExternal(v, dt))
          if (hashes.size != vals.size) fs // an unhashable value may match anywhere
          else fs.filter { case (_, e, _) =>
            GraftBloom.mayContainAny(table.tableDir, e, col, dt, hashes, conf) }
      }
    }
  }
}

/** Driver-side scan returning the metadata-aggregate row. */
final class GraftLocalAggScan(schema: StructType, override val rows: Array[InternalRow])
  extends LocalScan {
  override def readSchema(): StructType = schema
  override def description(): String = "GraftLocalAggScan[metadata-only]"
}

final class GraftScan(
    files: Seq[(String, FileEntry, GraftReadDeletes)], requested: StructType,
    partitionColTypes: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil,
    streaming: Option[(String, Boolean)] = None)
  extends Scan with Batch with SupportsReportStatistics with SupportsReportPartitioning
  with SupportsRuntimeV2Filtering {

  /** Files actually planned: narrowed at runtime by dynamic partition
    * pruning ([[filter]]); statistics/partitioning report the planning-
    * time set (computed before runtime filters resolve).
    */
  @volatile private var live: Seq[(String, FileEntry, GraftReadDeletes)] = files

  override def readSchema(): StructType = requested
  override def toBatch: Batch = this

  /** Dynamic partition pruning, DSv2-style (what Iceberg's Spark scan
    * does): advertise the identity partition columns; at execution
    * Spark hands over the join's build-side values as IN/= predicates
    * and the scan drops files whose partition stats provably exclude
    * them. Purely an I/O optimization — the join still evaluates every
    * surviving row, so conservative pruning is safe by construction.
    * Skipped under storage-partitioned-join planning: the key-grouped
    * partitioning already reported to Spark must not change shape.
    */
  override def filterAttributes(): Array[NamedReference] =
    partitionColTypes.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c._1)
        : NamedReference).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    if (keyedGroups.isDefined) return // SPJ: partition shape is load-bearing
    val partCols = partitionColTypes.map(_._1).toSet
    val schema = org.apache.spark.sql.types.StructType(
      partitionColTypes.map { case (n, dt) =>
        org.apache.spark.sql.types.StructField(n, dt) })
    predicates.foreach { p =>
      GraftScan.colInValues(p, partCols).foreach { case (c, vs) =>
        live = live.filter { case (_, e, _) =>
          StatsPruner.mayMatchAnyInternal(c, vs, e, schema) }
      }
    }
  }

  /** readStream.table(...): micro-batches of files added per snapshot
    * version ([[GraftMicroBatchStream]]).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val (dir, ignoreChanges) = streaming.getOrElse(
      throw new UnsupportedOperationException("this scan cannot stream"))
    new GraftMicroBatchStream(dir, requested, ignoreChanges)
  }
  override def description(): String =
    s"GraftScan[files=${live.size}, columns=${requested.fieldNames.mkString(",")}" +
      s"${if (live.size != files.size) ", runtime-filtered" else ""}]"

  /** Exact row/byte totals from the manifest (deleted rows subtracted
    * as an upper-bound estimate) — lets Catalyst's CBO auto-broadcast
    * small Graft tables.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    // physical rows; position deletes make this a slight overestimate,
    // which is the safe direction for broadcast decisions
    private val rows = files.map(_._2.rows).sum
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_._2.bytes).sum)
  }

  /** One key per identity-partition value when every file pins a single
    * value (min == max in its stats): enables Spark's storage-
    * partitioned joins (spark.sql.sources.v2.bucketing.enabled) —
    * co-partitioned Graft tables join WITHOUT a shuffle.
    */
  private lazy val keyedGroups: Option[Seq[(Seq[Any], Seq[(String, FileEntry, GraftReadDeletes)])]] = {
    // grouping trades read parallelism (one split per partition VALUE)
    // for shuffle-free joins — only worth it when the session opted
    // into storage-partitioned joins
    val spjEnabled =
      try org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
      catch { case _: Throwable => false }
    if (partitionColTypes.isEmpty || !spjEnabled) None
    else {
      val keyed = files.map { f =>
        val key = partitionColTypes.map { case (c, dt) =>
          f._2.stats.get(c) match {
            case Some(st) if st.nulls == f._2.rows => Some(null)
            case Some(st) if st.min.isDefined && st.min == st.max && st.nulls == 0 =>
              GraftMetadataAgg.internalValue(st.min.get, dt)
            case _ => None
          }
        }
        if (key.exists(_.isEmpty)) None else Some((key.map(_.get), f))
      }
      if (keyed.exists(_.isEmpty)) None
      else Some(keyed.flatten.groupBy(_._1).toSeq
        .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
        .map { case (k, fs) => (k, fs.map(_._2)) })
    }
  }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedGroups match {
      case Some(groups) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          partitionColTypes.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(c._1)
              : org.apache.spark.sql.connector.expressions.Expression).toArray,
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(files.size)
    }

  override def planInputPartitions(): Array[InputPartition] = keyedGroups match {
    case Some(groups) =>
      groups.map { case (key, fs) =>
        GraftInputPartition(
          fs.map(f => (f._1, f._2.path, f._3)),
          Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(key.toArray)))
          : InputPartition
      }.toArray
    case None =>
      live.map { case (abs, e, dels) =>
        GraftInputPartition(Seq((abs, e.path, dels)), None): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(requested,
      requested.fieldNames.indexOf("_file"), requested.fieldNames.indexOf("_pos"),
      GraftConf.serializable)
}

object GraftScan {
  /** `(column, values)` of an IN/`=` predicate over one of `cols`;
    * None for any other shape (ignored — runtime pruning is
    * best-effort, never load-bearing).
    */
  private[catalog] def colInValues(p: Predicate, cols: Set[String]): Option[(String, Seq[Any])] = {
    val ref = p.children().collectFirst {
      case r: NamedReference if r.fieldNames().length == 1 && cols.contains(r.fieldNames()(0)) =>
        r.fieldNames()(0)
    }
    ref.flatMap { c =>
      p.name() match {
        case "IN" | "=" =>
          val lits = p.children().collect {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value()
          }
          // every non-ref child must be a literal, else unknown shape
          if (lits.length == p.children().length - 1) Some((c, lits.toSeq)) else None
        case _ => None
      }
    }
  }
}

/** Per-data-file delete context handed to readers: applicable
  * position-delete file paths, applicable equality-delete file paths
  * (strictly newer data sequence), and the resolved key field for the
  * latter (single-column; the upsert merge key).
  */
final case class GraftReadDeletes(
    pos: Seq[String] = Nil,
    eq: Seq[String] = Nil,
    eqField: Option[org.apache.spark.sql.types.StructField] = None)

/** One or more data files (same partition value when grouped) +
  * their delete context; `key` present only under key-grouped planning.
  */
final case class GraftInputPartition(
    chunks: Seq[(String, String, GraftReadDeletes)],
    key: Option[InternalRow])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key.orNull
}

final case class GraftReaderFactory(requested: StructType, fileColOrdinal: Int, posColOrdinal: Int,
    serConf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    val conf = serConf.value.value
    new PartitionReader[InternalRow] {
      private val it = gp.chunks.iterator
      private var reader: GraftParquetIO.FileReader = _
      private var row: InternalRow = _
      // equality-delete state for the OPEN chunk: key set, the key's
      // ordinal in the (possibly extended) read schema, and whether
      // the schema was extended (key column not in the projection —
      // read it anyway for filtering, then trim it back off)
      private var eqKeys: java.util.HashSet[Any] = _
      private var eqOrdinal: Int = -1
      private var eqType: org.apache.spark.sql.types.DataType = _
      private var trimTo: Int = -1
      private def openNext(): Boolean = {
        if (reader != null) { reader.close(); reader = null }
        if (!it.hasNext) return false
        val (abs, rel, dels) = it.next()
        GraftReadMetrics.fileOpened()
        // executor-side: load the position deletes applicable to this file
        val deleted = GraftDeletes.positionsFor(dels.pos, rel, conf)
        if (dels.eq.isEmpty) {
          eqKeys = null; eqOrdinal = -1; trimTo = -1
          reader = new GraftParquetIO.FileReader(
            new Path(abs), requested, conf, fileColOrdinal, posColOrdinal, deleted)
        } else {
          val field = dels.eqField.get
          eqKeys = GraftEqDeletes.keysFor(dels.eq, field, conf)
          eqType = field.dataType
          val have = requested.fieldNames.indexOf(field.name)
          val readSchema =
            if (have >= 0) { eqOrdinal = have; trimTo = -1; requested }
            else { eqOrdinal = requested.length; trimTo = requested.length
              StructType(requested.fields :+ field) }
          reader = new GraftParquetIO.FileReader(
            new Path(abs), readSchema, conf, fileColOrdinal, posColOrdinal, deleted)
        }
        true
      }
      private def liveRow(r: InternalRow): InternalRow = {
        if (eqKeys != null) {
          val k = r.get(eqOrdinal, eqType)
          if (k != null && eqKeys.contains(k)) return null // shadowed by a newer upsert
        }
        if (trimTo < 0) r
        else {
          val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(trimTo)
          var i = 0
          while (i < trimTo) {
            out.update(i, r.get(i, requested.fields(i).dataType)); i += 1
          }
          out
        }
      }
      override def next(): Boolean = {
        while (true) {
          if (reader == null && !openNext()) return false
          val raw = reader.next()
          if (raw != null) {
            val live = liveRow(raw)
            if (live != null) { row = live; return true }
            // eq-deleted: keep scanning this file
          } else {
            if (reader != null) { reader.close(); reader = null }
            if (!it.hasNext) return false
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

/** How a batch write's commit folds its new files into the manifest. */
sealed trait GraftCommitMode
object GraftCommitMode {
  case object Append extends GraftCommitMode
  case object Truncate extends GraftCommitMode
  /** Copy-on-write group replacement: drop exactly `replaced()` (the
    * files the row-level scan planned), add the rewritten files.
    */
  final case class ReplaceFiles(replaced: () => Seq[String]) extends GraftCommitMode
}

final class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  private var mode: GraftCommitMode = GraftCommitMode.Append
  override def truncate(): WriteBuilder = { mode = GraftCommitMode.Truncate; this }
  override def build(): Write =
    new GraftWrite(table.tableDir, info.schema(), mode, operation = mode match {
      case GraftCommitMode.Truncate => "overwrite"
      case _ => "append"
    }, partitionCols = table.partitionCols, maxRowsPerFile = GraftWrite.maxRows(table),
      bloomCols = GraftWrite.bloomCols(table), bloomBits = GraftWrite.bloomBits(table),
      // WAP routing (Iceberg's spark.wap.id pattern): with the session
      // conf set, this write STAGES under the ref instead of committing
      // — captured here on the driver at plan time, like Iceberg does
      wapId = GraftTable.sessionWapId())
}

final class GraftWrite(
    tableDir: String, writeSchema: StructType, mode: GraftCommitMode, operation: String,
    partitionCols: Seq[String] = Nil, maxRowsPerFile: Long = Long.MaxValue,
    bloomCols: Seq[String] = Nil, bloomBits: Int = GraftBloom.DefaultBits,
    wapId: Option[String] = None)
  extends Write with BatchWrite with RequiresDistributionAndOrdering {

  override def toBatch: BatchWrite = this
  override def description(): String = s"GraftWrite[$operation]"

  /** Partitioned tables cluster rows by the partition columns before
    * the write, so each partition value lands in one task → one file
    * (Spark shuffles only when partitionCols is non-empty).
    */
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if (partitionCols.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        partitionCols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.column(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray)
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
  override def distributionStrictlyRequired(): Boolean = false

  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
    GraftDataWriterFactory(tableDir, writeSchema, java.util.UUID.randomUUID().toString,
      partitionCols.map(c => writeSchema.fieldNames.indexOf(c)).filter(_ >= 0),
      maxRowsPerFile, GraftConf.serializable, bloomCols, bloomBits)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = messages.collect { case GraftCommitMessage(es) => es }.flatten.toSeq
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    wapId match {
      case Some(id) =>
        // write-audit-publish: stage the files under the ref instead of
        // committing. Append-shaped only — the audit pattern gates NEW
        // data; a truncate/replace under a WAP id is a misconfiguration
        // that must fail loudly, never silently rewrite the main table
        require(mode == GraftCommitMode.Append,
          s"WAP (spark conf ${GraftTable.WapIdConf}) supports append writes only; " +
            s"got $operation — unset the conf for table rewrites")
        io.stageWap(id, operation, entries.map(_.copy(seq = GraftManifestIO.PendingSeq)))
        return
      case None => ()
    }
    io.commit(operation) { base =>
      val schema = base.map(_.schema).getOrElse(writeSchema)
      val props = base.map(_.properties).getOrElse(Map.empty)
      mode match {
        case GraftCommitMode.Append =>
          // appended files carry no deletes; existing deletes stay
          // valid; new entries take this commit's seq (PendingSeq) so
          // they are NOT shadowed by older equality deletes
          GraftManifestIO.Content(schema, props,
            base.map(_.files).getOrElse(Nil) ++
              entries.map(_.copy(seq = GraftManifestIO.PendingSeq)),
            base.map(_.deletes).getOrElse(Nil),
            base.map(_.eqDeletes).getOrElse(Nil))
        case GraftCommitMode.Truncate =>
          GraftManifestIO.Content(schema, props,
            entries.map(_.copy(seq = GraftManifestIO.PendingSeq)), Nil, Nil)
        case GraftCommitMode.ReplaceFiles(replaced) =>
          val gone = replaced().toSet
          val live = base.map(_.files).getOrElse(Nil)
          val missing = gone -- live.map(_.path).toSet
          if (missing.nonEmpty)
            throw new GraftCommitConflict(
              s"row-level $operation conflicts: concurrently replaced file(s) ${missing.mkString(", ")}")
          // rewritten groups were read through their deletes, so those
          // deletes are now folded in; deletes covering ONLY replaced
          // files drop, others narrow their target list
          val remainingDeletes = base.map(_.deletes).getOrElse(Nil)
            .map(d => d.copy(targets = d.targets.filterNot(gone.contains)))
            .filter(_.targets.nonEmpty)
          val remainingFiles = live.filterNot(f => gone.contains(f.path))
          // equality deletes already applied to the rewritten groups'
          // rows fold in likewise; an entry survives only while some
          // remaining OLDER data file could still match it
          val remainingEq = base.map(_.eqDeletes).getOrElse(Nil)
            .filter(d => remainingFiles.exists(_.seq < d.seq))
          GraftManifestIO.Content(schema, props,
            remainingFiles ++ entries.map(_.copy(seq = GraftManifestIO.PendingSeq)),
            remainingDeletes, remainingEq)
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftMaintenance.dropEntries(tableDir, messages.toSeq.flatMap {
      case GraftCommitMessage(es) => es
      case _ => Nil
    })
}

object GraftWrite {
  /** Table property bounding rows per data file (file rolling). */
  val MaxRowsProp = "graft.write.max-rows-per-file"

  def maxRows(table: GraftTable): Long =
    table.snapshot.flatMap(_.properties.get(MaxRowsProp)).map(_.toLong)
      .getOrElse(Long.MaxValue)

  def bloomCols(table: GraftTable): Seq[String] =
    table.snapshot.map(s => GraftBloom.columns(s.properties)).getOrElse(Nil)

  def bloomBits(table: GraftTable): Int =
    table.snapshot.map(s => GraftBloom.bits(s.properties)).getOrElse(GraftBloom.DefaultBits)
}

final case class GraftCommitMessage(entries: Seq[FileEntry]) extends WriterCommitMessage

final case class GraftDataWriterFactory(
    tableDir: String, schema: StructType, writeId: String, partitionOrdinals: Seq[Int],
    maxRowsPerFile: Long = Long.MaxValue,
    serConf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] = GraftConf.serializable,
    bloomCols: Seq[String] = Nil, bloomBits: Int = GraftBloom.DefaultBits)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(tableDir, schema, s"part-$writeId-$partitionId-$taskId",
      partitionOrdinals, maxRowsPerFile, serConf.value.value, bloomCols, bloomBits)
}

/** One parquet file per non-empty task — or, for partitioned tables,
  * one per partition value seen by the task (the clustered write
  * distribution sends each value to one task, so the normal case is
  * still one file per value table-wide). Open-writer count is bounded
  * to 1024 per task as a misconfiguration guard.
  */
final class GraftDataWriter(
    tableDir: String, schema: StructType, filePrefix: String, partitionOrdinals: Seq[Int],
    maxRowsPerFile: Long = Long.MaxValue,
    conf: Configuration = new Configuration(),
    bloomCols: Seq[String] = Nil, bloomBits: Int = GraftBloom.DefaultBits)
  extends DataWriter[InternalRow] {

  private val open = scala.collection.mutable.LinkedHashMap.empty[String, (String, GraftParquetIO.FileWriter)]
  private val finished = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
  private var fileSeq = 0

  private def writerFor(row: InternalRow): GraftParquetIO.FileWriter = {
    val key =
      if (partitionOrdinals.isEmpty) ""
      else partitionOrdinals.map(i =>
        if (row.isNullAt(i)) "null"
        else String.valueOf(row.get(i, schema.fields(i).dataType))).mkString(" ")
    val (rel, w) = open.getOrElseUpdate(key, newWriter())
    if (w.rows >= maxRowsPerFile) {
      // roll: a hot partition value (or unpartitioned firehose) splits
      // into bounded files instead of one unbounded one
      finished += w.finish(rel)
      val fresh = newWriter()
      open.update(key, fresh)
      fresh._2
    } else w
  }

  private def newWriter(): (String, GraftParquetIO.FileWriter) = {
    require(open.size < 1024,
      s"more than 1024 partition values in one write task — repartition by $partitionOrdinals")
    val rel = s"data/$filePrefix-$fileSeq.parquet"
    fileSeq += 1
    (rel, new GraftParquetIO.FileWriter(new Path(new Path(tableDir), rel), schema, conf,
      bloomCols, bloomBits))
  }

  override def write(row: InternalRow): Unit = writerFor(row).write(row)
  override def commit(): WriterCommitMessage =
    GraftCommitMessage(finished.toSeq ++ open.values.map { case (rel, w) => w.finish(rel) }.toSeq)
  override def abort(): Unit = {
    open.values.foreach(_._2.abort())
    val fs = new Path(tableDir).getFileSystem(conf)
    finished.foreach { e =>
      try fs.delete(new Path(new Path(tableDir), e.path), false)
      catch { case _: Throwable => () }
      e.bloom.foreach(b =>
        try fs.delete(new Path(new Path(tableDir), b), false)
        catch { case _: Throwable => () })
    }
  }
  override def close(): Unit = ()
}

/** Group-based (copy-on-write) row-level operation. One instance
  * coordinates the scan and the write of a single MERGE/UPDATE/DELETE:
  * the write's commit replaces exactly the files the (runtime-
  * filtered) scan planned. Without runtime filtering the scan plans
  * the full load-time snapshot and the operation degrades to a
  * whole-table rewrite — correct, just not pruned.
  */
final class GraftRowLevelOperation(table: GraftTable, cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  private val builtScans = mutable.ArrayBuffer.empty[GraftCowScan]

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOperation[$cmd]"

  /** `_file` must flow through the row-level plan: it is both the
    * group identity for runtime filtering and what the commit uses to
    * know which files to drop.
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // The COW scan must return COMPLETE rows of every group it keeps
      // (unchanged rows are carried over by the rewrite plan), so only
      // honor projection — Spark asks for all data columns + _file.
      private var requested: StructType = new StructType(
        table.schema().fields :+ org.apache.spark.sql.types.StructField(
          "_file", StringType, nullable = false))
      override def pruneColumns(s: StructType): Unit = requested = s
      override def build(): Scan = {
        val s = new GraftCowScan(table.scanFiles(), requested)
        builtScans.synchronized { builtScans += s }
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftWrite(
        table.tableDir, info.schema(),
        GraftCommitMode.ReplaceFiles(() => replacedFiles()),
        operation = cmd.toString.toLowerCase,
        partitionCols = table.partitionCols,
        maxRowsPerFile = GraftWrite.maxRows(table),
        bloomCols = GraftWrite.bloomCols(table), bloomBits = GraftWrite.bloomBits(table),
        // carry the WAP conf so a row-level write under a staging id
        // REFUSES loudly (append-only gate) instead of silently
        // bypassing the audit and landing on main
        wapId = GraftTable.sessionWapId())
    }

  /** Files the operation's scan actually planned: a runtime-filtered
    * scan narrows to affected groups; otherwise the full load-time
    * snapshot is rewritten.
    */
  private def replacedFiles(): Seq[String] = builtScans.synchronized {
    builtScans.find(_.wasFiltered).orElse(builtScans.headOption)
      .map(_.plannedEntries.map(_._2.path))
      .getOrElse(table.liveFiles().map(_.path))
  }
}

/** COW scan: a [[GraftScan]] that can additionally be narrowed at
  * runtime by Spark's row-level group filtering (a dynamic
  * `_file IN (...)` predicate produced from the matching-rows
  * subquery).
  */
final class GraftCowScan(initial: Seq[(String, FileEntry, GraftReadDeletes)], requested: StructType)
  extends Scan with Batch with SupportsRuntimeV2Filtering {

  @volatile private var files: Seq[(String, FileEntry, GraftReadDeletes)] = initial
  @volatile private[catalog] var wasFiltered: Boolean = false
  private[catalog] def plannedEntries: Seq[(String, FileEntry, GraftReadDeletes)] = files

  override def readSchema(): StructType = requested
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCowScan[files=${files.size}${if (wasFiltered) ", runtime-group-filtered" else ""}]"

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def filter(predicates: Array[Predicate]): Unit = {
    val allowed = predicates.flatMap(GraftCowScan.inValues).flatten.toSet
    if (allowed.nonEmpty || predicates.exists(p => GraftCowScan.inValues(p).exists(_.isEmpty))) {
      files = files.filter { case (abs, _, _) => allowed.contains(abs) }
      wasFiltered = true
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map { case (abs, e, dels) =>
      GraftInputPartition(Seq((abs, e.path, dels)), None): InputPartition }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(requested,
      requested.fieldNames.indexOf("_file"), requested.fieldNames.indexOf("_pos"),
      GraftConf.serializable)
}

object GraftCowScan {
  /** Extract the string values of an `IN`/`=` predicate over `_file`;
    * None = unrecognized shape (ignore the predicate, keep all files).
    * An empty Some means a recognized predicate with zero values —
    * nothing matched, all groups filter out.
    */
  private[catalog] def inValues(p: Predicate): Option[Seq[String]] = {
    val overFile = p.children().exists {
      case r: NamedReference => r.fieldNames().sameElements(Array("_file"))
      case _ => false
    }
    if (!overFile) return None
    p.name() match {
      case "IN" | "=" =>
        Some(p.children().toSeq.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] if l.dataType() == StringType =>
            l.value() match {
              case v: UTF8String => v.toString
              case v: String => v
              case other => String.valueOf(other)
            }
        })
      case _ => None
    }
  }
}
