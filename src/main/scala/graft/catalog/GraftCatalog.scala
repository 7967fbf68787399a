package graft.catalog

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Filesystem-backed Spark catalog for Graft-format tables — the
  * jar-free stand-in for the Iceberg catalog the reference writes
  * through (/root/reference/src/main/scala/main.scala:34-40). Register
  * with:
  * {{{
  *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * then `CREATE TABLE graft.db.t ...`, `INSERT INTO`, `MERGE INTO`,
  * `UPDATE`, `DELETE FROM`, and `VERSION AS OF` time travel all run as
  * plain Spark SQL.
  *
  * Layout: `warehouse/<ns...>/<table>/` where a table directory is any
  * directory whose manifest log ([[GraftManifestIO]]) holds a version.
  * All catalog operations are driver-side metadata ops, O(#files) at
  * worst.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _
  private def conf = GraftConf.hadoop
  private def fs = warehouse.getFileSystem(conf)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      sys.error(s"catalog $name requires option 'warehouse'"))
    warehouse = new Path(wh)
    fs.mkdirs(warehouse)
  }

  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => new Path(p, s))
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), ident.name())
  private def isTableDir(p: Path): Boolean = new GraftManifestIO(p, conf).currentVersion().nonEmpty

  // ---- tables ----

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val dir = nsPath(ns)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(dir).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(ns, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(fullName(ident), tablePath(ident).toString)
  }

  /** `VERSION AS OF <v>` time travel — and, for a NON-numeric ref,
    * the audit read of a staged (WAP) snapshot:
    * `VERSION AS OF 'nightly-load-42'` sees base ∪ staged files
    * without the main table ever serving them (publish/abort through
    * `CALL graft.system.wap_publish/wap_abort`).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val io = new GraftManifestIO(tablePath(ident), conf)
    version.toLongOption match {
      case Some(v) =>
        if (!io.versions().contains(v))
          throw new NoSuchTableException(ident)
        new GraftTable(fullName(ident), tablePath(ident).toString, pinned = Some(v))
      case None =>
        // named refs: a staged (WAP) audit snapshot, else a tag
        if (io.wapExists(version))
          new GraftTable(fullName(ident), tablePath(ident).toString, wapRef = Some(version))
        else if (io.tagExists(version))
          new GraftTable(fullName(ident), tablePath(ident).toString,
            pinned = Some(io.readTag(version)))
        else throw new NoSuchTableException(ident)
    }
  }

  /** `TIMESTAMP AS OF` time travel: latest snapshot committed at or
    * before the given micros timestamp (commit wall-clock is stamped
    * into each manifest's properties).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val io = new GraftManifestIO(tablePath(ident), conf)
    val atOrBefore = io.versions().filter { v =>
      io.readSnapshot(v).properties.get(GraftManifestIO.CommittedAtMs)
        .forall(_.toLong * 1000L <= timestampMicros)
    }
    if (atOrBefore.isEmpty) throw new NoSuchTableException(ident)
    new GraftTable(fullName(ident), tablePath(ident).toString, pinned = Some(atOrBefore.max))
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // identity partitioning only: writers split files per partition
    // value (clustered write distribution), scans prune exactly via the
    // per-file min==max stats. Time/bucket transforms: derive a column.
    val partCols = partitions.map { t =>
      if (t.name() != "identity" || t.references().length != 1 ||
          t.references()(0).fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"graft tables support identity partitioning only, got $t")
      val col = t.references()(0).fieldNames()(0)
      require(schema.fieldNames.contains(col), s"unknown partition column $col")
      col
    }
    val props = properties.asScala.toMap ++
      (if (partCols.nonEmpty) Map(GraftTable.PartitionColsProp -> partCols.mkString(",")) else Map.empty)
    val io = new GraftManifestIO(tablePath(ident), conf)
    io.commit("create") { _ => GraftManifestIO.Content(schema, props, Nil) }
    new GraftTable(fullName(ident), tablePath(ident).toString)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val io = new GraftManifestIO(tablePath(ident), conf)
    io.commit("alter") { base =>
      val cur = base.getOrElse(sys.error("alter of uncommitted table"))
      var schema = cur.schema
      var props = cur.properties
      // Former-name chains make the name-based format rename-safe: a
      // reader resolves a logical column in pre-rename files through
      // its recorded former names. That means a former name is still a
      // LIVE physical name in old data files — letting a new or renamed
      // column take it would resolve two logical columns onto the same
      // physical field (duplicate parquet projection, old data silently
      // surfacing under the new column). Guard every name grant against
      // every chain, not just current schema names (Iceberg's
      // name-mapping conflict rule, re-expressed for chains).
      //
      // DeleteColumn has the same hazard one step removed: dropping a
      // field discards its chain, but the dropped field's data still
      // sits in old files under its current AND former names — a later
      // ADD of any of those names would resurrect it. Dropped names are
      // therefore TOMBSTONED in a table property and reserved forever
      // (Iceberg avoids this with field ids; a name-based format must
      // refuse the name instead — documented trade-off).
      def formerNameOwner(sch: StructType, name: String): Option[String] =
        sch.fields.collectFirst {
          case f if GraftParquetIO.formerNames(f).contains(name) => f.name
        }
      def tombstones: Set[String] =
        props.get(GraftCatalog.DroppedNamesProp)
          .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
      def guardName(name: String, what: String): Unit = {
        formerNameOwner(schema, name).foreach { owner =>
          throw new IllegalArgumentException(
            s"cannot $what $name: it is a former name of $owner and still " +
              s"names that column's data in files written before the rename")
        }
        if (tombstones.contains(name))
          throw new IllegalArgumentException(
            s"cannot $what $name: a dropped column's data still sits in old files " +
              s"under that physical name (name-based format; dropped names are reserved)")
      }
      changes.foreach {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1, "graft supports top-level columns only")
          val name = add.fieldNames()(0)
          require(!schema.fieldNames.contains(name), s"column exists: $name")
          guardName(name, "add column")
          schema = StructType(schema.fields :+
            StructField(name, add.dataType(), nullable = true))
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames().length == 1, "graft supports top-level columns only")
          val name = del.fieldNames()(0)
          val dropped = schema.fields.find(_.name == name)
            .map(f => f.name +: GraftParquetIO.formerNames(f)).getOrElse(Nil)
          schema = StructType(schema.fields.filterNot(_.name == name))
          if (dropped.nonEmpty)
            props += (GraftCatalog.DroppedNamesProp ->
              (tombstones ++ dropped).toSeq.sorted.mkString(","))
        case rn: TableChange.RenameColumn =>
          require(rn.fieldNames().length == 1, "graft supports top-level columns only")
          val oldName = rn.fieldNames()(0)
          require(!props.get(GraftTable.PartitionColsProp).exists(_.split(",").contains(oldName)),
            s"cannot rename partition column $oldName")
          require(schema.fieldNames.contains(oldName), s"no such column: $oldName")
          require(!schema.fieldNames.contains(rn.newName()), s"column exists: ${rn.newName()}")
          // the new name must not be claimed by ANOTHER field's former
          // chain or by a dropped column's tombstone; reclaiming a name
          // from the renamed field's OWN chain (rename a→b→a) is safe —
          // in every file that physical name belongs to this very
          // field — and strips it from the chain
          formerNameOwner(schema, rn.newName()).foreach { owner =>
            if (owner != oldName) throw new IllegalArgumentException(
              s"cannot rename $oldName to ${rn.newName()}: it is a former name of $owner " +
                s"and still names that column's data in files written before the rename")
          }
          if (tombstones.contains(rn.newName()))
            throw new IllegalArgumentException(
              s"cannot rename $oldName to ${rn.newName()}: a dropped column's data still " +
                s"sits in old files under that physical name (dropped names are reserved)")
          // name-based format: the new field records its former names so
          // readers resolve data files written BEFORE the rename
          schema = StructType(schema.fields.map { f =>
            if (f.name != oldName) f
            else {
              val prior = GraftParquetIO.formerNames(f)
              val chain = (oldName +: prior).distinct.filterNot(_ == rn.newName())
              val md = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putStringArray(GraftParquetIO.FormerNamesKey, chain.toArray)
                .build()
              f.copy(name = rn.newName(), metadata = md)
            }
          })
        case set: TableChange.SetProperty =>
          // the dropped-name tombstones are integrity metadata, not user
          // config: SET on the key would let ALTER erase the reservations
          // and a later ADD COLUMN resurrect old-file data — the exact
          // hazard the tombstones exist to prevent
          if (GraftCatalog.GuardedProps.contains(set.property()))
            throw new IllegalArgumentException(
              s"property ${set.property()} is managed by the catalog and cannot be set")
          props += (set.property() -> set.value())
        case rm: TableChange.RemoveProperty =>
          if (GraftCatalog.GuardedProps.contains(rm.property()))
            throw new IllegalArgumentException(
              s"property ${rm.property()} is managed by the catalog and cannot be unset")
          props -= rm.property()
        case other => throw new UnsupportedOperationException(s"graft alter: $other")
      }
      GraftManifestIO.Content(schema, props, cur.files, cur.deletes, cur.eqDeletes)
    }
    new GraftTable(fullName(ident), tablePath(ident).toString)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(tablePath(ident), true)

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    fs.mkdirs(nsPath(to.namespace()))
    if (!fs.rename(tablePath(from), tablePath(to)))
      sys.error(s"rename $from -> $to failed")
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: (ident.namespace() :+ ident.name())).mkString(".")

  // ---- procedures: CALL <catalog>.system.<proc>(...) ----

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(Array(GraftProcedures.Namespace))) GraftProcedures.list()
    else Array.empty

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident).getOrElse(
      throw new RuntimeException(s"unknown procedure $ident (see ${GraftProcedures.list().mkString(", ")})"))

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    val dir = nsPath(ns)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(dir).filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => ns :+ s.getPath.getName)
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || (fs.exists(nsPath(ns)) && !isTableDir(nsPath(ns)))

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Map.empty[String, String].asJava
  }

  override def createNamespace(ns: Array[String], metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(ns) && ns.nonEmpty) throw new NamespaceAlreadyExistsException(ns)
    fs.mkdirs(nsPath(ns))
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    if (!cascade && (listTables(ns).nonEmpty || listNamespaces(ns).nonEmpty))
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(ns)
    fs.delete(nsPath(ns), true)
  }
}

object GraftCatalog {
  /** Comma-joined names of dropped columns (current + former at drop
    * time): still-live physical names in old data files, reserved
    * against ADD/RENAME forever (see the alterTable guard).
    */
  val DroppedNamesProp = "graft.dropped-names"

  /** Catalog-managed properties that ALTER TABLE SET/UNSET TBLPROPERTIES
    * must not touch (the tombstone list guards data integrity).
    */
  val GuardedProps: Set[String] = Set(DroppedNamesProp)
}
