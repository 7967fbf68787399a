package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.Collections

/** `CALL graft.system.<proc>(...)` maintenance procedures — the SQL
  * surface Iceberg exposes for rewrite_data_files / expire_snapshots /
  * remove_orphan_files (the reference schedules exactly those against
  * its target, stream-spec-yaml-example.yaml:49-61), implemented over
  * Spark 4's ProcedureCatalog API. Each returns a one-row result scan
  * summarizing what it did.
  */
object GraftProcedures {

  val Namespace = "system"

  def list(): Array[Identifier] =
    Array("compact", "zorder", "expire_snapshots", "remove_orphans", "rollback",
      "index_compact", "index_vacuum", "index_rollback", "index_export",
      "index_reshard", "index_reshard_inplace", "wap_publish", "wap_abort",
      "tag", "drop_tag", "index_describe")
      .map(Identifier.of(Array(Namespace), _))

  /** A FEDERATION root ([[graft.operators.ShardedIndex]], shards.json
    * marker) maintains as its shard list — the ops runbook stays ONE
    * surface: compact/vacuum/describe/export on a federation dir fan
    * out per shard. Rollback is the exception: per-shard versions
    * advance independently, so a federation-level version number is
    * meaningless — roll shards back individually, by their own
    * histories.
    */
  private def shardDirs(spark: SparkSession, dir: String): Option[Seq[String]] =
    if (!graft.operators.ShardedIndex.isFederation(spark, dir)) None
    else {
      // per-shard fan-out must not interleave with an in-flight
      // in-place reshard: compact/vacuum would advance or expire the
      // pinned manifest versions mid-transition (review r15)
      graft.operators.ShardedIndex.requireSteady(spark, dir,
        "federation index procedures")
      Some((0 until graft.operators.ShardedIndex.shardCount(spark, dir))
        .map(graft.operators.ShardedIndex.shardDir(dir, _)))
    }

  def load(warehouse: Path, ident: Identifier): Option[UnboundProcedure] = {
    if (!ident.namespace().sameElements(Array(Namespace))) return None
    def tableDir(rel: String): String =
      rel.split('.').foldLeft(warehouse)((p, s) => new Path(p, s)).toString
    ident.name() match {
      case "compact" => Some(proc("compact",
        "rewrite small data files into consolidated ones (position deletes folded)",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("small_bytes", LongType).defaultValue("33554432").build(),
          ProcedureParameter.in("target_bytes", LongType).defaultValue("134217728").build()),
        StructType(Seq(StructField("files_before", IntegerType), StructField("files_after", IntegerType))),
        { (spark, in) =>
          val (b, a) = GraftMaintenance.compact(
            spark, tableDir(in.getUTF8String(0).toString), in.getLong(1), in.getLong(2))
          new GenericInternalRow(Array[Any](b, a))
        }))
      case "zorder" => Some(proc("zorder",
        "re-cluster the table in z-order over two numeric columns",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("x_col", StringType).build(),
          ProcedureParameter.in("y_col", StringType).build(),
          ProcedureParameter.in("bits", IntegerType).defaultValue("16").build(),
          ProcedureParameter.in("target_files", IntegerType).defaultValue("8").build()),
        StructType(Seq(StructField("files_before", IntegerType), StructField("files_after", IntegerType))),
        { (spark, in) =>
          val (b, a) = GraftMaintenance.zorder(
            spark, tableDir(in.getUTF8String(0).toString),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getInt(3), in.getInt(4))
          new GenericInternalRow(Array[Any](b, a))
        }))
      case "expire_snapshots" => Some(proc("expire_snapshots",
        "drop all but the most recent keep_last snapshots and sweep their files",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep_last", IntegerType).defaultValue("1").build()),
        StructType(Seq(StructField("expired_versions", IntegerType))),
        { (_, in) =>
          val io = new GraftManifestIO(
            new Path(tableDir(in.getUTF8String(0).toString)), GraftConf.hadoop)
          new GenericInternalRow(Array[Any](io.expireSnapshots(in.getInt(1)).size))
        }))
      case "rollback" => Some(proc("rollback",
        "roll the table back to an earlier snapshot (a new commit; history stays travelable)",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(StructField("restored_version", LongType), StructField("new_version", LongType))),
        { (_, in) =>
          val io = new GraftManifestIO(
            new Path(tableDir(in.getUTF8String(0).toString)), GraftConf.hadoop)
          val snap = io.rollbackTo(in.getLong(1))
          new GenericInternalRow(Array[Any](in.getLong(1), snap.version))
        }))
      case "remove_orphans" => Some(proc("remove_orphans",
        "delete data/delete files referenced by no live snapshot",
        Seq(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(StructField("removed", IntegerType))),
        { (_, in) =>
          val io = new GraftManifestIO(
            new Path(tableDir(in.getUTF8String(0).toString)), GraftConf.hadoop)
          new GenericInternalRow(Array[Any](io.removeOrphans().size))
        }))
      case "index_compact" => Some(proc("index_compact",
        "fold a serving index's per-delta small files (lexical or ANN — detected from the manifest)",
        Seq(ProcedureParameter.in("dir", StringType).build()),
        StructType(Seq(StructField("files_folded", IntegerType))),
        { (spark, in) =>
          val d = in.getUTF8String(0).toString
          def one(s: String) = graft.operators.IndexManifests.head(spark, s).compact(spark, s)
          val folded = shardDirs(spark, d).fold(one(d))(_.map(one).sum)
          new GenericInternalRow(Array[Any](folded))
        }))
      case "index_vacuum" => Some(proc("index_vacuum",
        "expire a serving index's stale manifests and sweep unreferenced files",
        Seq(
          ProcedureParameter.in("dir", StringType).build(),
          ProcedureParameter.in("keep_versions", IntegerType).defaultValue("2").build(),
          ProcedureParameter.in("grace_ms", LongType).defaultValue("3600000").build()),
        StructType(Seq(StructField("removed", IntegerType))),
        { (spark, in) =>
          val d = in.getUTF8String(0).toString
          def one(s: String) =
            graft.operators.IndexManifests.vacuum(spark, s, in.getInt(1), in.getLong(2))
          val removed = shardDirs(spark, d).fold(one(d))(_.map(one).sum)
          new GenericInternalRow(Array[Any](removed))
        }))
      case "tag" => Some(proc("tag",
        "pin an immutable named ref onto a snapshot (default: current) — readers use " +
          "VERSION AS OF '<name>'; expire_snapshots never expires a tagged version",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType).defaultValue("-1").build()),
        StructType(Seq(StructField("tagged_version", LongType))),
        { (_, in) =>
          val io = new GraftManifestIO(
            new Path(tableDir(in.getUTF8String(0).toString)), GraftConf.hadoop)
          val v = in.getLong(2) match {
            case -1L => io.currentVersion().getOrElse(
              throw new GraftCommitConflict("cannot tag: table has no committed snapshot"))
            case x => x
          }
          io.createTag(in.getUTF8String(1).toString, v)
          new GenericInternalRow(Array[Any](v))
        }))
      case "drop_tag" => Some(proc("drop_tag",
        "drop a named ref (releases its snapshot to expire_snapshots)",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("dropped", BooleanType))),
        { (_, in) =>
          val io = new GraftManifestIO(
            new Path(tableDir(in.getUTF8String(0).toString)), GraftConf.hadoop)
          new GenericInternalRow(Array[Any](
            io.dropTag(in.getUTF8String(1).toString)))
        }))
      case "wap_publish" => Some(proc("wap_publish",
        "publish a staged (WAP) write: cherry-pick its files onto the current head " +
          "as a normal OCC commit, then retire the staged ref",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("wap_id", StringType).build()),
        StructType(Seq(StructField("published_version", LongType))),
        { (_, in) =>
          val io = new GraftManifestIO(
            new Path(tableDir(in.getUTF8String(0).toString)), GraftConf.hadoop)
          new GenericInternalRow(Array[Any](
            io.publishWap(in.getUTF8String(1).toString).version))
        }))
      case "wap_abort" => Some(proc("wap_abort",
        "abort a staged (WAP) write: delete the ref and its staged-only files",
        Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("wap_id", StringType).build()),
        StructType(Seq(StructField("removed_files", IntegerType))),
        { (_, in) =>
          val io = new GraftManifestIO(
            new Path(tableDir(in.getUTF8String(0).toString)), GraftConf.hadoop)
          new GenericInternalRow(Array[Any](
            io.abortWap(in.getUTF8String(1).toString).size))
        }))
      case "index_describe" => Some(proc("index_describe",
        "one-row operational summary of a serving index: kind, head version, file/" +
          "tombstone/sidecar counts, and the kind-specific shape (buckets+positions / cells+pq)",
        Seq(ProcedureParameter.in("dir", StringType).build()),
        StructType(Seq(
          StructField("kind", StringType),
          StructField("version", LongType),
          StructField("data_files", IntegerType),
          StructField("tombstones", IntegerType),
          StructField("meta_dirs", IntegerType),
          StructField("shape", StringType))),
        { (spark, in) =>
          val d = in.getUTF8String(0).toString
          // a federation summarizes as one row: the kind from shard 0
          // (homogeneous by construction), counts summed, version = max head
          val fed = shardDirs(spark, d)
          val heads = fed.getOrElse(Seq(d)).map(graft.operators.IndexManifests.head(spark, _))
          val (kind, shape) = fed.fold((heads.head.kind, heads.head.shape))(ss =>
            (s"sharded-${heads.head.kind}", s"shards=${ss.size}"))
          new GenericInternalRow(Array[Any](UTF8String.fromString(kind),
            heads.map(_.version).max, heads.map(_.files.size).sum,
            heads.map(_.deletes.size).sum, heads.map(_.metaDirs.size).sum,
            UTF8String.fromString(shape)))
        }))
      case "index_export" => Some(proc("index_export",
        "export/promote a serving index's current version to a virgin destination " +
          "(build cluster -> serving cluster; content + stream stamps travel, history doesn't)",
        Seq(
          ProcedureParameter.in("src", StringType).build(),
          ProcedureParameter.in("dest", StringType).build()),
        StructType(Seq(StructField("committed_version", LongType))),
        { (spark, in) =>
          val s = in.getUTF8String(0).toString
          val d = in.getUTF8String(1).toString
          val v =
            // federation: the max exported per-shard head version (the
            // freshness watermark callers can compare against the
            // source); retry-after-partial-export sweeps half-exported
            // shard dirs before re-claiming (no marker = not serving)
            if (graft.operators.ShardedIndex.isFederation(spark, s))
              graft.operators.ShardedIndex.exportSharded(spark, s, d)
            else graft.operators.IndexManifests.exportIndex(spark, s, d)
          new GenericInternalRow(Array[Any](v))
        }))
      case "index_reshard" => Some(proc("index_reshard",
        "re-route a sharded federation to a new shard count at a new root " +
          "(postings/vectors re-route with no re-tokenization; marker lands last; " +
          "source keeps serving; stamps/champions/tombstones do not carry)",
        Seq(
          ProcedureParameter.in("src", StringType).build(),
          ProcedureParameter.in("dest", StringType).build(),
          ProcedureParameter.in("shards", IntegerType).build()),
        StructType(Seq(StructField("old_shards", IntegerType), StructField("new_shards", IntegerType))),
        { (spark, in) =>
          val s = in.getUTF8String(0).toString
          val d = in.getUTF8String(1).toString
          val ns = in.getInt(2)
          require(graft.operators.ShardedIndex.isFederation(spark, s),
            s"$s is not a sharded federation — reshard re-routes an existing " +
              "federation's layout; build one with buildSharded first")
          val old = graft.operators.ShardedIndex.shardCount(spark, s)
          graft.operators.ShardedIndex.reshard(spark, s, d, ns)
          new GenericInternalRow(Array[Any](old, ns))
        }))
      case "index_reshard_inplace" => Some(proc("index_reshard_inplace",
        "grow a federation's shard count IN PLACE along the " +
          "route-stable axis (a strict multiple), moving only the route-diff: " +
          "stayers are never rebuilt or copied, leavers build the new shards " +
          "and tombstone out of the old ones, serving stays pinned to the " +
          "pre-reshard snapshot until the atomic layout flip; champions " +
          "rebuild automatically when the source served approximate",
        Seq(
          ProcedureParameter.in("dir", StringType).build(),
          ProcedureParameter.in("shards", IntegerType).build()),
        StructType(Seq(StructField("old_shards", IntegerType), StructField("new_shards", IntegerType))),
        { (spark, in) =>
          val d = in.getUTF8String(0).toString
          val ns = in.getInt(1)
          require(graft.operators.ShardedIndex.isFederation(spark, d),
            s"$d is not a sharded federation — reshard grows an existing " +
              "federation's layout; build one with buildSharded first")
          val old = graft.operators.ShardedIndex.shardCount(spark, d)
          graft.operators.ShardedIndex.reshardInPlace(spark, d, ns)
          new GenericInternalRow(Array[Any](old, ns))
        }))
      case "index_rollback" => Some(proc("index_rollback",
        "roll a serving index back to an earlier manifest version (a new commit; " +
          "content, tombstones and stream stamps rewind together)",
        Seq(
          ProcedureParameter.in("dir", StringType).build(),
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(StructField("restored_version", LongType), StructField("new_version", LongType))),
        { (spark, in) =>
          val d = in.getUTF8String(0).toString
          val v = in.getLong(1)
          require(!graft.operators.ShardedIndex.isFederation(spark, d),
            s"$d is a sharded federation: per-shard versions advance independently, " +
              "so a federation-level rollback target is meaningless — roll back each " +
              "shard dir by its own history (CALL index_rollback('<dir>/shard=i', v))")
          val nv = graft.operators.IndexManifests.rollback(spark, d, v)
          new GenericInternalRow(Array[Any](v, nv))
        }))
      case _ => None
    }
  }

  private def proc(
      procName: String, desc: String, params: Seq[ProcedureParameter],
      outSchema: StructType, body: (SparkSession, InternalRow) => InternalRow): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val row = body(SparkSession.active, input)
          Collections.singletonList(new LocalScan {
            override def rows(): Array[InternalRow] = Array(row)
            override def readSchema(): StructType = outSchema
            override def description(): String = s"graft.system.$procName result"
          }: Scan).iterator()
        }
      }
    }
}
