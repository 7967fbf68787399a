package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** InternalRow <-> parquet codec for the Graft table format, built on
  * the public parquet-hadoop Group API. A production deployment would
  * wire Spark's vectorized parquet reader here; that class is
  * `private[sql]`, so this connector keeps to the public API — the
  * FORMAT on disk is identical (standard parquet, readable by any
  * engine), only the per-row decode loop is scalar. All executor-side;
  * one file per write task, streamed row-by-row in both directions.
  *
  * Type coverage matches the engine's data model: boolean, int, long,
  * float, double, string, date (INT32/DATE), timestamp (INT64
  * micros/UTC), decimal (INT64 for precision<=18, FIXED(16) above),
  * binary, and one-level arrays of {int, long, float, double, string}
  * via standard 3-level LIST encoding.
  */
object GraftParquetIO {

  /** Field-metadata key listing a column's FORMER names (`ALTER TABLE
    * ... RENAME COLUMN` support in a name-mapped format): readers
    * resolve a requested column against data files written before the
    * rename by falling back through this list, newest first — the same
    * reconciliation Iceberg gets from field IDs and external parquet
    * gets from a name-mapping table (ReferenceOps `name_mapping`).
    */
  val FormerNamesKey = "graft.former-names"

  def formerNames(f: StructField): Seq[String] =
    if (f.metadata.contains(FormerNamesKey)) f.metadata.getStringArray(FormerNamesKey).toSeq
    else Nil

  def toMessageType(schema: StructType, name: String = "graft"): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(toParquetField(f.name, f.dataType)))
    b.named(name)
  }

  private def toParquetField(name: String, dt: DataType): Type = dt match {
    case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(name)
    case IntegerType => Types.optional(PrimitiveTypeName.INT32).named(name)
    case LongType => Types.optional(PrimitiveTypeName.INT64).named(name)
    case FloatType => Types.optional(PrimitiveTypeName.FLOAT).named(name)
    case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE).named(name)
    case StringType => Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case DateType => Types.optional(PrimitiveTypeName.INT32)
      .as(LogicalTypeAnnotation.dateType()).named(name)
    case TimestampType => Types.optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)).named(name)
    // NTZ: same micros-as-int64 physical layout, isAdjustedToUTC=false —
    // exactly how Spark's own parquet writer distinguishes the two
    case TimestampNTZType => Types.optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)).named(name)
    case d: DecimalType if d.precision <= 18 =>
      Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case d: DecimalType =>
      Types.optional(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY).length(16)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case BinaryType => Types.optional(PrimitiveTypeName.BINARY).named(name)
    case ArrayType(elem, _) =>
      Types.optionalList().optionalElement(primitiveElement(elem)).named(name)
    case other => throw new UnsupportedOperationException(
      s"graft format does not support column type $other (column '$name')")
  }

  private def primitiveElement(dt: DataType): PrimitiveTypeName = dt match {
    case IntegerType => PrimitiveTypeName.INT32
    case LongType => PrimitiveTypeName.INT64
    case FloatType => PrimitiveTypeName.FLOAT
    case DoubleType => PrimitiveTypeName.DOUBLE
    case StringType => PrimitiveTypeName.BINARY
    case other => throw new UnsupportedOperationException(
      s"graft format arrays support primitive elements only, got $other")
  }

  /** Streaming writer for one data file; tracks per-column min/max/null
    * stats in the columns' internal domain as it writes, so the
    * [[FileEntry]] is exact without a second pass or a footer re-read.
    */
  final class FileWriter(fsPath: Path, schema: StructType, conf: Configuration,
      bloomCols: Seq[String] = Nil, bloomBits: Int = GraftBloom.DefaultBits) {
    private val message = toMessageType(schema)
    private val factory = new SimpleGroupFactory(message)
    private val writer: ParquetWriter[Group] = ExampleParquetWriter.builder(fsPath)
      .withType(message)
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    private var rowCount = 0L
    private val nulls = new Array[Long](schema.length)
    private val mins = new Array[Any](schema.length)
    private val maxs = new Array[Any](schema.length)
    // per-bloom'd-column builder, ordinal-resolved; unsupported types
    // are silently untracked (their pruning stays stats-only)
    private val blooms: Array[(Int, GraftBloom.Builder)] =
      bloomCols.map(c => schema.fieldNames.indexOf(c)).filter(_ >= 0)
        .map(i => (i, new GraftBloom.Builder(bloomBits))).toArray

    def write(row: InternalRow): Unit = {
      val g = factory.newGroup()
      var i = 0
      while (i < schema.length) {
        val f = schema.fields(i)
        if (row.isNullAt(i)) nulls(i) += 1
        else {
          addValue(g, i, f.dataType, row)
          trackStats(i, f.dataType, row)
        }
        i += 1
      }
      var b = 0
      while (b < blooms.length) {
        val (ord, builder) = blooms(b)
        if (!row.isNullAt(ord)) {
          val dt = schema.fields(ord).dataType
          GraftBloom.hashPair(row.get(ord, dt), dt).foreach(builder.add)
        }
        b += 1
      }
      writer.write(g)
      rowCount += 1
    }

    private def addValue(g: Group, i: Int, dt: DataType, row: InternalRow): Unit = dt match {
      case BooleanType => g.add(i, row.getBoolean(i))
      case IntegerType | DateType => g.add(i, row.getInt(i))
      case LongType | TimestampType | TimestampNTZType => g.add(i, row.getLong(i))
      case FloatType => g.add(i, row.getFloat(i))
      case DoubleType => g.add(i, row.getDouble(i))
      case StringType => g.add(i, Binary.fromString(row.getUTF8String(i).toString))
      case d: DecimalType if d.precision <= 18 =>
        g.add(i, row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case d: DecimalType =>
        val unscaled = row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.unscaledValue()
        val bytes = unscaled.toByteArray
        val fixed = new Array[Byte](16)
        // sign-extend into the 16-byte big-endian fixed buffer
        val pad: Byte = if (unscaled.signum() < 0) -1 else 0
        java.util.Arrays.fill(fixed, pad)
        System.arraycopy(bytes, 0, fixed, 16 - bytes.length, bytes.length)
        g.add(i, Binary.fromConstantByteArray(fixed))
      case BinaryType => g.add(i, Binary.fromConstantByteArray(row.getBinary(i)))
      case ArrayType(elem, _) =>
        val arr = row.getArray(i)
        val list = g.addGroup(i)
        var j = 0
        while (j < arr.numElements()) {
          val slot = list.addGroup(0)
          if (!arr.isNullAt(j)) elem match {
            case IntegerType => slot.add(0, arr.getInt(j))
            case LongType => slot.add(0, arr.getLong(j))
            case FloatType => slot.add(0, arr.getFloat(j))
            case DoubleType => slot.add(0, arr.getDouble(j))
            case StringType => slot.add(0, Binary.fromString(arr.getUTF8String(j).toString))
            case other => throw new UnsupportedOperationException(s"array element $other")
          }
          j += 1
        }
      case other => throw new UnsupportedOperationException(s"graft write: $other")
    }

    private def trackStats(i: Int, dt: DataType, row: InternalRow): Unit = {
      val v: Any = dt match {
        case BooleanType => row.getBoolean(i)
        case IntegerType | DateType => row.getInt(i)
        case LongType | TimestampType | TimestampNTZType => row.getLong(i)
        case FloatType => row.getFloat(i)
        case DoubleType => row.getDouble(i)
        case StringType =>
          val s = row.getUTF8String(i).toString
          if (s.length > 64) null else s // unbounded values: drop the stat
        case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
        case _ => null // binary / arrays carry no stats
      }
      if (v == null) { mins(i) = StatsDropped; maxs(i) = StatsDropped }
      else if (mins(i) != StatsDropped) {
        if (mins(i) == null || compareStat(v, mins(i)) < 0) mins(i) = v
        if (maxs(i) == null || compareStat(v, maxs(i)) > 0) maxs(i) = v
      }
    }

    /** Close the file and return its manifest entry (relative path is
      * filled in by the caller).
      */
    def finish(relPath: String): FileEntry = {
      writer.close()
      val stats = schema.fields.zipWithIndex.map { case (f, i) =>
        val dropped = mins(i) == StatsDropped
        f.name -> ColStats(
          min = if (dropped || mins(i) == null) None else Some(mins(i).toString),
          max = if (dropped || maxs(i) == null) None else Some(maxs(i).toString),
          nulls = nulls(i))
      }.toMap
      val fs = fsPath.getFileSystem(conf)
      val bytes = fs.getFileStatus(fsPath).getLen
      // key-bloom sidecar next to the data file; staged like the data
      // file itself (referenced only once the commit wins, orphan-swept
      // otherwise)
      val bloomRel =
        if (blooms.isEmpty || !relPath.startsWith("data/")) None
        else {
          val rel = GraftBloom.sidecarFor(relPath)
          val p = new Path(new Path(fsPath.getParent.getParent, "blooms"),
            rel.stripPrefix("blooms/"))
          val payload = GraftBloom.serialize(blooms.toSeq.map { case (ord, b) =>
            schema.fields(ord).name -> b.result })
          val out = fs.create(p, true)
          try out.write(payload) finally out.close()
          Some(rel)
        }
      FileEntry(relPath, rowCount, bytes, stats, bloom = bloomRel)
    }

    def rows: Long = rowCount
    def abort(): Unit = {
      try writer.close() catch { case _: Throwable => () }
      try fsPath.getFileSystem(conf).delete(fsPath, false) catch { case _: Throwable => () }
    }
  }

  private object StatsDropped

  private def compareStat(a: Any, b: Any): Int = (a, b) match {
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case _ => 0
  }

  /** Streaming reader over one data file, projecting `requested`
    * columns. Columns absent from the FILE schema (added later by
    * schema evolution) read as null — name-based reconciliation, the
    * Iceberg rule — and a long column the file wrote as int (a table
    * widened since) reads widened. `filePath` values feed the `_file`
    * metadata column; `posColOrdinal` feeds `_pos` (physical row index
    * — positions advance over deleted rows too). `deletedPositions`
    * (sorted) are skipped: the merge-on-read path applying position
    * deletes.
    */
  final class FileReader(
      fsPath: Path, requested: StructType, conf: Configuration,
      fileColOrdinal: Int = -1, posColOrdinal: Int = -1,
      deletedPositions: Array[Long] = Array.emptyLongArray) {

    private val fileSchema: MessageType = {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(fsPath, conf))
      try rd.getFooter.getFileMetaData.getSchema finally rd.close()
    }
    private val dataFields = requested.fields.zipWithIndex
      .filter { case (_, i) => i != fileColOrdinal && i != posColOrdinal }
    // projection = requested data columns present in the file (under the
    // current OR a former name — RENAME COLUMN reconciliation), in
    // requested order; absent columns null-fill
    private val present: Array[(StructField, String)] = dataFields.flatMap { case (f, _) =>
      (f.name +: formerNames(f)).find(fileSchema.containsField).map(n => (f, n))
    }
    private val projection: MessageType = {
      val b = Types.buildMessage()
      present.foreach { case (_, n) =>
        b.addField((fileSchema: org.apache.parquet.schema.GroupType).getType(n)) }
      b.named(fileSchema.getName)
    }
    // group field index for each requested ordinal; -1 -> null-fill
    private val groupIdx: Array[Int] = {
      val byName = present.map(_._1.name).zipWithIndex.toMap
      requested.fields.map(f => byName.getOrElse(f.name, -1))
    }
    private val widened: Array[Boolean] = requested.fields.map(f => f.dataType == LongType &&
      present.find(_._1.name == f.name).exists { case (_, n) =>
        val t = (fileSchema: org.apache.parquet.schema.GroupType).getType(n)
        t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32 })

    private val readConf = new Configuration(conf)
    readConf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    private val reader: ParquetReader[Group] =
      ParquetReader.builder(new GroupReadSupport(), fsPath).withConf(readConf).build()

    private val fileName = UTF8String.fromString(fsPath.toString)
    private var pos = -1L

    /** Next live row or null at end-of-file (deleted positions skip). */
    def next(): InternalRow = {
      while (true) {
        val g = reader.read()
        if (g == null) return null
        pos += 1
        if (deletedPositions.isEmpty || java.util.Arrays.binarySearch(deletedPositions, pos) < 0) {
          val out = new GenericInternalRow(requested.length)
          var i = 0
          while (i < requested.length) {
            if (i == fileColOrdinal) out.update(i, fileName)
            else if (i == posColOrdinal) out.update(i, pos)
            else {
              val gi = groupIdx(i)
              if (gi >= 0 && g.getFieldRepetitionCount(gi) > 0)
                out.update(i, if (widened(i)) g.getInteger(gi, 0).toLong
                  else readValue(g, gi, requested.fields(i).dataType))
              // else leave null
            }
            i += 1
          }
          return out
        }
      }
      null // unreachable
    }

    private def readValue(g: Group, gi: Int, dt: DataType): Any = dt match {
      case BooleanType => g.getBoolean(gi, 0)
      case IntegerType | DateType => g.getInteger(gi, 0)
      case LongType | TimestampType | TimestampNTZType => g.getLong(gi, 0)
      case FloatType => g.getFloat(gi, 0)
      case DoubleType => g.getDouble(gi, 0)
      case StringType => UTF8String.fromBytes(g.getBinary(gi, 0).getBytes)
      case d: DecimalType if d.precision <= 18 =>
        Decimal.createUnsafe(g.getLong(gi, 0), d.precision, d.scale)
      case d: DecimalType =>
        val bytes = g.getBinary(gi, 0).getBytes
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale), d.precision, d.scale)
      case BinaryType => g.getBinary(gi, 0).getBytes
      case ArrayType(elem, _) =>
        val list = g.getGroup(gi, 0)
        val n = list.getFieldRepetitionCount(0)
        val out = new Array[Any](n)
        var j = 0
        while (j < n) {
          val slot = list.getGroup(0, j)
          out(j) =
            if (slot.getFieldRepetitionCount(0) == 0) null
            else elem match {
              case IntegerType => slot.getInteger(0, 0)
              case LongType => slot.getLong(0, 0)
              case FloatType => slot.getFloat(0, 0)
              case DoubleType => slot.getDouble(0, 0)
              case StringType => UTF8String.fromBytes(slot.getBinary(0, 0).getBytes)
              case other => throw new UnsupportedOperationException(s"array element $other")
            }
          j += 1
        }
        new GenericArrayData(out): ArrayData
      case other => throw new UnsupportedOperationException(s"graft read: $other")
    }

    def close(): Unit = reader.close()
  }
}
