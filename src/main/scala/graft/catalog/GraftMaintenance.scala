package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance procedures for Graft tables — the engine-side
  * equivalents of the Iceberg procedures the reference schedules
  * against its target (rewrite_data_files / expire_snapshots /
  * remove_orphan_files; reference
  * stream-spec-yaml-example.yaml:49-61 + main.scala:121-126).
  */
object GraftMaintenance {

  /** Compact data files smaller than `smallBytes` into consolidated
    * files of roughly `targetBytes`, committing the rewrite as one
    * OCC snapshot that replaces exactly the compacted inputs — large
    * files are untouched (copy-on-write at file granularity, like
    * Iceberg's rewrite_data_files with a min-input filter).
    *
    * The rewrite itself is distributed: the small files are read as a
    * normal parquet scan (Graft data files are standard parquet) and
    * re-written through the engine's file writer, one file per
    * partition of the coalesced plan. The files it reads (the small
    * data files and each position-delete and key-set file applied to
    * them) count once each in [[GraftReadMetrics]]. Returns (filesBefore,
    * filesAfter); no-ops when fewer than two small files exist.
    */
  def compact(
      spark: SparkSession, tableDir: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20): (Int, Int) = {
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    val base = io.currentSnapshot().getOrElse(return (0, 0))
    val small = base.files.filter(_.bytes < smallBytes)
    if (small.size < 2) return (base.files.size, base.files.size)

    val schema = base.schema
    val nOut = math.max(1, math.ceil(small.map(_.bytes).sum.toDouble / targetBytes).toInt)
    val smallSet = small.map(_.path).toSet
    val applicableDeletes = base.deletes.filter(_.targets.exists(smallSet.contains))
    val applicableEq = base.eqDeletes.filter(d => small.exists(_.seq < d.seq))
    val df = readThroughDeletes(spark, tableDir, base.schema, small, applicableDeletes, applicableEq)
      .coalesce(nOut)

    val newEntries = writeEntries(df, tableDir, schema, "compact", base.properties)
    GraftReadMetrics.filesOpened(small.size + (applicableDeletes.map(_.path) ++
      applicableEq.map(_.path)).distinct.size)
    // a conflict means nothing of this rewrite landed (a racing writer
    // replaced its inputs): its files would be orphans, so they go now
    try replaceCommit(io, "compact", schema, small.map(_.path).toSet, newEntries)
    catch { case e: GraftCommitConflict => dropEntries(tableDir, newEntries); throw e }
    (base.files.size, base.files.size - small.size + newEntries.size)
  }

  /** Re-cluster the WHOLE table in z-order over two numeric columns —
    * Iceberg's rewrite_data_files(strategy => 'sort', z-order) over the
    * Graft format. Range-partitioned by z-value into `targetFiles`
    * files and sorted within each, so the manifest min/max stats become
    * tight boxes and 2-D predicates prune most files
    * ([[graft.operators.Layout]] supplies the interleave math). Applies
    * and folds any position deletes; commits as one OCC replace of the
    * full file set. The files it reads count once each in
    * [[GraftReadMetrics]], as [[compact]]'s do. Returns (filesBefore,
    * filesAfter).
    */
  def zorder(
      spark: SparkSession, tableDir: String, xCol: String, yCol: String,
      bits: Int = 16, targetFiles: Int = 8): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    val base = io.currentSnapshot().getOrElse(return (0, 0))
    if (base.files.isEmpty) return (0, 0)
    val schema = base.schema
    val clustered = graft.operators.Layout
      .withZ(readThroughDeletes(spark, tableDir, schema, base.files, base.deletes, base.eqDeletes),
        xCol, yCol, bits)
      .repartitionByRange(targetFiles, col("_z"))
      .sortWithinPartitions("_z")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val newEntries = writeEntries(clustered, tableDir, schema, "zorder", base.properties)
    GraftReadMetrics.filesOpened(base.files.size + (base.deletes.map(_.path) ++
      base.eqDeletes.map(_.path)).distinct.size)
    replaceCommit(io, "zorder", schema, base.files.map(_.path).toSet, newEntries)
    (base.files.size, newEntries.size)
  }

  /** Read `files` as one DataFrame with their position deletes applied
    * via a `_metadata.row_index` anti-join (native parquet source —
    * Graft data files are standard parquet).
    */
  private[catalog] def readThroughDeletes(
      spark: SparkSession, tableDir: String, schema: org.apache.spark.sql.types.StructType,
      files: Seq[FileEntry], deletes: Seq[DeleteEntry],
      eqDeletes: Seq[EqDeleteEntry] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val posApplied = {
      val raw = spark.read.schema(schema)
        .parquet(files.map(f => new Path(new Path(tableDir), f.path).toString): _*)
      if (deletes.isEmpty) raw
      else {
        val delDf = spark.read.schema(GraftDeletes.Schema)
          .parquet(deletes.map(d => new Path(new Path(tableDir), d.path).toString): _*)
        raw
          .withColumn("__rel", regexp_extract(col("_metadata.file_path"), "(data/[^/]*)$", 1))
          .withColumn("__pos", col("_metadata.row_index"))
          .join(delDf.withColumnRenamed("file", "__rel").withColumnRenamed("pos", "__pos"),
            Seq("__rel", "__pos"), "left_anti")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      }
    }
    if (eqDeletes.isEmpty) posApplied
    else {
      // equality shadowing is per (data file seq, delete seq): group
      // input files by their applicable delete subset and anti-join
      // each group against its union of keys (usually one group — the
      // common compaction of all-older files)
      require(eqDeletes.forall(d => d.cols.length == 1 && d.cols == eqDeletes.head.cols),
        s"equality deletes must share one key column: ${eqDeletes.map(_.cols)}")
      val keyCol = eqDeletes.head.cols.head
      files.groupBy(f => eqDeletes.filter(_.seq > f.seq).map(_.path).sorted).toSeq
        .map { case (delPaths, group) =>
          val raw = readThroughDeletes(spark, tableDir, schema, group,
            deletes.filter(_.targets.exists(group.map(_.path).contains)))
          if (delPaths.isEmpty) raw
          else {
            // the key column's own schema: no inference job, and a
            // data file serves as a key set by projection
            val keys = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(schema(keyCol))))
              .parquet(delPaths.map(p => new Path(new Path(tableDir), p).toString): _*)
            raw.join(keys, Seq(keyCol), "left_anti")
          }
        }
        .reduce(_ unionByName _)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** Executor-side rewrite through the format's own writer (exact
    * manifest stats): one file per non-empty partition of `df`, rolled
    * to a new file every `maxRowsPerFile` rows, in one Spark job. A
    * column type the format cannot hold is refused by name before any
    * file is written; a failed task drops the files it wrote.
    */
  private[graft] def writeEntries(
      df: DataFrame, tableDir: String, schema: org.apache.spark.sql.types.StructType,
      tag: String, properties: Map[String, String] = Map.empty,
      maxRowsPerFile: Long = Long.MaxValue): Seq[FileEntry] = {
    GraftParquetIO.toMessageType(schema)
    val id = java.util.UUID.randomUUID().toString
    val dirStr = tableDir
    val serConf = GraftConf.serializable
    val bloomCols = GraftBloom.columns(properties)
    val bloomBits = GraftBloom.bits(properties)
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val w = new GraftDataWriter(dirStr, schema, s"part-$tag-$id-$pid", Nil, maxRowsPerFile,
        serConf.value.value, bloomCols, bloomBits)
      try { rows.foreach(w.write); w.commit().asInstanceOf[GraftCommitMessage].entries.iterator }
      catch { case e: Throwable => w.abort(); throw e }
    }.collect().toSeq // O(#output files) driver-side
  }

  /** One replace commit of the whole table at `tableDir` (bootstrapped
    * when absent): `df`'s rows become its only files, under `df`'s
    * schema; the table's properties stay. The files go if the commit
    * fails.
    */
  def overwrite(df: DataFrame, tableDir: String, operation: String): GraftSnapshot = {
    val io = new GraftManifestIO(new Path(tableDir), GraftConf.hadoop)
    val entries = writeEntries(df, tableDir, df.schema, operation,
      io.currentSnapshot().map(_.properties).getOrElse(Map.empty))
    try io.commit(operation) { base =>
      GraftManifestIO.Content(df.schema, base.map(_.properties).getOrElse(Map.empty),
        entries.map(_.copy(seq = GraftManifestIO.PendingSeq)))
    } catch { case e: Throwable => dropEntries(tableDir, entries); throw e }
  }

  /** Best-effort delete of uncommitted `entries` and their bloom sidecars. */
  private[graft] def dropEntries(tableDir: String, entries: Seq[FileEntry]): Unit = {
    val fs = new Path(tableDir).getFileSystem(GraftConf.hadoop)
    entries.flatMap(e => e.path +: e.bloom.toSeq).foreach(p =>
      try fs.delete(new Path(new Path(tableDir), p), false)
      catch { case _: Throwable => () })
  }

  /** OCC replace of `replaced` by `newEntries`, folding/narrowing
    * delete entries for the replaced files.
    */
  private def replaceCommit(
      io: GraftManifestIO, operation: String, schema: org.apache.spark.sql.types.StructType,
      replaced: Set[String], newEntries: Seq[FileEntry]): Unit = {
    io.commit(operation) { cur =>
      val live = cur.map(_.files).getOrElse(Nil)
      val missing = replaced -- live.map(_.path).toSet
      if (missing.nonEmpty)
        throw new GraftCommitConflict(
          s"$operation conflicts: input file(s) replaced concurrently: ${missing.mkString(", ")}")
      // the rewrite applied the inputs' position deletes, so they fold
      // away; deletes also covering surviving files keep those targets
      val remainingDeletes = cur.map(_.deletes).getOrElse(Nil)
        .map(d => d.copy(targets = d.targets.filterNot(replaced.contains)))
        .filter(_.targets.nonEmpty)
      val remainingFiles = live.filterNot(f => replaced.contains(f.path))
      // equality deletes were applied during the rewrite read; an entry
      // survives only while an older surviving data file could match it
      // (new entries get this commit's seq — never shadowed)
      val remainingEq = cur.map(_.eqDeletes).getOrElse(Nil)
        .filter(d => remainingFiles.exists(_.seq < d.seq))
      GraftManifestIO.Content(
        cur.map(_.schema).getOrElse(schema), cur.map(_.properties).getOrElse(Map.empty),
        remainingFiles ++ newEntries.map(_.copy(seq = GraftManifestIO.PendingSeq)),
        remainingDeletes, remainingEq)
    }
    ()
  }
}
