package graft

import graft.operators.{AnnIndex, IndexManifests, InvertedIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The index lifecycle is one contract for both payloads
  * ([[IndexManifests]]): the SAME scenario runs over a lexical and a
  * dense index — a stamped CDC batch and its refused replay, rollback
  * rewinding content and stamps, export to a virgin dir (and refusal
  * of a non-virgin one), and compact + vacuum keeping exactly what the
  * head lists while sweeping a crashed staging.
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** One payload's entry points, as the scenario drives them. */
  private final class Kind(
      val build: String => Unit,
      /** one stamped CDC batch (the same batch on every call) */
      val cdc: (String, Option[(String, Long)]) => Unit,
      val serve: String => Seq[Seq[Any]],
      val rollback: (String, Long) => Long,
      val exportIndex: (String, String) => Long,
      val compact: String => Int,
      val vacuum: String => Int,
      val committedBatchId: (String, String) => Option[Long])

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq

  private def lexical: Kind = {
    val docs = Seq(
      (0L, "alpha beta gamma alpha"), (1L, "beta beta delta"),
      (2L, "alpha delta epsilon epsilon"), (3L, "gamma gamma beta alpha delta"),
      (4L, "zeta eta theta"), (5L, "alpha beta"),
      (6L, "delta epsilon zeta"), (7L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    new Kind(
      build = dir => InvertedIndex.build(docs, "doc_id", "text", dir),
      cdc = (dir, stamp) => InvertedIndex.applyCdc(
        upserts = Seq((0L, "alpha nu"), (8L, "nu zeta beta")).toDF("doc_id", "text"),
        removals = docs.filter($"doc_id".isin(0L, 4L)),
        "doc_id", "text", dir, stamp = stamp),
      serve = dir => sorted(InvertedIndex.bm25TopKText(spark, dir,
        Seq("alpha beta", "zeta nu", "theta"), k = 5)),
      rollback = (dir, v) => InvertedIndex.rollback(spark, dir, v),
      exportIndex = (src, dest) => InvertedIndex.exportIndex(spark, src, dest),
      compact = dir => InvertedIndex.compact(spark, dir),
      vacuum = dir => InvertedIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L),
      committedBatchId = (dir, ns) => InvertedIndex.committedBatchId(spark, dir, ns))
  }

  private def dense: Kind = {
    val emb = Tables(spark, sfDir).embeddings
    val probes = emb.filter($"vec_id" < 10)
    new Kind(
      build = dir => AnnIndex.build(emb.filter($"vec_id" >= 10 && $"vec_id" < 300),
        "vec_id", "embedding", dir, nCells = 4),
      // ids 20..29 take new vectors, 300..309 arrive, 50..54 leave
      cdc = (dir, stamp) => AnnIndex.applyCdc(
        upserts = emb.filter($"vec_id" >= 400 && $"vec_id" < 410)
          .withColumn("vec_id", $"vec_id" - 380)
          .unionByName(emb.filter($"vec_id" >= 300 && $"vec_id" < 310)),
        removalIds = emb.filter(($"vec_id" >= 20 && $"vec_id" < 30) ||
          ($"vec_id" >= 50 && $"vec_id" < 55)).select("vec_id"),
        "vec_id", "embedding", dir, stamp = stamp),
      serve = dir => sorted(AnnIndex.topK(probes, "vec_id", "embedding", dir,
        k = 10, nProbe = 4)),
      rollback = (dir, v) => AnnIndex.rollback(spark, dir, v),
      exportIndex = (src, dest) => AnnIndex.exportIndex(spark, src, dest),
      compact = dir => AnnIndex.compact(spark, dir),
      vacuum = dir => AnnIndex.vacuum(spark, dir, keepVersions = 1, graceMs = 0L),
      committedBatchId = (dir, ns) => AnnIndex.committedBatchId(spark, dir, ns))
  }

  private def hfs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def scenario(name: String, k: Kind): Unit = {
    val root = java.nio.file.Files.createTempDirectory(s"lifecycle_$name").toString
    val dir = s"$root/idx"
    val ns = "lifecycle"
    def versions(d: String) = IndexManifests.versions(spark, d)

    k.build(dir)
    val before = k.serve(dir)
    k.cdc(dir, Some(ns -> 0L))
    val after = k.serve(dir)
    assert(after != before, s"$name: the CDC batch changed no answer — the scenario proves nothing")
    assert(versions(dir) == Seq(1L, 2L))
    assert(k.committedBatchId(dir, ns).contains(0L))

    // the replay is refused by the committed stamp: no version, same answers
    k.cdc(dir, Some(ns -> 0L))
    assert(versions(dir) == Seq(1L, 2L), s"$name: a replayed batch committed")
    assert(k.serve(dir) == after)

    // rollback rewinds content AND stamps, as a new head commit
    assert(k.rollback(dir, 1L) == 3L)
    assert(k.serve(dir) == before, s"$name: rollback did not restore v1's answers")
    assert(k.committedBatchId(dir, ns).isEmpty, s"$name: rollback kept the discarded stamp")
    k.cdc(dir, Some(ns -> 0L))
    assert(versions(dir).last == 4L, s"$name: the rolled-back batch's replay was refused")
    assert(k.serve(dir) == after)

    // export: a virgin destination answers identically and carries the
    // stamps; a committed one refuses
    val dest = s"$root/exported"
    assert(k.exportIndex(dir, dest) == 1L)
    assert(k.serve(dest) == after, s"$name: the exported copy answers differently")
    assert(k.committedBatchId(dest, ns).contains(0L))
    intercept[IllegalArgumentException](k.exportIndex(dir, dest))

    // compact, then a crashed maintainer's staging appears; vacuum keeps
    // every file the head lists and sweeps the staging
    assert(k.compact(dir) > 0)
    val head = IndexManifests.head(spark, dir)
    assert(head.deletes.isEmpty, s"$name: compact kept tombstones")
    val crashed = s"$dir/${head.payloadRoot}/crashedstaging"
    spark.range(3).write.parquet(s"$crashed/unit=0")
    assert(k.vacuum(dir) > 0)
    assert(versions(dir) == Seq(head.version))
    val listed = head.files.map(_._2) ++ head.sidecars ++ head.metaDirs ++ head.deletes.map(_._1)
    val missing = listed.filterNot(rel => hfs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")))
    assert(missing.isEmpty, s"$name: vacuum removed files the head lists: $missing")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(crashed)),
      s"$name: vacuum left the crashed staging")
    assert(k.serve(dir) == after, s"$name: compact + vacuum changed answers")
  }

  test("lifecycle contract on a lexical index: stamps, rollback, export, compact + vacuum") {
    scenario("lexical", lexical)
  }

  test("lifecycle contract on a dense index: stamps, rollback, export, compact + vacuum") {
    scenario("dense", dense)
  }
}
