package graft

import graft.catalog.{GraftConf, GraftMaintenance, GraftManifestIO, GraftTable}
import graft.sources.BlobListingSource
import graft.streaming.StreamPipeline
import org.apache.hadoop.fs.Path

/** Live object-store integration — the one hop ObjectStoreSpec's
  * registered-scheme tests cannot cover. CANCELS (not fails) unless the
  * environment provides both a reachable S3-compatible endpoint and the
  * hadoop-aws jars; docs/OBJECT_STORE.md is the runbook that sets both
  * up with MinIO in two commands.
  */
class S3IntegrationSpec extends SparkSpec {
  import spark.implicits._

  private val endpoint = sys.env.get("GRAFT_S3_TEST_ENDPOINT")
  private val bucket   = sys.env.get("GRAFT_S3_TEST_BUCKET")

  private def s3aAvailable: Boolean =
    try { Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"); true }
    catch { case _: ClassNotFoundException => false }

  private def gate(): String = {
    assume(endpoint.isDefined && bucket.isDefined,
      "GRAFT_S3_TEST_ENDPOINT / GRAFT_S3_TEST_BUCKET unset — see docs/OBJECT_STORE.md")
    assume(s3aAvailable,
      "hadoop-aws jars not on the classpath — see docs/OBJECT_STORE.md §1")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.endpoint", endpoint.get)
    conf.set("fs.s3a.path.style.access", "true")
    conf.set("fs.s3a.connection.ssl.enabled",
      endpoint.get.startsWith("https").toString)
    sys.env.get("GRAFT_S3_TEST_ACCESS_KEY").foreach(conf.set("fs.s3a.access.key", _))
    sys.env.get("GRAFT_S3_TEST_SECRET_KEY").foreach(conf.set("fs.s3a.secret.key", _))
    s"s3a://${bucket.get}/graft-it-${System.nanoTime()}"
  }

  test("watermark listing over a live s3a prefix") {
    val prefix = gate()
    Seq((1, "a"), (2, "b")).toDF("k", "payload").coalesce(1)
      .write.mode("append").parquet(s"$prefix/landing")
    val blobs = BlobListingSource.listBlobs(spark, s"$prefix/landing")
    assert(blobs.nonEmpty && blobs.forall(_.path.startsWith("s3a://")))
    Thread.sleep(1100)
    Seq((3, "c")).toDF("k", "payload").coalesce(1)
      .write.mode("append").parquet(s"$prefix/landing")
    val wm = blobs.map(_.modifiedMs).max
    val newer = BlobListingSource.newBlobs(spark, s"$prefix/landing", wm)
    assert(newer.nonEmpty && newer.forall(_.modifiedMs > wm))
    assert(BlobListingSource.readNewBlobs(spark, s"$prefix/landing", 0L).get.count() == 3)
  }

  test("streaming upsert pipeline and snapshot commit against live s3a") {
    val prefix = gate()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s3_ckpt").toString
    Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(s"$prefix/src")
    val schema = spark.read.parquet(s"$prefix/src").schema
    val cfg = StreamPipeline.Config(
      sourceDir = s"$prefix/src", targetDir = s"$prefix/table",
      checkpointDir = ckpt, primaryKeys = Seq("k"), versionCols = Seq("version"))
    assert(StreamPipeline.runAvailableNow(spark, schema, cfg) >= 1)
    val rows = GraftTable.read(spark, s"$prefix/table").get.select("k", "payload")
      .as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "a", 2 -> "b"))
    // snapshot isolation survives a second commit
    val v1 = new GraftManifestIO(new Path(s"$prefix/table"), GraftConf.hadoop).currentVersion().get
    GraftMaintenance.overwrite(Seq((9, "z")).toDF("k", "payload"), s"$prefix/table", "overwrite")
    assert(GraftTable.read(spark, s"$prefix/table", Some(v1)).get.count() == 2)
  }
}
