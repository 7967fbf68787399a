package graft

import graft.catalog.GraftTable
import graft.sources.BlobListingSource
import graft.streaming.{StreamPipeline, StreamSpec}
import java.nio.file.Files

/** A non-local Hadoop FileSystem scheme backed by the local disk — the
  * same registration path (`fs.<scheme>.impl`) an `s3a://` deployment
  * uses, so everything below exercises exactly the code that would run
  * against an object store: URIs with a non-file scheme resolved through
  * the Hadoop FS registry, with settings plumbed via the session's
  * hadoopConfiguration (the reference's `DefaultS3Reader` configuration
  * surface, main.scala:77-78).
  */
class MockBlobFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}

/** Proves the engine is object-store ready without network: listing,
  * streaming ingestion, and snapshot commits all run against `mock://`
  * URIs that only resolve because the scheme is registered in the Hadoop
  * conf — the identical mechanism through which `s3a://` resolves when
  * hadoop-aws jars are deployed (documented gap: those jars are not in
  * this container, so `s3a://` itself cannot be exercised here).
  */
class ObjectStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mockUri(localDir: String): String = s"mock:$localDir"

  test("blob listing works against a non-file URI scheme") {
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl", classOf[MockBlobFileSystem].getName)
    val dir = Files.createTempDirectory("graft_mock_list").toString
    Seq((1, "a"), (2, "b")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct mtimes at 1s granularity
    Seq((3, "c")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(dir)

    val blobs = BlobListingSource.listBlobs(spark, mockUri(dir))
    assert(blobs.nonEmpty && blobs.forall(_.path.startsWith("mock:/")),
      s"listing must resolve through the mock scheme: ${blobs.map(_.path)}")
    // watermark semantics hold across the non-local scheme
    val wm     = blobs.head.modifiedMs
    val newer  = BlobListingSource.newBlobs(spark, mockUri(dir), wm)
    assert(newer.forall(_.modifiedMs > wm) && newer.size < blobs.size)
    val df = BlobListingSource.readNewBlobs(spark, mockUri(dir), 0L)
    assert(df.get.count() == 3)
  }

  test("streaming pipeline ingests from and commits to non-file URIs") {
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl", classOf[MockBlobFileSystem].getName)
    val src    = Files.createTempDirectory("graft_mock_src").toString
    val target = Files.createTempDirectory("graft_mock_tgt").toString + "/t"
    val ckpt   = Files.createTempDirectory("graft_mock_ckpt").toString
    Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "version", "payload")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    val cfg = StreamPipeline.Config(
      sourceDir = mockUri(src), targetDir = mockUri(target), checkpointDir = ckpt,
      primaryKeys = Seq("k"), versionCols = Seq("version"))
    val batches = StreamPipeline.runAvailableNow(spark, schema, cfg)
    assert(batches >= 1)
    val rows = GraftTable.read(spark, mockUri(target)).get
      .select("k", "payload").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "a", 2 -> "b"))
  }

  test("spec object-store settings land in the session's Hadoop conf") {
    val spec = StreamSpec.parse(
      """source:
        |  configuration:
        |    sourcePath: s3a://landing/prefix
        |    s3:
        |      endpoint: http://localhost:9000
        |      usePathStyle: true
        |""".stripMargin)
    StreamSpec.applyObjectStoreConf(spark, spec)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(conf.get("fs.s3a.path.style.access") == "true")
  }
}
