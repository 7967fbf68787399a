package graft

import java.net.{HttpURLConnection, URL}

import graft.catalog.{GraftConf, GraftMaintenance, GraftManifestIO, GraftTable}
import graft.sources.BlobListingSource
import graft.streaming.StreamPipeline
import org.apache.hadoop.fs.Path

/** One shared moto S3 emulator per test JVM.
  *
  * `moto_server` speaks the real S3 REST API over HTTP; paired with the
  * from-scratch `GraftS3FileSystem` (`s3x://`) it lets the live
  * object-store path — the hop s3a jars are missing for in this
  * container — actually EXECUTE instead of cancel. Lazily started on
  * first use; absent binary → specs cancel via `assume`.
  */
object MotoS3 {
  val bucket = "graft-live"

  lazy val binary: Option[String] =
    sys.env.getOrElse("PATH", "").split(':').iterator
      .filter(_.nonEmpty)
      .map(d => java.nio.file.Paths.get(d, "moto_server"))
      .find(java.nio.file.Files.isExecutable(_))
      .map(_.toString)

  /** Endpoint of a live emulator with the test bucket created, or None. */
  lazy val endpoint: Option[String] = binary.flatMap { bin =>
    val port = { val ss = new java.net.ServerSocket(0); try ss.getLocalPort finally ss.close() }
    val log = java.io.File.createTempFile("moto-", ".log")
    val proc = new ProcessBuilder(bin, "-p", port.toString)
      .redirectErrorStream(true).redirectOutput(log).start()
    Runtime.getRuntime.addShutdownHook(new Thread(() => proc.destroy()))
    val ep = s"http://127.0.0.1:$port"
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var up = false
    while (!up && System.nanoTime() < deadline && proc.isAlive) {
      try { http("GET", s"$ep/"); up = true }
      catch { case _: java.io.IOException => Thread.sleep(200) }
    }
    if (!up) { proc.destroy(); None }
    else {
      val code = http("PUT", s"$ep/$bucket")
      require(code == 200 || code == 409, s"bucket create failed: HTTP $code")
      Some(ep)
    }
  }

  /** Bare S3 call with the same emulator-grade auth header the filesystem
    * sends (moto validates the format, not the signature).
    */
  def http(method: String, url: String): Int = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(2000); c.setReadTimeout(10000)
    c.setRequestProperty("Authorization",
      "AWS4-HMAC-SHA256 Credential=graft-test/20260101/us-east-1/s3/aws4_request, " +
        "SignedHeaders=host, Signature=graft")
    if (method == "PUT") { c.setDoOutput(true); c.setFixedLengthStreamingMode(0L); c.getOutputStream.close() }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    if (in != null) { while (in.read() >= 0) {}; in.close() }
    c.disconnect()
    code
  }
}

/** The reference's deployment is S3-first (`DefaultS3Reader` /
  * `S3BlobStorageReader`, /root/reference/src/main/scala/main.scala:24,
  * 44-45,77-78). These tests run the engine's object-store surface —
  * distributed parquet read/write, watermark blob listing, the streaming
  * upsert pipeline, snapshot commits, and full Graft-format tables with
  * OCC — against a LIVE S3 REST endpoint via the `s3x://` filesystem.
  * Unlike S3IntegrationSpec (kept for real s3a deployments), these run
  * in this container.
  */
class S3LiveSpec extends SparkSpec {
  import spark.implicits._

  private def gate(): String = {
    assume(MotoS3.binary.isDefined, "moto_server not on PATH")
    assume(MotoS3.endpoint.isDefined, "moto_server failed to start")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3x.impl", classOf[graft.sources.s3.GraftS3FileSystem].getName)
    conf.set("fs.s3x.endpoint", MotoS3.endpoint.get)
    s"s3x://${MotoS3.bucket}/t${System.nanoTime()}"
  }

  test("distributed parquet write/read roundtrip over live S3") {
    val prefix = gate()
    val df = (1 to 1000).map(i => (i, s"name-$i", i * 2.5)).toDF("id", "name", "score")
    df.repartition(4).write.mode("overwrite").parquet(s"$prefix/data")

    val back = spark.read.parquet(s"$prefix/data")
    assert(back.count() == 1000)
    // projection + predicate exercise footer seeks and column chunks
    val picked = back.filter($"id" === 700).select("name").as[String].collect()
    assert(picked.toSeq == Seq("name-700"))
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).as[Long].head() == 500500L)
  }

  test("filesystem contract: status, rename, recursive delete, exclusive create") {
    val prefix = gate()
    val p = new Path(s"$prefix/fsck")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    fs.mkdirs(new Path(p, "a/b"))
    assert(fs.getFileStatus(new Path(p, "a/b")).isDirectory)
    val f = new Path(p, "a/b/one.txt")
    val out = fs.create(f, true)
    out.write("payload".getBytes("UTF-8")); out.close()
    assert(fs.getFileStatus(f).getLen == 7)
    val in = fs.open(f)
    in.seek(3)
    val buf = new Array[Byte](4); in.readFully(buf); in.close()
    assert(new String(buf, "UTF-8") == "load")

    assert(fs.rename(new Path(p, "a"), new Path(p, "moved")))
    assert(fs.exists(new Path(p, "moved/b/one.txt")) && !fs.exists(new Path(p, "a")))
    assert(fs.listStatus(new Path(p, "moved/b")).map(_.getPath.getName).toSeq == Seq("one.txt"))

    // overwrite=false is atomic END-TO-END (conditional PUT): a second
    // exclusive create of the same key must lose at close time
    val excl = new Path(p, "claim")
    val w1 = fs.create(excl, false); w1.write(1); w1.close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      val w2 = fs.create(excl, false); w2.write(2); w2.close()
    }

    assert(fs.delete(new Path(p, "moved"), true))
    assert(!fs.exists(new Path(p, "moved")))

    // key encoding: names with spaces, '+', '%', '=', unicode must
    // round-trip through the percent-encoded URL path (partition dirs
    // like p=1 and Spark temp names hit '=' and '%' routinely)
    val odd = new Path(p, "enc dir/p=1/sp ace+plus %pct ünï.bin")
    val wo = fs.create(odd, true); wo.write("odd".getBytes("UTF-8")); wo.close()
    assert(fs.getFileStatus(odd).getLen == 3)
    val ro = fs.open(odd); val ob = new Array[Byte](3); ro.readFully(ob); ro.close()
    assert(new String(ob, "UTF-8") == "odd")
    assert(fs.listStatus(new Path(p, "enc dir/p=1")).map(_.getPath.getName).toSeq ==
      Seq("sp ace+plus %pct ünï.bin"))
    assert(fs.delete(new Path(p, "enc dir"), true))
  }

  test("multipart upload: large objects stream in parts and read back byte-identical") {
    gate()
    val ep = MotoS3.endpoint.get
    val mpuBucket = "graft-mpu"
    val code = MotoS3.http("PUT", s"$ep/$mpuBucket")
    assert(code == 200 || code == 409, s"bucket create: HTTP $code")
    val conf = spark.sparkContext.hadoopConfiguration
    // set BEFORE this bucket's FileSystem instance is first created (the
    // instance is cached per scheme+authority with init-time settings);
    // 5 MB is the S3 minimum part size — the floor the FS enforces
    val partSize = 5 * 1024 * 1024
    conf.setLong("fs.s3x.multipart.threshold", partSize.toLong)
    val p = new Path(s"s3x://$mpuBucket/mpu/big.bin")
    val fs = p.getFileSystem(conf)
    val data = new Array[Byte](2 * partSize + 123456) // 2 full parts + a tail part
    new scala.util.Random(7).nextBytes(data)
    val out = fs.create(p, true); out.write(data); out.close()
    assert(fs.getFileStatus(p).getLen == data.length.toLong)
    val in = fs.open(p)
    val back = new Array[Byte](data.length); in.readFully(back)
    assert(java.util.Arrays.equals(back, data), "full read must be byte-identical")
    // ranged read across a part boundary
    in.seek(partSize - 10)
    val window = new Array[Byte](20); in.readFully(window); in.close()
    assert(window.toSeq == data.slice(partSize - 10, partSize + 10).toSeq,
      "seek across the part boundary must see contiguous bytes")
  }

  test("watermark blob listing over a live prefix") {
    val prefix = gate()
    Seq((1, "a"), (2, "b")).toDF("k", "payload").coalesce(1)
      .write.mode("append").parquet(s"$prefix/landing")
    val blobs = BlobListingSource.listBlobs(spark, s"$prefix/landing")
    assert(blobs.nonEmpty && blobs.forall(_.path.startsWith("s3x://")))
    Thread.sleep(1100) // the emulator's LastModified is second-granular
    Seq((3, "c")).toDF("k", "payload").coalesce(1)
      .write.mode("append").parquet(s"$prefix/landing")
    val wm = blobs.map(_.modifiedMs).max
    val newer = BlobListingSource.newBlobs(spark, s"$prefix/landing", wm)
    assert(newer.nonEmpty && newer.forall(_.modifiedMs > wm))
    assert(BlobListingSource.readNewBlobs(spark, s"$prefix/landing", 0L).get.count() == 3)
  }

  test("streaming upsert pipeline and snapshot store against live S3") {
    val prefix = gate()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s3x_ckpt").toString
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
    val v1 = new GraftManifestIO(new Path(s"$prefix/table"), GraftConf.hadoop).currentVersion().get
    GraftMaintenance.overwrite(Seq((9, "z")).toDF("k", "payload"), s"$prefix/table", "overwrite")
    assert(GraftTable.read(spark, s"$prefix/table", Some(v1)).get.count() == 2)
  }

  test("graft-format table on live S3: SQL MERGE, time travel, OCC commits") {
    val prefix = gate()
    spark.conf.set("spark.sql.catalog.glive", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glive.warehouse", s"$prefix/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glive.db")
    spark.sql("CREATE TABLE glive.db.accounts (k INT, v STRING)")
    spark.sql("INSERT INTO glive.db.accounts VALUES (1, 'a'), (2, 'b')")
    Seq((2, "B"), (3, "C")).toDF("k", "v").createOrReplaceTempView("s3x_updates")
    spark.sql("""MERGE INTO glive.db.accounts t USING s3x_updates s ON t.k = s.k
                 WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT * FROM glive.db.accounts ORDER BY k").as[(Int, String)].collect()
      .toSeq == Seq((1, "a"), (2, "B"), (3, "C")))
    assert(spark.sql("SELECT * FROM glive.db.accounts VERSION AS OF 2").count() == 2)

    // racing manifest commits through the conditional-PUT exclusive create:
    // every writer lands, versions stay dense, no file lost
    val io = new GraftManifestIO(new Path(s"$prefix/warehouse/db/accounts"), GraftConf.hadoop)
    val v0 = io.currentSnapshot().get.version
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      (0 until 4).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try (0 until 3).foreach { i =>
              io.commit("append", maxAttempts = 200) { base =>
                val cur = base.get
                val entry = graft.catalog.FileEntry(s"data/live-$w-$i.parquet", 1L, 1L, Map.empty)
                GraftManifestIO.Content(cur.schema, cur.properties, cur.files :+ entry, cur.deletes)
              }
            } catch { case t: Throwable => errors.add(t) }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(errors.isEmpty, s"live OCC commits failed: ${errors.peek()}")
    val snap = io.currentSnapshot().get
    assert(snap.version == v0 + 12, s"expected v${v0 + 12}, got v${snap.version}")
    assert(snap.files.map(_.path).count(_.startsWith("data/live-")) == 12)
  }
}
