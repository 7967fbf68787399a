package graft.sources.s3

import java.io.{ByteArrayInputStream, EOFException, FileNotFoundException, IOException, InputStream, OutputStream}
import java.net.{HttpURLConnection, URI, URL, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, Path => NioPath}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathIOException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A from-scratch Hadoop `FileSystem` over the public Amazon S3 REST API
  * (scheme `s3x://bucket/key`), built on nothing but the JDK HTTP stack —
  * the container ships no hadoop-aws/aws-sdk jars, and the reference's
  * pipeline is S3-first (`DefaultS3Reader`/`S3BlobStorageReader`,
  * /root/reference/src/main/scala/main.scala:24,44-45,77-78), so this is
  * the piece that lets the WHOLE engine — parquet scans/writes, blob
  * watermark listing, streaming upsert pipelines, Graft-format tables
  * with OCC commits — run against a live S3-compatible endpoint
  * (S3LiveSpec exercises it against a local `moto_server`).
  *
  * Wire protocol (all public AWS documentation):
  *   - GET/HEAD object (+ `Range: bytes=a-b` for seeks — the parquet
  *     footer read is a ranged GET, same as s3a)
  *   - PUT object, PUT with `x-amz-copy-source` (rename = copy + delete;
  *     S3 has no native rename)
  *   - conditional PUT with `If-None-Match: *` → HTTP 412 if the key
  *     exists. This is S3's 2024 conditional-write primitive and it makes
  *     `create(path, overwrite = false)` a GENUINE atomic claim, so the
  *     Graft commit protocol's exclusive version-file create works
  *     unmodified on object store (ManifestLog.claim's non-local
  *     branch).
  *   - ListObjectsV2 with prefix/delimiter/continuation-token
  *   - DELETE object
  *
  * Directories are S3-style: a zero-byte `key/` marker object (written by
  * `mkdirs`) or implicitly any non-empty key prefix. Auth is a static
  * SigV4-shaped header (emulator-grade — a production build would compute
  * the real signature; the header FORMAT is what moto validates).
  *
  * Scale note: this is the test/emulator-grade connector proving the
  * engine's object-store path end-to-end in this sandbox. On a real
  * cluster the same code paths run over s3a (everything else in the repo
  * speaks the abstract FileSystem API); nothing here is driver-bottleneck
  * code — Spark opens one instance per task for reads, and listing is
  * paginated driver-side metadata.
  */
class GraftS3FileSystem extends FileSystem {

  private var fsUri: URI         = _
  private var bucket: String     = _
  private var endpoint: String   = _
  private var accessKey: String  = _
  private var multipartThreshold: Long = _
  private var workingDir: Path   = _

  // hard cap on the per-writer part buffer (Int-safe, bounded heap)
  private val maxPartBytes: Long = 256L * 1024 * 1024

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    bucket = name.getHost
    require(bucket != null && bucket.nonEmpty, s"s3x URI needs a bucket authority: $name")
    fsUri = URI.create(s"s3x://$bucket")
    endpoint = conf.getTrimmed("fs.s3x.endpoint", "")
    require(endpoint.nonEmpty, "fs.s3x.endpoint must be set (e.g. http://127.0.0.1:5000)")
    endpoint = endpoint.stripSuffix("/")
    accessKey = conf.getTrimmed("fs.s3x.access.key", "graft-test")
    // S3 rejects non-final parts under 5 MB (EntityTooSmall), so the
    // part size — and with it the threshold — is floored there; the
    // config is validated here so a bad value fails at initialize, not
    // mid-upload
    val rawThreshold = conf.getLong("fs.s3x.multipart.threshold", 64L * 1024 * 1024)
    require(rawThreshold > 0, s"fs.s3x.multipart.threshold must be positive: $rawThreshold")
    multipartThreshold = math.max(rawThreshold, 5L * 1024 * 1024)
    workingDir = new Path(s"s3x://$bucket/")
  }

  override def getScheme: String = "s3x"
  override def getUri: URI       = fsUri

  override def getWorkingDirectory: Path             = workingDir
  override def setWorkingDirectory(dir: Path): Unit  = workingDir = dir
  override def getDefaultBlockSize(f: Path): Long    = 32L * 1024 * 1024

  // ---- key mapping -------------------------------------------------------

  /** `s3x://bucket/a/b` → object key `a/b`; root → "". */
  private def pathKey(p: Path): String = {
    val abs = makeQualified(p).toUri.getPath
    abs.stripPrefix("/")
  }

  private def keyPath(key: String): Path = new Path(s"s3x://$bucket/$key")

  /** Percent-encode a key for the URL path, preserving `/` separators.
    * URLEncoder is form-encoding (space→'+'), so patch to RFC 3986.
    */
  private def encodeKey(key: String): String =
    key.split("/", -1).map(seg => URLEncoder.encode(seg, "UTF-8").replace("+", "%20")).mkString("/")

  private def encodeQ(v: String): String = URLEncoder.encode(v, "UTF-8")

  // ---- HTTP --------------------------------------------------------------

  private def authHeader: String = {
    val date = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    s"AWS4-HMAC-SHA256 Credential=$accessKey/$date/us-east-1/s3/aws4_request, " +
      "SignedHeaders=host, Signature=graft"
  }

  private def connect(method: String, key: String, query: String = "",
                      headers: Seq[(String, String)] = Nil): HttpURLConnection = {
    val q   = if (query.isEmpty) "" else s"?$query"
    val url = new URL(s"$endpoint/$bucket/${encodeKey(key)}$q")
    val c   = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(15000)
    c.setReadTimeout(120000)
    c.setRequestProperty("Authorization", authHeader)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    c
  }

  private def drainAndClose(c: HttpURLConnection): Unit = {
    try {
      val in = if (c.getResponseCode >= 400) c.getErrorStream else c.getInputStream
      if (in != null) { val buf = new Array[Byte](8192); while (in.read(buf) >= 0) {}; in.close() }
    } catch { case _: IOException => () }
  }

  private def readBody(c: HttpURLConnection): String = {
    val in = if (c.getResponseCode >= 400) c.getErrorStream else c.getInputStream
    if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  // ---- XML listing -------------------------------------------------------

  private final case class ObjSummary(key: String, size: Long, modifiedMs: Long)
  private final case class Listing(objects: Seq[ObjSummary], dirs: Seq[String], nextToken: Option[String])

  private def parseListing(xml: String): Listing = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(
      new ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8)))
    def text(e: org.w3c.dom.Element, tag: String): Option[String] = {
      val ns = e.getElementsByTagName(tag)
      if (ns.getLength == 0) None else Some(ns.item(0).getTextContent)
    }
    val root = doc.getDocumentElement
    val contents = root.getElementsByTagName("Contents")
    val objs = (0 until contents.getLength).map { i =>
      val e = contents.item(i).asInstanceOf[org.w3c.dom.Element]
      ObjSummary(
        key        = text(e, "Key").getOrElse(""),
        size       = text(e, "Size").map(_.toLong).getOrElse(0L),
        modifiedMs = text(e, "LastModified").map(Instant.parse(_).toEpochMilli).getOrElse(0L))
    }
    val prefixes = root.getElementsByTagName("CommonPrefixes")
    val dirs = (0 until prefixes.getLength).flatMap { i =>
      text(prefixes.item(i).asInstanceOf[org.w3c.dom.Element], "Prefix")
    }
    val token =
      if (text(root, "IsTruncated").contains("true")) text(root, "NextContinuationToken") else None
    Listing(objs, dirs, token)
  }

  /** Bounded retry for IDEMPOTENT metadata calls (list/HEAD): transient
    * resets and 5xx throttles are routine against object stores at
    * fleet scale, and failing a whole task over one is wasteful — the
    * s3a policy, minimally. Mutations are NOT retried here: PUT/DELETE
    * retries interact with the conditional-create protocol and are the
    * commit loop's job.
    */
  private def retrying[A](what: String)(op: => A): A = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: S3AccessDeniedException => throw e // not transient: fail fast
        case e: IOException =>
          attempt += 1
          if (attempt >= 3) throw e
          Thread.sleep(100L << attempt)
      }
    }
    sys.error("unreachable")
  }

  private def listOnce(prefix: String, delimiter: Option[String], token: Option[String],
                       maxKeys: Int = 1000): Listing = retrying(s"list $prefix") {
    val q = new StringBuilder(s"list-type=2&max-keys=$maxKeys&prefix=${encodeQ(prefix)}")
    delimiter.foreach(d => q.append(s"&delimiter=${encodeQ(d)}"))
    token.foreach(t => q.append(s"&continuation-token=${encodeQ(t)}"))
    val c = connect("GET", "", q.toString)
    try {
      val code = c.getResponseCode
      val body = readBody(c)
      if (code != 200) throw new IOException(s"ListObjectsV2 $prefix failed: HTTP $code $body")
      parseListing(body)
    } finally c.disconnect()
  }

  private def listAll(prefix: String, delimiter: Option[String]): Listing = {
    val objs = ArrayBuffer.empty[ObjSummary]
    val dirs = ArrayBuffer.empty[String]
    var token: Option[String] = None
    var first = true
    while (first || token.isDefined) {
      first = false
      val l = listOnce(prefix, delimiter, token)
      objs ++= l.objects; dirs ++= l.dirs; token = l.nextToken
    }
    Listing(objs.toSeq, dirs.distinct.toSeq, None)
  }

  // ---- status ------------------------------------------------------------

  /** None means the object PROVABLY does not exist (404). Any other
    * non-2xx throws instead: mapping those to None would turn a server
    * error into wrong control flow — getFileStatus reporting
    * FileNotFound, exists()/delete() returning false, and
    * create(overwrite=false)'s pre-check passing. 5xx throws route
    * through `retrying`; 403 fails FAST (access denial is not
    * transient — retrying only burns the backoff). IAM caveat, stated
    * rather than hidden: real S3 answers HEAD-on-missing-key with 403
    * instead of 404 when the caller lacks s3:ListBucket, so
    * least-privilege policies used with s3x need ListBucket (the same
    * requirement s3a documents) — silently treating 403 as "absent"
    * would let a credentials/policy mistake pass existence checks and
    * corrupt create-exclusive control flow.
    */
  private def headObject(key: String): Option[(Long, Long)] = retrying(s"head $key") {
    val c = connect("HEAD", key)
    try c.getResponseCode match {
      case 200 =>
        val len = c.getContentLengthLong
        val mod = math.max(c.getLastModified, c.getHeaderFieldDate("last-modified", 0L))
        Some((len, mod))
      case 404 => None
      case 403 => throw new S3AccessDeniedException(
        s"HEAD $key: HTTP 403 (access denied; note S3 returns 403 for missing keys " +
          "without s3:ListBucket — grant ListBucket for existence checks)")
      case code => throw new IOException(s"HEAD $key failed: HTTP $code")
    } finally { drainAndClose(c); c.disconnect() }
  }

  private def fileStatus(key: String, len: Long, mod: Long): FileStatus =
    new FileStatus(len, false, 1, getDefaultBlockSize(keyPath(key)), mod, keyPath(key))

  private def dirStatus(key: String): FileStatus =
    new FileStatus(0, true, 1, 0, 0, keyPath(key.stripSuffix("/")))

  override def getFileStatus(f: Path): FileStatus = {
    val key = pathKey(f)
    if (key.isEmpty) return dirStatus("")
    headObject(key) match {
      case Some((len, mod)) => fileStatus(key, len, mod)
      case None =>
        val asDir = key + "/"
        if (headObject(asDir).isDefined) dirStatus(key)
        else {
          val l = listOnce(asDir, None, None, maxKeys = 1)
          if (l.objects.nonEmpty || l.dirs.nonEmpty) dirStatus(key)
          else throw new FileNotFoundException(s"s3x://$bucket/$key")
        }
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val st = getFileStatus(f) // throws FileNotFoundException per contract
    if (st.isFile) return Array(st)
    val prefix = { val k = pathKey(f); if (k.isEmpty) "" else k + "/" }
    val l = listAll(prefix, Some("/"))
    val files = l.objects
      .filterNot(o => o.key == prefix || o.key.endsWith("/")) // skip dir markers
      .map(o => fileStatus(o.key, o.size, o.modifiedMs))
    val dirs = l.dirs.map(dirStatus)
    (files ++ dirs).toArray
  }

  // ---- read --------------------------------------------------------------

  /** Sequential-with-seek input stream: a streaming ranged GET from the
    * current position, reopened on seek — the s3a "sequential" read
    * policy. `FSInputStream` derives positioned reads from seek+read.
    */
  private final class S3In(key: String, length: Long) extends FSInputStream {
    private var pos: Long               = 0L
    private var stream: InputStream     = _
    private var streamPos: Long         = -1L
    private var conn: HttpURLConnection = _

    private def ensureStream(): Boolean = {
      if (pos >= length) return false
      if (stream != null && streamPos == pos) return true
      closeStream()
      val c = connect("GET", key, headers = Seq("Range" -> s"bytes=$pos-"))
      val code = c.getResponseCode
      if (code != 200 && code != 206) {
        val body = readBody(c); c.disconnect()
        if (code == 404) throw new FileNotFoundException(s"s3x://$bucket/$key")
        throw new IOException(s"GET $key range=$pos- failed: HTTP $code $body")
      }
      conn = c; stream = c.getInputStream; streamPos = pos
      true
    }

    private def closeStream(): Unit = {
      if (stream != null) { try stream.close() catch { case _: IOException => () }; stream = null }
      if (conn != null) { conn.disconnect(); conn = null }
      streamPos = -1L
    }

    override def seek(p: Long): Unit = {
      if (p < 0 || p > length) throw new EOFException(s"seek($p) outside [0,$length] on $key")
      if (p != pos) { closeStream(); pos = p }
    }
    override def getPos: Long                        = pos
    override def seekToNewSource(t: Long): Boolean   = false

    override def read(): Int = {
      if (!ensureStream()) return -1
      val b = stream.read()
      if (b >= 0) { pos += 1; streamPos = pos } else closeStream()
      b
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (!ensureStream()) return -1
      val n = stream.read(b, off, len)
      if (n > 0) { pos += n; streamPos = pos } else closeStream()
      n
    }

    override def available(): Int = math.min(length - pos, Int.MaxValue.toLong).toInt
    override def close(): Unit    = closeStream()
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val st = getFileStatus(f)
    if (st.isDirectory) throw new PathIOException(f.toString, "cannot open a directory")
    // S3In extends FSInputStream, which is Seekable + PositionedReadable —
    // exactly FSDataInputStream's contract. Readers that need buffering
    // (parquet column chunks, whole-footer reads) issue large reads, which
    // S3In serves from one streaming ranged GET without re-connecting.
    new FSDataInputStream(new S3In(pathKey(f), st.getLen))
  }

  // ---- write -------------------------------------------------------------

  /** Buffer-to-temp-file upload: bytes land in a local spill file and the
    * object is PUT whole on close — S3 objects are immutable, so this is
    * the minimal correct write path (a production build adds multipart
    * for >5 GB parts; task outputs here are bounded by split size).
    */
  private final class S3Out(key: String, exclusive: Boolean) extends OutputStream {
    private val tmp: NioPath = NioFiles.createTempFile("graft-s3x-", ".part")
    private val out          = NioFiles.newOutputStream(tmp)
    private var closed       = false

    override def write(b: Int): Unit                               = out.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit   = out.write(b, off, len)
    override def flush(): Unit                                     = out.flush()

    override def close(): Unit = {
      if (closed) return
      closed = true
      out.close()
      try {
        val len = NioFiles.size(tmp)
        // exclusive creates are always manifests/markers (small); the
        // conditional-PUT atomicity contract only exists on simple PUT
        if (len >= multipartThreshold && !exclusive) multipartUpload(key, tmp, len)
        else simplePut(key, tmp, len, exclusive)
      } finally NioFiles.deleteIfExists(tmp)
    }
  }

  private def simplePut(key: String, tmp: NioPath, len: Long, exclusive: Boolean): Unit = {
    val hdrs = ArrayBuffer[(String, String)]("Content-Type" -> "application/octet-stream")
    if (exclusive) hdrs += ("If-None-Match" -> "*")
    val c = connect("PUT", key, headers = hdrs.toSeq)
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(len)
    val os = c.getOutputStream
    try NioFiles.copy(tmp, os) finally os.close()
    val code = c.getResponseCode
    drainAndClose(c); c.disconnect()
    if (code == 412 && exclusive)
      throw new FileAlreadyExistsException(s"s3x://$bucket/$key already exists (conditional PUT)")
    if (code != 200) throw new IOException(s"PUT $key failed: HTTP $code")
  }

  /** Standard S3 multipart upload (create → N part PUTs → complete with
    * the ETag manifest); parts are min(threshold, 256 MiB)-sized
    * slices of the spill file. This is what keeps task outputs above the
    * single-PUT comfort zone (and, on real S3, above the hard 5 GB
    * single-PUT limit) streamable without buffering more than one part.
    */
  private def multipartUpload(key: String, tmp: NioPath, len: Long): Unit = {
    def post(query: String, body: Array[Byte]): String = {
      // explicit content type: the JDK defaults POST bodies to
      // x-www-form-urlencoded, which S3 servers parse as a FORM —
      // the raw XML body then reads back empty
      val c = connect("POST", key, query, headers = Seq("Content-Type" -> "application/xml"))
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length.toLong)
      val os = c.getOutputStream
      try os.write(body) finally os.close()
      val code = c.getResponseCode
      val resp = readBody(c); c.disconnect()
      if (code != 200) throw new IOException(s"multipart POST $key?$query failed: HTTP $code $resp")
      resp
    }
    val initXml = post("uploads", Array.emptyByteArray)
    val uploadId = "<UploadId>(.*?)</UploadId>".r.findFirstMatchIn(initXml)
      .map(_.group(1)).getOrElse(throw new IOException(s"no UploadId in $initXml"))
    try {
      val etags = ArrayBuffer.empty[String]
      val in = NioFiles.newInputStream(tmp)
      try {
        // part size is clamped independently of the threshold: the
        // threshold config is a long (a >= 2 GiB setting would overflow
        // toInt into a negative array size), and the part buffer is
        // heap-allocated per writer — cap it at 256 MiB regardless
        val partBuf = new Array[Byte](math.min(multipartThreshold, maxPartBytes).toInt)
        var partNum = 1
        var done = false
        while (!done) {
          var filled = 0
          var r = 0
          while (filled < partBuf.length && { r = in.read(partBuf, filled, partBuf.length - filled); r >= 0 })
            filled += r
          if (r < 0) done = true
          if (filled > 0) {
            val c = connect("PUT", key, s"partNumber=$partNum&uploadId=${encodeQ(uploadId)}")
            c.setDoOutput(true)
            c.setFixedLengthStreamingMode(filled.toLong)
            val os = c.getOutputStream
            try os.write(partBuf, 0, filled) finally os.close()
            val code = c.getResponseCode
            val etag = Option(c.getHeaderField("ETag")).getOrElse("")
            drainAndClose(c); c.disconnect()
            if (code != 200) throw new IOException(s"part $partNum of $key failed: HTTP $code")
            etags += etag
            partNum += 1
          }
        }
      } finally in.close()
      val completeXml =
        "<CompleteMultipartUpload>" +
          etags.zipWithIndex.map { case (e, i) =>
            s"<Part><PartNumber>${i + 1}</PartNumber><ETag>$e</ETag></Part>"
          }.mkString +
        "</CompleteMultipartUpload>"
      val resp = post(s"uploadId=${encodeQ(uploadId)}", completeXml.getBytes(StandardCharsets.UTF_8))
      // AWS responds <CompleteMultipartUploadResult>, some S3-compatibles
      // say ...Response; an <Error> body can arrive under HTTP 200 too
      if (!resp.contains("CompleteMultipartUpload") || resp.contains("<Error>"))
        throw new IOException(s"multipart complete of $key unexpected response: $resp")
    } catch {
      case e: Throwable =>
        // abort the upload so the store doesn't accrue orphaned parts
        try { val c = connect("DELETE", key, s"uploadId=${encodeQ(uploadId)}")
          c.getResponseCode; drainAndClose(c); c.disconnect() } catch { case _: IOException => () }
        throw e
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val key = pathKey(f)
    if (key.isEmpty) throw new PathIOException(f.toString, "cannot create the bucket root")
    val existing = try Some(getFileStatus(f)) catch { case _: FileNotFoundException => None }
    existing.foreach { st =>
      if (st.isDirectory) throw new FileAlreadyExistsException(s"$f is a directory")
      if (!overwrite) throw new FileAlreadyExistsException(s"$f already exists")
    }
    // overwrite=false stays exclusive END-TO-END: the close-time PUT carries
    // If-None-Match:* so a racing creator still loses atomically (412).
    new FSDataOutputStream(new S3Out(key, exclusive = !overwrite), statistics)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("s3x does not support append")

  // ---- namespace ops -----------------------------------------------------

  private def deleteKey(key: String): Unit = {
    val c = connect("DELETE", key)
    val code = c.getResponseCode
    drainAndClose(c); c.disconnect()
    if (code != 204 && code != 200 && code != 404)
      throw new IOException(s"DELETE $key failed: HTTP $code")
  }

  private def copyKey(srcKey: String, dstKey: String): Unit = {
    val c = connect("PUT", dstKey,
      headers = Seq("x-amz-copy-source" -> s"/$bucket/${encodeKey(srcKey)}"))
    val code = c.getResponseCode
    val body = readBody(c)
    c.disconnect()
    if (code != 200 || !body.contains("CopyObjectResult"))
      throw new IOException(s"COPY $srcKey -> $dstKey failed: HTTP $code $body")
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val st = try getFileStatus(f) catch { case _: FileNotFoundException => return false }
    val key = pathKey(f)
    if (st.isFile) { deleteKey(key); return true }
    val prefix = if (key.isEmpty) "" else key + "/"
    val all = listAll(prefix, None).objects
    val real = all.filterNot(_.key == prefix)
    if (real.nonEmpty && !recursive)
      throw new PathIOException(f.toString, "directory is not empty")
    all.foreach(o => deleteKey(o.key))
    if (prefix.nonEmpty) deleteKey(prefix) // marker, if any survived
    true
  }

  /** S3 has no native rename: this is copy + delete and therefore NOT
    * atomic — graft's own commit protocol never routes through it
    * (manifests claim versioned keys with conditional PUT). For
    * directory trees the deletes are deferred until EVERY copy has
    * succeeded, so a mid-operation failure leaves the complete source
    * tree intact (plus possibly a partial destination copy) instead of
    * a tree split across both prefixes with some source keys gone.
    */
  override def rename(src: Path, dst: Path): Boolean = {
    val srcSt = try getFileStatus(src) catch { case _: FileNotFoundException => return false }
    val dstSt = try Some(getFileStatus(dst)) catch { case _: FileNotFoundException => None }
    val target: Path = dstSt match {
      case Some(s) if s.isDirectory => new Path(dst, src.getName)
      case Some(_)                  => return false // won't overwrite a file
      case None                     => dst
    }
    if (makeQualified(target) == makeQualified(src)) return true
    val srcKey = pathKey(src)
    val dstKey = pathKey(target)
    if (srcSt.isFile) {
      copyKey(srcKey, dstKey); deleteKey(srcKey)
    } else {
      if ((dstKey + "/").startsWith(srcKey + "/"))
        throw new PathIOException(src.toString, s"cannot rename under itself: $target")
      val all = listAll(srcKey + "/", None).objects
      // phase 1: copy every object (and re-create nested dir markers)
      all.foreach { o =>
        val rest = o.key.stripPrefix(srcKey + "/")
        if (o.key.endsWith("/")) mkdirs(keyPath(dstKey + "/" + rest.stripSuffix("/")))
        else copyKey(o.key, dstKey + "/" + rest)
      }
      // phase 2: only now delete the sources — all copies succeeded
      all.foreach(o => deleteKey(o.key))
      deleteKey(srcKey + "/")
    }
    true
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val key = pathKey(f)
    if (key.isEmpty) return true
    val existing = try Some(getFileStatus(f)) catch { case _: FileNotFoundException => None }
    existing match {
      case Some(st) if st.isFile => throw new FileAlreadyExistsException(s"$f exists as a file")
      case Some(_)               => true
      case None =>
        val c = connect("PUT", key + "/")
        c.setDoOutput(true); c.setFixedLengthStreamingMode(0L)
        c.getOutputStream.close()
        val code = c.getResponseCode
        drainAndClose(c); c.disconnect()
        if (code != 200) throw new IOException(s"mkdirs $f failed: HTTP $code")
        true
    }
  }
}

/** HTTP 403 from the object store: an authorization failure, which no
  * retry fixes — the retry wrapper rethrows it immediately so callers
  * see the real problem (and its ListBucket caveat) on the first
  * attempt.
  */
class S3AccessDeniedException(msg: String) extends IOException(msg)
