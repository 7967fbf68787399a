package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import scala.util.control.NonFatal

/** A versioned manifest log: the files `dir/v<N><suffix>`, each version
  * CLAIMED by an atomic exclusive create. It is the one commit primitive
  * of the table format and every index — [[GraftManifestIO]]
  * (`manifests/v<N>.json`), the serving indexes
  * (`manifest/v<N>.json`) and the index federation's layout overlays
  * (`reshard/v<N>.json`) — so the claim, the listing, the retried read
  * and the CAS loop exist once.
  *
  * The listing is authoritative: the head is the highest claimed
  * version, and a commit becomes visible exactly when its claim lands.
  * There is no pointer to flip, and a claim lands with its whole body
  * ([[ManifestLog.claim]] has the one HDFS caveat), so a crash at any
  * point leaves v or v+1.
  * Exactly one of any number of racing writers wins a version. Object
  * stores without an atomic create-if-absent need a locking catalog in
  * front, as with Iceberg (docs/OBJECT_STORE.md).
  */
final class ManifestLog(dir: Path, fs: FileSystem, suffix: String) {
  private val Name = ("v(\\d+)" + java.util.regex.Pattern.quote(suffix)).r

  def path(v: Long): Path = new Path(dir, s"v$v$suffix")

  /** Claimed versions, ascending. */
  def versions(): Seq[Long] =
    try fs.listStatus(dir).toSeq.map(_.getPath.getName).collect { case Name(v) => v.toLong }.sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  def head(): Option[Long] = versions().lastOption

  /** Atomically claim version `v` with `body`; false = another writer won it. */
  def claim(v: Long, body: String): Boolean = ManifestLog.claim(fs, path(v), body)

  def read(v: Long): String = ManifestLog.read(fs, path(v))

  /** The CAS loop: `derive` reads the head and returns the next manifest
    * with its version and body, or None when there is nothing to commit.
    * A lost claim runs `derive` again against the fresh head; after
    * `maxAttempts` lost claims the commit fails with
    * [[GraftCommitConflict]].
    */
  def commit[M](what: String, maxAttempts: Int)(derive: => Option[(Long, String, M)]): Option[M] = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      derive match {
        case None => return None
        case Some((v, body, m)) => if (claim(v, body)) return Some(m)
      }
    }
    throw new GraftCommitConflict(s"$what lost the version race $maxAttempts times at ${dir.getParent}")
  }
}

object ManifestLog {
  def apply(dir: Path, conf: Configuration, suffix: String = ".json"): ManifestLog =
    new ManifestLog(dir, dir.getFileSystem(conf), suffix)

  /** Atomically create `target` with `body` unless it exists; returns
    * whether THIS writer created it. The claim is all-or-nothing: a
    * failed write never leaves a claimed version without its whole body.
    * On the local filesystem the body goes to a private temp file that
    * is then hard-linked to `target` — link(2) fails if the target
    * exists, and the target appears with its bytes (Hadoop's local
    * `create(overwrite = false)` is check-then-create, and create-then-
    * write shows a reader an empty file). Elsewhere it is
    * create-no-overwrite, where some filesystems signal the lost race as
    * a generic IOException naming 'exist', and a write or close that
    * fails deletes the target before the error propagates. On `s3x://`
    * the body lands whole at close with its conditional PUT; on HDFS a
    * process killed between the create and the close still leaves an
    * empty version file.
    */
  def claim(fs: FileSystem, target: Path, body: String): Boolean = {
    fs.mkdirs(target.getParent)
    if (fs.getScheme == "file") {
      val tmp = localTemp(target, body)
      try { Files.createLink(local(target), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally dropTemp(tmp)
    } else {
      val out = try fs.create(target, false) catch {
        case _: FileAlreadyExistsException => return false
        case e: java.io.IOException if e.getMessage != null &&
          e.getMessage.toLowerCase.contains("exist") => return false
      }
      try { try out.write(body.getBytes("UTF-8")) finally out.close(); true }
      catch {
        case _: FileAlreadyExistsException => false // s3x: lost at the close-time PUT
        case NonFatal(e) =>
          try fs.delete(target, false) catch { case NonFatal(_) => () }
          throw e
      }
    }
  }

  /** Replace `target` with `body` — a mutable ref, not a version. On
    * the local filesystem a temp file is renamed over the target in one
    * step (rename(2)), so a reader sees the old or the new body.
    * Elsewhere it is temp → delete → rename, and a reader between the
    * delete and the rename retries ([[read]]). False if the final rename
    * failed.
    */
  def replace(fs: FileSystem, target: Path, body: String): Boolean =
    if (fs.getScheme == "file") {
      val tmp = localTemp(target, body)
      try { Files.move(tmp, local(target), StandardCopyOption.ATOMIC_MOVE); true }
      finally dropTemp(tmp)
    } else {
      val tmp = new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      fs.delete(target, false)
      fs.rename(tmp, target) || { fs.delete(tmp, false); false }
    }

  /** Best effort: a temp left behind is hidden from every listing. */
  private def dropTemp(tmp: java.nio.file.Path): Unit =
    try Files.deleteIfExists(tmp) catch { case NonFatal(_) => () }

  private def local(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  /** `body` in a fresh hidden file beside `target` (never a `v<N>` name). */
  private def localTemp(target: Path, body: String): java.nio.file.Path =
    Files.write(local(target).resolveSibling(s".${target.getName}.${java.util.UUID.randomUUID()}.tmp"),
      body.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)

  /** Read a claimed file. Off the local filesystem a claim can be
    * VISIBLE at its create, before its bytes land, and a replaced ref is
    * briefly absent, so a missing or empty body is retried
    * before the read fails. A plain loop: a `return` from inside a
    * closure is an exception, and the catch below would swallow it.
    */
  def read(fs: FileSystem, path: Path): String = {
    var body = ""
    var last: Throwable = null
    var attempt = 0
    while (body.isEmpty && attempt < 5) {
      if (attempt > 0) Thread.sleep(10)
      attempt += 1
      try {
        val in = fs.open(path)
        body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        if (body.isEmpty) last = new java.io.IOException(s"empty read at $path (create/write sliver)")
      } catch { case NonFatal(e) => last = e }
    }
    if (body.isEmpty) throw last
    body
  }
}
