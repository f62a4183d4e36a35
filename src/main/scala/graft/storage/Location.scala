package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import java.nio.charset.StandardCharsets

/** A storage location: a Hadoop [[Path]] plus its owning [[FileSystem]].
  *
  * Spark-native re-expression of the reference's fsspec-based
  * `storage.Location` (xdlake/storage.py:79-205): Hadoop FS already
  * dispatches on URI scheme (`file://`, `s3a://`, `gs://`, `abfs://`), so no
  * filesystem registry is needed. Paths are always held fully qualified so
  * that string comparisons between log paths and scan-reported file names are
  * stable.
  */
final class Location private (val path: Path, val fs: FileSystem) {

  def uri: String = path.toString

  def child(name: String): Location = new Location(fs.makeQualified(new Path(path, name)), fs)

  def exists: Boolean = fs.exists(path)

  def mkdirs(): Unit = fs.mkdirs(path)

  def delete(recursive: Boolean = true): Unit =
    if (exists) fs.delete(path, recursive)

  def status: FileStatus = fs.getFileStatus(path)

  /** Sorted, non-recursive listing (reference storage.py:184-187). */
  def listSorted(): Seq[FileStatus] =
    if (!exists) Seq.empty
    else fs.listStatus(path).sortBy(_.getPath.getName).toSeq

  /** Sorted child names, empty for a missing directory. On the local
    * filesystem these come from one directory read: Hadoop's local
    * `listStatus` reads the names and then stats each one, dropping every
    * name deleted in between, so a directory whose entries turn over can
    * list empty though it never was (the catalog registry did). Checkpoint
    * I/O, JSON replay and the log and crc cleanups list here and stat only
    * the names they keep. Other schemes list through [[listSorted]].
    */
  def listNames(): Seq[String] = {
    val scheme = Option(path.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val f = new java.io.File(path.toUri.getPath)
      val names = f.list()
      if (names != null) names.toSeq.sorted
      else if (f.exists) throw new java.io.IOException(s"cannot list $uri")
      else Seq.empty
    } else listSorted().map(_.getPath.getName)
  }

  /** Recursive listing of data files, skipping hidden/_-prefixed entries. */
  def listDataFilesRecursive(): Seq[FileStatus] = {
    def visible(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filter(st => visible(st.getPath)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st)
      }
    if (exists) walk(path) else Seq.empty
  }

  def readString(): String = {
    Location.readCount.incrementAndGet()
    val in = fs.open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Plain (clobbering) write — used for clone's log copies. */
  def writeString(content: String): Unit = {
    val out = fs.create(path, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Atomic create-if-absent write: the optimistic-concurrency commit
    * primitive (reference xdlake/__init__.py:425-442 checks existence then
    * writes — a TOCTOU race under concurrent committers).
    *
    * On `file://` we use POSIX O_CREAT|O_EXCL (`createNewFile` +
    * write-to-temp + atomic move is unnecessary since losers error before
    * writing): exactly one same-version committer can win. HDFS enforces
    * `create(overwrite=false)` server-side. Object stores keep the
    * reference's documented race unless a locking [[graft.CommitContext]]
    * is plugged in.
    */
  def createIfAbsent(content: String): Unit = {
    val scheme = Option(path.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val f = new java.io.File(path.toUri.getPath)
      f.getParentFile.mkdirs()
      // write-then-hardlink: link(2) fails with EEXIST atomically AND the
      // published name carries its full content from the first instant —
      // a bare createNewFile-then-write claim let a concurrent lister
      // read the claimed-but-still-empty file (observed: the OCC catalog
      // registry rebasing against a wiped snapshot)
      val tmp = new java.io.File(f.getParentFile,
        s".${f.getName}.occ-${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp.toPath, content.getBytes(StandardCharsets.UTF_8))
      try java.nio.file.Files.createLink(f.toPath, tmp.toPath)
      catch {
        case _: UnsupportedOperationException =>
          // no-hardlink filesystem: fall back to the two-step claim
          if (!f.createNewFile())
            throw new java.nio.file.FileAlreadyExistsException(uri)
          java.nio.file.Files.write(f.toPath, content.getBytes(StandardCharsets.UTF_8))
      } finally tmp.delete()
    } else {
      if (exists)
        throw new java.nio.file.FileAlreadyExistsException(uri)
      val out = fs.create(path, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  override def toString: String = uri
}

object Location {

  /** Whole-file reads issued through [[Location.readString]] — cheap
    * observability for I/O-complexity assertions (e.g. "N commits must not
    * re-read the log N² times").
    */
  val readCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Hadoop's defaults, loaded once and never handed out: a copy per open
    * skips re-parsing the XML resources (`addDefaultResource` reloads it). */
  private lazy val loaded = new Configuration()
  def defaultConf(): Configuration = new Configuration(loaded)

  def apply(s: String, conf: Configuration = defaultConf()): Location = {
    val p = new Path(s)
    val fs = p.getFileSystem(conf)
    new Location(fs.makeQualified(p), fs)
  }

  /** `absloc` semantics (reference storage.py:220-237): a path carrying a
    * URI scheme is absolute; anything else resolves relative to the table
    * root. Covers both `scheme://auth/...` and Hadoop's qualified
    * `file:/...` single-slash form.
    */
  def resolve(pathStr: String, tableRoot: Location, conf: Configuration): Location =
    if (new Path(pathStr).toUri.getScheme != null) Location(pathStr, conf)
    else {
      val p = new Path(tableRoot.path, pathStr)
      new Location(tableRoot.fs.makeQualified(p), tableRoot.fs)
    }

  /** Canonical `scheme://authority/path` form for comparing log paths with
    * `input_file_name()` output (which Spark renders with `://`).
    */
  def canonical(s: String): String = {
    val u = new Path(s).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    s"$scheme://$auth${u.getPath}"
  }
}
