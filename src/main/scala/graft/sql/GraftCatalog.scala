package graft.sql

import graft.storage.Location
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ColumnShim

/** Name → path registry for graft tables — the delta-spark UX gap the
  * r12 verdict ranked first: everything SQL previously needed a path
  * spelling (`graft.`/p``), while delta-spark users address tables by
  * NAME through the session catalog. `CREATE TABLE db.t USING graft
  * [LOCATION '…']` registers a name here, and every read/write/
  * maintenance verb resolves it through the SAME post-parse
  * interception the path spellings use — so a named table can never
  * fall through to Spark's built-in catalog and become a raw parquet
  * write (the X180 no-strays hazard applies to names identically).
  *
  * Registry state is a VERSIONED sequence of full JSON snapshots
  * (`name → path`) at `<spark.sql.warehouse.dir>/_graft_catalog/
  * <%020d>.json` — the table log's own OCC mechanism
  * ([[graft.storage.Location.createIfAbsent]]) applied to the name
  * registry: a mutation reads the latest snapshot, applies, and commits
  * version+1 atomically; a cross-process loser gets
  * FileAlreadyExists, re-reads, and re-applies. The r13 temp+rename
  * single-file scheme gave atomic VISIBILITY but last-rename-wins
  * semantics — two concurrent drivers registering different names could
  * silently drop one registration. Keys are case-insensitive (Spark
  * identifier semantics), 1–3 dotted parts. Reads list the directory
  * and parse only when the latest version advanced (cached otherwise);
  * a committer prunes snapshots more than a few versions behind. A
  * legacy single-file `_graft_catalog.json` (pre-r14 layout) seeds
  * version 0 and keeps resolving until the first mutation migrates it.
  *
  * Scale shape: the registry is names-only metadata (bytes per table,
  * never file lists — those stay in each table's own log), so even 10⁵
  * registered tables read in microseconds; table STATE is untouched,
  * exactly like delta's catalog split (catalog = pointer, log = truth).
  */
object GraftCatalog {

  val FileName = "_graft_catalog.json"
  val DirName = "_graft_catalog"

  // (dir uri) -> (latest version seen, parsed map)
  @volatile private var cache: Option[(String, Long, Map[String, String])] = None

  /** Test hook: forget the cached snapshot (e.g. after moving a registry
    * directory on disk out from under the cache key).
    */
  private[graft] def invalidateCache(): Unit = cache = None

  /** Case-insensitive catalog key for a multipart identifier; None when
    * the parts are a path spelling (handled elsewhere) or empty.
    */
  def key(parts: Seq[String]): Option[String] = {
    val norm =
      if (parts.length > 1 && parts.head.equalsIgnoreCase("spark_catalog"))
        parts.tail
      else parts
    if (norm.isEmpty || norm.length > 3) None
    else if (norm.exists(p => p.contains("/") || p.contains("\\") ||
      p.isEmpty)) None
    else Some(norm.map(_.toLowerCase(java.util.Locale.ROOT)).mkString("."))
  }

  private def legacyLoc(spark: SparkSession): Location = {
    val wh = spark.sessionState.conf.warehousePath
    Location(wh, ColumnShim.hadoopConf(spark)).child(FileName)
  }

  private def registryDir(spark: SparkSession): Location = {
    val wh = spark.sessionState.conf.warehousePath
    Location(wh, ColumnShim.hadoopConf(spark)).child(DirName)
  }

  private val VersionFile = """(\d{20})\.json""".r

  private def versionOf(name: String): Option[Long] = name match {
    case VersionFile(v) => Some(v.toLong)
    case _ => None
  }

  /** Snapshot versions present, ascending, from one listing of names. */
  private def versions(dir: Location): Seq[Long] =
    dir.listNames().flatMap(versionOf)

  /** Latest committed (version, snapshot); version -1 with the legacy
    * single-file content (or empty) when no versioned snapshot exists.
    */
  private def latest(spark: SparkSession): (Long, Map[String, String]) = {
    val dir = registryDir(spark)
    versions(dir).lastOption match {
      case Some(v) =>
        // the listed head can be pruned before it is read when the head
        // moves past the window in between; the new head is then listed
        try (v, parse(dir.child(f"$v%020d.json").readString()))
        catch { case _: java.io.FileNotFoundException => latest(spark) }
      case None =>
        val leg = legacyLoc(spark)
        val m =
          try parse(leg.readString())
          catch { case _: java.io.FileNotFoundException => Map.empty[String, String] }
        (-1L, m)
    }
  }

  /** The default data path for a managed-style named table (no LOCATION
    * clause): `<warehouse>/<db>/<name>` — external-style semantics
    * otherwise (LOCATION given), like delta.
    */
  def defaultPath(spark: SparkSession, k: String): String = {
    val wh = spark.sessionState.conf.warehousePath.stripSuffix("/")
    s"$wh/${k.replace('.', '/')}"
  }

  def resolve(spark: SparkSession, parts: Seq[String]): Option[String] =
    key(parts).flatMap(k => all(spark).get(k))

  def resolveName(spark: SparkSession, name: String): Option[String] =
    resolve(spark, name.split('.').toSeq.map(_.stripPrefix("`").stripSuffix("`")))

  def all(spark: SparkSession): Map[String, String] = {
    val dir = registryDir(spark)
    val uri = dir.uri
    // a list, not a read: parse only when the cache STAMP moved — the
    // latest version for a versioned registry, or (encoded negative) the
    // legacy file's mtime when only the pre-r14 single file exists, or -1
    // when neither does. Without the legacy/absent arm every statement of
    // a registry-less session would re-read (or re-throw FileNotFound on)
    // the legacy path.
    val top = versions(dir).lastOption.getOrElse(-1L)
    val stamp =
      if (top >= 0L) top
      else {
        val leg = legacyLoc(spark)
        val mtime =
          try leg.fs.getFileStatus(leg.path).getModificationTime
          catch { case _: java.io.FileNotFoundException => -1L }
        if (mtime < 0L) -1L else -2L - mtime
      }
    cache match {
      case Some((u, s, map)) if u == uri && s == stamp => map
      case _ =>
        val map =
          if (stamp == -1L) Map.empty[String, String]
          else latest(spark)._2
        cache = Some((uri, stamp, map))
        map
    }
  }

  def register(spark: SparkSession, k: String, path: String): Unit =
    mutate(spark)(_ + (k -> path))

  /** True when the name was present. */
  def unregister(spark: SparkSession, k: String): Boolean =
    mutate(spark)(_ - k).contains(k)

  /** OCC mutation: read latest snapshot, apply, commit version+1 via
    * atomic create-if-absent; a concurrent committer (ANY process) makes
    * the create fail and this retries against the fresh state — the same
    * read-apply-rebase loop the table log uses, so two drivers
    * registering different names both land. Deliberately NOT also
    * JVM-locked: OCC is the ONLY mechanism, so an in-process concurrency
    * spec exercises exactly the cross-process path. An identity mutation
    * commits nothing.
    *
    * A create can also succeed on a RECYCLED number: a committer stalled
    * between its read and its create while others moved the head more
    * than [[PruneWindow]] versions on, and pruning deleted version v+1.
    * The snapshot then lands below the head, where no reader looks, so
    * the mutation is lost; that case is detected after the create and
    * retried like a conflict. `beforeCommit` runs between the read and
    * the create, `afterCreate` between a successful create and its
    * recycle check (specs use them to force those interleavings).
    *
    * Returns the snapshot the mutation was applied to: that of the first
    * attempt whose create succeeded, else that of the attempt that found
    * nothing to change. A create judged recycled may in fact have landed
    * (more than [[PruneWindow]] others committed on top of it before the
    * re-listing, which then looks the same), and its retry finds the
    * mutation already applied: `unregister` would read the retry's
    * snapshot as "the name was not there".
    */
  private[graft] def mutate(spark: SparkSession, beforeCommit: () => Unit = () => (),
      afterCreate: () => Unit = () => ())(
      f: Map[String, String] => Map[String, String]): Map[String, String] = {
    val dir = registryDir(spark)
    var attempt = 0
    var base = Option.empty[Map[String, String]]
    var done = false
    while (!done) {
      val (v, cur) = latest(spark)
      val next = f(cur)
      if (next == cur) {
        cache = Some((dir.uri, v, cur))
        if (base.isEmpty) base = Some(cur)
        done = true
      } else {
        val node = graft.log.Json.obj()
        next.toSeq.sortBy(_._1).foreach { case (k, p) => node.put(k, p) }
        val target = dir.child(f"${v + 1}%020d.json")
        beforeCommit()
        val created =
          try { target.createIfAbsent(node.toString); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        if (created) {
          if (base.isEmpty) base = Some(cur)
          afterCreate()
        }
        if (created && !recycled(dir, v + 1)) {
          cache = Some((dir.uri, v + 1, next))
          prune(dir, v + 1)
          done = true
        } else {
          attempt += 1
          if (attempt > 50) throw new java.io.IOException(
            s"catalog registry contention: 50 failed commits at ${dir.uri}")
        }
      }
    }
    base.get
  }

  /** Snapshots a commit keeps behind itself; older ones are pruned. */
  private val PruneWindow = 4

  /** True when `committed` was created on a number pruning had freed.
    * Pruning deletes a version only once a commit more than
    * [[PruneWindow]] versions above it exists, and the head is never
    * pruned, so such a commit is still listed after the create. A genuine
    * commit sees one only if that many others landed on top of it between
    * its create and this listing; the retry then re-applies an idempotent
    * name mutation to a state that already holds it.
    */
  private def recycled(dir: Location, committed: Long): Boolean =
    versions(dir).exists(_ > committed + PruneWindow)

  /** Keep a small trailing window of snapshots (readers only ever open
    * the latest; the window covers a reader that listed just before a
    * commit), delete the rest — the registry directory stays O(1) files.
    */
  private def prune(dir: Location, committed: Long): Unit =
    try versions(dir).filter(_ < committed - PruneWindow)
      .foreach(v => dir.child(f"$v%020d.json").delete(recursive = false))
    catch { case _: Throwable => () } // best-effort housekeeping

  private def parse(json: String): Map[String, String] = {
    val root = graft.log.Json.mapper.readTree(json)
    if (root == null || !root.isObject) Map.empty
    else {
      val b = Map.newBuilder[String, String]
      root.fieldNames().forEachRemaining(k => b += (k -> root.get(k).asText()))
      b.result()
    }
  }
}
