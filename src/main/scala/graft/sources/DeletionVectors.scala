package graft.sources

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.JsonNode
import graft.log.{AddFile, Json}
import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Merge-on-read deletion vectors: a DELETE that marks rows dead in a
  * vector instead of rewriting data files.
  *
  * The reference deletes copy-on-write only (xdlake/__init__.py:192-224):
  * dropping one row from a 1 GB file rewrites the full gigabyte. At 100 TB
  * that write amplification is the dominant cost of row-level deletes
  * (GDPR erasure, targeted decontamination), which is why Delta, Iceberg
  * and Hudi all grew a merge-on-read path. Graft's variant:
  *
  *  - There is ONE write format, the delta protocol's: every merge-on-read
  *    commit records a roaring-bitmap vector per touched file, inline in
  *    the descriptor (storageType "i") or in a uuid-named `.bin` ("u"),
  *    see [[DeltaRef]]. The newest vector is total per file (prior dead
  *    rows of a re-deleted file are merged in), so a file never needs
  *    more than one lookup at scan time.
  *  - Each touched `AddFile` is re-added (same data file, same stats) with
  *    `extra("deletionVector")` = the descriptor, paired with a remove of
  *    the superseded add. The JSON `extra` field round-trips through log
  *    replay, checkpoints (raw-line format) and foreign-file import.
  *  - Tables written by earlier builds may carry graft's parquet sidecar
  *    instead: a directory under `_graft_dv/` holding `(path, row_index)`
  *    of every dead row of every file its commit touched, referenced as
  *    `{"sidecar": <dir>, "cardinality": N}` ([[SidecarRef]]). Nothing
  *    writes one any more; scans, re-deletes, compaction, vacuum, clone
  *    and restore still read them, until no table needs it.
  *  - Scans drop dead rows INSIDE the scan task (`DeltaTable.scanAdds`/
  *    `dvScan` — the path every internal read, DELETE/UPDATE/MERGE/
  *    compact/CDF included, goes through). The DV'd files' meta-scan
  *    carries one deterministic [[DvKeep]] predicate over Spark's
  *    `_metadata.file_path` / `_metadata.row_index` columns, built on the
  *    driver from each DV'd file's descriptor ([[liveRowFilter]]). A task
  *    loads a file's dead rows into a bitmap the first time it meets the
  *    file and drops rows by row index before they leave the scan: no
  *    decode job, no broadcast, no join. Clean files keep their
  *    filter-free plan. `compact()` purges vectors (its rewrite reads
  *    through them); `vacuum()` keeps referenced `.bin`s and sidecar dirs.
  *
  * Row identity is `(file, parquet row index)`. A spec vector belongs to
  * exactly one file by construction. Sidecar rows name their file by the
  * path it had when the sidecar was written, and a clone rewrites add
  * paths absolute, so a scan matches sidecar rows by basename; the
  * builds that wrote sidecars never put two files with one basename in
  * one sidecar.
  */
object DeletionVectors {

  /** `AddFile.extra` key carrying the DV reference. */
  val ExtraKey = "deletionVector"

  /** Sidecar directory name under the table root. */
  val DvDirName = "_graft_dv"

  /** Sidecar schema: the owning add's log path + dead row index. */
  val sidecarSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("row_index", LongType, nullable = false)))

  /** A file's deletion-vector reference — a delta-spec descriptor
    * (PROTOCOL.md "Deletion Vectors": roaring bitmap blobs, storageType
    * u/i/p) or, on tables written by earlier builds, graft's parquet
    * sidecar.
    */
  sealed trait DvRef { def cardinality: Long }

  /** Graft's legacy ref: a `(path, row_index)` parquet sidecar dir
    * (read-only — no write path produces one).
    */
  final case class SidecarRef(sidecar: String, cardinality: Long) extends DvRef

  /** Delta-spec descriptor. `ownerPath` is the referencing add's recorded
    * path — delta DV row indexes are relative to the owning data file, so
    * resolution must re-key them under it. `offset` is present ONLY for
    * on-disk vectors (storageType u/p): the delta protocol omits it for
    * inline ("i") descriptors, and strict parsers (delta-kernel) REJECT
    * an inline descriptor that carries one.
    */
  final case class DeltaRef(storageType: String, pathOrInlineDv: String,
      offset: Option[Long], sizeInBytes: Long, cardinality: Long,
      ownerPath: String) extends DvRef

  def refOf(a: AddFile): Option[DvRef] =
    a.extra.get(ExtraKey).map { node =>
      Json.strOpt(node, "sidecar") match {
        case Some(sc) => SidecarRef(sc, Json.longOpt(node, "cardinality").getOrElse(0L))
        case None =>
          val st = Json.strOpt(node, "storageType").getOrElse(
            throw new IllegalArgumentException(
              s"deletionVector on ${a.path} carries neither a graft sidecar " +
                "nor a delta storageType — cannot resolve its dead rows"))
          DeltaRef(st,
            Json.strOpt(node, "pathOrInlineDv").getOrElse(throw
              new IllegalArgumentException(s"deletionVector on ${a.path} has no pathOrInlineDv")),
            Json.longOpt(node, "offset"),
            Json.longOpt(node, "sizeInBytes").getOrElse(0L),
            Json.longOpt(node, "cardinality").getOrElse(0L),
            a.path)
      }
    }

  def withRef(a: AddFile, ref: DvRef): AddFile = {
    val node = Json.obj()
    ref match {
      case SidecarRef(sc, card) =>
        node.put("sidecar", sc)
        node.put("cardinality", card)
      case DeltaRef(st, poi, off, size, card, _) =>
        node.put("storageType", st)
        node.put("pathOrInlineDv", poi)
        off.foreach(node.put("offset", _))
        node.put("sizeInBytes", size)
        node.put("cardinality", card)
    }
    a.copy(extra = a.extra + (ExtraKey -> (node: JsonNode)), dataChange = true)
  }

  /** The key a scanned file's rows are matched to its descriptor by: the
    * canonical URI of a `_metadata.file_path` value (URL-encoded, as
    * Spark renders it), equal to the canonical resolved path of its add.
    */
  def fileKey(fileUri: String): String =
    Location.canonical(new Path(new java.net.URI(fileUri)).toString)

  /** Resolve a delta descriptor's DV file path (storageType u/p). */
  def deltaDvPath(storageType: String, pathOrInlineDv: String,
      tableRoot: Location, conf: Configuration): Path =
    storageType match {
      case "p" => Location.resolve(pathOrInlineDv, tableRoot, conf).path
      case "u" =>
        // pathOrInlineDv = <optional random prefix><20-char Z85 uuid>;
        // the file lives at <root>/<prefix>/deletion_vector_<uuid>.bin
        val prefix = pathOrInlineDv.dropRight(20)
        val uuid = RoaringBitmaps.Z85.decodeUuid(pathOrInlineDv.takeRight(20))
        val dir =
          if (prefix.isEmpty) tableRoot
          else tableRoot.child(prefix)
        dir.child(s"deletion_vector_$uuid.bin").path
      case other =>
        throw new IllegalArgumentException(s"no DV file for storageType '$other'")
    }

  /** Dead rows `(path, row_index)` of the given refs, deduplicated across
    * sidecars (distinct refs may share a sidecar directory). Delta-spec
    * refs decode in EXECUTORS (one task partition per slice of refs —
    * a 10⁵-file DV'd table must not funnel every bitmap through the
    * driver); their `path` is the owning add's recorded path, matching
    * the sidecar rows' recording-time-path convention. Scans and writes
    * do not go through here (see [[liveRowFilter]] and [[DvRowFilter]]);
    * it is the plain-join reference the in-scan filter is checked
    * against.
    */
  def deadRows(spark: SparkSession, refs: Iterable[DvRef], tableRoot: Location,
      conf: Configuration): DataFrame = {
    val (sidecars, deltas) = refs.toSeq.partition(_.isInstanceOf[SidecarRef])
    val dirs = sidecars.collect { case SidecarRef(s, _) => s }.distinct
      .map(s => Location.resolve(s, tableRoot, conf).uri)
    val sidecarDf =
      if (dirs.isEmpty) DeltaScan.emptyDF(spark, sidecarSchema)
      else spark.read.schema(sidecarSchema).parquet(dirs: _*)
    if (deltas.isEmpty) sidecarDf
    else {
      import spark.implicits._
      val rootUri = tableRoot.uri
      val confMap = confToMap(conf)
      val deltaDf = spark.createDataset(deltas.collect { case d: DeltaRef => d })
        .mapPartitions { refs =>
          lazy val hconf = confFromMap(confMap)
          refs.flatMap(d =>
            specDeadRows(d, rootUri, hconf).iterator.map(idx => (d.ownerPath, idx)))
        }.toDF("path", "row_index")
      sidecarDf.unionByName(deltaDf)
    }
  }

  /** Row indexes a delta-spec descriptor marks dead, ascending. Inline
    * payloads decode from the descriptor itself; on-disk ones (storageType
    * u/p) read the blob at `offset` of the `.bin`, checking the format
    * version byte, the recorded size and the CRC.
    */
  def specDeadRows(d: DeltaRef, tableRootUri: String, conf: Configuration): Array[Long] = {
    val blob: Array[Byte] =
      if (d.storageType == "i") RoaringBitmaps.Z85.decode(d.pathOrInlineDv)
      else {
        val p = deltaDvPath(d.storageType, d.pathOrInlineDv,
          Location(tableRootUri, conf), conf)
        val off = d.offset.getOrElse(1L)
        val in = p.getFileSystem(conf).open(p)
        try {
          val version = in.readByte()
          require(version == 1, s"unsupported DV file version $version at $p")
          in.seek(off)
          val sz = in.readInt() // big-endian (DataInput)
          require(d.sizeInBytes <= 0 || sz == d.sizeInBytes,
            s"DV size mismatch at $p: descriptor ${d.sizeInBytes}, stored $sz")
          val buf = new Array[Byte](sz)
          in.readFully(buf)
          val crc = in.readInt()
          val c = new java.util.zip.CRC32()
          c.update(buf)
          require(crc == c.getValue.toInt, s"DV checksum mismatch at $p offset $off")
          buf
        } finally in.close()
      }
    RoaringBitmaps.decodeBlob(blob)
  }

  /** Hadoop conf as a plain serializable map (covers custom schemes). */
  private def confToMap(conf: Configuration): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  private[sources] def confFromMap(m: Map[String, String]): Configuration = {
    val hconf = new Configuration(false)
    m.foreach { case (k, v) => hconf.set(k, v) }
    hconf
  }

  /** Sidecar/DV-file URIs referenced by any of `adds` (vacuum's live set);
    * inline DVs contribute nothing.
    */
  def referencedSidecarUris(adds: Iterable[AddFile], tableRoot: Location,
      conf: Configuration): Set[String] =
    adds.flatMap(refOf(_)).flatMap {
      case SidecarRef(s, _) =>
        Some(Location.canonical(Location.resolve(s, tableRoot, conf).uri))
      case DeltaRef(st @ ("u" | "p"), poi, _, _, _, _) =>
        Some(Location.canonical(deltaDvPath(st, poi, tableRoot, conf).toString))
      case _ => None
    }.toSet

  /** Clone support: re-point a relative ref at the source table. Graft
    * sidecars resolve absolute; uuid-relative delta DVs become absolute
    * "p" refs (the uuid naming is root-relative and would dangle under
    * the clone's root); absolute/inline refs pass through.
    */
  def rewriteRefAbsolute(a: AddFile, srcRoot: Location, conf: Configuration): AddFile =
    refOf(a) match {
      case Some(ref: SidecarRef) =>
        withRef(a, ref.copy(sidecar = Location.resolve(ref.sidecar, srcRoot, conf).uri))
      case Some(ref @ DeltaRef("u", poi, _, _, _, _)) =>
        withRef(a, ref.copy(storageType = "p",
          pathOrInlineDv = deltaDvPath("u", poi, srcRoot, conf).toString))
      case _ => a
    }

  /** The predicate that keeps a DV'd file's live rows, for a meta-scan
    * (carrying [[DeltaScan.MetaPath]] / [[DeltaScan.MetaRow]]) of exactly
    * the files in `dved`. Each file is keyed by its canonical URI, the
    * form `_metadata.file_path` takes after [[DvRowFilter]] decodes it,
    * so two DV'd files that share a basename keep their own refs.
    */
  def liveRowFilter(dved: Seq[AddFile], tableRoot: Location, conf: Configuration): Column = {
    val refs = dved.flatMap(a => refOf(a).map(
      Location.canonical(Location.resolve(a.path, tableRoot, conf).uri) -> _)).toMap
    // inline vectors decode from the descriptor alone: ship no conf for them
    val readsFiles = refs.values.exists {
      case DeltaRef("i", _, _, _, _, _) => false
      case _ => true
    }
    val filter = DvRowFilter(refs, tableRoot.uri,
      if (readsFiles) confToMap(conf) else Map.empty)
    ColumnShim.column(DvKeep(ColumnShim.expression(col(DeltaScan.MetaPath)),
      ColumnShim.expression(col(DeltaScan.MetaRow)), filter))
  }
}

/** What a [[DvKeep]] predicate carries to the executors: each scanned DV'd
  * file's canonical URI → its descriptor, the table root the descriptors
  * resolve against, and the Hadoop conf as a plain map (empty when every
  * vector is inline).
  */
final case class DvRowFilter(refs: Map[String, DeletionVectors.DvRef],
    tableRootUri: String, conf: Map[String, String]) {

  @transient private lazy val hconf: Configuration = DeletionVectors.confFromMap(conf)

  /** Dead rows of the file at `fileUri` (a `_metadata.file_path` value:
    * URL-encoded, as Spark renders it), or null when none are dead.
    */
  private[graft] def deadOf(fileUri: String): Roaring64Bitmap = {
    val path = new Path(new java.net.URI(fileUri))
    val ref = refs.getOrElse(DeletionVectors.fileKey(fileUri),
      throw new IllegalStateException(s"no deletion-vector descriptor for scanned file $fileUri"))
    val dead = ref match {
      case DeletionVectors.SidecarRef(sidecar, _) =>
        val dir = Location.resolve(sidecar, Location(tableRootUri, hconf), hconf).uri
        SidecarCache.rowsOf(dir, hconf).getOrElse(path.getName, null)
      case d: DeletionVectors.DeltaRef =>
        val bm = new Roaring64Bitmap
        DeletionVectors.specDeadRows(d, tableRootUri, hconf).foreach(bm.addLong)
        bm
    }
    if (dead == null || dead.isEmpty) null else dead
  }

  // plans print this; the map itself can hold 10^5 entries
  override def toString: String = s"${refs.size} DV'd files"
}

/** One scan task's state: the dead rows of the file it is reading. A
  * task reads its files one after another, so the bitmap is looked up
  * only when the file changes.
  */
final class DvCursor(filter: DvRowFilter) {
  private var file: UTF8String = null
  private var dead: Roaring64Bitmap = null

  def keep(path: UTF8String, row: Long): Boolean = {
    if (file == null || !file.equals(path)) {
      dead = filter.deadOf(path.toString)
      file = path.clone()
    }
    dead == null || !dead.contains(row)
  }
}

/** `dv_keep(file_path, row_index)`: true for rows the file's deletion
  * vector does not mark dead. Deterministic — a row's verdict depends on
  * its (file, row index) alone — so it pushes below projections onto the
  * scan like any row filter. State lives in a [[DvCursor]] per task (per
  * generated-code instance under codegen).
  */
final case class DvKeep(path: Expression, row: Expression, filter: DvRowFilter)
    extends BinaryExpression with Predicate {

  override def left: Expression = path
  override def right: Expression = row
  override def nullable: Boolean = false
  override def prettyName: String = "dv_keep"

  @transient private lazy val cursor = new DvCursor(filter)

  override def eval(input: InternalRow): Any =
    cursor.keep(path.eval(input).asInstanceOf[UTF8String],
      row.eval(input).asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvFilter", filter)
    val cur = ctx.addMutableState(classOf[DvCursor].getName, "dvCursor",
      v => s"$v = new ${classOf[DvCursor].getName}($ref);")
    val p = path.genCode(ctx)
    val r = row.genCode(ctx)
    ev.copy(code = code"""
      |${p.code}
      |${r.code}
      |boolean ${ev.value} = $cur.keep(${p.value}, ${r.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvKeep = copy(path = newLeft, row = newRight)
}

/** Decoded sidecars, per JVM: sidecar URI → file basename → dead rows.
  * One sidecar holds the rows of every file its commit touched, so each
  * is decoded once per executor, not once per task (which would cost
  * O(files × sidecar)). Sidecar directories are UUID-named and never
  * rewritten, so an entry cannot go stale; entries sit behind soft
  * references, so memory pressure may drop one and it is decoded again.
  */
private[sources] object SidecarCache {

  private type Rows = Map[String, Roaring64Bitmap]

  private final class Slot {
    private var rows: SoftReference[Rows] = null
    def get(load: => Rows): Rows = synchronized {
      val hit = if (rows == null) null else rows.get
      if (hit != null) hit
      else {
        val v = load
        rows = new SoftReference(v)
        v
      }
    }
  }

  private val slots = new ConcurrentHashMap[String, Slot]()

  def rowsOf(dirUri: String, conf: Configuration): Rows =
    slots.computeIfAbsent(dirUri, _ => new Slot).get(decode(new Path(dirUri), conf))

  private def decode(dir: Path, conf: Configuration): Rows = {
    val out = scala.collection.mutable.HashMap.empty[String, Roaring64Bitmap]
    val parts = dir.getFileSystem(conf).listStatus(dir).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    parts.foreach { part =>
      val reader = ParquetReader.builder(new GroupReadSupport(), part).withConf(conf).build()
      try {
        // consecutive rows mostly share a file: resolve the basename only
        // when the path changes
        var lastPath: Binary = null
        var bm: Roaring64Bitmap = null
        var g = reader.read()
        while (g != null) {
          val p = g.getBinary("path", 0)
          if (lastPath == null || p != lastPath) {
            val s = p.toStringUsingUTF8
            bm = out.getOrElseUpdate(s.substring(s.lastIndexOf('/') + 1), new Roaring64Bitmap)
            lastPath = p.copy()
          }
          bm.addLong(g.getLong("row_index", 0))
          g = reader.read()
        }
      } finally reader.close()
    }
    out.valuesIterator.foreach(_.runOptimize())
    out.toMap
  }
}
