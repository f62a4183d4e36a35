package perfbench

import java.io.File

import graft.DeltaTable
import graft.log.Checkpoint
import graft.sources.DeletionVectors
import graft.sources.DeletionVectors.{DeltaRef, SidecarRef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-directory measurements and the order-independent content hash. */
object Fs {

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def fileCount(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles).map(_.map(fileCount).sum).getOrElse(0L)

  def tableDir(t: DeltaTable): File = new File(new java.net.URI(t.loc.uri))

  /** Bytes of the files the snapshot references: data files, plus each
    * deletion vector's file once.
    */
  def referencedBytes(t: DeltaTable): Long = {
    val adds = t.dlog.addActions.values.toSeq
    val dvs = adds.flatMap(DeletionVectors.refOf).distinct.map {
      case SidecarRef(sc, _) =>
        val p = new java.net.URI(sc)
        dirBytes(if (p.isAbsolute) new File(p) else new File(tableDir(t), sc))
      case d: DeltaRef => if (d.storageType == "i") 0L else d.sizeInBytes
    }
    adds.map(_.size).sum + dvs.sum
  }

  /** Bytes under a table's directory, bytes its snapshot references, and
    * bytes added since the directory held `before`.
    */
  final case class Space(dirBytes: Long, referencedBytes: Long, addedBytes: Long)

  def space(t: DeltaTable, before: Long): Space = {
    val b = dirBytes(tableDir(t))
    Space(b, referencedBytes(t), b - before)
  }

  /** (rows, hash): the hash is a sum of per-row 64-bit hashes split in two
    * 32-bit halves, so it ignores row order but counts duplicates, and
    * cannot overflow.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col).toSeq
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(shiftright(h, 32)), sum(h.bitwiseAND(0xffffffffL))).head()
    (r.getLong(0), if (r.getLong(0) == 0) "0:0" else s"${r.getLong(1)}:${r.getLong(2)}")
  }

  /** The log's size and how far its head is from the last checkpoint. */
  def logGauges(r: Run, t: DeltaTable): Unit = {
    val logDir = new File(new java.net.URI(t.logLoc.uri))
    r.layer("log.tail_commits") =
      (t.version - Checkpoint.lastCheckpointVersion(t.logLoc).getOrElse(-1L)).toDouble
    r.layer("log.live_files") = t.dlog.addActions.size.toDouble
    r.layer("log.log_files") = fileCount(logDir).toDouble
    r.layer("log.log_bytes") = dirBytes(logDir).toDouble
  }
}
