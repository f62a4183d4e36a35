package graft.streaming

import graft.DeltaTable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Delta table as a Structured Streaming SOURCE.
  *
  * For append-only tables (the streaming-ingest case) the table's data
  * directory IS a valid file-stream source: every commit only adds new
  * parquet files, so Spark's built-in file source — which discovers and
  * checkpoints new files per micro-batch — yields exactly the committed
  * rows. This reuses Spark's battle-tested file tracking instead of a
  * custom MicroBatchStream.
  *
  * Non-append tables (delete/overwrite/restore rewrite files) need
  * version-aware change feeds — that is the batch
  * [[graft.DeltaTable.changesBetween]] API.
  *
  * Merge-on-read deletes (deletion vectors) don't rewrite data files, so
  * they cannot DUPLICATE rows here — and their `.bin` vectors are
  * invisible to the stream (only `*.parquet` files are read) —
  * but already-streamed rows later marked dead are NOT retracted and a
  * DV'd file's dead rows still stream on first discovery: this source is
  * for append-only ingest; DV-aware feeds go through `changesBetween`.
  */
object DeltaStreamSource {

  /** readStream over an append-only graft table. The schema is pinned from
    * the current log (file-stream sources require an explicit schema).
    *
    * The append-only contract is ENFORCED at construction (delta-spark
    * parity): any log entry carrying `remove` actions — overwrite,
    * copy-on-write delete/update/merge, OPTIMIZE, RESTORE — aborts,
    * because the removed files still exist on disk and the file stream
    * would serve their rows; a rewrite's new files would additionally
    * stream as duplicates. `ignoreChanges = true` opts out with delta's
    * documented semantics: the stream may then deliver reprocessed or
    * deleted rows. Commits made AFTER construction are the operator's
    * contract, as with delta's source.
    */
  def appendOnlyStream(spark: SparkSession, tableDir: String,
      ignoreChanges: Boolean = false,
      options: Map[String, String] = Map.empty): DataFrame = {
    val t = DeltaTable.forPath(tableDir)
    if (!ignoreChanges) {
      // full JSON replay, not the checkpoint fast path: a checkpoint
      // snapshot compacts history and would hide earlier removes
      val full = graft.log.DeltaLog.load(t.logLoc)
      full.entries.foreach { case (v, e) =>
        // a merge-on-read mutation re-adds the touched file with a
        // deletionVector ref, and its dead rows still stream — guard
        // removes and DV re-adds alike
        val dved = e.adds.count(a => graft.sources.DeletionVectors.refOf(a).isDefined)
        if (e.removes.nonEmpty || dved > 0) {
          val op = e.commitInfos.headOption.map(_.operation).getOrElse("UNKNOWN")
          val what =
            if (e.removes.nonEmpty) s"removed ${e.removes.size} file(s)"
            else s"attached deletion vectors to $dved file(s)"
          throw new IllegalStateException(
            s"appendOnlyStream requires an append-only table, but version $v " +
              s"($op) $what: removed/DV'd rows still stream and rewrites " +
              "duplicate rows. Use changesBetween for change feeds, or " +
              "ignoreChanges=true to accept reprocessing.")
        }
      }
    }
    spark.readStream
      .schema(t.schema)
      .option("basePath", tableDir)
      // data files only — never the transaction log or staging leftovers
      .option("pathGlobFilter", "*.parquet")
      // caller-supplied SOURCE options (maxFilesPerTrigger etc.) — sink
      // options can't reach the source, it is built right here
      .options(options)
      .parquet(tableDir)
  }
}

/** A table version as a V1 streaming offset. */
final case class GraftSourceOffset(version: Long)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String = s"""{"version":$version}"""
}

object GraftSourceOffset {
  def fromJson(s: String): GraftSourceOffset =
    GraftSourceOffset(graft.log.Json.mapper.readTree(s).get("version").asLong())

  def of(o: org.apache.spark.sql.connector.read.streaming.Offset): Long = o match {
    case GraftSourceOffset(v) => v
    case other => fromJson(other.json()).version
  }
}

/** Log-versioned Structured Streaming SOURCE — delta-spark's own design,
  * wired into `spark.readStream.format("graft")`:
  *
  *  - **Offsets are table versions.** `getOffset` reads the log head
  *    (checkpoint fast path, zero directory listing — the file-stream
  *    delegation in [[DeltaStreamSource.appendOnlyStream]] must LIST the
  *    data directory every trigger, which at 10⁵ files per table is the
  *    dominant micro-batch cost on an object store).
  *  - **Batches are commit ranges.** The initial batch is the full
  *    snapshot at the starting offset (delta's initial snapshot), read
  *    THROUGH deletion vectors; every later batch is exactly the
  *    `dataChange` adds of versions `(start, end]` — per-commit
  *    delivery, replayable from the offset log alone, so recovery is
  *    exactly-once without file tracking. `startingVersion` /
  *    `startingTimestamp` replace the snapshot with the changes of
  *    `[start, head]` (delta's semantics).
  *  - **Append-only enforced PER BATCH** (delta parity): a commit in the
  *    range carrying removes or deletion-vector re-adds aborts the
  *    stream — including commits made AFTER the stream started, which
  *    the construction-time check of `appendOnlyStream` cannot see.
  *    `ignoreDeletes=true` tolerates remove-only commits (partition-
  *    boundary retention deletes; their removed rows are NOT retracted),
  *    `ignoreChanges=true` additionally accepts rewrites and DV re-adds
  *    (reprocessed rows may be delivered), `skipChangeCommits=true`
  *    skips non-append commits wholesale (nothing they add is emitted —
  *    no duplicates, but rows genuinely inserted by a rewrite commit are
  *    missed; supersedes the other two options, as in delta), and
  *    `readChangeFeed=true` turns the source into the streaming CDF,
  *    where non-append commits are the payload rather than an error.
  *    Commits whose actions are all `dataChange=false` (OPTIMIZE,
  *    Z-order, DV purge) pass every mode untouched.
  */
final class GraftVersionedSource(
    spark: org.apache.spark.sql.SparkSession,
    tableDir: String,
    override val schema: org.apache.spark.sql.types.StructType,
    ignoreChanges: Boolean,
    conf: org.apache.hadoop.conf.Configuration,
    maxVersionsPerTrigger: Option[Long] = None,
    startingVersion: Option[Long] = None,
    readChangeFeed: Boolean = false,
    ignoreDeletes: Boolean = false,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    skipChangeCommits: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => ConnOffset, ReadLimit}
  import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}

  private def openHead(): DeltaTable = DeltaTable.forPath(tableDir, conf = conf)

  override def getOffset: Option[OffsetV1] = {
    val v = openHead().version
    if (v < 0L) None else Some(GraftSourceOffset(v))
  }

  // ----------------------------------------------------------------
  // Rate limiting via ADMISSION CONTROL (delta-spark's mechanism): a
  // backfill against a table with 10⁴ accumulated commits must not land
  // as ONE giant micro-batch. With SupportsAdmissionControl the engine
  // passes each trigger's START offset into latestOffset, so
  // `maxVersionsPerTrigger` caps the range statelessly — and
  // SupportsTriggerAvailableNow latches the head at run start, so
  // Trigger.AvailableNow drains the WHOLE backlog in capped batches
  // instead of stopping at the first capped offset (what a plain V1
  // getOffset cap would do). The initial batch stays snapshot-shaped
  // (all live data at the first offset), like delta's initial snapshot:
  // the cap governs the tail, where unbounded ranges actually occur.
  // ----------------------------------------------------------------

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(openHead().version)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: ConnOffset, limit: ReadLimit): ConnOffset = {
    val head = availableNowTarget.getOrElse(openHead().version)
    if (head < 0L) return null
    val capped = Option(start).map(GraftSourceOffset.of) match {
      case Some(s) => cappedEnd(s, head)
      case None =>
        // with startingVersion the FIRST batch is a commit range — the
        // exact backfill the caps exist for — so it is capped from
        // sv0-1 like any tail batch. Without it the first batch is the
        // initial snapshot (one batch by design, delta parity).
        startingVersion match {
          case Some(sv0) => cappedEnd(math.min(sv0 - 1, head), head)
          case None => head
        }
    }
    GraftSourceOffset(capped)
  }

  private def cappedEnd(s: Long, head: Long): Long = {
    val vCap = maxVersionsPerTrigger
      .map(cap => math.min(head, s + cap)).getOrElse(head)
    math.min(vCap, fileByteCap(s, head))
  }

  /** Cap the batch end so the range's ADD files/bytes stay within
    * `maxFilesPerTrigger`/`maxBytesPerTrigger` (delta's default rate
    * limits — a SINGLE version can carry 10⁴ files from a bulk import,
    * so version-count capping alone does not bound a micro-batch). The
    * walk reads only the candidate range's log entries (driver-side,
    * O(versions) metadata). At least one version is always admitted —
    * an oversized commit must still go through, as in delta.
    */
  // the table's log dir, derived without a full table open (the source
  // never passes a custom logPath); used for bounded tail reads below
  private lazy val logLoc =
    graft.storage.Location(tableDir, conf).child("_delta_log")

  private def fileByteCap(s: Long, head: Long): Long = {
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) return head
    if (head <= s) return head
    // bounded parse: ONLY the candidate range's entries are read —
    // per-trigger driver work is O(range), never O(total log)
    val json = graft.log.DeltaLog.loadAfter(logLoc, s, Some(head))
    var files = 0L; var bytes = 0L; var end = s
    var v = s + 1
    var stop = false
    while (v <= head && !stop) {
      json.entries.get(v).foreach { e =>
        val adds = e.adds.filter(_.dataChange)
        files += adds.size
        bytes += adds.map(_.size).sum
      }
      val over = maxFilesPerTrigger.exists(files > _) ||
        maxBytesPerTrigger.exists(bytes > _)
      if (over && v > s + 1) stop = true // keep at least one version
      else { end = v; v += 1 }
    }
    end
  }

  override def reportLatestOffset(): ConnOffset = {
    val v = openHead().version
    if (v < 0L) null else GraftSourceOffset(v)
  }

  /** Only `dataChange=true` actions count against the append-only
    * contract (delta parity): an OPTIMIZE / Z-order / DV-purge commit
    * rewrites files with `dataChange=false` on both sides, and aborting
    * a live stream because maintenance ran would make maintenance
    * impossible on any streamed table.
    */
  private def changeRemoves(e: graft.log.DeltaLogEntry): Int =
    e.removes.count(_.dataChange)
  private def changeDvAdds(e: graft.log.DeltaLogEntry): Int =
    e.adds.count(a => a.dataChange &&
      graft.sources.DeletionVectors.refOf(a).isDefined)

  private def guardAppendOnly(v: Long, e: graft.log.DeltaLogEntry): Unit = {
    val removed = changeRemoves(e)
    val dved = changeDvAdds(e)
    // ignoreDeletes (delta's option): a REMOVE-ONLY commit — retention
    // deletes at partition boundaries — passes; its removed rows are not
    // retracted. A commit that also ADDS data files or attaches DVs is a
    // rewrite and still aborts (only ignoreChanges accepts those).
    if (ignoreDeletes && dved == 0 && e.adds.forall(!_.dataChange)) return
    if (removed > 0 || dved > 0) {
      val op = e.commitInfos.headOption.map(_.operation).getOrElse("UNKNOWN")
      throw new IllegalStateException(
        s"streaming source requires append-only commits, but version $v ($op) " +
          (if (removed > 0) s"removed $removed file(s)"
           else s"attached deletion vectors to $dved file(s)") +
          ". Use changesBetween for change feeds, ignoreChanges=true to " +
          "accept reprocessed rows, or skipChangeCommits=true to skip " +
          "non-append commits entirely.")
    }
  }

  /** The `dataChange` adds of commits [from, to], append-only-guarded per
    * commit; empty when the range is (log cleanup holes below `from` still
    * error loudly — a silent gap would skip committed data).
    * `skipChangeCommits=true` (delta's option, superseding ignoreChanges/
    * ignoreDeletes) drops each non-append commit WHOLESALE — its adds are
    * not emitted either, so a copy-on-write rewrite contributes neither
    * duplicates nor retractions, at the cost of missing rows genuinely
    * inserted by that commit.
    */
  private def rangeAdds(endT: DeltaTable, from: Long,
      to: Long): Seq[graft.log.AddFile] = {
    if (to < from) return Seq.empty
    // bounded parse (see fileByteCap): the batch range only
    val json = graft.log.DeltaLog.loadAfter(endT.logLoc, from - 1, Some(to))
    val range = json.entries.range(from, to + 1)
    val missing = (from to to).toSet -- range.keySet
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"commits ${missing.toSeq.sorted.mkString(",")} are gone (log " +
          "cleanup ran past this stream's offset); restart the stream " +
          "from a fresh checkpoint to re-read the initial snapshot")
    range.toSeq.flatMap { case (v, e) =>
      if (skipChangeCommits && (changeRemoves(e) > 0 || changeDvAdds(e) > 0))
        Seq.empty
      else {
        if (!ignoreChanges) guardAppendOnly(v, e)
        e.adds.filter(_.dataChange)
      }
    }
  }

  /** Change-feed batch (`readChangeFeed=true`): versions (from, to] as
    * row-level `insert`/`delete`/`remove_file` frames — delegates to the
    * batch CDF ([[DeltaTable.changesBetween]]), so merge-on-read deletes
    * stream their EXACT newly-dead rows and rename/drop boundaries
    * inside a batch are rejected rather than mislabeled.
    */
  private def cdfBatch(endT: DeltaTable, from: Long, to: Long): DataFrame =
    endT.changesBetween(spark, from, to)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val endV = GraftSourceOffset.of(end)
    val head = openHead()
    val endT = if (head.version == endV) head else head.loadAsVersion(endV)
    val df = (start, startingVersion) match {
      case (Some(s), _) =>
        val sv = GraftSourceOffset.of(s)
        if (readChangeFeed) cdfBatch(endT, sv, endV)
        else graft.sources.DeltaScan.snapshotDF(spark, endT.loc, schema,
          endT.partitionColumns, rangeAdds(endT, sv + 1, endV), conf)
      case (None, Some(sv0)) =>
        // delta's startingVersion: NO initial snapshot — the first batch
        // is the changes of versions [sv0, endV] (empty when the stream
        // started at `latest` and endV hasn't passed it yet)
        if (readChangeFeed) cdfBatch(endT, sv0 - 1, endV)
        else graft.sources.DeltaScan.snapshotDF(spark, endT.loc, schema,
          endT.partitionColumns, rangeAdds(endT, sv0, endV), conf)
      case (None, None) =>
        // initial snapshot: the table's LIVE rows at endV, read THROUGH
        // any deletion vectors (delta parity — historic removes and DVs
        // inside [0, endV] are already resolved by replay; the
        // append-only contract governs only the tail). DeltaScan
        // .snapshotDF alone would serve DV'd files' dead rows.
        val baseNames =
          if (readChangeFeed) schema.fields.dropRight(2).map(_.name)
          else schema.fieldNames
        val snap = endT.toDF(spark)
          .select(baseNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
        if (readChangeFeed)
          snap.withColumn("_commit_version", lit(endV))
            .withColumn("_change_type", lit("insert"))
            .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
        else snap
    }
    org.apache.spark.sql.graftshim.ColumnShim.asStreaming(df)
  }

  override def stop(): Unit = ()
}
