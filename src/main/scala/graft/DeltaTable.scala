package graft

import com.fasterxml.jackson.databind.JsonNode
import graft.log._
import graft.sources.{BloomIndex, DataSkipping, DeletionVectors, DeltaScan, DvRowFilter}
import graft.stats.Statistics
import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{broadcast, coalesce, col, collect_set, count, count_distinct, lit, not, struct, when}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Pluggable commit primitive (reference xdlake/__init__.py:425-442 keeps
  * the commit context overridable for external locking services).
  */
trait CommitContext {
  def write(loc: Location, content: String): Unit
}

/** Default: `FileSystem.create(path, overwrite=false)` — atomic on
  * local/HDFS; object stores retain the reference's documented TOCTOU race.
  */
object CreateIfAbsentCommit extends CommitContext {
  def write(loc: Location, content: String): Unit = loc.createIfAbsent(content)
}

/** An immutable handle on a versioned Delta table: every mutation commits a
  * new log entry and returns a NEW DeltaTable (reference
  * xdlake/__init__.py:444-446). All relational compute happens on the
  * DataFrame returned by [[toDF]] — scans, filters, joins, aggregations,
  * windows are inherited from Catalyst, not reimplemented (SURVEY.md §0).
  *
  * @param loc    table root (data files live under it)
  * @param logLoc transaction log dir — may differ from `loc` ("remote log",
  *               reference xdlake/__init__.py:25)
  */
final case class DeltaTable(
    loc: Location,
    logLoc: Location,
    dlog: DeltaLog,
    conf: Configuration,
    commitContext: CommitContext = CreateIfAbsentCommit,
    checkpointInterval: Int = 10,
    pendingGenerated: Map[String, String] = Map.empty,
    serializableIsolation: Boolean = false,
    pendingIdentity: Map[String, Identity.Spec] = Map.empty) {

  /** Strict SERIALIZABLE isolation for this handle's mutations: a
    * concurrent blind append whose new files MAY hold predicate-matching
    * rows (per their footer stats) conflicts instead of being left
    * unobserved. The default is delta's WriteSerializable, where blind
    * appends never abort a mutation.
    */
  def withSerializableIsolation: DeltaTable = copy(serializableIsolation = true)

  def version: Long = if (dlog.isEmpty) -1L else dlog.version
  def versions: Seq[Long] = withFullHistory.versions
  def schema: StructType = dlog.schema
  def partitionColumns: Seq[String] = dlog.partitionColumns

  /** Per-version views (history/clone/CDF) need every JSON entry; a
    * checkpoint-based load only carries a synthetic base + tail, so
    * re-replay the JSON commits (never deleted) in that case.
    */
  private def withFullHistory: DeltaLog =
    // contiguous 0..version keys = true per-commit granularity; a
    // checkpoint base OR a log-compaction range entry (one key covering
    // many commits) fails the size check and forces the raw replay
    if (dlog.entries.isEmpty || (dlog.entries.firstKey == 0L &&
        dlog.entries.size.toLong == dlog.version + 1)) dlog
    else {
      val full = DeltaLog.load(logLoc, None)
      // a cleaned log's JSON replay cannot reach version 0; the
      // checkpoint base this handle already holds IS the oldest
      // reachable state, so keep it rather than a tail-only view
      if (full.entries.nonEmpty && full.entries.firstKey == 0L) full else dlog
    }

  /** Absolute URIs of live files (reference xdlake/__init__.py:122-125). */
  def fileUris: Seq[String] =
    dlog.addActions.keys.toSeq.map(p => Location.resolve(p, loc, conf).uri)

  /** Typed view of the snapshot: the same log-backed scan as [[toDF]],
    * bound to a case class via its Encoder — compile-time column safety
    * for pipeline code that prefers `Dataset[T]` over dynamic rows. The
    * encoder resolves by NAME against the logical schema, so column-
    * mapped tables bind exactly like their DataFrame twin.
    */
  def toDS[T: org.apache.spark.sql.Encoder](spark: SparkSession): org.apache.spark.sql.Dataset[T] =
    toDF(spark).as[T]

  /** SHOW PARTITIONS, metadata-only: the distinct partition tuples of the
    * live snapshot, typed per the table schema, derived ENTIRELY from the
    * log's partitionValues — zero data files opened. On a 10⁵-partition
    * table the alternative (`SELECT DISTINCT part_cols`) scans every file
    * for an answer the log already holds.
    */
  def partitions(spark: SparkSession): DataFrame = {
    val pcols = dlog.partitionColumns
    require(pcols.nonEmpty, s"table at ${loc.uri} is not partitioned")
    import scala.jdk.CollectionConverters._
    val tuples = dlog.addActions.values
      .map(a => pcols.map(c => a.partitionValues.getOrElse(c, None).orNull))
      .toSeq.distinct
      .map(vs => org.apache.spark.sql.Row(vs: _*))
    val raw = spark.createDataFrame(tuples.asJava,
      StructType(pcols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType))))
    raw.select(pcols.map(c => col(c).cast(dlog.schema(c).dataType).as(c)): _*)
  }

  /** commitInfo + version, newest first (reference delta_log/__init__.py:312-318). */
  def history: Seq[(Long, CommitInfo)] = withFullHistory.history

  def historyDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    history.map { case (v, c) =>
      (v, c.effectiveTimestamp, c.operation, c.clientVersion, c.readVersion)
    }.toDF("version", "timestamp", "operation", "clientVersion", "readVersion")
  }

  /** DESCRIBE DETAIL (delta's surface): one row of table-level metadata,
    * all of it driver-side log state — no data scan. `numFiles` /
    * `sizeInBytes` fold the live add set; at 10⁵ files that is the same
    * metadata walk every commit already does.
    */
  def detail(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val meta = dlog.latestMetadata
    val adds = dlog.addActions.values
    val protocol = dlog.currentProtocol
    val lastModified = history.headOption.map(_._2.effectiveTimestamp).getOrElse(0L)
    Seq((
      "graft",
      meta.map(_.id).getOrElse(""),
      meta.flatMap(_.name),
      meta.flatMap(_.description),
      loc.uri,
      new java.sql.Timestamp(meta.map(_.createdTime).getOrElse(0L)),
      new java.sql.Timestamp(lastModified),
      dlog.partitionColumns,
      adds.size.toLong,
      adds.map(_.size).sum,
      tableProperties,
      protocol.minReaderVersion,
      protocol.minWriterVersion
    )).toDF("format", "id", "name", "description", "location", "createdAt",
      "lastModified", "partitionColumns", "numFiles", "sizeInBytes",
      "properties", "minReaderVersion", "minWriterVersion")
  }

  /** Time travel from in-memory entries (reference xdlake/__init__.py:73-82).
    * Below the newest checkpoint on a log-cleaned table, recovery goes
    * through the newest RETAINED checkpoint at/below `v` (the keep-2 GC
    * keeps the previous one exactly for this); only when no retained
    * checkpoint serves `v` does the below-horizon error propagate.
    */
  def loadAsVersion(v: Long): DeltaTable =
    try copy(dlog = dlog.loadAsVersion(v))
    catch {
      case e: IllegalArgumentException =>
        Checkpoint.loadFromAtOrBefore(logLoc, v, conf) match {
          case Some(base) => copy(dlog = base.loadAsVersion(v))
          case None => throw e
        }
    }

  /** The latest version committed at/before `timestampMillis` (delta's
    * timestampAsOf resolution over commitInfo timestamps; the reference
    * time-travels by version only). On a log-cleaned table only commits
    * above the checkpoint horizon carry timestamps — asks that resolve
    * below it fail like any other below-horizon ask.
    */
  def versionAt(timestampMillis: Long): Long = {
    val h = history // newest first
    if (h.isEmpty)
      throw new IllegalArgumentException("table has no commits to time-travel to")
    val at = h.filter { case (_, ci) => ci.effectiveTimestamp <= timestampMillis }
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"timestamp $timestampMillis predates the earliest reachable commit " +
          s"(version ${h.last._1} at ${h.last._2.effectiveTimestamp})")
    at.map(_._1).max
  }

  /** Time travel by wall-clock timestamp (delta's `timestampAsOf`). */
  def loadAsTimestamp(timestampMillis: Long): DeltaTable =
    loadAsVersion(versionAt(timestampMillis))

  /** The earliest version committed at/after `timestampMillis` (delta's
    * streaming `startingTimestamp` resolution — note the asymmetry with
    * [[versionAt]]: time travel answers "the table as of T", a stream
    * start answers "every change since T"). `version + 1` when every
    * commit predates the timestamp — the stream then serves only future
    * commits.
    */
  def versionAtOrAfter(timestampMillis: Long): Long = {
    val h = history // newest first
    // below-horizon guard: commits removed by log cleanup have no
    // commitInfo left to compare. If the oldest SURVIVING commit's
    // timestamp is still >= T, some cleaned commit may also have been —
    // "every change since T" cannot be served completely, so fail loudly
    // (delta's own startingTimestamp errors on unreachable history).
    // T strictly after the oldest survivor proves cleaned commits all
    // predate T, which keeps the resolution exact.
    h.lastOption.foreach { case (v0, ci0) =>
      if (v0 > 0L && timestampMillis <= ci0.effectiveTimestamp)
        throw new IllegalArgumentException(
          s"startingTimestamp $timestampMillis does not postdate the " +
            s"oldest reachable commit (version $v0 at ${ci0.effectiveTimestamp}); " +
            "earlier commits were removed by log cleanup, so changes " +
            "since that timestamp cannot be served completely — use " +
            "startingVersion or a fresh snapshot instead")
    }
    val at = h.filter { case (_, ci) => ci.effectiveTimestamp >= timestampMillis }
    if (at.isEmpty) version + 1 else at.map(_._1).min
  }

  /** The snapshot as a lazy DataFrame — the scan entry point (§3.1). */
  def toDF(spark: SparkSession): DataFrame =
    scanAdds(spark, dlog.addActions.values.toSeq)

  /** The snapshot with a stable `_row_id` column (delta's rowTracking
    * fresh row ids): id = the file's `baseRowId` + the row's physical
    * position, derived from reader metadata at scan time — zero extra
    * bytes at rest, and merge-on-read deletes never shift a survivor's
    * id. The per-file base map is O(files) driver metadata broadcast to
    * the scan; requires every live file to have been written under
    * `delta.enableRowTracking=true`.
    */
  def toDFWithRowIds(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.substring_index
    import spark.implicits._
    val adds = dlog.addActions.values.toSeq
    // a zero-row file contributes no rows, so it needs no id range (the
    // empty create-commit file of an enable-then-write table)
    val missing = adds.filter(a =>
      a.baseRowId.isEmpty && !a.numRecords.contains(0L))
    require(missing.isEmpty,
      s"row ids unavailable: ${missing.size} live file(s) lack baseRowId " +
        "(written before delta.enableRowTracking was set?)")
    val names = adds.map(a => pathName(a.path))
    require(names.distinct.size == names.size,
      "row ids need unique file basenames (imported-file collision)")
    // zero-row files carry no range (filtered above) and contribute no
    // rows — the inner join below just never matches them
    val bases = adds.flatMap(a => a.baseRowId.map(pathName(a.path) -> _))
      .toDF("_rt_name", "_rt_base")
    // stable ids: a file REWRITTEN by OPTIMIZE/auto-compact/REORG carries
    // each row's original id in the materialized row-id column; rows
    // still in their birth file read it as null and fall back to
    // baseRowId + position (delta's exact resolution order)
    val mcol = RowTracking.materializedCol(dlog.latestMetadata)
    val scanned = scanAddsWithMeta(spark, adds,
      mcol.toSeq.map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.LongType)))
    val freshId = col("_rt_base") + col(DeltaScan.MetaRow)
    scanned
      .join(broadcast(bases),
        substring_index(col(DeltaScan.MetaPath), "/", -1) === col("_rt_name"))
      .withColumn("_row_id",
        mcol.map(m => coalesce(col(m), freshId)).getOrElse(freshId))
      .drop(DeltaScan.MetaPath, DeltaScan.MetaRow, "_rt_name", "_rt_base")
      .drop(mcol.toSeq: _*)
  }

  // ------------------------------------------------------------------
  // DV-aware scans. Clean files keep the plain scan; files carrying a
  // deletionVector ref are meta-scanned under one row filter that drops
  // their dead rows by row index inside the scan task, with no join and
  // no broadcast (see sources/DeletionVectors.scala). Every internal read
  // of live data goes through these, so DELETE/UPDATE/MERGE/compact/CDF
  // all observe merge-on-read deletes.
  // ------------------------------------------------------------------

  private def pathName(p: String): String = new Path(p).getName

  /** Scan `adds` applying deletion vectors; schema columns only. */
  private[graft] def scanAdds(spark: SparkSession, adds: Seq[AddFile]): DataFrame = {
    val (dved, clean) = adds.partition(a => DeletionVectors.refOf(a).isDefined)
    if (dved.isEmpty)
      DeltaScan.snapshotDF(spark, loc, dlog.schema, dlog.partitionColumns, clean, conf)
    else {
      val dvDF = dvScan(spark, dved).drop(DeltaScan.MetaPath, DeltaScan.MetaRow)
      if (clean.isEmpty) dvDF
      else DeltaScan.snapshotDF(spark, loc, dlog.schema, dlog.partitionColumns,
        clean, conf).unionByName(dvDF)
    }
  }

  /** Scan `adds` applying deletion vectors, keeping [[DeltaScan.MetaPath]]
    * (each row's absolute source-file URI) and [[DeltaScan.MetaRow]].
    * Touched-file discovery ([[touchedFiles]]) keys on MetaPath instead of
    * `input_file_name()` because the latter evaluates empty on the probe
    * side of shuffled joins.
    */
  private[graft] def scanAddsWithMeta(spark: SparkSession, adds: Seq[AddFile],
      extraDataCols: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {
    val (dved, clean) = adds.partition(a => DeletionVectors.refOf(a).isDefined)
    val cleanDF = DeltaScan.snapshotDFWithMeta(spark, loc, dlog.schema,
      dlog.partitionColumns, clean, conf, extraDataCols)
    if (dved.isEmpty) cleanDF
    else if (clean.isEmpty) dvScan(spark, dved, extraDataCols)
    else cleanDF.unionByName(dvScan(spark, dved, extraDataCols))
  }

  /** Candidate scan for dataChange=false REWRITES (OPTIMIZE/auto-compact/
    * REORG): with row tracking on, each surviving row carries its STABLE
    * id in the materialized row-id column — existing materialized values
    * win (a file being re-rewritten), fresh `baseRowId + position`
    * otherwise — so the rewritten file preserves ids even though it is
    * assigned a fresh `baseRowId` range at commit (delta's stable-row-id
    * contract). Plain scan when tracking is off or any candidate predates
    * it (ids were never defined for those rows).
    */
  private def scanForRewrite(spark: SparkSession, adds: Seq[AddFile]): DataFrame = {
    import org.apache.spark.sql.functions.substring_index
    import spark.implicits._
    val metaOpt = dlog.latestMetadata
    val mcolOpt =
      if (RowTracking.enabled(metaOpt)) RowTracking.materializedCol(metaOpt)
      else None
    val mcol = mcolOpt.getOrElse(return scanAdds(spark, adds))
    if (adds.exists(a => a.baseRowId.isEmpty && !a.numRecords.contains(0L)))
      return scanAdds(spark, adds)
    val bases = adds.flatMap(a => a.baseRowId.map(pathName(a.path) -> _))
      .toDF("_rt_name", "_rt_base")
    scanAddsWithMeta(spark, adds, Seq(org.apache.spark.sql.types.StructField(
        mcol, org.apache.spark.sql.types.LongType)))
      .join(broadcast(bases),
        substring_index(col(DeltaScan.MetaPath), "/", -1) === col("_rt_name"))
      .withColumn(mcol,
        coalesce(col(mcol), col("_rt_base") + col(DeltaScan.MetaRow)))
      .drop(DeltaScan.MetaPath, DeltaScan.MetaRow, "_rt_name", "_rt_base")
  }

  /** DV'd files' surviving rows, with meta columns: the meta-scan under
    * the in-scan dead-row filter.
    */
  private def dvScan(spark: SparkSession, dved: Seq[AddFile],
      extraDataCols: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame =
    DeltaScan.snapshotDFWithMeta(spark, loc, dlog.schema, dlog.partitionColumns,
      dved, conf, extraDataCols)
      .filter(DeletionVectors.liveRowFilter(dved, loc, conf))

  /** Live adds that MAY contain rows matching `pred`, per log-recorded
    * partition values and per-file min/max/nullCount stats — driver-side
    * data skipping (exceeds the reference; its TODO at
    * xdlake/__init__.py:104). Conservative: never drops a file that could
    * match.
    */
  def prunedAdds(pred: Column): Seq[AddFile] = {
    // footer stats and bloom refs are keyed by PHYSICAL column names:
    // rewrite the predicate and probe under the physical schema (identity
    // for unmapped tables)
    val sch = dlog.schema
    val m = ColumnMapping.logicalToPhysical(sch)
    val physPred = ColumnMapping.toPhysicalPredicate(pred, m)
    val physSchema = ColumnMapping.physicalSchema(sch)
    // generated partition columns: a filter on the source column implies a
    // partition predicate (same derivation the planner-time FileIndex uses)
    val derived = graft.sources.GeneratedPruning.derive(
      Seq(org.apache.spark.sql.graftshim.ColumnShim.expression(physPred)),
      physSchema, dlog.partitionColumns,
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val full = derived.foldLeft(physPred)((acc, d) =>
      acc && org.apache.spark.sql.graftshim.ColumnShim.column(d))
    DataSkipping.prune(dlog.addActions.values.toSeq, full,
      physSchema, dlog.partitionColumns)
  }

  /** Filtered snapshot scan that opens only stats-surviving files, then
    * applies the exact predicate. Equivalent to `toDF(spark).filter(pred)`
    * but the plan never references skipped files at all.
    */
  def toDFWhere(spark: SparkSession, pred: Column): DataFrame =
    scanAdds(spark, prunedAdds(pred)).filter(pred)

  // ------------------------------------------------------------------
  // WRITE (reference xdlake/__init__.py:153-190, traced in SURVEY.md §3.2)
  // ------------------------------------------------------------------

  /** @param maxRetries optimistic-concurrency retries for APPEND commits:
    *        on a version-file conflict the log is reloaded and the same
    *        already-written data files are re-committed at the next
    *        version. 0 (default) preserves the reference's behavior of
    *        surfacing the conflict to the caller.
    */
  def write(
      df: DataFrame,
      mode: WriteMode = WriteMode.Append,
      schemaMode: String = "overwrite",
      partitionBy: Option[Seq[String]] = None,
      customMetadata: Map[String, JsonNode] = Map.empty,
      maxRetries: Int = 0): DeltaTable = {

    val resolvedPartitionBy: Seq[String] =
      if (!dlog.isEmpty) {
        mode match {
          case WriteMode.ErrorIfExists =>
            throw new java.nio.file.FileAlreadyExistsException(
              s"Table already exists at version ${dlog.version}")
          case WriteMode.Ignore => return this
          case _ => dlog.validatePartitionBy(partitionBy)
        }
      } else partitionBy.getOrElse(Seq.empty)

    // fail fast (before staging data files): protocol writability, and
    // the appendOnly gate when overwriting an existing table
    assertPreWrite(removesData = mode == WriteMode.Overwrite)

    // constrained writes evaluate df twice (validate + write): cache it so
    // an expensive upstream pipeline runs once
    // column defaults first (constant fills for omitted columns), then
    // generated columns: compute the absent ones, validate supplied ones
    val dfg0 = applyGenerated(applyDefaults(df))
    // identity columns: allocate absent values, gate supplied ones; the
    // advanced high-water marks are patched into the committed schema
    // below so allocation and mark ride ONE atomic commit
    val (dfg, identityHwms) = applyIdentity(dfg0)
    // column mapping: existing logical fields inherit the table's physical
    // names; new fields (schema merge / overwrite) are born with fresh
    // col-<uuid> physical names. Identity when mapping is inactive.
    val annSchema = ColumnMapping.annotateForWrite(
      if (dlog.isEmpty) None else Some(dlog.schema), mappingActive,
      Identity.annotate(annotateGenerated(dfg.schema), identityColumns))
    val wMapping = ColumnMapping.logicalToPhysical(annSchema)
    val constrained = dlog.constraints.nonEmpty || dlog.invariants.nonEmpty
    if (constrained) dfg.persist()
    // validate INSIDE the try: a constraint violation must not leave the
    // batch pinned in executor memory
    // optimized write (delta's `delta.autoOptimize.optimizeWrite`): an AQE
    // REBALANCE on the partition columns right-sizes output files at the
    // shuffle — without it a K-partition frame writes K files into EVERY
    // hive directory, the small-file debt that kills 100 TB tables. AQE
    // both coalesces tiny partitions and splits skewed ones toward
    // spark.sql.adaptive.advisoryPartitionSizeInBytes, which is exactly
    // delta-spark's optimized-write shuffle re-expressed natively.
    val dfw =
      if (autoOptimizeProp("optimizeWrite"))
        (if (resolvedPartitionBy.nonEmpty)
           dfg.hint("rebalance", resolvedPartitionBy.map(col): _*)
         else dfg.hint("rebalance"))
      else dfg
    val adds =
      try { validateConstraints(dfg); writeData(dfw, dlog.versionToWrite, resolvedPartitionBy, wMapping) }
      finally if (constrained) dfg.unpersist(blocking = false)
    var logState = dlog
    var attempts = 0
    var result: DeltaTable = null
    while (result == null) {
      // hwm patch AFTER evaluateSchema: append-equal evaluation keeps the
      // EXISTING schema object, which would silently drop the advanced
      // identity marks
      val evaluated = Identity.withHwms(
        logState.evaluateSchema(annSchema, mode, schemaMode), identityHwms)
      val entry = logState.entryForWriteMode(mode, evaluated, adds, resolvedPartitionBy)
        .withExtraCommitInfo(customMetadata)
      // pendingGenerated/pendingIdentity are consumed here: the committed
      // schema records the expressions/specs, so the returned handle must
      // not re-inject them (a later rename/drop of the column would
      // otherwise conflict with the stale pending entry)
      try result = copy(
        dlog = maybeCheckpoint(logState.commit(gated(entry, logState), commitContext)),
        pendingGenerated = Map.empty, pendingIdentity = Map.empty)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          if (mode != WriteMode.Append || attempts >= maxRetries) throw e
          attempts += 1
          logState = DeltaLog.load(logLoc, None)
          // The staged files were laid out for resolvedPartitionBy; if the
          // winning commit changed the table's partitioning, re-committing
          // them would corrupt the layout. Compare against the ORIGINAL
          // resolution — the caller's Option is None in the common case and
          // would vacuously pass. (Schema conflicts are caught by
          // evaluateSchema on the next loop iteration.)
          val current = logState.partitionColumns
          if (current.toSet != resolvedPartitionBy.toSet)
            throw new IllegalStateException(
              s"Concurrent commit changed partition columns " +
                s"${resolvedPartitionBy.mkString("[", ",", "]")} -> " +
                s"${current.mkString("[", ",", "]")}; append retry aborted", e)
          // same hazard for column mapping: the staged parquet carries the
          // ORIGINAL physical names — if a concurrent rename/drop changed
          // the mapping of any written column (including REMOVING its
          // logical name: schema merge would otherwise re-add it bound to
          // the old physical column, resurrecting a dropped column or
          // duplicating a renamed one's physical binding), re-committing
          // would bind wrong physical columns
          val curMap =
            if (logState.isEmpty) Map.empty[String, String]
            else ColumnMapping.logicalToPhysical(logState.schema)
          val origNames =
            if (dlog.isEmpty) Set.empty[String] else dlog.schema.fieldNames.toSet
          val mappingChanged = dfg.columns.exists(c => curMap.get(c) match {
            case Some(p) => p != wMapping(c)
            case None => origNames(c) // column existed, concurrently renamed/dropped
          })
          if (mappingChanged)
            throw new IllegalStateException(
              "Concurrent commit changed column mapping; append retry aborted", e)
      }
    }
    // auto compaction (delta's `delta.autoOptimize.autoCompact`): a
    // post-commit maintenance hook — when any partition's small-file
    // count crosses the threshold, compact JUST those files in a
    // dataChange=false follow-up commit. Best-effort like delta's: a
    // failed compaction never fails the write that triggered it (the
    // data is already durably committed; debt is retried next write).
    if (result.autoOptimizeProp("autoCompact"))
      result = try result.autoCompactNow(df.sparkSession)
        catch { case _: Exception => result }
    result
  }

  /** `delta.autoOptimize.<name>` as a boolean table property, read from
    * THIS handle's log — the write path calls it on `this` (pre-commit
    * state decides the shuffle shape) and on the committed result
    * (post-commit state decides auto-compaction).
    */
  private def autoOptimizeProp(name: String): Boolean =
    dlog.latestMetadata
      .exists(_.configuration.get(s"delta.autoOptimize.$name")
        .exists(_.trim.equalsIgnoreCase("true")))

  /** Compact every partition whose SMALL-file population (size below
    * `delta.autoOptimize.autoCompact.maxFileSize`, default 128 MB)
    * reached `delta.autoOptimize.autoCompact.minNumFiles` (default 50,
    * delta's own threshold). Only the small files rewrite — a partition's
    * well-sized files are never touched, so auto-compact cost is
    * ∝ debt, not table size. Selection is a driver-side fold over live
    * adds (metadata scale); the rewrite itself is one distributed job.
    */
  private[graft] def autoCompactNow(spark: SparkSession): DeltaTable = {
    val cfg = dlog.latestMetadata.map(_.configuration).getOrElse(Map.empty)
    val minNumFiles = cfg.get("delta.autoOptimize.autoCompact.minNumFiles")
      .flatMap(_.toIntOption).getOrElse(50)
    val maxFileSize = cfg.get("delta.autoOptimize.autoCompact.maxFileSize")
      .flatMap(_.toLongOption).getOrElse(128L << 20)
    val toCompact = dlog.addActions.values.toSeq
      .filter(_.size < maxFileSize)
      .groupBy(a => dlog.partitionColumns.map(c => a.partitionValues.getOrElse(c, None)))
      .filter(_._2.size >= minNumFiles)
      .values.flatten.toSeq
    if (toCompact.isEmpty) return this
    val df = scanForRewrite(spark, toCompact)
    val compacted =
      if (dlog.partitionColumns.nonEmpty)
        df.repartition(dlog.partitionColumns.map(col): _*)
      else df.coalesce(1)
    val adds = writeData(compacted, dlog.versionToWrite, dlog.partitionColumns)
    commitOrRebase(DeltaLogEntry.optimizeTable(toCompact, adds, dlog.version),
      toCompact.map(_.path).toSet)
  }

  /** Multi-input write (reference xdlake/__init__.py:153-190 accepts
    * iterables of heterogeneous inputs): union `dfs` under `schemaMode`
    * ("merge" null-backfills missing columns; "common" keeps the shared
    * ones) and commit the result as ONE atomic version.
    */
  def write(dfs: Seq[DataFrame], mode: WriteMode, schemaMode: String,
      partitionBy: Option[Seq[String]], customMetadata: Map[String, JsonNode],
      maxRetries: Int): DeltaTable =
    write(sources.DatasetUtils.unionInputs(dfs, schemaMode), mode, schemaMode,
      partitionBy, customMetadata, maxRetries)

  def write(dfs: Seq[DataFrame], schemaMode: String): DeltaTable =
    write(dfs, WriteMode.Append, schemaMode, None, Map.empty, 0)

  /** Idempotent append for streaming sinks: commit `df` together with a
    * `txn` marker (Delta's SetTransaction handshake). If the table already
    * records `txnVersion` (or later) for `appId`, the write is a NO-OP —
    * so a replayed micro-batch (driver retry, foreachBatch re-delivery)
    * commits exactly once. On a commit-file conflict the log is reloaded:
    * if a competing replay of the SAME batch won, its result is adopted;
    * otherwise the conflict surfaces to the caller.
    */
  def writeWithTxn(df: DataFrame, appId: String, txnVersion: Long,
      partitionBy: Option[Seq[String]] = None): DeltaTable = {
    require(appId.nonEmpty, "writeWithTxn requires an application id")
    if (dlog.latestTxnVersion(appId).exists(_ >= txnVersion)) return this
    val resolvedPartitionBy =
      if (!dlog.isEmpty) dlog.validatePartitionBy(partitionBy)
      else partitionBy.getOrElse(Seq.empty)
    val dfg0 = applyGenerated(df)
    val (dfg, identityHwms) = applyIdentity(dfg0)
    val annSchema = ColumnMapping.annotateForWrite(
      if (dlog.isEmpty) None else Some(dlog.schema), mappingActive,
      Identity.annotate(annotateGenerated(dfg.schema), identityColumns))
    val constrained = dlog.constraints.nonEmpty || dlog.invariants.nonEmpty
    if (constrained) dfg.persist()
    val adds =
      try {
        validateConstraints(dfg)
        writeData(dfg, dlog.versionToWrite, resolvedPartitionBy,
          ColumnMapping.logicalToPhysical(annSchema))
      } finally if (constrained) dfg.unpersist(blocking = false)
    val evaluated = Identity.withHwms(
      dlog.evaluateSchema(annSchema, WriteMode.Append, "overwrite"), identityHwms)
    val base = dlog.entryForWriteMode(WriteMode.Append, evaluated, adds, resolvedPartitionBy)
    val entry = DeltaLogEntry(
      Txn(appId, txnVersion, Some(System.currentTimeMillis())) +: base.actions)
    // pendingGenerated/pendingIdentity consumed by the create-time schema
    try commit(entry).copy(pendingGenerated = Map.empty, pendingIdentity = Map.empty)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        val fresh = copy(dlog = DeltaLog.load(logLoc, None),
          pendingGenerated = Map.empty, pendingIdentity = Map.empty)
        if (fresh.dlog.latestTxnVersion(appId).exists(_ >= txnVersion)) fresh
        else throw e
    }
  }

  /** Executors write partitioned parquet into a staging dir; the driver
    * renames the files into the table under per-commit unique names
    * `"{version}-{uuid}-{i}.parquet"` (reference basename template,
    * xdlake/__init__.py:390) and reads footers for stats. Staging-then-
    * rename also gives crash-cleanliness: an aborted job leaves only an
    * ignorable `_staging-*` dir (SURVEY.md §7 "file attribution").
    */
  /** Column filter for per-file stats collection, from delta's scoping
    * properties: `delta.dataSkippingStatsColumns` (explicit list, wins)
    * or `delta.dataSkippingNumIndexedCols` (first N schema columns).
    * Stats are keyed by PHYSICAL names, so the filter maps through the
    * column mapping. Unset = collect for every scalar column (this
    * engine's historical default; delta defaults to 32).
    */
  private def statsColumnFilter: String => Boolean = {
    val cfg = dlog.latestMetadata.map(_.configuration).getOrElse(Map.empty)
    val m = if (dlog.isEmpty) Map.empty[String, String]
      else ColumnMapping.logicalToPhysical(dlog.schema)
    cfg.get("delta.dataSkippingStatsColumns") match {
      case Some(cols) =>
        val phys = cols.split(",").map(_.trim).filter(_.nonEmpty)
          .map(c => m.getOrElse(c, c)).toSet
        phys.contains _
      case None =>
        cfg.get("delta.dataSkippingNumIndexedCols").flatMap(_.toIntOption) match {
          case Some(n) if !dlog.isEmpty =>
            val first = ColumnMapping.physicalSchema(dlog.schema)
              .fieldNames.take(n).toSet
            first.contains _
          case _ => _ => true
        }
    }
  }

  private def writeData(df: DataFrame, forVersion: Long,
      partitionBy: Seq[String],
      mapping: Map[String, String] = null): Seq[AddFile] = {
    // column mapping: files are written under PHYSICAL names. Mutation
    // paths (delete/update/merge/compact/replaceWhere) pass logical-named
    // frames and inherit the table's mapping here; `write` passes an
    // explicit mapping that also covers schema-merge-born columns.
    val m = Option(mapping).getOrElse(
      if (dlog.isEmpty) Map.empty[String, String]
      else ColumnMapping.logicalToPhysical(dlog.schema))
    val physDf0 = ColumnMapping.toPhysical(df, m)
    // id-mode tables: stamp parquet field ids so id-addressed foreign
    // readers can bind our files (no-op elsewhere)
    val physDf =
      if (dlog.isEmpty ||
          !dlog.latestMetadata.exists(mm =>
            ColumnMapping.modeOf(mm.configuration) == "id")) physDf0
      else ColumnMapping.attachFieldIds(physDf0, dlog.schema)
    val writeUuid = java.util.UUID.randomUUID().toString
    val staging = loc.child(s"_staging-$writeUuid")
    try {
      val writer = physDf.write.mode("overwrite")
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(staging.uri)

      val files = staging.listDataFilesRecursive()
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)

      // VARIANT columns carry no stats (delta's rule): the shredded
      // parquet layout would otherwise leak `typed_value` sub-structure
      // into minValues/maxValues — nonconformant JSON a foreign stats
      // parser never expects, and useless for skipping
      val underVariant: String => Boolean = {
        val physSchema = physDf.schema
        dotted => {
          val parts = dotted.split('.')
          var cur: org.apache.spark.sql.types.DataType = physSchema
          var hit = false
          var i = 0
          while (i < parts.length && !hit) {
            cur match {
              case st: org.apache.spark.sql.types.StructType =>
                st.fields.find(_.name == parts(i)) match {
                  case Some(f) =>
                    if (f.dataType.typeName == "variant") hit = true
                    cur = f.dataType
                  case None => i = parts.length
                }
              case _ => i = parts.length
            }
            i += 1
          }
          hit
        }
      }
      val baseKeep = statsColumnFilter
      val keepStats: String => Boolean = c => baseKeep(c) && !underVariant(c)
      // `delta.randomizeFilePrefixes` (delta's S3 key-sharding knob):
      // data files land under 2-hex-char prefix dirs instead of the table
      // root, spreading object keys across S3's partition key ranges — at
      // 10⁵ writes/s a single lexicographic key run throttles (the log
      // records relative paths, so scans are unaffected). The prefix
      // derives from the file name hash: deterministic, uniform.
      val randomPrefixes = tableProperties
        .get("delta.randomizeFilePrefixes").exists(_.trim.equalsIgnoreCase("true"))
      files.zipWithIndex.map { case (st, i) =>
        val stagingRel = relativize(st.getPath, staging.path)
        val partDirs = stagingRel.split("/").dropRight(1).toSeq
        val partValues = DeltaScan.partitionValuesFromPath(stagingRel)
        val name = s"$forVersion-$writeUuid-$i.parquet"
        val prefix =
          if (!randomPrefixes) Seq.empty
          else Seq(f"${name.hashCode & 0xff}%02x")
        val relPath = (prefix ++ partDirs :+ name).mkString("/")
        val dest = Location.resolve(relPath, loc, conf)
        dest.fs.mkdirs(dest.path.getParent)
        if (!dest.fs.rename(st.getPath, dest.path))
          throw new java.io.IOException(s"rename ${st.getPath} -> ${dest.path} failed")
        val destStatus = dest.status
        AddFile(
          path = relPath,
          partitionValues = partitionBy.map(c => c -> partValues.getOrElse(c, None)).toMap,
          size = destStatus.getLen,
          modificationTime = destStatus.getModificationTime,
          stats = Some(Statistics.fromFooter(dest.path, conf, keepStats).json),
          dataChange = true)
      }
    } finally staging.delete()
  }

  private def relativize(p: Path, base: Path): String = {
    val ps = p.toUri.getPath
    val bs = base.toUri.getPath
    ps.stripPrefix(bs).stripPrefix("/")
  }

  // ------------------------------------------------------------------
  // Change data files — delta's `delta.enableChangeDataFeed` + `cdc`
  // actions. Without them a copy-on-write UPDATE can only be read back
  // from the feed as file-level add/remove reconstruction (every
  // unchanged row of a rewritten file masquerades as a change); with
  // them the feed serves EXACT update_preimage/update_postimage rows.
  // ------------------------------------------------------------------

  private[graft] def cdfEnabled: Boolean =
    tableProperties.get("delta.enableChangeDataFeed").exists(_.toBoolean)

  /** Directory of change-data files, `_`-prefixed so data listings skip it. */
  private[graft] val ChangeDataDir = "_change_data"

  /** Write `df` — full table columns plus `_change_type` — as change-data
    * parquet under `_change_data/`, returning the commit's cdc actions.
    * Physical column names like data files; partition columns ride IN the
    * file (the feed reads whole files per commit — no pruning to serve).
    */
  private def writeChangeData(df: DataFrame, forVersion: Long): Seq[AddCDCFile] = {
    val m = ColumnMapping.logicalToPhysical(dlog.schema)
    val physDf0 = ColumnMapping.toPhysical(df, m)
    // id-mode tables: stamp parquet field ids so id-addressed foreign
    // readers can bind our files (no-op elsewhere)
    val physDf =
      if (dlog.isEmpty ||
          !dlog.latestMetadata.exists(mm =>
            ColumnMapping.modeOf(mm.configuration) == "id")) physDf0
      else ColumnMapping.attachFieldIds(physDf0, dlog.schema) // _change_type is unmapped
    val writeUuid = java.util.UUID.randomUUID().toString
    val staging = loc.child(s"_staging-$writeUuid")
    try {
      physDf.write.mode("overwrite").parquet(staging.uri)
      val files = staging.listDataFilesRecursive()
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
      files.zipWithIndex.map { case (st, i) =>
        val relPath = s"$ChangeDataDir/cdc-$forVersion-$writeUuid-$i.parquet"
        val dest = Location.resolve(relPath, loc, conf)
        dest.fs.mkdirs(dest.path.getParent)
        if (!dest.fs.rename(st.getPath, dest.path))
          throw new java.io.IOException(s"rename ${st.getPath} -> ${dest.path} failed")
        AddCDCFile(path = relPath, size = dest.status.getLen)
      }
    } finally staging.delete()
  }

  /** Read a commit's change-data files back under the logical schema +
    * `_change_type` (inverse of [[writeChangeData]]'s physical rename).
    */
  private def readChangeData(spark: SparkSession, cdc: Seq[AddCDCFile]): DataFrame = {
    val raw = spark.read.parquet(cdc.map(c =>
      Location.resolve(c.path, loc, conf).uri): _*)
    val physToLogical = ColumnMapping.logicalToPhysical(dlog.schema).map(_.swap)
    raw.select(raw.columns.toIndexedSeq.map(c =>
      col(c).as(physToLogical.getOrElse(c, c))): _*)
  }

  // ------------------------------------------------------------------
  // Row-level DML. DELETE, UPDATE, MERGE and REPLACE WHERE run one
  // pipeline, the mutation shape of the Delta Lake paper (the reference's
  // copy-on-write DELETE is xdlake/__init__.py:259-315, SURVEY.md §3.3):
  //  1. candidates: live files stats-pruned driver-side by the predicate
  //     ([[prunedAdds]]) or by the merge source's key bounds
  //     ([[mergeSourceProfile]]);
  //  2. touched files: one aggregate over the candidates' matching rows
  //     ([[touchedFiles]]) that also returns the verb's row measures
  //     (MERGE's: the matched rows and their distinct keys);
  //  3. the one step where the two write strategies differ: copy-on-write
  //     rewrites the touched files' kept rows ([[writeData]]);
  //     merge-on-read marks the matched rows dead in a deletion vector and
  //     rewrites nothing ([[morMarkWith]], which finds its own touched
  //     files);
  //  4. one commit ([[commitOrRebase]]) of the removes or DV re-adds, the
  //     new files and any change-data files.
  // Every MERGE form runs in one executor ([[mergeClauses]]) over a clause
  // list: its step 3 is one join of the touched rows with the broadcast
  // source that tags each row copy, update or delete; its change data
  // filters that same join, and its metrics come from step 2 and the
  // written files, so after step 2 only touched files are read. Files
  // without a matching row are never rewritten, and every scan reads
  // through deletion vectors, so already-dead rows are neither matched
  // nor copied.
  // ------------------------------------------------------------------

  /** Step 2: the live files owning a row of `matched` (applied to the
    * candidates' meta-scan) and a row holding the value of each of
    * `measures` over those rows, in ONE aggregate job; an empty candidate
    * set runs none and measures nothing. `also` joins the touched set
    * unscanned (MERGE's not-matched-by-source clause).
    */
  private def touchedFiles(spark: SparkSession, candidates: Seq[AddFile],
      matched: DataFrame => DataFrame, measures: Seq[Column],
      also: Seq[AddFile] = Nil): (Seq[AddFile], Option[Row]) = {
    def canonical(a: AddFile) = Location.canonical(Location.resolve(a.path, loc, conf).uri)
    val (found, values) =
      if (candidates.isEmpty) (Set.empty[String], None)
      else {
        val r = matched(scanAddsWithMeta(spark, candidates))
          .agg(measures.head, measures.tail :+ collect_set(col(DeltaScan.MetaPath)): _*).head()
        (r.getSeq[String](measures.size).map(Location.canonical).toSet, Some(r))
      }
    val addByCanonical = dlog.addActions.values.map(a => canonical(a) -> a).toMap
    (addByCanonical.view.filterKeys(found ++ also.map(canonical)).values.toSeq, values)
  }

  /** Steps 2-3 copy-on-write, for the verbs that drop rows (DELETE,
    * REPLACE WHERE): the touched files, their kept-row rewrites, the
    * dropped-row count (step 2's `count(1)`) and, with `changeData`, the
    * dropped rows written as `delete` change data.
    */
  private def rewriteWithout(spark: SparkSession, candidates: Seq[AddFile],
      matched: Column, changeData: Boolean)
      : (Seq[AddFile], Seq[AddFile], Long, Seq[AddCDCFile]) = {
    val (touched, measured) =
      touchedFiles(spark, candidates, _.filter(matched), Seq(count(lit(1))))
    if (touched.isEmpty) return (Seq.empty, Seq.empty, 0L, Seq.empty)
    val dropped = measured.fold(0L)(_.getLong(0))
    val touchedDF = scanAdds(spark, touched)
    val cdc =
      if (!changeData) Seq.empty
      else writeChangeData(touchedDF.filter(matched)
        .withColumn("_change_type", lit("delete")), dlog.versionToWrite)
    (touched, writeData(touchedDF.filter(not(matched)), dlog.versionToWrite,
      dlog.partitionColumns), dropped, cdc)
  }

  /** Step 3 merge-on-read: the rows `selectDead` keeps from a meta-scan of
    * `candidateAdds` (scanned THROUGH existing vectors — already-dead rows
    * are not re-recorded) are marked dead in ONE new total-per-file
    * delta-spec vector. Matched rows are grouped by the file they came
    * from, and the one task that owns a file's new dead rows ORs in the
    * file's existing vector (either format, through [[DvRowFilter]]),
    * decides from the file's `numRecords` whether every row is now dead,
    * and otherwise encodes the vector inline or writes its `.bin`.
    * Returns the DV re-adds, the removes for files whose every row is now
    * dead, the newly-dead row count, and `withMatched` applied to the
    * CACHED matched rows, so metrics or postimage writes reuse the one
    * table pass — the matched set is small by MoR's contract (bulk
    * mutations belong on copy-on-write), so caching it is cheap.
    * `withMatched` runs only when a row matched; `selectDead` may project
    * columns away as long as [[DeltaScan.MetaPath]]/[[DeltaScan.MetaRow]]
    * survive. The caller owns the commit.
    */
  private def morMarkWith[T](spark: SparkSession, candidateAdds: Seq[AddFile],
      selectDead: DataFrame => DataFrame,
      withMatched: DataFrame => T): (Seq[AddFile], Seq[AddFile], Long, Option[T]) = {
    if (candidateAdds.isEmpty) return (Seq.empty, Seq.empty, 0L, None)
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    // each candidate keyed by the canonical URI its scanned rows' file
    // path decodes to, so two files sharing a basename stay apart
    val byKey: Map[String, AddFile] = candidateAdds.map(a =>
      Location.canonical(Location.resolve(a.path, loc, conf).uri) -> a).toMap
    val numRecords: Map[String, Long] =
      byKey.flatMap { case (k, a) => a.numRecords.map(k -> _) }
    val confMap = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val priors = DvRowFilter(
      byKey.flatMap { case (k, a) => DeletionVectors.refOf(a).map(k -> _) }, loc.uri, confMap)
    val rootUri = loc.uri

    val matched = selectDead(scanAddsWithMeta(spark, candidateAdds))
    matched.persist()
    try {
      // per touched file: (key, newly-dead rows, total dead rows, vector
      // as (storageType, pathOrInlineDv, sizeInBytes) — None when the
      // file is now fully dead); per-file row counts bound task memory
      val written: Array[(String, Long, Long, Option[(String, String, Int)])] =
        matched.select(col(DeltaScan.MetaPath), col(DeltaScan.MetaRow))
          .as[(String, Long)]
          .groupByKey(_._1)
          .mapGroups { (fileUri, rows) =>
            val key = DeletionVectors.fileKey(fileUri)
            val dead = new org.roaringbitmap.longlong.Roaring64Bitmap
            var added = 0L
            rows.foreach { r => dead.addLong(r._2); added += 1 }
            if (priors.refs.contains(key)) Option(priors.deadOf(fileUri)).foreach(dead.or)
            val total = dead.getLongCardinality
            if (numRecords.get(key).contains(total)) (key, added, total, None)
            else {
              val blob = graft.sources.RoaringBitmaps.encodeBlob(dead.toArray)
              if (blob.length <= DeltaTable.InlineDvMaxBytes) {
                // tiny vector: INLINE descriptor (storageType "i") — at
                // 10^6 single-digit-row erasures, one 50-byte .bin per
                // file is a small-file disaster; the Z85 payload rides
                // the log instead (padded to the codec's 4-byte block,
                // real length in sizeInBytes)
                val padded = java.util.Arrays.copyOf(blob, (blob.length + 3) / 4 * 4)
                (key, added, total,
                  Some(("i", graft.sources.RoaringBitmaps.Z85.encode(padded), blob.length)))
              } else {
                val uuid = java.util.UUID.randomUUID()
                val hconf = new Configuration(false)
                confMap.foreach { case (k, v) => hconf.set(k, v) }
                val dst = Location(rootUri, hconf).child(s"deletion_vector_$uuid.bin")
                val out = dst.fs.create(dst.path, false)
                try {
                  out.writeByte(1)            // format version
                  out.writeInt(blob.length)   // big-endian frame size
                  out.write(blob)
                  val c = new java.util.zip.CRC32(); c.update(blob)
                  out.writeInt(c.getValue.toInt)
                } finally out.close()
                (key, added, total,
                  Some(("u", graft.sources.RoaringBitmaps.Z85.encodeUuid(uuid), blob.length)))
              }
            }
          }.collect()
      if (written.isEmpty) return (Seq.empty, Seq.empty, 0L, None)

      written.foreach { case (key, added, total, _) =>
        val prior = DeletionVectors.refOf(byKey(key)).map(_.cardinality).getOrElse(0L)
        require(total == prior + added,
          s"DV cardinality mismatch for ${byKey(key).path}: vector $total, expected ${prior + added}")
      }
      val dvAdds = written.toSeq.collect { case (key, _, total, Some((st, poi, size))) =>
        val a = byKey(key)
        DeletionVectors.withRef(a, DeletionVectors.DeltaRef(
          st, poi, offset = if (st == "i") None else Some(1L),
          sizeInBytes = size.toLong, cardinality = total, ownerPath = a.path))
      }.sortBy(_.path)
      val fullDead = written.toSeq.collect { case (key, _, _, None) => byKey(key) }.sortBy(_.path)
      (dvAdds, fullDead, written.map(_._2).sum, Some(withMatched(matched)))
    } finally matched.unpersist(blocking = false)
  }

  /** Candidate adds PROVABLY all-match under `pred` (metadata-only
    * delete): [[prunedAdds]]'s physical-name rewrite, opposite
    * conservative direction — only files with complete evidence return.
    */
  private def allMatchAdds(pred: Column, candidates: Seq[AddFile]): Seq[AddFile] = {
    val sch = dlog.schema
    val m = ColumnMapping.logicalToPhysical(sch)
    DataSkipping.provablyAllMatch(candidates,
      ColumnMapping.toPhysicalPredicate(pred, m),
      ColumnMapping.physicalSchema(sch), dlog.partitionColumns)
  }

  /** LIVE rows of `adds` — log stats minus DV cardinality where
    * numRecords is recorded; the (rare, foreign-written) stat-less files
    * are counted with one DV-aware scan. Metric-grade: a count-only read
    * of the stragglers still beats opening every file.
    *
    * Exactness for statted files depends on the WRITER-supplied
    * numRecords/cardinality being accurate, which the delta protocol
    * requires of stats it emits; a foreign file carrying a present-but-
    * wrong numRecords skews only the operation metric derived here, never
    * the table data.
    */
  private def liveRowCount(spark: SparkSession, adds: Seq[AddFile]): Long = {
    val (statted, statless) = adds.partition(_.numRecords.isDefined)
    val scanned = if (statless.isEmpty) 0L else scanAdds(spark, statless).count()
    statsLiveRows(statted) + scanned
  }

  /** Live rows of `adds` per log stats alone (a stat-less file counts 0). */
  private def statsLiveRows(adds: Seq[AddFile]): Long =
    adds.map(a => a.numRecords.getOrElse(0L) -
      DeletionVectors.refOf(a).map(_.cardinality).getOrElse(0L)).sum

  /** Rows in files this engine just wrote (their footer numRecords). */
  private def rowsIn(written: Seq[AddFile]): Long =
    written.flatMap(_.numRecords).sum

  /** Paired tombstones for merge-on-read re-adds: one RemoveFile per
    * re-added path, carrying the SUPERSEDED add's deletionVector
    * descriptor. Spec-compliant delta readers reconcile file actions by
    * the (path, deletionVector.uniqueId) TUPLE — without the pairing the
    * prior no-DV (or older-DV) add stays live in their replay alongside
    * the new one, duplicating files and resurrecting deleted rows.
    */
  private def specDvRemoves(dvAdds: Seq[AddFile]): Seq[RemoveFile] =
    dvAdds.map(a => Action.removeFor(dlog.addActions(a.path)))

  def delete(spark: SparkSession, where: Option[Column] = None,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable =
    // delta-spark parity: `delta.enableDeletionVectors=true` makes DELETE
    // take the merge-on-read path by default (write ∝ deleted rows, not
    // touched files); truncate (no predicate) stays copy-on-write — a
    // metadata-only remove beats writing an all-rows vector
    deleteRows(spark, where, customMetadata, mergeOnRead = where.isDefined &&
      tableProperties.get("delta.enableDeletionVectors").exists(_.trim.equalsIgnoreCase("true")))

  /** DELETE via merge-on-read deletion vectors: matching rows are marked
    * dead in a delta-spec deletion vector (inline in the descriptor, or a
    * `.bin` beside the data) and the touched files are re-added with a
    * `deletionVector` descriptor — no data file is rewritten, whatever the
    * table's properties. The write cost is proportional to the number of
    * DELETED rows, not to the size of the files that contain them; at
    * 100 TB that is the difference between a
    * GDPR-erasure commit writing kilobytes and rewriting terabytes
    * (the reference deletes copy-on-write only, xdlake/__init__.py:259-315).
    * Scans, UPDATE, MERGE, compact and CDF all read through the vector;
    * `compact()` purges it; `vacuum()` protects referenced `.bin`s.
    *
    * A file whose LAST live row dies is removed from the log outright, so
    * a full-table merge-on-read delete degenerates to the copy-on-write
    * one (empty table, no vectors left behind).
    *
    * No cdc files even under `delta.enableChangeDataFeed`: the change
    * feed's DV-delta reconstruction already serves this commit's EXACT
    * newly-dead rows (q78's contract), so cdc would duplicate those bytes
    * for nothing — the per-commit authoritative rule permits either.
    */
  def deleteMergeOnRead(spark: SparkSession, where: Option[Column] = None,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable =
    deleteRows(spark, where, customMetadata, mergeOnRead = true)

  private def deleteRows(spark: SparkSession, where: Option[Column],
      customMetadata: Map[String, JsonNode], mergeOnRead: Boolean): DeltaTable = {
    assertPreWrite(removesData = true)
    val pred = where.getOrElse(lit(true))
    val matched = coalesce(pred, lit(false))
    val candidates = where.map(prunedAdds).getOrElse(dlog.addActions.values.toSeq)
    // Metadata-only fast path (delta-spark's partition delete,
    // generalized): a candidate PROVABLY all-match per log stats /
    // partition values is removed without ever being opened — at 100 TB a
    // partition-predicate GDPR erasure is a pure log commit. A
    // copy-on-write TRUNCATE drops every file and writes no cdc (the feed
    // reconstructs its removes as remove_file). With CDF on, a
    // copy-on-write predicate delete's cdc files are authoritative for the
    // whole commit and need the matched rows read, so the path stays off.
    // Merge-on-read is feed-safe (the feed reads a MoR entry's removes as
    // `delete` rows through the prior vector) but keeps files without a
    // recorded numRecords on the scan path: the fullDead decision and the
    // metric need the count.
    val dropped =
      if (where.isEmpty) { if (mergeOnRead) Seq.empty else candidates }
      else if (mergeOnRead)
        allMatchAdds(pred, candidates).filter(_.numRecords.isDefined)
      else if (cdfEnabled) Seq.empty
      else allMatchAdds(pred, candidates)
    val droppedPaths = dropped.map(_.path).toSet
    val scanned = candidates.filterNot(a => droppedPaths.contains(a.path))
    val droppedRows = liveRowCount(spark, dropped)
    val predicateText = where.map(_.toString).getOrElse("true")
    val entry =
      if (mergeOnRead) {
        // the matched cache keeps only the two meta columns: DELETE never
        // reads the payload, so a 100M-row erasure pins row ids, not rows
        val (dvAdds, fullDead, numDeleted, _) = morMarkWith[Unit](spark, scanned,
          _.filter(matched).select(col(DeltaScan.MetaPath), col(DeltaScan.MetaRow)),
          _ => ())
        DeltaLogEntry.deleteMergeOnReadTable(predicateText, dvAdds, fullDead ++ dropped,
          dlog.version, numDeleted + droppedRows, specDvRemoves(dvAdds))
      } else {
        val (touched, written, numDeleted, cdc) =
          rewriteWithout(spark, scanned, matched, changeData = cdfEnabled)
        DeltaLogEntry(DeltaLogEntry.deleteTable(predicateText, touched ++ dropped,
          written, dlog.version, rowsIn(written), numDeleted + droppedRows).actions ++ cdc)
      }
    // an unmatched predicate still commits
    commitOrRebase(entry.withExtraCommitInfo(customMetadata),
      candidates.map(_.path).toSet, Some(where))
  }

  /** Set `set` columns to their new expressions on rows matching `where`;
    * all other rows and columns are copied unchanged.
    *
    * Scale shape: candidates are pre-pruned driver-side by partition
    * values + min/max stats before any Spark plan exists, the touched-file
    * scan reads only predicate columns with pushed filters, and only the
    * touched files are rewritten — an update matching 1 file out of 10^5
    * rewrites 1 file. New values are evaluated per-row inside whole-stage
    * codegen (`CASE WHEN pred THEN expr ELSE old END`).
    */
  def update(spark: SparkSession, where: Option[Column],
      set: Map[String, Column],
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable =
    updateRows(spark, where, set, customMetadata, mergeOnRead = false)

  /** Merge-on-read UPDATE: matching rows are marked dead via a deletion
    * vector and their post-SET versions append as new files — no touched
    * file is rewritten, so the write cost follows the MATCHED rows, not
    * the bytes of every file containing one. Same visible semantics as
    * [[update]] (CASE WHEN row mutation, partition-column SET rejected);
    * CDF shows the matched rows as exact `delete` (preimage) + `insert`
    * (postimage) pairs in one commit.
    */
  def updateMergeOnRead(spark: SparkSession, where: Option[Column],
      set: Map[String, Column],
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable =
    updateRows(spark, where, set, customMetadata, mergeOnRead = true)

  private def updateRows(spark: SparkSession, where: Option[Column],
      set: Map[String, Column], customMetadata: Map[String, JsonNode],
      mergeOnRead: Boolean): DeltaTable = {
    assertPreWrite(removesData = true)
    require(set.nonEmpty, "update requires at least one SET column")
    checkSet(set, dlog.partitionColumns.map(k =>
        k -> s"cannot UPDATE partition column $k (delete + rewrite instead)").toMap ++
      generatedColumns.keys.map(k =>
        k -> s"cannot UPDATE generated column $k (update its sources instead)"))
    val matched = coalesce(where.getOrElse(lit(true)), lit(false))
    val candidates = where.map(prunedAdds).getOrElse(dlog.addActions.values.toSeq)
    // CHECK constraints must hold for the post-update rows (untouched
    // files were validated when written); with CDF on, the matched rows
    // ARE the commit's exact changes — old values as update_preimage, new
    // as update_postimage (delta's cdc shape; the feed's reconstruction
    // fallback would report every unchanged row of a rewritten file)
    def validatedWrite(rows: DataFrame, matchedRows: DataFrame): (Seq[AddFile], Seq[AddCDCFile]) = {
      validateConstraints(rows)
      val cdc =
        if (!cdfEnabled) Seq.empty
        else writeChangeData(matchedRows.withColumn("_change_type", lit("update_preimage"))
          .unionByName(regenerate(matchedRows.select(setProjection(set, None): _*))
            .withColumn("_change_type", lit("update_postimage"))), dlog.versionToWrite)
      (writeData(rows, dlog.versionToWrite, dlog.partitionColumns), cdc)
    }
    val predicateText = where.map(_.toString).getOrElse("true")
    val entry =
      if (mergeOnRead) {
        // postimages come from the cached matched rows: the table is
        // scanned once for mark and rewrite together
        val (dvAdds, fullDead, numUpdated, added) = morMarkWith(spark, candidates,
          _.filter(matched), { m =>
            val pre = m.select(dlog.schema.fieldNames.toIndexedSeq.map(col): _*)
            validatedWrite(regenerate(pre.select(setProjection(set, None): _*)), pre)
          })
        val (adds, cdc) = added.getOrElse((Seq.empty, Seq.empty))
        DeltaLogEntry(DeltaLogEntry.updateMergeOnReadTable(predicateText, dvAdds,
          fullDead, adds, dlog.version, numUpdated, specDvRemoves(dvAdds)).actions ++ cdc)
      } else {
        // numUpdated is step 2's count(1); the rewrite holds every live
        // row of the touched files, so the rest of it was copied
        val (touched, measured) =
          touchedFiles(spark, candidates, _.filter(matched), Seq(count(lit(1))))
        val numUpdated = measured.fold(0L)(_.getLong(0))
        val (written, cdc) =
          if (touched.isEmpty) (Seq.empty, Seq.empty)
          else {
            val touchedDF = scanAdds(spark, touched)
            validatedWrite(regenerate(touchedDF.select(setProjection(set, Some(matched)): _*)),
              touchedDF.filter(matched))
          }
        DeltaLogEntry(DeltaLogEntry.updateTable(predicateText, touched, written,
          dlog.version, numUpdated, rowsIn(written) - numUpdated).actions ++ cdc)
      }
    commitOrRebase(entry.withExtraCommitInfo(customMetadata),
      candidates.map(_.path).toSet, Some(where))
  }

  /** The SET checks shared by UPDATE and MERGE's matched-update clause:
    * every SET column exists and none is `frozen` (column -> why not).
    */
  private def checkSet(set: Map[String, Column], frozen: Map[String, String]): Unit =
    set.keys.foreach { k =>
      require(dlog.schema.fieldNames.contains(k), s"unknown SET column: $k")
      require(!frozen.contains(k), frozen(k))
    }

  /** The SET projection shared by UPDATE and MERGE's matched-update
    * clause: every table column, each SET column replaced by its
    * expression — only on the rows `onlyWhere` holds for (`CASE WHEN`),
    * keeping `current(column)` elsewhere. Values are cast to the column's
    * nullability-RELAXED shape: casting to a type with non-nullable
    * nested fields is an analysis error for nullable inputs; NOT NULL is
    * enforced by the row-level validateConstraints check instead.
    */
  private def setProjection(set: Map[String, Column], onlyWhere: Option[Column],
      current: String => Column = col(_)): Seq[Column] =
    dlog.schema.fields.toIndexedSeq.map { f =>
      set.get(f.name).map(_.cast(DeltaLog.typeShape(f.dataType))) match {
        case Some(v) => onlyWhere.fold(v)(when(_, v).otherwise(current(f.name))).as(f.name)
        case None    => current(f.name).as(f.name)
      }
    }

  /** One pass over the cached MERGE source, shared by all three MERGE
    * forms: the row count, the duplicate-key check, and [min, max] of each
    * key column whose type carries usable stats (numeric, string, date).
    * Returns the row count and the candidate files those bounds allow —
    * on a 100 TB table a bounded-key source (recent ids, one tenant's
    * range) turns the touched-file scan from table-sized to range-sized.
    * None when the source is empty or a bounded key is all NULL: no
    * target row can match. NULL keys never equi-join and min/max ignore
    * NULLs, so range pruning is exact; other key types do not prune.
    */
  private def mergeSourceProfile(src: DataFrame,
      keyCols: Seq[String]): (Long, Option[Seq[AddFile]]) = {
    val bounded = keyCols.filter(k => dlog.schema.find(_.name == k).exists(_.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType => true
      case _ => false
    }))
    val aggs = Seq(count(lit(1)), count_distinct(struct(keyCols.map(col): _*))) ++
      bounded.flatMap(k => Seq(org.apache.spark.sql.functions.min(col(k)),
        org.apache.spark.sql.functions.max(col(k))))
    val r = src.agg(aggs.head, aggs.tail: _*).head()
    require(r.getLong(1) == r.getLong(0), "source has duplicate keys")
    val lo = bounded.indices.map(i => 2 + 2 * i)
    val candidates =
      if (r.getLong(0) == 0L || lo.exists(r.isNullAt)) None
      else if (bounded.isEmpty) Some(dlog.addActions.values.toSeq)
      else Some(prunedAdds(bounded.zip(lo).map { case (k, i) =>
        col(k) >= lit(r.get(i)) && col(k) <= lit(r.get(i + 1))
      }.reduce(_ && _)))
    (r.getLong(0), candidates)
  }

  /** The candidate files [[mergeSourceProfile]] allows for `src`, or every
    * live file when it allows none (MERGE itself then scans nothing).
    */
  private[graft] def mergeCandidateAdds(spark: SparkSession, src: DataFrame,
      keyCols: Seq[String]): Seq[AddFile] =
    mergeSourceProfile(src, keyCols)._2.getOrElse(dlog.addActions.values.toSeq)

  /** Upsert `source` into the table by equality on `keyCols`: target rows
    * whose key appears in the source are REPLACED by the source row
    * (whole-row update); source rows with no matching key are INSERTED.
    * Source must not contain duplicate keys.
    *
    * `notMatchedBySourceDelete` adds delta-spark's third clause — WHEN NOT
    * MATCHED BY SOURCE [AND condition] THEN DELETE: target rows whose key
    * does NOT appear in the source (and that satisfy the optional
    * condition) are deleted in the SAME commit, which is how sync-to-source
    * / SCD-style pipelines retire rows the upstream dropped.
    *
    * Scale shape: touched files are found with a semi-join of the
    * snapshot against the (usually broadcastable) source keys — untouched
    * files are never rewritten; touched files are rewritten without their
    * matched rows; all source rows append as new files. The
    * not-matched-by-source clause necessarily widens the touched set to
    * every file that may hold a deletable row — stats-pruned by the
    * condition when one is given (delta-spark has the same asymmetry: the
    * clause turns a source-sized merge into a target-sized one, which is
    * why the condition matters at scale).
    */
  def merge(spark: SparkSession, source: DataFrame,
      keyCols: Seq[String],
      customMetadata: Map[String, JsonNode] = Map.empty,
      schemaEvolution: Boolean = false,
      notMatchedBySourceDelete: Boolean = false,
      notMatchedBySourceCondition: Option[Column] = None): DeltaTable =
    mergeClauses(spark, source, DeltaTable.MergeClauses(keyCols, wholeRow = true,
      notMatchedBySourceDelete =
        if (notMatchedBySourceDelete) Some(notMatchedBySourceCondition.getOrElse(lit(true)))
        else None,
      schemaEvolution = schemaEvolution), customMetadata)

  /** Merge-on-read MERGE upsert: target rows whose key matches the source
    * are marked dead via a deletion vector — NO target file is rewritten —
    * and every source row lands as new files, one atomic commit. Same
    * visible semantics as [[merge]] (whole-row replace, unique source
    * keys), but the write cost is O(source + matched rows) instead of
    * O(bytes of every touched target file): at 100 TB, upserting 0.1% of
    * keys stops costing a near-full-table rewrite. CDF derives exact
    * `delete` rows (the replaced versions) + `insert` rows (the source)
    * from the entry's merge-on-read mode.
    */
  def mergeMergeOnRead(spark: SparkSession, source: DataFrame,
      keyCols: Seq[String],
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable =
    mergeClauses(spark, source,
      DeltaTable.MergeClauses(keyCols, wholeRow = true, mergeOnRead = true), customMetadata)

  /** MERGE with delta-spark's clause surface for NARROW sources: matched
    * target rows get a column-wise SET applied (instead of whole-row
    * replacement — the CDC-feed shape where the source carries only the
    * key plus changed columns), and unmatched source rows optionally
    * INSERT via explicit value expressions (delta's
    * `whenNotMatchedInsert(values)`; unnamed table columns null-fill).
    *
    * SET / insert expressions reference SOURCE columns as `s.<name>` and
    * (for SET) target columns by their bare name — the same
    * qualification delta's SQL MERGE uses.
    *
    * Scale shape identical to [[merge]]: touched files found by a
    * semi-join against the (broadcastable) source keys, only those files
    * rewritten, inserts appended as new files, one atomic commit.
    *
    * @param matchedUpdateCondition delta's `whenMatchedUpdate(condition)`:
    *        the SET applies only to matched rows meeting it (evaluated
    *        over the t/s join, like the delete condition); rows matched
    *        but failing it copy through unchanged. `numRowsUpdated` still
    *        reports matched keys — the file-rewrite granularity.
    */
  def mergeWhenMatchedUpdate(spark: SparkSession, source: DataFrame,
      keyCols: Seq[String], set: Map[String, Column],
      insertValues: Option[Map[String, Column]] = None,
      matchedDeleteCondition: Option[Column] = None,
      customMetadata: Map[String, JsonNode] = Map.empty,
      matchedUpdateCondition: Option[Column] = None): DeltaTable =
    mergeClauses(spark, source, DeltaTable.MergeClauses(keyCols, set = set,
      updateCondition = matchedUpdateCondition, matchedDelete = matchedDeleteCondition,
      insert = insertValues), customMetadata)

  /** The one MERGE executor, behind [[merge]], [[mergeMergeOnRead]],
    * [[mergeWhenMatchedUpdate]] and SQL MERGE, over the cached source:
    *  1. the source profile and candidates ([[mergeSourceProfile]]);
    *  2. one touched-file aggregate that also collects the matched rows'
    *     count and distinct keys (a subset of the broadcast source keys);
    *  3. one join of the touched rows with the broadcast source, which
    *     tags each row; every write checks its rows ([[writeChecked]]);
    *  4. change data from that join and the source, metrics from step 2
    *     and the written files' stats: `num_inserted_rows` is source rows
    *     minus matched keys, exact because the source keys are unique.
    * Merge-on-read (whole-row only) marks the matched rows dead through
    * [[morMarkWith]] instead of steps 2-3 and writes the whole source.
    */
  private[graft] def mergeClauses(spark: SparkSession, source: DataFrame,
      c: DeltaTable.MergeClauses, customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable = {
    import scala.jdk.CollectionConverters._
    // a merge may update/delete matched target rows — removal-gated
    assertPreWrite(removesData = true)
    val keyCols = c.keys
    require(keyCols.nonEmpty, "merge requires key columns")
    // any single clause stands alone: SET-only, matched-DELETE-only (a
    // keyed anti-delete), or INSERT-only (insert-if-absent); SQL MERGE
    // statements arrive in all three degenerate shapes
    require(c.wholeRow || c.set.nonEmpty || c.matchedDelete.isDefined || c.insert.isDefined,
      "merge needs at least one clause: SET, matched DELETE, or NOT MATCHED INSERT")
    require(c.wholeRow || !(c.mergeOnRead || c.schemaEvolution || c.notMatchedBySourceDelete.isDefined),
      "merge-on-read, schema evolution and NOT MATCHED BY SOURCE need the whole-row form")
    require(!c.wholeRow || (c.set.isEmpty && c.insert.isEmpty && c.updateCondition.isEmpty &&
      c.matchedDelete.isEmpty), "the whole-row form takes no column-wise clause")
    checkSet(c.set, keyCols.map(_ -> "SET must not touch the merge keys").toMap)
    val updates = c.wholeRow || c.set.nonEmpty
    val inserts = c.wholeRow || c.insert.isDefined
    val deletes = c.matchedDelete.isDefined || c.notMatchedBySourceDelete.isDefined
    // the source plan is reused by several jobs (profile, touched-file
    // discovery via its keys, data write) — cache so a 100 GB source is
    // computed once, not once per job
    val src = source.cache()
    try {
      val (srcTotal, bounded) = mergeSourceProfile(src, keyCols)
      // no target row can match when the profile found no candidates
      val candidates = bounded.getOrElse(Seq.empty)
      // the profile proved the keys unique: no distinct needed
      val keys = src.select(keyCols.map(col): _*)
      val keyMatch: DataFrame => DataFrame = _.join(broadcast(keys), keyCols, "left_semi")
      // matched distinct KEYS are the update metric: counting rows
      // over-counts when the target holds duplicate rows per key (legal —
      // only the source is checked) and could drive numInserted negative
      val keyStruct = struct(keyCols.map(col): _*)
      val predicate = keyCols.map(k => s"target.$k = source.$k").mkString(" AND ")

      // schema evolution (delta's withSchemaEvolution): source-only
      // columns join the table schema (nullable; fresh physical names on
      // mapped tables), copied/kept rows null-backfill, and the evolved
      // metadata rides the SAME merge commit — atomic like delta's
      val evolved: StructType =
        if (!c.schemaEvolution) dlog.schema
        else ColumnMapping.annotateForWrite(Some(dlog.schema), mappingActive,
          DeltaLog.mergeSchemas(dlog.schema, source.schema))
      val schemaChanged = evolved.fieldNames.length != dlog.schema.fieldNames.length
      val wMapping = ColumnMapping.logicalToPhysical(evolved)
      def alignEvolved(df: DataFrame): DataFrame =
        df.select(evolved.fields.toIndexedSeq.map(f =>
          (if (df.columns.contains(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
      def targetSide(df: DataFrame): DataFrame = if (schemaChanged) alignEvolved(df) else df
      // whole-row: the source rows as written (updates and inserts alike)
      lazy val sourceRows =
        if (c.schemaEvolution) alignEvolved(regenerate(src))
        else regenerate(src).select(dlog.schema.fieldNames.toIndexedSeq.map(col): _*)

      val (entry, readPaths) =
        if (c.mergeOnRead) {
          val (dvAdds, fullDead, numDead, matched) = morMarkWith(spark, candidates,
            keyMatch, _.agg(count_distinct(keyStruct)).head().getLong(0))
          val numUpdated = matched.getOrElse(0L)
          (DeltaLogEntry.mergeMergeOnReadTable(predicate, dvAdds, fullDead,
            writeChecked(sourceRows, wMapping), dlog.version, numUpdated,
            srcTotal - numUpdated, numDead, specDvRemoves(dvAdds)), candidates.map(_.path).toSet)
        } else {
          // step 2. The not-matched-by-source DELETE widens the touched set
          // to every file that may own a deletable row; its condition
          // stats-prunes that set like DELETE's candidates. An insert-only
          // merge rewrites nothing: it needs only the matched keys
          val (found, measured) = touchedFiles(spark, candidates, keyMatch,
            Seq(count(lit(1)), collect_set(keyStruct)),
            also = c.notMatchedBySourceDelete.map(prunedAdds).getOrElse(Nil))
          val touched = if (updates || deletes) found else Seq.empty
          val matchedRows = measured.fold(0L)(_.getLong(0))
          val keyRows = measured.fold(Seq.empty[Row])(_.getSeq[Row](1))
          lazy val matchedKeys =
            spark.createDataFrame(keyRows.asJava, keyRows.headOption.fold(keys.schema)(_.schema))
          val numUpdated = if (updates) keyRows.size.toLong else 0L
          val numInserted = if (inserts) srcTotal - keyRows.size else 0L

          // step 3: one join of the touched rows with the broadcast source
          // (the whole-row form joins its keys only), target aliased "t",
          // source "s" — SET and condition expressions qualify source
          // columns as s.<name> and may read target ones as t.<name>. Each
          // row is matched-deleted, updated, deleted as not matched by
          // source, or copied. Every frame below filters this one plan;
          // conditions on target columns alone are pushed into its scan,
          // where file stats prune it, as a separate rewrite would
          val tagged = scanAdds(spark, touched).alias("t")
            .join(broadcast((if (c.wholeRow) keys else src)
              .withColumn("_graft_matched", lit(true)).alias("s")), keyCols, "left")
          def holds(cond: Option[Column], absent: Boolean): Column =
            cond.fold(lit(absent))(coalesce(_, lit(false)))
          val matched = col("s._graft_matched").isNotNull
          val matchDeleted = matched && holds(c.matchedDelete, absent = false)
          val updated = matched && not(matchDeleted) && lit(updates) &&
            holds(c.updateCondition, absent = true)
          val sourceDeleted = not(matched) && holds(c.notMatchedBySourceDelete, absent = false)
          val current: String => Column = n => if (keyCols.contains(n)) col(n) else col(s"t.$n")
          def setApplied(df: DataFrame, where: Option[Column]): DataFrame = {
            val rows = df.select(setProjection(c.set, where, current): _*)
            if (c.set.isEmpty) rows else regenerate(rows)
          }
          def targetRows(df: DataFrame): DataFrame =
            targetSide(df.select(dlog.schema.fieldNames.toIndexedSeq.map(n => current(n).as(n)): _*))
          lazy val insertRows: DataFrame =
            if (c.wholeRow) sourceRows.join(broadcast(matchedKeys), keyCols, "left_anti")
            else regenerate(src.alias("s").join(broadcast(matchedKeys), keyCols, "left_anti")
              .select(dlog.schema.fields.toIndexedSeq.map { f =>
                c.insert.get.get(f.name).orElse(keyCols.find(_ == f.name).map(col))
                  .getOrElse(lit(null)).cast(f.dataType).as(f.name)
              }: _*))

          // column-wise SET rows stay in their rewritten files; whole-row
          // updates are written from the source with the inserts
          val keptAdds =
            if (touched.isEmpty) Seq.empty
            else writeChecked(targetSide(setApplied(tagged.filter(
              (if (c.wholeRow) not(matched) else not(matchDeleted)) &&
                not(holds(c.notMatchedBySourceDelete, absent = false))), Some(updated))), wMapping)
          val sourceAdds =
            if (c.wholeRow) writeChecked(sourceRows, wMapping)
            else if (numInserted > 0) writeChecked(insertRows, wMapping)
            else Seq.empty

          // step 4, change data feed (delta's cdc): exact row-level
          // changes instead of the feed's file-level reconstruction.
          // Updated rows are update_preimage, their new versions
          // update_postimage; dropped target rows are delete, inserted
          // source rows insert. Which frames come first shapes the
          // change-data files: the union's first partition always writes one
          val cdc =
            if (!cdfEnabled) Seq.empty
            else {
              def change(df: DataFrame, kind: String) = df.withColumn("_change_type", lit(kind))
              val inserted =
                if (c.wholeRow || numInserted > 0) Seq(change(insertRows, "insert"))
                else Seq.empty
              val changes =
                if (touched.isEmpty) inserted
                else {
                  val deleted =
                    if (!deletes) Seq.empty
                    else Seq(change(targetRows(tagged.filter(matchDeleted || sourceDeleted)),
                      "delete"))
                  val post =
                    if (c.wholeRow) sourceRows.join(broadcast(matchedKeys), keyCols, "left_semi")
                    else setApplied(tagged.filter(updated), None)
                  val images =
                    if (!updates) Seq.empty
                    else Seq(change(targetRows(tagged.filter(updated)), "update_preimage"),
                      change(post, "update_postimage"))
                  deleted ++ images ++ inserted
                }
              if (changes.isEmpty) Seq.empty
              else writeChangeData(changes.reduce(_.unionByName(_)), dlog.versionToWrite)
            }

          // num_target_rows_removed is the row-based complement to the
          // key-based update count: live rows of the touched files (stats
          // minus DV cardinality, so rows earlier commits already deleted
          // are not counted again) minus the rows copied; the deleted
          // rows are those less the whole-row form's replaced matches
          val numCopied = rowsIn(keptAdds)
          val numRemoved = statsLiveRows(touched) - numCopied
          val numDeleted =
            if (!deletes) 0L else numRemoved - (if (c.wholeRow) matchedRows else 0L)
          val entry = DeltaLogEntry.mergeTable(predicate, touched, keptAdds ++ sourceAdds,
            dlog.version, numUpdated, numInserted, numCopied,
            numTargetRowsRemoved = numRemoved, numTargetRowsDeleted = numDeleted)
          val withMeta =
            if (!schemaChanged) entry.actions
            else dlog.latestMetadata.map(m =>
              m.copy(schemaString = evolved.json) +: entry.actions)
              .getOrElse(entry.actions)
          (DeltaLogEntry(withMeta ++ cdc), dlog.addActions.keySet.toSet)
        }
      commitOrRebase(entry.withExtraCommitInfo(customMetadata), readPaths, Some(None))
    } finally src.unpersist()
  }

  // ------------------------------------------------------------------
  // CHECK constraints — write-time data-quality guards stored in table
  // configuration (delta's `delta.constraints.<name>` convention), the
  // first defense of a training-data pipeline against poisoned batches.
  // ------------------------------------------------------------------

  /** Declared CHECK constraints: name -> SQL boolean expression. */
  def constraints: Map[String, String] = dlog.constraints

  /** Add a CHECK constraint. Existing rows are validated first (one scan;
    * delta refuses to add a constraint current data violates), then a
    * metadata-only commit records it; every subsequent write validates
    * its batch against all constraints before any file lands.
    */
  def addConstraint(spark: SparkSession, name: String, sqlExpr: String,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable = {
    require(!dlog.isEmpty, "addConstraint requires an existing table")
    require(name.nonEmpty && !constraints.contains(name), s"constraint exists: $name")
    val bad = toDF(spark).filter(not(coalesce(org.apache.spark.sql.functions.expr(sqlExpr), lit(false))))
    require(bad.isEmpty, s"existing rows violate CHECK constraint $name ($sqlExpr)")
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    val newMeta = meta.copy(configuration =
      meta.configuration + (s"delta.constraints.$name" -> sqlExpr))
    val commitInfo = CommitInfo.constraintChange(CommitInfo.Op.AddConstraint,
      name, Some(sqlExpr), dlog.version)
    commitMeta(DeltaLogEntry(Vector(newMeta, commitInfo)).withExtraCommitInfo(customMetadata))
  }

  /** Drop a CHECK constraint (metadata-only commit). */
  def dropConstraint(name: String): DeltaTable = {
    require(constraints.contains(name), s"no such constraint: $name")
    val meta = dlog.latestMetadata.get
    val newMeta = meta.copy(configuration =
      meta.configuration - s"delta.constraints.$name")
    val commitInfo = CommitInfo.constraintChange(CommitInfo.Op.DropConstraint,
      name, None, dlog.version)
    commitMeta(DeltaLogEntry(Vector(newMeta, commitInfo)))
  }

  // ------------------------------------------------------------------
  // Table properties & protocol (delta's ALTER TABLE SET TBLPROPERTIES /
  // upgradeTableProtocol). Properties ride Metadata.configuration;
  // `delta.appendOnly=true` is ENFORCED at every commit (ProtocolGate).
  // ------------------------------------------------------------------

  /** The table's configuration (delta's TBLPROPERTIES). */
  def tableProperties: Map[String, String] =
    dlog.latestMetadata.map(_.configuration).getOrElse(Map.empty)

  /** Set table properties (metadata-only commit; delta's ALTER TABLE SET
    * TBLPROPERTIES). Keys with dedicated validated surfaces are rejected
    * here so their invariants can't be bypassed: CHECK constraints
    * validate existing rows ([[addConstraint]]) and column-mapping mode
    * assigns physical names ([[enableColumnMapping]]).
    */
  def setTableProperties(props: Map[String, String],
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable = {
    require(!dlog.isEmpty, "setTableProperties requires an existing table")
    require(props.nonEmpty, "no properties given")
    props.keys.foreach { k =>
      require(!k.startsWith("delta.constraints."),
        s"$k: add CHECK constraints via addConstraint (it validates existing rows)")
      require(k != ColumnMapping.ModeConfigKey,
        s"$k: enable column mapping via its dedicated surface (it assigns physical names)")
    }
    // delta.minReaderVersion/minWriterVersion are protocol UPGRADE
    // requests, not configuration (delta-spark parity): they commit a
    // protocol action through the upgrade gate and never land in
    // Metadata.configuration
    val protoR = props.get("delta.minReaderVersion").map(_.toInt)
    val protoW = props.get("delta.minWriterVersion").map(_.toInt)
    // `delta.feature.<name>=supported` (delta-spark's feature-enablement
    // property spelling — the declarative counterpart of DROP FEATURE):
    // also a protocol action, never configuration. Unknown features are
    // refused up front — declaring one we don't implement would make the
    // table unwritable by this very engine on the next commit.
    val FeatureKey = """delta\.feature\.([A-Za-z0-9_-]+)""".r
    val featureNames = props.keys.toSeq.sorted.collect {
      case k @ FeatureKey(f) =>
        val v = props(k).trim.toLowerCase(java.util.Locale.ROOT)
        require(v == "supported" || v == "enabled",
          s"$k: only 'supported' is accepted, got '${props(k)}'")
        require(ProtocolGate.SupportedReaderFeatures.contains(f) ||
            ProtocolGate.SupportedWriterFeatures.contains(f),
          s"unknown table feature '$f' — this engine implements: " +
            (ProtocolGate.SupportedReaderFeatures ++
              ProtocolGate.SupportedWriterFeatures).toSeq.sorted.mkString(", "))
        f
    }
    val rest = props -- Seq("delta.minReaderVersion", "delta.minWriterVersion") --
      featureNames.map(f => s"delta.feature.$f")
    var upgraded =
      if (protoR.isDefined || protoW.isDefined) {
        val cur = dlog.currentProtocol
        upgradeProtocol(protoR.getOrElse(cur.minReaderVersion),
          protoW.getOrElse(cur.minWriterVersion))
      } else this
    if (featureNames.nonEmpty) {
      val cur = upgraded.dlog.currentProtocol
      val target = featureNames.foldLeft(cur)((p, f) =>
        ProtocolGate.withFeature(p, f).getOrElse(p))
      if (target != cur)
        upgraded = upgraded.commitMeta(DeltaLogEntry(Vector(target,
          CommitInfo.metaOp(CommitInfo.Op.UpgradeProtocol,
            Map("supportedFeatures" -> featureNames.mkString(",")),
            upgraded.dlog.version))))
    }
    if (rest.isEmpty) return upgraded
    val meta = upgraded.dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    // enabling row tracking mints the materialized row-id column name
    // (delta-spark's key) in the SAME commit, so every later
    // dataChange=false rewrite knows where to preserve stable ids;
    // a name already present (ours or a foreign writer's) is kept
    val minted =
      if (rest.get(RowTracking.EnableKey).contains("true") &&
          !meta.configuration.contains(RowTracking.MaterializedColKey) &&
          !rest.contains(RowTracking.MaterializedColKey))
        rest + (RowTracking.MaterializedColKey -> RowTracking.mintMaterializedCol())
      else rest
    val newMeta = meta.copy(configuration = meta.configuration ++ minted)
    upgraded.commitMeta(DeltaLogEntry(Vector(newMeta,
      CommitInfo.metaOp(CommitInfo.Op.SetProperties, rest, upgraded.dlog.version)))
      .withExtraCommitInfo(customMetadata))
  }

  /** Unset table properties (metadata-only commit). Unknown keys are
    * ignored, as in delta's UNSET TBLPROPERTIES.
    */
  def unsetTableProperties(keys: Seq[String]): DeltaTable = {
    require(!dlog.isEmpty, "unsetTableProperties requires an existing table")
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    val newMeta = meta.copy(configuration = meta.configuration -- keys)
    commitMeta(DeltaLogEntry(Vector(newMeta,
      CommitInfo.metaOp(CommitInfo.Op.UnsetProperties,
        Map("properties" -> keys.mkString(",")), dlog.version))))
  }

  /** Live domain metadata: domain → configuration JSON (snapshot replay;
    * see DeltaLog.domainMetadata). Foreign domains written by other
    * engines (e.g. delta-spark's clustering domain) surface here too.
    */
  def domainMetadata: Map[String, String] =
    dlog.domainMetadata.map { case (d, m) => d -> m.configuration }

  /** Set a named domain's metadata (delta's `domainMetadata` writer
    * feature: table state owned by a component rather than the table's
    * own configuration — delta-spark uses it for clustering state). A
    * metadata-only commit; the first one bumps the protocol to declare
    * the `domainMetadata` writer feature so a feature-unaware foreign
    * writer fails loudly instead of silently dropping domain state on
    * its next checkpoint.
    */
  def setDomainMetadata(domain: String, configuration: String): DeltaTable = {
    require(!dlog.isEmpty, "setDomainMetadata requires an existing table")
    require(domain.nonEmpty, "domain must be non-empty")
    commitDomain(DomainMetadata(domain, configuration),
      CommitInfo.Op.SetDomainMetadata)
  }

  /** Remove a domain's metadata: commits a `removed=true` tombstone;
    * replay then drops the domain from snapshot state and the next
    * checkpoint no longer carries it.
    */
  def removeDomainMetadata(domain: String): DeltaTable = {
    require(dlog.domainMetadata.contains(domain), s"unknown domain: $domain")
    commitDomain(DomainMetadata(domain, "{}", removed = true),
      CommitInfo.Op.RemoveDomainMetadata)
  }

  private def commitDomain(d: DomainMetadata, op: String): DeltaTable = {
    val info = CommitInfo.metaOp(op, Map("domain" -> d.domain), dlog.version)
    val actions: Vector[Action] =
      ProtocolGate.withFeature(dlog.currentProtocol, "domainMetadata") match {
        case Some(up) => Vector(up, d, info)
        case None => Vector(d, info)
      }
    commitMeta(DeltaLogEntry(actions))
  }

  /** The table's clustering columns (delta's liquid-clustering state,
    * stored as `delta.clustering` domainMetadata the way delta-spark
    * stores it) — empty when the table is not clustered.
    */
  def clusteringColumns: Seq[String] =
    dlog.domainMetadata.get(Clustering.Domain)
      .map(d => Clustering.parse(d.configuration)).getOrElse(Seq.empty)

  /** Declare clustering columns (delta's `ALTER TABLE ... CLUSTER BY`):
    * records them as `delta.clustering` domainMetadata — exactly
    * delta-spark's layout, so a foreign reader sees the same state — and
    * declares the `clustering` + `domainMetadata` writer features.
    * [[compact]] then uses them as its DEFAULT layout keys (Z-order for
    * 2+, sort for 1), which is the incremental-clustering shape liquid
    * tables run: declaration is metadata-only, layout happens on the
    * next OPTIMIZE, and re-declaring with different columns re-clusters
    * from the next OPTIMIZE on without rewriting anything now.
    */
  def clusterBy(cols: Seq[String]): DeltaTable = {
    require(!dlog.isEmpty, "clusterBy requires an existing table")
    // empty = CLUSTER BY NONE: the domain records an empty column list
    // (delta-spark's spelling for un-clustering) and OPTIMIZE reverts to
    // plain compaction from the next run on
    val schemaNames = dlog.schema.fieldNames.toSet
    cols.foreach(c => require(schemaNames.contains(c), s"unknown column: $c"))
    val parts = dlog.partitionColumns.toSet
    cols.foreach(c => require(!parts.contains(c),
      s"$c is a partition column; clustering replaces hive partitioning, " +
        "it does not compose with it on the same column"))
    val dm = DomainMetadata(Clustering.Domain, Clustering.render(cols))
    val info = CommitInfo.metaOp(CommitInfo.Op.ClusterBy,
      Map("clusteringColumns" -> cols.mkString(",")), dlog.version)
    val base = dlog.currentProtocol
    val upgraded = Seq("domainMetadata", "clustering").foldLeft(base)(
      (p, f) => ProtocolGate.withFeature(p, f).getOrElse(p))
    val actions: Vector[Action] =
      if (upgraded == base) Vector(dm, info) else Vector(upgraded, dm, info)
    commitMeta(DeltaLogEntry(actions))
  }

  /** Explicit protocol upgrade (delta's `upgradeTableProtocol`): raises
    * the versions component-wise — downgrades are rejected, as in delta —
    * and at the table-features versions (reader 3 / writer 7) records the
    * given feature lists UNIONED with everything already in force
    * (explicit or legacy-implied), so an upgrade can never silently drop
    * a feature. The resulting protocol must itself pass this engine's
    * writer gate: upgrading into a protocol we could then no longer
    * write is refused.
    */
  def upgradeProtocol(minReader: Int, minWriter: Int,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty): DeltaTable = {
    require(!dlog.isEmpty, "upgradeProtocol requires an existing table")
    val cur = dlog.currentProtocol
    require(minReader >= cur.minReaderVersion && minWriter >= cur.minWriterVersion,
      s"protocol downgrade rejected: table is at " +
        s"(${cur.minReaderVersion},${cur.minWriterVersion}), asked for ($minReader,$minWriter)")
    val rf = ProtocolGate.readerFeatures(cur) ++ readerFeatures
    val wf = ProtocolGate.writerFeatures(cur) ++ writerFeatures
    var extra = cur.extra
    if (minReader >= 3)
      extra += ("readerFeatures" -> Json.arr(rf.toSeq.sorted.map(Json.text)))
    else require(readerFeatures.isEmpty,
      s"readerFeatures require minReaderVersion 3, got $minReader")
    if (minWriter >= 7)
      extra += ("writerFeatures" -> Json.arr(wf.toSeq.sorted.map(Json.text)))
    else require(writerFeatures.isEmpty,
      s"writerFeatures require minWriterVersion 7, got $minWriter")
    val target = cur.copy(minReaderVersion = minReader,
      minWriterVersion = minWriter, extra = extra)
    ProtocolGate.assertWritable(target, dlog.latestMetadata)
    commitMeta(DeltaLogEntry(Vector(target,
      CommitInfo.metaOp(CommitInfo.Op.UpgradeProtocol,
        Map("minReaderVersion" -> minReader.toString,
          "minWriterVersion" -> minWriter.toString), dlog.version))))
  }

  /** `ALTER TABLE … DROP FEATURE` (delta 4.0's protocol DOWNGRADE verb —
    * the one maintenance-path verb the r13 verdict listed as missing):
    * retire a declared reader/writer feature once NO LIVE STATE needs it
    * (each feature has its own retirability gate; an unsafe drop is a
    * loud refusal with the fix spelled out, e.g. deletionVectors demand
    * a prior `REORG … APPLY (PURGE)`).
    *
    * A writer-only feature drops in a single metadata commit. A
    * READER-scoped feature must also guard HISTORY: pre-drop commits
    * still carry the feature's artifacts, and a feature-unaware reader
    * replaying them would misread (resurrected DV rows, misbound mapped
    * columns). Delta 4.0's single-step answer — which this follows — is
    * checkpointProtection: the drop commit sets
    * `delta.requireCheckpointProtectionBeforeVersion` to the drop
    * version, declares the `checkpointProtection` writer feature (X120),
    * and a post-drop checkpoint is written, so a feature-unaware reader
    * opens from the checkpoint and never replays protected history,
    * while capable readers keep full time travel. With `truncateHistory`
    * (delta's `DROP FEATURE … TRUNCATE HISTORY`) the feature-bearing
    * commits are instead checkpointed past and DELETED outright — no
    * protection needed because the history is gone.
    */
  def dropFeature(feature: String, truncateHistory: Boolean = false): DeltaTable = {
    require(!dlog.isEmpty, "dropFeature requires an existing table")
    val cur = dlog.currentProtocol
    val declaredR = ProtocolGate.readerFeatures(cur)
    val declaredW = ProtocolGate.writerFeatures(cur)
    require(declaredR.contains(feature) || declaredW.contains(feature),
      s"feature '$feature' is not declared by this table's protocol " +
        s"(declared: ${(declaredR ++ declaredW).toSeq.sorted.mkString(", ")})")
    assertFeatureRetirable(feature, truncateHistory)
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    val strippedCfg = meta.configuration -- DeltaTable.featureConfigKeys(feature)
    val readerScoped = declaredR.contains(feature)
    val newProto0 = ProtocolGate.withoutFeature(cur, feature)
    // the drop commit lands at (current) version + 1 in the common case;
    // a concurrent-commit rebase can push it later, which only makes the
    // recorded boundary CONSERVATIVE (it always covers every commit that
    // could carry the feature)
    val boundary = dlog.version + 1
    val (newProto, newCfg) =
      if (readerScoped && !truncateHistory) {
        val p = ProtocolGate.withFeature(newProto0, "checkpointProtection")
          .getOrElse(newProto0)
        (p, strippedCfg +
          ("delta.requireCheckpointProtectionBeforeVersion" -> boundary.toString))
      } else (newProto0, strippedCfg)
    ProtocolGate.assertWritable(newProto, Some(meta))
    val newMeta = meta.copy(configuration = newCfg)
    val info = CommitInfo.metaOp(CommitInfo.Op.DropFeature,
      Map("featureName" -> feature,
        "truncateHistory" -> truncateHistory.toString), dlog.version)
    // STRICT commit, not commitMeta: a blind data commit rebasing past
    // the drop could mint the very artifact the gate just proved absent
    // (a concurrent MoR delete adds a deletion vector between gate and
    // commit → the protocol would lie about the snapshot). Full-table
    // read under SERIALIZABLE makes ANY concurrent data or metadata
    // commit abort the drop — an admin verb retries, it never publishes
    // a protocol the state contradicts.
    val committed = copy(serializableIsolation = true)
      .commitOrRebase(DeltaLogEntry(Vector(newProto, newMeta, info)),
        dlog.addActions.keySet, Some(None))
      .copy(serializableIsolation = serializableIsolation)
    if (readerScoped || truncateHistory) {
      // the post-drop checkpoint is what makes the downgrade REAL for
      // feature-unaware readers: they open from it (new protocol, no
      // feature-era actions) instead of replaying history
      val ck = committed.checkpoint()
      if (truncateHistory) ck.cleanupLog() else ck
    } else committed
  }

  /** Per-feature retirability gate: refuse a drop while live table state
    * still depends on the feature, naming the maintenance verb that
    * clears it. Conservative by design — an unknown declared feature is
    * droppable (we cannot hold state for a feature we don't implement).
    */
  private def assertFeatureRetirable(feature: String,
      truncateHistory: Boolean): Unit = {
    val cfg = tableProperties
    val schemaStr = dlog.latestMetadata.map(_.schemaString).getOrElse("")
    def propTrue(k: String) = cfg.get(k).exists(_.trim.equalsIgnoreCase("true"))
    def refuse(why: String, fix: String): Nothing =
      throw new IllegalStateException(
        s"cannot drop feature '$feature': $why — $fix")
    feature match {
      case "deletionVectors" =>
        if (propTrue("delta.enableDeletionVectors"))
          refuse("delta.enableDeletionVectors is true",
            "disable it first (SET TBLPROPERTIES('delta.enableDeletionVectors'='false'))")
        if (dlog.addActions.values.exists(a => DeletionVectors.refOf(a).isDefined))
          refuse("live files still carry deletion vectors",
            "purge them first: REORG TABLE … APPLY (PURGE)")
      case "rowTracking" =>
        if (propTrue(RowTracking.EnableKey))
          refuse(s"${RowTracking.EnableKey} is true", "disable it first")
      case "changeDataFeed" =>
        if (propTrue("delta.enableChangeDataFeed"))
          refuse("delta.enableChangeDataFeed is true", "disable it first")
      case "inCommitTimestamp" =>
        if (propTrue("delta.enableInCommitTimestamps"))
          refuse("delta.enableInCommitTimestamps is true", "disable it first")
      case "typeWidening" =>
        if (propTrue("delta.enableTypeWidening"))
          refuse("delta.enableTypeWidening is true", "disable it first")
        if (schemaStr.contains("delta.typeChanges"))
          refuse("the schema records applied type changes",
            "a feature-unaware reader cannot bind the widened parquet types; " +
              "rewrite the table to retire them")
      case "appendOnly" =>
        if (propTrue("delta.appendOnly"))
          refuse("delta.appendOnly is true", "disable it first")
      case "v2Checkpoint" =>
        if (cfg.get("delta.checkpointPolicy").exists(_.trim.equalsIgnoreCase("v2")))
          refuse("delta.checkpointPolicy is v2",
            "revert to classic first (SET TBLPROPERTIES('delta.checkpointPolicy'='classic'))")
      case "checkConstraints" =>
        val live = cfg.keys.filter(_.startsWith("delta.constraints."))
        if (live.nonEmpty)
          refuse(s"CHECK constraint(s) still defined: ${live.mkString(", ")}",
            "DROP CONSTRAINT each first")
      case "generatedColumns" =>
        if (schemaStr.contains("delta.generationExpression"))
          refuse("the schema still declares generated column(s)", "drop them first")
      case "identityColumns" =>
        if (schemaStr.contains("\"delta.identity."))
          refuse("the schema still declares identity column(s)", "drop them first")
      case "variantType" =>
        if (schemaStr.contains("\"variant\""))
          refuse("the schema still carries a VARIANT column", "drop it first")
      case "timestampNtz" =>
        if (schemaStr.contains("\"timestamp_ntz\""))
          refuse("the schema still carries a TIMESTAMP_NTZ column", "drop it first")
      case "columnMapping" =>
        if (ColumnMapping.modeOf(cfg) != "none")
          refuse(s"column mapping mode is '${ColumnMapping.modeOf(cfg)}'",
            "physical-name bindings are live; mapping cannot be retired in place")
      case "clustering" =>
        if (clusteringColumns.nonEmpty)
          refuse(s"clustering columns still declared: ${clusteringColumns.mkString(", ")}",
            "ALTER TABLE … CLUSTER BY NONE first")
      case "domainMetadata" =>
        if (dlog.domainMetadata.nonEmpty)
          refuse(s"live domain(s): ${dlog.domainMetadata.keys.mkString(", ")}",
            "removeDomainMetadata each first")
      case "checkpointProtection" =>
        // the boundary property IS this feature's live state: dropping it
        // un-protects history another drop depended on, so only a
        // history-truncating drop is safe
        if (!truncateHistory &&
            cfg.contains("delta.requireCheckpointProtectionBeforeVersion"))
          refuse("protected history is still in place",
            "use dropFeature(…, truncateHistory = true) to delete it in the same step")
      case "invariants" =>
        if (schemaStr.contains("delta.invariants"))
          refuse("the schema still declares invariant(s)", "drop them first")
      case _ => () // no live state this engine can hold for it
    }
  }

  // ------------------------------------------------------------------
  // Generated columns — Delta's `delta.generationExpression`: computed
  // at write time when absent, validated when supplied. The canonical
  // use is partitioning on a derived value (event_date from ts) so every
  // scan date-prunes without producers re-deriving the column.
  // ------------------------------------------------------------------

  /** Declare a generated column BEFORE the first write creates the table:
    * the create-time schema records `sqlExpr` in field metadata, and every
    * subsequent `write`/`writeWithTxn` computes the column when the batch
    * doesn't carry it. Deterministic expressions only (the caller's
    * contract — a nondeterministic expression would break supplied-value
    * validation). Mutation paths (update/merge) rewrite existing rows and
    * never need to re-derive it.
    */
  def withGeneratedColumn(name: String, sqlExpr: String): DeltaTable = {
    require(dlog.isEmpty,
      "declare generated columns before the first write creates the table")
    copy(pendingGenerated = pendingGenerated + (name -> sqlExpr))
  }

  /** Declare an identity column (delta's GENERATED ALWAYS/BY DEFAULT AS
    * IDENTITY, writer v6) before the table exists: the engine assigns
    * `start, start+step, …` to writes that omit the column, tracking
    * `delta.identity.highWaterMark` in the field's schema metadata
    * atomically with each allocating commit. Writes that SUPPLY the
    * column require `allowExplicitInsert` (delta's BY DEFAULT) and
    * advance the mark past the supplied maximum.
    */
  /** ALTER COLUMN ... SET DEFAULT (delta's `allowColumnDefaults` writer
    * feature): future writes that OMIT `name` fill it with `sqlExpr`
    * instead of failing or writing null; supplied values always win.
    * Existing rows are untouched — delta forbids declaring a default in
    * the same statement that adds the column, exactly so a default never
    * implies a backfill. The expression must be CONSTANT (no column
    * references, deterministic): that is delta's rule, and it keeps the
    * write-side fill a literal projection.
    */
  def setColumnDefault(name: String, sqlExpr: String): DeltaTable = {
    require(!dlog.isEmpty, "setColumnDefault requires an existing table")
    val sch = dlog.schema
    require(sch.fieldNames.contains(name), s"no such column: $name")
    require(!generatedColumns.contains(name) && !identityColumns.contains(name),
      s"$name is generated/identity — those own their fill path")
    val parsed = org.apache.spark.sql.graftshim.ColumnShim.expression(
      org.apache.spark.sql.functions.expr(sqlExpr))
    require(parsed.references.isEmpty,
      s"default for $name must be a constant expression " +
        s"(no column references), got: $sqlExpr")
    val fields = sch.fields.map(f =>
      if (f.name == name) Defaults.withDefault(f, sqlExpr) else f)
    commitDefaultChange(StructType(fields),
      CommitInfo.columnChange(CommitInfo.Op.ChangeColumn,
        Map("column" -> name, "setDefault" -> sqlExpr), dlog.version))
  }

  /** ALTER COLUMN ... DROP DEFAULT: later omitted writes revert to the
    * merge-mode null backfill.
    */
  def dropColumnDefault(name: String): DeltaTable = {
    require(!dlog.isEmpty, "dropColumnDefault requires an existing table")
    val sch = dlog.schema
    require(Defaults.expressions(sch).contains(name),
      s"$name has no default")
    val fields = sch.fields.map(f =>
      if (f.name == name) Defaults.withoutDefault(f) else f)
    commitDefaultChange(StructType(fields),
      CommitInfo.columnChange(CommitInfo.Op.ChangeColumn,
        Map("column" -> name, "dropDefault" -> "true"), dlog.version))
  }

  private def commitDefaultChange(newSchema: StructType,
      info: CommitInfo): DeltaTable = {
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    val amended = meta.copy(schemaString = newSchema.json)
    val actions: Vector[Action] =
      ProtocolGate.withFeature(dlog.currentProtocol, Defaults.Feature) match {
        case Some(up) => Vector(up, amended, info)
        case None => Vector(amended, info)
      }
    commitMeta(DeltaLogEntry(actions))
  }

  /** Fill omitted default-bearing columns with their declared constants
    * and restore the table's column order (append-schema evaluation is
    * order-sensitive). Identity when no defaults apply.
    */
  private def applyDefaults(df: DataFrame): DataFrame = {
    if (dlog.isEmpty) return df
    val defs = Defaults.expressions(dlog.schema)
    if (defs.isEmpty) return df
    val present = df.columns.toSet
    val missing = defs.filterNot { case (n, _) => present(n) }
    if (missing.isEmpty) return df
    val filled = missing.foldLeft(df) { case (acc, (n, sql)) =>
      acc.withColumn(n, org.apache.spark.sql.functions.expr(sql)
        .cast(dlog.schema(n).dataType))
    }
    val tableOrder = dlog.schema.fieldNames.filter(filled.columns.contains)
    val extras = filled.columns.filterNot(tableOrder.contains)
    filled.select((tableOrder ++ extras).map(col): _*)
  }

  def withIdentityColumn(name: String, start: Long = 1L, step: Long = 1L,
      allowExplicitInsert: Boolean = false): DeltaTable = {
    require(dlog.isEmpty,
      "declare identity columns before the first write creates the table")
    require(step != 0L, "identity step must be non-zero")
    copy(pendingIdentity = pendingIdentity +
      (name -> Identity.Spec(start, step, allowExplicitInsert, None)))
  }

  /** Identity specs in force (schema-recorded + pre-create pending). */
  def identityColumns: Map[String, Identity.Spec] =
    (if (dlog.isEmpty) Map.empty[String, Identity.Spec]
     else Identity.specs(dlog.schema)) ++ pendingIdentity

  /** Assign identity values: absent column → contiguous `hwm+step …` via
    * `zipWithIndex` (distributed two-pass block allocation — per-partition
    * counts then offsets; no global sort, no driver collect of data);
    * supplied column → gated on allowExplicitInsert, mark advanced past
    * the supplied max. Returns the frame plus the per-column advanced
    * marks, which MUST ride the same commit's metaData (see write()).
    */
  private def applyIdentity(df: DataFrame): (DataFrame, Map[String, Long]) = {
    val sps = identityColumns
    if (sps.isEmpty) return (df, Map.empty)
    var out = df
    var patches = Map.empty[String, Long]
    sps.foreach { case (name, sp) =>
      if (!out.columns.contains(name)) {
        val next = sp.highWaterMark.map(_ + sp.step).getOrElse(sp.start)
        val spark = out.sparkSession
        val rdd0 = out.rdd
        // per-partition block allocation (delta-spark's own shape): ONE
        // counting pass, then contiguous offsets fused into the write's
        // scan — no global sort, no driver collect of data
        val partCounts = rdd0
          .mapPartitionsWithIndex((i, it) => Iterator(i -> it.size.toLong))
          .collect().sortBy(_._1).map(_._2)
        val n = partCounts.sum
        if (n > 0L) {
          val offsets = partCounts.scanLeft(0L)(_ + _)
          val step = sp.step
          // nullable like any data column: a NOT NULL marking here would
          // make explicit-insert frames (parquet-read, nullable) flunk
          // append-schema compatibility for no integrity gain
          val schema2 = org.apache.spark.sql.types.StructType(
            out.schema.fields :+ org.apache.spark.sql.types.StructField(
              name, org.apache.spark.sql.types.LongType, nullable = true))
          val rdd = rdd0.mapPartitionsWithIndex { (i, it) =>
            var k = offsets(i)
            it.map { row =>
              val r = org.apache.spark.sql.Row.fromSeq(
                row.toSeq :+ (next + k * step))
              k += 1L
              r
            }
          }
          out = spark.createDataFrame(rdd, schema2)
          patches += name -> (next + (n - 1L) * sp.step)
        }
      } else {
        val mx = out.agg(org.apache.spark.sql.functions.max(col(name))).first()
        if (mx.isNullAt(0)) {
          // a ZERO-row frame carrying the column supplies no values (the
          // SQL CREATE's empty schema frame lands here) — nothing to
          // gate or allocate; all-NULL values into ALWAYS still reject
          require(out.isEmpty || sp.allowExplicitInsert,
            s"identity column $name is GENERATED ALWAYS: explicit values " +
              "(even NULLs) are rejected (declare it with " +
              "allowExplicitInsert to permit them)")
        } else {
          require(sp.allowExplicitInsert,
            s"identity column $name is GENERATED ALWAYS: explicit values are " +
              "rejected (declare it with allowExplicitInsert to permit them)")
          require(sp.step > 0L,
            s"explicit inserts into identity column $name require a positive step")
          val supplied = mx.getLong(0)
          val cur = sp.highWaterMark.getOrElse(sp.start - sp.step)
          if (supplied > cur) patches += name -> supplied
        }
      }
    }
    (out, patches)
  }

  /** Generation expressions in force (schema-recorded + pre-create pending). */
  def generatedColumns: Map[String, String] =
    (if (dlog.isEmpty) Map.empty[String, String]
     else Generated.expressions(dlog.schema)) ++ pendingGenerated

  /** Compute absent generated columns; validate supplied ones (delta's
    * rule: a writer may supply the column, but the values must equal the
    * expression — one job per supplied column, zero for the common case).
    */
  private def applyGenerated(df: DataFrame): DataFrame = {
    val gens = generatedColumns
    if (gens.isEmpty) return df
    val out = gens.foldLeft(df) { case (acc, (name, sql)) =>
      if (acc.columns.contains(name)) acc
      else acc.withColumn(name, org.apache.spark.sql.functions.expr(sql))
    }
    gens.keys.filter(df.columns.contains).foreach { name =>
      val bad = out.filter(not(col(name) <=> org.apache.spark.sql.functions.expr(gens(name))))
      require(bad.isEmpty,
        s"supplied values for generated column $name do not match its expression ${gens(name)}")
    }
    out
  }

  /** Re-derive every generated column on a mutation-produced frame
    * (delta-spark's rule: UPDATE/MERGE always re-generate, so updating a
    * generation SOURCE keeps the invariant and moves the row to its new
    * partition). Deterministic expressions make this the identity for
    * rows whose sources didn't change; absent columns (merge sources)
    * are computed.
    */
  private def regenerate(df: DataFrame): DataFrame =
    generatedColumns.foldLeft(df) { case (acc, (name, sql)) =>
      acc.withColumn(name, org.apache.spark.sql.functions.expr(sql))
    }

  /** Record pending generation expressions into the create-time schema. */
  private def annotateGenerated(schema: StructType): StructType =
    if (pendingGenerated.isEmpty) schema
    else StructType(schema.fields.map(f =>
      pendingGenerated.get(f.name).map(sql => Generated.withExpr(f, sql)).getOrElse(f)))

  // ------------------------------------------------------------------
  // Column mapping — RENAME/DROP COLUMN as metadata-only commits, no
  // data rewrite (see graft.log.ColumnMapping). The reference cannot
  // rename at all; at 10⁵ files this is one JSON entry vs a full rewrite.
  // ------------------------------------------------------------------

  /** True once any rename/drop has switched the table to
    * `delta.columnMapping.mode = name`, or for a foreign table in `id`
    * mode (id tables carry physicalName on every field per the protocol,
    * so the same name-addressed machinery applies; writes additionally
    * stamp parquet field ids — see [[ColumnMapping.attachFieldIds]]).
    */
  private def mappingActive: Boolean =
    dlog.latestMetadata.map(m => ColumnMapping.modeOf(m.configuration))
      .exists(m => m == "name" || m == "id")

  /** A CHECK constraint or generation expression whose SQL mentions
    * `column` as a word blocks renames/drops of it (the expression would
    * silently stop binding).
    */
  private def exprReferencing(column: String): Option[String] = {
    // word boundaries exclude identifier characters only — backticks stay
    // IN bounds so `col` (quoted exactly) still counts as a reference
    val re = ("""(?i)(?<![a-z0-9_])""" + java.util.regex.Pattern.quote(column) +
      """(?![a-z0-9_])""").r
    dlog.constraints.collectFirst {
      case (name, sql) if re.findFirstIn(sql).isDefined => s"CHECK constraint $name"
    }.orElse(generatedColumns.collectFirst {
      case (name, sql) if re.findFirstIn(sql).isDefined => s"generated column $name"
    })
  }

  /** Rename a column without touching any data file: the logical field is
    * renamed in a metadata-only commit while its parquet ("physical")
    * column name — recorded in field metadata under Delta's
    * `columnMapping.physicalName` key — stays what it always was. Scans
    * alias physical→logical inside the scan projection; stats skipping
    * and bloom probes rewrite predicates to physical names, so pruning
    * keeps working across any number of renames. Partition columns are
    * rejected (their names are baked into directory layouts and
    * log-recorded partition values).
    */
  /** ALTER TABLE ADD COLUMN (metadata-only, delta semantics): the new
    * column joins the schema NULLABLE; existing files simply lack its
    * physical column and scan as NULL — zero rewrite at any table size.
    * `after` inserts behind a named column (delta's AFTER clause);
    * default is the end. On a column-mapped table the field is born with
    * a fresh physical name (it can never collide with a dropped
    * ancestor's bytes). Columns with defaults/generation join through
    * their own dedicated APIs, which gate their features.
    */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
      after: Option[String] = None, comment: Option[String] = None): DeltaTable = {
    require(!dlog.isEmpty, "addColumn requires an existing table")
    val sch = dlog.schema
    require(name.nonEmpty && !sch.fieldNames.contains(name),
      s"column exists or empty: $name")
    val base = org.apache.spark.sql.types.StructField(name, dataType, nullable = true)
    val withC = comment.map(c => base.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString("comment", c).build())).getOrElse(base)
    val nf = if (mappingActive)
      ColumnMapping.withPhysical(withC, ColumnMapping.freshPhysicalName())
    else withC
    val fields = after match {
      case None => sch.fields :+ nf
      case Some(a) =>
        require(sch.fieldNames.contains(a), s"no such column: $a")
        sch.fields.flatMap(f => if (f.name == a) Seq(f, nf) else Seq(f))
    }
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    commitMeta(DeltaLogEntry(Vector(
      meta.copy(schemaString = StructType(fields).json),
      CommitInfo.columnChange(CommitInfo.Op.AddColumn,
        Map("column" -> name), dlog.version))))
  }

  def renameColumn(oldName: String, newName: String): DeltaTable = {
    require(!dlog.isEmpty, "renameColumn requires an existing table")
    val sch = dlog.schema
    require(sch.fieldNames.contains(oldName), s"no such column: $oldName")
    require(newName.nonEmpty && newName != oldName &&
      !sch.fieldNames.contains(newName), s"column exists: $newName")
    require(!dlog.partitionColumns.contains(oldName),
      s"cannot rename partition column $oldName")
    exprReferencing(oldName).foreach(n => throw new IllegalArgumentException(
      s"cannot rename $oldName: $n references it"))
    val fields = sch.fields.map { f =>
      if (f.name == oldName)
        ColumnMapping.withPhysical(f.copy(name = newName), ColumnMapping.physicalName(f))
      else f
    }
    commitMappingChange(StructType(fields),
      CommitInfo.columnChange(CommitInfo.Op.RenameColumn,
        Map("oldName" -> oldName, "newName" -> newName), dlog.version))
  }

  /** Drop a column without touching any data file (metadata-only commit).
    * The physical column stays dead in existing files; a column of the
    * same name added later is born with a fresh physical name, so the old
    * values can never resurface (spec-asserted).
    */
  def dropColumn(name: String): DeltaTable = {
    require(!dlog.isEmpty, "dropColumn requires an existing table")
    val sch = dlog.schema
    require(sch.fieldNames.contains(name), s"no such column: $name")
    require(sch.fields.length > 1, "cannot drop the last column")
    require(!dlog.partitionColumns.contains(name),
      s"cannot drop partition column $name")
    exprReferencing(name).foreach(n => throw new IllegalArgumentException(
      s"cannot drop $name: $n references it"))
    commitMappingChange(StructType(sch.fields.filterNot(_.name == name)),
      CommitInfo.columnChange(CommitInfo.Op.DropColumn,
        Map("columns" -> name), dlog.version))
  }

  /** Widen a column's type without touching any data file — delta's
    * `typeWidening` table feature. Old parquet files keep the narrow
    * physical type; the parquet readers up-convert at scan time (Spark's
    * widening promotions), so the change is metadata-only: O(1) at any
    * table size, where a rewrite would be O(data). The applied change is
    * recorded in the field's metadata under delta's `delta.typeChanges`
    * key (`[{"fromType":…,"toType":…}]`, appended per change) so a
    * foreign delta reader sees exactly the state delta-spark would write,
    * and the `typeWidening` readerWriter feature is declared — a
    * feature-unaware engine must refuse the table rather than fail
    * mid-scan on a narrow file.
    *
    * Gated on `delta.enableTypeWidening=true` (delta-spark parity) and
    * restricted to delta's lossless promotions. Partition columns are
    * rejected (their values live as log strings parsed by the declared
    * type — flipping the parse type silently re-keys the layout);
    * generated-column sources are rejected (the expression's result type
    * would drift from the declared generated type).
    */
  def alterColumnType(name: String,
      to: org.apache.spark.sql.types.DataType): DeltaTable = {
    import org.apache.spark.sql.types._
    require(!dlog.isEmpty, "alterColumnType requires an existing table")
    val sch = dlog.schema
    val f = sch.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no such column: $name"))
    val widenings: Set[(DataType, DataType)] = Set(
      ByteType -> ShortType, ByteType -> IntegerType, ByteType -> LongType,
      ShortType -> IntegerType, ShortType -> LongType,
      IntegerType -> LongType,
      FloatType -> DoubleType,
      ByteType -> DoubleType, ShortType -> DoubleType,
      IntegerType -> DoubleType,
      DateType -> TimestampNTZType)
    require(widenings.contains(f.dataType -> to),
      s"cannot widen $name from ${f.dataType.typeName} to ${to.typeName}: " +
        "not a lossless promotion (delta typeWidening set)")
    require(dlog.latestMetadata.exists(_.configuration
        .get("delta.enableTypeWidening").exists(_.trim.equalsIgnoreCase("true"))),
      "type widening is disabled; enable it first: " +
        "setTableProperties(Map(\"delta.enableTypeWidening\" -> \"true\"))")
    require(!dlog.partitionColumns.contains(name),
      s"cannot widen partition column $name")
    generatedColumns.collectFirst {
      case (g, sql) if ("""(?i)(?<![a-z0-9_])""" +
          java.util.regex.Pattern.quote(name) + """(?![a-z0-9_])""").r
          .findFirstIn(sql).isDefined => g
    }.foreach(g => throw new IllegalArgumentException(
      s"cannot widen $name: generated column $g references it — the " +
        "expression's result type would drift from the declared type"))
    val change = new MetadataBuilder()
      .putString("fromType", f.dataType.typeName)
      .putString("toType", to.typeName).build()
    val prior =
      if (f.metadata.contains("delta.typeChanges"))
        f.metadata.getMetadataArray("delta.typeChanges") else Array.empty[Metadata]
    val newMeta = new MetadataBuilder().withMetadata(f.metadata)
      .putMetadataArray("delta.typeChanges", prior :+ change).build()
    val fields = sch.fields.map { fd =>
      if (fd.name == name) fd.copy(dataType = to, metadata = newMeta) else fd
    }
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    val amended = meta.copy(schemaString = StructType(fields).json)
    val info = CommitInfo.columnChange(CommitInfo.Op.ChangeColumn,
      Map("column" -> name, "fromType" -> f.dataType.typeName,
        "toType" -> to.typeName), dlog.version)
    val base = dlog.currentProtocol
    val actions: Vector[Action] =
      ProtocolGate.withFeature(base, "typeWidening") match {
        case Some(up) => Vector(up, amended, info)
        case None => Vector(amended, info)
      }
    commitMeta(DeltaLogEntry(actions))
  }

  private def commitMappingChange(newSchema: StructType,
      info: CommitInfo): DeltaTable = {
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("no metadata to amend"))
    val newMeta = meta.copy(schemaString = newSchema.json,
      // an id-mode table STAYS id (its files are bound by field ids);
      // name/none promote to name
      configuration = meta.configuration + (ColumnMapping.ModeConfigKey ->
        (if (ColumnMapping.modeOf(meta.configuration) == "id") "id" else "name")))
    // protocol honesty (Delta's columnMapping feature gate): a reader
    // unaware of physical names would misbind columns on post-mapping
    // files, so mapping requires minReader/minWriter >= 2/5 — raised
    // component-wise (NEVER lowered: an imported table already at a
    // higher protocol, e.g. a DV feature gate, must keep it) and only
    // when actually below, so the bump appears exactly once
    val cur = dlog.currentProtocol
    val bump: Vector[Action] =
      if (cur.minReaderVersion >= 2 && cur.minWriterVersion >= 5) Vector.empty
      else Vector(cur.copy(
        minReaderVersion = math.max(cur.minReaderVersion, 2),
        minWriterVersion = math.max(cur.minWriterVersion, 5)))
    commitMeta(DeltaLogEntry(bump ++ Vector(newMeta, info)))
  }

  /** One validation job over the batch: throws naming a row's first
    * violated check. Null predicate results count as violations (delta's
    * CHECK semantics require TRUE).
    */
  private def validateConstraints(df: DataFrame): Unit =
    firstViolation(df).foreach { v =>
      df.filter(v.isNotNull).select(v).head(1).foreach(r =>
        throw new IllegalArgumentException(r.getString(0)))
    }

  /** [[writeData]] of `df` into this table's partitions, with the checks
    * of [[firstViolation]] enforced by the write job itself: the task
    * that meets a violating row throws, and the caller gets the same
    * IllegalArgumentException [[validateConstraints]] raises, without a
    * validation pass of its own over the frame. The check is
    * nondeterministic, so the optimizer keeps it above the frame's own
    * filters and never runs it on a row the write drops.
    */
  private def writeChecked(df: DataFrame, mapping: Map[String, String]): Seq[AddFile] =
    try writeData(firstViolation(df).fold(df)(v => df.filter(DeltaTable.passes(v))),
      dlog.versionToWrite, dlog.partitionColumns, mapping)
    catch {
      case e: Exception =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case v: IllegalArgumentException
              if Option(v.getMessage).exists(_.startsWith("write violates CHECK")) => v
        }.getOrElse(e)
    }

  /** Per row of `df`, the message naming the first row-level check it
    * fails (CHECK constraints, legacy column invariants, NOT NULL
    * columns), or null when it passes them all; None when the table has
    * no checks.
    */
  private def firstViolation(df: DataFrame): Option[Column] = {
    // CHECK constraints plus legacy column invariants (delta.invariants
    // field metadata) — both are write-time row predicates; enforcing
    // invariants is what makes foreign writer-v2 tables WRITABLE here
    // (the old gate refused them outright)
    // NOT NULL columns are delta's implicit invariant: nullable=false in
    // the DECLARED schema must hold for every written row (first write
    // has no declared schema yet — the incoming frame defines it).
    // Recurses into nested structs; a nested check fires only when every
    // ANCESTOR is non-null (a legitimately-null nullable parent has no
    // child to check — and a non-nullable parent's own check already
    // catches its nulls), so the guard chain is `a IS NULL OR a.b IS
    // NULL OR ... OR leaf IS NOT NULL`.
    def notNullPaths(prefix: Seq[String],
        st: org.apache.spark.sql.types.StructType): Seq[Seq[String]] =
      st.fields.toSeq.flatMap { f =>
        val path = prefix :+ f.name
        val own = if (f.nullable) Seq.empty else Seq(path)
        val nested = f.dataType match {
          case s: org.apache.spark.sql.types.StructType => notNullPaths(path, s)
          case _ => Seq.empty
        }
        own ++ nested
      }
    val notNull =
      if (dlog.isEmpty) Seq.empty
      else notNullPaths(Seq.empty, dlog.schema)
        .filter(p => df.columns.contains(p.head)) // absent cols null-fill at scan, checked on their own write
        .map { p =>
          val quoted = p.indices.map(i =>
            p.take(i + 1).map(seg => s"`$seg`").mkString("."))
          val guards = quoted.init.map(anc => s"$anc IS NULL")
          val pred = (guards :+ s"${quoted.last} IS NOT NULL").mkString(" OR ")
          s"NOT NULL on ${p.mkString(".")}" -> pred
        }
    val checks = (dlog.constraints ++
      dlog.invariants.map { case (c, sql) => s"invariant on $c" -> sql } ++
      notNull).toSeq
    if (checks.isEmpty) None
    else Some(checks.foldRight(lit(null).cast("string")) { case ((n, sql), rest) =>
      when(not(coalesce(org.apache.spark.sql.functions.expr(sql), lit(false))),
        lit(s"write violates CHECK constraint $n ($sql)")).otherwise(rest)
    })
  }

  // ------------------------------------------------------------------
  // replaceWhere — predicate-scoped overwrite (delta-spark semantics;
  // the reference only has whole-table overwrite).
  // ------------------------------------------------------------------

  /** Dynamic partition overwrite (delta-spark's
    * `partitionOverwriteMode=dynamic`): atomically replace EXACTLY the
    * partitions the incoming frame lands rows in, leaving every other
    * partition untouched — the daily-backfill primitive: re-run one
    * day's pipeline output without stating the day as a predicate and
    * without a whole-table overwrite.
    *
    * The touched-partition set is derived from the WRITTEN files'
    * log-recorded partition values — zero extra jobs, exact by
    * construction (a partition is replaced iff the new data actually
    * put rows in it). Removes are an O(live files) driver fold; data
    * cost is the new files only, so at 100 TB overwriting one of 10⁴
    * partitions writes one partition's bytes.
    */
  def overwritePartitionsDynamic(spark: SparkSession, df: DataFrame,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable = {
    assertPreWrite(removesData = true)
    require(!dlog.isEmpty, "dynamic partition overwrite requires an existing table")
    val parts = dlog.partitionColumns
    require(parts.nonEmpty,
      "dynamic partition overwrite requires a partitioned table " +
        "(unpartitioned: use mode=Overwrite)")
    require(df.columns.toSet == dlog.schema.fieldNames.toSet,
      s"Schema mismatch: columns ${df.columns.sorted.mkString(",")} " +
        s"vs table ${dlog.schema.fieldNames.sorted.mkString(",")}")
    val aligned = regenerate(df.select(dlog.schema.fieldNames.toIndexedSeq.map(col): _*))
    validateConstraints(aligned)
    val adds = writeData(aligned, dlog.versionToWrite, parts)
    val touched: Set[Seq[Option[String]]] =
      adds.map(a => parts.map(c => a.partitionValues.getOrElse(c, None))).toSet
    val toRemove = dlog.addActions.values.filter(a =>
      touched.contains(parts.map(c => a.partitionValues.getOrElse(c, None))))
    val removedRows = toRemove.flatMap(_.numRecords).sum
    val entry = DeltaLogEntry.replaceWhereTable(
      s"dynamic partition overwrite (${touched.size} partition(s))",
      parts, toRemove, adds, dlog.version,
      numDeleted = removedRows, numCopied = 0L, schema = None)
      .withExtraCommitInfo(customMetadata)
    commitOrRebase(entry, toRemove.map(_.path).toSet)
  }

  /** Atomically replace the rows matching `predicate` with `df`: the
    * delete of the matching rows (copy-on-write, touched files only) and
    * the append of the replacement land in ONE commit, so readers never
    * see the gap a delete-then-append pair would expose.
    *
    * Every row of `df` must satisfy `predicate` (checked with one
    * validation job) — the scoping contract that makes concurrent
    * replaceWhere commits on disjoint predicates logically independent.
    *
    * Scale shape: the row-level DML pipeline's candidates are pruned
    * driver-side via partition values + min/max stats; on a table partitioned by the
    * predicate column this touches no data file at all (partition-level
    * replacement, the classic backfill pattern).
    */
  def replaceWhere(spark: SparkSession, predicate: Column, df: DataFrame,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable = {
    assertPreWrite(removesData = true)
    require(!dlog.isEmpty, "replaceWhere requires an existing table")
    // all cheap validation BEFORE the copy-on-write rewrite, so a bad
    // replacement never pays for (and orphans) a copy-on-write rewrite.
    // Strict no-evolution contract: same field names and types as the
    // table (nullability may tighten — a non-nullable replacement value
    // in a nullable column is always safe); the committed metadata keeps
    // the TABLE's schema.
    require(df.columns.toSet == dlog.schema.fieldNames.toSet,
      s"Schema mismatch: replaceWhere data columns ${df.columns.sorted.mkString(",")} " +
        s"vs table ${dlog.schema.fieldNames.sorted.mkString(",")}")
    // generated columns are re-derived on the replacement rows (the
    // mutation-path rule — see regenerate), so the invariant holds even
    // if the caller supplied stale values
    val aligned = regenerate(df.select(dlog.schema.fieldNames.toIndexedSeq.map(col): _*))
    val typesMatch = aligned.schema.fields.map(f => f.name -> f.dataType.json)
      .sameElements(dlog.schema.fields.map(f => f.name -> f.dataType.json))
    require(typesMatch, s"Schema mismatch: replaceWhere data " +
      s"${aligned.schema.simpleString} vs table ${dlog.schema.simpleString}")
    // nullability may only TIGHTEN: a replacement column that is
    // nullable-declared where the table field is non-nullable must be
    // proven null-free, or the commit would plant nulls the table schema
    // forbids. The null probes ride the same validation job as the
    // predicate-scoping check.
    val mustBeNullFree = aligned.schema.fields.zip(dlog.schema.fields).collect {
      case (src, tbl) if src.nullable && !tbl.nullable => tbl.name
    }
    val scopeViolation = not(coalesce(predicate, lit(false)))
    val nullViolation = mustBeNullFree.map(col(_).isNull)
      .foldLeft(scopeViolation)(_ || _)
    val violating = aligned.filter(nullViolation)
    require(violating.isEmpty,
      s"replaceWhere data contains rows not matching the predicate $predicate " +
        (if (mustBeNullFree.isEmpty) ""
         else s"or nulls in non-nullable table columns ${mustBeNullFree.mkString(",")}"))
    validateConstraints(aligned)

    val candidates = prunedAdds(predicate)
    val (touched, keptAdds, numDeleted, _) = rewriteWithout(spark, candidates,
      coalesce(predicate, lit(false)), changeData = false)
    val newAdds = writeData(aligned, dlog.versionToWrite, dlog.partitionColumns)
    val entry = DeltaLogEntry.replaceWhereTable(predicate.toString,
        dlog.partitionColumns, touched, keptAdds ++ newAdds, dlog.version,
        numDeleted, rowsIn(keptAdds), Some(dlog.schema),
        dlog.latestMetadata.map(_.configuration).getOrElse(Map.empty))
      .withExtraCommitInfo(customMetadata)
    commitOrRebase(entry, candidates.map(_.path).toSet, Some(Some(predicate)))
  }

  // ------------------------------------------------------------------
  // OPTIMIZE / VACUUM / CHANGES — table maintenance beyond the reference
  // (it only READS tables after other engines compact/vacuum,
  // tests/test_compatibility.py:112-130; op names reserved in
  // actions.py:104-113).
  // ------------------------------------------------------------------

  /** Compact: rewrite every partition that holds more than one live file
    * into coalesced files. `dataChange=false` on removes and adds — any
    * reader sees identical rows before and after. At cluster scale each
    * partition group rewrites independently (one executor-side parquet
    * job), and untouched single-file partitions cost nothing.
    *
    * @param sortBy  optional clustering columns (Z-order-lite): rewritten
    *                data is range-partitioned and sorted on them, so
    *                per-file min/max stats are disjoint on the FIRST column
    *                and [[prunedAdds]] skips aggressively. When set, ALL
    *                live files are rewritten (layout, not just small-file
    *                count, is the point).
    * @param zOrder  when true with >= 2 sortBy columns, cluster by the
    *                Morton code of per-column rank buckets instead of the
    *                linear sort — per-file min/max stay selective for
    *                predicates on ANY clustered column, not just the first
    * @param curve   multi-dimensional order under `zOrder`: "morton"
    *                (default, bit interleave) or "hilbert"
    *                ([[graft.functions.HilbertIndex]] — consecutive cells
    *                always spatially adjacent, tighter per-file min/max
    *                boxes, the curve liquid clustering uses)
    */
  def compact(spark: SparkSession, sortBy: Seq[String] = Seq.empty,
      targetFiles: Int = 0, zOrder: Boolean = false,
      where: Option[Column] = None, curve: String = "morton",
      incremental: Boolean = false): DeltaTable = {
    require(curve == "morton" || curve == "hilbert",
      s"curve must be morton|hilbert, got $curve")
    // liquid default (delta's OPTIMIZE on a clustered table): with no
    // explicit keys, lay out by the declared clustering columns —
    // Z-order across 2+, plain sort for 1 — so incremental clustering is
    // just "declare once, OPTIMIZE anytime". The curve is declarable as
    // a table property alongside the clustering domain.
    if (sortBy.isEmpty) {
      val cc = clusteringColumns
      if (cc.nonEmpty)
        return compact(spark, sortBy = cc, targetFiles = targetFiles,
          zOrder = cc.size >= 2, where = where,
          curve = tableProperties.getOrElse("graft.clustering.curve", curve),
          incremental = incremental)
    }
    // OPTIMIZE WHERE (delta parity): the predicate must touch only
    // partition columns — compaction is file-level, so a data-column
    // predicate would either rewrite non-matching rows or split files
    where.foreach { w =>
      val refs = org.apache.spark.sql.graftshim.ColumnShim.expression(w)
        .references.map(_.name).toSet
      val bad = refs -- dlog.partitionColumns.toSet
      require(bad.isEmpty,
        s"compact WHERE may only reference partition columns " +
          s"${dlog.partitionColumns.mkString("[", ",", "]")}, got ${bad.mkString(",")}")
    }
    val candidates = where.map(prunedAdds).getOrElse(dlog.addActions.values.toSeq)
    val groups = candidates
      .groupBy(a => dlog.partitionColumns.map(c => a.partitionValues.getOrElse(c, None)))
    // singleton files still benefit from compaction when they carry a
    // deletion vector: the rewrite purges dead rows and drops the sidecar
    val toCompact0 =
      if (sortBy.nonEmpty) candidates
      else (groups.filter(_._2.size > 1).values.flatten ++
        groups.filter(_._2.size == 1).values.flatten
          .filter(a => DeletionVectors.refOf(a).isDefined)).toSeq
    // incremental clustering (delta's ZCUBE behavior): files already laid
    // out under the CURRENT clustering spec — recorded as a tag on the
    // add at rewrite time — are left alone; only newly-appended (or
    // differently-clustered, or DV-carrying) files rewrite. At 100 TB
    // this is the difference between re-sorting the whole table on every
    // OPTIMIZE and paying only for the new data; the cost is stats
    // overlap BETWEEN cubes, exactly delta's documented trade.
    val specTag: Option[String] =
      if (sortBy.isEmpty) None
      else Some((if (zOrder && sortBy.size >= 2) curve else "linear") +
        ":" + sortBy.mkString(","))
    val toCompact =
      if (!incremental || specTag.isEmpty) toCompact0
      else toCompact0.filter(a =>
        !DeltaTable.clusterSpecOf(a).contains(specTag.get) ||
          DeletionVectors.refOf(a).isDefined)
    if (toCompact.isEmpty) return this
    val df = scanForRewrite(spark, toCompact)
    // `delta.targetFileSize` (delta-spark's OPTIMIZE sizing knob): output
    // file count derived from LIVE BYTES / target size, so rewritten
    // files land near the declared size regardless of how many inputs
    // the compaction happened to pick up; an explicit targetFiles wins
    val n = if (targetFiles > 0) targetFiles
      else tableProperties.get("delta.targetFileSize")
        .flatMap(_.trim.toLongOption) match {
        case Some(sz) if sz > 0 =>
          math.max(1, math.ceil(toCompact.map(_.size).sum.toDouble / sz).toInt)
        case _ => math.max(1, spark.sparkContext.defaultParallelism / 4)
      }
    // one output file per partition tuple: the write path re-splits by
    // hive dir, so coalesce(1) per group is expressed as a repartition on
    // the partition columns (no-op shuffle for unpartitioned tables)
    val compacted =
      if (sortBy.nonEmpty && zOrder && sortBy.size >= 2) {
        // per-column equi-WIDTH rank buckets from one global min/max agg
        // (an equi-depth ntile would need a single-partition global sort —
        // the exact anti-pattern Z-order exists to avoid). Buckets feed
        // the codegen'd Morton interleave; range-partition + sort on the
        // code clusters files in all dims at once.
        sortBy.foreach { c =>
          val dt = dlog.schema(c).dataType
          require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
              dt == org.apache.spark.sql.types.DateType ||
              dt == org.apache.spark.sql.types.StringType ||
              dt.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
              dt == org.apache.spark.sql.types.TimestampNTZType,
            s"zOrder requires numeric/date/timestamp/string columns; $c is $dt")
        }
        // dates/timestamps bucket through their numeric epoch form;
        // strings through an ORDER-PRESERVING surrogate — the first 7
        // UTF-8 bytes as an unsigned big-endian integer (56 bits fits a
        // double's exact range) — so equi-width buckets respect
        // lexicographic order and min/max stats stay range-prunable
        // (hashing would cluster equal values but kill range pruning;
        // delta-spark's own string Z-order uses range-partition ranks,
        // the same order-preserving idea)
        def numeric(c: String): Column = dlog.schema(c).dataType match {
          case org.apache.spark.sql.types.DateType => col(c).cast("int").cast("double")
          case _: org.apache.spark.sql.types.TimestampType => col(c).cast("double")
          case org.apache.spark.sql.types.TimestampNTZType =>
            col(c).cast("timestamp").cast("double")
          case org.apache.spark.sql.types.StringType =>
            org.apache.spark.sql.functions.conv(
              org.apache.spark.sql.functions.rpad(
                org.apache.spark.sql.functions.hex(
                  org.apache.spark.sql.functions.substring(
                    org.apache.spark.sql.functions.encode(col(c), "UTF-8"), 1, 7)),
                14, "0"),
              16, 10).cast("double")
          case _ => col(c).cast("double")
        }
        // hilbert packs k*bits into one long (<= 63 usable bits); morton
        // interleaves into 64 — cap the shared bucket width accordingly
        val bits =
          if (curve == "hilbert") math.min(63 / sortBy.size, 16)
          else 64 / sortBy.size
        val buckets = 1 << math.min(bits, 16)
        val aggs = sortBy.flatMap(c => Seq(
          org.apache.spark.sql.functions.min(numeric(c)),
          org.apache.spark.sql.functions.max(numeric(c))))
        val statsRow = df.agg(aggs.head, aggs.tail: _*).head()
        // an all-NULL column degenerates to one bucket instead of crashing
        def boundAt(i: Int): Double =
          if (statsRow.isNullAt(i)) 0.0 else statsRow.getDouble(i)
        val bounds: Map[String, (Double, Double)] = sortBy.zipWithIndex.map {
          case (c, i) => c -> ((boundAt(2 * i), boundAt(2 * i + 1)))
        }.toMap
        val ranked = sortBy.foldLeft(df) { (acc, c) =>
          val (mn, mx) = bounds(c)
          val span = if (mx > mn) mx - mn else 1.0
          acc.withColumn(s"_rk_$c",
            org.apache.spark.sql.functions.least(
              org.apache.spark.sql.functions.floor(
                (numeric(c) - lit(mn)) / lit(span) * buckets),
              lit(buckets - 1L)).cast("long"))
        }
        val rankExprs = sortBy.map(c =>
          org.apache.spark.sql.graftshim.ColumnShim.expression(col(s"_rk_$c")))
        val morton = org.apache.spark.sql.graftshim.ColumnShim.column(
          if (curve == "hilbert")
            graft.functions.HilbertIndex(rankExprs, math.min(bits, 16))
          else graft.functions.InterleaveBits(rankExprs))
        ranked.withColumn("_morton", morton)
          .repartitionByRange(n, col("_morton"))
          .sortWithinPartitions("_morton")
          .drop("_morton" +: sortBy.map(c => s"_rk_$c"): _*)
      } else if (sortBy.nonEmpty) {
        df.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      } else if (dlog.partitionColumns.nonEmpty)
        df.repartition(dlog.partitionColumns.map(col): _*)
      else df.coalesce(1)
    val adds0 = writeData(compacted, dlog.versionToWrite, dlog.partitionColumns)
    // clustered outputs carry the spec tag so the NEXT incremental
    // OPTIMIZE can skip them without reading any data
    val adds = specTag match {
      case None => adds0
      case Some(tag) => adds0.map { a =>
        val t = graft.log.Json.obj()
        t.put("graft.clusterSpec", tag)
        a.copy(extra = a.extra.updated("tags", t))
      }
    }
    commitOrRebase(DeltaLogEntry.optimizeTable(toCompact, adds, dlog.version),
      toCompact.map(_.path).toSet)
  }

  /** REORG ... APPLY (PURGE) (delta-spark parity; no reference analogue):
    * rewrite EXACTLY the files carrying physical debt —
    *
    *  1. files with deletion vectors (merge-on-read debt: every scan pays
    *     the DV anti-join until the file is rewritten), and
    *  2. on column-mapped tables, files whose parquet footers still hold
    *     physical columns that a metadata-only DROP removed from the
    *     schema (the bytes of "deleted" data survive on disk — a
    *     compliance delete is not complete until they are rewritten; the
    *     footer sweep is driver-side O(candidate files) metadata and runs
    *     only when the table's mapping is non-identity)
    *
    * — and nothing else, `dataChange=false` on both sides. Where OPTIMIZE
    * rewrites whole partitions to fix layout, purge's write cost is
    * proportional to the DEBT: MoR deletes touching 1% of a 100 TB
    * table's files cost a 1 TB rewrite here, not a recompaction. No
    * repartition is imposed on the rewrite — Spark's split packing
    * bounds output file sizes (small purged files coalesce per task, big
    * ones split), so a 50-file partition does not collapse into one
    * monster file the way the per-partition OPTIMIZE shuffle would.
    * Old files + sidecars become unreferenced and are reclaimed by
    * [[vacuum]] after retention.
    */
  def purge(spark: SparkSession, where: Option[Column] = None): DeltaTable = {
    where.foreach { w =>
      val refs = org.apache.spark.sql.graftshim.ColumnShim.expression(w)
        .references.map(_.name).toSet
      val bad = refs -- dlog.partitionColumns.toSet
      require(bad.isEmpty,
        s"purge WHERE may only reference partition columns " +
          s"${dlog.partitionColumns.mkString("[", ",", "]")}, got ${bad.mkString(",")}")
    }
    val candidates = where.map(prunedAdds).getOrElse(dlog.addActions.values.toSeq)
    val (dved, clean) = candidates.partition(a =>
      DeletionVectors.refOf(a).isDefined)
    // gate on the mapping MODE, not on whether the surviving mapping is
    // identity-valued: dropping a never-renamed column leaves every
    // remaining logical==physical, yet the dropped bytes still sit in
    // pre-drop files
    val mapped = dlog.latestMetadata.map(m => ColumnMapping.modeOf(m.configuration))
      .exists(m => m == "name" || m == "id")
    val stale: Seq[AddFile] =
      if (!mapped) Seq.empty
      else {
        // the materialized row-id column is INTENTIONAL out-of-schema
        // physical data (stable ids under row tracking), not drop debt
        val allowed = ColumnMapping.physicalSchema(dlog.schema).fieldNames.toSet ++
          RowTracking.materializedCol(dlog.latestMetadata)
        clean.filter { a =>
          val p = Location.resolve(a.path, loc, conf)
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(p.path, conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            reader.getFooter.getFileMetaData.getSchema.getFields
              .asScala.exists(f => !allowed.contains(f.getName))
          } finally reader.close()
        }
      }
    val toRewrite = dved ++ stale
    if (toRewrite.isEmpty) return this
    val purgedRows = dved.map(a =>
      DeletionVectors.refOf(a).map(_.cardinality).getOrElse(0L)).sum
    val adds = writeData(scanForRewrite(spark, toRewrite), dlog.versionToWrite,
      dlog.partitionColumns)
    commitOrRebase(DeltaLogEntry.reorgTable(toRewrite, adds, dlog.version,
      purgedRows), toRewrite.map(_.path).toSet)
  }

  /** Exact live row count from log metadata ALONE — O(live files) driver
    * work, zero Spark jobs: per-file `numRecords` stats minus each file's
    * deletion-vector cardinality (the vector is total per file, so the
    * subtraction is exact). None if any live file lacks stats (foreign
    * imports) — callers fall back to a scan. The `SELECT COUNT(*)`
    * fast path every lakehouse engine ships: at 10^5 files this answers
    * from the already-loaded log in microseconds instead of a cluster
    * job over 100 TB.
    */
  def countRowsFromStats: Option[Long] = {
    val counts = dlog.addActions.values.toSeq.map(a =>
      a.numRecords.map(_ -
        DeletionVectors.refOf(a).map(_.cardinality).getOrElse(0L)))
    // a negative per-file count = inconsistent foreign stats: fall back
    if (counts.exists(c => c.isEmpty || c.exists(_ < 0L))) None
    else Some(counts.flatten.sum)
  }

  /** Exact MIN/MAX of a NUMERIC or BOOLEAN column from per-file footer
    * stats — zero Spark jobs, the metadata fast path for
    * `SELECT MIN(x), MAX(x)` (values in the Long/Double comparison
    * domain). None — fall back to a scan — when any live file carries a
    * deletion vector (a DEAD row may hold the extreme), lacks the
    * column's min/max without being provably all-NULL, or every row is
    * NULL. Strings, dates and timestamps are deliberately OUT of scope:
    * foreign writers truncate string maxima (prefix+increment — an upper
    * BOUND, not a value) and ms-truncate timestamps (which parseStats
    * widens for pruning), and Java UTF-16 string order differs from
    * Spark/DuckDB UTF-8 byte order — none of which can be claimed exact.
    * Floating NaN: parquet writers omit FP min/max when NaN is present
    * and [[Statistics]] drops NaN bounds on read, so a NaN-bearing file
    * surfaces as stats-missing → None, never a wrong non-NaN answer
    * (spec-asserted).
    */
  def minMaxFromStats(column: String): Option[(Any, Any)] = {
    val adds = dlog.addActions.values.toSeq
    if (adds.isEmpty) return None
    val exactTypes: Boolean = dlog.schema.fields.find(_.name == column).exists(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        f.dataType == org.apache.spark.sql.types.BooleanType)
    if (!exactTypes) return None
    if (adds.exists(a => DeletionVectors.refOf(a).isDefined)) return None
    val ltAny = Statistics.lt _
    // footer stats are keyed by the PHYSICAL column name
    val physSchema = ColumnMapping.physicalSchema(dlog.schema)
    val phys = ColumnMapping.logicalToPhysical(dlog.schema).getOrElse(column, column)
    val per: Seq[Option[Option[(Any, Any)]]] = adds.map { a =>
      val st = DataSkipping.parseStats(a, physSchema)
      (st.min.get(phys), st.max.get(phys)) match {
        case (Some(mn), Some(mx)) => Some(Some((mn, mx)))
        // a zero-record file (empty upstream partition) has no values at
        // all — contributes nothing, provably
        case _ if st.numRecords.contains(0L) => Some(None)
        // provably all-NULL in this column: contributes nothing, stays exact
        case _ if st.numRecords.isDefined &&
          st.nullCount.get(phys) == st.numRecords => Some(None)
        case _ => None // stats missing for a column that may hold values
      }
    }
    if (per.exists(_.isEmpty)) return None
    val bounds = per.flatten.flatten
    if (bounds.isEmpty) None // every row NULL: SQL MIN/MAX is NULL
    else Some((bounds.map(_._1).reduce((x, y) => if (ltAny(x, y)) x else y),
      bounds.map(_._2).reduce((x, y) => if (ltAny(x, y)) y else x)))
  }

  /** Build (or rebuild) a per-file Bloom point-lookup index on `column`
    * (see [[graft.sources.BloomIndex]]): min/max stats cannot prune
    * `id = X` on a high-cardinality column in a hash-scattered layout —
    * every file's range spans the domain — but a per-file filter proves
    * the value ABSENT from all but the files that hold it, driver-side,
    * before any plan exists. One pass over the table (map-side OR-merged
    * per-file aggregates); `numBits` trades log-entry size (bits/8 bytes
    * per file, base64 in `extra`) against false-positive rate — size it
    * as ~8-10 bits per expected distinct value per file.
    *
    * The index reflects THIS snapshot's files: rows appended later arrive
    * in new, unindexed files, which data skipping conservatively keeps
    * (correctness never depends on the index). Rebuild after major
    * ingest, typically right after `compact()`.
    */
  def buildBloomIndex(spark: SparkSession, column: String,
      numBits: Int = 1 << 16, numHashes: Int = 5,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable = {
    val field = dlog.schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no such column: $column"))
    require(BloomIndex.supported(field.dataType),
      s"bloom index supports integral/string columns, not ${field.dataType}")
    require(!dlog.partitionColumns.contains(column),
      s"$column is a partition column — partition pruning already covers it")
    val adds = dlog.addActions.values.toSeq
    if (adds.isEmpty) return this
    val names = adds.map(a => pathName(a.path))
    require(names.distinct.size == names.size,
      "bloom index requires unique file basenames (imported collision)")

    import org.apache.spark.sql.graftshim.ColumnShim
    val hashCol = org.apache.spark.sql.functions.xxhash64(
      BloomIndex.buildExpr(column, field.dataType))
    val bloomCol = ColumnShim.column(
      graft.functions.BloomAgg(ColumnShim.expression(hashCol), numBits, numHashes)
        .toAggregateExpression()).as("_bloom")
    // raw per-file scan (dead rows included — false-positive-only): one
    // table pass, the per-file filters OR-merge map-side
    val rows = DeltaScan.snapshotDFWithMeta(spark, loc, dlog.schema,
        dlog.partitionColumns, adds, conf)
      .groupBy(org.apache.spark.sql.functions.substring_index(
        col(DeltaScan.MetaPath), "/", -1).as("_name"))
      .agg(bloomCol)
      .collect()
    val byName = adds.map(a => pathName(a.path) -> a).toMap
    // the probe path rewrites predicates logical→physical before stats
    // probing, so the index is stored under the PHYSICAL column name
    // (identical to the logical one on unmapped tables)
    val physCol = ColumnMapping.logicalToPhysical(dlog.schema).getOrElse(column, column)
    val indexed = rows.toSeq.flatMap { r =>
      byName.get(r.getString(0)).map { a =>
        BloomIndex.withBloom(a, physCol, numBits, numHashes, r.getSeq[Long](1).toArray)
      }
    }
    commit(DeltaLogEntry.bloomIndexTable(column, indexed, dlog.version)
      .withExtraCommitInfo(customMetadata))
  }

  /** Remove data files under the table root that no live add references
    * and whose modification time is older than the retention window.
    * Destroys time travel to versions that referenced them (standard
    * VACUUM semantics). Returns deleted (or, with `dryRun`, deletable)
    * URIs.
    *
    * The window is `retentionMs` when given (any value — a negative
    * window is a legal future cutoff, used by tests to collect
    * just-superseded files); when omitted, the table property
    * `delta.deletedFileRetentionDuration` (delta's `interval N
    * days|hours|minutes|weeks` syntax); otherwise delta's 7-day default.
    */
  /** GENERATE symlink_format_manifest (delta-spark's `GENERATE` command):
    * write `_symlink_format_manifest/…/manifest` text files listing the
    * ABSOLUTE URIs of the snapshot's live data files — the
    * SymlinkTextInputFormat layout Presto/Trino/Athena/Hive consume, so
    * those engines query the table with NO delta reader at all.
    * Partitioned tables get one manifest per `key=value` partition dir
    * (the layout those engines require); regeneration replaces the whole
    * tree, so removed files and vanished partitions never linger. Driver
    * cost is O(live files) metadata — no data is read.
    */
  def generateSymlinkManifest(): DeltaTable = {
    val root = loc.child("_symlink_format_manifest")
    if (root.exists) root.delete()
    val adds = dlog.addActions.values.toSeq
    def urisOf(as: Seq[AddFile]): String =
      as.map(a => Location.resolve(a.path, loc, conf).uri).sorted.mkString("\n")
    if (dlog.partitionColumns.isEmpty) {
      root.mkdirs()
      root.child("manifest").writeString(urisOf(adds))
    } else adds.groupBy(a => dlog.partitionColumns.map(c =>
        s"$c=${a.partitionValues.get(c).flatten.getOrElse("__HIVE_DEFAULT_PARTITION__")}")
        .mkString("/"))
      .foreach { case (dir, as) =>
        val d = dir.split("/").foldLeft(root)(_.child(_))
        d.mkdirs()
        d.child("manifest").writeString(urisOf(as))
      }
    this
  }

  /** VACUUM LITE (delta 4.0's `VACUUM ... LITE`): derive the deletable set
    * from the LOG's remove tombstones instead of listing the table
    * directory — on an object store holding 10⁸ files a recursive listing
    * is the vacuum bottleneck (and is billed per object); the log already
    * names every file a commit logically deleted, so the lite pass costs
    * O(loaded log) driver work plus the deletes themselves.
    *
    * Caveats (delta's own): lite only sees removes visible to this
    * handle's loaded log. Checkpoints RETAIN unexpired tombstones
    * (delta's checkpoint spec — r11), so a fast-path load still serves
    * them; only files stranded by crashed writes or whose tombstones
    * EXPIRED out of a checkpoint are invisible — run a full [[vacuum]]
    * occasionally for those. Eligibility is the remove's
    * own `deletionTimestamp` (no per-file stat round trips). Files already
    * gone are skipped silently (a lite vacuum is retry-safe).
    */
  def vacuumLite(retentionMs: Long = Long.MinValue,
      dryRun: Boolean = false): Seq[String] = {
    val retention =
      if (retentionMs != Long.MinValue) retentionMs
      else tableProperties.get("delta.deletedFileRetentionDuration")
        .map(DeltaTable.parseRetentionInterval(_))
        .getOrElse(7L * 24 * 3600 * 1000)
    val cutoff = System.currentTimeMillis() - retention
    val live: Set[String] = dlog.addActions.keys
      .map(p => Location.canonical(Location.resolve(p, loc, conf).uri)).toSet
    // every tombstone across the loaded entries, newest deletionTimestamp
    // wins per path (a re-added then re-removed file must age from its
    // LATEST death, not its first)
    val latestDeath = scala.collection.mutable.Map.empty[String, (String, Long)]
    dlog.entries.valuesIterator.foreach(_.removes.foreach { r =>
      val resolved = Location.resolve(r.path, loc, conf)
      val qualified = loc.fs.makeQualified(
        new org.apache.hadoop.fs.Path(resolved.uri)).toString
      val c = Location.canonical(qualified)
      if (latestDeath.get(c).forall(_._2 < r.deletionTimestamp))
        latestDeath(c) = (qualified, r.deletionTimestamp)
    })
    val candidates = latestDeath.iterator
      .filter { case (c, (_, ts)) => ts < cutoff && !live.contains(c) }
      .map(_._2._1).toSeq.sorted
    if (!dryRun) candidates.foreach { uri =>
      val p = new org.apache.hadoop.fs.Path(uri)
      try loc.fs.delete(p, false) catch { case _: java.io.IOException => () }
    }
    candidates
  }

  /** FSCK REPAIR (delta-spark's verb): drop add entries whose data files
    * no longer exist in storage — the recovery move after an out-of-band
    * deletion (a misfired lifecycle policy, a manual rm) leaves the log
    * pointing at ghosts that fail every scan. Missing entries commit as
    * removes with `dataChange = true` (readers genuinely lose rows).
    *
    * Scale shape: the existence check is DISTRIBUTED over the file list
    * (an RDD of paths — a 10⁶-file table must not serialize a million
    * driver-side round trips); only the missing subset returns. `dryRun`
    * reports without committing.
    *
    * @return the missing file paths (log-recorded form)
    */
  def fsckRepair(spark: SparkSession, dryRun: Boolean = false): Seq[String] = {
    val adds = dlog.addActions.values.toSeq
    if (adds.isEmpty) return Seq.empty
    import scala.jdk.CollectionConverters._
    val confKvs = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val rootUri = loc.uri
    val missing = spark.sparkContext
      .parallelize(adds.map(_.path), math.max(1, math.min(adds.size, 64)))
      .filter { p =>
        val c = new Configuration()
        confKvs.foreach { case (k, v) => c.set(k, v) }
        val root = Location(rootUri, c)
        val hp = Location.resolve(p, root, c).path
        !hp.getFileSystem(c).exists(hp)
      }.collect().toSeq.sorted
    if (missing.isEmpty || dryRun) return missing
    val missingSet = missing.toSet
    val removes = adds.filter(a => missingSet(a.path))
      .map(Action.removeFor(_))
    commit(DeltaLogEntry((removes :+
      CommitInfo.metaOp(CommitInfo.Op.Fsck,
        Map("numRemovedFiles" -> missing.size.toString), dlog.version)).toVector))
    missing
  }

  def vacuum(retentionMs: Long = Long.MinValue,
      dryRun: Boolean = false): Seq[String] = {
    val retention =
      if (retentionMs != Long.MinValue) retentionMs
      else tableProperties.get("delta.deletedFileRetentionDuration")
        .map(DeltaTable.parseRetentionInterval(_))
        .getOrElse(7L * 24 * 3600 * 1000)
    val adds = dlog.addActions
    val live: Set[String] =
      adds.keys.map(p => Location.canonical(Location.resolve(p, loc, conf).uri)).toSet
    // sidecar dirs a live deletionVector ref points at are load-bearing;
    // sidecars of purged/rewritten vectors age out like data files
    val liveDvDirs: Set[String] =
      DeletionVectors.referencedSidecarUris(adds.values, loc, conf)
    val cutoff = System.currentTimeMillis() - retention
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val candidates = vacuumCandidateListing(spark)
      // delta-spec DV bins (deletion_vector_<uuid>.bin) age out like any
      // other unreferenced file once a later total vector supersedes them
      .filter { case (uri, _) =>
        val name = uri.substring(uri.lastIndexOf('/') + 1)
        name.endsWith(".parquet") || name.startsWith("deletion_vector_")
      }
      .filterNot { case (uri, _) =>
        uri.contains("/_delta_log/") || uri.contains("/_staging-") }
      .filter(_._2 < cutoff)
      .filterNot { case (uri, _) => live.contains(Location.canonical(uri)) }
      // liveDvDirs holds sidecar DIRS (prefix-protected) and spec DV
      // FILES (exact-match protected)
      .filterNot { case (uri, _) =>
        val c = Location.canonical(uri)
        liveDvDirs.exists(d => c == d || c.startsWith(d + "/"))
      }
    if (!dryRun) {
      if (candidates.size >= 64 && spark.isDefined) {
        // distributed delete (delta-spark's shape): at 10⁶ stranded files
        // a sequential driver loop is the vacuum bottleneck — the same
        // scale argument as deepCloneTo's executor-side copy. The driver
        // ships only O(files) paths.
        import scala.jdk.CollectionConverters._
        val confKvs = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
        val paths = candidates.map(_._1)
        spark.get.sparkContext
          .parallelize(paths, math.max(1, math.min(paths.size / 16, 64)))
          .foreachPartition { it =>
            val c = new Configuration()
            confKvs.foreach { case (k, v) => c.set(k, v) }
            it.foreach { uri =>
              val p = new org.apache.hadoop.fs.Path(uri)
              p.getFileSystem(c).delete(p, false)
            }
          }
      } else candidates.foreach { case (uri, _) =>
        loc.fs.delete(new org.apache.hadoop.fs.Path(uri), false) }
    }
    candidates.map(_._1)
  }

  /** Vacuum's candidate listing as qualified `(uri, mtime)` pairs. The
    * r12-verdict's last driver funnel: a recursive root walk serializes
    * a 10⁸-object listing through one thread, so the walk is DISTRIBUTED
    * per top-level prefix (hive partition dirs, the DV dir, the CDC dir)
    * the same way [[fsckRepair]] distributes its existence check —
    * executors each list their subtree, the driver ships only prefixes
    * and collects only (uri, mtime). Root-level files come from the ONE
    * driver `listStatus` that discovered the prefixes. Small tables
    * (< 2 prefixes) and session-less callers keep the driver walk.
    *
    * The `_`-prefix skip matches [[storage.Location.listDataFilesRecursive]];
    * the DV and change-data dirs are walked explicitly because their
    * top-level names carry the underscore on purpose (unreferenced
    * sidecars and aged-out change files must age out).
    */
  private def vacuumCandidateListing(
      spark: Option[SparkSession]): Seq[(String, Long)] = {
    def visible(n: String): Boolean = !n.startsWith("_") && !n.startsWith(".")
    if (!loc.exists) return Seq.empty
    val rootChildren = loc.fs.listStatus(loc.path).toSeq
    val rootFiles = rootChildren
      .filter(st => !st.isDirectory && visible(st.getPath.getName))
      .map(st => (loc.fs.makeQualified(st.getPath).toString,
        st.getModificationTime))
    val subtreeRoots =
      rootChildren.filter(st => st.isDirectory && visible(st.getPath.getName))
        .map(_.getPath) ++
      Seq(DeletionVectors.DvDirName, ChangeDataDir).map(loc.child)
        .filter(_.exists).map(_.path)
    val walked: Seq[(String, Long)] =
      if (spark.isEmpty || subtreeRoots.size < 2) {
        def walk(fs: org.apache.hadoop.fs.FileSystem,
            p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
          fs.listStatus(p).toSeq.filter(st => visible(st.getPath.getName))
            .flatMap { st =>
              if (st.isDirectory) walk(fs, st.getPath)
              else Seq((fs.makeQualified(st.getPath).toString,
                st.getModificationTime))
            }
        subtreeRoots.flatMap(p => walk(loc.fs, p))
      } else {
        import scala.jdk.CollectionConverters._
        val confKvs = conf.iterator().asScala
          .map(e => (e.getKey, e.getValue)).toArray
        val dirs = subtreeRoots.map(_.toString)
        spark.get.sparkContext
          .parallelize(dirs, math.max(1, math.min(dirs.size, 64)))
          .flatMap { dir =>
            val c = new Configuration()
            confKvs.foreach { case (k, v) => c.set(k, v) }
            val root = new org.apache.hadoop.fs.Path(dir)
            val fs = root.getFileSystem(c)
            def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
              fs.listStatus(p).toSeq.filter(st => visible(st.getPath.getName))
                .flatMap { st =>
                  if (st.isDirectory) walk(st.getPath)
                  else Seq((fs.makeQualified(st.getPath).toString,
                    st.getModificationTime))
                }
            walk(root)
          }.collect().toSeq
      }
    rootFiles ++ walked
  }

  /** CDF-lite: row-level changes between versions (exclusive, inclusive].
    * `dataChange=true` adds yield `insert` rows; `dataChange=true` removes
    * yield `remove_file` rows (copy-on-write keeps removed files on disk,
    * so their content is still readable). Compaction entries
    * (`dataChange=false`) produce nothing, by design.
    *
    * Merge-on-read deletes are EXACT: a DV re-add of an already-live file
    * emits `delete` rows — precisely the newly-dead rows: those the
    * commit's total-per-file vector marks dead and the pre-commit one kept
    * (already-dead rows are never re-reported). Removes of
    * DV'd files scan through the pre-commit vector, so their dead rows —
    * reported `delete` in earlier versions — don't reappear as
    * `remove_file`. File-path/ref state is replayed driver-side from
    * version 0 (metadata-scale).
    */
  def changesBetween(spark: SparkSession, fromVersion: Long,
      toVersion: Long, includeTimestamp: Boolean = false): DataFrame = {
    var liveRefs = Map.empty[String, Option[DeletionVectors.DvRef]]
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // delta CDF parity: `_commit_timestamp` rides each change row when
    // asked (opt-in — timestamps are wall-clock, so deterministic-replay
    // consumers and the existing oracles stay on the two stable columns).
    // One metadata-scale map, ICT-aware via effectiveTimestamp.
    val commitTs: Map[Long, Long] =
      if (!includeTimestamp) Map.empty
      else withFullHistory.history.map { case (v, c) => v -> c.effectiveTimestamp }.toMap

    def tagged(df: DataFrame, v: Long, change: String): DataFrame = {
      val base = df.withColumn("_commit_version", lit(v))
        .withColumn("_change_type", lit(change))
      if (!includeTimestamp) base
      else base.withColumn("_commit_timestamp",
        lit(new java.sql.Timestamp(commitTs(v))))
    }

    // Rename/drop boundaries inside the requested range are REJECTED, not
    // silently papered over: every emitted frame is scanned under ONE
    // logical schema (this handle's), so a range spanning a rename would
    // report pre-rename rows under names that did not exist when they
    // changed — and a drop would silently lose the dropped column's
    // history. The caller reads each side of the boundary separately.
    // Additions are fine: earlier versions just carry nulls.
    var prevPhysToLogical: Map[String, String] = null
    def checkRenameBoundary(v: Long, m: Metadata): Unit = {
      val cur = ColumnMapping.logicalToPhysical(m.schema).map(_.swap)
      if (prevPhysToLogical != null && v > fromVersion && v <= toVersion) {
        prevPhysToLogical.foreach { case (phys, logical) =>
          cur.get(phys) match {
            case Some(now) if now != logical =>
              throw new IllegalArgumentException(
                s"CDF range [$fromVersion, $toVersion] crosses a column RENAME at " +
                  s"version $v ('$logical' -> '$now'): read changes up to version " +
                  s"${v - 1} and from version $v separately")
            case None =>
              throw new IllegalArgumentException(
                s"CDF range [$fromVersion, $toVersion] crosses a DROP of column " +
                  s"'$logical' at version $v: read changes up to version ${v - 1} " +
                  s"and from version $v separately")
            case _ => ()
          }
        }
      }
      prevPhysToLogical = cur
    }

    val hist = withFullHistory
    // the replay below needs true per-commit entries from version 0 (or a
    // checkpoint base at/below fromVersion, which replays as state-only);
    // below a cleaned horizon the base entry is CUMULATIVE state, not a
    // commit, and emitting it as inserts would fabricate history
    val oldest = hist.entries.headOption.map(_._1).getOrElse(0L)
    if (oldest > 0L && fromVersion < oldest)
      throw new IllegalArgumentException(
        s"CDF from version $fromVersion is unavailable: commits below the " +
          s"checkpoint at $oldest were removed by log cleanup")
    hist.entries.range(0, toVersion + 1).foreach { case (v, entry) =>
      entry.metadataAction.foreach(checkRenameBoundary(v, _))
      val adds = entry.actions.collect { case a: AddFile => a }
      val removes = entry.actions.collect { case r: RemoveFile => r }
      val cdcActs = entry.actions.collect { case c: AddCDCFile => c }
      if (v > fromVersion && cdcActs.nonEmpty) {
        // change-data files are AUTHORITATIVE for their commit (delta's
        // rule): they carry the exact row-level changes with in-file
        // _change_type, so the add/remove reconstruction below is skipped
        // — it would double-report the rewrite
        val cdc = readChangeData(spark, cdcActs)
          .withColumn("_commit_version", lit(v))
        frames += (if (!includeTimestamp) cdc
          else cdc.withColumn("_commit_timestamp",
            lit(new java.sql.Timestamp(commitTs(v)))))
      } else if (v > fromVersion) {
        // a DV'd re-add of a LIVE path is a row-level delete, not an insert
        val (dvDelta, plainAdds) = adds.filter(_.dataChange).partition(a =>
          DeletionVectors.refOf(a).isDefined && liveRefs.contains(a.path))
        if (plainAdds.nonEmpty) frames += tagged(scanAdds(spark, plainAdds), v, "insert")
        if (dvDelta.nonEmpty) {
          // newly dead: rows the commit's vector marks dead and the file's
          // prior vector (if any) kept — both verdicts are in-scan row
          // filters over one meta-scan, so no join
          val (reDeleted, firstDeleted) = dvDelta.partition(a => liveRefs(a.path).isDefined)
          val priorAdds = reDeleted.map(a => DeletionVectors.withRef(a, liveRefs(a.path).get))
          Seq(firstDeleted -> Nil, reDeleted -> priorAdds).foreach { case (files, prior) =>
            if (files.nonEmpty) {
              val deadNow = not(DeletionVectors.liveRowFilter(files, loc, conf))
              frames += tagged(
                DeltaScan.snapshotDFWithMeta(spark, loc, dlog.schema,
                  dlog.partitionColumns, files, conf)
                  .filter(if (prior.isEmpty) deadNow
                    else deadNow && DeletionVectors.liveRowFilter(prior, loc, conf))
                  .drop(DeltaScan.MetaPath, DeltaScan.MetaRow), v, "delete")
            }
          }
        }
        // removes scan through the file's PRE-commit vector. In a
        // merge-on-read DELETE entry a remove means the file's every
        // remaining row just died — those surviving rows ARE row-level
        // deletes, so they land in the `delete` channel (q78's contract),
        // not `remove_file`.
        val morEntry = entry.commitInfos.exists(
          _.operationMetrics.get("mode").exists(_.asText == "merge-on-read"))
        // a remove whose path is RE-ADDED in the same entry is a
        // reconciliation tombstone (the spec-DV remove+add pairing, or a
        // foreign writer's DV delete), not a data removal: the paired
        // add's DV delta above already reports the commit's exact
        // newly-dead rows, so emitting the remove too would double-report
        val rePaths = adds.map(_.path).toSet
        val removed = removes.filter(r => r.dataChange && !rePaths.contains(r.path))
          .map { r =>
            val synth = AddFile(path = r.path, partitionValues = r.partitionValues, size = r.size)
            liveRefs.get(r.path).flatten match {
              case Some(ref) => DeletionVectors.withRef(synth, ref)
              case None      => synth
            }
          }
        if (removed.nonEmpty)
          frames += tagged(scanAdds(spark, removed), v,
            if (morEntry) "delete" else "remove_file")
      }
      // replay order: removes BEFORE adds (matches DeltaLog.addActions —
      // a same-entry remove+add pair leaves the path LIVE under the add)
      removes.foreach(r => liveRefs = liveRefs.removed(r.path))
      adds.foreach(a => liveRefs = liveRefs.updated(a.path, DeletionVectors.refOf(a)))
    }
    val out =
      if (frames.isEmpty)
        DeltaScan.emptyDF(spark, dlog.schema)
          .withColumn("_commit_version", lit(0L))
          .withColumn("_change_type", lit(""))
          .limit(0)
      else frames.reduce(_.unionByName(_))
    // canonical column order AND nullability: frames mix literal-tagged
    // (non-null, CDF cols last) and cdc-file-read (nullable, _change_type
    // mid-schema) provenance. A streaming CDF sink appends batches of
    // BOTH kinds into one table, so a per-batch flip in either would trip
    // the append-schema equivalence check. `when(c.isNotNull, c)` is the
    // identity but analyzed NULLABLE (no else branch) — Spark 4 folds a
    // literal-true `when` away during analysis, so the condition must
    // stay non-foldable.
    def relaxed(c: org.apache.spark.sql.Column) = when(c.isNotNull, c)
    val cdfCols =
      Seq(relaxed(col("_commit_version")).as("_commit_version"),
        relaxed(col("_change_type")).as("_change_type")) ++
        (if (includeTimestamp)
          Seq(relaxed(col("_commit_timestamp")).as("_commit_timestamp"))
        else Seq.empty)
    out.select(dlog.schema.fieldNames.map(col).toSeq ++ cdfCols: _*)
  }

  // ------------------------------------------------------------------
  // RESTORE (reference xdlake/__init__.py:317-333): pure log diff.
  // ------------------------------------------------------------------

  def restore(restoreVersion: Long,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable = {
    assertPreWrite(removesData = true)
    val prev = dlog.loadAsVersion(restoreVersion)
    val prevAdds = prev.addActions
    val currAdds = dlog.addActions
    // a path live in BOTH versions but with a DIFFERENT action must be
    // re-added too: a deletion vector attached AFTER the restore point
    // (merge-on-read delete) changes the add without changing the path,
    // and keeping the newer add would leave those rows dead in the
    // "restored" table
    val restoreAdds = prevAdds.collect {
      case (p, a) if !currAdds.get(p).contains(a) => a
    }.toSeq
    val removeAdds = currAdds.collect {
      case (p, a) if !prevAdds.contains(p) => a
    }.toSeq
    // delta's restore safety check: the files being brought BACK to life
    // must still exist — vacuum legitimately deletes files dead longer
    // than retention, and committing adds for deleted files would produce
    // a table whose every scan fails later (or worse, a partial restore).
    // Driver-side exists probes over ONLY the re-added files (not the
    // whole snapshot) — O(restored files), the same check delta-spark
    // runs; fails loudly BEFORE the commit.
    val gone = restoreAdds.filterNot { a =>
      val f = Location.resolve(a.path, loc, conf)
      try f.exists catch { case _: Exception => false }
    }
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"cannot RESTORE to version $restoreVersion: ${gone.size} file(s) " +
          s"it references no longer exist (vacuumed?), e.g. ${gone.head.path}. " +
          "A restore would commit references to deleted data")
    // same check for the restored adds' DELETION-VECTOR artifacts: a
    // superseded sidecar/bin ages out under vacuum, and re-adding a ref
    // to a deleted vector would make every later scan of that file fail
    val goneDv = restoreAdds.flatMap { a =>
      DeletionVectors.refOf(a).flatMap {
        case DeletionVectors.SidecarRef(sc, _) =>
          val f = Location.resolve(sc, loc, conf)
          if (try f.exists catch { case _: Exception => false }) None
          else Some(sc)
        case DeletionVectors.DeltaRef(st @ ("u" | "p"), poi, _, _, _, _) =>
          val p = DeletionVectors.deltaDvPath(st, poi, loc, conf)
          val ok = try p.getFileSystem(conf).exists(p)
            catch { case _: Exception => false }
          if (ok) None else Some(p.toString)
        case _ => None // inline vectors live in the log itself
      }
    }
    if (goneDv.nonEmpty)
      throw new IllegalStateException(
        s"cannot RESTORE to version $restoreVersion: ${goneDv.size} deletion " +
          s"vector(s) it references no longer exist (vacuumed?), e.g. " +
          s"${goneDv.head}. A restore would commit references to deleted state")
    // pair each changed-action re-add with a remove naming the CURRENT
    // add's descriptor — same tuple-reconciliation argument as the MoR
    // mutations (specDvRemoves): without it, a foreign tuple-keyed
    // reader keeps the post-restore-point (path, newDV) add live
    // ALONGSIDE the restored (path, oldDV) one. Paired only when the
    // descriptor actually differs: a commit must never carry an add AND
    // a remove of the identical (path, dvId) tuple (same-tuple re-adds
    // replace in place under delta reconciliation).
    def dvKey(a: AddFile): String = Checkpoint.descriptorId(a.extra)
    val restorePairs = restoreAdds.flatMap(a =>
      currAdds.get(a.path).filter(cur => dvKey(cur) != dvKey(a))
        .map(cur => Action.removeFor(cur)))
    val entry = DeltaLogEntry.restoreTable(dlog.version, restoreVersion,
      prev.schema, prev.partitionColumns, removeAdds, restoreAdds,
      prev.latestMetadata.map(_.configuration).getOrElse(Map.empty),
      restorePairs)
      .withExtraCommitInfo(customMetadata)
    commit(entry)
  }

  /** RESTORE to the state as of a wall-clock timestamp (delta's
    * `RESTORE ... TO TIMESTAMP AS OF`): resolves through [[versionAt]]
    * — latest version committed at/before — with its loud
    * before-first-commit / below-horizon errors.
    */
  def restoreToTimestamp(timestampMillis: Long,
      customMetadata: Map[String, JsonNode] = Map.empty): DeltaTable =
    restore(versionAt(timestampMillis), customMetadata)

  // ------------------------------------------------------------------
  // CLONE (reference xdlake/__init__.py:231-257): copy every log entry,
  // rewriting relative file paths to absolute source paths. Zero data copy;
  // full history preserved; the clone is independently writable.
  // ------------------------------------------------------------------

  def cloneTo(dstPath: String, dstLogPath: Option[String] = None): DeltaTable = {
    val dstLoc = Location(dstPath, conf)
    val dstLogLoc = dstLogPath.map(Location(_, conf)).getOrElse(dstLoc.child("_delta_log"))
    dstLogLoc.mkdirs()
    withFullHistory.entries.foreach { case (v, entry) =>
      val rewritten = entry.actions.map {
        case a: AddFile =>
          // DV sidecar refs are table-root-relative: re-point at the source
          DeletionVectors.rewriteRefAbsolute(
            a.copy(path = Location.resolve(a.path, loc, conf).uri), loc, conf)
        case r: RemoveFile => r.copy(path = Location.resolve(r.path, loc, conf).uri)
        case other         => other
      }
      dstLogLoc.child(DeltaLog.filenameForVersion(v))
        .writeString(DeltaLogEntry(rewritten).toNdjson)
    }
    DeltaTable.forPath(dstPath, logPath = dstLogPath, conf = conf)
  }

  /** DEEP clone (delta's `CLONE` without SHALLOW): copy the current
    * snapshot's live data files — and any referenced DV sidecars — into
    * `dstPath`, committed as a fresh version-0 table carrying this
    * table's schema, partitioning, properties, and protocol. Unlike
    * [[cloneTo]] the clone owns its bytes: the source can be vacuumed,
    * purged, or deleted without breaking it, and history starts at 0
    * (delta's CLONE contract — a deep clone is a new table, not a view
    * of the source's log).
    *
    * The byte copy is DISTRIBUTED: an RDD over the file list, executors
    * streaming each file filesystem-to-filesystem — genuine
    * per-partition imperative IO, the one place an RDD is the right
    * primitive. At 100 TB a driver-side copy loop is the bottleneck;
    * 1000 executors copying ~100 GB each are not. The driver ships only
    * the O(files) path list.
    *
    * File layout: in-table relative paths are preserved (so the
    * root-relative `.bin`s and legacy sidecars of the adds' vectors
    * resolve unchanged under the clone's root); zero-copy imported
    * absolute refs are materialized under `imported-clone-<i>/` keeping
    * their basename — partition values stay log-authoritative, so the
    * physical layout is irrelevant to pruning.
    */
  def deepCloneTo(spark: SparkSession, dstPath: String): DeltaTable = {
    val dstLoc = Location(dstPath, conf)
    val dstLog = dstLoc.child("_delta_log")
    if (dstLog.exists && dstLog.listSorted().nonEmpty)
      throw new java.nio.file.FileAlreadyExistsException(
        s"table already exists at $dstPath")
    val adds = dlog.addActions.values.toSeq

    def isRelative(p: String) = !p.contains("://") && !p.startsWith("/")
    val mapped: Seq[(String, AddFile)] = adds.zipWithIndex.map { case (a, i) =>
      val srcUri = Location.resolve(a.path, loc, conf).uri
      val rel =
        if (isRelative(a.path)) a.path
        else s"imported-clone-$i/${pathName(a.path)}"
      (srcUri, a.copy(path = rel))
    }
    // referenced DV sidecar dirs/files keep their table-root-relative
    // layout, so the adds' refs survive verbatim (delta "u" uuid naming
    // is root-relative too; "p" absolute refs stay shared, inline DVs
    // have no file)
    val sidecarFiles: Seq[(String, String)] =
      adds.flatMap(DeletionVectors.refOf(_)).flatMap {
        case DeletionVectors.SidecarRef(rel, _) =>
          val dir = Location.resolve(rel, loc, conf)
          dir.listDataFilesRecursive().map { st =>
            (st.getPath.toString, s"$rel/${relativize(st.getPath, dir.path)}")
          }
        case DeletionVectors.DeltaRef("u", poi, _, _, _, _) =>
          val p = DeletionVectors.deltaDvPath("u", poi, loc, conf)
          Seq((p.toString, relativize(p, loc.path)))
        case _ => Seq.empty
      }.distinct
    val copies = mapped.map { case (src, a) => (src, a.path) } ++ sidecarFiles

    if (copies.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val confKvs = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
      val dstRoot = dstLoc.uri
      spark.sparkContext
        .parallelize(copies, math.max(1, math.min(copies.size, 64)))
        .foreach { case (srcUri, dstRel) =>
          val c = new Configuration()
          confKvs.foreach { case (k, v) => c.set(k, v) }
          val src = new org.apache.hadoop.fs.Path(srcUri)
          val dst = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(dstRoot), dstRel)
          val sfs = src.getFileSystem(c)
          val dfs = dst.getFileSystem(c)
          dfs.mkdirs(dst.getParent)
          org.apache.hadoop.fs.FileUtil.copy(sfs, src, dfs, dst, false, true, c)
        }
    }

    dstLog.mkdirs()
    val meta = dlog.latestMetadata
      .getOrElse(throw new IllegalStateException("cannot deep-clone an empty table"))
      .copy(id = java.util.UUID.randomUUID().toString,
        createdTime = System.currentTimeMillis())
    val protocol = dlog.currentProtocol
    val commit = CommitInfo.deepClone(loc.uri, dlog.version)
    val entry = DeltaLogEntry(
      Vector(protocol, meta) ++ mapped.map(_._2) :+ commit)
    dstLog.child(DeltaLog.filenameForVersion(0L)).writeString(entry.toNdjson)
    DeltaTable.forPath(dstPath, conf = conf)
  }

  // ------------------------------------------------------------------
  // IMPORT (reference xdlake/__init__.py:192-229, 398-423): register
  // foreign parquet files by absolute URI without copying bytes.
  // ------------------------------------------------------------------

  /** COPY INTO (the idempotent-ingestion contract of delta's loader):
    * register every parquet file under `srcDir` that has NOT already been
    * loaded into this table; already-seen files are skipped, so re-running
    * after a partial failure, or on a schedule over a landing directory,
    * never duplicates rows. The "already loaded" state is the LOG itself —
    * every file URI this table has ever referenced (live or since
    * removed: once loaded, a file stays consumed even if its rows were
    * later deleted) — an O(loaded log) driver set, no side bookkeeping
    * store to drift out of sync. Ingestion is zero-copy ([[importRefs]]):
    * the new files are referenced by absolute URI, stats lifted from
    * footers, one atomic commit for the whole batch.
    */
  def copyInto(spark: SparkSession, srcDir: String,
      partitionBy: Option[Seq[String]] = None): DeltaTable = {
    val srcLoc = Location(srcDir, conf)
    val files = srcLoc.listDataFilesRecursive()
      .filter(_.getPath.getName.endsWith(".parquet"))
    val seen: Set[String] = dlog.entries.valuesIterator
      .flatMap(_.actions.iterator).collect {
        case a: AddFile =>
          Location.canonical(Location.resolve(a.path, loc, conf).uri)
      }.toSet
    val fresh = files
      .map(st => srcLoc.fs.makeQualified(st.getPath).toString)
      .filterNot(uri => seen.contains(Location.canonical(uri)))
      .sorted
    if (fresh.isEmpty) this
    else importRefs(spark, fresh, partitionBy = partitionBy)
  }

  /** @param partitionValuesFor non-hive partitioning flavors (reference
    *        imports hive/filename/directory layouts,
    *        tests/test_xdlake.py:171-212): maps a file's ref-relative path
    *        to its partition values, replacing `key=value` dir parsing.
    * @param partitionSchema required with `partitionValuesFor`: the typed
    *        partition columns (not recoverable from non-hive layouts).
    */
  def importRefs(
      spark: SparkSession,
      refs: Seq[String],
      mode: WriteMode = WriteMode.Append,
      schemaMode: String = "overwrite",
      partitionBy: Option[Seq[String]] = None,
      customMetadata: Map[String, JsonNode] = Map.empty,
      partitionValuesFor: Option[String => Map[String, Option[String]]] = None,
      partitionSchema: Option[StructType] = None): DeltaTable = {

    val resolvedPartitionBy: Seq[String] =
      if (!dlog.isEmpty) {
        mode match {
          case WriteMode.ErrorIfExists =>
            throw new java.nio.file.FileAlreadyExistsException(
              s"Table already exists at version ${dlog.version}")
          case WriteMode.Ignore => return this
          case _ => dlog.validatePartitionBy(partitionBy)
        }
      } else partitionBy.getOrElse(Seq.empty)

    val adds = refs.flatMap { ref =>
      val refLoc = Location(ref, conf)
      val files =
        if (refLoc.status.isDirectory)
          refLoc.listDataFilesRecursive().filter(_.getPath.getName.endsWith(".parquet"))
        else Seq(refLoc.status)
      files.map { st =>
        val rel = relativize(st.getPath, refLoc.path)
        val partValues = partitionValuesFor.map(_.apply(rel))
          .getOrElse(DeltaScan.partitionValuesFromPath(rel))
        AddFile(
          path = refLoc.fs.makeQualified(st.getPath).toString,
          partitionValues = resolvedPartitionBy.map(c => c -> partValues.getOrElse(c, None)).toMap,
          size = st.getLen,
          modificationTime = st.getModificationTime,
          stats = Some(Statistics.fromFooter(st.getPath, conf).json),
          dataChange = true)
      }
    }

    // Schema: infer over the refs, letting Spark resolve hive partition
    // columns when the ref roots are partitioned directories; non-hive
    // flavors append the caller-declared partition schema instead.
    val reader = spark.read.option("mergeSchema", "true")
    val inferred =
      if (partitionValuesFor.isDefined) {
        val ps = partitionSchema.getOrElse(throw new IllegalArgumentException(
          "partitionSchema is required with partitionValuesFor"))
        // recursive lookup: non-hive dir layouts defeat partition discovery
        val dataSchema = reader.option("recursiveFileLookup", "true")
          .parquet(refs: _*).schema
        StructType(dataSchema.fields ++ ps.fields)
      } else if (resolvedPartitionBy.nonEmpty)
        refs.map(r => reader.option("basePath", r).parquet(r).schema)
          .reduce(DeltaLog.mergeSchemas)
      else
        StructType(reader.parquet(refs: _*).schema)

    // pendingGenerated consumed like `write`: an imported table may declare
    // a generated partition column (the import's dir layout supplies the
    // values; later writes compute them, and scans derive partition
    // pruning from filters on the source column)
    val evaluated = dlog.evaluateSchema(annotateGenerated(inferred), mode, schemaMode)
    val entry = dlog.entryForWriteMode(mode, evaluated, adds, resolvedPartitionBy)
      .withExtraCommitInfo(customMetadata)
    commit(entry).copy(pendingGenerated = Map.empty)
  }

  // ------------------------------------------------------------------

  private def commit(entry: DeltaLogEntry): DeltaTable =
    copy(dlog = maybeCheckpoint(dlog.commit(gated(entry), commitContext)))

  /** Metadata/protocol-only commit with OCC rebase (r13 torture finding:
    * these surfaced the raw version-file race as
    * FileAlreadyExistsException instead of rebasing). The entry carries
    * no file actions, so [[commitOrRebase]]'s file-overlap checks pass
    * trivially; blind data commits rebase past, while a concurrent
    * metadata/protocol change still aborts — delta's
    * MetadataChangedException shape.
    */
  private def commitMeta(entry: DeltaLogEntry): DeltaTable =
    commitOrRebase(entry, Set.empty)

  /** Commit-time guards, applied at both commit choke points: the
    * writer-side protocol gate, `delta.appendOnly` enforcement, and the
    * deletion-vector feature bump. The bump is protocol honesty (delta's
    * `deletionVectors` feature gate): a DV'd add committed under protocol
    * (1,2) lets a feature-unaware foreign reader skip the unknown
    * `deletionVector` field and silently RESURRECT deleted rows, so the
    * first commit that carries one upgrades to (3,7) with the feature
    * declared — foreign engines then fail loudly instead. Entries that
    * already carry a protocol action (clone, create) get that action
    * upgraded in place rather than a second one appended.
    */
  /** Fail-fast writer gate at operation START (before any data is
    * staged): protocol writability always; the appendOnly removal gate
    * for operations that by construction delete or rewrite data
    * (delta-spark's `assertRemovable`). [[gated]] at commit time is the
    * airtight backstop.
    */
  private def assertPreWrite(removesData: Boolean = false): Unit = {
    ProtocolGate.assertWritable(dlog.currentProtocol, dlog.latestMetadata)
    if (removesData && !dlog.isEmpty)
      ProtocolGate.assertRemovable(dlog.latestMetadata)
  }

  private def gated(entry: DeltaLogEntry,
      log: DeltaLog = dlog): DeltaLogEntry = {
    ProtocolGate.assertWritable(log.currentProtocol, log.latestMetadata)
    ProtocolGate.assertMutationAllowed(log.latestMetadata, entry)
    // columnMapping.mode=id: every schema field AT EVERY NESTING LEVEL
    // must CARRY an id — a schema-evolving commit would mint id-less
    // columns this engine has no allocation story for (maxColumnId
    // bookkeeping); refuse loudly instead of writing a table
    // id-addressed readers cannot bind. Nested physical RENAMES are
    // refused too: attachFieldIds matches nested fields by name, so a
    // nested physicalName differing from the field name would make us
    // write parquet columns under names a name-addressed reader of this
    // table cannot find.
    entry.metadataAction.foreach { m =>
      if (ColumnMapping.modeOf(m.configuration) == "id") {
        def walk(prefix: Seq[String], st: org.apache.spark.sql.types.StructType,
            top: Boolean): (Seq[String], Seq[String]) = {
          def walkDt(path: Seq[String],
              dt: org.apache.spark.sql.types.DataType): (Seq[String], Seq[String]) =
            dt match {
              case s: org.apache.spark.sql.types.StructType => walk(path, s, top = false)
              case org.apache.spark.sql.types.ArrayType(e, _) =>
                walkDt(path :+ "element", e)
              case org.apache.spark.sql.types.MapType(k, v, _) =>
                val (ik, rk) = walkDt(path :+ "key", k)
                val (iv, rv) = walkDt(path :+ "value", v)
                (ik ++ iv, rk ++ rv)
              case _ => (Seq.empty, Seq.empty)
            }
          st.fields.toSeq.map { f =>
            val path = prefix :+ f.name
            val idless =
              if (f.metadata.contains(ColumnMapping.IdKey)) Seq.empty
              else Seq(path.mkString("."))
            val renamed =
              if (!top && ColumnMapping.physicalName(f) != f.name)
                Seq(path.mkString("."))
              else Seq.empty
            val (ni, nr) = walkDt(path, f.dataType)
            (idless ++ ni, renamed ++ nr)
          }.foldLeft((Seq.empty[String], Seq.empty[String])) {
            case ((ai, ar), (i, r)) => (ai ++ i, ar ++ r)
          }
        }
        val (idless, nestedRenames) = walk(Seq.empty, m.schema, top = true)
        if (idless.nonEmpty) throw new IllegalStateException(
          s"columnMapping.mode=id: column(s) ${idless.mkString(", ")} carry " +
            "no delta.columnMapping.id — id allocation for new columns is " +
            "not supported; evolve id tables with an id-mode writer")
        if (nestedRenames.nonEmpty) throw new IllegalStateException(
          s"columnMapping.mode=id: nested column(s) " +
            s"${nestedRenames.mkString(", ")} carry a physicalName that " +
            "differs from the field name — nested physical renames are " +
            "not supported by this writer")
      }
    }
    // row-id allocation first: it may append the high-water-mark
    // domainMetadata action, whose feature must then be declared below
    val tracked = RowTracking.assign(entry, log)
    val ictOn = tracked.metadataAction.orElse(log.latestMetadata)
      .exists(_.configuration.get("delta.enableInCommitTimestamps").contains("true"))
    val identityOn = tracked.metadataAction
      .exists(_.schemaString.contains("\"delta.identity."))
    val v2CkptOn = tracked.metadataAction.orElse(log.latestMetadata)
      .exists(_.configuration.get("delta.checkpointPolicy")
        .exists(_.trim.equalsIgnoreCase("v2")))
    // delta's variantType readerWriter feature: a schema carrying a
    // VARIANT column must announce it — a feature-unaware reader would
    // misread the binary metadata/value encoding
    val variantOn = tracked.metadataAction
      .exists(_.schemaString.contains("\"variant\""))
    // same rule for timestampNtz (delta spec: required whenever a column
    // is TIMESTAMP_NTZ — a feature-unaware reader would misinterpret the
    // zone-less encoding as an instant)
    val ntzOn = tracked.metadataAction
      .exists(_.schemaString.contains("\"timestamp_ntz\""))
    // delta 4.0's checkpointProtection: setting the protected-boundary
    // property must announce the feature, or a feature-unaware writer's
    // log cleanup could delete the protected history
    val ckptProtOn = tracked.metadataAction.orElse(log.latestMetadata)
      .exists(_.configuration.contains(
        "delta.requireCheckpointProtectionBeforeVersion"))
    val needed =
      (if (tracked.adds.exists(a => DeletionVectors.refOf(a).isDefined))
         Seq("deletionVectors") else Seq.empty) ++
      (if (tracked ne entry) Seq("domainMetadata", RowTracking.Feature)
       else Seq.empty) ++
      (if (ictOn) Seq("inCommitTimestamp") else Seq.empty) ++
      (if (identityOn) Seq("identityColumns") else Seq.empty) ++
      (if (v2CkptOn) Seq("v2Checkpoint") else Seq.empty) ++
      (if (variantOn) Seq("variantType") else Seq.empty) ++
      (if (ntzOn) Seq("timestampNtz") else Seq.empty) ++
      (if (ckptProtOn) Seq("checkpointProtection") else Seq.empty)
    if (needed.isEmpty) return tracked
    val inEntry = tracked.actions.collectFirst { case p: Protocol => p }
    val base = inEntry.getOrElse(log.currentProtocol)
    val upgraded = needed.foldLeft(base)((p, f) =>
      ProtocolGate.withFeature(p, f).getOrElse(p))
    if (upgraded == base) tracked
    else inEntry match {
      case Some(p) =>
        DeltaLogEntry(tracked.actions.map { case `p` => upgraded; case a => a })
      case None => DeltaLogEntry(upgraded +: tracked.actions)
    }
  }

  /** Conservative may-match for a predicate against a set of adds, via
    * the same physical-schema stats pruner scans use. None = the
    * operation read every row (full-table predicate) — everything
    * matches.
    */
  private def addsMayMatch(adds: Seq[AddFile], pred: Option[Column]): Boolean =
    pred match {
      case None => adds.nonEmpty
      case Some(p) =>
        val sch = dlog.schema
        val m = ColumnMapping.logicalToPhysical(sch)
        DataSkipping.prune(adds, ColumnMapping.toPhysicalPredicate(p, m),
          ColumnMapping.physicalSchema(sch), dlog.partitionColumns).nonEmpty
    }

  /** Optimistic-concurrency commit for MUTATION entries (delete/update/
    * merge/compact/replaceWhere), with Delta-style logical conflict
    * detection instead of surfacing every version-file race to the
    * caller: on a lost commit only the WINNING entries are loaded
    * (incremental — never a full-log replay) and each is checked for a
    * LOGICAL conflict —
    *
    *  - a winner that touched (removed, DV'd, or re-added) any file we
    *    read or touched → `ConcurrentModificationException` (our rewrite
    *    would resurrect their deletes, or double-apply ours);
    *  - a winner that changed schema, partitioning, table configuration,
    *    or protocol → conflict (our rewritten files were laid out under
    *    the old metadata);
    *  - a winner that REWROTE files (its entry carries removes) is also
    *    checked for rows moved INTO our predicate: its new files' stats
    *    must provably miss the predicate, or it conflicts — delta's
    *    WriteSerializable exempts only BLIND appends;
    *  - a winner that only appended new files → no conflict under the
    *    default WriteSerializable: the entry is re-committed at the next
    *    version with the appended files left live (a predicate mutation
    *    does not observe rows appended after its snapshot — delta-spark's
    *    documented default). Under [[withSerializableIsolation]] blind
    *    appends are checked against the predicate too.
    *
    * At 1000-writer scale this is the difference between "every
    * maintenance job aborts whenever an ingest lands" and conflicts only
    * on true overlap.
    *
    * @param readPaths log-relative paths of every file the operation
    *        SCANNED (candidates), not just the ones it rewrites — a
    *        winner rewriting an un-touched candidate file changed rows
    *        our predicate evaluated.
    * @param readPredicate present for predicate mutations: the inner
    *        Option is the user predicate (None = full-table read).
    */
  private def commitOrRebase(entry: DeltaLogEntry, readPaths: Set[String],
      readPredicate: Option[Option[Column]] = None,
      maxRebase: Int = 5): DeltaTable = {
    val basePaths = dlog.addActions.keySet
    val ourTouched = entry.removes.map(_.path).toSet ++
      entry.adds.map(_.path).toSet.intersect(basePaths)
    val baseMeta = dlog.latestMetadata
    var state = dlog
    var attempts = 0
    while (true) {
      // gate against the CURRENT rebase state: if a concurrent winner
      // already declared the deletionVectors feature, our redundant bump
      // drops out here instead of committing a second protocol action
      val entryG = gated(entry, state)
      try return copy(dlog = maybeCheckpoint(state.commit(entryG, commitContext)))
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          if (attempts >= maxRebase) throw e
          attempts += 1
          // incremental: read ONLY the winner entries past our state —
          // a rebase on a 10⁴-commit table costs O(winners), not O(log)
          var newEntries = state.entries
          var v = state.versionToWrite
          var more = true
          while (more) {
            val f = logLoc.child(DeltaLog.filenameForVersion(v))
            if (f.exists) {
              newEntries = newEntries.updated(v, DeltaLogEntry.fromNdjson(f.readString()))
              v += 1
            } else more = false
          }
          newEntries.rangeFrom(state.versionToWrite).values.foreach { w =>
            // a winner's protocol change is benign IFF its result stays
            // fully writable by this engine (the concurrent first-DV
            // commit's feature bump is the canonical case — both sides
            // upgrade to the same (3,7)+deletionVectors, and the re-gate
            // above dedupes our copy). Anything beyond that conflicts,
            // delta's ProtocolChangedException.
            w.actions.collect { case p: Protocol => p }.lastOption.foreach { wp =>
              try ProtocolGate.assertWritable(wp, baseMeta)
              catch {
                case _: IllegalStateException => throw conflict(
                  "protocol changed concurrently to one this engine cannot write", e)
              }
            }
            w.metadataAction.foreach { m =>
              val same = baseMeta.exists(bm => bm.schemaString == m.schemaString &&
                bm.partitionColumns == m.partitionColumns &&
                bm.configuration == m.configuration)
              if (!same) throw conflict("table metadata changed concurrently", e)
            }
            val wTouched = w.removes.map(_.path).toSet ++
              w.adds.map(_.path).toSet.intersect(basePaths)
            val overlap = wTouched.intersect(ourTouched ++ readPaths)
            if (overlap.nonEmpty)
              throw conflict(s"concurrent commit touched ${overlap.size} file(s) " +
                s"this operation read or rewrote (e.g. ${overlap.head})", e)
            // a winner's NEW data files must provably miss our predicate
            // when (a) the winner is a REWRITE (it may have moved rows
            // INTO the predicate — checked even under WriteSerializable;
            // delta exempts only blind appends), or (b) strict
            // SERIALIZABLE was requested (blind appends checked too)
            val rewrite = w.removes.nonEmpty
            if (readPredicate.isDefined && (rewrite || serializableIsolation)) {
              val newFiles = w.adds.filter(a => !basePaths(a.path) && a.dataChange)
              if (addsMayMatch(newFiles, readPredicate.get))
                throw conflict(
                  if (rewrite)
                    "concurrent rewrite may have moved rows into this operation's predicate"
                  else
                    "concurrent append may contain rows matching this " +
                      "operation's predicate (SERIALIZABLE isolation)", e)
            }
          }
          state = DeltaLog(state.loc, newEntries)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def conflict(msg: String, cause: Throwable) = {
    val ex = new java.util.ConcurrentModificationException(msg)
    ex.initCause(cause)
    ex
  }

  /** Auto-checkpoint every `checkpointInterval` commits (delta's default
    * cadence); the table property `delta.checkpointInterval` overrides
    * the handle's setting (delta parity — the producer of a hot table
    * tunes cadence once, every writer honors it); failures never fail
    * the commit — a checkpoint is purely a replay accelerator — but each
    * one is logged as a WARN line naming the table and the exception, so
    * a table left without checkpoints does not go unnoticed.
    */
  private def maybeCheckpoint(newLog: DeltaLog): DeltaLog = {
    val interval = newLog.latestMetadata
      .flatMap(_.configuration.get("delta.checkpointInterval"))
      .flatMap(_.toIntOption).getOrElse(checkpointInterval)
    if (interval > 0 && newLog.version > 0 &&
        newLog.version % interval == 0) {
      try {
        Checkpoint.write(newLog, conf)
        autoCleanupExpired(newLog)
      } catch {
        case e: Exception =>
          DeltaTable.log.warn(s"auto-checkpoint of ${loc.uri} at version " +
            s"${newLog.version} failed; the commit stands: $e")
      }
    }
    newLog
  }

  /** delta's background metadata cleanup (`delta.enableExpiredLogCleanup`
    * — delta runs it at every checkpoint): after an auto-checkpoint,
    * sweep JSON commits at/below it that are OLDER than
    * `delta.logRetentionDuration`. Both properties must be set — an
    * unset retention means "keep everything" here (the EXPLICIT
    * [[cleanupLog]] treats unset as sweep-all, because there the caller
    * asked). checkpointProtection boundaries are honored by skipping the
    * sweep (a background job must not fail the commit that triggered it).
    */
  private def autoCleanupExpired(newLog: DeltaLog): Unit = {
    val cfg = newLog.latestMetadata.map(_.configuration).getOrElse(Map.empty)
    if (!cfg.get("delta.enableExpiredLogCleanup")
        .exists(_.trim.equalsIgnoreCase("true"))) return
    val retention = cfg.get("delta.logRetentionDuration")
      .map(DeltaTable.parseRetentionInterval(_, "delta.logRetentionDuration"))
      .getOrElse(return)
    val ck = newLog.version
    val protectV = cfg.get("delta.requireCheckpointProtectionBeforeVersion")
      .flatMap(_.toLongOption).getOrElse(0L)
    if (protectV > 0L && ck < protectV - 1) return // protected: skip quietly
    // the checkpoint version's own commit stays: it carries the commit
    // clock a fast-path load anchors on (see cleanupLog)
    sweepLog(Some(System.currentTimeMillis() - retention))(name =>
      DeltaLog.EntryFilenameRe.matches(name) && DeltaLog.versionOf(name) < ck)
    Checksum.cleanup(logLoc, ck - 1)
  }

  /** Delete the log files `selected` by name and older than `cutoff`
    * (None: no window); only selected names are statted, and only for one. */
  private def sweepLog(cutoff: Option[Long])(selected: String => Boolean): Unit =
    logLoc.listNames().filter(selected).foreach { name =>
      val f = logLoc.child(name)
      try if (cutoff.forall(f.status.getModificationTime < _)) logLoc.fs.delete(f.path, false)
      catch { case _: java.io.FileNotFoundException => () } // swept by another cleaner
    }

  /** Write a checkpoint for the current version explicitly. */
  def checkpoint(): DeltaTable = {
    Checkpoint.write(dlog, conf)
    this
  }

  /** Write a LOG COMPACTION file for commits [start, end] (delta's
    * `<start>.<end>.compacted.json` minor compaction): snapshot opens
    * replaying that range read ONE reconciled object instead of
    * end-start+1 commits — the between-checkpoints listing/read cost
    * that dominates opening a high-commit-rate table on an object
    * store. Raw commits stay in place (history, CDF and mid-range time
    * travel read them); [[cleanupLog]] removes compactions that fall
    * below the checkpoint horizon. Pure function of the covered
    * commits, so concurrent compactors are idempotent.
    */
  def compactLog(start: Long, end: Long): DeltaTable = {
    require(end <= dlog.version,
      s"cannot compact [$start, $end]: table is at version ${dlog.version}")
    LogCompaction.write(logLoc, start, end)
    this
  }

  /** Metadata cleanup (delta's log-retention analogue, checkpoint-gated
    * instead of time-gated): delete every JSON commit BELOW the newest
    * checkpoint, so opening a long-lived table lists a BOUNDED log — at
    * 10⁵–10⁶ lifetime commits the listing itself, not the replay, is what
    * dominates a table open against an object store. The checkpoint
    * version's own commit stays (its commitInfo is the fast path's commit
    * clock). The checkpoint carries the full state, so reads, writes, CDF,
    * and time travel from the checkpoint version on are unaffected;
    * history below it becomes unavailable and every such ask fails loudly
    * (never a silently-empty snapshot). The reference never deletes
    * commits — this is the piece that makes its "log grows forever" model
    * survive production scale.
    */
  def cleanupLog(): DeltaTable = {
    val ck = Checkpoint.lastCheckpointVersion(logLoc)
      .getOrElse(throw new IllegalStateException(
        "cleanupLog requires a checkpoint; call checkpoint() first"))
    // the checkpoint must actually REPLAY through this engine — and cover
    // the pointer's version — BEFORE any JSON is deleted: a parseable
    // pointer over an unreadable payload (a foreign checkpoint layout
    // this engine doesn't read, a corrupt parquet) would otherwise turn
    // cleanup into permanent data loss, with every later open silently
    // or loudly missing the base state
    val base = Checkpoint.loadFrom(logLoc, conf).getOrElse(
      throw new IllegalStateException(
        s"checkpoint at version $ck is not replayable by this engine; " +
          "refusing to delete commits"))
    require(base.version >= ck,
      s"replayable checkpoint covers version ${base.version} < pointer $ck; " +
        "refusing to delete commits")
    // delta 4.0's checkpointProtection: commits below the protected
    // boundary may only be cleaned ALL AT ONCE — a partial sweep below
    // `delta.requireCheckpointProtectionBeforeVersion` would leave later
    // readers a history fragment the protecting writer (e.g. a
    // history-sharing clone) still depends on. Our cleanup deletes
    // everything <= the checkpoint version, so "all at once" means the
    // checkpoint horizon must reach at least V-1.
    val protectV = tableProperties
      .get("delta.requireCheckpointProtectionBeforeVersion")
      .flatMap(_.toLongOption).getOrElse(0L)
    require(protectV <= 0L || ck >= protectV - 1,
      s"checkpointProtection: commits below version $protectV are " +
        s"protected and must be cleaned in one sweep; checkpoint at " +
        s"version >= ${protectV - 1} first (current checkpoint: $ck)")
    // `delta.logRetentionDuration` (delta's knob, same interval syntax):
    // commits younger than the window survive even below the checkpoint,
    // keeping time travel / CDF over the retention window alive. Unset
    // means 0 — cleanupLog is an EXPLICIT call here, not delta's
    // background sweep, so "delete what the checkpoint covers" is the
    // caller's stated intent; delta's 30-day default exists because its
    // cleanup runs unasked at every checkpoint.
    val retention = tableProperties.get("delta.logRetentionDuration")
      .map(DeltaTable.parseRetentionInterval(_, "delta.logRetentionDuration"))
      .getOrElse(0L)
    sweepLog(Option.when(retention > 0L)(System.currentTimeMillis() - retention)) {
      // every commit BELOW the checkpoint goes; the checkpoint version's
      // own commit stays, because a delta checkpoint holds no commitInfo
      // and a fast-path load reads the commit clock (the monotonic clamp's
      // and timestampAsOf's anchor) from that file
      case name if DeltaLog.EntryFilenameRe.matches(name) => DeltaLog.versionOf(name) < ck
      // log-compaction files wholly below the checkpoint horizon expire
      // with the commits they cover
      case LogCompaction.NameRe(_, e) => e.toLong <= ck
      case _ => false
    }
    // crc sidecars below the checkpoint go with their commits — except
    // the checkpoint version's own, which still validates fast-path opens
    Checksum.cleanup(logLoc, ck - 1)
    // reload through the checkpoint fast path; handle settings carry
    // over. A plain-JSON fallback would now be a PARTIAL log, so a
    // failure here (post-verification, e.g. transient IO) is loud.
    copy(dlog = Checkpoint.loadFrom(logLoc, conf).getOrElse(
      throw new IllegalStateException(
        "checkpoint became unreadable after log cleanup; the surviving " +
          "JSON tail alone is not a complete snapshot")))
  }
}

object DeltaTable {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[DeltaTable])

  /** Configuration keys retired alongside a dropped feature (the drop
    * gates require the enabling flags to already be false/unset; stripping
    * removes the residue so DESCRIBE output matches the new protocol).
    */
  private[graft] def featureConfigKeys(feature: String): Seq[String] =
    feature match {
      case "deletionVectors" => Seq("delta.enableDeletionVectors")
      case "rowTracking" =>
        Seq(graft.log.RowTracking.EnableKey,
          graft.log.RowTracking.MaterializedColKey)
      case "changeDataFeed" => Seq("delta.enableChangeDataFeed")
      case "inCommitTimestamp" => Seq("delta.enableInCommitTimestamps",
        "delta.inCommitTimestampEnablementVersion",
        "delta.inCommitTimestampEnablementTimestamp")
      case "typeWidening" => Seq("delta.enableTypeWidening")
      case "appendOnly" => Seq("delta.appendOnly")
      case "v2Checkpoint" => Seq("delta.checkpointPolicy")
      case "checkpointProtection" =>
        Seq("delta.requireCheckpointProtectionBeforeVersion")
      case _ => Seq.empty
    }

  /** Spec-DV vectors at or below this serialized size inline into the
    * descriptor (storageType "i") instead of writing a one-file-per-DV
    * `.bin`. Covers single-digit-row erasures (a 3-row vector is ~40
    * bytes) while keeping log lines small.
    */
  val InlineDvMaxBytes: Int = 64

  /** One MERGE statement's clauses, run by `DeltaTable.mergeClauses`. A
    * matched row is deleted when `matchedDelete` holds, else updated when
    * `updateCondition` holds (or is absent), else copied.
    *
    * @param wholeRow `UPDATE SET *` with `INSERT *`: each source row,
    *        aligned to the table schema by name, replaces its match or is
    *        inserted; excludes the column-wise clauses
    * @param set column-wise SET: source columns as `s.<name>`, target
    *        columns bare or as `t.<name>`; `insert` likewise, with unnamed
    *        columns null-filled and the keys taken from the source
    * @param notMatchedBySourceDelete its condition over target columns
    *        (`lit(true)` when it has none)
    */
  private[graft] final case class MergeClauses(
      keys: Seq[String],
      wholeRow: Boolean = false,
      set: Map[String, Column] = Map.empty,
      updateCondition: Option[Column] = None,
      matchedDelete: Option[Column] = None,
      insert: Option[Map[String, Column]] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      schemaEvolution: Boolean = false,
      mergeOnRead: Boolean = false)

  /** The task-side half of `writeChecked`: true for a row whose first
    * violated check is null, else throws the violation.
    */
  private val passes = org.apache.spark.sql.functions.udf { (violation: String) =>
    if (violation != null) throw new IllegalArgumentException(violation)
    true
  }.asNondeterministic()

  /** The clustering-spec tag a prior clustered OPTIMIZE stamped on this
    * add (rides in delta's `tags` field; absent on plain writes).
    */
  private[graft] def clusterSpecOf(a: AddFile): Option[String] =
    a.extra.get("tags").flatMap(t => Option(t.get("graft.clusterSpec")))
      .filter(_.isTextual).map(_.asText)

  /** Open (or point at a future) table; `version` time-travels (reference
    * xdlake/__init__.py:32-59).
    */
  def forPath(
      path: String,
      version: Option[Long] = None,
      logPath: Option[String] = None,
      conf: Configuration = Location.defaultConf(),
      commitContext: CommitContext = CreateIfAbsentCommit): DeltaTable = {
    val loc = Location(path, conf)
    val logLoc = logPath.map(Location(_, conf)).getOrElse(loc.child("_delta_log"))
    // checkpoint fast path for head loads; time travel replays JSON,
    // falling back to the checkpoint base when the JSON no longer
    // reaches version 0 (log cleanup) — a target below the base errors
    // loudly in loadAsVersion instead of reading an empty snapshot
    val dlog = version match {
      case Some(v) =>
        val json = DeltaLog.load(logLoc, version)
        if (json.entries.nonEmpty && json.entries.firstKey == 0L)
          json.loadAsVersion(v)
        else Checkpoint.loadFrom(logLoc, conf) match {
          case Some(ck) =>
            // below the newest checkpoint: recover via the newest
            // RETAINED checkpoint at/below v before giving up (keep-2)
            try ck.loadAsVersion(v)
            catch {
              case e: IllegalArgumentException =>
                Checkpoint.loadFromAtOrBefore(logLoc, v, conf)
                  .map(_.loadAsVersion(v)).getOrElse(throw e)
            }
          case None =>
            // surviving JSON starts above 0 (log cleanup) and no
            // checkpoint replays: ANY version ask would be served from a
            // partial tail — refuse instead of quietly dropping the base
            if (json.entries.nonEmpty && json.entries.firstKey > 0L)
              throw new IllegalStateException(
                s"table log starts at version ${json.entries.firstKey} " +
                  "(earlier commits were removed by log cleanup) and no " +
                  "checkpoint could be replayed; refusing to serve a " +
                  "partial snapshot")
            json.loadVersionOrAll(version)
        }
      case None => Checkpoint.loadFrom(logLoc, conf).getOrElse {
        val json = DeltaLog.load(logLoc, None)
        // same guard for head loads: a cleaned log whose checkpoint read
        // failed must not open as a silently partial table
        if (json.entries.nonEmpty && json.entries.firstKey > 0L)
          throw new IllegalStateException(
            s"table log starts at version ${json.entries.firstKey} " +
              "(earlier commits were removed by log cleanup) and no " +
              "checkpoint could be replayed; refusing to open a partial " +
              "snapshot")
        json
      }
    }
    // protocol gate: refuse tables whose protocol demands reader features
    // this engine lacks — reading anyway returns silently wrong rows
    ProtocolGate.assertReadable(dlog.currentProtocol)
    // state checksum: the replayed snapshot must match the committing
    // writer's recorded `<version>.crc` (when one survives) — a corrupt
    // or partially-listed log fails HERE, not as wrong scan rows
    Checksum.validate(dlog)
    DeltaTable(loc, logLoc, dlog, conf, commitContext)
  }

  /** CONVERT TO DELTA (delta-spark's in-place conversion): turn a plain
    * parquet directory — flat or hive-partitioned — into a graft table by
    * COMMITTING a log over the existing files. Zero data movement: the
    * version-0 commit references every data file by its existing
    * RELATIVE path (so the table stays relocatable, exactly like
    * delta's convert), with stats lifted from the parquet footers so
    * data skipping works from the first scan. Driver cost is O(files)
    * listing + footer reads — the same shape as delta-spark's convert,
    * which at 10⁵ files is a metadata pass, not a data job.
    *
    * Refuses directories that already carry a log (delta parity: convert
    * is a one-time adoption, not an idempotent sync); later writes go
    * through the normal commit path.
    */
  def convert(spark: SparkSession, path: String,
      partitionBy: Seq[String] = Seq.empty,
      conf: Configuration = Location.defaultConf()): DeltaTable = {
    val loc = Location(path, conf)
    require(loc.exists, s"no such directory: $path")
    val logLoc = loc.child("_delta_log")
    require(!logLoc.exists || logLoc.listSorted().isEmpty,
      s"$path already carries a _delta_log; convert adopts plain parquet only")
    val files = loc.listDataFilesRecursive()
      .filter(_.getPath.getName.endsWith(".parquet"))
      .filterNot(_.getPath.toString.contains("/_delta_log/"))
    require(files.nonEmpty, s"no parquet files under $path")
    val basePath = loc.path.toUri.getPath
    val adds = files.map { st =>
      val rel = st.getPath.toUri.getPath
        .stripPrefix(basePath).stripPrefix("/")
      val pv = DeltaScan.partitionValuesFromPath(rel)
      partitionBy.foreach(c => require(pv.contains(c),
        s"file $rel carries no hive value for partition column $c"))
      AddFile(
        path = rel,
        partitionValues = partitionBy.map(c => c -> pv.getOrElse(c, None)).toMap,
        size = st.getLen,
        modificationTime = st.getModificationTime,
        stats = Some(Statistics.fromFooter(st.getPath, conf).json),
        dataChange = true)
    }
    // schema: Spark's own inference — hive partition columns resolve via
    // basePath on partitioned layouts, with types normalized to the
    // STRING-typed log convention only for the values (types come from
    // partition discovery)
    val reader = spark.read.option("mergeSchema", "true")
    val schema =
      if (partitionBy.nonEmpty) reader.option("basePath", path).parquet(path).schema
      else reader.parquet(path).schema
    val t0 = forPath(path, conf = conf)
    require(t0.dlog.isEmpty, s"$path opened with existing table state")
    val evaluated = t0.dlog.evaluateSchema(schema, WriteMode.Append, "overwrite")
    val entry = t0.dlog.entryForWriteMode(WriteMode.Append, evaluated, adds,
      partitionBy)
    t0.commit(entry)
  }

  /** delta's `interval N weeks|days|hours|minutes|seconds`
    * (case-insensitive); bare milliseconds accepted too.
    */
  private[graft] def parseRetentionInterval(s: String,
      prop: String = "delta.deletedFileRetentionDuration"): Long = {
    val t = s.trim.toLowerCase
    t.toLongOption.getOrElse {
      val re = "^interval\\s+(\\d+)\\s+(week|day|hour|minute|second)s?$".r
      t match {
        case re(n, unit) =>
          val ms = unit match {
            case "week"   => 7L * 24 * 3600 * 1000
            case "day"    => 24L * 3600 * 1000
            case "hour"   => 3600L * 1000
            case "minute" => 60L * 1000
            case "second" => 1000L
          }
          n.toLong * ms
        case _ => throw new IllegalArgumentException(
          s"cannot parse $prop: '$s' (want 'interval N days')")
      }
    }
  }

  private implicit class DeltaLogOps(val dlog: DeltaLog) extends AnyVal {
    /** Slice to `version` when requested (load already stopped early). */
    def loadVersionOrAll(version: Option[Long]): DeltaLog =
      version.map(dlog.loadAsVersion).getOrElse(dlog)
  }
}
