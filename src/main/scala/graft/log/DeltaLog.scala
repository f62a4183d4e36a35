package graft.log

import com.fasterxml.jackson.databind.JsonNode
import graft.storage.Location
import org.apache.spark.sql.types.{StructField, StructType}

import scala.collection.immutable.{ListMap, SortedMap}

/** Write modes (reference delta_log/__init__.py:15-19); semantics mirror
  * Spark's SaveMode but gate on the *log*, not the directory.
  */
sealed abstract class WriteMode(val value: String)
object WriteMode {
  case object Append extends WriteMode("Append")
  case object Overwrite extends WriteMode("Overwrite")
  case object ErrorIfExists extends WriteMode("Error")
  case object Ignore extends WriteMode("Ignore")

  def fromString(s: String): WriteMode = s.toLowerCase match {
    case "append"    => Append
    case "overwrite" => Overwrite
    case "error" | "errorifexists" => ErrorIfExists
    case "ignore"    => Ignore
    case other       => throw new IllegalArgumentException(s"Unknown write mode: $other")
  }
}

/** One numbered commit file: an ordered list of actions, stored as NDJSON
  * (reference delta_log/__init__.py:21-118).
  */
final case class DeltaLogEntry(actions: Vector[Action]) {

  def adds: Vector[AddFile] = actions.collect { case a: AddFile => a }
  def removes: Vector[RemoveFile] = actions.collect { case r: RemoveFile => r }
  def commitInfos: Vector[CommitInfo] = actions.collect { case c: CommitInfo => c }
  def metadataAction: Option[Metadata] = actions.collectFirst { case m: Metadata => m }

  /** Partition columns declared by this entry, if any (reference
    * delta_log/__init__.py:86-98): WRITE commits carry `partitionBy`
    * (possibly string-encoded by delta-rs), CREATE commits carry them inside
    * the metadata JSON; DELETE/RESTORE entries declare nothing.
    */
  def partitionColumns: Option[Seq[String]] =
    actions.collectFirst { case c: CommitInfo => c }.flatMap { c =>
      c.operation match {
        case CommitInfo.Op.Write  => c.partitionBy
        case CommitInfo.Op.Create => c.metadataPartitionColumns
        case _                    => None
      }
    }.orElse(
      // commitInfo-less entries (checkpoint base) declare them via metaData
      metadataAction.map(_.partitionColumns).filter(_.nonEmpty))

  def toNdjson: String = actions.map(_.toLine).mkString("\n")

  /** Merge user-provided metadata into every commitInfo (reference
    * delta_log/__init__.py:226-230); round-trips via `extra`.
    */
  def withExtraCommitInfo(info: Map[String, JsonNode]): DeltaLogEntry =
    if (info.isEmpty) this
    else DeltaLogEntry(actions.map {
      case c: CommitInfo => c.copy(extra = c.extra ++ info)
      case a             => a
    })
}

object DeltaLogEntry {

  def fromNdjson(content: String): DeltaLogEntry =
    DeltaLogEntry(content.linesIterator.filter(_.nonEmpty).map(Action.parse).toVector)

  /** v0 entry: [protocol, metaData, adds…, commitInfo(CREATE TABLE)]
    * (reference delta_log/__init__.py:114-130).
    */
  def createTable(location: String, schema: StructType, partitionBy: Seq[String],
      adds: Seq[AddFile]): DeltaLogEntry = {
    val protocol = Protocol()
    val metadata = Metadata.create(schema, partitionBy)
    val commit = CommitInfo.create(location, metadata, protocol)
    DeltaLogEntry(Vector(protocol, metadata) ++ adds :+ commit)
  }

  /** Append entry: [metaData?, adds…, commitInfo(WRITE/Append)] — metadata
    * included whenever a schema is supplied, as the reference does
    * (delta_log/__init__.py:132-149).
    */
  def appendTable(partitionBy: Seq[String], adds: Seq[AddFile],
      schema: Option[StructType],
      configuration: Map[String, String] = Map.empty): DeltaLogEntry = {
    val commit = CommitInfo.write(WriteMode.Append.value, partitionBy)
    val meta = schema.map(s =>
      Metadata.create(s, partitionBy).copy(configuration = configuration))
    DeltaLogEntry(meta.toVector ++ adds :+ commit)
  }

  /** Overwrite = logical delete of every live file + new adds (reference
    * delta_log/__init__.py:151-170); data files are never deleted.
    */
  def overwriteTable(partitionBy: Seq[String], existingAdds: Iterable[AddFile],
      adds: Seq[AddFile], schema: Option[StructType],
      configuration: Map[String, String] = Map.empty): DeltaLogEntry = {
    val commit = CommitInfo.write(WriteMode.Overwrite.value, partitionBy)
    val removes = existingAdds.map(a => Action.removeFor(a)).toVector
    val meta = schema.map(s =>
      Metadata.create(s, partitionBy).copy(configuration = configuration))
    DeltaLogEntry(meta.toVector ++ removes ++ adds :+ commit)
  }

  /** Copy-on-write DELETE entry (reference delta_log/__init__.py:172-204). */
  def deleteTable(predicate: String, addsToRemove: Iterable[AddFile],
      adds: Seq[AddFile], readVersion: Long, numCopiedRows: Long,
      numDeletedRows: Long): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "num_added_files" -> Json.num(adds.size.toLong),
      "num_removed_files" -> Json.num(addsToRemove.size.toLong),
      "num_copied_rows" -> Json.num(numCopiedRows),
      "num_deleted_rows" -> Json.num(numDeletedRows))
    val commit = CommitInfo.delete(predicate, readVersion, metrics)
    val removes = addsToRemove.map(a => Action.removeFor(a)).toVector
    DeltaLogEntry(removes ++ adds :+ commit)
  }

  /** Merge-on-read DELETE entry: each touched file is RE-ADDED (same data
    * file, a new deletionVector ref in `extra`), and the caller passes
    * `dvRemoves` — one remove per re-add, carrying the SUPERSEDED add's
    * deletionVector descriptor — because spec-compliant readers
    * (delta-spark InMemoryLogReplay, kernel, delta-rs) reconcile file actions by the (path, dvUniqueId) TUPLE: a
    * bare re-add would leave the prior no-DV/old-DV add live alongside
    * the new one, duplicating files and resurrecting deleted rows in
    * every foreign reader. Graft's own replay (removes-before-adds
    * within an entry) keeps the paired file live either way. Files whose
    * every row is now dead are removed outright (`fullDead`).
    */
  def deleteMergeOnReadTable(predicate: String, dvAdds: Seq[AddFile],
      fullDead: Iterable[AddFile], readVersion: Long,
      numDeletedRows: Long,
      dvRemoves: Seq[RemoveFile]): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "mode" -> Json.text("merge-on-read"),
      "num_dv_files" -> Json.num(dvAdds.size.toLong),
      "num_removed_files" -> Json.num(fullDead.size.toLong),
      "num_copied_rows" -> Json.num(0L),
      "num_deleted_rows" -> Json.num(numDeletedRows))
    val commit = CommitInfo.delete(predicate, readVersion, metrics)
    val removes = fullDead.map(a => Action.removeFor(a)).toVector
    DeltaLogEntry(dvRemoves.toVector ++ dvAdds ++ removes :+ commit)
  }

  /** BLOOM INDEX entry: every live file re-added with its per-file filter
    * in `extra` — dataChange=false (no rows change; CDF emits nothing),
    * other extra keys (deletion vectors) ride along untouched.
    */
  def bloomIndexTable(column: String, indexed: Seq[AddFile],
      readVersion: Long): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "num_indexed_files" -> Json.num(indexed.size.toLong))
    val commit = CommitInfo.bloomIndex(column, readVersion, metrics)
    DeltaLogEntry(indexed.toVector :+ commit)
  }

  /** Merge-on-read UPDATE entry: matched rows die via DV re-adds, their
    * post-SET versions arrive as plain adds — CDF renders the pair as
    * exact delete (preimage) + insert (postimage) channels.
    */
  def updateMergeOnReadTable(predicate: String, dvAdds: Seq[AddFile],
      fullDead: Iterable[AddFile], adds: Seq[AddFile], readVersion: Long,
      numUpdated: Long,
      dvRemoves: Seq[RemoveFile]): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "mode" -> Json.text("merge-on-read"),
      "num_added_files" -> Json.num(adds.size.toLong),
      "num_dv_files" -> Json.num(dvAdds.size.toLong),
      "num_removed_files" -> Json.num(fullDead.size.toLong),
      "num_updated_rows" -> Json.num(numUpdated))
    val commit = CommitInfo.update(predicate, readVersion, metrics)
    val removes = fullDead.map(a => Action.removeFor(a)).toVector
    DeltaLogEntry(dvRemoves.toVector ++ dvAdds ++ adds ++ removes :+ commit)
  }

  /** Merge-on-read MERGE entry: matched target rows die via DV re-adds
    * (same add-not-remove rule as [[deleteMergeOnReadTable]]); source rows
    * arrive as plain adds; fully-dead files are removed. CDF derives the
    * exact delete/insert channels from the `mode` metric.
    */
  def mergeMergeOnReadTable(predicate: String, dvAdds: Seq[AddFile],
      fullDead: Iterable[AddFile], sourceAdds: Seq[AddFile], readVersion: Long,
      numUpdated: Long, numInserted: Long, numDeadRows: Long,
      dvRemoves: Seq[RemoveFile]): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "mode" -> Json.text("merge-on-read"),
      "num_added_files" -> Json.num(sourceAdds.size.toLong),
      "num_dv_files" -> Json.num(dvAdds.size.toLong),
      "num_removed_files" -> Json.num(fullDead.size.toLong),
      "num_updated_rows" -> Json.num(numUpdated),
      "num_inserted_rows" -> Json.num(numInserted),
      "num_dead_rows" -> Json.num(numDeadRows),
      "metrics_units" -> Json.text(
        "num_updated_rows=distinct matched keys; num_dead_rows=physical rows"))
    val commit = CommitInfo.merge(predicate, readVersion, metrics)
    val removes = fullDead.map(a => Action.removeFor(a)).toVector
    DeltaLogEntry(dvRemoves.toVector ++ dvAdds ++ sourceAdds ++ removes :+ commit)
  }

  /** replaceWhere entry: predicate-scoped overwrite — removes for every
    * file owning matching rows, adds for their kept-row rewrites plus the
    * replacement data, in ONE atomic commit (delta-spark's `replaceWhere`
    * semantics; the reference only has whole-table overwrite,
    * delta_log/__init__.py:151-170).
    */
  def replaceWhereTable(predicate: String, partitionBy: Seq[String],
      addsToRemove: Iterable[AddFile], adds: Seq[AddFile], readVersion: Long,
      numDeleted: Long, numCopied: Long, schema: Option[StructType],
      configuration: Map[String, String] = Map.empty): DeltaLogEntry = {
    val commit = CommitInfo.replaceWhere(predicate, partitionBy, readVersion,
      ListMap[String, JsonNode](
        "num_added_files" -> Json.num(adds.size.toLong),
        "num_removed_files" -> Json.num(addsToRemove.size.toLong),
        "num_deleted_rows" -> Json.num(numDeleted),
        "num_copied_rows" -> Json.num(numCopied)))
    val removes = addsToRemove.map(a => Action.removeFor(a)).toVector
    // carry configuration forward — a bare Metadata.create here would wipe
    // constraints (and any other table config) on every replaceWhere
    val meta = schema.map(s =>
      Metadata.create(s, partitionBy).copy(configuration = configuration))
    DeltaLogEntry(meta.toVector ++ removes ++ adds :+ commit)
  }

  /** UPDATE entry: copy-on-write in-place mutation — removes for every
    * touched file, adds for their rewritten content (updated + copied rows).
    */
  def updateTable(predicate: String, addsToRemove: Iterable[AddFile],
      adds: Seq[AddFile], readVersion: Long, numUpdated: Long,
      numCopied: Long): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "num_added_files" -> Json.num(adds.size.toLong),
      "num_removed_files" -> Json.num(addsToRemove.size.toLong),
      "num_updated_rows" -> Json.num(numUpdated),
      "num_copied_rows" -> Json.num(numCopied))
    val commit = CommitInfo.update(predicate, readVersion, metrics)
    val removes = addsToRemove.map(a => Action.removeFor(a)).toVector
    DeltaLogEntry(removes ++ adds :+ commit)
  }

  /** MERGE entry: copy-on-write upsert — removes for every touched file,
    * adds for their rewritten content plus inserted rows.
    */
  def mergeTable(predicate: String, addsToRemove: Iterable[AddFile],
      adds: Seq[AddFile], readVersion: Long, numUpdated: Long,
      numInserted: Long, numCopied: Long, numTargetRowsRemoved: Long,
      numTargetRowsDeleted: Long = 0L): DeltaLogEntry = {
    // Units are mixed by design and declared in-band via metrics_units:
    // num_updated_rows counts distinct matched KEYS (row-based counting
    // over-counts when the target legally holds duplicate rows per key and
    // can drive num_inserted_rows negative), while num_copied_rows /
    // num_target_rows_removed are physical ROW counts from file stats, so
    // external tooling can reconcile either way.
    val metrics = ListMap[String, JsonNode](
      "num_added_files" -> Json.num(adds.size.toLong),
      "num_removed_files" -> Json.num(addsToRemove.size.toLong),
      "num_updated_rows" -> Json.num(numUpdated),
      "num_inserted_rows" -> Json.num(numInserted),
      "num_copied_rows" -> Json.num(numCopied),
      "num_target_rows_removed" -> Json.num(numTargetRowsRemoved),
      "num_deleted_rows" -> Json.num(numTargetRowsDeleted),
      "metrics_units" -> Json.mapper.getNodeFactory.textNode(
        "num_updated_rows,num_inserted_rows=distinct source keys; " +
          "num_copied_rows,num_target_rows_removed,num_deleted_rows=physical rows"))
    val commit = CommitInfo.merge(predicate, readVersion, metrics)
    val removes = addsToRemove.map(a => Action.removeFor(a)).toVector
    DeltaLogEntry(removes ++ adds :+ commit)
  }

  /** OPTIMIZE entry: replace small files with compacted ones,
    * `dataChange=false` throughout — readers of any version see identical
    * rows; only the physical layout changes.
    */
  def optimizeTable(addsToRemove: Iterable[AddFile], adds: Seq[AddFile],
      readVersion: Long): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "numRemovedFiles" -> Json.num(addsToRemove.size.toLong),
      "numAddedFiles" -> Json.num(adds.size.toLong))
    val commit = CommitInfo.optimize(readVersion, metrics)
    val removes = addsToRemove.map(Action.removeFor(_, dataChange = false)).toVector
    DeltaLogEntry(removes ++ adds.map(_.copy(dataChange = false)) :+ commit)
  }

  /** REORG PURGE entry: same dataChange=false shape as OPTIMIZE (rows are
    * identical before and after), distinct operation name in history.
    */
  def reorgTable(addsToRemove: Iterable[AddFile], adds: Seq[AddFile],
      readVersion: Long, numPurgedRows: Long): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "numRemovedFiles" -> Json.num(addsToRemove.size.toLong),
      "numAddedFiles" -> Json.num(adds.size.toLong),
      "numDeletionVectorRowsPurged" -> Json.num(numPurgedRows))
    val commit = CommitInfo.reorg(readVersion, metrics)
    val removes = addsToRemove.map(Action.removeFor(_, dataChange = false)).toVector
    DeltaLogEntry(removes ++ adds.map(_.copy(dataChange = false)) :+ commit)
  }

  /** RESTORE entry (reference delta_log/__init__.py:206-224): re-commit the
    * target version's metadata, re-add its missing files, remove extras.
    */
  def restoreTable(readVersion: Long, restoreVersion: Long, restoreSchema: StructType,
      restorePartitionBy: Seq[String], addsToRemove: Iterable[AddFile],
      adds: Seq[AddFile],
      configuration: Map[String, String] = Map.empty,
      dvRemoves: Seq[RemoveFile] = Seq.empty): DeltaLogEntry = {
    val metrics = ListMap[String, JsonNode](
      "num_removed_files" -> Json.num(addsToRemove.size.toLong),
      "num_restored_files" -> Json.num(adds.size.toLong))
    val commit = CommitInfo.restore(readVersion, restoreVersion, metrics)
    val removes = dvRemoves.toVector ++ addsToRemove.map(a => Action.removeFor(a))
    // RESTORE restores the target version's METADATA, configuration
    // included (delta semantics) — an empty configuration here silently
    // stripped constraints, CDF, column-mapping mode and the DV switch
    val meta = Metadata.create(restoreSchema, restorePartitionBy)
      .copy(configuration = configuration)
    DeltaLogEntry(meta +: (removes ++ adds) :+ commit)
  }
}

/** The transaction log: ordered map version → entry, replayed into snapshot
  * state (reference delta_log/__init__.py:232-429).
  */
final case class DeltaLog(loc: Location, entries: SortedMap[Long, DeltaLogEntry]) {

  def isEmpty: Boolean = entries.isEmpty
  def versions: Seq[Long] = entries.keys.toSeq
  def version: Long = {
    require(entries.nonEmpty, "This delta log is empty!")
    entries.lastKey
  }
  def versionToWrite: Long = if (entries.isEmpty) 0L else version + 1

  /** Latest schema: newest metaData action, scanning backwards (reference
    * delta_log/__init__.py:328-334).
    */
  def schema: StructType = {
    entries.keys.toSeq.reverseIterator
      .flatMap(v => entries(v).metadataAction)
      .nextOption()
      .map(_.schema)
      .getOrElse(throw new IllegalStateException("No schema found in log entries"))
  }

  /** Live files: fold add/remove by path in version order (reference
    * delta_log/__init__.py:336-346). Insertion order preserved; a
    * re-added path moves to the END, matching the previous immutable
    * ListMap.updated semantics.
    *
    * NOT a ListMap: its O(n) `updated`/`removed` made this fold O(N²) —
    * a 10⁵-add replay burned MINUTES of driver time (caught by the
    * CKPTSCALE probe jstack-sampling `ListMap$Node.updated`). A mutable
    * LinkedHashMap build + VectorMap snapshot is O(N log N), and the
    * `lazy val` collapses the repeated per-operation replays of one
    * immutable log into a single fold.
    */
  lazy val addActions: scala.collection.immutable.SeqMap[String, AddFile] = {
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    entries.foreach { case (_, entry) =>
      // removes BEFORE adds within one entry: a same-path remove+add pair
      // in a single commit (delta-spark's DV delete emits remove(old) +
      // add(same file, new deletionVector)) leaves the file LIVE under
      // the new add — the remove is the old version's vacuum tombstone,
      // not a kill of the re-add. Graft's own commits never pair a path
      // (rewrites mint fresh uuid paths; MoR re-adds without a remove),
      // so this matches delta replay without changing native semantics.
      entry.removes.foreach(r => adds.remove(r.path))
      entry.adds.foreach { a => adds.remove(a.path); adds.update(a.path, a) }
    }
    scala.collection.immutable.VectorMap.from(adds)
  }

  /** Last-committed `txn` version for a streaming application id — None if
    * the app has never committed. Delta's SetTransaction replay is
    * last-writer-wins (in commit order), NOT max: an external writer that
    * records a lower version after a higher one resets the skip watermark.
    * The checkpoint snapshot keeps the same last-in-replay-order txn per
    * app (see Checkpoint.snapshotActions), so the decision is identical
    * before and after a checkpoint is taken.
    */
  def latestTxnVersion(appId: String): Option[Long] =
    entries.valuesIterator.flatMap(_.actions.collect {
      case t: Txn if t.appId == appId => t.version
    }).reduceOption((_, last) => last)

  /** Snapshot domain metadata: the latest action per domain in commit
    * order, a `removed=true` tombstone deleting the domain from state
    * (delta's domainMetadata replay rule). Checkpoints persist the live
    * map only — a full snapshot needs no tombstones — so state is
    * identical before and after a checkpoint is taken
    * (Checkpoint.snapshotActions).
    */
  def domainMetadata: ListMap[String, DomainMetadata] = {
    var doms = ListMap.empty[String, DomainMetadata]
    entries.valuesIterator.foreach(_.actions.foreach {
      case d: DomainMetadata =>
        doms = if (d.removed) doms.removed(d.domain) else doms.updated(d.domain, d)
      case _ => ()
    })
    doms
  }

  /** Partition columns of the latest version that declares them (reference
    * delta_log/__init__.py:348-355).
    */
  def partitionColumns: Seq[String] =
    entries.keys.toSeq.reverseIterator
      .flatMap(v => entries(v).partitionColumns)
      .nextOption()
      .getOrElse(Seq.empty)

  /** New partition_by must set-equal existing; None inherits (reference
    * delta_log/__init__.py:357-371).
    */
  def validatePartitionBy(newPartitionBy: Option[Seq[String]]): Seq[String] = {
    val existing = partitionColumns
    newPartitionBy match {
      case Some(pb) if existing.toSet != pb.toSet =>
        throw new IllegalArgumentException(
          s"Expected partition columns $existing, got $pb")
      case _ => existing
    }
  }

  /** Schema handling per write/schema mode (reference
    * delta_log/__init__.py:373-394): append requires equality (order- and
    * metadata-insensitive, like the reference's name-keyed comparison)
    * unless schema_mode=merge; overwrite always takes the new schema.
    */
  def evaluateSchema(newSchema: StructType, mode: WriteMode, schemaMode: String): StructType = {
    // stats are keyed by DOTTED physical paths (Statistics.json nests on
    // '.', DataSkipping probes flat dotted maps): a physical name that
    // itself contains '.' is indistinguishable from a nested path — a
    // top-level "a.b" column's bounds would be attributed to struct
    // field a.b (or vice versa) and could mis-prune files, silently
    // dropping rows. Refuse at write time; column mapping (dot-free
    // col-<uuid> physical names) is the supported spelling.
    def assertStatSafe(st: StructType, prefix: Seq[String]): Unit =
      st.fields.foreach { f =>
        val phys = graft.log.ColumnMapping.physicalName(f)
        if (phys.contains("."))
          throw new IllegalArgumentException(
            s"column ${(prefix :+ f.name).mkString(".")} has physical name " +
              s"'$phys' containing '.', which is ambiguous against nested " +
              "stats paths and can mis-prune files — enable column mapping " +
              "(dot-free physical names) or rename the column")
        f.dataType match {
          case s: StructType => assertStatSafe(s, prefix :+ f.name)
          case _ =>
        }
      }
    assertStatSafe(newSchema, Seq.empty)
    if (entries.isEmpty) newSchema
    else {
      val existing = schema
      if (mode == WriteMode.Append) {
        if (schemaMode == "merge") DeltaLog.mergeSchemas(existing, newSchema)
        else if (!DeltaLog.schemasAppendCompatible(existing, newSchema))
          throw new IllegalArgumentException("Schema mismatch" +
            s" (existing: ${existing.simpleString}, nullable=" +
            s"${existing.fields.map(_.nullable).mkString(",")};" +
            s" incoming: ${newSchema.simpleString}, nullable=" +
            s"${newSchema.fields.map(_.nullable).mkString(",")})")
        // keep the EXISTING schema object: field order is stable and
        // column-mapping physical names in field metadata survive appends
        else existing
      } else newSchema
    }
  }

  /** Entry construction for a write (reference delta_log/__init__.py:396-420). */
  def entryForWriteMode(mode: WriteMode, schema: StructType, adds: Seq[AddFile],
      partitionBy: Seq[String]): DeltaLogEntry = {
    // table configuration (constraints etc.) survives every metadata rewrite
    val config = latestMetadata.map(_.configuration).getOrElse(Map.empty)
    if (versionToWrite == 0L)
      DeltaLogEntry.createTable(loc.uri, schema, partitionBy, adds)
    else mode match {
      case WriteMode.Append =>
        DeltaLogEntry.appendTable(partitionBy, adds, Some(schema), config)
      case WriteMode.Overwrite =>
        DeltaLogEntry.overwriteTable(partitionBy, addActions.values, adds, Some(schema), config)
      case other =>
        throw new IllegalStateException(s"No entry for mode $other")
    }
  }

  /** The protocol in force: last protocol action in replay order (the
    * create-time default when none recorded — checkpoint snapshots carry
    * the protocol forward).
    */
  def currentProtocol: Protocol =
    entries.valuesIterator.flatMap(_.actions.collect { case p: Protocol => p })
      .reduceOption((_, last) => last).getOrElse(Protocol())

  /** The latest committed metadata action, scanning versions backwards. */
  def latestMetadata: Option[Metadata] =
    entries.keys.toSeq.reverseIterator
      .flatMap(v => entries(v).metadataAction)
      .nextOption()

  /** CHECK constraints from table configuration (delta's
    * `delta.constraints.<name> -> <sql>` convention).
    */
  def constraints: Map[String, String] =
    latestMetadata.map(_.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }).getOrElse(Map.empty)

  /** Legacy COLUMN INVARIANTS (delta's writer-v2 `delta.invariants` field
    * metadata — the pre-CHECK-constraint form delta-spark still enforces
    * on every write): field path → SQL expression, from the nested
    * `{"expression":{"expression":"<sql>"}}` wrapper, recursing into
    * nested StructTypes (delta-spark enforces nested-field invariants
    * recursively, so skipping them would silently unenforce what a
    * foreign writer relies on). An invariant that is PRESENT but
    * unparseable throws: a writer-v2 table whose invariant we cannot
    * evaluate must be refused (as the pre-enforcement protocol gate
    * refused every invariant-bearing table), never silently writable
    * with the invariant dropped. Only write paths call this.
    */
  def invariants: Map[String, String] =
    latestMetadata.map { m =>
      def walk(prefix: Seq[String], st: StructType): Iterator[(String, String)] =
        st.fields.iterator.flatMap { f =>
          val path = prefix :+ f.name
          val own: Option[(String, String)] =
            if (!f.metadata.contains("delta.invariants")) None
            else {
              val raw = f.metadata.getString("delta.invariants")
              val sql =
                try {
                  val node = Json.mapper.readTree(raw)
                  node.path("expression").path("expression").asText(null)
                } catch { case _: Exception => null }
              if (sql == null || sql.isEmpty)
                throw new IllegalArgumentException(
                  s"column ${path.mkString(".")} carries a delta.invariants " +
                    s"expression this engine cannot parse ($raw); refusing " +
                    "to write — an unenforced invariant would corrupt the " +
                    "table for writers that rely on it")
              Some(path.mkString(".") -> sql)
            }
          val nested = f.dataType match {
            case s: StructType => walk(path, s)
            case _             => Iterator.empty
          }
          own.iterator ++ nested
        }
      walk(Seq.empty, m.schema).toMap
    }.getOrElse(Map.empty)

  /** commitInfo dicts newest-first (reference delta_log/__init__.py:312-318). */
  def history: Seq[(Long, CommitInfo)] =
    entries.keys.toSeq.sorted.reverse.flatMap { v =>
      entries(v).commitInfos.map(v -> _)
    }

  /** Time travel: entries ≤ version (reference delta_log/__init__.py:279-297).
    * When `v` predates the in-memory window (checkpoint-based load), fall
    * back to full JSON replay. The replay is authoritative ONLY when it
    * reaches version 0: a non-empty tail starting above 0 is a
    * log-cleaned table whose base state lives in the checkpoint, and
    * serving the tail alone would be a silently PARTIAL snapshot — worse
    * than empty, because a scan quietly drops the base files' rows and a
    * `restore(v)` would durably COMMIT removes for every file it can't
    * see. Both the empty and the partial replay error loudly.
    */
  def loadAsVersion(v: Long): DeltaLog =
    if (entries.contains(v) || (entries.nonEmpty && v >= entries.lastKey))
      DeltaLog(loc, entries.rangeTo(v))
    else {
      val replay = DeltaLog.load(loc, Some(v)).entries.rangeTo(v)
      if (entries.nonEmpty && (replay.isEmpty || replay.firstKey > 0L))
        throw new IllegalArgumentException(
          s"version $v predates the oldest reachable log entry " +
            s"${replay.keySet.headOption.getOrElse(entries.firstKey)}; " +
            "earlier commits were removed by log cleanup")
      DeltaLog(loc, replay)
    }

  /** Optimistic commit: create-if-absent the next numbered entry file, then
    * apply the entry to the in-memory state (reference
    * xdlake/__init__.py:425-446 re-reads the whole log instead — O(N²) JSON
    * reads over N sequential writes, which at checkpoint-scale commit counts
    * burns the driver's win on every write).
    *
    * In-memory apply is sound: create-if-absent succeeding means version `v`
    * is durably exactly `entry`; a concurrent writer that won `v` makes
    * `ctx.write` throw instead, and commits landing AFTER ours don't belong
    * in this handle's snapshot (which represents version `v`).
    */
  def commit(entry: DeltaLogEntry,
      ctx: graft.CommitContext = graft.CreateIfAbsentCommit): DeltaLog = {
    val v = versionToWrite
    if (v == 0L) loc.mkdirs()
    // In-commit monotonic timestamps (delta's inCommitTimestamp
    // semantics): the committed timestamp is max(parent commit's
    // timestamp + 1, the proposed wall clock). Timestamp→version
    // resolution (timestampAsOf / startingTimestamp / RESTORE TIMESTAMP)
    // binary-searches commitInfo timestamps assuming they are ordered;
    // a writer with a lagging clock would otherwise commit a timestamp
    // BELOW its parent and silently shift every at-or-before answer one
    // version back. The clamp runs at commit (not action construction)
    // so an OCC rebase re-clamps against the WINNER's timestamp.
    // Newest-first, stop at the FIRST commitInfo (delta's ICT rule clamps
    // against the PARENT commit, and graft history is monotonic by this
    // very clamp) — O(1) per commit instead of a fold over every loaded
    // action. After a checkpoint fast-path load the base entry carries
    // the commitInfo of the checkpoint version's own commit file, which
    // cleanupLog keeps (Checkpoint.withHeadCommit), so the clamp stays
    // armed even with an empty JSON tail.
    val parentTs = entries.keys.toSeq.reverseIterator
      .flatMap(pv => entries(pv).commitInfos.reverseIterator.map(_.effectiveTimestamp))
      .nextOption()
      .getOrElse(Long.MinValue)
    // delta's `delta.enableInCommitTimestamps`: record the authoritative
    // (monotonic-clamped) clock explicitly as inCommitTimestamp, so
    // foreign ICT readers get the writer's clock instead of a file-mtime
    // echo; the legacy `timestamp` field carries the same value
    val ictEnabled = entry.metadataAction.orElse(latestMetadata)
      .exists(_.configuration.get("delta.enableInCommitTimestamps").contains("true"))
    val stamped =
      if (parentTs == Long.MinValue && !ictEnabled) entry
      else DeltaLogEntry(entry.actions.map {
        case c: CommitInfo =>
          val ts = math.max(c.effectiveTimestamp, parentTs + 1L)
          // a stale ICT echo in extra must move with the clamp, or
          // effectiveTimestamp would keep reading the old clock
          val extra2 =
            if (ictEnabled || c.extra.contains("inCommitTimestamp"))
              c.extra.updated("inCommitTimestamp", Json.num(ts))
            else c.extra
          if (ts == c.timestamp && extra2 == c.extra) c
          else c.copy(timestamp = ts, extra = extra2)
        case a => a
      })
    val entryLoc = loc.child(DeltaLog.filenameForVersion(v))
    ctx.write(entryLoc, stamped.toNdjson)
    val committed = DeltaLog(loc, entries.updated(v, stamped))
    // state checksum beside the commit (delta's `<version>.crc`):
    // best-effort — the commit above is already durable, a lost crc only
    // costs validation coverage on later opens
    try Checksum.write(committed) catch { case _: Exception => () }
    // opt-in AUTO log compaction (`graft.logCompaction.interval=N`):
    // every Nth commit folds the last N into one compaction file, so a
    // high-commit-rate table's between-checkpoints tail stays O(v/N)
    // reads without anyone scheduling maintenance. Best-effort and
    // idempotent — losing a race or failing here costs nothing (the raw
    // commits are authoritative); only window-ALIGNED ranges are
    // written, so concurrent writers produce identical files.
    try {
      val interval = committed.latestMetadata
        .flatMap(_.configuration.get("graft.logCompaction.interval"))
        .flatMap(_.toLongOption).getOrElse(0L)
      if (interval > 1 && (v + 1) % interval == 0 && v - interval + 1 >= 0)
        LogCompaction.write(loc, v - interval + 1, v)
    } catch { case scala.util.control.NonFatal(_) => () }
    committed
  }
}

object DeltaLog {

  private[graft] val EntryFilenameRe = "^\\d+\\.json$".r

  def filenameForVersion(v: Long): String = f"$v%020d.json"

  /** List + parse the log dir, optionally stopping once `version` is loaded
    * (reference delta_log/__init__.py:250-277).
    */
  def load(loc: Location, version: Option[Long] = None): DeltaLog = {
    val names = commitNames(loc)
    val upTo = version.map(v => names.indexWhere(versionOf(_) == v)).filter(_ >= 0)
    read(loc, upTo.fold(names)(i => names.take(i + 1)))
  }

  /** JSON entries with version in `(after, until]` ONLY — the bounded
    * parse for streaming tail reads. The directory listing is still
    * O(log), but per-trigger JSON parsing is O(range), not O(total
    * commits): a source polling a 10⁴-commit table must not re-parse
    * every historical commit to admit a 2-version batch.
    */
  def loadAfter(loc: Location, after: Long, until: Option[Long] = None): DeltaLog =
    read(loc, commitNames(loc).filter { n =>
      val v = versionOf(n)
      v > after && until.forall(v <= _)
    })

  /** Commit file names in the log dir, in listing order. */
  private def commitNames(loc: Location): Seq[String] =
    if (!loc.exists) Seq.empty
    else loc.listSorted().map(_.getPath.getName).filter(EntryFilenameRe.matches(_))

  private[graft] def versionOf(name: String): Long = name.split("\\.", 2)(0).toLong

  /** The named commits, read concurrently and folded in listing order. */
  private def read(loc: Location, names: Seq[String]): DeltaLog =
    DeltaLog(loc, SortedMap.from(names.map(versionOf).zip(LogReader.readEntries(loc, names))))

  /** DataType with field metadata removed at EVERY level — raw
    * `dataType.json` comparison would make a table whose NESTED fields
    * carry metadata (invariants, column-mapping ids) reject appends of
    * metadata-less frames with an opaque "Schema mismatch".
    */
  private def stripMeta(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, stripMeta(f.dataType), f.nullable)))
      case org.apache.spark.sql.types.ArrayType(e, n) =>
        org.apache.spark.sql.types.ArrayType(stripMeta(e), n)
      case org.apache.spark.sql.types.MapType(k, v, n) =>
        org.apache.spark.sql.types.MapType(stripMeta(k), stripMeta(v), n)
      case other => other
    }

  /** stripMeta plus nullability normalized to true everywhere — the
    * type-shape key for append compatibility, where nullability is
    * checked separately (and directionally). */
  private[graft] def typeShape(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, typeShape(f.dataType), nullable = true)))
      case org.apache.spark.sql.types.ArrayType(e, _) =>
        org.apache.spark.sql.types.ArrayType(typeShape(e), containsNull = true)
      case org.apache.spark.sql.types.MapType(k, v, _) =>
        org.apache.spark.sql.types.MapType(typeShape(k), typeShape(v),
          valueContainsNull = true)
      case other => other
    }

  /** Incoming nullability tighter-or-equal at every level: non-null data
    * into a nullable slot is safe, possible nulls into a non-null slot
    * are not. Assumes type shapes already matched (nested field order is
    * part of the shape, so positional zip is sound). */
  private def nullabilityTighter(inc: org.apache.spark.sql.types.DataType,
      ex: org.apache.spark.sql.types.DataType): Boolean = (inc, ex) match {
    case (si: StructType, se: StructType) =>
      si.fields.zip(se.fields).forall { case (fi, fe) =>
        (!fi.nullable || fe.nullable) && nullabilityTighter(fi.dataType, fe.dataType)
      }
    case (org.apache.spark.sql.types.ArrayType(ei, ni),
          org.apache.spark.sql.types.ArrayType(ee, ne)) =>
      (!ni || ne) && nullabilityTighter(ei, ee)
    case (org.apache.spark.sql.types.MapType(ki, vi, ni),
          org.apache.spark.sql.types.MapType(ke, ve, ne)) =>
      (!ni || ne) && nullabilityTighter(ki, ke) && nullabilityTighter(vi, ve)
    case _ => true
  }

  /** Order-insensitive, metadata-insensitive (at every nesting level)
    * schema equality by field name (reference schema.py:106-109).
    */
  def schemasEquivalent(a: StructType, b: StructType): Boolean = {
    def key(s: StructType): Map[String, (String, Boolean)] =
      s.fields.map(f => f.name -> ((stripMeta(f.dataType).json, f.nullable))).toMap
    key(a) == key(b)
  }

  /** Append compatibility: same column set and type SHAPES (field
    * metadata ignored at every level), and the incoming data's
    * nullability may be TIGHTER than the table's at every level
    * (provably-non-null rows into a nullable column are always safe —
    * Catalyst tightens a literal-heavy micro-batch's nullability, and
    * rejecting it would make streaming sinks flake per batch), never
    * looser (possible nulls into a non-null column violate the table
    * contract).
    */
  def schemasAppendCompatible(existing: StructType, incoming: StructType): Boolean = {
    def types(s: StructType): Map[String, String] =
      s.fields.map(f => f.name -> typeShape(f.dataType).json).toMap
    types(existing) == types(incoming) &&
      incoming.fields.forall(f => (!f.nullable || existing(f.name).nullable) &&
        nullabilityTighter(f.dataType, existing(f.name).dataType))
  }

  /** Field-union schema merge (reference `pa.unify_schemas`,
    * schema.py:92-104): existing field order kept, new fields appended,
    * same-name fields must have identical types.
    */
  def mergeSchemas(existing: StructType, incoming: StructType): StructType = {
    val existingNames = existing.fieldNames.toSet
    val conflicts = incoming.fields.filter(f =>
      existingNames(f.name) &&
        existing(f.name).dataType != f.dataType)
    if (conflicts.nonEmpty)
      throw new IllegalArgumentException(
        s"Cannot merge schemas: conflicting types for ${conflicts.map(_.name).mkString(", ")}")
    val appended = incoming.fields.filterNot(f => existingNames(f.name))
    // f.copy (not a fresh StructField): column-mapping physical names live
    // in field metadata and must survive the merge
    StructType((existing.fields ++ appended).map(f => f.copy(nullable = true)))
  }
}
