package graft.log

import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.schema.{MessageTypeParser, Types}

import scala.collection.immutable.SortedMap

/** Log checkpoints: a parquet snapshot of the table state at version V, so
  * opening a long-lived table replays ONE parquet file plus the JSON
  * entries after V instead of every commit since version 0.
  *
  * This is the driver-side scale feature the reference lacks entirely: at
  * 100 TB a table accumulates 10^4–10^6 commits, and listing + parsing
  * every JSON file per table open dominates planning time.
  *
  * Format: one UTF-8 action-JSON line per row (the exact NDJSON objects
  * the log stores), in `%020d.graft-checkpoint.parquet` beside the
  * commits, discovered via `_graft_last_checkpoint`. The names are
  * deliberately NOT delta's (`_last_checkpoint` / `N.checkpoint.parquet`):
  * the row layout here is graft-native (a `json` column rather than
  * delta's nested per-action structs), and a Delta-protocol engine that
  * honored delta's pointer would fail to parse it and refuse to open a
  * table it could otherwise read. With graft-specific names, foreign
  * readers never see the checkpoint and fall back to plain JSON replay —
  * cross-engine readability is preserved; only the replay speedup is
  * graft-local.
  *
  * JSON commit files are never deleted, so time travel below the
  * checkpoint falls back to full JSON replay.
  */
object Checkpoint {

  /** A checkpoint that EXISTS but cannot be replayed completely (e.g. a
    * multi-part checkpoint with a missing part). Never swallowed into
    * the JSON-replay fallback: with commits log-cleaned below the
    * checkpoint, a partial replay would silently drop table state.
    */
  final class CorruptCheckpointException(msg: String)
      extends IllegalStateException(msg)

  val LastCheckpointFile = "_graft_last_checkpoint"

  private val parquetSchema = MessageTypeParser.parseMessageType(
    "message graft_checkpoint { required binary json (UTF8); }")

  def checkpointFilename(v: Long): String = f"$v%020d.graft-checkpoint.parquet"

  /** Field-order-insensitive identity of a `deletionVector` descriptor
    * (graft sidecar or delta-spec fields alike) — the dv half of delta's
    * (path, dvUniqueId) reconciliation tuple. Raw node.toString depends
    * on JSON field insertion order, which a delta-format checkpoint round
    * trip reorders.
    */
  private[graft] def descriptorId(
      extra: Map[String, com.fasterxml.jackson.databind.JsonNode]): String =
    extra.get("deletionVector").map { n =>
      Seq("storageType", "pathOrInlineDv", "offset", "sizeInBytes",
        "cardinality", "sidecar")
        .map(f => Option(n.get(f)).filterNot(_.isNull)
          .map(_.asText).getOrElse("")).mkString("|")
    }.getOrElse("")

  /** Snapshot-state actions at the log's head: protocol, latest metadata,
    * the latest `txn` per streaming app (so idempotent sinks keep their
    * progress across the checkpoint fast path, as Delta checkpoints do),
    * every live add (replay result, not history).
    */
  private def snapshotActions(dlog: DeltaLog): Seq[Action] = {
    val protocol = dlog.entries.valuesIterator
      .flatMap(_.actions.collect { case p: Protocol => p })
      .toSeq.lastOption.getOrElse(Protocol())
    val metadata = dlog.entries.keys.toSeq.reverseIterator
      .flatMap(v => dlog.entries(v).metadataAction)
      .nextOption()
      .getOrElse(throw new IllegalStateException("cannot checkpoint an empty log"))
    var txns = scala.collection.immutable.ListMap.empty[String, Txn]
    dlog.entries.valuesIterator.foreach(_.actions.foreach {
      case t: Txn => txns = txns.updated(t.appId, t)
      case _ => ()
    })
    // live domain metadata (latest non-removed per domain): part of
    // snapshot state, so it must survive the checkpoint fast path and
    // subsequent log cleanup exactly as metaData does
    //
    // the HEAD commitInfo also rides along (graft layout only — the
    // delta-format emission drops it, see writeDeltaFormat): it keeps the
    // monotonic-timestamp clamp armed and timestampAsOf anchored after a
    // fast-path load whose JSON tail is empty — checkpoints otherwise
    // retain no commit clock at all
    val headCommit = dlog.entries.keys.toSeq.reverseIterator
      .flatMap(v => dlog.entries(v).commitInfos.lastOption)
      .nextOption()
    // UNEXPIRED remove tombstones are snapshot state (delta's checkpoint
    // spec): vacuum needs them to age stranded files after log cleanup.
    // Reconciliation is TUPLE-keyed like delta's — a tombstone is
    // excluded only when an identical (path, deletionVector) add is live
    // (the spec forbids a checkpoint carrying both sides of one tuple);
    // a (path, oldDV) tombstone under a (path, newDV) live add — the
    // spec-DV remove+add pairing — is retained, so a foreign reader's
    // tuple replay of the checkpoint stays consistent. Tombstones at or
    // past `delta.deletedFileRetentionDuration` (default 7d) drop, like
    // delta's expired-tombstone cleanup.
    // field-order-insensitive descriptor key: a delta-format checkpoint
    // round trip reorders the descriptor's JSON fields (schema order vs
    // write order), so a raw toString would split one tuple into two
    val dvId = Checkpoint.descriptorId _
    val liveTuples = dlog.addActions.values
      .map(a => (a.path, dvId(a.extra))).toSet
    // LinkedHashMap, not ListMap: a long-lived table accumulates O(live
    // files) remove tombstones and ListMap.updated made this fold
    // quadratic (the DeltaLog.addActions CKPTSCALE finding, same shape)
    val tombs = scala.collection.mutable.LinkedHashMap.empty[(String, String), RemoveFile]
    dlog.entries.valuesIterator.foreach(_.removes.foreach { r =>
      val k = (r.path, dvId(r.extra)); tombs.remove(k); tombs.update(k, r)
    })
    val retentionMs = metadata.configuration
      .get("delta.deletedFileRetentionDuration")
      .map(graft.DeltaTable.parseRetentionInterval(_))
      .getOrElse(7L * 24 * 3600 * 1000)
    val cutoff = System.currentTimeMillis() - retentionMs
    val tombstones = tombs.values.filter(r =>
      r.deletionTimestamp >= cutoff &&
        !liveTuples.contains((r.path, dvId(r.extra))))
    Seq(protocol, metadata) ++ txns.values ++ dlog.domainMetadata.values ++
      tombstones ++ dlog.addActions.values ++ headCommit
  }

  /** True when the table asks for delta V2 (UUID-manifest + sidecar)
    * checkpoints: either the `delta.checkpointPolicy=v2` property
    * (delta-spark's own switch) or a protocol already carrying the
    * `v2Checkpoint` feature (a foreign table we adopted — writing a
    * classic checkpoint there would be legal but writing v2 keeps the
    * table's own convention).
    */
  private def wantsV2(dlog: DeltaLog): Boolean =
    dlog.latestMetadata.exists(_.configuration.get("delta.checkpointPolicy")
      .exists(_.trim.equalsIgnoreCase("v2"))) ||
      ProtocolGate.readerFeatures(dlog.currentProtocol).contains("v2Checkpoint")

  /** Write the checkpoint for the log's current version and point
    * the pointer file at it.
    */
  def write(dlog: DeltaLog, conf: Configuration,
      maxActionsPerPart: Int = DeltaCheckpointPartSize): Unit = {
    val v = dlog.version
    // idempotent: a checkpoint is a pure function of the version's
    // snapshot, so if another writer already checkpointed v there is
    // nothing to add — and REWRITING it would yank the file out from
    // under concurrent readers mid-scan (r13 torture finding)
    val out = dlog.loc.child(checkpointFilename(v))
    if (out.exists) return
    val actions = snapshotActions(dlog)
    // write-then-rename: the checkpoint must appear atomically — a
    // reader following _graft_last_checkpoint must never open a
    // half-written parquet
    val tmp = dlog.loc.child(
      s"_ckpt_tmp-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp.path, conf))
      .withType(parquetSchema)
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val factory = new SimpleGroupFactory(parquetSchema)
    try actions.foreach { a =>
      writer.write(factory.newGroup().append("json", a.toLine))
    } finally writer.close()
    if (out.exists || !out.fs.rename(tmp.path, out.path)) {
      // lost a same-version race: the winner's copy is equivalent
      tmp.delete()
      return
    }
    dlog.loc.child(LastCheckpointFile)
      .writeString(s"""{"version":$v,"size":${actions.size}}""")
    if (wantsV2(dlog)) writeDeltaFormatV2(dlog, actions, conf, maxActionsPerPart)
    else writeDeltaFormat(dlog, actions, conf, maxActionsPerPart)
    gcOldCheckpoints(dlog.loc, keep = 2, conf)
  }

  // ------------------------------------------------------------------
  // Delta-protocol checkpoint emission: alongside the graft-native file,
  // write `%020d.checkpoint.parquet` + `_last_checkpoint` in Delta's
  // NESTED-STRUCT row layout (one sparse column per action type), so a
  // Delta-protocol engine opening the table gets the same O(1) replay
  // fast path a graft reader does instead of falling back to full JSON
  // replay. The graft file stays authoritative for graft readers; this
  // one exists purely for cross-engine consumers.
  // ------------------------------------------------------------------

  /** Delta's classic checkpoint schema (the columns delta-spark writes,
    * including the table-features lists for reader-3/writer-7 protocols
    * and the `deletionVector` add-field so MoR state survives the round
    * trip). Built with Spark types so the emitted parquet has delta's
    * exact nested shape.
    */
  private[graft] def deltaCheckpointSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val strMap = MapType(StringType, StringType, valueContainsNull = true)
    // delta's dv fields for shape fidelity, PLUS graft's `sidecar` ref:
    // graft DVs live in sidecar files with a graft-native layout, so
    // storageType stays null — a foreign delta reader fails LOUDLY on a
    // DV'd file (no storageType) instead of silently resurrecting its
    // deleted rows, and graft's own delta-checkpoint read path restores
    // the ref losslessly from `sidecar` + `cardinality`
    val dv = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType),
      StructField("sidecar", StringType)))
    StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", strMap),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("tags", strMap),
        StructField("deletionVector", dv),
        // rowTracking state (delta's checkpoint add schema): dropping
        // these would strip every file's row-id range from the one place
        // a log-cleaned foreign reader can still find it
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("extendedFileMetadata", BooleanType),
        StructField("partitionValues", strMap),
        StructField("size", LongType),
        // tombstones carry the dead add's DV descriptor (delta's remove
        // checkpoint schema includes it): spec-DV mutations pair each
        // re-add with a descriptor-carrying remove, and dropping the
        // struct here would strip those tombstones at every checkpoint
        StructField("deletionVector", dv),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("description", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", strMap)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", strMap),
        StructField("createdTime", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        // table-features protocols (reader 3 / writer 7) — e.g. after the
        // deletionVectors feature bump — must keep their feature lists
        // through the checkpoint, or a delta reader sees an invalid
        // (3,7)-with-no-features protocol
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))))))
  }

  /** `delta.checkpoint.writeStatsAsStruct` / `writeStatsAsJson` (delta's
    * checkpoint stats layout properties): with stats-as-struct on, every
    * `add` row of the delta-format checkpoint carries a TYPED
    * `stats_parsed` struct (numRecords / minValues / maxValues /
    * nullCount over the table's physical leaf columns) so a delta reader
    * does data skipping straight off parquet column values instead of
    * parsing 10⁵ JSON strings per plan; `writeStatsAsJson=false`
    * additionally nulls the JSON string column (the struct becomes
    * authoritative — delta's layout for wide-schema tables where
    * double-stored stats dominate checkpoint size). The typed schema is
    * the physical leaf schema, so column-mapped tables stat under
    * physical names exactly like their JSON stats do.
    */
  private def statsStructType(dlog: DeltaLog): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    def statable(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType => true
      case _: TimestampType | TimestampNTZType => true
      case _ => false
    }
    // minValues/maxValues mirror the table's NESTED structure down to the
    // comparable leaves (Statistics.json writes nested stats as nested
    // objects; a flat top-level-only struct here would permanently drop
    // nested-leaf bounds at every writeStatsAsJson=false checkpoint)
    def minMaxShape(st: StructType): Option[StructType] = {
      val fs = st.fields.flatMap { f =>
        f.dataType match {
          case s: StructType => minMaxShape(s).map(n => StructField(f.name, n))
          case dt if statable(dt) => Some(StructField(f.name, dt))
          case _ => None
        }
      }
      if (fs.isEmpty) None else Some(StructType(fs))
    }
    // nullCount covers EVERY non-repeated leaf (binary included — the
    // footer fold counts nulls even where no min/max is comparable)
    def nullShape(st: StructType): Option[StructType] = {
      val fs = st.fields.flatMap { f =>
        f.dataType match {
          case s: StructType => nullShape(s).map(n => StructField(f.name, n))
          case _: ArrayType | _: MapType => None
          case _ => Some(StructField(f.name, LongType))
        }
      }
      if (fs.isEmpty) None else Some(StructType(fs))
    }
    dlog.latestMetadata.map { m =>
      val phys = ColumnMapping.physicalSchema(m.schema)
      StructType(
        Seq(StructField("numRecords", LongType)) ++
          minMaxShape(phys).map(StructField("minValues", _)) ++
          minMaxShape(phys).map(StructField("maxValues", _)) ++
          nullShape(phys).map(StructField("nullCount", _)) ++
          // a foreign DV-writing engine's stats carry tightBounds; it
          // must survive the struct round-trip (to_json drops nulls, so
          // absent stays absent on restore)
          Seq(StructField("tightBounds", BooleanType)))
    }
  }

  /** Apply the two stats-layout properties to a schema-parsed checkpoint
    * frame (both classic parts and v2 sidecars go through here).
    */
  private def applyStatsColumns(dlog: DeltaLog,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StructType
    val cfg = dlog.latestMetadata.map(_.configuration).getOrElse(Map.empty)
    val asStruct = cfg.get("delta.checkpoint.writeStatsAsStruct").contains("true")
    if (!asStruct) return df
    val dropJson = cfg.get("delta.checkpoint.writeStatsAsJson").contains("false")
    statsStructType(dlog) match {
      case None => df
      case Some(st) =>
        val addType = df.schema("add").dataType.asInstanceOf[StructType]
        val rebuilt = struct(
          (addType.fieldNames.toSeq.map { f =>
            if (f == "stats" && dropJson) lit(null).cast("string").as("stats")
            else col(s"add.$f").as(f)
          } :+ from_json(col("add.stats"), st).as("stats_parsed")): _*)
        df.withColumn("add", when(col("add").isNotNull, rebuilt))
    }
  }

  /** Read-side inverse: a checkpoint (ours or a foreign delta writer's
    * with `writeStatsAsJson=false`) whose adds carry only `stats_parsed`
    * gets its JSON stats string reconstructed, so graft's stats pruning
    * and metadata-only COUNT work unchanged on struct-stats tables.
    */
  private def restoreStatsJson(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StructField, StructType}
    df.schema.fields.find(_.name == "add") match {
      case Some(StructField(_, addType: StructType, _, _))
          if addType.fieldNames.contains("stats_parsed") =>
        val hasJson = addType.fieldNames.contains("stats")
        val statsCol =
          if (hasJson) coalesce(col("add.stats"), to_json(col("add.stats_parsed")))
          else to_json(col("add.stats_parsed"))
        val rebuilt = struct(
          (addType.fieldNames.toSeq.filterNot(_ == "stats_parsed")
            .filterNot(_ == "stats").map(n => col(s"add.$n").as(n)) :+
            statsCol.as("stats")): _*)
        df.withColumn("add", when(col("add").isNotNull, rebuilt))
      case _ => df
    }
  }

  /** Actions per part of the delta-format checkpoint. At 10⁵ live files
    * a single coalesce(1) parquet is a driver-sized bottleneck to write
    * and a single-task file to read; delta's classic MULTI-PART layout
    * (`N.checkpoint.<i>.<n>.parquet`) writes parts in parallel and lets
    * a reader fan out — row-to-part assignment is arbitrary per the
    * spec, readers must consume all `n` parts.
    */
  private[graft] val DeltaCheckpointPartSize = 50000

  private def writeDeltaFormat(dlog: DeltaLog, actions: Seq[Action],
      conf: Configuration,
      maxActionsPerPart: Int = DeltaCheckpointPartSize): Unit = {
    import org.apache.spark.sql.{Encoders, SparkSession}
    // only reachable with a live session (checkpoints are written from
    // commit paths inside a Spark app); if none, skip — the graft
    // checkpoint above is the authoritative fast path
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(return)
    val v = dlog.version
    // each action's NDJSON line is exactly one sparse row of the nested
    // layout: {"add": {...}} parses into the `add` struct column, every
    // other column null. Schema-driven parse, so graft-only `extra` keys
    // are dropped rather than leaking into the delta file. commitInfo is
    // graft-pointer-only state (the ICT clamp anchor): delta checkpoints
    // never carry it, and an all-null row would be out of spec.
    val lines = actions.filterNot(_.isInstanceOf[CommitInfo]).map(_.toLine)
    val df = applyStatsColumns(dlog, spark.read.schema(deltaCheckpointSchema)
      .json(spark.createDataset(lines)(Encoders.STRING)))
    val wantParts =
      math.max(1, math.ceil(actions.size.toDouble / maxActionsPerPart).toInt)
    val staging = dlog.loc.child(
      s"_delta_ckpt_staging-$v-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      if (wantParts == 1) {
        df.coalesce(1).write.mode("overwrite").parquet(staging.uri)
        val part = staging.listDataFilesRecursive()
          .filter(_.getPath.getName.endsWith(".parquet"))
        require(part.size == 1, s"expected one staged checkpoint file, got ${part.size}")
        val dest = dlog.loc.child(f"$v%020d.checkpoint.parquet")
        // never delete-then-rewrite: a concurrent reader may be mid-scan
        // of the winner's copy, which is equivalent content anyway
        if (!dest.exists && !dest.fs.rename(part.head.getPath, dest.path)
            && !dest.exists)
          throw new java.io.IOException(
            s"rename ${part.head.getPath} -> ${dest.path} failed")
        dlog.loc.child("_last_checkpoint")
          .writeString(s"""{"version":$v,"size":${actions.size}}""")
      } else {
        // round-robin repartition spreads the rows; the ACTUAL staged
        // file count names the parts (a near-empty trailing partition
        // may be dropped by the writer)
        df.repartition(wantParts).write.mode("overwrite").parquet(staging.uri)
        val parts = staging.listDataFilesRecursive()
          .filter(_.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
        val n = parts.size
        require(n >= 1, "multi-part checkpoint staged zero files")
        parts.zipWithIndex.foreach { case (st, i) =>
          val dest = dlog.loc.child(
            f"$v%020d.checkpoint.${i + 1}%010d.$n%010d.parquet")
          if (!dest.exists && !dest.fs.rename(st.getPath, dest.path)
              && !dest.exists)
            throw new java.io.IOException(
              s"rename ${st.getPath} -> ${dest.path} failed")
        }
        dlog.loc.child("_last_checkpoint")
          .writeString(
            s"""{"version":$v,"size":${actions.size},"parts":$n}""")
      }
    } finally staging.delete()
  }

  /** Manifest schema for delta V2 checkpoints: the classic per-action
    * struct columns PLUS the two V2 bookkeeping actions —
    * `checkpointMetadata` (declares the checkpoint's version inside the
    * file itself) and `sidecar` (one row per referenced sidecar file).
    * File actions live in the sidecars; the manifest's add/remove columns
    * stay all-null (spec-legal — a reader must take file actions from
    * wherever they appear).
    */
  private[graft] def v2ManifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val strMap = MapType(StringType, StringType, valueContainsNull = true)
    StructType(deltaCheckpointSchema.fields ++ Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType),
        StructField("tags", strMap)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType),
        StructField("tags", strMap))))))
  }

  /** Sidecar schema: file actions only, per the V2 spec. */
  private def v2SidecarSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(deltaCheckpointSchema.fields.filter(f =>
      f.name == "add" || f.name == "remove"))
  }

  /** Emit a delta V2 checkpoint: file actions split into sidecar parquet
    * files under `_delta_log/_sidecars/` (≤ `maxActionsPerPart` each, so
    * a reader fans out over them the way multi-part classic checkpoints
    * fan out), and a UUID-named manifest
    * `%020d.checkpoint.<uuid>.parquet` carrying the non-file state plus
    * `checkpointMetadata` and one `sidecar` ref per file. Sidecars are
    * named `<version>-<uuid>.parquet`: the version prefix is graft's own
    * convention (spec only asks for unique names) and is what lets
    * [[gcOldCheckpoints]] attribute and delete a superseded checkpoint's
    * sidecars WITHOUT reading its manifest — foreign sidecars never match
    * the prefix and are never touched.
    */
  private def writeDeltaFormatV2(dlog: DeltaLog, actions: Seq[Action],
      conf: Configuration,
      maxActionsPerPart: Int = DeltaCheckpointPartSize): Unit = {
    import org.apache.spark.sql.{Encoders, SparkSession}
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(return)
    val v = dlog.version
    val (fileActs, stateActs) = actions
      .filterNot(_.isInstanceOf[CommitInfo])
      .partition(a => a.isInstanceOf[AddFile] || a.isInstanceOf[RemoveFile])
    val sidecarDir = dlog.loc.child("_sidecars")
    val staging = dlog.loc.child(
      s"_delta_ckpt_staging-$v-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      // ---- sidecars: file actions, schema-driven nested layout ----
      val wantParts =
        math.max(1, math.ceil(fileActs.size.toDouble / maxActionsPerPart).toInt)
      val fileDf = applyStatsColumns(dlog, spark.read.schema(v2SidecarSchema)
        .json(spark.createDataset(fileActs.map(_.toLine))(Encoders.STRING)))
      (if (wantParts == 1) fileDf.coalesce(1) else fileDf.repartition(wantParts))
        .write.mode("overwrite").parquet(staging.uri)
      val staged = staging.listDataFilesRecursive()
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      require(staged.nonEmpty, "v2 checkpoint staged zero sidecar files")
      val sidecarRefs = staged.map { st =>
        val name = f"$v%020d-${java.util.UUID.randomUUID()}.parquet"
        val dest = sidecarDir.child(name)
        if (!dest.fs.exists(sidecarDir.path)) dest.fs.mkdirs(sidecarDir.path)
        if (!dest.fs.rename(st.getPath, dest.path))
          throw new java.io.IOException(
            s"rename ${st.getPath} -> ${dest.path} failed")
        val fst = dest.fs.getFileStatus(dest.path)
        s"""{"sidecar":{"path":"$name","sizeInBytes":${fst.getLen},""" +
          s""""modificationTime":${fst.getModificationTime}}}"""
      }
      // ---- manifest: state + checkpointMetadata + sidecar refs ----
      val manifestLines = stateActs.map(_.toLine) ++
        Seq(s"""{"checkpointMetadata":{"version":$v}}""") ++ sidecarRefs
      val mDf = spark.read.schema(v2ManifestSchema)
        .json(spark.createDataset(manifestLines)(Encoders.STRING))
      mDf.coalesce(1).write.mode("overwrite").parquet(staging.uri)
      val part = staging.listDataFilesRecursive()
        .filter(_.getPath.getName.endsWith(".parquet"))
      require(part.size == 1, s"expected one staged manifest, got ${part.size}")
      val dest = dlog.loc.child(
        f"$v%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")
      if (!dest.fs.rename(part.head.getPath, dest.path))
        throw new java.io.IOException(
          s"rename ${part.head.getPath} -> ${dest.path} failed")
      dlog.loc.child("_last_checkpoint")
        .writeString(s"""{"version":$v,"size":${actions.size}}""")
    } finally staging.delete()
  }

  private val CheckpointRe = "^(\\d+)\\.graft-checkpoint\\.parquet$".r
  private val LegacyCheckpointRe = "^(\\d+)\\.checkpoint\\.parquet$".r
  private val MultiPartCheckpointRe = "^(\\d+)\\.checkpoint\\.\\d+\\.\\d+\\.parquet$".r
  private val V2ManifestRe =
    "^(\\d+)\\.checkpoint\\.[0-9a-fA-F]{8}-[0-9a-fA-F-]+\\.parquet$".r

  /** True iff `name` is a parquet file with graft's one-json-column row
    * layout — i.e. a checkpoint written by a pre-rename graft build under
    * Delta's filename. A genuine Delta-protocol checkpoint (nested
    * per-action structs) never matches.
    */
  private def isGraftLayout(loc: Location, name: String, conf: Configuration): Boolean =
    try {
      val in = HadoopInputFile.fromPath(loc.child(name).path, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getFileMetaData.getSchema.equals(parquetSchema)
      finally reader.close()
    } catch { case _: Exception => false }

  /** Drop superseded checkpoint files, keeping the newest `keep` so a
    * reader that just fetched the pointer never loses its file.
    *
    * Also removes checkpoints orphaned by the round-3 rename: earlier graft
    * builds wrote `N.checkpoint.parquet` + `_last_checkpoint` (Delta's
    * names) with graft's row layout, which breaks foreign readers that
    * honor Delta's pointer. Those are deleted here — gated on the layout
    * check, so a real Delta engine's checkpoint is never touched — and the
    * legacy pointer goes with them once its target is gone (for a Delta
    * reader a missing pointer just means JSON replay).
    */
  private def gcOldCheckpoints(loc: Location, keep: Int, conf: Configuration): Unit = {
    var legacy = List.empty[String]
    var multiPart = List.empty[String]
    var v2 = List.empty[String]
    val versions = loc.listSorted().flatMap { st =>
      st.getPath.getName match {
        case CheckpointRe(v) => Some(v.toLong)
        case LegacyCheckpointRe(_) => legacy ::= st.getPath.getName; None
        case MultiPartCheckpointRe(_) => multiPart ::= st.getPath.getName; None
        case V2ManifestRe(_) => v2 ::= st.getPath.getName; None
        case _ => None
      }
    }
    versions.sorted.dropRight(keep).foreach { v =>
      try loc.fs.delete(loc.child(checkpointFilename(v)).path, false)
      catch { case _: Exception => () }
    }
    val removedLegacy = legacy.filter(isGraftLayout(loc, _, conf))
    removedLegacy.foreach { name =>
      try loc.fs.delete(loc.child(name).path, false)
      catch { case _: Exception => () }
    }
    // genuine delta-layout checkpoints (the cross-engine emission above):
    // keep the newest `keep`, drop superseded ones — same policy as the
    // graft family, and never a file the live `_last_checkpoint` targets
    val deltaByVersion: Map[Long, Seq[String]] =
      (legacy.filterNot(removedLegacy.contains).flatMap(n =>
        LegacyCheckpointRe.findFirstMatchIn(n).map(_.group(1).toLong -> n)) ++
        multiPart.flatMap(n =>
          MultiPartCheckpointRe.findFirstMatchIn(n).map(_.group(1).toLong -> n)) ++
        v2.flatMap(n =>
          V2ManifestRe.findFirstMatchIn(n).map(_.group(1).toLong -> n)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    deltaByVersion.keys.toSeq.sorted.dropRight(keep).foreach { v =>
      deltaByVersion(v).foreach { name =>
        try loc.fs.delete(loc.child(name).path, false)
        catch { case _: Exception => () }
      }
      // graft-written v2 sidecars carry the checkpoint version as a name
      // prefix, so a superseded checkpoint's sidecars are attributable
      // (and deletable) without reading its manifest; foreign sidecars
      // (bare-uuid names) never match and are left for their own engine
      val sidecarDir = loc.child("_sidecars")
      if (deltaByVersion(v).exists(V2ManifestRe.matches(_)) && sidecarDir.exists) {
        val prefix = f"$v%020d-"
        try sidecarDir.listSorted()
          .filter(_.getPath.getName.startsWith(prefix))
          .foreach(st => loc.fs.delete(st.getPath, false))
        catch { case _: Exception => () }
      }
    }
    if (removedLegacy.nonEmpty) {
      val ptr = loc.child("_last_checkpoint")
      val target =
        try Json.longOpt(Json.mapper.readTree(ptr.readString()), "version")
        catch { case _: Exception => None }
      val targetGone = target.exists { v =>
        removedLegacy.contains(f"$v%020d.checkpoint.parquet")
      }
      if (targetGone)
        try loc.fs.delete(ptr.path, false)
        catch { case _: Exception => () }
    }
  }

  /** The checkpoint pointer, if present and parseable. */
  def lastCheckpointVersion(loc: Location): Option[Long] = {
    val ptr = loc.child(LastCheckpointFile)
    if (!ptr.exists) None
    else
      try Json.longOpt(Json.mapper.readTree(ptr.readString()), "version")
      catch { case _: Exception => None }
  }

  /** Read the checkpoint at version `v` into a synthetic base entry. */
  def read(loc: Location, v: Long, conf: Configuration): DeltaLogEntry = {
    val file = loc.child(checkpointFilename(v))
    val reader = ParquetReader
      .builder(new GroupReadSupport(), file.path)
      .withConf(conf)
      .build()
    val lines = Vector.newBuilder[String]
    try {
      var g: Group = reader.read()
      while (g != null) {
        lines += g.getString("json", 0)
        g = reader.read()
      }
    } finally reader.close()
    DeltaLogEntry(LogReader.parseActions(lines.result()))
  }

  /** Load the log via the checkpoint fast path: the checkpoint becomes the
    * base entry at its version; only JSON entries AFTER it are parsed.
    * Returns None when no usable checkpoint exists (caller falls back to
    * full JSON replay). Graft's own checkpoint is preferred; absent one,
    * a GENUINE delta-format checkpoint (e.g. a table delta-spark wrote
    * and log-cleaned) is replayed via [[readDeltaFormat]] — the path that
    * lets graft open a real delta table whose early JSON commits no
    * longer exist.
    */
  def loadFrom(loc: Location, conf: Configuration): Option[DeltaLog] = {
    val graft = lastCheckpointVersion(loc).flatMap { v =>
      try Some(withTail(loc, v, read(loc, v, conf), conf))
      catch { case _: Exception => None }
    }
    graft.orElse(deltaLastCheckpointVersion(loc).flatMap { v =>
      try readDeltaFormat(loc, v, conf).map(withTail(loc, v, _, conf))
      catch {
        // an unreadable/foreign checkpoint falls back to JSON replay;
        // a PROVABLY incomplete one must not — fail loudly instead
        case e: CorruptCheckpointException => throw e
        case _: Exception => None
      }
    }).orElse(loadLatestByListing(loc, conf))
      .orElse(loadFromCompacted(loc))
  }

  /** Checkpointless acceleration: a LOG COMPACTION range anchored at
    * version 0 serves as the base state with the remaining tail replayed
    * on top — the snapshot-open shape of a table that compacts its log
    * but has not checkpointed yet. Per-version views re-replay raw JSON
    * (DeltaTable.withFullHistory's contiguity check), so granularity is
    * never silently lost.
    */
  private def loadFromCompacted(loc: Location): Option[DeltaLog] = {
    if (!loc.exists) return None
    val names = loc.listSorted().map(_.getPath.getName)
    LogCompaction.ranges(names).filter(_._1 == 0L).sortBy(-_._2).iterator
      .flatMap { case (s, e) =>
        try {
          val base = LogCompaction.read(loc, s, e)
          Some(DeltaLog(loc, tailEntries(loc, names,
            SortedMap[Long, DeltaLogEntry](e -> base), e)))
        } catch { case _: Exception => None }
      }.nextOption()
  }

  /** Pointerless discovery: `_last_checkpoint` is a HINT in the delta
    * spec (it can be stale or lost to eventual consistency / partial
    * copies) — a reader must still find checkpoints by LISTING the log,
    * or a log-cleaned table with a dropped pointer opens empty. Only
    * candidates at the NEWEST checkpointed version are tried (graft
    * layout preferred): silently serving an OLDER checkpoint when the
    * newest is unreadable could present stale state, so that case falls
    * through to the caller's (loud) JSON path instead.
    */
  private def loadLatestByListing(loc: Location,
      conf: Configuration): Option[DeltaLog] = {
    if (!loc.exists) return None
    val names = loc.listSorted().map(_.getPath.getName)
    val graftRe = "^(\\d{20})\\.graft-checkpoint\\.parquet$".r
    val deltaRe = "^(\\d{20})\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet$".r
    val candidates =
      (names.flatMap(n => graftRe.findFirstMatchIn(n).map(_.group(1).toLong -> true)) ++
        (names.flatMap(n => deltaRe.findFirstMatchIn(n).map(_.group(1).toLong -> false)) ++
          names.flatMap(n => V2ManifestRe.findFirstMatchIn(n).map(_.group(1).toLong -> false)))
          .distinct)
    if (candidates.isEmpty) return None
    val top = candidates.map(_._1).max
    candidates.filter(_._1 == top).sortBy(c => !c._2).iterator
      .flatMap { case (cv, isGraft) =>
        try {
          if (isGraft) Some(withTail(loc, cv, read(loc, cv, conf), conf))
          else readDeltaFormat(loc, cv, conf).map(withTail(loc, cv, _, conf))
        } catch {
          case e: CorruptCheckpointException =>
            // a PROVABLY incomplete checkpoint found only by LISTING (the
            // partial-copy scenario this path exists for) is recoverable
            // whenever the JSON commits it summarizes still exist: fall
            // back to full JSON replay then. Loud failure is reserved for
            // the case where the checkpoint is the only possible source
            // of truth (the log was cleaned below it).
            val jsonVs = names.collect {
              case n if DeltaLog.EntryFilenameRe.matches(n) =>
                n.split("\\.", 2)(0).toLong
            }.toSet
            if ((0L to cv).forall(jsonVs.contains)) None else throw e
          case _: Exception => None
        }
      }.nextOption()
  }

  /** Checkpoint as the base entry at its version + every later JSON entry. */
  private def withTail(loc: Location, v: Long, base: DeltaLogEntry,
      conf: Configuration): DeltaLog = {
    val names = loc.listSorted().map(_.getPath.getName)
    DeltaLog(loc, tailEntries(loc, names,
      SortedMap[Long, DeltaLogEntry](v -> base), v))
  }

  /** Replay the JSON tail ABOVE `v` into `seed`, consuming a LOG
    * COMPACTION file (`s.e.compacted.json`) in place of its raw commits
    * whenever one starts exactly at the next needed version — at 10³
    * commits between checkpoints that is one read instead of 10³. An
    * unreadable compaction falls back to that range's raw files; raw
    * commits stay authoritative.
    */
  private[graft] def tailEntries(loc: Location, names: Seq[String],
      seed: SortedMap[Long, DeltaLogEntry], v: Long): SortedMap[Long, DeltaLogEntry] = {
    val rawVs = names.filter(DeltaLog.EntryFilenameRe.matches(_))
      .map(DeltaLog.versionOf).filter(_ > v).toSet
    val compacted = LogCompaction.ranges(names).filter(_._1 > v)
    var entries = seed
    val raw = Vector.newBuilder[Long]
    val maxV = (rawVs ++ compacted.map(_._2)).foldLeft(v)(math.max)
    var cur = v + 1
    while (cur <= maxV) {
      val viaCompaction = compacted.filter(_._1 == cur).sortBy(-_._2)
        .iterator.flatMap { case (s, e) =>
          try Some(e -> LogCompaction.read(loc, s, e))
          catch { case _: Exception => None }
        }.nextOption()
      viaCompaction match {
        case Some((e, entry)) =>
          entries = entries.updated(e, entry)
          cur = e + 1
        case None =>
          if (rawVs.contains(cur)) raw += cur
          cur += 1
      }
    }
    val rawRead = raw.result()
    entries ++ rawRead.zip(
      LogReader.readEntries(loc, rawRead.map(DeltaLog.filenameForVersion)))
  }

  /** The newest RETAINED checkpoint at/below `v`, with its JSON tail —
    * the recovery path for time travel below the latest checkpoint on a
    * log-cleaned table. The keep-2 GC retains the previous checkpoint
    * exactly so versions in [previous, latest) stay servable after
    * cleanup; pointer files only name the newest, so candidates come
    * from listing the checkpoint files themselves. Graft's layout is
    * preferred over a same-version delta-format file; unreadable or
    * incomplete candidates are skipped (this is a best-effort recovery —
    * the caller errors loudly when nothing serves `v`).
    */
  def loadFromAtOrBefore(loc: Location, v: Long,
      conf: Configuration): Option[DeltaLog] = {
    if (!loc.exists) return None
    val names = loc.listSorted().map(_.getPath.getName)
    val graftRe = "^(\\d{20})\\.graft-checkpoint\\.parquet$".r
    val deltaRe = "^(\\d{20})\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet$".r
    val candidates =
      (names.flatMap(n => graftRe.findFirstMatchIn(n).map(_.group(1).toLong -> true)) ++
        (names.flatMap(n => deltaRe.findFirstMatchIn(n).map(_.group(1).toLong -> false)) ++
          names.flatMap(n => V2ManifestRe.findFirstMatchIn(n).map(_.group(1).toLong -> false)))
          .distinct)
        .filter(_._1 <= v)
        .sortBy { case (cv, isGraft) => (-cv, !isGraft) }
    candidates.iterator.flatMap { case (cv, isGraft) =>
      try {
        val base =
          if (isGraft) Some(withTail(loc, cv, read(loc, cv, conf), conf))
          else readDeltaFormat(loc, cv, conf).map(withTail(loc, cv, _, conf))
        // the base must actually SERVE v: every commit in (cv, v] still
        // present as JSON. A checkpoint whose tail was also cleaned can
        // answer only its own version — returning it for a later v would
        // silently serve the WRONG version's state.
        base.filter(b => (cv + 1 to v).forall(b.entries.contains))
      } catch { case _: Exception => None }
    }.nextOption()
  }

  // ------------------------------------------------------------------
  // Delta-protocol checkpoint READ: the inverse of the emission above.
  // Supports classic single-file `N.checkpoint.parquet` and multi-part
  // `N.checkpoint.<i>.<n>.parquet` checkpoints (delta's large-table
  // split); v2 sidecar checkpoints are out of scope. Pre-rename graft
  // builds wrote graft's one-json-column layout under delta's names —
  // those are detected by layout and refused here (the graft pointer
  // path above owns them).
  // ------------------------------------------------------------------

  /** Delta's `_last_checkpoint` pointer, if present and parseable. */
  def deltaLastCheckpointVersion(loc: Location): Option[Long] = {
    val ptr = loc.child("_last_checkpoint")
    if (!ptr.exists) None
    else
      try Json.longOpt(Json.mapper.readTree(ptr.readString()), "version")
      catch { case _: Exception => None }
  }

  /** Replay a delta-format checkpoint at version `v` into a synthetic
    * base entry. Each nested-struct row converts back to its canonical
    * one-key NDJSON line (null columns dropped), which [[Action.parse]]
    * already understands — add/remove/metaData/protocol/txn all round
    * trip, including deletionVector refs (they land in the action's
    * `extra` map exactly as a JSON commit's would).
    */
  private[graft] def readDeltaFormat(loc: Location, v: Long,
      conf: Configuration): Option[DeltaLogEntry] = {
    val spark = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .getOrElse(return None)
    val partRe = (f"^$v%020d\\.checkpoint(\\.\\d+\\.\\d+)?\\.parquet$$").r
    // delta V2 checkpoints (delta-spark 3.x default under the
    // `v2Checkpoint` feature) are UUID-named manifests — the hyphens
    // keep them disjoint from the classic `.<i>.<n>.` multipart form
    val v2Re = (f"^$v%020d" + "\\.checkpoint\\.[0-9a-fA-F]{8}-[0-9a-fA-F-]+\\.parquet$").r
    val names = loc.listSorted().map(_.getPath.getName)
    val v2 = names.filter(v2Re.matches(_)).filterNot(isGraftLayout(loc, _, conf))
    val all = names
      .filter(partRe.matches(_))
      .filterNot(isGraftLayout(loc, _, conf))
    if (all.isEmpty && v2.nonEmpty) return readV2(spark, loc, v2.head)
    if (all.isEmpty) return None
    // a single-file and a multi-part checkpoint may coexist at one
    // version (different writers); each form is complete on its own, so
    // prefer the single file and never mix the two in one read — mixing
    // would double-count actions and break the part-count check below
    val multiRe = "\\.(\\d+)\\.(\\d+)\\.parquet$".r
    val (multi, single) = all.partition(n => multiRe.findFirstIn(n).isDefined)
    val parts = if (single.nonEmpty) single else multi
    // multi-part completeness: `<i>.<n>` filenames declare the part
    // count — replaying a subset would silently DROP table state, so a
    // hole is a loud error, not a fallback
    if (single.isEmpty) {
      val declared = multi.flatMap(n =>
        multiRe.findFirstMatchIn(n).map(_.group(2).toInt))
      if (declared.toSet.size != 1 || multi.size != declared.head)
        throw new CorruptCheckpointException(
          s"multi-part checkpoint at version $v is incomplete: " +
            s"found ${multi.size} of ${declared.max} parts — the " +
            "checkpoint is corrupt or partially deleted")
    }
    val lines = restoreStatsJson(spark.read
      .parquet(parts.map(loc.child(_).uri): _*))
      .toJSON.collect() // O(actions) driver-side — metadata scale, same as the graft read
    val actions = lines.iterator
      .filter(l => l.nonEmpty && l != "{}")
      .map(Action.parse)
      .toVector
    if (actions.isEmpty) None else Some(DeltaLogEntry(actions))
  }

  /** Replay a delta V2 checkpoint: the UUID-named manifest carries
    * protocol/metaData/txn/domainMetadata rows plus `checkpointMetadata`
    * and `sidecar` actions; the file actions (add/remove) live in the
    * referenced sidecar parquet files under `_delta_log/_sidecars/`.
    * Inline file actions in the manifest (spec-legal) are kept too. The
    * two bookkeeping actions are consumed here and excluded from table
    * state. A referenced-but-missing sidecar is a LOUD corrupt-checkpoint
    * error — replaying a subset would silently drop table state.
    */
  private def readV2(spark: org.apache.spark.sql.SparkSession, loc: Location,
      manifest: String): Option[DeltaLogEntry] = {
    val rows = restoreStatsJson(spark.read.parquet(loc.child(manifest).uri))
      .toJSON.collect()
    val parsed = rows.iterator
      .filter(l => l.nonEmpty && l != "{}")
      .map(Action.parse)
      .toVector
    val sidecarNames = parsed.collect {
      case r: RawAction if r.actionName == "sidecar" =>
        Json.strOpt(r.body, "path").getOrElse(
          throw new CorruptCheckpointException(
            s"v2 checkpoint $manifest has a sidecar action without a path"))
    }
    val sidecarLocs = sidecarNames.map(loc.child("_sidecars").child(_))
    val missing = sidecarLocs.filterNot(_.exists)
    if (missing.nonEmpty)
      throw new CorruptCheckpointException(
        s"v2 checkpoint $manifest references missing sidecar file(s) " +
          missing.map(_.uri).mkString(", "))
    val sidecarActions =
      if (sidecarLocs.isEmpty) Vector.empty
      else restoreStatsJson(spark.read.parquet(sidecarLocs.map(_.uri): _*))
        .toJSON.collect().iterator
        .filter(l => l.nonEmpty && l != "{}")
        .map(Action.parse)
        .toVector
    val state = parsed.filterNot {
      case r: RawAction => r.actionName == "sidecar" ||
        r.actionName == "checkpointMetadata"
      case _ => false
    }
    val entry = DeltaLogEntry(state ++ sidecarActions)
    if (entry.actions.isEmpty) None else Some(entry)
  }
}
