package graft.log

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordConsumer, RecordMaterializer}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.io.{ColumnIOFactory, OutputFile}
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, MessageTypeParser, Type, Types}
import org.apache.spark.sql.types._

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

/** Log checkpoints: a parquet snapshot of the table state at version V, so
  * opening a long-lived table replays ONE checkpoint plus the JSON
  * entries after V instead of every commit since version 0.
  *
  * Format: delta's own checkpoint — one nullable struct column per action
  * type (`add`, `remove`, `metaData`, …), one action per row — as a
  * classic `%020d.checkpoint.parquet`, a multi-part
  * `%020d.checkpoint.<i>.<n>.parquet` set past [[DeltaCheckpointPartSize]]
  * actions, or a V2 UUID-named manifest plus `_sidecars/` files, found
  * through `_last_checkpoint`. Any Delta-protocol engine replays it, and
  * graft writes and reads it on the driver with parquet-mr: the parquet
  * schema comes from [[deltaCheckpointSchema]] and rows map to and from
  * each action's JSON body field by field, with no Spark job and no JSON
  * text in between.
  *
  * Earlier builds also wrote a graft-only layout (one `json` column,
  * `%020d.graft-checkpoint.parquet`, `_graft_last_checkpoint`). It is read,
  * never written: [[read]] opens a table whose newest checkpoint is one,
  * and the keep-2 GC retires those files once two newer checkpoints exist.
  */
object Checkpoint {

  /** A checkpoint that EXISTS but cannot be replayed completely (e.g. a
    * multi-part checkpoint with a missing part). Never swallowed into
    * the JSON-replay fallback: with commits log-cleaned below the
    * checkpoint, a partial replay would silently drop table state.
    */
  final class CorruptCheckpointException(msg: String)
      extends IllegalStateException(msg)

  /** Pointer of the retired graft layout (read, never written). */
  val LastCheckpointFile = "_graft_last_checkpoint"

  private val DeltaPointerFile = "_last_checkpoint"

  /** Row layout of the retired graft checkpoint: one action JSON line per row. */
  private[graft] val graftLayoutSchema = MessageTypeParser.parseMessageType(
    "message graft_checkpoint { required binary json (UTF8); }")

  /** File name of a retired graft-layout checkpoint. */
  def checkpointFilename(v: Long): String = f"$v%020d.graft-checkpoint.parquet"

  /** Field-order-insensitive identity of a `deletionVector` descriptor
    * (graft sidecar or delta-spec fields alike) — the dv half of delta's
    * (path, dvUniqueId) reconciliation tuple. Raw node.toString depends
    * on JSON field insertion order, which a checkpoint round trip
    * reorders.
    */
  private[graft] def descriptorId(extra: Map[String, JsonNode]): String =
    extra.get("deletionVector").map { n =>
      Seq("storageType", "pathOrInlineDv", "offset", "sizeInBytes",
        "cardinality", "sidecar")
        .map(f => Option(n.get(f)).filterNot(_.isNull)
          .map(_.asText).getOrElse("")).mkString("|")
    }.getOrElse("")

  /** Snapshot-state actions at the log's head: protocol, latest metadata,
    * the latest `txn` per streaming app (so idempotent sinks keep their
    * progress across the checkpoint fast path, as Delta checkpoints do),
    * live domain metadata, unexpired tombstones and every live add
    * (replay result, not history). No commitInfo: the commit clock comes
    * from the checkpoint version's own commit file ([[withHeadCommit]]).
    */
  private[graft] def snapshotActions(dlog: DeltaLog): Seq[Action] = {
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
      tombstones ++ dlog.addActions.values
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

  /** Write the checkpoint for the log's current version, point
    * `_last_checkpoint` at it and drop superseded checkpoints. Every file
    * appears by rename, so a reader never opens a half-written one, and
    * the pointer is written after the last of them.
    */
  def write(dlog: DeltaLog, conf: Configuration,
      maxActionsPerPart: Int = DeltaCheckpointPartSize): Unit = {
    val v = dlog.version
    val loc = dlog.loc
    // one directory read on file: (Location.listNames): on a log of
    // thousands of commits, listStatus's stat per entry costs about as
    // much as writing the checkpoint
    val names = loc.listNames()
    // idempotent: a checkpoint is a pure function of the version's
    // snapshot, so if another writer already checkpointed v there is
    // nothing to add — and REWRITING it would yank the file out from
    // under concurrent readers mid-scan (r13 torture finding)
    if (names.exists(checkpointOf(_).exists(_._1 == v))) return
    val actions = snapshotActions(dlog)
    val cfg = dlog.latestMetadata.map(_.configuration).getOrElse(Map.empty)
    val stats =
      if (cfg.get("delta.checkpoint.writeStatsAsStruct").contains("true")) statsStructType(dlog)
      else None
    val dropJson = stats.isDefined && cfg.get("delta.checkpoint.writeStatsAsJson").contains("false")
    val schema = stats.fold(deltaCheckpointSchema)(st => StructType(deltaCheckpointSchema.map {
      case f if f.name == "add" => f.copy(dataType = f.dataType.asInstanceOf[StructType].add("stats_parsed", st))
      case f => f
    }))
    def rows(as: Seq[Action]): Seq[(String, JsonNode)] = as.map { a =>
      val b = a.bodyNode
      if (stats.isDefined && a.isInstanceOf[AddFile]) {
        Option(b.get("stats")).filter(_.isTextual).foreach { s =>
          try b.set[JsonNode]("stats_parsed", Json.mapper.readTree(s.asText))
          catch { case _: Exception => () }
        }
        if (dropJson) b.remove("stats")
      }
      a.actionName -> b
    }
    val pointer = s"""{"version":$v,"size":${actions.size}"""
    val written =
      if (wantsV2(dlog)) {
        val (fileActs, stateActs) =
          actions.partition(a => a.isInstanceOf[AddFile] || a.isInstanceOf[RemoveFile])
        val sidecarDir = loc.child("_sidecars")
        if (fileActs.nonEmpty) sidecarDir.mkdirs()
        val sidecarSchema = StructType(schema.filter(f => f.name == "add" || f.name == "remove"))
        val refs = LogReader.inOrder(fileActs.grouped(maxActionsPerPart).map { part => () =>
          val name = f"$v%020d-${java.util.UUID.randomUUID()}.parquet"
          writeFile(sidecarDir, name, sidecarSchema, rows(part), conf)
          val st = sidecarDir.child(name).status
          val ref = Json.obj().put("path", name).put("sizeInBytes", st.getLen)
            .put("modificationTime", st.getModificationTime)
          "sidecar" -> (ref: JsonNode)
        }.toSeq)
        val manifest = f"$v%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"
        writeFile(loc, manifest, v2ManifestSchema, rows(stateActs) ++
          Seq("checkpointMetadata" -> Json.obj().put("version", v)) ++ refs, conf)
        loc.child(DeltaPointerFile).writeString(pointer + "}")
        Seq(manifest)
      } else {
        val parts = actions.grouped(maxActionsPerPart).toSeq
        val n = parts.size
        val partNames =
          if (n == 1) Seq(f"$v%020d.checkpoint.parquet")
          else (1 to n).map(i => f"$v%020d.checkpoint.$i%010d.$n%010d.parquet")
        // parts (like sidecars) are independent files, so they write in
        // parallel; the pointer publishes them together
        LogReader.inOrder(parts.zip(partNames).map { case (part, name) =>
          () => writeFile(loc, name, schema, rows(part), conf)
        })
        loc.child(DeltaPointerFile)
          .writeString(pointer + (if (n > 1) s""","parts":$n}""" else "}"))
        partNames
      }
    gcOldCheckpoints(loc, names ++ written, keep = 2)
  }

  /** Delta's classic checkpoint schema: the columns delta-spark writes,
    * and the parquet schema [[messageType]] derives. Beyond the basics:
    *  - the protocol's table-features lists, or a reader-3/writer-7 table
    *    reads back as (3,7)-with-no-features;
    *  - `deletionVector` on add AND remove: MoR state survives, and the
    *    spec-DV remove+add pairing keeps its tombstones. Next to delta's
    *    descriptor fields it carries graft's legacy `sidecar` ref, whose
    *    storageType stays null, so a foreign reader fails LOUDLY on such
    *    a file instead of resurrecting its deleted rows;
    *  - rowTracking's `baseRowId` / `defaultRowCommitVersion`, the one
    *    place a log-cleaned foreign reader finds each file's row ids.
    */
  private[graft] lazy val deltaCheckpointSchema: StructType = {
    val strMap = "MAP<STRING, STRING>"
    val dv = "STRUCT<storageType: STRING, pathOrInlineDv: STRING, offset: INT, " +
      "sizeInBytes: INT, cardinality: BIGINT, sidecar: STRING>"
    StructType.fromDDL(
      "txn STRUCT<appId: STRING, version: BIGINT, lastUpdated: BIGINT>, " +
        s"add STRUCT<path: STRING, partitionValues: $strMap, size: BIGINT, " +
        "modificationTime: BIGINT, dataChange: BOOLEAN, stats: STRING, " +
        s"tags: $strMap, deletionVector: $dv, baseRowId: BIGINT, " +
        "defaultRowCommitVersion: BIGINT>, " +
        "remove STRUCT<path: STRING, deletionTimestamp: BIGINT, dataChange: BOOLEAN, " +
        s"extendedFileMetadata: BOOLEAN, partitionValues: $strMap, size: BIGINT, " +
        s"deletionVector: $dv, baseRowId: BIGINT, defaultRowCommitVersion: BIGINT>, " +
        "metaData STRUCT<id: STRING, name: STRING, description: STRING, " +
        s"format: STRUCT<provider: STRING, options: $strMap>, schemaString: STRING, " +
        s"partitionColumns: ARRAY<STRING>, configuration: $strMap, createdTime: BIGINT>, " +
        "domainMetadata STRUCT<domain: STRING, configuration: STRING, removed: BOOLEAN>, " +
        "protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT, " +
        "readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>")
  }

  /** `delta.checkpoint.writeStatsAsStruct` / `writeStatsAsJson` (delta's
    * checkpoint stats layout properties): with stats-as-struct on, every
    * `add` row of the checkpoint carries a TYPED `stats_parsed` struct
    * (numRecords / minValues / maxValues / nullCount over the table's
    * physical leaf columns) so a delta reader does data skipping straight
    * off parquet column values instead of parsing 10⁵ JSON strings per
    * plan; `writeStatsAsJson=false` additionally nulls the JSON string
    * column (the struct becomes authoritative — delta's layout for
    * wide-schema tables where double-stored stats dominate checkpoint
    * size). The typed schema is the physical leaf schema, so column-mapped
    * tables stat under physical names exactly like their JSON stats do.
    */
  private def statsStructType(dlog: DeltaLog): Option[StructType] = {
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
          // must survive the struct round-trip (absent stays absent)
          Seq(StructField("tightBounds", BooleanType)))
    }
  }

  /** Actions per part of a classic checkpoint (and per V2 sidecar): past
    * it the checkpoint becomes delta's MULTI-PART layout
    * (`N.checkpoint.<i>.<n>.parquet`), whose parts are written and read
    * in parallel — row-to-part assignment is arbitrary per the spec,
    * readers must consume all `n` parts.
    */
  private[graft] val DeltaCheckpointPartSize = 50000

  /** Manifest schema for delta V2 checkpoints: the classic per-action
    * struct columns PLUS the two V2 bookkeeping actions —
    * `checkpointMetadata` (declares the checkpoint's version inside the
    * file itself) and `sidecar` (one row per referenced sidecar file).
    * File actions live in the sidecars; the manifest's add/remove columns
    * stay all-null (spec-legal — a reader must take file actions from
    * wherever they appear).
    */
  private[graft] lazy val v2ManifestSchema: StructType = deltaCheckpointSchema
    .add("checkpointMetadata", StructType.fromDDL("version BIGINT, tags MAP<STRING, STRING>"))
    .add("sidecar", StructType.fromDDL(
      "path STRING, sizeInBytes BIGINT, modificationTime BIGINT, tags MAP<STRING, STRING>"))

  // ------------------------------------------------------------------
  // The codec: Spark-typed schema -> parquet schema; JSON action bodies
  // -> parquet rows (write); parquet rows -> JSON action bodies (read).
  // ------------------------------------------------------------------

  /** The parquet form of a Spark schema, in Spark's own layout (3-level
    * lists, `key_value` maps), so Spark and other engines read it back as
    * the same types.
    */
  private def messageType(st: StructType): MessageType =
    new MessageType("spark_schema", st.fields.map(f =>
      parquetType(f.name, f.dataType, Type.Repetition.OPTIONAL)): _*)

  private def parquetType(name: String, dt: DataType, rep: Type.Repetition): Type = {
    import PrimitiveTypeName._
    def prim(p: PrimitiveTypeName, l: LogicalTypeAnnotation = null): Type = {
      val b = Types.primitive(p, rep)
      (if (l == null) b else b.as(l)).named(name)
    }
    dt match {
      case s: StructType => Types.buildGroup(rep).addFields(s.fields.map(f =>
        parquetType(f.name, f.dataType, Type.Repetition.OPTIONAL)): _*).named(name)
      case m: MapType => Types.buildGroup(rep).as(mapType()).addField(
        Types.repeatedGroup()
          .addField(parquetType("key", m.keyType, Type.Repetition.REQUIRED))
          .addField(parquetType("value", m.valueType, Type.Repetition.OPTIONAL))
          .named("key_value")).named(name)
      case a: ArrayType => Types.buildGroup(rep).as(listType()).addField(
        Types.repeatedGroup()
          .addField(parquetType("element", a.elementType, Type.Repetition.OPTIONAL))
          .named("list")).named(name)
      case StringType => prim(BINARY, stringType())
      case LongType => prim(INT64)
      case IntegerType => prim(INT32)
      case ShortType => prim(INT32, intType(16, true))
      case ByteType => prim(INT32, intType(8, true))
      case BooleanType => prim(BOOLEAN)
      case DoubleType => prim(DOUBLE)
      case FloatType => prim(FLOAT)
      case DateType => prim(INT32, dateType())
      case TimestampType => prim(INT64, timestampType(true, TimeUnit.MICROS))
      case TimestampNTZType => prim(INT64, timestampType(false, TimeUnit.MICROS))
      case d: DecimalType => prim(BINARY, decimalType(d.scale, d.precision))
      case other => throw new IllegalArgumentException(s"no checkpoint encoding for $other")
    }
  }

  /** Stats render timestamps at full microsecond precision (Statistics). */
  private val tsFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(ZoneOffset.UTC)

  /** The writer of one JSON leaf as its parquet value, or null when the
    * value does not fit the declared type (the field is then written as
    * null, as Spark's schema-driven JSON parse would).
    */
  private def leaf(dt: DataType, v: JsonNode): RecordConsumer => Unit = try dt match {
    case StringType =>
      val b = Binary.fromString(if (v.isContainerNode) v.toString else v.asText); _.addBinary(b)
    case BooleanType if v.isBoolean => _.addBoolean(v.booleanValue)
    case LongType if v.isNumber => _.addLong(v.longValue)
    case IntegerType | ShortType | ByteType if v.isNumber => _.addInteger(v.intValue)
    case DoubleType | FloatType =>
      val d = if (v.isNumber) v.doubleValue else java.lang.Double.parseDouble(v.asText)
      if (dt == FloatType) _.addFloat(d.toFloat) else _.addDouble(d)
    case d: DecimalType if v.isNumber =>
      val b = v.decimalValue.setScale(d.scale, java.math.RoundingMode.HALF_UP)
      val bin = Binary.fromConstantByteArray(b.unscaledValue.toByteArray)
      if (b.precision > d.precision) null else _.addBinary(bin)
    case DateType =>
      val day = LocalDate.parse(v.asText.take(10)).toEpochDay.toInt; _.addInteger(day)
    case TimestampType | TimestampNTZType =>
      val i = try OffsetDateTime.parse(v.asText).toInstant
        catch { case _: Exception => LocalDateTime.parse(v.asText).toInstant(ZoneOffset.UTC) }
      val us = Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
      _.addLong(us)
    case _ => null
  } catch { case _: Exception => null }

  /** Writes one action per row: the column named by the action gets its
    * body, walked field by field along the Spark schema; absent, null and
    * unknown body fields stay null.
    */
  private final class RowWriteSupport(schema: StructType)
      extends WriteSupport[(String, JsonNode)] {
    private var rc: RecordConsumer = _
    private val index = schema.fieldNames.zipWithIndex.toMap

    def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(messageType(schema),
        java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", schema.json))
    def prepareForWrite(c: RecordConsumer): Unit = rc = c
    def write(row: (String, JsonNode)): Unit = {
      rc.startMessage()
      val i = index(row._1)
      field(row._1, i, schema(i).dataType, row._2)
      rc.endMessage()
    }

    private def field(name: String, i: Int, dt: DataType, v: JsonNode): Unit =
      if (v != null && !v.isNull) dt match {
        case st: StructType if v.isObject => group(name, i) {
          st.fields.iterator.zipWithIndex.foreach { case (f, j) => field(f.name, j, f.dataType, v.get(f.name)) }
        }
        case m: MapType if v.isObject => group(name, i)(repeated("key_value", v.fields.asScala.map { e =>
          () => { field("key", 0, m.keyType, Json.text(e.getKey)); field("value", 1, m.valueType, e.getValue) }
        }))
        case a: ArrayType if v.isArray => group(name, i)(repeated("list",
          v.elements.asScala.map(e => () => field("element", 0, a.elementType, e))))
        case _: StructType | _: MapType | _: ArrayType => ()
        case _ =>
          val w = leaf(dt, v)
          if (w != null) { rc.startField(name, i); w(rc); rc.endField(name, i) }
      }

    private def group(name: String, i: Int)(body: => Unit): Unit = {
      rc.startField(name, i); rc.startGroup()
      body
      rc.endGroup(); rc.endField(name, i)
    }

    /** A map's or list's repeated child: one group per entry. */
    private def repeated(name: String, entries: Iterator[() => Unit]): Unit =
      if (entries.hasNext) {
        rc.startField(name, 0)
        entries.foreach { e => rc.startGroup(); e(); rc.endGroup() }
        rc.endField(name, 0)
      }
  }

  private final class RowWriterBuilder(file: OutputFile, schema: StructType)
      extends ParquetWriter.Builder[(String, JsonNode), RowWriterBuilder](file) {
    def self(): RowWriterBuilder = this
    def getWriteSupport(conf: Configuration): WriteSupport[(String, JsonNode)] =
      new RowWriteSupport(schema)
  }

  /** Write `rows` to `dir/name` through a temp file and a rename. An
    * existing `name` is never replaced: it is another writer's copy of
    * the same snapshot, and a reader may be mid-scan of it.
    */
  private def writeFile(dir: Location, name: String, schema: StructType,
      rows: Seq[(String, JsonNode)], conf: Configuration): Unit = {
    val tmp = dir.child(s"_ckpt_tmp-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
    try {
      val w = new RowWriterBuilder(HadoopOutputFile.fromPath(tmp.path, conf), schema)
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
      try rows.foreach(w.write) finally w.close()
    } catch { case e: Exception => scala.util.Try(tmp.delete()); throw e } // no stray temp file
    val dest = dir.child(name)
    if (dest.exists || !dest.fs.rename(tmp.path, dest.path)) {
      tmp.delete()
      if (!dest.exists)
        throw new java.io.IOException(s"rename ${tmp.path} -> ${dest.path} failed")
    }
  }

  private val nodes = JsonNodeFactory.instance

  /** A converter that hands each decoded value of `t` to `set`: structs
    * become objects of their non-null fields, maps objects, lists arrays,
    * and leaves the JSON values a commit holds (dates and timestamps as
    * the strings Statistics writes).
    */
  private def converterFor(t: Type, set: JsonNode => Unit): Converter =
    if (t.isPrimitive) {
      val l = t.getLogicalTypeAnnotation
      def decimal(unscaled: java.math.BigInteger): Unit = set(nodes.numberNode(new java.math.BigDecimal(
        unscaled, l.asInstanceOf[DecimalLogicalTypeAnnotation].getScale)))
      def ts(us: Long): Unit = set(Json.text(tsFormatter.format(Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))))
      val int96 = t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT96
      new PrimitiveConverter {
        override def addBinary(b: Binary): Unit =
          if (int96) {
            val bb = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanos = bb.getLong
            ts((bb.getInt - 2440588L) * 86400000000L + nanos / 1000L)
          } else if (l.isInstanceOf[DecimalLogicalTypeAnnotation]) decimal(new java.math.BigInteger(b.getBytes))
          else set(Json.text(b.toStringUsingUTF8))
        override def addInt(v: Int): Unit = l match {
          case _: DateLogicalTypeAnnotation => set(Json.text(LocalDate.ofEpochDay(v).toString))
          case _: DecimalLogicalTypeAnnotation => decimal(java.math.BigInteger.valueOf(v))
          case _ => set(nodes.numberNode(v))
        }
        override def addLong(v: Long): Unit = l match {
          case t: TimestampLogicalTypeAnnotation =>
            ts(if (t.getUnit == TimeUnit.MILLIS) v * 1000L else if (t.getUnit == TimeUnit.NANOS) v / 1000L else v)
          case _: DecimalLogicalTypeAnnotation => decimal(java.math.BigInteger.valueOf(v))
          case _ => set(Json.num(v))
        }
        override def addBoolean(v: Boolean): Unit = set(Json.bool(v))
        override def addFloat(v: Float): Unit = set(nodes.numberNode(v))
        override def addDouble(v: Double): Unit = set(Json.num(v))
      }
    } else {
      val g = t.asGroupType
      // a map or list decodes its repeated child as an array of
      // {key, value} / {element} objects, then folds it
      if (g.isRepetition(Type.Repetition.REPEATED)) new Fields(g, set)
      else g.getLogicalTypeAnnotation match {
        case _: MapLogicalTypeAnnotation => new Repeated(g, set, { entries =>
          val o = Json.obj()
          entries.forEach(e => Option(e.get("key")).foreach(k =>
            o.set[JsonNode](k.asText, Option(e.get("value")).getOrElse(Json.nul))))
          o
        })
        case _: ListLogicalTypeAnnotation => new Repeated(g, set, { items =>
          val a = nodes.arrayNode()
          items.forEach(i => a.add(if (!i.isObject) i else Option(i.get("element")).getOrElse(Json.nul)))
          a
        })
        case _ => new Fields(g, set)
      }
    }

  private final class Fields(g: GroupType, set: JsonNode => Unit) extends GroupConverter {
    private var cur: ObjectNode = _
    private val children = g.getFields.asScala.map(f =>
      converterFor(f, n => cur.set[JsonNode](f.getName, n))).toArray
    def getConverter(i: Int): Converter = children(i)
    def start(): Unit = cur = Json.obj()
    def end(): Unit = set(cur)
  }

  private final class Repeated(g: GroupType, set: JsonNode => Unit,
      fold: ArrayNode => JsonNode) extends GroupConverter {
    private var cur: ArrayNode = _
    private val entry = converterFor(g.getType(0), n => cur.add(n))
    def getConverter(i: Int): Converter = entry
    def start(): Unit = cur = nodes.arrayNode()
    def end(): Unit = set(fold(cur))
  }

  /** The (action name, body) rows of one checkpoint parquet file, or
    * None for a pre-rename graft-layout file under a delta name: its
    * footer, read here anyway, carries graft's one-`json`-column schema.
    * Only action columns that hold a value are read: a column whose every
    * leaf the footer statistics show all-null (`txn` or `remove` on most
    * tables) is skipped, and so are `*_parsed` copies other than
    * `add.stats_parsed` (which restores stats a writer left only in typed
    * form). The `add` column, which holds nearly every row, decodes on a
    * second reader in parallel with the rest.
    */
  private def readRows(file: Location, conf: Configuration): Option[Vector[(String, ObjectNode)]] = {
    val input = HadoopInputFile.fromPath(file.path, conf)
    // read options over the caller's conf: the no-conf overload builds a
    // fresh Hadoop Configuration per open (~10 ms, more than the decode)
    def open() = ParquetFileReader.open(input, HadoopReadOptions.builder(conf, file.path).build())
    val first = open()
    val footer = first.getFooter
    val fileSchema = footer.getFileMetaData.getSchema
    if (fileSchema == graftLayoutSchema) { first.close(); return None }
    val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
    def allNull(col: String): Boolean = chunks.filter(_.getPath.toArray.head == col).forall { c =>
      val st = c.getStatistics
      st != null && st.isNumNullsSet && st.getNumNulls == c.getValueCount
    }
    val actionCols = fileSchema.getFields.asScala.toSeq
      .filter(f => !f.isPrimitive && !allNull(f.getName)).map { f =>
        val g = f.asGroupType
        g.withNewFields(g.getFields.asScala.filterNot(c =>
          c.getName.endsWith("_parsed") && !(f.getName == "add" && c.getName == "stats_parsed")).asJava)
      }
    val (adds, rest) = actionCols.partition(_.getName == "add")
    val groups = Seq(rest, adds).filter(_.nonEmpty)
    if (groups.isEmpty) { first.close(); return Some(Vector.empty) }
    Some(LogReader.inOrder(groups.zipWithIndex.map { case (cols, i) =>
      () => decode(if (i == 0) first else open(), fileSchema, cols)
    }).flatten)
  }

  /** Decode the `cols` columns of every row group of `reader` (and close it). */
  private def decode(reader: ParquetFileReader, fileSchema: MessageType,
      cols: Seq[GroupType]): Vector[(String, ObjectNode)] =
    try {
      val requested = new MessageType(fileSchema.getName, cols.map(t => t: Type).asJava)
      reader.setRequestedSchema(requested)
      val rows = Vector.newBuilder[(String, ObjectNode)]
      val root = new Fields(requested, _.fields.forEachRemaining(c =>
        rows += (c.getKey -> c.getValue.asInstanceOf[ObjectNode])))
      val materializer = new RecordMaterializer[AnyRef] {
        def getCurrentRecord: AnyRef = null
        def getRootConverter: GroupConverter = root
      }
      val io = new ColumnIOFactory().getColumnIO(requested, fileSchema)
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, materializer)
        var i = 0L
        while (i < pages.getRowCount) { records.read(); i += 1 }
        pages = reader.readNextRowGroup()
      }
      rows.result()
    } finally reader.close()

  /** Rows to actions. An add whose JSON stats are absent gets them back
    * from `stats_parsed` (ours or a foreign writer's, under
    * `writeStatsAsJson=false`), so stats pruning and metadata-only COUNT
    * work unchanged on struct-stats tables.
    */
  private def toActions(rows: IndexedSeq[(String, ObjectNode)]): Vector[Action] = {
    def toAction(name: String, body: ObjectNode): Action = {
      if (name == "add") Option(body.remove("stats_parsed")).foreach { sp =>
        if (body.get("stats") == null) body.put("stats", Json.mapper.writeValueAsString(sp))
      }
      Action.fromBody(name, body)
    }
    // in chunks on the log pool, as LogReader.parseActions does for lines
    LogReader.inOrder(rows.grouped(4096).map(c => () => c.map(r => toAction(r._1, r._2))).toSeq)
      .flatten
  }

  // ------------------------------------------------------------------
  // Discovery, GC and the fast-path load.
  // ------------------------------------------------------------------

  private val GraftCheckpointRe = "^(\\d+)\\.graft-checkpoint\\.parquet$".r
  private val ClassicCheckpointRe = "^(\\d+)\\.checkpoint\\.parquet$".r
  private val MultiPartCheckpointRe = "^(\\d+)\\.checkpoint\\.\\d+\\.(\\d+)\\.parquet$".r
  private val V2ManifestRe =
    "^(\\d+)\\.checkpoint\\.[0-9a-fA-F]{8}-[0-9a-fA-F-]+\\.parquet$".r

  /** (version, graft layout?) of a checkpoint file name. */
  private def checkpointOf(name: String): Option[(Long, Boolean)] = name match {
    case GraftCheckpointRe(v) => Some(v.toLong -> true)
    case ClassicCheckpointRe(v) => Some(v.toLong -> false)
    case MultiPartCheckpointRe(v, _) => Some(v.toLong -> false)
    case V2ManifestRe(v) => Some(v.toLong -> false)
    case _ => None
  }

  /** Drop superseded checkpoint files, keeping the newest `keep` versions
    * across every layout, so a reader that just fetched a pointer never
    * loses its file and time travel in [previous, latest) stays servable
    * after log cleanup. A retired graft-layout checkpoint goes like any
    * other, and its pointer with the last of them. Pre-rename graft files
    * under delta's names carry a checkpoint's version too and go once
    * superseded. `names` is the log listing the caller already holds.
    */
  private def gcOldCheckpoints(loc: Location, names: Seq[String], keep: Int): Unit = {
    def delete(l: Location): Unit =
      try loc.fs.delete(l.path, false) catch { case _: Exception => () }
    val byVersion = names.flatMap(n => checkpointOf(n).map(c => (c._1, n, c._2)))
      .groupBy(_._1)
    val dropped = byVersion.keys.toSeq.sorted.dropRight(keep)
    dropped.foreach { v =>
      byVersion(v).foreach(c => delete(loc.child(c._2)))
      // graft-written v2 sidecars carry the checkpoint version as a name
      // prefix, so a superseded checkpoint's sidecars are attributable
      // (and deletable) without reading its manifest; foreign sidecars
      // (bare-uuid names) never match and are left for their own engine
      val sidecarDir = loc.child("_sidecars")
      if (byVersion(v).exists(c => V2ManifestRe.matches(c._2)) && sidecarDir.exists) {
        val prefix = f"$v%020d-"
        try sidecarDir.listSorted()
          .filter(_.getPath.getName.startsWith(prefix))
          .foreach(st => delete(sidecarDir.child(st.getPath.getName)))
        catch { case _: Exception => () }
      }
    }
    val graftLeft = byVersion.exists { case (v, cs) => !dropped.contains(v) && cs.exists(_._3) }
    if (!graftLeft && names.contains(LastCheckpointFile)) delete(loc.child(LastCheckpointFile))
  }

  private def pointerVersion(loc: Location, file: String): Option[Long] =
    try Json.longOpt(Json.mapper.readTree(loc.child(file).readString()), "version")
    catch { case _: Exception => None }

  /** Version of the newest checkpoint a pointer names: `_last_checkpoint`
    * or, on a table that still has one, the retired graft pointer —
    * whichever is newer, so a stale graft pointer never wins.
    */
  def lastCheckpointVersion(loc: Location): Option[Long] =
    (pointerVersion(loc, DeltaPointerFile) ++ pointerVersion(loc, LastCheckpointFile)).maxOption

  /** Read a retired graft-layout checkpoint at version `v`: one action
    * JSON line per row, the head commitInfo among them.
    */
  def read(loc: Location, v: Long, conf: Configuration): DeltaLogEntry = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), loc.child(checkpointFilename(v)).path)
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

  /** Replay the delta-format checkpoint at version `v` (classic single
    * file, multi-part or V2) into a synthetic base entry, on the driver.
    * None when no replayable checkpoint exists at `v`.
    */
  private[graft] def readDeltaFormat(loc: Location, v: Long,
      conf: Configuration): Option[DeltaLogEntry] =
    readDelta(loc, v, loc.listNames(), conf)

  private def readDelta(loc: Location, v: Long, names: Seq[String],
      conf: Configuration): Option[DeltaLogEntry] = {
    val prefix = f"$v%020d.checkpoint."
    val atV = names.filter(_.startsWith(prefix))
    // a single-file and a multi-part checkpoint may coexist at one
    // version (different writers); each form is complete on its own, so
    // prefer the single file and never mix the two in one read — mixing
    // would double-count actions and break the part-count check below
    val single = atV.filter(ClassicCheckpointRe.matches(_))
    val multi = atV.collect { case n @ MultiPartCheckpointRe(_, total) => n -> total.toInt }
    val v2 = atV.filter(V2ManifestRe.matches(_))
    val rows =
      if (single.nonEmpty) readRows(loc.child(single.head), conf)
      else if (multi.nonEmpty) {
        // multi-part completeness: `<i>.<n>` filenames declare the part
        // count — replaying a subset would silently DROP table state, so
        // a hole is a loud error, not a fallback
        val declared = multi.map(_._2).distinct
        if (declared.size != 1 || multi.size != declared.head)
          throw new CorruptCheckpointException(
            s"multi-part checkpoint at version $v is incomplete: " +
              s"found ${multi.size} of ${declared.max} parts — the " +
              "checkpoint is corrupt or partially deleted")
        val parts = LogReader.inOrder(multi.map(p => () => readRows(loc.child(p._1), conf)))
        if (parts.contains(None)) None else Some(parts.flatten.flatten)
      } else v2.headOption.flatMap(readV2(loc, _, conf))
    rows.map(toActions).filter(_.nonEmpty).map(DeltaLogEntry(_))
  }

  /** Rows of a delta V2 checkpoint: the UUID-named manifest carries
    * protocol/metaData/txn/domainMetadata rows plus `checkpointMetadata`
    * and `sidecar` actions; the file actions (add/remove) live in the
    * referenced sidecar parquet files under `_delta_log/_sidecars/`.
    * Inline file actions in the manifest (spec-legal) are kept too. The
    * two bookkeeping actions are consumed here and excluded from table
    * state. A referenced-but-missing sidecar is a LOUD corrupt-checkpoint
    * error — replaying a subset would silently drop table state.
    */
  private def readV2(loc: Location, manifest: String,
      conf: Configuration): Option[Vector[(String, ObjectNode)]] =
    readRows(loc.child(manifest), conf).map { rows =>
      val (refs, state) = rows.partition(_._1 == "sidecar")
      val sidecars = refs.map { case (_, r) =>
        loc.child("_sidecars").child(Json.strOpt(r, "path").getOrElse(
          throw new CorruptCheckpointException(
            s"v2 checkpoint $manifest has a sidecar action without a path")))
      }
      val fileRows = LogReader.inOrder(sidecars.map(s => () =>
        try readRows(s, conf).getOrElse(Vector.empty)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new CorruptCheckpointException(
              s"v2 checkpoint $manifest references missing sidecar file ${s.uri}")
        }))
      state.filterNot(_._1 == "checkpointMetadata") ++ fileRows.flatten
    }

  /** The delta-format checkpoint at `v` as a base entry, with the
    * commitInfo of `v`'s own commit file when it survives (cleanupLog
    * keeps it): a spec checkpoint carries no commitInfo, and without it
    * the monotonic commit clamp and timestampAsOf would lose their anchor
    * after a fast-path load whose JSON tail is empty.
    */
  private def withHeadCommit(loc: Location, v: Long, names: Seq[String],
      conf: Configuration): Option[DeltaLogEntry] =
    readDelta(loc, v, names, conf).map { e =>
      val commit = DeltaLog.filenameForVersion(v)
      val head =
        if (!names.contains(commit)) Vector.empty
        else try loc.child(commit).readString().linesIterator
          .filter(_.contains("\"commitInfo\"")).map(Action.parse)
          .collect { case c: CommitInfo => c }.toVector
        catch { case _: Exception => Vector.empty }
      DeltaLogEntry(e.actions ++ head)
    }

  /** The checkpoint at `v` in either layout as the base entry at its
    * version, with every later JSON entry on top.
    */
  private def loadAt(loc: Location, v: Long, graft: Boolean, names: Seq[String],
      conf: Configuration): Option[DeltaLog] =
    (if (graft) Some(read(loc, v, conf)) else withHeadCommit(loc, v, names, conf))
      .map(base => DeltaLog(loc, tailEntries(loc, names, SortedMap(v -> base), v)))

  /** Load the log via the checkpoint fast path: the checkpoint becomes the
    * base entry at its version; only JSON entries AFTER it are parsed, and
    * the log is listed once (one directory read on file:, see
    * [[Location.listNames]]). The pointers the listing shows are read, and
    * the newer one's checkpoint is tried first (the delta layout at equal
    * versions). Returns None when no
    * usable checkpoint exists (caller falls back to full JSON replay).
    */
  def loadFrom(loc: Location, conf: Configuration): Option[DeltaLog] = {
    val names = loc.listNames()
    val pointed = Seq(DeltaPointerFile -> false, LastCheckpointFile -> true)
      .filter(p => names.contains(p._1))
      .flatMap { case (f, graft) => pointerVersion(loc, f).map(_ -> graft) }.sortBy(-_._1)
    pointed.iterator.flatMap { case (v, graft) =>
      try loadAt(loc, v, graft, names, conf)
      catch {
        // an unreadable/foreign checkpoint falls back to JSON replay;
        // a PROVABLY incomplete one must not — fail loudly instead
        case e: CorruptCheckpointException => throw e
        case _: Exception => None
      }
    }.nextOption()
      .orElse(loadLatestByListing(loc, names, conf))
      .orElse(loadFromCompacted(loc, names))
  }

  /** Checkpointless acceleration: a LOG COMPACTION range anchored at
    * version 0 serves as the base state with the remaining tail replayed
    * on top — the snapshot-open shape of a table that compacts its log
    * but has not checkpointed yet. Per-version views re-replay raw JSON
    * (DeltaTable.withFullHistory's contiguity check), so granularity is
    * never silently lost.
    */
  private def loadFromCompacted(loc: Location, names: Seq[String]): Option[DeltaLog] =
    LogCompaction.ranges(names).filter(_._1 == 0L).sortBy(-_._2).iterator
      .flatMap { case (s, e) =>
        try {
          val base = LogCompaction.read(loc, s, e)
          Some(DeltaLog(loc, tailEntries(loc, names,
            SortedMap[Long, DeltaLogEntry](e -> base), e)))
        } catch { case _: Exception => None }
      }.nextOption()

  /** Checkpoints named in a listing, newest first; at one version the
    * delta layout before a retired graft file.
    */
  private def candidates(names: Seq[String]): Seq[(Long, Boolean)] =
    names.flatMap(checkpointOf).distinct.sortBy { case (v, graft) => (-v, graft) }

  /** Pointerless discovery: `_last_checkpoint` is a HINT in the delta
    * spec (it can be stale or lost to eventual consistency / partial
    * copies) — a reader must still find checkpoints by LISTING the log,
    * or a log-cleaned table with a dropped pointer opens empty. Only
    * candidates at the NEWEST checkpointed version are tried: silently
    * serving an OLDER checkpoint when the newest is unreadable could
    * present stale state, so that case falls through to the caller's
    * (loud) JSON path instead.
    */
  private def loadLatestByListing(loc: Location, names: Seq[String],
      conf: Configuration): Option[DeltaLog] = {
    val all = candidates(names)
    all.takeWhile(_._1 == all.headOption.fold(-1L)(_._1)).iterator.flatMap { case (cv, graft) =>
      try loadAt(loc, cv, graft, names, conf)
      catch {
        case e: CorruptCheckpointException =>
          // a PROVABLY incomplete checkpoint found only by LISTING (the
          // partial-copy scenario this path exists for) is recoverable
          // whenever the JSON commits it summarizes still exist: fall
          // back to full JSON replay then. Loud failure is reserved for
          // the case where the checkpoint is the only possible source
          // of truth (the log was cleaned below it).
          val jsonVs = names.collect {
            case n if DeltaLog.EntryFilenameRe.matches(n) => DeltaLog.versionOf(n)
          }.toSet
          if ((0L to cv).forall(jsonVs.contains)) None else throw e
        case _: Exception => None
      }
    }.nextOption()
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
    * from listing the checkpoint files themselves. Unreadable or
    * incomplete candidates are skipped (this is a best-effort recovery —
    * the caller errors loudly when nothing serves `v`).
    */
  def loadFromAtOrBefore(loc: Location, v: Long,
      conf: Configuration): Option[DeltaLog] = {
    val names = loc.listNames()
    candidates(names).filter(_._1 <= v).iterator.flatMap { case (cv, graft) =>
      // the base must actually SERVE v: every commit in (cv, v] still
      // present as JSON. A checkpoint whose tail was also cleaned can
      // answer only its own version — returning it for a later v would
      // silently serve the WRONG version's state.
      try loadAt(loc, cv, graft, names, conf)
        .filter(b => (cv + 1 to v).forall(b.entries.contains))
      catch { case _: Exception => None }
    }.nextOption()
  }
}
