package graft.log

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Delta transaction-log actions — the row types of the log.
  *
  * Modeled after the reference's action dataclasses
  * (xdlake/delta_log/actions.py:57-248) with the same forward-compat rule:
  * unknown JSON keys inside a known action round-trip through an `extra`
  * map, and entirely unknown action types round-trip as [[RawAction]]
  * (reference actions.py:30-31, 49-55). Unlike the reference (which nests
  * unknown keys under an `extra_info` field on re-serialization), we merge
  * them back at the top level of the action body — true forward compat.
  */
sealed trait Action {
  def actionName: String

  /** Body of the action (everything under the single top-level key). */
  def bodyNode: ObjectNode

  /** One NDJSON line: `{"<actionName>": {...body...}}`. */
  final def toLine: String = {
    val root = Json.obj()
    root.set[JsonNode](actionName, bodyNode)
    Json.mapper.writeValueAsString(root)
  }
}

/** Minimal JSON helpers over Jackson (ships in /opt/spark/jars). */
object Json {
  val mapper = new ObjectMapper()
  private val f = JsonNodeFactory.instance

  def obj(): ObjectNode = f.objectNode()
  def text(s: String): JsonNode = f.textNode(s)
  // int-ranged longs become IntNode — the node type Jackson PARSES small
  // JSON numbers back to — so written trees compare equal to re-parsed
  // ones (JSON numbers are typeless; LongNode(42) != IntNode(42))
  def num(l: Long): JsonNode =
    if (l >= Int.MinValue && l <= Int.MaxValue) f.numberNode(l.toInt)
    else f.numberNode(l)
  def num(d: Double): JsonNode = f.numberNode(d)
  def bool(b: Boolean): JsonNode = f.booleanNode(b)
  def nul: JsonNode = f.nullNode()
  def arr(items: Iterable[JsonNode]): JsonNode = {
    val a = f.arrayNode()
    items.foreach(a.add)
    a
  }

  def fieldsOf(n: JsonNode): ListMap[String, JsonNode] =
    ListMap.from(n.fields().asScala.map(e => e.getKey -> e.getValue))

  def strOpt(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText)
  def longOpt(n: JsonNode, field: String): Option[Long] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asLong)
  def boolOpt(n: JsonNode, field: String): Option[Boolean] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asBoolean)
  def strSeq(n: JsonNode, field: String): Seq[String] =
    Option(n.get(field)).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Seq.empty)
  def strMap(n: JsonNode, field: String): Map[String, String] =
    Option(n.get(field)).filterNot(_.isNull)
      .map(o => fieldsOf(o).map { case (k, v) => k -> v.asText() })
      .getOrElse(ListMap.empty)

  /** null-valued entries become None (hive default partitions). */
  def strOptMap(n: JsonNode, field: String): Map[String, Option[String]] =
    Option(n.get(field)).filterNot(_.isNull)
      .map(o => fieldsOf(o).map { case (k, v) =>
        k -> (if (v.isNull) None else Some(v.asText()))
      })
      .getOrElse(ListMap.empty)

  def putStrOptMap(o: ObjectNode, field: String, m: Map[String, Option[String]]): Unit = {
    val mo = obj()
    m.foreach {
      case (k, Some(v)) => mo.put(k, v)
      case (k, None)    => mo.set[JsonNode](k, nul)
    }
    o.set[JsonNode](field, mo)
  }

  def putStrMap(o: ObjectNode, field: String, m: Map[String, String]): Unit = {
    val mo = obj()
    m.foreach { case (k, v) => mo.put(k, v) }
    o.set[JsonNode](field, mo)
  }

  def putExtra(o: ObjectNode, extra: Map[String, JsonNode]): Unit =
    extra.foreach { case (k, v) => o.set[JsonNode](k, v) }
}

/** Reader/writer protocol versions (reference actions.py:57-62). */
final case class Protocol(
    minReaderVersion: Int = 1,
    minWriterVersion: Int = 2,
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "protocol"
  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("minReaderVersion", minReaderVersion)
    o.put("minWriterVersion", minWriterVersion)
    Json.putExtra(o, extra)
    o
  }
  def json: String = Json.mapper.writeValueAsString(bodyNode)
}

/** Streaming transaction marker (Delta's `txn` / SetTransaction action —
  * a protocol name the reference round-trips only as an unknown action,
  * delta_log/__init__.py:56-66): records that writer application `appId`
  * has durably committed its source progress up to `version`. A sink that
  * checks the recorded version before writing makes micro-batch commits
  * IDEMPOTENT — a replayed batch (driver retry, foreachBatch re-delivery)
  * is recognized and skipped, the exactly-once handshake streaming
  * engines use against Delta tables.
  */
final case class Txn(
    appId: String,
    version: Long,
    lastUpdated: Option[Long] = None,
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "txn"
  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("appId", appId)
    o.put("version", version)
    lastUpdated.foreach(o.put("lastUpdated", _))
    Json.putExtra(o, extra)
    o
  }
}

/** Table metadata (reference actions.py:70-95). `schemaString` is the JSON
  * form of a Spark [[StructType]] — Delta's schema JSON is exactly
  * `StructType.json` / `DataType.fromJson` (SURVEY.md §1.3).
  */
final case class Metadata(
    id: String,
    schemaString: String,
    partitionColumns: Seq[String] = Seq.empty,
    name: Option[String] = None,
    description: Option[String] = None,
    formatProvider: String = "parquet",
    formatOptions: Map[String, String] = Map.empty,
    configuration: Map[String, String] = Map.empty,
    createdTime: Long = System.currentTimeMillis(),
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "metaData"

  lazy val schema: StructType = DataType.fromJson(schemaString).asInstanceOf[StructType]

  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("id", id)
    name.foreach(o.put("name", _))
    description.foreach(o.put("description", _))
    val fmt = Json.obj()
    fmt.put("provider", formatProvider)
    Json.putStrMap(fmt, "options", formatOptions)
    o.set[JsonNode]("format", fmt)
    o.put("schemaString", schemaString)
    o.set[JsonNode]("partitionColumns", Json.arr(partitionColumns.map(Json.text)))
    Json.putStrMap(o, "configuration", configuration)
    o.put("createdTime", createdTime)
    Json.putExtra(o, extra)
    o
  }
  def json: String = Json.mapper.writeValueAsString(bodyNode)
}

object Metadata {
  def create(schema: StructType, partitionColumns: Seq[String]): Metadata =
    Metadata(
      id = java.util.UUID.randomUUID().toString,
      schemaString = schema.json,
      partitionColumns = partitionColumns)
}

/** A live data file (reference actions.py:201-218). `stats` is a JSON
  * string `{numRecords, minValues, maxValues, nullCount}`; partition values
  * are log-authoritative strings (None = hive default/null).
  */
final case class AddFile(
    path: String,
    partitionValues: Map[String, Option[String]] = Map.empty,
    size: Long = 0L,
    modificationTime: Long = 0L,
    stats: Option[String] = None,
    dataChange: Boolean = true,
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "add"
  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("path", path)
    Json.putStrOptMap(o, "partitionValues", partitionValues)
    o.put("size", size)
    o.put("modificationTime", modificationTime)
    o.put("dataChange", dataChange)
    stats.foreach(o.put("stats", _))
    Json.putExtra(o, extra)
    o
  }

  // Row tracking (delta's rowTracking writer feature). The fields ride in
  // `extra` under delta's OWN field names, so they round-trip as protocol
  // JSON and a delta reader sees exactly the shape delta-spark writes:
  // baseRowId = the first fresh row id of this file (fresh id of physical
  // row i is baseRowId + i), defaultRowCommitVersion = the commit that
  // assigned them.

  def baseRowId: Option[Long] =
    extra.get("baseRowId").filter(_.isNumber).map(_.asLong())

  def defaultRowCommitVersion: Option[Long] =
    extra.get("defaultRowCommitVersion").filter(_.isNumber).map(_.asLong())

  def withRowIds(base: Long, commitVersion: Long): AddFile =
    copy(extra = extra
      .updated("baseRowId", Json.num(base))
      .updated("defaultRowCommitVersion", Json.num(commitVersion)))

  /** numRecords from the stats JSON — the row-id allocator's file width.
    * None on malformed stats (a foreign writer's stats are advisory, never
    * a reason to fail replay).
    */
  def numRecords: Option[Long] =
    stats.flatMap { s =>
      try {
        val n = Json.mapper.readTree(s).get("numRecords")
        if (n != null && n.isNumber) Some(n.asLong()) else None
      } catch { case _: Exception => None }
    }
}

/** A logically-deleted file (reference actions.py:220-228). */
final case class RemoveFile(
    path: String,
    dataChange: Boolean = true,
    deletionTimestamp: Long = 0L,
    partitionValues: Map[String, Option[String]] = Map.empty,
    size: Long = 0L,
    extendedFileMetadata: Boolean = true,
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "remove"
  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("path", path)
    o.put("dataChange", dataChange)
    o.put("deletionTimestamp", deletionTimestamp)
    Json.putStrOptMap(o, "partitionValues", partitionValues)
    o.put("size", size)
    o.put("extendedFileMetadata", extendedFileMetadata)
    Json.putExtra(o, extra)
    o
  }
}

/** A change-data file (delta's `cdc` action): row-level changes of ONE
  * commit, stored under `_change_data/` with an in-file `_change_type`
  * column (`update_preimage` / `update_postimage` / `insert` / `delete`).
  * Never part of table STATE — replay ignores it, checkpoints exclude it
  * (delta spec) — it exists solely so the change feed can serve exact
  * row-level updates instead of file-level add/remove reconstruction.
  * `dataChange=false` always: the commit's add/remove actions carry the
  * data change; cdc is derived bookkeeping.
  */
final case class AddCDCFile(
    path: String,
    partitionValues: Map[String, Option[String]] = Map.empty,
    size: Long = 0L,
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "cdc"
  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("path", path)
    Json.putStrOptMap(o, "partitionValues", partitionValues)
    o.put("size", size)
    o.put("dataChange", false)
    Json.putExtra(o, extra)
    o
  }
}

/** Table-state metadata owned by a named domain (delta's `domainMetadata`
  * action): the latest non-removed action per domain is part of snapshot
  * state (DeltaLog.domainMetadata), survives checkpointing like metaData
  * does (Checkpoint.snapshotActions), and a `removed=true`
  * tombstone deletes the domain on replay. Surface:
  * DeltaTable.{domainMetadata,setDomainMetadata,removeDomainMetadata};
  * foreign domains (e.g. delta-spark's clustering domain) round-trip
  * untouched.
  */
final case class DomainMetadata(
    domain: String,
    configuration: String,
    removed: Boolean = false,
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "domainMetadata"
  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("domain", domain)
    o.put("configuration", configuration)
    o.put("removed", removed)
    Json.putExtra(o, extra)
    o
  }
}

/** Commit provenance (reference actions.py:115-135). Null-valued fields are
  * omitted on write, matching the reference's `to_action_dict`.
  */
final case class CommitInfo(
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, JsonNode] = Map.empty,
    operationMetrics: Map[String, JsonNode] = Map.empty,
    readVersion: Option[Long] = None,
    clientVersion: String = CommitInfo.ClientVersion,
    extra: Map[String, JsonNode] = Map.empty
) extends Action {
  val actionName = "commitInfo"

  /** The authoritative commit clock: `inCommitTimestamp` when the writer
    * recorded one (delta's ICT feature — the legacy `timestamp` is then
    * just a file-mtime echo), else `timestamp`. Ordering consumers
    * (history, timestampAsOf, the monotonic commit clamp) resolve by
    * THIS; the raw fields re-emit byte-faithfully.
    */
  def effectiveTimestamp: Long =
    extra.get("inCommitTimestamp").filter(_.isNumber).map(_.asLong())
      .getOrElse(timestamp)

  def bodyNode: ObjectNode = {
    val o = Json.obj()
    o.put("timestamp", timestamp)
    val op = Json.obj()
    operationParameters.foreach { case (k, v) => op.set[JsonNode](k, v) }
    o.set[JsonNode]("operationParameters", op)
    if (operationMetrics.nonEmpty) {
      val om = Json.obj()
      operationMetrics.foreach { case (k, v) => om.set[JsonNode](k, v) }
      o.set[JsonNode]("operationMetrics", om)
    }
    o.put("operation", operation)
    o.put("clientVersion", clientVersion)
    readVersion.foreach(o.put("readVersion", _))
    Json.putExtra(o, extra)
    o
  }

  /** partitionBy from operationParameters, tolerating delta-rs's
    * JSON-string-encoded form (reference delta_log/__init__.py:92-94).
    */
  def partitionBy: Option[Seq[String]] =
    operationParameters.get("partitionBy").map { n =>
      val node = if (n.isTextual) Json.mapper.readTree(n.asText()) else n
      node.elements().asScala.map(_.asText).toSeq
    }

  /** CREATE TABLE commits carry the metadata JSON in operationParameters
    * (reference actions.py:137-143).
    */
  def metadataPartitionColumns: Option[Seq[String]] =
    operationParameters.get("metadata").map { n =>
      val node = if (n.isTextual) Json.mapper.readTree(n.asText()) else n
      Json.strSeq(node, "partitionColumns")
    }
}

object CommitInfo {
  val ClientVersion = "graft.0.1.0"

  object Op {
    val Create = "CREATE TABLE"
    val Write = "WRITE"
    val Merge = "MERGE"
    val Update = "UPDATE"
    val Delete = "DELETE"
    val Restore = "RESTORE"
    val Optimize = "OPTIMIZE"
    val Reorg = "REORG"
    val Vacuum = "VACUUM"
    val AddConstraint = "ADD CONSTRAINT"
    val DropConstraint = "DROP CONSTRAINT"
    val BloomIndex = "BLOOM INDEX"
    val RenameColumn = "RENAME COLUMN"
    val DropColumn = "DROP COLUMNS"
    val AddColumn = "ADD COLUMNS"
    val SetProperties = "SET TBLPROPERTIES"
    val UnsetProperties = "UNSET TBLPROPERTIES"
    val UpgradeProtocol = "UPGRADE PROTOCOL"
    val Clone = "CLONE"
    val SetDomainMetadata = "SET DOMAIN METADATA"
    val RemoveDomainMetadata = "REMOVE DOMAIN METADATA"
    val ClusterBy = "CLUSTER BY"
    val ChangeColumn = "CHANGE COLUMN"
    val Fsck = "FSCK"
    val DropFeature = "DROP FEATURE"
  }

  /** Deep-clone v0 commit (delta's CLONE operation). */
  def deepClone(sourceLocation: String, sourceVersion: Long): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Clone,
      operationParameters = ListMap(
        "source" -> Json.text(sourceLocation),
        "sourceVersion" -> Json.num(sourceVersion),
        "isShallow" -> Json.text("false")))

  /** Generic metadata-operation commit (SET/UNSET TBLPROPERTIES,
    * UPGRADE PROTOCOL — delta-spark's operation names).
    */
  def metaOp(op: String, params: Map[String, String],
      readVersion: Long): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = op,
      operationParameters = ListMap(params.toSeq.map {
        case (k, v) => k -> (Json.text(v): JsonNode)
      }: _*),
      readVersion = Some(readVersion))

  def create(location: String, metadata: Metadata, protocol: Protocol): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Create,
      operationParameters = ListMap(
        "metadata" -> Json.text(metadata.json),
        "protocol" -> Json.text(protocol.json),
        "location" -> Json.text(location),
        "mode" -> Json.text("ErrorIfExists")))

  def write(mode: String, partitionBy: Seq[String]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Write,
      operationParameters = ListMap(
        "partitionBy" -> Json.arr(partitionBy.map(Json.text)),
        "mode" -> Json.text(mode)))

  /** Constraint add/drop commit (delta's operation names). */
  def constraintChange(op: String, name: String, sqlExpr: Option[String],
      readVersion: Long): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = op,
      operationParameters = ListMap(
        "name" -> Json.text(name)) ++ sqlExpr.map("expr" -> Json.text(_)),
      readVersion = Some(readVersion))

  /** Metadata-only column-mapping commit (delta's ALTER TABLE operation
    * names: RENAME COLUMN / DROP COLUMNS).
    */
  def columnChange(op: String, params: Map[String, String],
      readVersion: Long): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = op,
      operationParameters = ListMap(params.toSeq.map {
        case (k, v) => k -> (Json.text(v): JsonNode)
      }: _*),
      readVersion = Some(readVersion))

  /** Predicate-scoped overwrite commit — WRITE/Overwrite with the scoping
    * predicate recorded the way delta-spark spells it.
    */
  def replaceWhere(predicate: String, partitionBy: Seq[String],
      readVersion: Long, metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Write,
      operationParameters = ListMap(
        "partitionBy" -> Json.arr(partitionBy.map(Json.text)),
        "mode" -> Json.text("Overwrite"),
        "predicate" -> Json.text(predicate)),
      operationMetrics = metrics,
      readVersion = Some(readVersion))

  def delete(predicate: String, readVersion: Long, metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Delete,
      operationParameters = ListMap("predicate" -> Json.text(predicate)),
      operationMetrics = metrics,
      readVersion = Some(readVersion))

  def bloomIndex(column: String, readVersion: Long,
      metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.BloomIndex,
      operationParameters = ListMap("column" -> Json.text(column)),
      operationMetrics = metrics,
      readVersion = Some(readVersion))

  /** UPDATE (copy-on-write in-place mutation) commit — op name written the
    * way delta engines spell it so foreign history readers classify it.
    */
  def update(predicate: String, readVersion: Long, metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Update,
      operationParameters = ListMap("predicate" -> Json.text(predicate)),
      operationMetrics = metrics,
      readVersion = Some(readVersion))

  def restore(readVersion: Long, restoreVersion: Long, metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Restore,
      operationParameters = ListMap("version" -> Json.num(restoreVersion)),
      operationMetrics = metrics,
      readVersion = Some(readVersion))

  /** MERGE (upsert) commit (op name reserved by the reference,
    * actions.py:104-113; delta-rs merge results are read back in
    * tests/test_compatibility.py:132-154).
    */
  def merge(predicate: String, readVersion: Long,
      metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Merge,
      operationParameters = ListMap("predicate" -> Json.text(predicate)),
      operationMetrics = metrics,
      readVersion = Some(readVersion))

  /** OPTIMIZE (file compaction) commit: a metadata-only data reorganization
    * — `dataChange=false` on both sides, as other engines write it
    * (op name reserved by the reference, actions.py:104-113).
    */
  def optimize(readVersion: Long, metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Optimize,
      operationParameters = ListMap("targetSize" -> Json.text("auto")),
      operationMetrics = metrics,
      readVersion = Some(readVersion))

  /** REORG ... APPLY (PURGE) commit (delta-spark's operation name). */
  def reorg(readVersion: Long, metrics: Map[String, JsonNode]): CommitInfo =
    CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = Op.Reorg,
      operationParameters = ListMap("applyPurge" -> Json.bool(true)),
      operationMetrics = metrics,
      readVersion = Some(readVersion))
}

/** Unknown action type, preserved verbatim (forward compat: e.g. `txn`,
  * `cdc`, `domainMetadata` written by other engines).
  */
final case class RawAction(actionName: String, body: ObjectNode) extends Action {
  def bodyNode: ObjectNode = body
}

object Action {

  /** Parse one NDJSON line. Dispatch is by the single top-level key
    * (reference delta_log/__init__.py:56-66).
    */
  def parse(line: String): Action = {
    val root = Json.mapper.readTree(line)
    val name = root.fieldNames().next()
    fromBody(name, root.get(name))
  }

  /** The action named `name` with body `b` (a commit line's single value,
    * or one non-null column of a checkpoint row).
    */
  def fromBody(name: String, b: JsonNode): Action =
    name match {
      case "protocol"   => parseProtocol(b)
      case "metaData"   => parseMetadata(b)
      case "add"        => parseAdd(b)
      case "remove"     => parseRemove(b)
      case "cdc"        => parseCdc(b)
      case "commitInfo" => parseCommitInfo(b)
      case "txn"        => parseTxn(b)
      case "domainMetadata" => parseDomainMetadata(b)
      case other        => RawAction(other, b.asInstanceOf[ObjectNode])
    }

  private def extraOf(b: JsonNode, known: Set[String]): Map[String, JsonNode] =
    // most bodies hold known keys only: skip building a map for them
    if (b.properties.stream.allMatch(e => known(e.getKey))) Map.empty
    else Json.fieldsOf(b).filterNot { case (k, _) => known(k) }

  private def parseDomainMetadata(b: JsonNode): DomainMetadata =
    DomainMetadata(
      domain = Json.strOpt(b, "domain").getOrElse(""),
      configuration = Json.strOpt(b, "configuration").getOrElse("{}"),
      removed = Json.boolOpt(b, "removed").getOrElse(false),
      extra = extraOf(b, Set("domain", "configuration", "removed")))

  private def parseTxn(b: JsonNode): Txn =
    Txn(
      appId = Json.strOpt(b, "appId").getOrElse(""),
      version = Json.longOpt(b, "version").getOrElse(-1L),
      lastUpdated = Json.longOpt(b, "lastUpdated"),
      extra = extraOf(b, Set("appId", "version", "lastUpdated")))

  private def parseProtocol(b: JsonNode): Protocol =
    Protocol(
      minReaderVersion = Json.longOpt(b, "minReaderVersion").map(_.toInt).getOrElse(1),
      minWriterVersion = Json.longOpt(b, "minWriterVersion").map(_.toInt).getOrElse(2),
      extra = extraOf(b, Set("minReaderVersion", "minWriterVersion")))

  private def parseMetadata(b: JsonNode): Metadata = {
    val fmt = Option(b.get("format"))
    Metadata(
      id = Json.strOpt(b, "id").getOrElse(java.util.UUID.randomUUID().toString),
      schemaString = Json.strOpt(b, "schemaString").getOrElse("""{"type":"struct","fields":[]}"""),
      partitionColumns = Json.strSeq(b, "partitionColumns"),
      name = Json.strOpt(b, "name"),
      description = Json.strOpt(b, "description"),
      formatProvider = fmt.flatMap(f => Json.strOpt(f, "provider")).getOrElse("parquet"),
      formatOptions = fmt.map(f => Json.strMap(f, "options")).getOrElse(Map.empty),
      configuration = Json.strMap(b, "configuration"),
      createdTime = Json.longOpt(b, "createdTime").getOrElse(0L),
      extra = extraOf(b, Set("id", "schemaString", "partitionColumns", "name",
        "description", "format", "configuration", "createdTime")))
  }

  private def parseAdd(b: JsonNode): AddFile =
    AddFile(
      path = Json.strOpt(b, "path").get,
      partitionValues = Json.strOptMap(b, "partitionValues"),
      size = Json.longOpt(b, "size").getOrElse(0L),
      modificationTime = Json.longOpt(b, "modificationTime").getOrElse(0L),
      stats = Json.strOpt(b, "stats"),
      dataChange = Json.boolOpt(b, "dataChange").getOrElse(false),
      extra = extraOf(b, Set("path", "partitionValues", "size",
        "modificationTime", "stats", "dataChange")))

  private def parseCdc(b: JsonNode): AddCDCFile =
    AddCDCFile(
      path = Json.strOpt(b, "path").get,
      partitionValues = Json.strOptMap(b, "partitionValues"),
      size = Json.longOpt(b, "size").getOrElse(0L),
      extra = extraOf(b, Set("path", "partitionValues", "size", "dataChange")))

  private def parseRemove(b: JsonNode): RemoveFile =
    RemoveFile(
      path = Json.strOpt(b, "path").get,
      dataChange = Json.boolOpt(b, "dataChange").getOrElse(true),
      deletionTimestamp = Json.longOpt(b, "deletionTimestamp").getOrElse(0L),
      partitionValues = Json.strOptMap(b, "partitionValues"),
      size = Json.longOpt(b, "size").getOrElse(0L),
      extendedFileMetadata = Json.boolOpt(b, "extendedFileMetadata").getOrElse(false),
      extra = extraOf(b, Set("path", "dataChange", "deletionTimestamp",
        "partitionValues", "size", "extendedFileMetadata")))

  private def parseCommitInfo(b: JsonNode): CommitInfo =
    CommitInfo(
      // `timestamp` parses VERBATIM (byte-faithful re-emission); a
      // foreign table's authoritative inCommitTimestamp stays in `extra`
      // and wins through [[CommitInfo.effectiveTimestamp]], which every
      // ordering consumer (history, timestampAsOf, the commit clamp)
      // reads instead of the raw field.
      timestamp = Json.longOpt(b, "timestamp").getOrElse(0L),
      operation = Json.strOpt(b, "operation").getOrElse(""),
      operationParameters = Option(b.get("operationParameters"))
        .filterNot(_.isNull).map(Json.fieldsOf).getOrElse(ListMap.empty),
      operationMetrics = Option(b.get("operationMetrics"))
        .filterNot(_.isNull).map(Json.fieldsOf).getOrElse(ListMap.empty),
      readVersion = Json.longOpt(b, "readVersion"),
      clientVersion = Json.strOpt(b, "clientVersion").getOrElse(""),
      extra = extraOf(b, Set("timestamp", "operation", "operationParameters",
        "operationMetrics", "readVersion", "clientVersion")))

  /** RemoveFile mirroring an AddFile (reference actions.py:230-248). */
  def removeFor(add: AddFile, dataChange: Boolean = true): RemoveFile =
    RemoveFile(
      path = add.path,
      dataChange = dataChange,
      deletionTimestamp = System.currentTimeMillis(),
      partitionValues = add.partitionValues,
      size = add.size,
      extendedFileMetadata = true,
      // the remove carries the add's deletionVector descriptor (delta's
      // convention): spec-compliant readers reconcile file actions by the
      // (path, deletionVector.uniqueId) TUPLE, so a remove missing the
      // descriptor would not kill a DV'd add — the file (and its deleted
      // rows' liveness state) would survive in a foreign reader's replay
      extra = add.extra.get("deletionVector")
        .map(dv => Map("deletionVector" -> dv)).getOrElse(Map.empty))
}
