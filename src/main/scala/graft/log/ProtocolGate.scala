package graft.log

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Protocol version/feature gating — Delta's forward-compatibility safety
  * mechanism, which the reference round-trips but never enforces
  * (reference xdlake/delta_log/actions.py:57-62 carries the versions as
  * plain fields).
  *
  * Why enforcement is correctness, not pedantry: a reader that opens a
  * table whose protocol demands a feature it does not implement returns
  * WRONG ROWS silently — e.g. ignoring an unknown deletion-vector scheme
  * resurrects deleted rows, ignoring column mapping misbinds columns on
  * renamed schemas. A writer that commits to such a table corrupts
  * invariants other engines rely on (identity high-water marks, row
  * tracking, in-commit timestamps). The only safe behavior for an
  * unknown required feature is a loud refusal, which is what delta-spark
  * and delta-rs both do. Enforced at table open ([[assertReadable]], from
  * `DeltaTable.forPath`) and at every commit ([[assertWritable]] +
  * [[assertMutationAllowed]], from the two commit choke points).
  *
  * Feature vocabulary follows the Delta protocol: minReaderVersion 3 /
  * minWriterVersion 7 carry explicit `readerFeatures`/`writerFeatures`
  * string lists; lower versions IMPLY a fixed legacy feature set
  * (reader 2 = columnMapping; writer 2 = appendOnly+invariants, 3 =
  * +checkConstraints, 4 = +changeDataFeed+generatedColumns, 5 =
  * +columnMapping, 6 = +identityColumns).
  */
object ProtocolGate {

  val MaxReaderVersion = 3
  val MaxWriterVersion = 7

  /** Reader features this engine genuinely implements. `v2Checkpoint`
    * covers BOTH directions: Checkpoint.readV2 replays UUID-manifest +
    * sidecar checkpoints, and Checkpoint.write emits them (under
    * `delta.checkpointPolicy=v2` or on a table already carrying the
    * feature), so committing to a v2Checkpoint table stays in spec.
    */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint",
      "typeWidening", "variantType")

  /** Writer features this engine implements. `invariants` is listed via
    * the exemption set below and ENFORCED at write time: every
    * `delta.invariants` expression in the schema is evaluated against the
    * incoming rows (DeltaTable.validateConstraints), the same pass CHECK
    * constraints take.
    */
  val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "checkConstraints", "changeDataFeed",
      "generatedColumns", "columnMapping", "deletionVectors",
      "timestampNtz", "domainMetadata", "rowTracking", "inCommitTimestamp",
      "clustering", "identityColumns", "v2Checkpoint", "typeWidening",
      "allowColumnDefaults", "variantType", "checkpointProtection")

  /** Features legal to list but whose use is schema-gated instead. */
  private val SchemaGatedWriterFeatures = Set("invariants")

  private def legacyReaderFeatures(v: Int): Set[String] =
    if (v >= 2) Set("columnMapping") else Set.empty

  private def legacyWriterFeatures(v: Int): Set[String] = {
    var s = Set.empty[String]
    if (v >= 2) s ++= Set("appendOnly", "invariants")
    if (v >= 3) s += "checkConstraints"
    if (v >= 4) s ++= Set("changeDataFeed", "generatedColumns")
    if (v >= 5) s += "columnMapping"
    if (v >= 6) s += "identityColumns"
    s
  }

  private def featureList(p: Protocol, key: String): Option[Set[String]] =
    p.extra.get(key).collect {
      case n if n.isArray => n.elements().asScala.map(_.asText()).toSet
    }

  /** The features a reader must implement for this protocol: explicit
    * list at version 3, legacy-implied below.
    */
  def readerFeatures(p: Protocol): Set[String] =
    if (p.minReaderVersion >= 3)
      featureList(p, "readerFeatures").getOrElse(Set.empty)
    else legacyReaderFeatures(p.minReaderVersion)

  /** The features a writer must implement for this protocol. */
  def writerFeatures(p: Protocol): Set[String] =
    if (p.minWriterVersion >= 7)
      featureList(p, "writerFeatures").getOrElse(Set.empty)
    else legacyWriterFeatures(p.minWriterVersion)

  /** Refuse to open a table whose protocol demands reader behavior this
    * engine lacks. Called from `DeltaTable.forPath` on every open.
    */
  def assertReadable(p: Protocol): Unit = {
    if (p.minReaderVersion > MaxReaderVersion)
      throw new IllegalStateException(
        s"table requires minReaderVersion ${p.minReaderVersion} " +
          s"(this engine supports up to $MaxReaderVersion); refusing to " +
          "read — results could be silently wrong")
    val missing = readerFeatures(p) -- SupportedReaderFeatures
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"table requires reader feature(s) [${missing.toSeq.sorted.mkString(", ")}] " +
          "this engine does not implement; refusing to read — results " +
          "could be silently wrong")
  }

  /** Refuse to commit to a table whose protocol (or schema) demands
    * writer behavior this engine lacks. A valid writer must also be a
    * valid reader.
    */
  def assertWritable(p: Protocol, metadata: Option[Metadata]): Unit = {
    assertReadable(p)
    if (p.minWriterVersion > MaxWriterVersion)
      throw new IllegalStateException(
        s"table requires minWriterVersion ${p.minWriterVersion} " +
          s"(this engine supports up to $MaxWriterVersion); refusing to write")
    val missing = writerFeatures(p) -- SupportedWriterFeatures --
      SchemaGatedWriterFeatures
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"table requires writer feature(s) [${missing.toSeq.sorted.mkString(", ")}] " +
          "this engine does not implement; refusing to write — a commit " +
          "could corrupt invariants other engines rely on")
    // invariants are ENFORCED at write time (DeltaTable.validateConstraints
    // evaluates every delta.invariants expression against the incoming
    // rows), so a table declaring them is writable — no schema gate needed
  }

  private[graft] def isAppendOnly(metadata: Option[Metadata]): Boolean =
    metadata.exists(_.configuration.get("delta.appendOnly")
      .exists(_.trim.equalsIgnoreCase("true")))

  /** Fail-fast arm of the appendOnly guard for operations that BY
    * CONSTRUCTION delete or rewrite data (delete/update/merge/restore/
    * replaceWhere/overwrite) — delta-spark's `assertRemovable`, called at
    * operation start so an illegal mutation fails before staging a single
    * file. [[assertMutationAllowed]] at commit time stays the airtight
    * backstop.
    */
  def assertRemovable(metadata: Option[Metadata]): Unit =
    if (isAppendOnly(metadata))
      throw new IllegalStateException(
        "this table only allows appends (delta.appendOnly=true); " +
          "deletes, updates, and overwrites are rejected. To permit them, " +
          "unset the property: setTableProperties(Map(\"delta.appendOnly\" -> \"false\"))")

  /** Enforce `delta.appendOnly` (checked against the PRE-commit
    * configuration, matching delta-spark): an append-only table rejects
    * any commit that deletes or rewrites data — dataChange removes
    * (delete/update/merge/overwrite/restore) and dataChange
    * deletion-vector re-adds (merge-on-read mutations kill rows without
    * a remove action). Maintenance rewrites with dataChange=false
    * (OPTIMIZE, bloom re-adds) stay legal, as in delta.
    */
  def assertMutationAllowed(metadata: Option[Metadata],
      entry: DeltaLogEntry): Unit = {
    if (!isAppendOnly(metadata)) return
    val dcRemoves = entry.removes.count(_.dataChange)
    val dvAdds = entry.adds.count(a =>
      a.dataChange && graft.sources.DeletionVectors.refOf(a).isDefined)
    if (dcRemoves > 0 || dvAdds > 0) {
      val what =
        if (dcRemoves > 0) s"removes $dcRemoves data file(s)"
        else s"marks rows dead in $dvAdds file(s) via deletion vectors"
      throw new IllegalStateException(
        s"this table only allows appends (delta.appendOnly=true), but the " +
          s"commit $what. To permit updates or deletes, unset the " +
          "property: setTableProperties(Map(\"delta.appendOnly\" -> \"false\"))")
    }
  }

  /** The protocol upgraded (component-wise, never lowered) so `feature`
    * is declared. None = already declared. Jumping to the
    * table-features versions (3/7) lists EVERY feature in force — the
    * legacy-implied ones plus `feature` — per the Delta spec's
    * requirement that v3/v7 protocols enumerate their features
    * explicitly.
    */
  def withFeature(cur: Protocol, feature: String): Option[Protocol] = {
    val isReaderFeature = SupportedReaderFeatures.contains(feature)
    val needsReader = isReaderFeature && !readerFeatures(cur).contains(feature)
    val needsWriter = !writerFeatures(cur).contains(feature)
    if (!needsReader && !needsWriter) return None
    // a writer-only feature keeps the reader version — reader v2 + writer
    // v7 is a legal protocol; readerFeatures exists only at reader v3
    val newReaderV = if (needsReader) 3 else cur.minReaderVersion
    val wf = writerFeatures(cur) + feature
    var extra = cur.extra +
      ("writerFeatures" -> Json.arr(wf.toSeq.sorted.map(Json.text)))
    if (newReaderV >= 3) {
      val rf = readerFeatures(cur) ++
        (if (isReaderFeature) Set(feature) else Set.empty[String])
      extra += ("readerFeatures" -> Json.arr(rf.toSeq.sorted.map(Json.text)))
    }
    Some(cur.copy(minReaderVersion = newReaderV, minWriterVersion = 7,
      extra = extra))
  }

  /** The protocol with `feature` RETIRED (delta's `DROP FEATURE`
    * protocol downgrade): the remaining reader/writer features
    * re-expressed in explicit table-features form — a legacy-implied
    * feature can only be dropped by moving to explicit lists, and an
    * explicit list can never silently resurrect one. The reader version
    * falls back to 1 when no reader feature remains (reader 1 + writer 7
    * is a legal protocol); the writer list stays explicit at v7.
    */
  def withoutFeature(cur: Protocol, feature: String): Protocol = {
    val rf = readerFeatures(cur) - feature
    val wf = writerFeatures(cur) - feature
    val readerV = if (rf.nonEmpty) 3 else 1
    var extra = cur.extra - "readerFeatures" - "writerFeatures"
    extra += ("writerFeatures" -> Json.arr(wf.toSeq.sorted.map(Json.text)))
    if (readerV >= 3)
      extra += ("readerFeatures" -> Json.arr(rf.toSeq.sorted.map(Json.text)))
    cur.copy(minReaderVersion = readerV, minWriterVersion = 7, extra = extra)
  }
}
