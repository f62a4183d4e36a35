package graft.log

import graft.storage.Location

/** Per-version checksum files — delta-spark's `<version>.crc` sidecar: a
  * one-object JSON summary of the POST-commit snapshot state (live file
  * count, total bytes, protocol, metadata, live domain metadata), written
  * beside each commit and checked on open. The reference has no
  * state-validation story at all; delta uses these to catch replay
  * divergence — a truncated listing, a corrupted JSON entry, or an
  * engine replay bug otherwise produces a silently WRONG snapshot that
  * scans happily.
  *
  * Cost shape: the summary is a driver-side fold over the already-loaded
  * `addActions` map — O(live files) longs per commit, no data pass, no
  * Spark job — and validation on open is the same fold compared against
  * one small JSON read. Write is best-effort (a lost crc costs only
  * validation coverage, never correctness); validation failure is LOUD
  * (the whole point).
  *
  * Field names follow delta's ChecksumFile (`tableSizeBytes`, `numFiles`,
  * `numMetadata`, `numProtocol`, `protocol`, `metadata`), so a
  * delta-spark reader's crc verification accepts graft commits and
  * vice versa.
  */
object Checksum {

  private[graft] val FilenameRe = "^(\\d+)\\.crc$".r

  def filename(v: Long): String = f"$v%020d.crc"

  /** Compose the state summary for the log's current version. */
  private def summarize(dlog: DeltaLog): String = {
    val adds = dlog.addActions.values
    val sizeBytes = adds.iterator.map(_.size).sum
    val protoNode = Json.mapper
      .readTree(dlog.currentProtocol.toLine).get("protocol")
    val metaNode = dlog.latestMetadata
      .map(m => Json.mapper.readTree(m.toLine).get("metaData"))
    val domains = dlog.domainMetadata.values.toSeq.sortBy(_.domain)
      .map(d => Json.mapper.readTree(d.toLine).get("domainMetadata"))
    val node = Json.mapper.createObjectNode()
    node.put("tableSizeBytes", sizeBytes)
    node.put("numFiles", adds.size.toLong)
    node.put("numMetadata", 1L)
    node.put("numProtocol", 1L)
    node.set[com.fasterxml.jackson.databind.JsonNode]("protocol", protoNode)
    metaNode.foreach(
      node.set[com.fasterxml.jackson.databind.JsonNode]("metadata", _))
    if (domains.nonEmpty) {
      val arr = node.putArray("domainMetadata")
      domains.foreach(arr.add)
    }
    Json.mapper.writeValueAsString(node)
  }

  /** Write the checksum for the log's current version. Best-effort by
    * contract — callers wrap it; a failed crc never fails the commit.
    */
  def write(dlog: DeltaLog): Unit =
    dlog.loc.child(filename(dlog.version)).writeString(summarize(dlog))

  /** Validate the loaded snapshot against its version's crc, if one
    * exists. A mismatch means the REPLAYED state diverges from what the
    * committing writer saw — a corrupt or partially-listed log — and
    * must fail loudly: every scan on the divergent snapshot would return
    * wrong rows. Absent or unparseable crc validates vacuously (the file
    * is an integrity aid, not table state).
    */
  def validate(dlog: DeltaLog): Unit = {
    if (dlog.isEmpty) return
    val f = dlog.loc.child(filename(dlog.version))
    if (!f.exists) return
    val node =
      try Json.mapper.readTree(f.readString())
      catch { case _: Exception => return }
    val adds = dlog.addActions.values
    def check(name: String, got: Long): Unit =
      Json.longOpt(node, name).foreach { want =>
        if (want != got)
          throw new IllegalStateException(
            s"snapshot checksum mismatch at version ${dlog.version}: " +
              s"$name replayed as $got but ${filename(dlog.version)} " +
              s"records $want — the log is corrupt or partially listed; " +
              "refusing to serve a divergent snapshot")
      }
    check("numFiles", adds.size.toLong)
    check("tableSizeBytes", adds.iterator.map(_.size).sum)
    Option(node.get("protocol")).filter(_.isObject).foreach { p =>
      val cur = dlog.currentProtocol
      if (Json.longOpt(p, "minReaderVersion").exists(_ != cur.minReaderVersion) ||
          Json.longOpt(p, "minWriterVersion").exists(_ != cur.minWriterVersion))
        throw new IllegalStateException(
          s"snapshot checksum mismatch at version ${dlog.version}: replayed " +
            s"protocol (${cur.minReaderVersion},${cur.minWriterVersion}) " +
            s"differs from the recorded one — the log is corrupt; refusing " +
            "to serve a divergent snapshot")
    }
  }

  /** Delete crc files at/below `horizon` (same sweep as log cleanup). */
  def cleanup(loc: Location, horizon: Long): Unit =
    loc.listNames().foreach {
      case name @ FilenameRe(v) if v.toLong <= horizon =>
        try loc.fs.delete(loc.child(name).path, false)
        catch { case _: Exception => () }
      case _ => ()
    }
}
