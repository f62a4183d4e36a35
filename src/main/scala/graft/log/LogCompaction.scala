package graft.log

import graft.storage.Location

/** Delta's LOG COMPACTION files (`<start>.<end>.compacted.json`, the
  * delta 3.x "minor compaction"): one JSON file carrying the RECONCILED
  * actions of the commit range [start, end], so a reader replaying a
  * long tail between checkpoints opens ONE object instead of hundreds —
  * at 10⁴ commits/day the tail listing-and-read cost between two
  * checkpoints is the snapshot-open bottleneck on an object store.
  *
  * Reconciliation (the same rules checkpointing uses, range-scoped):
  *
  *  - latest Protocol and Metadata in the range (if any);
  *  - one file action per PATH — the range-final one: a file added then
  *    removed inside the range survives as a RemoveFile TOMBSTONE
  *    (readers outside the range may still hold the pre-range add; the
  *    tombstone is what kills it), a file re-added (new DV) keeps only
  *    the final add;
  *  - latest `txn` per appId (exactly-once handshakes must survive);
  *  - latest domainMetadata per domain (including removal tombstones);
  *  - commitInfo EXCLUDED — per-commit history stays on the raw files
  *    (delta's own rule: compactions serve snapshot state, DESCRIBE
  *    HISTORY reads real commits);
  *  - unknown (Raw) actions carried through in order — a foreign
  *    extension action must not be dropped by OUR maintenance.
  *
  * Readers use a compaction only when it exactly covers the versions
  * they need ([[Checkpoint.tailEntries]]'s greedy walk and the
  * checkpointless head-load); time travel INTO the middle of a range
  * falls back to raw JSON replay, which stays authoritative.
  */
object LogCompaction {

  val NameRe = "^(\\d{20})\\.(\\d{20})\\.compacted\\.json$".r

  def filename(start: Long, end: Long): String =
    f"$start%020d.$end%020d.compacted.json"

  /** Compacted ranges present in a log-dir file listing, ascending. */
  def ranges(names: Seq[String]): Seq[(Long, Long)] =
    names.flatMap {
      case NameRe(s, e) => Some((s.toLong, e.toLong))
      case _ => None
    }.sorted

  /** Reconcile an ordered commit range into one compaction entry. */
  def compact(ordered: Seq[DeltaLogEntry]): DeltaLogEntry = {
    var protocol: Option[Protocol] = None
    var metadata: Option[Metadata] = None
    // path → final file action for the range (replay order: within one
    // entry removes land before adds, matching DeltaLog.addActions).
    // LinkedHashMap with remove-then-update (≡ ListMap.updated ordering,
    // O(1) per action): an immutable ListMap here made compaction O(R²)
    // in the range's file actions — the same quadratic fold the
    // CKPTSCALE probe caught in DeltaLog.addActions
    val files = scala.collection.mutable.LinkedHashMap.empty[String, Action]
    var txns = scala.collection.immutable.ListMap.empty[String, Txn]
    var domains = scala.collection.immutable.ListMap.empty[String, DomainMetadata]
    val raws = Vector.newBuilder[Action]
    ordered.foreach { entry =>
      entry.actions.foreach {
        case p: Protocol => protocol = Some(p)
        case m: Metadata => metadata = Some(m)
        case _: CommitInfo => ()
        case t: Txn => txns = txns.updated(t.appId, t)
        case d: DomainMetadata => domains = domains.updated(d.domain, d)
        case _: AddCDCFile => () // cdc serves the feed, not snapshot state
        case r: RemoveFile => files.remove(r.path); files.update(r.path, r)
        case a: AddFile => files.remove(a.path); files.update(a.path, a)
        case other => raws += other
      }
      // removes-before-adds WITHIN an entry is already the log's write
      // order (DeltaLogEntry emission), so the fold above is replay-true
    }
    val (removes, adds) = files.values.toVector.partition(_.isInstanceOf[RemoveFile])
    DeltaLogEntry(
      protocol.toVector ++ metadata.toVector ++ removes ++ adds ++
        txns.values.toVector ++ domains.values.toVector ++ raws.result())
  }

  /** Write the compaction file for commits [start, end]. Requires every
    * version in the range to still exist as raw JSON (a compaction is a
    * pure function of the commits it covers). Idempotent: an existing
    * file of the same name is left in place — same inputs, same content.
    */
  def write(logLoc: Location, start: Long, end: Long): Unit = {
    require(start >= 0 && end >= start, s"bad compaction range [$start, $end]")
    val dest = logLoc.child(filename(start, end))
    if (dest.exists) return
    val raw = DeltaLog.loadAfter(logLoc, start - 1, Some(end))
    val have = raw.entries.keySet
    val missing = (start to end).filterNot(have.contains)
    require(missing.isEmpty,
      s"cannot compact [$start, $end]: missing commit(s) ${missing.mkString(",")}")
    val entry = compact(raw.entries.values.toSeq)
    // atomic create-if-absent, like a commit: a concurrent same-range
    // compactor writes identical bytes, so losing the race is a no-op
    try dest.createIfAbsent(entry.toNdjson)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Read a compaction file. */
  def read(logLoc: Location, start: Long, end: Long): DeltaLogEntry =
    DeltaLogEntry.fromNdjson(logLoc.child(filename(start, end)).readString())
}
