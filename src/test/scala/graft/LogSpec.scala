package graft

import graft.log._
import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.immutable.SortedMap

/** Log-machinery unit tests against the golden delta-rs-written fixture
  * (reference tests/test_delta_log.py; fixture copied verbatim from the
  * public reference repo as the protocol-conformance anchor).
  */
class LogSpec extends AnyFunSuite {

  private def fixtureLogDir(): String = {
    val dir = Files.createTempDirectory("graft-fixture")
    for (v <- 0 to 2) {
      val name = f"$v%020d.json"
      val in = getClass.getResourceAsStream(s"/_delta_log/$name")
      assert(in != null, s"missing fixture $name")
      Files.copy(in, Paths.get(dir.toString, name), StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  test("golden fixture: schema resolution picks latest metaData") {
    val dlog = DeltaLog.load(Location(fixtureLogDir()))
    assert(dlog.versions == Seq(0L, 1L, 2L))
    // reference tests/test_delta_log.py:18-36: evolved schema adds new_column
    val names = dlog.schema.fieldNames.toSeq
    assert(names == Seq("bob", "sue", "george", "rebecca", "morgain", "cats", "bats", "order", "new_column"))
    assert(dlog.schema.fields.forall(_.nullable))
  }

  test("golden fixture: replay folds adds and removes") {
    val dlog = DeltaLog.load(Location(fixtureLogDir()))
    val adds = dlog.addActions
    // v1 overwrote v0's file (add+remove), v2 appended one more: 2 live files
    assert(adds.size == 2)
    val v0 = dlog.loadAsVersion(0L)
    assert(v0.addActions.size == 1)
    val v1 = dlog.loadAsVersion(1L)
    assert(v1.addActions.size == 1)
    assert(v1.addActions.keys != v0.addActions.keys)
  }

  test("golden fixture: delta-rs string-encoded partitionBy quirk") {
    val dlog = DeltaLog.load(Location(fixtureLogDir()))
    // fixture's WRITE commits carry partitionBy as the JSON *string* "[]"
    // (reference delta_log/__init__.py:92-94)
    assert(dlog.partitionColumns == Seq.empty)
  }

  test("actions round-trip NDJSON byte-semantically, keeping unknown keys") {
    val dir = fixtureLogDir()
    for (v <- 0 to 2) {
      val content = new String(Files.readAllBytes(Paths.get(dir, f"$v%020d.json")))
      for (line <- content.linesIterator if line.nonEmpty) {
        val action = Action.parse(line)
        val reparsed = Action.parse(action.toLine)
        assert(reparsed == action, s"round-trip mismatch for: $line")
      }
    }
  }

  test("unknown action types and unknown fields survive round-trip") {
    // a genuinely-unknown action name (delta v2-checkpoint era) must
    // round-trip as an opaque RawAction
    val line = """{"checkpointMetadata":{"version":9,"tags":{"k":"v"}}}"""
    val a = Action.parse(line)
    assert(a.isInstanceOf[RawAction])
    assert(Action.parse(a.toLine) == a)

    // domainMetadata is first-class (snapshot-state per-domain config)
    val dmLine = """{"domainMetadata":{"domain":"d","configuration":"{}","removed":false,"future":1}}"""
    val dm = Action.parse(dmLine).asInstanceOf[DomainMetadata]
    assert(dm.domain == "d" && !dm.removed)
    assert(dm.extra.contains("future"))
    assert(Action.parse(dm.toLine) == dm)

    // txn is first-class (idempotent sinks) but still keeps unknown fields
    val txnLine = """{"txn":{"appId":"app-1","version":7,"weird":{"x":1}}}"""
    val txn = Action.parse(txnLine).asInstanceOf[Txn]
    assert(txn.appId == "app-1" && txn.version == 7L)
    assert(txn.extra.contains("weird"))
    assert(Action.parse(txn.toLine) == txn)

    val addLine = """{"add":{"path":"p.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,"futureField":[1,2]}}"""
    val add = Action.parse(addLine).asInstanceOf[AddFile]
    assert(add.extra.contains("futureField"))
    assert(Action.parse(add.toLine) == add)
  }

  test("N sequential commits cost O(1) log reads each, not O(N) re-replay") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val loc = Location(Files.createTempDirectory("graft-o1commit").toString)
    def add(i: Int) = AddFile(path = s"f$i.parquet", partitionValues = Map.empty,
      size = 1L, modificationTime = 0L, stats = None, dataChange = true)
    var dlog = DeltaLog.load(loc)
    dlog = dlog.commit(DeltaLogEntry.createTable(loc.uri, schema, Seq.empty, Seq(add(0))))
    val before = Location.readCount.get()
    for (i <- 1 to 100)
      dlog = dlog.commit(DeltaLogEntry.appendTable(Seq.empty, Seq(add(i)), Some(schema)))
    val reads = Location.readCount.get() - before
    assert(reads <= 5, s"100 commits issued $reads log reads; O(N²) reload is back")
    // the in-memory apply must equal a fresh full replay from disk
    val replayed = DeltaLog.load(loc)
    assert(replayed.versions == dlog.versions)
    assert(replayed.addActions.keySet == dlog.addActions.keySet)
    assert(dlog.version == 100L)
  }

  test("version filenames are 20-digit zero-padded") {
    assert(DeltaLog.filenameForVersion(0) == "00000000000000000000.json")
    assert(DeltaLog.filenameForVersion(123) == "00000000000000000123.json")
  }

  test("schema merge: appends new fields, rejects conflicts") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("x", LongType), StructField("y", StringType)))
    val b = StructType(Seq(StructField("y", StringType), StructField("z", DoubleType)))
    val merged = DeltaLog.mergeSchemas(a, b)
    assert(merged.fieldNames.toSeq == Seq("x", "y", "z"))
    val conflict = StructType(Seq(StructField("x", StringType)))
    assertThrows[IllegalArgumentException](DeltaLog.mergeSchemas(a, conflict))
  }

  test("schema equivalence is order-insensitive") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("x", LongType), StructField("y", StringType)))
    val b = StructType(Seq(StructField("y", StringType), StructField("x", LongType)))
    assert(DeltaLog.schemasEquivalent(a, b))
    assert(!DeltaLog.schemasEquivalent(a, StructType(Seq(StructField("x", LongType)))))
  }

  test("in-commit timestamps: a lagging writer clock is clamped to parent+1") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-ict").toString
    val loc = Location(dir)
    val schema = StructType(Seq(StructField("x", LongType)))
    var dlog = DeltaLog.load(loc)
    dlog = dlog.commit(DeltaLogEntry.createTable(dir, schema, Nil, Nil))
    val t0 = dlog.entries(0L).commitInfos.head.timestamp

    // a writer whose wall clock lags the previous committer (clock skew
    // between cluster nodes) proposes a timestamp BELOW the parent's
    def skewedAppend(ts: Long): DeltaLogEntry = {
      val e = DeltaLogEntry.appendTable(Nil, Nil, None)
      DeltaLogEntry(e.actions.map {
        case c: CommitInfo => c.copy(timestamp = ts)
        case a             => a
      })
    }
    dlog = dlog.commit(skewedAppend(t0 - 60000L))
    val t1 = dlog.entries(1L).commitInfos.head.timestamp
    assert(t1 == t0 + 1L, "skewed timestamp must be clamped to parent+1")
    // the durable file agrees with the in-memory state
    val replayed = DeltaLog.load(loc)
    assert(replayed.entries(1L).commitInfos.head.timestamp == t1)

    // same-millisecond commits stay strictly monotonic
    dlog = dlog.commit(skewedAppend(t1))
    assert(dlog.entries(2L).commitInfos.head.timestamp == t1 + 1L)
    // a normally-advancing clock is NOT rewritten
    dlog = dlog.commit(skewedAppend(t1 + 99999L))
    assert(dlog.entries(3L).commitInfos.head.timestamp == t1 + 99999L)
    // timestamps are now totally ordered → versionAt-style resolution
    val ts = dlog.entries.values.flatMap(_.commitInfos).map(_.timestamp).toSeq
    assert(ts == ts.sorted && ts.distinct == ts)
  }

  test("foreign ICT commitInfo: inCommitTimestamp wins over file timestamp") {
    // delta's enableInCommitTimestamps stores the authoritative monotonic
    // clock under inCommitTimestamp; the legacy field may be an arbitrary
    // file-mtime echo
    val line = """{"commitInfo":{"timestamp":5,"inCommitTimestamp":1234567,"operation":"WRITE","operationParameters":{}}}"""
    val parsed = Action.parse(line).asInstanceOf[CommitInfo]
    // the raw field parses VERBATIM (byte-faithful re-emission keeps the
    // original mtime echo), while every ordering consumer reads the
    // authoritative ICT clock through effectiveTimestamp
    assert(parsed.timestamp == 5L)
    assert(parsed.effectiveTimestamp == 1234567L)
    val reparsed = Action.parse(parsed.toLine).asInstanceOf[CommitInfo]
    assert(reparsed == parsed)
    assert(reparsed.effectiveTimestamp == 1234567L)
  }

  // ---- log replay reads commits concurrently: identity and failures ----

  /** A table of 300 commits: appends, a remove every tenth commit, a
    * schema change at 150, a checkpoint at 200 and a log compaction over
    * [201, 260] — every kind of object a replay reads.
    */
  private def replayTable(): (String, Location) = {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-replay").toString
    val loc = Location(root).child("_delta_log")
    val schema = StructType(Seq(StructField("id", LongType)))
    def add(v: Int, i: Int) = AddFile(path = s"f$v-$i.parquet",
      partitionValues = Map.empty, size = 1L, modificationTime = 0L,
      stats = None, dataChange = true)
    var dlog = DeltaLog.load(loc)
    dlog = dlog.commit(DeltaLogEntry.createTable(loc.uri, schema, Seq.empty, Seq(add(0, 0))))
    for (v <- 1 until 300) {
      dlog = dlog.commit(
        if (v % 10 == 5)
          DeltaLogEntry.deleteTable("id < 0", dlog.addActions.values.take(1),
            Seq.empty, v - 1L, 0L, 1L)
        else if (v == 150)
          DeltaLogEntry.appendTable(Seq.empty, Seq(add(v, 0)),
            Some(schema.add(StructField("note", StringType))))
        else DeltaLogEntry.appendTable(Seq.empty, Seq(add(v, 0), add(v, 1)), None))
      if (v == 200) Checkpoint.write(dlog, new Configuration())
    }
    LogCompaction.write(loc, 201L, 260L)
    (root, loc)
  }

  /** The serial reference: every commit file, read and parsed one at a
    * time in version order.
    */
  private def serialEntries(loc: Location): SortedMap[Long, DeltaLogEntry] = {
    val dir = Paths.get(new java.net.URI(loc.uri))
    val names = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.matches("\\d+\\.json")).sorted
    SortedMap.from(names.map(n => n.stripSuffix(".json").toLong ->
      DeltaLogEntry.fromNdjson(new String(Files.readAllBytes(dir.resolve(n)), "UTF-8"))))
  }

  test("concurrent log replay equals a serial fold of the same commit files") {
    val (root, loc) = replayTable()
    val ref = serialEntries(loc)
    assert(ref.keys.toSeq == (0L until 300L))
    val full = DeltaLog.load(loc)
    assert(full.entries == ref)
    for (v <- Seq(0L, 1L, 149L, 150L, 200L, 233L, 299L)) {
      val before = Location.readCount.get()
      val upTo = DeltaLog.load(loc, Some(v))
      assert(Location.readCount.get() - before == v + 1,
        s"load up to $v must read exactly the commits 0..$v")
      assert(upTo.entries == ref.rangeTo(v), s"load up to $v")
      assert(DeltaTable.forPath(root, Some(v)).dlog.entries == ref.rangeTo(v),
        s"time travel to $v")
    }
    // an absent target version reads (and keeps) every commit
    assert(DeltaLog.load(loc, Some(1000L)).entries == ref)
    for ((after, until) <- Seq((-1L, None), (150L, Some(151L)), (199L, Some(260L)), (280L, None)))
      assert(DeltaLog.loadAfter(loc, after, until).entries ==
        ref.filter { case (v, _) => v > after && until.forall(v <= _) },
        s"loadAfter($after, $until)")
    // the head open replays checkpoint 200 + compaction [201, 260] + raw
    // 261..299; history re-replays the raw commits
    val head = DeltaTable.forPath(root)
    assert(head.dlog.entries.keys.toSeq == (200L +: 260L +: (261L until 300L)))
    assert(head.version == 299L)
    assert(head.dlog.addActions == full.addActions)
    assert(head.schema == full.schema)
    assert(head.history == full.history)
  }

  test("concurrent log replay: a bad commit fails with the serial exception") {
    val (_, loc) = replayTable()
    val dir = Paths.get(new java.net.URI(loc.uri))
    def corrupt(v: Long, line: String): Unit =
      Files.write(dir.resolve(DeltaLog.filenameForVersion(v)),
        ("\n" + line).getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    // a malformed line in commit 120 and an action-less object in 180:
    // every reader surfaces the LOWEST failing version's own exception
    corrupt(120L, "{\"add\": not json")
    corrupt(180L, "{}")
    val parseError = classOf[com.fasterxml.jackson.core.JsonParseException]
    assert(intercept[Exception](DeltaLog.load(loc)).getClass == parseError)
    assert(intercept[Exception](DeltaLog.load(loc, Some(150L))).getClass == parseError)
    assert(DeltaLog.load(loc, Some(119L)).version == 119L)
    assert(intercept[Exception](DeltaLog.loadAfter(loc, 150L)).getClass ==
      classOf[java.util.NoSuchElementException])
    assert(intercept[Exception](DeltaLog.loadAfter(loc, 100L, Some(200L))).getClass == parseError)
  }

  test("concurrent log replay: a commit deleted after listing fails as FileNotFound") {
    val (_, fileLoc) = replayTable()
    val dir = Paths.get(new java.net.URI(fileLoc.uri))
    val conf = new Configuration()
    conf.set("fs.vanish.impl", classOf[VanishingListFs].getName)
    conf.setBoolean("fs.vanish.impl.disable.cache", true)
    val loc = Location("vanish:" + dir.toString, conf)
    def vanish(v: Long): Unit =
      VanishingListFs.victim = Some(dir.resolve(DeltaLog.filenameForVersion(v)).toFile)
    val notFound = classOf[java.io.FileNotFoundException]
    try {
      vanish(77L)
      assert(intercept[Exception](DeltaLog.load(loc)).getClass == notFound)
      vanish(85L)
      assert(intercept[Exception](DeltaLog.loadAfter(loc, 70L, Some(90L))).getClass == notFound)
      // a load that stops below the vanished commit never reads it
      vanish(95L)
      assert(DeltaLog.load(loc, Some(90L)).version == 90L)
    } finally VanishingListFs.victim = None
  }
}

/** Local disk under the `vanish:` scheme; deletes [[VanishingListFs.victim]]
  * right after listing a directory — a commit removed between a replay's
  * listing and its read.
  */
class VanishingListFs extends RawLocalFileSystem {
  override def getScheme: String = "vanish"
  override def getUri: java.net.URI = java.net.URI.create("vanish:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    val out = super.listStatus(p)
    VanishingListFs.victim.foreach(_.delete())
    out
  }
}

object VanishingListFs {
  @volatile var victim: Option[java.io.File] = None
}
