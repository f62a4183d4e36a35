package graft

import graft.log._
import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.SortedMap

/** The read paths that skip repeated work: `AddFile.numRecords` from one
  * streaming pass (it must agree with a tree parse), JSON replay from the
  * names listing (it must see the same commits as the stat-per-entry
  * listing), and per-open copies of Hadoop's loaded defaults (no handle's
  * settings reach another).
  */
class LogReadSpec extends AnyFunSuite {

  /** numRecords as a Jackson tree parse reads it. */
  private def treeNumRecords(stats: String): Option[Long] =
    try {
      val n = Json.mapper.readTree(stats).get("numRecords")
      if (n != null && n.isNumber) Some(n.asLong()) else None
    } catch { case _: Exception => None }

  private def numRecords(stats: String): Option[Long] =
    AddFile("f.parquet", stats = Some(stats)).numRecords

  private val wellFormed = Seq(
    "int" -> """{"numRecords":42,"minValues":{"id":1}}""",
    "zero" -> """{"numRecords":0}""",
    "long" -> """{"numRecords":9007199254740993}""",
    "long max" -> s"""{"numRecords":${Long.MaxValue}}""",
    "float" -> """{"numRecords":12.9}""",
    "float exponent" -> """{"numRecords":1.5e3}""",
    "negative" -> """{"numRecords":-3}""",
    "null" -> """{"numRecords":null}""",
    "string" -> """{"numRecords":"abc"}""",
    "numeric string" -> """{"numRecords":"17"}""",
    "true" -> """{"numRecords":true}""",
    "object value" -> """{"numRecords":{"n":5}}""",
    "array value" -> """{"numRecords":[5]}""",
    "missing" -> """{"minValues":{"id":1},"maxValues":{"id":9}}""",
    "not first" -> """{"minValues":{"id":1},"numRecords":7}""",
    "nested before" ->
      """{"minValues":{"a":{"numRecords":1,"b":[{"numRecords":2}]}},"nullCount":{"numRecords":3},"numRecords":8}""",
    "nested only" -> """{"minValues":{"numRecords":1}}""",
    "duplicate key" -> """{"numRecords":1,"numRecords":2}""",
    "duplicate non-number last" -> """{"numRecords":1,"numRecords":"x"}""",
    "whitespace" -> " \n{ \"numRecords\" : 5 } ",
    "trailing content" -> """{"numRecords":6} {"numRecords":9}""",
    "empty object" -> "{}",
    "top-level array" -> """[{"numRecords":5}]""",
    "top-level number" -> "5")

  private val malformed = Seq(
    "truncated" -> """{"numRecords":5,"minValues":{"id":""",
    "truncated after value" -> """{"numRecords":5""",
    "bad token" -> """{"numRecords":5,"x":nope}""",
    "bad nested" -> """{"minValues":{"id":1,,},"numRecords":5}""",
    "unquoted key" -> """{numRecords:5}""",
    "empty string" -> "",
    "blank" -> "   ")

  test("numRecords: the streaming pass agrees with a tree parse on well-formed stats") {
    for ((name, stats) <- wellFormed)
      assert(numRecords(stats) == treeNumRecords(stats), s"$name: $stats")
    // the answers the table pins, spelled out
    val got = wellFormed.toMap.map { case (k, s) => k -> numRecords(s) }
    assert(got("int").contains(42L) && got("float").contains(12L) && got("negative").contains(-3L))
    assert(got("not first").contains(7L) && got("nested before").contains(8L))
    assert(got("duplicate key").contains(2L) && got("duplicate non-number last").isEmpty)
    assert(Seq("null", "string", "numeric string", "true", "missing", "nested only")
      .forall(got(_).isEmpty))
  }

  test("numRecords: malformed stats and integers outside the long range read None") {
    for ((name, stats) <- malformed) {
      assert(numRecords(stats).isEmpty, s"$name: $stats")
      assert(treeNumRecords(stats).isEmpty, s"$name: $stats")
    }
    // a tree parse would wrap this to a garbage long; the file reads as stat-less
    assert(numRecords("""{"numRecords":18446744073709551621}""").isEmpty)
    assert(numRecords("""{"numRecords":-99999999999999999999}""").isEmpty)
    assert(numRecords("""{"numRecords":18446744073709551621,"numRecords":4}""").contains(4L))
    assert(AddFile("f.parquet").numRecords.isEmpty)
  }

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def tempLog(prefix: String): Location = {
    val dir = Files.createTempDirectory(prefix)
    Location(dir.resolve("_delta_log").toString)
  }

  private def tableDirOf(log: Location): String = Paths.get(log.path.toUri).getParent.toString

  /** A table whose one file carries `stats`, beside a file with 4 rows. */
  private def tableWithStats(stats: String): DeltaTable = {
    val log = tempLog("graft-stats")
    val adds = Seq(AddFile("a.parquet", stats = Some("""{"numRecords":4}""")),
      AddFile("b.parquet", stats = Some(stats)))
    log.child(DeltaLog.filenameForVersion(0))
      .writeString(DeltaLogEntry.createTable(log.uri, schema, Nil, adds).toNdjson)
    DeltaTable.forPath(tableDirOf(log))
  }

  test("countRowsFromStats falls back on a non-numeric numRecords, as the SQL COUNT does") {
    assert(tableWithStats("""{"numRecords":6}""").countRowsFromStats.contains(10L))
    for (bad <- Seq(""""abc"""", "true", "null", """"6"""", "18446744073709551621"))
      assert(tableWithStats(s"""{"numRecords":$bad}""").countRowsFromStats.isEmpty, bad)
  }

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }

  /** A log holding every kind of sibling a commit listing must skip. */
  private def busyLog(): Location = {
    val log = tempLog("graft-busy")
    log.mkdirs()
    val adds = (0 until 3).map(i => AddFile(s"f$i.parquet", stats = Some(s"""{"numRecords":$i}""")))
    // written through Hadoop's checksummed local FS: each commit gets its
    // `.N.json.crc` sibling
    log.child(DeltaLog.filenameForVersion(0))
      .writeString(DeltaLogEntry.createTable(log.uri, schema, Nil, adds.take(1)).toNdjson)
    for (v <- 1 to 6)
      log.child(DeltaLog.filenameForVersion(v)).writeString(DeltaLogEntry.appendTable(
        Nil, Seq(AddFile(s"g$v.parquet", stats = Some("""{"numRecords":1}"""))), None).toNdjson)
    val head = DeltaLog.load(log)
    Checksum.write(head)
    Checksum.write(DeltaLog.load(log, Some(3L)))
    Checkpoint.write(DeltaLog.load(log, Some(4L)), new Configuration())
    LogCompaction.write(log, 1L, 3L)
    log.child(".00000000000000000007.json.occ-1a2b3c4d").writeString("{}")
    log.child("00000000000000000007.json.tmp").writeString("{}")
    val names = listDir(Paths.get(log.path.toUri)).map(_.getFileName.toString).toSet
    Seq(".00000000000000000002.json.crc", "00000000000000000003.crc", "_last_checkpoint",
      "00000000000000000001.00000000000000000003.compacted.json")
      .foreach(n => assert(names(n), s"fixture lacks $n: $names"))
    assert(names.exists(_.endsWith(".checkpoint.parquet")), names)
    log
  }

  /** What replay reads when the commits come from `listSorted`. */
  private def viaListSorted(log: Location, version: Option[Long] = None,
      keep: Long => Boolean = _ => true): SortedMap[Long, DeltaLogEntry] = {
    val all = log.listSorted().map(_.getPath.getName)
      .filter(DeltaLog.EntryFilenameRe.matches(_)).filter(n => keep(DeltaLog.versionOf(n)))
    val upTo = version.map(v => all.indexWhere(DeltaLog.versionOf(_) == v)).filter(_ >= 0)
    val names = upTo.fold(all)(i => all.take(i + 1))
    SortedMap.from(names.map(DeltaLog.versionOf).zip(LogReader.readEntries(log, names)))
  }

  private def assertSameReplay(log: Location): Unit = {
    assert(DeltaLog.load(log).entries == viaListSorted(log))
    assert(DeltaLog.load(log).versions == (0L to 6L))
    for (v <- Seq(0L, 3L, 6L, 9L))
      assert(DeltaLog.load(log, Some(v)).entries == viaListSorted(log, Some(v)), v)
    for ((after, until) <- Seq((-1L, None), (2L, Some(4L)), (4L, None), (6L, None)))
      assert(DeltaLog.loadAfter(log, after, until).entries ==
        viaListSorted(log, keep = v => v > after && until.forall(v <= _)), (after, until))
  }

  test("JSON replay from the names listing matches listSorted on file:") {
    assertSameReplay(busyLog())
  }

  test("JSON replay from the names listing matches listSorted on mock: and a missing log") {
    val src = busyLog()
    val from = Paths.get(src.path.toUri)
    val to = Files.createTempDirectory("graft-busy-mock").resolve("_delta_log")
    Files.createDirectories(to)
    listDir(from).foreach(p => Files.copy(p, to.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    val conf = new Configuration()
    MockSchemeFileSystem.register(conf)
    val mock = Location("mock:" + to, conf)
    assert(mock.uri.startsWith("mock:"), mock.uri)
    assertSameReplay(mock)

    val missing = Location(Files.createTempDirectory("graft-nolog").resolve("_delta_log").toString)
    assert(DeltaLog.load(missing).entries.isEmpty)
    assert(DeltaLog.load(missing, Some(3L)).entries.isEmpty)
    assert(DeltaLog.loadAfter(missing, -1L).entries.isEmpty)
  }

  test("default-conf opens each get their own copy of Hadoop's defaults") {
    val log = tempLog("graft-conf")
    log.child(DeltaLog.filenameForVersion(0))
      .writeString(DeltaLogEntry.createTable(log.uri, schema, Nil, Nil).toNdjson)
    val dir = tableDirOf(log)
    val a = DeltaTable.forPath(dir)
    a.conf.set("graft.spec.leak", "a")
    // turning the FS cache off on a's conf must not reach later opens:
    // their Locations keep sharing the cached local file system
    a.conf.setBoolean("fs.file.impl.disable.cache", true)
    val b = DeltaTable.forPath(dir)
    assert(!(a.conf eq b.conf))
    assert(b.conf.get("graft.spec.leak") == null)
    assert(!b.conf.getBoolean("fs.file.impl.disable.cache", false))
    assert(Location(dir).fs eq Location(dir).fs)
    val c1 = Location.defaultConf()
    c1.set("graft.spec.leak", "c1")
    val c2 = Location.defaultConf()
    assert(!(c1 eq c2) && c2.get("graft.spec.leak") == null)
    // the copies carry Hadoop's loaded defaults
    assert(c2.get("fs.defaultFS") == new Configuration().get("fs.defaultFS"))
    assert(c2.get("io.file.buffer.size") == new Configuration().get("io.file.buffer.size"))
  }
}
