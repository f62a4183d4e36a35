package graft

import graft.log.{Checkpoint, DeltaLog}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Log checkpoints: fast-path loads must equal full JSON replay, and
  * per-version views (history, time travel, clone) must survive them.
  */
class CheckpointSpec extends SparkSuite {

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("auto-checkpoint fires at the interval and fast-path load matches") {
    val d = tempDir("ckpt")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 5)
    t = t.write(nation)
    (1 to 5).foreach(_ => t = t.write(nation))
    // version 5 -> checkpoint written + pointer
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(5L))
    // a fresh open takes the fast path (base entry at 5) …
    val fast = DeltaTable.forPath(d)
    assert(fast.dlog.entries.firstKey == 5L)
    assert(fast.version == 5L)
    // … and equals full JSON replay
    val full = DeltaLog.load(t.logLoc, None)
    assert(fast.dlog.addActions.keySet == full.addActions.keySet)
    assert(fast.schema == full.schema)
    assertSameRows(fast.toDF(spark), t.toDF(spark))
  }

  test("history, time travel and clone see versions below the checkpoint") {
    val d = tempDir("ckpt-hist")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 3)
    t = t.write(nation)
    (1 to 3).foreach(_ => t = t.write(nation))
    val fresh = DeltaTable.forPath(d) // checkpoint-based
    assert(fresh.versions == Seq(0L, 1L, 2L, 3L))
    assert(fresh.history.size == 4)
    assert(fresh.loadAsVersion(1L).toDF(spark).count() == nation.count() * 2)
    val clone = fresh.cloneTo(tempDir("ckpt-clone"))
    assert(clone.versions == Seq(0L, 1L, 2L, 3L))
  }

  test("explicit checkpoint() and further commits after it") {
    val d = tempDir("ckpt-explicit")
    var t = DeltaTable.forPath(d).write(nation).write(nation)
    t.checkpoint()
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(1L))
    // commits after the checkpoint replay as tail entries
    t = t.write(nation.filter(col("n_regionkey") === 0), mode = graft.log.WriteMode.Overwrite)
    val fresh = DeltaTable.forPath(d)
    assert(fresh.version == 2L)
    assertSameRows(fresh.toDF(spark), nation.filter(col("n_regionkey") === 0))
  }

  test("superseded checkpoints are garbage-collected, newest two kept") {
    val d = tempDir("ckpt-gc")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 2)
    t = t.write(nation)
    (1 to 6).foreach(_ => t = t.write(nation)) // checkpoints at 2, 4, 6
    val names = new java.io.File(s"$d/_delta_log").listFiles().map(_.getName)
    val ckpts = names.filter(_.endsWith(".checkpoint.parquet")).sorted
    assert(ckpts.toSeq == Seq(4L, 6L).map(v => f"$v%020d.checkpoint.parquet"),
      ckpts.mkString(","))
    // one layout: no graft-layout file or pointer is written
    assert(!names.exists(n => n.endsWith(".graft-checkpoint.parquet") ||
      n == Checkpoint.LastCheckpointFile), names.mkString(","))
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(6L))
    assert(DeltaTable.forPath(d).version == 6L)
  }

  test("pre-rename graft checkpoints under Delta's names are GC'd; foreign ones kept") {
    val d = tempDir("ckpt-legacy")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 2)
    t = t.write(nation)
    (1 to 2).foreach(_ => t = t.write(nation)) // checkpoint at 2
    val logDir = new java.io.File(s"$d/_delta_log")
    // simulate a pre-rename build: graft's one-json-column layout under
    // Delta's name, clobbering the delta-layout file at 2
    val legacyName = f"${2L}%020d.checkpoint.parquet"
    val graftLayout = tempDir("ckpt-legacy-src")
    LegacyGraftCheckpoint.write(DeltaTable.forPath(d).dlog, t.conf,
      graft.storage.Location(graftLayout, t.conf))
    java.nio.file.Files.copy(
      new java.io.File(graftLayout, Checkpoint.checkpointFilename(2L)).toPath,
      new java.io.File(logDir, legacyName).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(logDir, s".$legacyName.crc").delete()
    // the reader refuses the graft layout under a delta name (from the
    // footer it opens anyway) and the table opens from JSON replay
    assert(Checkpoint.readDeltaFormat(t.logLoc, 2L, t.conf).isEmpty)
    assert(DeltaTable.forPath(d).toDF(spark).count() == 3 * nation.count())
    // a FOREIGN checkpoint (different parquet layout) inside the keep
    // window must never be touched
    val foreignName = f"${3L}%020d.checkpoint.parquet"
    t = t.write(nation) // v3
    java.nio.file.Files.copy(
      new java.io.File(s"$sfDir/nation.parquet").toPath,
      new java.io.File(logDir, foreignName).toPath)
    t = t.write(nation) // v4: checkpoint, GC keeps versions {3, 4}
    val names = logDir.listFiles().map(_.getName).toSet
    assert(!names.contains(legacyName), "graft-layout legacy checkpoint should be GC'd")
    // the stale pointer is OVERWRITTEN by the new checkpoint's
    val ptr = graft.log.Json.mapper.readTree(
      t.logLoc.child("_last_checkpoint").readString())
    assert(ptr.get("version").asLong() == 4L)
    assert(names.contains(f"${4L}%020d.checkpoint.parquet"))
    assert(names.contains(foreignName), "foreign-layout checkpoint must be kept")
    assert(DeltaTable.forPath(d).version == 4L)
  }

  test("delta-format checkpoint: nested-struct layout a Delta engine can replay") {
    val d = tempDir("ckpt-delta-fmt")
    var t = DeltaTable.forPath(d)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
    t = t.write(nation)
    t.checkpoint()
    // pointer + file under delta's exact names
    val ptr = graft.log.Json.mapper.readTree(
      t.logLoc.child("_last_checkpoint").readString())
    assert(ptr.get("version").asLong() == 1L)
    val ckptPath = s"$d/_delta_log/" + f"${1L}%020d.checkpoint.parquet"
    assert(new java.io.File(ckptPath).isFile)
    val ck = spark.read.parquet(ckptPath)
    // sparse nested columns, delta's shape
    val top = ck.schema.fieldNames.toSet
    assert(Set("add", "remove", "metaData", "protocol", "txn").subsetOf(top), top)
    assert(ck.schema("add").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSet == Set("path", "partitionValues", "size", "modificationTime",
        "dataChange", "stats", "tags", "deletionVector",
        "baseRowId", "defaultRowCommitVersion"))
    // exactly one protocol row, one metaData row, and every live add
    assert(ck.filter(col("protocol").isNotNull).count() == 1)
    val meta = ck.filter(col("metaData").isNotNull)
    assert(meta.count() == 1)
    val m = meta.select("metaData.*").first()
    assert(m.getAs[String]("schemaString").contains("n_nationkey"))
    assert(m.getSeq[String](m.fieldIndex("partitionColumns")).toSeq == Seq("n_regionkey"))
    assert(m.getAs[org.apache.spark.sql.Row]("format").getAs[String]("provider") == "parquet")
    val adds = ck.filter(col("add").isNotNull).select("add.*")
    assert(adds.count() == t.fileUris.size)
    // replaying the delta checkpoint's add set reproduces the snapshot:
    // paths are table-root-relative, partition values log-authoritative
    val addRows = adds.select("path", "partitionValues", "size").collect()
    assert(addRows.forall(r => !r.getAs[String]("path").startsWith("file:")))
    assert(addRows.forall(r =>
      r.getMap[String, String](r.fieldIndex("partitionValues")).keySet == Set("n_regionkey")))
    assert(addRows.map(_.getAs[Long]("size")).sum ==
      t.dlog.addActions.values.map(_.size).sum)
    // per-file stats survive as delta's JSON-string stats column
    val stats = adds.select("stats").collect().map(_.getString(0))
    assert(stats.forall(s => s != null && s.contains("numRecords")))
  }

  test("a genuine delta-format checkpoint opens the table after log cleanup") {
    val d = tempDir("ckpt-delta-read")
    var t = DeltaTable.forPath(d)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
    t = t.write(nation)
    // merge-on-read delete: the checkpoint must carry the DV ref through
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") === 3))
    t = t.checkpoint()
    val v = t.version
    val expected = nation.union(nation).filter(col("n_nationkey") =!= 3)
    // simulate a real delta table graft has never seen: drop the
    // graft-native checkpoint artifacts AND every JSON commit at/below
    // the checkpoint (delta's log cleanup)
    t.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      val graftArtifact = name.endsWith(".graft-checkpoint.parquet") ||
        name == Checkpoint.LastCheckpointFile
      val cleanedJson = name.matches("^\\d+\\.json$") &&
        name.split("\\.", 2)(0).toLong <= v
      if (graftArtifact || cleanedJson)
        t.logLoc.fs.delete(t.logLoc.child(name).path, false)
    }
    // plain JSON replay now sees nothing; the delta checkpoint must carry it
    val re = DeltaTable.forPath(d)
    assert(re.version == v)
    assert(re.partitionColumns == Seq("n_regionkey"))
    assertSameRows(re.toDF(spark), expected)
    // DV survived the nested-struct round trip: deleted row stays dead
    assert(re.toDF(spark).filter(col("n_nationkey") === 3).count() == 0)
    // stats/partitions survived: pruning still works from the checkpoint
    assert(re.prunedAdds(col("n_regionkey") === 0).size <
      re.prunedAdds(org.apache.spark.sql.functions.lit(true)).size)
    // and commits AFTER the checkpoint still apply on top
    val t2 = re.write(nation.filter(col("n_nationkey") === 0).coalesce(1))
    assert(DeltaTable.forPath(d).toDF(spark).count() ==
      expected.count() + nation.filter(col("n_nationkey") === 0).count())
  }

  test("writeStatsAsStruct: typed stats_parsed in the delta checkpoint; JSON droppable; read restores") {
    val d = tempDir("ckpt-stats-struct")
    var t = DeltaTable.forPath(d).write(nation)
      .setTableProperties(Map("delta.checkpoint.writeStatsAsStruct" -> "true"))
    t = t.write(nation)
    t = t.checkpoint()
    val v = t.version
    val ckptPath = s"$d/_delta_log/" + f"$v%020d.checkpoint.parquet"
    val ck = spark.read.parquet(ckptPath)
    val addType = ck.schema("add").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addType.fieldNames.contains("stats_parsed"), addType.fieldNames.toSeq)
    val sp = ck.filter(col("add").isNotNull).select("add.stats_parsed.*")
    // typed values parsed straight from parquet, no JSON in the loop
    assert(sp.schema("numRecords").dataType == org.apache.spark.sql.types.LongType)
    // n_nationkey is INT32 in the fixture — the struct stats must carry
    // the column's OWN type, not a stringly/widened one
    assert(sp.schema("minValues").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("n_nationkey").dataType == nation.schema("n_nationkey").dataType)
    val r = sp.agg(sum("numRecords"), min("minValues.n_nationkey"),
      max("maxValues.n_nationkey")).head()
    assert(r.getLong(0) == nation.count() * 2)
    assert(r.getAs[Number](1).longValue() == 0L &&
      r.getAs[Number](2).longValue() == 24L)
    // JSON column still present alongside (writeStatsAsJson defaults true)
    assert(ck.filter(col("add").isNotNull).select("add.stats")
      .collect().forall(_.getString(0) != null))

    // now drop the JSON: struct becomes authoritative
    var t2 = t.setTableProperties(
      Map("delta.checkpoint.writeStatsAsJson" -> "false"))
    t2 = t2.write(nation.filter(col("n_nationkey") < 5)).checkpoint()
    val v2 = t2.version
    val ck2 = spark.read.parquet(s"$d/_delta_log/" + f"$v2%020d.checkpoint.parquet")
    val adds2 = ck2.filter(col("add").isNotNull)
    assert(adds2.select("add.stats").collect().forall(_.getString(0) == null))
    assert(adds2.select("add.stats_parsed.numRecords")
      .collect().forall(!_.isNullAt(0)))

    // foreign-read path: wipe graft artifacts + cleaned JSON so the only
    // source of truth is the struct-stats delta checkpoint — stats must
    // be reconstructed (pruning + metadata COUNT still work)
    t2.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      val graftArtifact = name.endsWith(".graft-checkpoint.parquet") ||
        name == Checkpoint.LastCheckpointFile
      val cleanedJson = name.matches("^\\d+\\.json$") &&
        name.split("\\.", 2)(0).toLong <= v2
      if (graftArtifact || cleanedJson)
        t2.logLoc.fs.delete(t2.logLoc.child(name).path, false)
    }
    val re = DeltaTable.forPath(d)
    assert(re.version == v2)
    assertSameRows(re.toDF(spark),
      nation.union(nation).union(nation.filter(col("n_nationkey") < 5)))
    assert(re.prunedAdds(col("n_nationkey") >= 20).size <
      re.prunedAdds(org.apache.spark.sql.functions.lit(true)).size,
      "restored struct stats must prune")
    assert(re.dlog.addActions.values.forall(_.numRecords.isDefined),
      "numRecords must survive the struct round trip")
  }

  test("nested leaf stats and tightBounds survive writeStatsAsJson=false checkpoints") {
    import org.apache.spark.sql.types.{IntegerType, StructType}
    val d = tempDir("ckpt-stats-nested")
    val data = spark.range(0, 100).select(col("id"),
      struct((col("id") / lit(25)).cast("int").as("a"),
        col("id").cast("string").as("b")).as("s"))
    val t = DeltaTable.forPath(d).write(data.repartitionByRange(4, col("id")))
      .setTableProperties(Map(
        "delta.checkpoint.writeStatsAsStruct" -> "true",
        "delta.checkpoint.writeStatsAsJson" -> "false"))
    // splice tightBounds into one add's stats the way a DV engine records
    // it (a foreign re-add; replay replaces the prior add in place)
    val a0 = t.dlog.addActions.values.head
    val patched = a0.copy(stats = a0.stats.map(s =>
      s.dropRight(1) + ",\"tightBounds\":true}"))
    t.dlog.commit(graft.log.DeltaLogEntry(Vector(patched,
      graft.log.CommitInfo.write("Append", Seq.empty))))
    val t2 = DeltaTable.forPath(d).checkpoint()
    val v = t2.version
    val ck = spark.read.parquet(s"$d/_delta_log/" + f"$v%020d.checkpoint.parquet")
    val sp = ck.filter(col("add").isNotNull).select("add.stats_parsed.*")
    // nested min/max present under the nested shape, with the leaf's type
    val mv = sp.schema("minValues").dataType.asInstanceOf[StructType]
    assert(mv("s").dataType.asInstanceOf[StructType]("a").dataType == IntegerType,
      mv.treeString)
    val mm = sp.agg(min("minValues.s.a"), max("maxValues.s.a")).head()
    assert(mm.getInt(0) == 0 && mm.getInt(1) == 3, mm.toString)
    // tightBounds survived the typed round trip for exactly the patched add
    assert(sp.filter(col("tightBounds") === true).count() == 1)
    // JSON gone (writeStatsAsJson=false)
    assert(ck.filter(col("add").isNotNull).select("add.stats")
      .collect().forall(_.isNullAt(0)))

    // wipe graft artifacts + cleaned JSON: the struct checkpoint is the
    // only stats source — restored JSON must carry nested bounds (prune
    // on the NESTED path) and the tightBounds flag
    t2.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      val graftArtifact = name.endsWith(".graft-checkpoint.parquet") ||
        name == Checkpoint.LastCheckpointFile
      val cleanedJson = name.matches("^\\d+\\.json$") &&
        name.split("\\.", 2)(0).toLong <= v
      if (graftArtifact || cleanedJson)
        t2.logLoc.fs.delete(t2.logLoc.child(name).path, false)
    }
    val re = DeltaTable.forPath(d)
    assert(re.version == v)
    assert(re.prunedAdds(col("s.a") === 3).size <
      re.prunedAdds(org.apache.spark.sql.functions.lit(true)).size,
      "restored nested struct stats must prune on s.a")
    assert(re.dlog.addActions.values.flatMap(_.stats)
      .exists(_.contains("tightBounds")),
      "tightBounds must survive the JSON restore")
  }

  test("multi-part delta checkpoint (N.checkpoint.i.n.parquet) replays") {
    val d = tempDir("ckpt-delta-parts")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.write(nation)
    t = t.checkpoint()
    val v = t.version
    val logDir = new java.io.File(s"$d/_delta_log")
    val single = f"$v%020d.checkpoint.parquet"
    // split the emitted checkpoint into delta's multi-part form
    val rows = spark.read.parquet(s"$logDir/$single")
    val partName = (i: Int) => f"$v%020d.checkpoint.$i%010d.${2}%010d.parquet"
    Seq(1, 2).foreach { i =>
      val half = rows.filter(
        if (i == 1) col("add").isNotNull else col("add").isNull)
      val staging = tempDir(s"ckpt-part-$i")
      half.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(logDir, partName(i)).toPath)
    }
    // remove the single-file form and graft's artifacts: only the parts
    // plus the pointer remain, like a large delta table
    t.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      if (name == single || name.endsWith(".graft-checkpoint.parquet") ||
          name == Checkpoint.LastCheckpointFile ||
          (name.matches("^\\d+\\.json$") &&
            name.split("\\.", 2)(0).toLong <= v))
        t.logLoc.fs.delete(t.logLoc.child(name).path, false)
    }
    val re = DeltaTable.forPath(d)
    assert(re.version == v)
    assertSameRows(re.toDF(spark), nation.union(nation))
  }

  test("multi-part delta checkpoint WRITE: parts named, GC'd, hole rejected") {
    val d = tempDir("ckpt-write-parts")
    var t = DeltaTable.forPath(d).write(nation).write(nation)
    // force the multi-part path: >= 2 parts for ~dozens of actions
    Checkpoint.write(t.dlog, t.conf, maxActionsPerPart = 2)
    val v = t.version
    val names = t.logLoc.listSorted().map(_.getPath.getName)
    val parts = names.filter(_.matches(f"^$v%020d\\.checkpoint\\.\\d+\\.\\d+\\.parquet$$"))
    assert(parts.size >= 2, s"expected multi-part emission, got $names")
    // filenames declare a consistent <i>.<n> and the pointer records parts
    val declaredN = parts.map(_.split("\\.")(3).toInt).distinct
    assert(declaredN == Seq(parts.size))
    val ptr = t.logLoc.child("_last_checkpoint").readString()
    assert(ptr.contains("\"parts\":" + parts.size), ptr)
    // the multi-part form replays completely (delete graft's artifacts
    // and the JSON commits, like the read-side test)
    t.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      if (name.endsWith(".graft-checkpoint.parquet") ||
          name == Checkpoint.LastCheckpointFile ||
          (name.matches("^\\d+\\.json$") && name.split("\\.", 2)(0).toLong <= v))
        t.logLoc.fs.delete(t.logLoc.child(name).path, false)
    }
    val re = DeltaTable.forPath(d)
    assert(re.version == v)
    assertSameRows(re.toDF(spark), nation.union(nation))
    // a MISSING part is a loud corruption error, never a partial replay
    t.logLoc.fs.delete(t.logLoc.child(parts.head).path, false)
    val e = intercept[Checkpoint.CorruptCheckpointException](
      DeltaTable.forPath(d))
    assert(e.getMessage.contains("incomplete"), e.getMessage)
  }

  test("multi-part checkpoints are GC'd when superseded") {
    val d = tempDir("ckpt-parts-gc")
    var t = DeltaTable.forPath(d).write(nation)
    Checkpoint.write(t.dlog, t.conf, maxActionsPerPart = 2) // parts @ v0
    t = t.write(nation)
    Checkpoint.write(t.dlog, t.conf, maxActionsPerPart = 2) // parts @ v1
    t = t.write(nation)
    Checkpoint.write(t.dlog, t.conf, maxActionsPerPart = 2) // parts @ v2
    val names = t.logLoc.listSorted().map(_.getPath.getName)
    // keep-2 policy covers the multi-part family: v0's parts are gone
    assert(!names.exists(_.startsWith(f"${0L}%020d.checkpoint.")), names)
    assert(names.exists(_.startsWith(f"${2L}%020d.checkpoint.")))
  }

  test("concurrent opens of a multi-part checkpoint never deadlock the log pool") {
    // the parts decode on the shared log pool, and the first part, which
    // holds protocol and metaData rows beside adds, decodes its two column
    // groups in parallel: a fan-out from a pool thread that once waited on
    // the pool itself, so a few concurrent opens could leave every pool
    // thread waiting
    val d = tempDir("ckpt-parts-concurrent")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0)
    (0 until 4).foreach(_ => t = t.write(nation.coalesce(1)))
    Checkpoint.write(t.dlog, t.conf, maxActionsPerPart = 4) // [P, M, a, a], [a, a]
    val want = t.dlog.addActions.keySet
    val callers = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val opens = (0 until 16).map(_ => callers.submit(new java.util.concurrent.Callable[Seq[Set[String]]] {
        def call(): Seq[Set[String]] =
          (0 until 20).map(_ => Checkpoint.loadFrom(t.logLoc, t.conf).get.addActions.keySet)
      }))
      opens.foreach(f => assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS).forall(_ == want)))
    } finally callers.shutdownNow()
  }

  test("cleanupLog bounds the log; below-horizon asks fail loudly") {
    val d = tempDir("ckpt-cleanup")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 5)
    val one = nation.filter(col("n_nationkey") < 5).coalesce(1)
    (0 to 10).foreach(_ => t = t.write(one)) // checkpoints at 5, 10
    t = t.cleanupLog()
    val logDir = new java.io.File(s"$d/_delta_log")
    // every JSON commit < 10 is gone; the log listing is BOUNDED. The
    // checkpoint version's own commit stays: it is the commit clock
    assert(logDir.listFiles().map(_.getName).filter(_.matches("\\d+\\.json"))
      .toSeq == Seq(f"${10L}%020d.json"))
    assert(t.version == 10L)
    // reads, writes, versions keep working from the checkpoint base
    t = t.write(one) // version 11
    val re = DeltaTable.forPath(d)
    assert(re.version == 11L)
    assert(re.toDF(spark).count() == 12 * one.count())
    assert(re.versions == Seq(10L, 11L))
    // CDF from the checkpoint on works; below it errors with the horizon
    assert(re.changesBetween(spark, 10L, 11L).count() == one.count())
    val e1 = intercept[IllegalArgumentException](re.changesBetween(spark, 3L, 11L))
    assert(e1.getMessage.contains("log cleanup"))
    // time travel below the checkpoint errors instead of reading empty
    val e2 = intercept[IllegalArgumentException](DeltaTable.forPath(d, version = Some(3L)))
    assert(e2.getMessage.contains("log cleanup"))
    // time travel AT/ABOVE the checkpoint still works
    assert(DeltaTable.forPath(d, version = Some(10L)).toDF(spark).count() == 11 * one.count())
    // cleanup without any checkpoint is refused
    val d2 = tempDir("ckpt-cleanup-none")
    val t2 = DeltaTable.forPath(d2).write(one)
    intercept[IllegalStateException](t2.cleanupLog())
  }

  test("cleanupLog honors delta.logRetentionDuration") {
    val d = tempDir("ckpt-cleanup-retention")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 1000)
    val one = nation.filter(col("n_nationkey") < 5).coalesce(1)
    t = t.write(one) // v0
    t = t.setTableProperties(Map("delta.logRetentionDuration" -> "interval 1 week"))
    (0 to 2).foreach(_ => t = t.write(one)) // v2..v4
    t = t.checkpoint()
    t = t.cleanupLog()
    val logDir = new java.io.File(s"$d/_delta_log")
    // every commit is younger than the week window: nothing is deleted,
    // so time travel across the whole retention window stays alive
    assert(logDir.listFiles().count(_.getName.matches("\\d+\\.json")) == 5)
    assert(DeltaTable.forPath(d, version = Some(1L)).version == 1L)
    // unparseable value fails loudly instead of silently deleting
    val bad = t.setTableProperties(Map("delta.logRetentionDuration" -> "next tuesday"))
    val e = intercept[IllegalArgumentException](bad.checkpoint().cleanupLog())
    assert(e.getMessage.contains("delta.logRetentionDuration"))
    // window removed: the explicit-call default (0) deletes below the ck
    val t2 = bad.unsetTableProperties(Seq("delta.logRetentionDuration"))
      .checkpoint().cleanupLog()
    assert(logDir.listFiles().map(_.getName).filter(_.matches("\\d+\\.json"))
      .toSeq == Seq(f"${t2.version}%020d.json"))
    assert(t2.toDF(spark).count() == 4 * one.count())
  }

  test("below-newest-checkpoint asks recover via retained checkpoints, never a partial tail") {
    val d = tempDir("ckpt-recover")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 1000)
    val one = nation.filter(col("n_nationkey") < 5).coalesce(1)
    (0 to 4).foreach(_ => t = t.write(one)) // v0..v4
    t = t.checkpoint()                      // ck@4
    t = t.cleanupLog()                      // JSON <= 4 gone
    (5 to 9).foreach(_ => t = t.write(one)) // v5..v9 (JSON survives)
    t = t.checkpoint()                      // ck@9 (keep-2 retains ck@4)
    val re = DeltaTable.forPath(d)
    // v7 predates the NEWEST checkpoint, but ck@4 + JSON 5..7 serve it
    // completely — the pre-fix behavior returned the surviving tail
    // ALONE (3 files instead of 8): a silently partial snapshot
    assert(re.loadAsVersion(7L).toDF(spark).count() == 8 * one.count())
    assert(DeltaTable.forPath(d, version = Some(7L)).toDF(spark).count() ==
      8 * one.count())
    // v2 is genuinely unreachable (no retained checkpoint <= 2, JSON gone)
    val e = intercept[IllegalArgumentException](re.loadAsVersion(2L))
    assert(e.getMessage.contains("log cleanup"))
    // second cleanup deletes JSON <= 9: v4 still recovers EXACTLY at the
    // retained ck@4; v7's JSON is now gone, so it fails loudly
    val t2 = re.cleanupLog()
    assert(t2.loadAsVersion(4L).toDF(spark).count() == 5 * one.count())
    intercept[IllegalArgumentException](t2.loadAsVersion(7L))
  }

  test("enableExpiredLogCleanup sweeps expired commits at auto-checkpoints") {
    val d = tempDir("auto-cleanup")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 2).write(nation) // v0
    t = t.setTableProperties(Map(                                      // v1
      "delta.enableExpiredLogCleanup" -> "true",
      "delta.logRetentionDuration" -> "interval 0 days"))
    t = t.write(nation)                                                // v2: auto ckpt + sweep
    val names = t.logLoc.listSorted().map(_.getPath.getName)
    assert(!names.exists(_.matches("^0+0\\.json$")),
      s"v0 commit should be swept: $names")
    assert(names.exists(_.contains("checkpoint")), names.toString)
    // reopening rides the checkpoint fast path; state intact
    val re = DeltaTable.forPath(d)
    assert(re.version == 2L)
    assert(re.toDF(spark).count() == nation.count() * 2)
    // retention honored: with a long window, nothing is swept
    val d2 = tempDir("auto-cleanup-ret")
    var t2 = DeltaTable.forPath(d2).copy(checkpointInterval = 2).write(nation)
    t2 = t2.setTableProperties(Map(
      "delta.enableExpiredLogCleanup" -> "true",
      "delta.logRetentionDuration" -> "interval 7 days"))
    t2 = t2.write(nation)
    assert(t2.logLoc.listSorted().map(_.getPath.getName)
      .count(_.endsWith(".json")) == 3, "fresh commits must survive")
  }

  test("checkpointProtection: partial cleanup below the protected boundary refused") {
    val d = tempDir("ckpt-protect")
    var t = DeltaTable.forPath(d).write(nation)          // v0
    t = t.setTableProperties(                            // v1
      Map("delta.requireCheckpointProtectionBeforeVersion" -> "4"))
    // the property declares the feature
    assert(graft.log.ProtocolGate
      .writerFeatures(t.dlog.currentProtocol).contains("checkpointProtection"))
    t = t.write(nation).checkpoint()                     // v2, checkpoint@2
    t = t.write(nation)                                  // v3
    t = t.write(nation)                                  // v4
    // checkpoint horizon 2 < protectV-1=3: a sweep of commits <=2 would
    // fragment the protected history — refused
    val ex = intercept[IllegalArgumentException](t.cleanupLog())
    assert(ex.getMessage.contains("checkpointProtection"), ex.getMessage)
    assert(t.logLoc.listSorted().map(_.getPath.getName)
      .count(_.endsWith(".json")) == 5, "no commit may have been deleted")
    // checkpoint at the head (>= protectV-1): one-sweep cleanup allowed
    t = t.checkpoint().cleanupLog()
    assert(DeltaTable.forPath(d).toDF(spark).count() == nation.count() * 4)
  }

  test("cleanupLog refuses to delete commits it cannot re-serve") {
    val d = tempDir("ckpt-cleanup-guard")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 1000)
    val one = nation.filter(col("n_nationkey") < 5).coalesce(1)
    (0 to 3).foreach(_ => t = t.write(one))
    t = t.checkpoint()
    // corrupt EVERY checkpoint payload (graft + delta-format twin) while
    // both pointers stay parseable — the pre-fix code trusted the
    // pointer and deleted the JSON anyway, leaving a permanently
    // partial table
    val logDir = new java.io.File(s"$d/_delta_log")
    logDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "garbage".getBytes)
    }
    val e = intercept[IllegalStateException](DeltaTable.forPath(d).cleanupLog())
    assert(e.getMessage.contains("refusing to delete"), e.getMessage)
    // nothing was deleted: the table still opens from full JSON replay
    assert(logDir.listFiles().count(_.getName.matches("\\d+\\.json")) == 4)
    // and a cleaned log whose checkpoint no longer reads refuses to OPEN
    // as a partial snapshot (delete the early JSON by hand to simulate)
    logDir.listFiles().filter(_.getName.matches("0+[01]\\.json"))
      .foreach(_.delete())
    val e2 = intercept[IllegalStateException](DeltaTable.forPath(d))
    assert(e2.getMessage.contains("partial"), e2.getMessage)
  }

  test("startingTimestamp below the cleanup horizon fails loudly") {
    val d = tempDir("ckpt-tsafter")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 1000)
    val one = nation.filter(col("n_nationkey") < 5).coalesce(1)
    val before = System.currentTimeMillis() - 1
    (0 to 4).foreach(_ => t = t.write(one))
    t = t.checkpoint().cleanupLog()
    Thread.sleep(5)
    t = t.write(one) // v5, the oldest SURVIVING commit with commitInfo
    val re = DeltaTable.forPath(d)
    // T predating the horizon: cleaned commits may have been >= T — the
    // resolution cannot be complete, so it must error, not skip them
    val e = intercept[IllegalArgumentException](re.versionAtOrAfter(before))
    assert(e.getMessage.contains("log cleanup"), e.getMessage)
    // T strictly after the oldest survivor resolves exactly
    assert(re.versionAtOrAfter(System.currentTimeMillis() + 1000) == re.version + 1)
  }

  test("partitioned table state survives a checkpoint round-trip") {
    val d = tempDir("ckpt-part")
    var t = DeltaTable.forPath(d)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
    t = t.write(nation)
    t.checkpoint()
    val fresh = DeltaTable.forPath(d)
    assert(fresh.partitionColumns == Seq("n_regionkey"))
    assert(fresh.prunedAdds(col("n_regionkey") === 0).size <
      fresh.prunedAdds(lit(true)).size)
    assertSameRows(fresh.toDF(spark), nation.union(nation))
  }

  /** Three small tables checkpointed in each layout: classic single
    * file, multi-part (two actions per part) and V2 manifest + sidecars.
    */
  private def layoutTables(prefix: String): Seq[(String, DeltaTable)] =
    Seq("classic" -> Map.empty[String, String], "multi" -> Map.empty[String, String],
      "v2" -> Map("delta.checkpointPolicy" -> "v2")).map { case (kind, props) =>
      var t = DeltaTable.forPath(tempDir(s"$prefix-$kind"))
        .copy(checkpointInterval = 0).write(nation)
      if (props.nonEmpty) t = t.setTableProperties(props)
      t = t.write(nation.filter(col("n_nationkey") < 5).coalesce(1))
      kind -> t
    }

  private def checkpointIn(kind: String, t: DeltaTable): Unit =
    if (kind == "multi") Checkpoint.write(t.dlog, t.conf, maxActionsPerPart = 2)
    else t.checkpoint()

  test("session-less open: classic, multi-part and V2 checkpoints after cleanupLog") {
    val tables = layoutTables("ckpt-nosession").map { case (kind, t) =>
      checkpointIn(kind, t)
      kind -> t.cleanupLog()
    }
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try tables.foreach { case (kind, t) =>
      assert(SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty)
      val log = Checkpoint.loadFrom(t.logLoc, t.conf)
      assert(log.isDefined, s"$kind: no fast path without a session")
      assert(log.get.version == t.version && log.get.entries.firstKey == t.version, kind)
      assert(log.get.addActions.keySet == t.dlog.addActions.keySet, kind)
      assert(log.get.addActions.values.flatMap(_.numRecords).sum == 30L, kind)
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  test("checkpoint() and a fast-path open run no Spark job; no graft layout written") {
    layoutTables("ckpt-nojob").foreach { case (kind, t) =>
      assert(jobsDuring(checkpointIn(kind, t)) == 0, kind)
      val names = t.logLoc.listSorted().map(_.getPath.getName)
      val here = names.filter(_.startsWith(f"${t.version}%020d.checkpoint."))
      assert(if (kind == "multi") here.size >= 2 else here.size == 1, s"$kind: $names")
      assert(!names.exists(n => n.endsWith(".graft-checkpoint.parquet") ||
        n == Checkpoint.LastCheckpointFile), s"$kind: $names")
      var re: DeltaTable = null
      assert(jobsDuring { re = DeltaTable.forPath(t.loc.uri) } == 0, kind)
      assert(re.dlog.entries.firstKey == t.version, kind)
      assert(re.dlog.addActions.keySet == t.dlog.addActions.keySet, kind)
    }
  }

  test("a table with a graft-layout checkpoint moves to the delta layout") {
    val d = tempDir("ckpt-migrate")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0)
    val one = nation.filter(col("n_nationkey") < 5).coalesce(1)
    (0 to 10).foreach(_ => t = t.write(one))
    LegacyGraftCheckpoint.write(t.dlog, t.conf) // as an earlier build left it
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(10L))
    assert(DeltaTable.forPath(d).dlog.entries.firstKey == 10L)
    (11 to 20).foreach(_ => t = t.write(one))
    t = t.checkpoint()
    def names = t.logLoc.listSorted().map(_.getPath.getName)
    val graftFiles = Seq(Checkpoint.checkpointFilename(10L), Checkpoint.LastCheckpointFile)
    // the newer (delta) pointer wins; keep-2 counts 10 and 20 across layouts
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(20L))
    val re = DeltaTable.forPath(d)
    assert(re.dlog.entries.firstKey == 20L && re.version == 20L)
    assertSameRows(re.toDF(spark), t.toDF(spark))
    assert(graftFiles.forall(names.contains), names)
    // two newer checkpoints: the graft file and its pointer are retired
    (21 to 30).foreach(_ => t = t.write(one))
    t = t.checkpoint()
    assert(!graftFiles.exists(names.contains), names)
    assert(Seq(20L, 30L).forall(v => names.contains(f"$v%020d.checkpoint.parquet")), names)
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(30L))
    assert(DeltaTable.forPath(d).toDF(spark).count() == 31 * one.count())
  }

  test("a committed graft-layout checkpoint table opens through Checkpoint.read") {
    // src/test/resources/graft/legacy-graft-checkpoint-table: 48 rows
    // (k, p = k % 2, v) over 6 files, a merge-on-read delete of k % 10 = 3,
    // a domain, a graft-layout checkpoint at 4 with the commits at and
    // below it cleaned, then one more row at 5 — written by the last
    // build that wrote the graft layout
    val d = copyToTemp(java.nio.file.Paths.get(
      getClass.getResource("/graft/legacy-graft-checkpoint-table").toURI), "legacy-graft")
    val t = DeltaTable.forPath(d)
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(4L))
    val base = Checkpoint.read(t.logLoc, 4L, t.conf)
    assert(base.adds.size == 6 && base.commitInfos.size == 1)
    assert(t.version == 5L && t.dlog.entries.firstKey == 4L)
    assert(t.partitionColumns == Seq("p"))
    assert(t.domainMetadata == Map("legacy.fixture" -> """{"hwm":7}"""))
    // the graft layout's head commitInfo keeps the commit clock
    assert(t.history.map(_._1).toSet == Set(4L, 5L))
    val df = t.toDF(spark)
    assert(df.count() == 44L)
    assert(df.agg(sum("k")).head().getLong(0) == 1113L)
    assert(df.filter(col("k") % 10 === 3).count() == 0L)
    // a checkpoint on top is in the delta layout and serves the same rows
    t.checkpoint()
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(5L))
    val re = DeltaTable.forPath(d)
    assert(re.dlog.entries.firstKey == 5L)
    assertSameRows(re.toDF(spark), df)
  }

  test("a failed auto-checkpoint never fails the commit and logs one WARN") {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.ckptfail.impl", classOf[CheckpointFailingFileSystem].getName)
    val d = "ckptfail:" + tempDir("ckpt-fail")
    val logger = org.apache.logging.log4j.LogManager.getLogger(classOf[DeltaTable])
      .asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "ckpt-fail-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    logger.addAppender(capture)
    try {
      var t = DeltaTable.forPath(d, conf = hconf).copy(checkpointInterval = 2)
      (0 to 2).foreach(_ => t = t.write(nation)) // v2 crosses the interval
      assert(t.version == 2L)
      assert(Checkpoint.lastCheckpointVersion(t.logLoc).isEmpty)
      // nothing is left behind: no checkpoint, no temp file
      assert(!t.logLoc.listSorted().map(_.getPath.getName)
        .exists(n => n.contains("checkpoint") || n.contains("_ckpt_tmp-")))
      assert(DeltaTable.forPath(d, conf = hconf).toDF(spark).count() == 3 * nation.count())
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    val warns = seen.toArray.map(_.toString).filter(_.startsWith("WARN"))
    assert(warns.length == 1, warns.mkString("\n"))
    assert(warns.head.contains("ckptfail:") && warns.head.contains("version 2") &&
      warns.head.contains("injected checkpoint write failure"), warns.head)
  }
}

/** The `mock:` scheme, renamed `ckptfail:`, whose checkpoint temp files
  * take no bytes: every checkpoint write fails after creating its temp
  * file, everything else works.
  */
class CheckpointFailingFileSystem extends MockSchemeFileSystem {
  override def getScheme: String = "ckptfail"
  override def getUri: java.net.URI = java.net.URI.create("ckptfail:///")
  private def refusing(f: Path, out: java.io.OutputStream): java.io.OutputStream =
    if (!f.getName.startsWith("_ckpt_tmp-")) out
    else new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit =
        throw new java.io.IOException("injected checkpoint write failure")
      override def write(b: Array[Byte], off: Int, len: Int): Unit = write(0)
    }
  override protected def createOutputStream(f: Path, append: Boolean): java.io.OutputStream =
    refusing(f, super.createOutputStream(f, append))
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream =
    refusing(f, super.createOutputStreamWithMode(f, append, permission))
}
