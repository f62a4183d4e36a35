package graft

import graft.sources.{DeletionVectors, DeltaScan}
import org.apache.spark.sql.functions._

/** Merge-on-read DELETE via deletion vectors: vector creation, DV-aware
  * scans, interaction with copy-on-write ops, compaction purge, vacuum
  * protection, time travel, clone, and tables whose vectors an earlier
  * build wrote as `_graft_dv` parquet sidecars.
  */
class DeletionVectorsSpec extends SparkSuite {

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")
  private def lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")

  private def dataFileCount(t: DeltaTable): Int = t.fileUris.size

  /** A private copy of the committed legacy fixture: 40 rows `(k, p, v, x)`
    * with `p = k % 2`, in 8 files of 5 rows, after an earlier build's
    * merge-on-read delete of `k % 10 >= 8` put a `_graft_dv` sidecar
    * vector on every file.
    */
  private def legacySidecarTable(): DeltaTable = DeltaTable.forPath(copyToTemp(
    java.nio.file.Paths.get(getClass.getResource("/graft/legacy-sidecar-dv-table").toURI),
    "dv-legacy"))

  /** The fixture's 40 rows before its delete. */
  private def legacyAllRows = {
    val s = spark
    import s.implicits._
    (0 until 40).map(k => (k, k % 2, s"v$k", k * 1.5)).toDF("k", "p", "v", "x")
  }

  /** The fixture's live rows after `where` is deleted too. */
  private def legacyRows(where: org.apache.spark.sql.Column = lit(false)) =
    legacyAllRows.filter(col("k") % 10 < 8 && not(where))

  private def sidecarRefs(t: DeltaTable): Seq[DeletionVectors.SidecarRef] =
    t.dlog.addActions.values.toSeq.flatMap(DeletionVectors.refOf(_))
      .collect { case r: DeletionVectors.SidecarRef => r }

  test("deleteMergeOnRead drops rows without rewriting data files") {
    val d = tempDir("dv-basic")
    var t = DeltaTable.forPath(d).write(nation).write(nation.filter(col("n_regionkey") < 3))
    val urisBefore = t.fileUris.toSet

    t = t.deleteMergeOnRead(spark, Some(col("n_regionkey") === 1))
    // same data files, re-added with a DV ref
    assert(t.fileUris.toSet == urisBefore, "MoR delete must not rewrite data files")
    val dved = t.dlog.addActions.values.filter(a => DeletionVectors.refOf(a).isDefined)
    assert(dved.nonEmpty, "touched adds should carry deletionVector refs")
    assertSameRows(t.toDF(spark),
      nation.union(nation.filter(col("n_regionkey") < 3))
        .filter(not(col("n_regionkey") === 1)))
    assert(t.history.head._2.operation == "DELETE")
  }

  test("delta.enableDeletionVectors=true writes SPEC roaring DVs foreign readers resolve") {
    val d = tempDir("dv-spec-write")
    val data = spark.range(0, 1000).toDF("id").repartition(1)
    var t = DeltaTable.forPath(d).write(data)
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    // 100 dead rows exceed the inline threshold: descriptor is the delta
    // wire format, file is the uuid-named .bin
    val dref = t.dlog.addActions.values.flatMap(DeletionVectors.refOf(_))
      .collectFirst { case r: DeletionVectors.DeltaRef => r }.get
    assert(dref.storageType == "u", dref.toString)
    assert(dref.cardinality == 100L)
    val bins = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).map(_.getName)
    assert(bins.length == 1, bins.toSeq.toString)
    // scan resolves through the spec bitmap; a FRESH handle (pure log
    // replay, like a foreign reader) agrees
    assert(t.toDF(spark).count() == 900L)
    assert(DeltaTable.forPath(d).toDF(spark)
      .filter(col("id") % 10 === 0).count() == 0L)

    // re-delete merges prior dead rows into a NEW total bin
    t = t.deleteMergeOnRead(spark, Some(col("id") === 5))
    val ref2 = t.dlog.addActions.values.flatMap(DeletionVectors.refOf(_))
      .collectFirst { case r: DeletionVectors.DeltaRef => r }.get
    assert(ref2.cardinality == 101L)
    assert(DeltaTable.forPath(d).toDF(spark).count() == 899L)

    // the delta-format checkpoint carries the descriptor as a typed
    // struct (what a foreign delta reader consumes)
    t = t.checkpoint()
    val v = t.version
    val ck = spark.read.parquet(s"$d/_delta_log/" + f"$v%020d.checkpoint.parquet")
    val dvRows = ck.filter(col("add.deletionVector.storageType") === "u")
      .select("add.deletionVector.pathOrInlineDv", "add.deletionVector.cardinality")
      .collect()
    assert(dvRows.length == 1, dvRows.toSeq.toString)
    assert(dvRows.head.getLong(1) == ref2.cardinality)

    // vacuum keeps the LIVE bin, removes the superseded one
    t.vacuum(retentionMs = 0L)
    val after = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).map(_.getName)
    assert(after.length == 1, after.toSeq.toString)
    assert(DeltaTable.forPath(d).toDF(spark).count() == 899L)
  }

  test("tiny spec DVs inline into the descriptor (no per-file .bin)") {
    val d = tempDir("dv-spec-inline")
    val data = spark.range(0, 1000).toDF("id").repartition(1)
    var t = DeltaTable.forPath(d).write(data)
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    t = t.deleteMergeOnRead(spark, Some(col("id").isin(3L, 7L, 11L)))
    val dref = t.dlog.addActions.values.flatMap(DeletionVectors.refOf(_))
      .collectFirst { case r: DeletionVectors.DeltaRef => r }.get
    assert(dref.storageType == "i", dref.toString)
    assert(dref.cardinality == 3L)
    assert(new java.io.File(d).listFiles()
      .forall(!_.getName.startsWith("deletion_vector_")),
      "inline DV must not write a .bin")
    assert(DeltaTable.forPath(d).toDF(spark).count() == 997L)
    assert(DeltaTable.forPath(d).toDF(spark)
      .filter(col("id").isin(3L, 7L, 11L)).count() == 0L)
    // inline payload survives the typed checkpoint struct
    t = t.checkpoint()
    val v = t.version
    val ck = spark.read.parquet(s"$d/_delta_log/" + f"$v%020d.checkpoint.parquet")
    assert(ck.filter(col("add.deletionVector.storageType") === "i").count() == 1L)
  }

  test("re-delete merges prior dead rows: newest vector is total per file") {
    val d = tempDir("dv-redelete")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_regionkey") === 0))
    t = t.deleteMergeOnRead(spark, Some(col("n_regionkey") === 1))
    val expected = nation.filter(col("n_regionkey") =!= 0 && col("n_regionkey") =!= 1)
    assertSameRows(t.toDF(spark), expected)
    // every DV'd add references exactly ONE vector whose cardinality is
    // the file's TOTAL dead count (prior + new merged in)
    val refs = t.dlog.addActions.values.flatMap(DeletionVectors.refOf(_)).toSeq
    assert(refs.nonEmpty)
    val totalDead = refs.map(_.cardinality).sum
    assert(totalDead == nation.filter(col("n_regionkey").isin(0, 1)).count())
  }

  test("a fully-dead file leaves the log instead of carrying a 100% DV") {
    val d = tempDir("dv-fulldead")
    // two files: one entirely region 0, one mixed
    var t = DeltaTable.forPath(d)
      .write(nation.filter(col("n_regionkey") === 0))
      .write(nation.filter(col("n_regionkey") > 0))
    assert(dataFileCount(t) == 2)
    t = t.deleteMergeOnRead(spark, Some(col("n_regionkey") === 0))
    assert(dataFileCount(t) == 1, "all-dead file should be removed from the log")
    assert(t.dlog.addActions.values.forall(a => DeletionVectors.refOf(a).isEmpty),
      "surviving file was untouched; no vector should be written")
    assertSameRows(t.toDF(spark), nation.filter(col("n_regionkey") > 0))
  }

  test("CDF and OPTIMIZE work over spec-format vectors") {
    val d = tempDir("dv-spec-cdf")
    var t = DeltaTable.forPath(d)
      .write(spark.range(0, 1000).toDF("id").repartition(2))
      .setTableProperties(Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true"))
    val vProps = t.version
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    // the change feed renders the spec-DV delete as exactly the 100 dead
    // rows (resolved through the roaring bitmaps)
    val changes = t.changesBetween(spark, vProps, t.version)
      .filter(col("_change_type") === "delete")
    assert(changes.count() == 100L, changes.count().toString)
    assert(changes.filter(col("id") % 10 =!= 0).count() == 0L)
    // OPTIMIZE rewrites through the vectors: refs purged, rows stable
    t = t.compact(spark)
    assert(t.dlog.addActions.values
      .forall(a => DeletionVectors.refOf(a).isEmpty),
      "compaction must purge spec refs")
    assert(t.toDF(spark).count() == 900L)
    assert(DeltaTable.forPath(d).toDF(spark).count() == 900L)
  }

  test("MERGE over a spec-DV table reads through the vectors") {
    val d = tempDir("dv-spec-merge")
    var t = DeltaTable.forPath(d)
      .write(spark.range(0, 1000).toDF("id")
        .withColumn("v", col("id") * 2).repartition(1))
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    // source updates 50 live rows and inserts 10 new; the rewrite must
    // read THROUGH the vectors (dead rows must not resurrect)
    val src = spark.range(0, 50).toDF("id").withColumn("v", lit(-1L))
      .union(spark.range(2000, 2010).toDF("id").withColumn("v", lit(0L)))
    t = t.merge(spark, src, Seq("id"))
    val df = DeltaTable.forPath(d).toDF(spark)
    // upsert semantics: the 5 DV-dead ids among 0-49 are NOT MATCHED and
    // re-INSERT (they were deleted, so the source legitimately recreates
    // them); dead ids outside the source stay dead; matched rows update
    assert(df.count() == 900L + 5L + 10L, df.count().toString)
    assert(df.filter(col("id") < 50 && col("v") =!= -1L).count() == 0L)
    assert(df.filter(col("id") % 10 === 0 && col("id") >= 50 && col("id") < 1000)
      .count() == 0L, "dead rows outside the source must stay dead")
    assert(df.filter(col("id") >= 2000).count() == 10L)
  }

  test("v2 checkpoint round-trips spec-DV descriptors") {
    val d = tempDir("dv-spec-v2ckpt")
    var t = DeltaTable.forPath(d)
      .write(spark.range(0, 1000).toDF("id").repartition(1))
      .setTableProperties(Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.checkpointPolicy" -> "v2"))
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    t = t.checkpoint()
    val v = t.version
    // wipe graft artifacts, BOTH pointers and the JSON log: the v2
    // manifest+sidecars are the only source of truth and must be
    // discovered by LISTING (the pointer is a hint, not a requirement)
    t.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      val graftArtifact = name.endsWith(".graft-checkpoint.parquet") ||
        name == "_last_checkpoint" ||
        name == graft.log.Checkpoint.LastCheckpointFile
      val cleanedJson = name.matches("^\\d+\\.json$")
      if (graftArtifact || cleanedJson)
        t.logLoc.fs.delete(t.logLoc.child(name).path, false)
    }
    val re = DeltaTable.forPath(d)
    assert(re.version == v)
    assert(re.toDF(spark).count() == 900L)
    assert(re.toDF(spark).filter(col("id") % 10 === 0).count() == 0L)
  }

  test("RESTORE across a MoR delete resurrects the dead rows") {
    // the delete re-ADDS the same path with a DV ref, so restore must
    // re-add the PRE-delete action for paths whose action changed, not
    // just paths that disappeared
    val d = tempDir("dv-restore")
    var t = DeltaTable.forPath(d).write(nation)
    val v0 = t.version
    t = t.deleteMergeOnRead(spark, Some(col("n_regionkey") === 0))
    assert(t.toDF(spark).count() < nation.count())
    t = t.restore(v0)
    assertSameRows(t.toDF(spark), nation)

    // a legacy sidecar table restores across its sidecar delete, and back
    val lt = legacySidecarTable()
    val vSidecar = lt.version
    val pre = lt.restore(vSidecar - 1)
    assertSameRows(pre.toDF(spark), legacyAllRows)
    assertSameRows(pre.restore(vSidecar).toDF(spark), legacyRows())

    // spec flavor
    val d2 = tempDir("dv-restore-spec")
    var t2 = DeltaTable.forPath(d2)
      .write(spark.range(0, 1000).toDF("id").repartition(1))
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    val v1 = t2.version
    t2 = t2.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    assert(t2.toDF(spark).count() == 900L)
    t2 = t2.restore(v1)
    assert(t2.toDF(spark).count() == 1000L)

    // restoring TO a DV'd version whose vector was deleted refuses
    val v2 = t2.version // post-restore (clean)
    t2 = t2.deleteMergeOnRead(spark, Some(col("id") < 200)) // "u" bin
    val vDv = t2.version
    t2 = t2.delete(spark, Some(col("id") < 500)) // CoW rewrite purges refs
    new java.io.File(d2).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).foreach(_.delete())
    val ex = intercept[IllegalStateException](
      DeltaTable.forPath(d2).restore(vDv))
    assert(ex.getMessage.contains("deletion vector"), ex.getMessage)
  }

  test("time travel reads pre-delete versions in full") {
    val d = tempDir("dv-timetravel")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 10))
    assertSameRows(t.loadAsVersion(0L).toDF(spark), nation)
    assertSameRows(t.toDF(spark), nation.filter(col("n_nationkey") >= 10))
  }

  test("copy-on-write delete after MoR delete reads through the vector") {
    val d = tempDir("dv-cow-after")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") === 3))
    t = t.delete(spark, Some(col("n_nationkey") === 5))
    // the rewrite purged the DV: no add carries a ref anymore
    assert(t.dlog.addActions.values.forall(a => DeletionVectors.refOf(a).isEmpty))
    assertSameRows(t.toDF(spark),
      nation.filter(col("n_nationkey") =!= 3 && col("n_nationkey") =!= 5))
  }

  test("update and merge observe MoR-deleted rows") {
    val d = tempDir("dv-update")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 5))
    // update must not resurrect dead rows
    t = t.update(spark, Some(col("n_nationkey") < 8), Map("n_name" -> lit("X")))
    val got = t.toDF(spark)
    assert(got.count() == nation.filter(col("n_nationkey") >= 5).count())
    assert(got.filter(col("n_name") === "X").count() == 3) // keys 5,6,7
    // merge: upsert a row whose key was MoR-deleted re-inserts exactly once
    val src = nation.filter(col("n_nationkey") === 2)
      .withColumn("n_name", lit("REBORN"))
    t = t.merge(spark, src, Seq("n_nationkey"))
    assert(t.toDF(spark).filter(col("n_nationkey") === 2).count() == 1)
  }

  test("compact purges deletion vectors; vacuum protects live sidecars") {
    // legacy sidecar vectors: vacuum with zero retention must NOT delete
    // the referenced sidecar; once compaction purges the refs it may
    val lt = legacySidecarTable()
    assert(sidecarRefs(lt).size == 8)
    lt.vacuum(retentionMs = 0L)
    assertSameRows(DeltaTable.forPath(lt.loc.uri).toDF(spark), legacyRows())
    val lc = lt.compact(spark)
    assert(lc.dlog.addActions.values.forall(a => DeletionVectors.refOf(a).isEmpty),
      "compaction should purge sidecar refs")
    assertSameRows(lc.toDF(spark), legacyRows())
    val reclaimed = lc.vacuum(retentionMs = 0L)
    assert(reclaimed.exists(_.contains(DeletionVectors.DvDirName)),
      s"expected sidecar reclaim, got $reclaimed")
    assertSameRows(DeltaTable.forPath(lt.loc.uri).toDF(spark), legacyRows())

    // spec vectors: 100 dead rows per file are past the inline size, so
    // each file's vector is a .bin on disk
    def bins(dir: String): Seq[String] = new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filter(_.startsWith("deletion_vector_"))
    val d = tempDir("dv-compact")
    val ids = spark.range(0, 1000).toDF("id").coalesce(1)
    var t = DeltaTable.forPath(d).write(ids).write(ids)
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    val expected = ids.union(ids).filter(col("id") % 10 =!= 0)
    assert(bins(d).size == 2, bins(d).toString)

    // vacuum with zero retention must NOT delete a referenced .bin
    t.vacuum(retentionMs = 0L)
    assert(bins(d).size == 2, bins(d).toString)
    assertSameRows(t.toDF(spark), expected)

    t = t.compact(spark)
    assert(t.dlog.addActions.values.forall(a => DeletionVectors.refOf(a).isEmpty),
      "compaction should purge vectors")
    assertSameRows(t.toDF(spark), expected)

    // now the .bins are unreferenced: vacuum reclaims them
    val deleted = t.vacuum(retentionMs = 0L)
    assert(deleted.count(_.contains("deletion_vector_")) == 2,
      s"expected .bin reclaim, got $deleted")
    assert(bins(d).isEmpty, bins(d).toString)
    assertSameRows(t.toDF(spark), expected)
  }

  test("clone re-points sidecar refs; MoR table survives cloning") {
    val t = legacySidecarTable()
    val c = t.cloneTo(tempDir("dv-clone-dst"))
    assertSameRows(c.toDF(spark), legacyRows())
    // the clone's refs name the SOURCE's sidecar, absolutely
    val srcSidecar = sidecarRefs(t).head.sidecar
    assert(sidecarRefs(c).size == 8 &&
      sidecarRefs(c).forall(r => r.sidecar.endsWith(srcSidecar) && r.sidecar != srcSidecar),
      sidecarRefs(c).toString)
    // the clone is independently deletable: its own spec vectors, the
    // source sidecar's rows merged in
    val c2 = c.deleteMergeOnRead(spark, Some(col("k") === 0))
    assertSameRows(c2.toDF(spark), legacyRows(col("k") === 0))
    assert(c2.dlog.addActions.values.flatMap(DeletionVectors.refOf(_)).exists {
      case r: DeletionVectors.DeltaRef => r.cardinality == 2L
      case _ => false
    })
    assertSameRows(t.toDF(spark), legacyRows())

    // a deep clone copies the sidecar with the data: it reads on after
    // the source is gone
    val deep = t.deepCloneTo(spark, tempDir("dv-deep-clone-dst"))
    assert(sidecarRefs(deep).size == 8)
    t.loc.delete()
    assertSameRows(DeltaTable.forPath(deep.loc.uri).toDF(spark), legacyRows())
  }

  test("MoR delete on a partitioned table prunes candidate files") {
    val d = tempDir("dv-part")
    var t = DeltaTable.forPath(d)
      .write(lineitem, partitionBy = Some(Seq("l_returnflag")))
    val before = t.fileUris.toSet
    t = t.deleteMergeOnRead(spark, Some(col("l_returnflag") === "R" && col("l_quantity") < 10))
    assert(t.fileUris.toSet == before)
    // only files of the R partition may carry refs
    val dved = t.dlog.addActions.values.filter(a => DeletionVectors.refOf(a).isDefined)
    assert(dved.forall(_.partitionValues.get("l_returnflag").flatten.contains("R")))
    assertSameRows(t.toDF(spark),
      lineitem.filter(not(col("l_returnflag") === "R" && col("l_quantity") < 10)))
  }

  test("DV scan plan: clean and DV'd scans are both join-free") {
    val d = tempDir("dv-plan")
    var t = DeltaTable.forPath(d).write(nation)
    val cleanPlan = t.toDF(spark).queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("Join"), "clean scan must not contain a join")
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") === 0))
    val dvPlan = t.toDF(spark).queryExecution.executedPlan.toString
    assert(!dvPlan.contains("Join") && !dvPlan.contains("BroadcastExchange") &&
      !dvPlan.contains("Exchange hashpartitioning"),
      s"DV scan should drop dead rows inside the scan:\n$dvPlan")
  }

  /** Reference for the in-scan filter: each live file scanned on its own
    * and anti-joined on row index with its own ref's dead rows, read
    * through `deadRows` and matched by basename within that ref.
    */
  private def referenceScan(t: DeltaTable): org.apache.spark.sql.DataFrame =
    t.dlog.addActions.values.toSeq.map { a =>
      val scan = DeltaScan.snapshotDFWithMeta(spark, t.loc, t.dlog.schema,
        t.dlog.partitionColumns, Seq(a), t.conf)
      DeletionVectors.refOf(a) match {
        case None => scan
        case Some(ref) =>
          val name = new org.apache.hadoop.fs.Path(a.path).getName
          val dead = DeletionVectors.deadRows(spark, Seq(ref), t.loc, t.conf)
            .filter(substring_index(col("path"), "/", -1) === name)
            .select(col("row_index").as("_dead"))
          scan.join(dead, col(DeltaScan.MetaRow) === col("_dead"), "left_anti")
      }
    }.reduce(_.unionByName(_))

  /** `toDF` and the meta-scan (row identity included) equal the reference. */
  private def assertMatchesReference(t: DeltaTable): Unit = {
    val ref = referenceScan(t)
    assertSameRows(t.scanAddsWithMeta(spark, t.dlog.addActions.values.toSeq), ref)
    assertSameRows(t.toDF(spark), ref.drop(DeltaScan.MetaPath, DeltaScan.MetaRow))
  }

  test("in-scan DV filter equals a per-file anti-join over deadRows") {
    def refKinds(t: DeltaTable): Set[String] =
      t.dlog.addActions.values.flatMap(DeletionVectors.refOf(_)).map {
        case _: DeletionVectors.SidecarRef => "sidecar"
        case r: DeletionVectors.DeltaRef => r.storageType
      }.toSet

    // legacy sidecar vectors over 8 files, then a delete that re-deletes
    // the p=1 files: their new spec vector holds the sidecar's rows too
    var sc = legacySidecarTable()
    assert(refKinds(sc) == Set("sidecar"))
    assertMatchesReference(sc)
    sc = sc.deleteMergeOnRead(spark, Some(col("k") % 10 === 1))
    assert(refKinds(sc) == Set("sidecar", "i"))
    val merged = sc.dlog.addActions.values.toSeq.flatMap(DeletionVectors.refOf(_))
      .collect { case r: DeletionVectors.DeltaRef => r.cardinality }
    assert(merged == Seq.fill(4)(2L), merged.toString)
    assertMatchesReference(sc)
    assertSameRows(sc.toDF(spark), legacyRows(col("k") % 10 === 1))
    // a clone re-points the refs at the source's sidecar and vectors
    assertMatchesReference(sc.cloneTo(tempDir("dv-id-clone")))

    // spec vectors: one file with a .bin ("u"), one with an inline ("i")
    val ids = spark.range(0, 1000).toDF("id")
    var sp = DeltaTable.forPath(tempDir("dv-id-spec")).write(ids.coalesce(1))
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    sp = sp.write(spark.range(1000, 2000).toDF("id").coalesce(1))
    sp = sp.deleteMergeOnRead(spark,
      Some((col("id") < 1000 && col("id") % 10 === 0) || col("id") === 1500))
    assert(refKinds(sp) == Set("u", "i"))
    assertMatchesReference(sp)
    sp = sp.deleteMergeOnRead(spark, Some(col("id") % 10 === 1))
    assertMatchesReference(sp)
    assertMatchesReference(sp.cloneTo(tempDir("dv-id-spec-clone")))

    // two DV'd files sharing one basename, each with its own ref
    var same = DeltaTable.forPath(tempDir("dv-id-same"))
      .importRefs(spark, sameNamedNationFiles("dv-id-same"))
    same = same.deleteMergeOnRead(spark, Some(col("n_nationkey") === 0)) // file a
    same = same.deleteMergeOnRead(spark, Some(col("n_nationkey") === 3)) // file b
    val sameRefs = same.dlog.addActions.values.flatMap(DeletionVectors.refOf(_)).toSeq
    assert(sameRefs.size == 2 && sameRefs.distinct.size == 2, sameRefs.toString)
    assertMatchesReference(same)
    assert(same.toDF(spark).count() == nation.count() - 2)

    // one DV'd file read by several scan tasks: small row groups, small splits
    val split = tempDir("dv-id-split")
    spark.conf.set("parquet.block.size", "8192")
    val st = try DeltaTable.forPath(split).write(lineitem.coalesce(1))
      finally spark.conf.unset("parquet.block.size")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val stDv = st.deleteMergeOnRead(spark, Some(col("l_linenumber") === 1))
      assert(stDv.dlog.addActions.size == 1)
      val rowsPerTask = stDv.toDF(spark).rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(rowsPerTask.count(_ > 0) > 1, s"the file should split: ${rowsPerTask.toSeq}")
      assertMatchesReference(stDv)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")

    // row ids ride the same filter: each survivor keeps baseRowId + position
    val rt = DeltaTable.forPath(QueryLib.customerRowTrackedDir(spark, sfDir))
    val bases = rt.dlog.addActions.values.toSeq
      .flatMap(a => a.baseRowId.map(new org.apache.hadoop.fs.Path(a.path).getName -> _)).toMap
    val baseOf = udf((p: String) => bases(p.substring(p.lastIndexOf('/') + 1)))
    val withIds = referenceScan(rt)
      .withColumn("_row_id", baseOf(col(DeltaScan.MetaPath)) + col(DeltaScan.MetaRow))
      .drop(DeltaScan.MetaPath, DeltaScan.MetaRow)
    assertSameRows(rt.toDFWithRowIds(spark), withIds)
  }

  /** nation as two parquet files in different directories that share
    * the basename `same.parquet` (regions 0-1 and 2-4), as URIs to import.
    */
  private def sameNamedNationFiles(prefix: String): Seq[String] =
    Seq(col("n_regionkey") < 2, col("n_regionkey") >= 2).map { part =>
      val dir = tempDir(prefix)
      nation.filter(part).coalesce(1).write.parquet(s"$dir/d")
      val written = new java.io.File(s"$dir/d").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val to = new java.io.File(dir, "same.parquet")
      assert(written.renameTo(to))
      to.toURI.toString
    }

  test("one MoR delete over two files sharing a basename writes a vector for each") {
    val files = sameNamedNationFiles("dv-collide")
    val where = col("n_nationkey") % 4 === 0
    val mor = DeltaTable.forPath(tempDir("dv-collide-mor")).importRefs(spark, files)
      .deleteMergeOnRead(spark, Some(where))
    val cow = DeltaTable.forPath(tempDir("dv-collide-cow")).importRefs(spark, files)
      .delete(spark, Some(where))
    val vectors = mor.dlog.addActions.values.toSeq.flatMap(DeletionVectors.refOf(_))
    assert(vectors.size == 2 && vectors.forall {
      case r: DeletionVectors.DeltaRef => r.storageType == "i" || r.storageType == "u"
      case _ => false
    }, vectors.toString)
    assert(vectors.map(_.cardinality).sum == nation.filter(where).count())
    assertSameRows(mor.toDF(spark), cow.toDF(spark))
    assertSameRows(DeltaTable.forPath(mor.loc.uri).toDF(spark), nation.filter(not(where)))
  }

  test("mergeMergeOnRead ≡ copy-on-write merge, without rewriting target files") {
    val updates = nation.filter(col("n_nationkey") % 5 === 0)
      .withColumn("n_name", lit("UPD"))
    val inserts = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 100)
    val src = updates.union(inserts)

    var tm = DeltaTable.forPath(tempDir("dv-merge-mor")).write(nation)
    val before = tm.fileUris.toSet
    tm = tm.mergeMergeOnRead(spark, src, Seq("n_nationkey"))
    val tc = DeltaTable.forPath(tempDir("dv-merge-cow")).write(nation)
      .merge(spark, src, Seq("n_nationkey"))
    assertSameRows(tm.toDF(spark), tc.toDF(spark))
    // the original target files were NOT rewritten — marked, not copied
    assert(before.subsetOf(tm.fileUris.toSet),
      "merge-on-read merge must keep original data files live")
    assert(tm.history.head._2.operation == "MERGE")
  }

  test("mergeMergeOnRead CDF: exact delete + insert channels") {
    var t = DeltaTable.forPath(tempDir("dv-merge-cdf")).write(nation)
    val src = nation.filter(col("n_nationkey").isin(1, 2))
      .withColumn("n_name", lit("X"))
    t = t.mergeMergeOnRead(spark, src, Seq("n_nationkey"))
    val c = t.changesBetween(spark, 0L, 1L)
    assertSameRows(c.filter(col("_change_type") === "delete")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey").isin(1, 2)))
    assertSameRows(c.filter(col("_change_type") === "insert")
        .drop("_commit_version", "_change_type"), src)
  }

  test("mergeMergeOnRead reads through existing vectors") {
    var t = DeltaTable.forPath(tempDir("dv-merge-after")).write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 5))
    // key 2 is dead: the source row is an INSERT, exactly once
    val src = nation.filter(col("n_nationkey") === 2)
      .withColumn("n_name", lit("REBORN"))
    t = t.mergeMergeOnRead(spark, src, Seq("n_nationkey"))
    assert(t.toDF(spark).filter(col("n_nationkey") === 2).count() == 1)
    assertSameRows(t.toDF(spark),
      nation.filter(col("n_nationkey") >= 5).union(src))
  }

  test("updateMergeOnRead ≡ copy-on-write update; CDF = preimage/postimage") {
    var tm = DeltaTable.forPath(tempDir("dv-upd-mor")).write(nation)
    val before = tm.fileUris.toSet
    tm = tm.updateMergeOnRead(spark, Some(col("n_nationkey") < 8),
      Map("n_name" -> lit("U")))
    val tc = DeltaTable.forPath(tempDir("dv-upd-cow")).write(nation)
      .update(spark, Some(col("n_nationkey") < 8), Map("n_name" -> lit("U")))
    assertSameRows(tm.toDF(spark), tc.toDF(spark))
    assert(before.subsetOf(tm.fileUris.toSet), "no touched file may be rewritten")
    val c = tm.changesBetween(spark, 0L, 1L)
    assertSameRows(c.filter(col("_change_type") === "delete")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey") < 8))
    assertSameRows(c.filter(col("_change_type") === "insert")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey") < 8).withColumn("n_name", lit("U")))
    // unmatched predicate: metadata-only commit, no empty file written
    val files = tm.fileUris.size
    val t2 = tm.updateMergeOnRead(spark, Some(col("n_nationkey") === -1),
      Map("n_name" -> lit("Z")))
    assert(t2.fileUris.size == files)
    assertSameRows(t2.toDF(spark), tm.toDF(spark))
  }

  test("countRowsFromStats: metadata-only count through DVs and rewrites") {
    var t = DeltaTable.forPath(tempDir("dv-count")).write(nation).write(nation)
    assert(t.countRowsFromStats.contains(50L))
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 5)) // 2x5 rows die
    assert(t.countRowsFromStats.contains(40L))
    assert(t.countRowsFromStats.contains(t.toDF(spark).count()))
    t = t.delete(spark, Some(col("n_regionkey") === 0)) // CoW rewrite
    assert(t.countRowsFromStats.contains(t.toDF(spark).count()))
    t = t.mergeMergeOnRead(spark,
      nation.filter(col("n_nationkey") === 20).withColumn("n_name", lit("M")),
      Seq("n_nationkey"))
    assert(t.countRowsFromStats.contains(t.toDF(spark).count()))
  }

  test("minMaxFromStats: exact on clean snapshots, refuses DV'd ones") {
    var t = DeltaTable.forPath(tempDir("dv-minmax")).write(nation).write(nation)
    assert(t.minMaxFromStats("n_nationkey").contains((0L, 24L)))
    // strings are out of scope (truncated foreign maxima, UTF-16 vs UTF-8
    // ordering): must fall back, never answer
    assert(t.minMaxFromStats("n_name").isEmpty)
    assert(t.minMaxFromStats("nope").isEmpty)
    // NaN poisons footer FP stats; the fast path must refuse, not return
    // a non-NaN max that disagrees with SELECT MAX
    val spark2 = spark
    import spark2.implicits._
    val withNaN = Seq(1.0, Double.NaN, 2.0).toDF("x")
    val tn = DeltaTable.forPath(tempDir("dv-minmax-nan")).write(withNaN)
    assert(tn.minMaxFromStats("x").isEmpty,
      s"NaN column must refuse the fast path, got ${tn.minMaxFromStats("x")}")
    // a dead row may hold the extreme: DV'd snapshots must fall back
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") === 24))
    assert(t.minMaxFromStats("n_nationkey").isEmpty)
    // the CoW rewrite purges the vector; stats are authoritative again
    t = t.delete(spark, Some(col("n_nationkey") === 23))
    assert(t.minMaxFromStats("n_nationkey").contains((0L, 22L)))
  }

  test("DV refs survive the checkpoint fast path") {
    val d = tempDir("dv-checkpoint")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 2)
    t = t.write(nation).write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_regionkey") === 2))
    // force at least one checkpoint at-or-after the DV commit
    t = t.write(nation.limit(0))
    assert(graft.storage.Location(s"$d/_delta_log", t.conf)
      .child(graft.log.Checkpoint.LastCheckpointFile).exists,
      "expected a checkpoint to have been taken")
    // reopen head via the checkpoint fast path: ref must still be applied
    val reopened = DeltaTable.forPath(d)
    assert(reopened.dlog.addActions.values.exists(a =>
      DeletionVectors.refOf(a).isDefined), "ref lost through checkpoint")
    assertSameRows(reopened.toDF(spark),
      nation.union(nation).filter(col("n_regionkey") =!= 2))
  }

  test("changesBetween emits EXACT delete rows for MoR deletes") {
    val d = tempDir("dv-cdf")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 10))
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 15))
    // v1: delete rows = exactly keys 0-9, no inserts
    val c1 = t.changesBetween(spark, 0L, 1L)
    assertSameRows(c1.filter(col("_change_type") === "delete")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey") < 10))
    assert(c1.filter(col("_change_type") === "insert").count() == 0)
    // v2: only the NEWLY dead keys 10-14 — 0-9 are not re-reported
    val c2 = t.changesBetween(spark, 1L, 2L)
    assertSameRows(c2.filter(col("_change_type") === "delete")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 15))

    // CoW rewrite of a DV'd file: remove_file reads through the
    // pre-commit vector (dead rows don't reappear), insert = kept rows
    t = t.delete(spark, Some(col("n_nationkey") === 20))
    val c3 = t.changesBetween(spark, 2L, 3L)
    assertSameRows(c3.filter(col("_change_type") === "remove_file")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey") >= 15))
    assertSameRows(c3.filter(col("_change_type") === "insert")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey") >= 15 && col("n_nationkey") =!= 20))

    // a MoR delete that kills a file's every remaining row removes the
    // file — but its surviving rows are still row-level DELETEs in CDF
    t = t.deleteMergeOnRead(spark)
    val c4 = t.changesBetween(spark, 3L, 4L)
    assertSameRows(c4.filter(col("_change_type") === "delete")
        .drop("_commit_version", "_change_type"),
      nation.filter(col("n_nationkey") >= 15 && col("n_nationkey") =!= 20))
    assert(c4.filter(col("_change_type") === "remove_file").count() == 0)
  }
}
