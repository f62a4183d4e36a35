package graft

import com.fasterxml.jackson.databind.JsonNode
import graft.log.Json
import graft.sources.DeletionVectors
import org.apache.spark.sql.functions._

/** Round-11 hardening: delta-SPEC reconciliation of merge-on-read
  * commits (foreign readers key file actions by the (path, dvUniqueId)
  * TUPLE, not the path), inline-descriptor wire shape, checkpoint
  * discovery fallback, and mixture-allocation guard rails.
  */
class Round11Spec extends SparkSuite {

  // ------------------------------------------------------------------
  // A miniature SPEC-COMPLIANT replayer, written from the Delta
  // protocol's reconciliation rule (PROTOCOL.md "Action Reconciliation":
  // file actions are keyed by path + deletionVector.uniqueId; a remove
  // deletes exactly its tuple). delta-spark's InMemoryLogReplay, kernel
  // and delta-rs all implement this rule — graft's own replay is
  // path-keyed, so only a tuple-keyed check can catch interop bugs the
  // native reader masks.
  // ------------------------------------------------------------------

  private def dvUniqueId(dv: JsonNode): String =
    if (dv == null) ""
    else {
      val st = dv.get("storageType").asText
      val poi = dv.get("pathOrInlineDv").asText
      val off = Option(dv.get("offset")).map("@" + _.asLong).getOrElse("")
      st + poi + off
    }

  /** (path, dvUniqueId) -> add-JSON of every file a spec reader sees live. */
  private def specReplay(tableDir: String): Map[(String, String), JsonNode] = {
    val logDir = new java.io.File(tableDir, "_delta_log")
    val entries = logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .sortBy(_.getName)
    var live = Map.empty[(String, String), JsonNode]
    entries.foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      lines.forEach { line =>
        val node = Json.mapper.readTree(line)
        val add = node.get("add")
        val remove = node.get("remove")
        if (remove != null) {
          val key = (remove.get("path").asText, dvUniqueId(remove.get("deletionVector")))
          live = live.removed(key)
        }
        if (add != null) {
          val key = (add.get("path").asText, dvUniqueId(add.get("deletionVector")))
          live = live.updated(key, add)
        }
      }
    }
    live
  }

  test("spec-DV mutations reconcile under tuple-keyed (foreign) replay") {
    val d = tempDir("r11-tuple-replay")
    val data = spark.range(0, 1000).toDF("id").repartition(2)
    var t = DeltaTable.forPath(d).write(data)
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))

    // first MoR delete: each touched file must pair remove(no dv) + add(dv)
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    var live = specReplay(d)
    assert(live.size == t.dlog.addActions.size,
      s"foreign replay sees ${live.size} live files, graft sees ${t.dlog.addActions.size}")
    val paths1 = live.keys.map(_._1).toSeq
    assert(paths1.distinct.size == paths1.size,
      "a path is live under TWO dv ids — the superseded add was not removed")
    live.foreach { case ((_, dvId), add) =>
      assert(dvId.nonEmpty && add.get("deletionVector") != null,
        "post-delete live adds must carry the new DV descriptor")
    }

    // re-delete: the remove must name the SUPERSEDED descriptor so the
    // first delete's (path, dvId) tuple dies in a foreign reader
    t = t.deleteMergeOnRead(spark, Some(col("id") === 5 || col("id") === 7))
    live = specReplay(d)
    assert(live.size == t.dlog.addActions.size)
    val paths2 = live.keys.map(_._1).toSeq
    assert(paths2.distinct.size == paths2.size,
      "re-delete resurrected a superseded DV add under foreign replay")

    // the spec reader's view of live rows == graft's own scan
    val deadBySpec = live.values.map(a =>
      Option(a.get("deletionVector")).map(_.get("cardinality").asLong).getOrElse(0L)).sum
    assert(1000L - deadBySpec == t.toDF(spark).count())

    // update + merge flavors reconcile the same way
    t = t.updateMergeOnRead(spark, Some(col("id") === 11), Map("id" -> lit(10011)))
    live = specReplay(d)
    assert(live.keys.map(_._1).toSeq.distinct.size == live.size,
      "updateMergeOnRead left a duplicated (path, dvId) pair")
    assert(live.size == t.dlog.addActions.size)

    import spark.implicits._
    t = t.mergeMergeOnRead(spark, Seq(3L, 5000L).toDF("id"), Seq("id"))
    live = specReplay(d)
    assert(live.keys.map(_._1).toSeq.distinct.size == live.size,
      "mergeMergeOnRead left a duplicated (path, dvId) pair")
    assert(live.size == t.dlog.addActions.size)
    assertSameRows(t.toDF(spark), DeltaTable.forPath(d).toDF(spark))
  }

  test("MoR verbs without delta.enableDeletionVectors write spec DVs and paired removes") {
    val d = tempDir("r11-no-property")
    import spark.implicits._
    var t = DeltaTable.forPath(d).write(spark.range(0, 1000).toDF("id").coalesce(2))
    assert(!t.tableProperties.contains("delta.enableDeletionVectors"))
    val verbs: Seq[(String, DeltaTable => DeltaTable)] = Seq(
      "deleteMergeOnRead" -> (_.deleteMergeOnRead(spark, Some(col("id") % 7 === 0))),
      "updateMergeOnRead" -> (_.updateMergeOnRead(spark, Some(col("id") < 3),
        Map("id" -> (col("id") + 5000)))),
      "mergeMergeOnRead" -> (_.mergeMergeOnRead(spark, Seq(4L, 600L, 9000L).toDF("id"),
        Seq("id"))))
    verbs.foreach { case (verb, op) =>
      t = op(t)
      val entry = t.dlog.entries.last._2
      val dvAdds = entry.adds.filter(a => DeletionVectors.refOf(a).isDefined)
      assert(dvAdds.nonEmpty, verb)
      // every descriptor is the delta wire format: inline or a .bin
      dvAdds.flatMap(DeletionVectors.refOf(_)).foreach {
        case r: DeletionVectors.DeltaRef =>
          assert(r.storageType == "i" || r.storageType == "u", s"$verb: $r")
        case other => fail(s"$verb wrote a non-spec vector: $other")
      }
      // each re-add pairs with a remove of the add it supersedes
      assert(entry.removes.map(_.path).sorted == dvAdds.map(_.path).sorted, verb)
      val live = specReplay(d)
      assert(live.keys.map(_._1).toSeq.distinct.size == live.size,
        s"$verb left a duplicated (path, dvId) pair")
      assert(live.size == t.dlog.addActions.size, verb)
    }
    assert(!new java.io.File(d, DeletionVectors.DvDirName).exists,
      "no merge-on-read verb may write a _graft_dv sidecar")
    assertSameRows(DeltaTable.forPath(d).toDF(spark), t.toDF(spark))
  }

  test("inline DV descriptors omit offset; on-disk descriptors carry it") {
    val d = tempDir("r11-inline-offset")
    val data = spark.range(0, 1000).toDF("id").repartition(1)
    var t = DeltaTable.forPath(d).write(data)
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    // 2 dead rows -> tiny bitmap -> inline "i" descriptor
    t = t.deleteMergeOnRead(spark, Some(col("id").isin(3, 4)))
    val inlineAdd = specReplay(d).values
      .find(a => a.get("deletionVector") != null).get.get("deletionVector")
    assert(inlineAdd.get("storageType").asText == "i")
    assert(inlineAdd.get("offset") == null,
      "the delta protocol forbids offset on inline descriptors — strict " +
        "parsers (delta-kernel checkArgument) reject it")

    // 300 dead rows -> on-disk "u" descriptor with an offset
    t = t.deleteMergeOnRead(spark, Some(col("id") % 3 === 0))
    val uAdd = specReplay(d).values
      .find(a => a.get("deletionVector") != null).get.get("deletionVector")
    assert(uAdd.get("storageType").asText == "u")
    assert(uAdd.get("offset") != null && uAdd.get("offset").asLong == 1L)
    // both flavors still resolve exactly
    assert(DeltaTable.forPath(d).toDF(spark).count() ==
      1000L - 2L - spark.range(0, 1000).filter(col("id") % 3 === 0 &&
        !col("id").isin(3, 4)).count())
  }

  test("CDF stays exact through the spec-DV remove+add pairing") {
    val d = tempDir("r11-cdf-paired")
    val data = spark.range(0, 200).toDF("id").repartition(2)
    var t = DeltaTable.forPath(d).write(data)
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    val v0 = t.version
    t = t.deleteMergeOnRead(spark, Some(col("id") < 20))
    // exactly the 20 newly-dead rows, once — the paired tombstone must
    // not double-report the file's surviving rows
    val changes = t.changesBetween(spark, v0, t.version)
    assert(changes.filter(col("_change_type") === "delete").count() == 20L)
    assert(changes.count() == 20L, "paired removes double-reported CDF rows")

    // second delete reports only ITS newly-dead rows
    val v1 = t.version
    t = t.deleteMergeOnRead(spark, Some(col("id") < 25))
    val c2 = t.changesBetween(spark, v1, t.version)
    assert(c2.filter(col("_change_type") === "delete").count() == 5L)
    assert(c2.count() == 5L)
  }

  test("incomplete multipart checkpoint found by listing falls back to JSON replay") {
    val d = tempDir("r11-ckpt-fallback")
    var t = DeltaTable.forPath(d).write(spark.range(0, 50).toDF("id"))
    t = t.write(spark.range(50, 100).toDF("id"))
    graft.log.Checkpoint.write(t.dlog, t.conf, maxActionsPerPart = 1) // multipart
    val dir = new java.io.File(d, "_delta_log")
    val parts = dir.listFiles().filter(_.getName.matches("\\d{20}\\.checkpoint\\.\\d+\\.\\d+\\.parquet"))
    assert(parts.length >= 2, s"expected a multipart checkpoint, got ${parts.length} parts")
    // the partial-copy scenario: one part lost, the pointer lost, JSON intact
    assert(parts.head.delete())
    val ptr = new java.io.File(dir, "_last_checkpoint")
    if (ptr.exists) assert(ptr.delete())
    val graftCkpt = dir.listFiles().filter(_.getName.endsWith(".graft-checkpoint.parquet"))
    graftCkpt.foreach(f => assert(f.delete())) // force the delta-format path
    val reopened = DeltaTable.forPath(d)
    assert(reopened.toDF(spark).count() == 100L,
      "intact JSON must serve the table when the listed checkpoint is incomplete")

    // but when the JSON below the checkpoint is CLEANED, the incomplete
    // checkpoint is the only possible source of truth: fail loudly
    val v0json = new java.io.File(dir, f"${0L}%020d.json")
    assert(v0json.delete())
    val e = intercept[Exception](DeltaTable.forPath(d).toDF(spark).count())
    assert(e.getMessage != null)
  }

  test("spec-DV pairing survives an OCC rebase: disjoint MoR deletes stay tuple-consistent") {
    import org.apache.spark.sql.SaveMode
    val d = tempDir("r11-spec-rebase")
    // two files with disjoint id ranges so stats pruning keeps candidates disjoint
    val t0 = DeltaTable.forPath(d)
      .write(spark.range(0, 100).toDF("id").repartition(1))
      .write(spark.range(1000, 1100).toDF("id").repartition(1))
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    val stale = DeltaTable.forPath(d)
    DeltaTable.forPath(d).deleteMergeOnRead(spark, Some(col("id") === 1050))
    val rebased = stale.deleteMergeOnRead(spark, Some(col("id") === 50))
    assert(rebased.version == stale.version + 2)
    val live = specReplay(d)
    assert(live.keys.map(_._1).toSeq.distinct.size == live.size,
      "rebased spec-DV delete duplicated a (path, dvId) tuple in foreign replay")
    assert(live.size == DeltaTable.forPath(d).dlog.addActions.size)
    assert(DeltaTable.forPath(d).toDF(spark).count() == 198L)
  }

  test("DV-carrying tombstones survive the delta-format checkpoint") {
    val d = tempDir("r11-tombstone-ckpt")
    val data = spark.range(0, 1000).toDF("id").repartition(1)
    var t = DeltaTable.forPath(d).write(data)
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    t = t.deleteMergeOnRead(spark, Some(col("id") === 5)) // paired remove names the v2 descriptor
    val pairedRemove = t.dlog.entries.last._2.removes
      .find(_.extra.contains("deletionVector"))
    assert(pairedRemove.isDefined, "re-delete must tombstone the superseded descriptor")

    graft.log.Checkpoint.write(t.dlog, t.conf)
    val dir = new java.io.File(d, "_delta_log")
    // force the delta-format read path: drop the graft layout + all JSON
    dir.listFiles().filter(f => f.getName.endsWith(".graft-checkpoint.parquet") ||
      f.getName.matches("\\d{20}\\.json")).foreach(f => assert(f.delete()))
    val reopened = DeltaTable.forPath(d)
    assert(reopened.toDF(spark).count() == 899L)
    val tombstones = reopened.dlog.entries.head._2.removes
      .filter(_.extra.contains("deletionVector"))
    assert(tombstones.nonEmpty,
      "checkpoint round-trip stripped the tombstones' DV descriptors")
  }

  test("RESTORE on a spec-DV table stays tuple-consistent under foreign replay") {
    val d = tempDir("r11-spec-restore")
    var t = DeltaTable.forPath(d)
      .write(spark.range(0, 1000).toDF("id").repartition(2))
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    val v0 = t.version
    t = t.deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    val vFirst = t.version
    t = t.deleteMergeOnRead(spark, Some(col("id") === 5))

    // back to the first-delete state: the re-add swaps dv2 -> dv1, so
    // the restore must tombstone (path, dv2) for foreign readers
    t = t.restore(vFirst)
    var live = specReplay(d)
    assert(live.keys.map(_._1).toSeq.distinct.size == live.size,
      "restore resurrected a superseded DV add under foreign replay")
    assert(live.size == t.dlog.addActions.size)
    assert(DeltaTable.forPath(d).toDF(spark).count() == 900L)

    // back to the clean state: dv1 -> no descriptor
    t = t.restore(v0)
    live = specReplay(d)
    assert(live.keys.map(_._1).toSeq.distinct.size == live.size)
    assert(live.size == t.dlog.addActions.size)
    live.values.foreach(a => assert(a.get("deletionVector") == null,
      "fully-restored adds must carry no descriptor"))
    assert(DeltaTable.forPath(d).toDF(spark).count() == 1000L)
  }

  test("expired tombstones drop out of checkpoints (retention property)") {
    val d = tempDir("r11-tomb-expiry")
    var t = DeltaTable.forPath(d)
      .write(spark.range(0, 50).toDF("id").repartition(1))
      .setTableProperties(Map("delta.deletedFileRetentionDuration" -> "interval 0 seconds"))
    t = t.write(spark.range(50, 100).toDF("id").repartition(1))
    t = t.delete(spark, Some(col("id") < 50))
    Thread.sleep(5) // let the tombstone age past the 0 ms retention
    graft.log.Checkpoint.write(t.dlog, t.conf)
    val dir = new java.io.File(d, "_delta_log")
    dir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .foreach(f => assert(f.delete()))
    val reopened = DeltaTable.forPath(d)
    assert(reopened.toDF(spark).count() == 50L)
    assert(reopened.dlog.entries.head._2.removes.isEmpty,
      "a 0ms-retention table must checkpoint no tombstones (delta's expiry)")
  }

  test("seeded fuzz: random spec-DV mutation sequences stay tuple-consistent") {
    val rnd = new scala.util.Random(20260814L)
    val d = tempDir("r11-tuple-fuzz")
    var t = DeltaTable.forPath(d)
      .write(spark.range(0, 400).toDF("id").repartition(2))
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    var live = spark.range(0, 400).toDF("id").collect().map(_.getLong(0)).toSet
    for (step <- 1 to 8) {
      val op = rnd.nextInt(3)
      if (op == 0) { // delete a random residue class
        val m = rnd.nextInt(17) + 3; val r = rnd.nextInt(m)
        t = t.deleteMergeOnRead(spark, Some(col("id") % m === r))
        live = live.filterNot(x => x % m == r)
      } else if (op == 1) { // update one random live id out of range
        live.headOption.foreach { x =>
          t = t.updateMergeOnRead(spark, Some(col("id") === x),
            Map("id" -> lit(x + 100000)))
          live = live - x + (x + 100000)
        }
      } else { // merge two keys (one likely live, one novel)
        import spark.implicits._
        val novel = 200000L + step
        val tgt = live.headOption.getOrElse(0L)
        t = t.mergeMergeOnRead(spark, Seq(tgt, novel).toDF("id"), Seq("id"))
        live = live + tgt + novel
      }
      val replayed = specReplay(d)
      assert(replayed.keys.map(_._1).toSeq.distinct.size == replayed.size,
        s"step $step ($op): duplicated (path, dvId) tuple under foreign replay")
      assert(replayed.size == t.dlog.addActions.size, s"step $step ($op)")
      assert(t.toDF(spark).count() == live.size.toLong, s"step $step ($op)")
    }
  }

  test("vacuumLite reclaims through a checkpoint: tombstones survive log cleanup") {
    val d = tempDir("r11-vaclite-ckpt")
    var t = DeltaTable.forPath(d)
      .write(spark.range(0, 50).toDF("id").repartition(1))
      .write(spark.range(50, 100).toDF("id").repartition(1))
    // copy-on-write delete strands the low file behind a tombstone
    t = t.delete(spark, Some(col("id") < 50))
    val stranded = t.dlog.entries.last._2.removes.map(_.path)
    assert(stranded.size == 1)
    graft.log.Checkpoint.write(t.dlog, t.conf)
    // log cleanup: drop every JSON commit at/below the checkpoint — the
    // tombstone now exists ONLY inside the checkpoint
    val dir = new java.io.File(d, "_delta_log")
    dir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .foreach(f => assert(f.delete()))
    val reopened = DeltaTable.forPath(d) // fast-path load
    assert(reopened.toDF(spark).count() == 50L)
    val reclaimed = reopened.vacuumLite(retentionMs = 0L)
    assert(reclaimed.exists(uri => stranded.exists(uri.endsWith)),
      s"vacuumLite must see the checkpointed tombstone; reclaimed=$reclaimed")
    assert(reopened.toDF(spark).count() == 50L, "live data untouched")
  }

  test("minhash store: incremental cross-batch dedup with a pinned-snapshot append") {
    import spark.implicits._
    val d = tempDir("r11-minhash-store")
    def doc(id: Long, seed: String) =
      (id, (1 to 30).map(i => s"$seed$i").mkString(" "))
    // history: docs 1..3; batch A: 11 (dup of 1), 12 (novel);
    // batch B: 21 (dup of 12 — only catchable if A's sigs were appended)
    val history = Seq(doc(1, "alpha"), doc(2, "beta"), doc(3, "gamma"))
      .toDF("doc_id", "text")
    val batchA = Seq(doc(11, "alpha"), doc(12, "delta")).toDF("doc_id", "text")
    val batchB = Seq(doc(21, "delta")).toDF("doc_id", "text")

    operators.Dedup.minHashStoreInit(spark, d, history, "doc_id", "text")
    val store0 = DeltaTable.forPath(d)
    assert(store0.toDF(spark).count() == 3)
    assert(store0.tableProperties("graft.minhash.numHashes") == "64")

    val mA = operators.Dedup.minHashStoreDedup(spark, d, batchA,
      "doc_id", "text", append = true).collect()
    assert(mA.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 11L)),
      s"batch A must match only (1,11), got ${mA.mkString(",")}")
    assert(mA.head.getDouble(2) == 1.0, "identical docs must estimate 1.0")
    // the append landed as ONE commit; the match above never saw it
    val store1 = DeltaTable.forPath(d)
    assert(store1.toDF(spark).count() == 5)
    assert(store1.version == store0.version + 1)

    // batch B's dup partner arrived in batch A — incremental contract
    val mB = operators.Dedup.minHashStoreDedup(spark, d, batchB,
      "doc_id", "text", append = false).collect()
    assert(mB.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((12L, 21L)))
    assert(DeltaTable.forPath(d).toDF(spark).count() == 5, "append=false must not commit")

    // a non-store table refuses loudly
    val plain = tempDir("r11-not-a-store")
    DeltaTable.forPath(plain).write(Seq((1L, "x")).toDF("id", "sig"))
    val e = intercept[IllegalStateException](
      operators.Dedup.minHashStoreDedup(spark, plain, batchB, "doc_id", "text"))
    assert(e.getMessage.contains("minhash store"))

    // too-short docs are skipped, not signed as degenerate all-null sigs
    val short = Seq((99L, "one two")).toDF("doc_id", "text")
    assert(operators.Dedup.minHashStoreDedup(spark, d, short,
      "doc_id", "text").isEmpty)

    // concurrent batches: parallel appends both land (blind appends
    // rebase through OCC instead of failing the losing batch on the
    // commit race)
    val cA = Seq(doc(51, "zeta")).toDF("doc_id", "text")
    val cB = Seq(doc(52, "eta")).toDF("doc_id", "text")
    val pre = DeltaTable.forPath(d).toDF(spark).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs = Seq(cA, cB).map(b => Future(
      operators.Dedup.minHashStoreDedup(spark, d, b, "doc_id", "text",
        append = true).collect()))
    fs.foreach(Await.result(_, 120.seconds))
    assert(DeltaTable.forPath(d).toDF(spark).count() == pre + 2,
      "concurrent batch appends must both land via OCC rebase")

    // batchTxn: a RE-DELIVERED batch appends exactly once
    val batchC = Seq(doc(31, "epsilon")).toDF("doc_id", "text")
    operators.Dedup.minHashStoreDedup(spark, d, batchC, "doc_id", "text",
      append = true, batchTxn = Some(("crawl-loop", 7L))).collect()
    operators.Dedup.minHashStoreDedup(spark, d, batchC, "doc_id", "text",
      append = true, batchTxn = Some(("crawl-loop", 7L))).collect()
    assert(DeltaTable.forPath(d).toDF(spark)
      .filter(col("id") === 31L).count() == 1L,
      "re-delivered batch must append its signatures exactly once")
  }

  test("minhash store dedup plan: batch side broadcasts, store never sort-merge-joins") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange._
    import org.apache.spark.sql.execution.joins._
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val d = tempDir("r11-store-plan")
    val docs = QueryLib.raw(spark, sfDir, "documents")
    operators.Dedup.minHashStoreInit(spark, d,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      "doc_id", "text")
    val r = operators.Dedup.minHashStoreDedup(spark, d,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
      "doc_id", "text")
    r.collect()
    val plans = flatten(r.queryExecution.executedPlan)
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "candidate join must broadcast the batch side")
    assert(!plans.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a sort-merge join here would shuffle the (unbounded) store side")
  }

  test("connectedComponents: driver fast path ≡ distributed rounds") {
    import spark.implicits._
    // chains, a star, singleton-by-self-pair, and an isolated pair —
    // the shapes that distinguish min-labeling implementations
    val pairs = Seq((5L, 3L), (3L, 9L), (9L, 1L), // chain -> min 1
      (20L, 21L), (20L, 22L), (20L, 23L),         // star  -> min 20
      (40L, 40L),                                  // self-pair node
      (30L, 31L)).toDF("a", "b")
    val fast = operators.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dist = operators.Dedup.connectedComponents(pairs, smallGraphEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == dist, s"fast=$fast dist=$dist")
    assert(fast(5L) == 1L && fast(9L) == 1L && fast(1L) == 1L)
    assert(fast(23L) == 20L && fast(31L) == 30L)
    assert(fast(40L) == 40L, "self-pair-only node labels itself")
  }

  test("numericDrift: exact per-column stats, null rates, mean delta") {
    import spark.implicits._
    val a = Seq[(java.lang.Long, java.lang.Double)]((1L, 10.0), (2L, 20.0),
      (3L, 30.0), (4L, null)).toDF("k", "v")
    val b = Seq[(java.lang.Long, java.lang.Double)]((1L, 40.0), (2L, 60.0))
      .toDF("k", "v")
    val r = operators.Drift.numericDrift(a, b, Seq("v")).collect().head
    assert(r.getAs[String]("column") == "v")
    assert(r.getAs[Long]("count_a") == 3L && r.getAs[Long]("count_b") == 2L)
    assert(r.getAs[Double]("mean_a") == 20.0 && r.getAs[Double]("mean_b") == 50.0)
    assert(r.getAs[Double]("mean_delta") == 30.0)
    assert(r.getAs[Double]("null_rate_a") == 0.25 && r.getAs[Double]("null_rate_b") == 0.0)
    assert(r.getAs[Double]("min_a") == 10.0 && r.getAs[Double]("max_b") == 60.0)
    assert(r.getAs[Double]("stddev_a") == 10.0) // stddev_samp of {10,20,30}
  }

  test("categoricalDrift: vanished category stays visible with finite PSI") {
    import spark.implicits._
    val a = Seq("x", "x", "y", "z", "z", "z").toDF("c")
    val b = Seq("y", "y", "z").toDF("c")
    val rows = operators.Drift.categoricalDrift(a, b, "c")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("x", "y", "z"))
    assert(rows("x").getAs[Long]("count_b") == 0L, "vanished category visible")
    val psiX = rows("x").getAs[Double]("psi")
    assert(psiX > 0 && !psiX.isInfinite, s"smoothed PSI must be finite: $psiX")
    assert(math.abs(rows("y").getAs[Double]("share_a") - 1.0 / 6) < 1e-5)
    intercept[IllegalArgumentException](
      operators.Drift.categoricalDrift(a, b, "c", smoothing = 0.0))
  }

  test("applyMixture: deterministic replication matching the epoch arithmetic") {
    import spark.implicits._
    val corpus = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val out = operators.Sampling.applyMixture(corpus, "lang", "doc_id",
      Map("en" -> 2.25, "de" -> 0.0))
    // de at 0 epochs contributes nothing; en floor(2.25) = 2 guaranteed
    // copies plus a ~25% third copy
    assert(out.filter(col("lang") === "de").isEmpty)
    val perDoc = out.filter(col("lang") === "en")
      .groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(perDoc.forall(c => c == 2L || c == 3L))
    val threes = perDoc.count(_ == 3L)
    assert(threes > 60 && threes < 190, s"~25% of 500 docs expected, got $threes")
    // pure function of (seed, id): a rerun reproduces the exact corpus
    val again = operators.Sampling.applyMixture(corpus, "lang", "doc_id",
      Map("en" -> 2.25, "de" -> 0.0))
    assertSameRows(out, again)
    // a different seed flips a different ~25% subset
    val other = operators.Sampling.applyMixture(corpus, "lang", "doc_id",
      Map("en" -> 2.25, "de" -> 0.0), seed = "other")
    assert(other.exceptAll(out).count() > 0)
    intercept[IllegalArgumentException](
      operators.Sampling.applyMixture(corpus, "lang", "doc_id",
        Map("en" -> Double.NaN)))
  }

  test("mixtureAllocation guards: no matching weights fails loudly; empty domains report 0") {
    import spark.implicits._
    val corpus = Seq(("en", 100L), ("fr", 50L), ("de", 0L))
      .toDF("lang", "tokens")
    // no declared weight matches any present domain -> loud error
    val bad = operators.Sampling.mixtureAllocation(corpus, "lang",
      col("tokens"), Map("zh" -> 1.0), 1000L)
    val err = intercept[Exception](bad.collect())
    assert(err.getMessage != null)

    // a present-but-empty domain reports rate/epochs 0, not Infinity
    val plan = operators.Sampling.mixtureAllocation(corpus, "lang",
      col("tokens"), Map("en" -> 1.0, "de" -> 1.0), 1000L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(plan("de").getDouble(3) == 0.0, "empty domain sampling_rate must be 0")
    assert(plan("de").getDouble(4) == 0.0, "empty domain epochs must be 0")
    assert(plan("fr").getDouble(3) == 0.0, "undeclared domain rate stays 0")
    assert(plan("en").getLong(2) == 500L) // weights renormalize over declared
  }
}
