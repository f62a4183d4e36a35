package graft

import graft.log.{Checkpoint, DeltaLog, DomainMetadata, ProtocolGate}
import org.apache.spark.sql.functions._

/** Round 9: domainMetadata as real snapshot state — replay rule,
  * checkpoint survival (both graft-native and delta-format), protocol
  * feature declaration. Delta's domainMetadata contract: the latest
  * action per domain is table state; a `removed=true` tombstone deletes
  * the domain; checkpoints carry the live map.
  */
class Round9Spec extends SparkSuite {

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("domain metadata: set/overwrite/remove replay like delta's") {
    val d = tempDir("dm-replay")
    var t = DeltaTable.forPath(d).write(nation)
    assert(t.domainMetadata.isEmpty)
    t = t.setDomainMetadata("graft.test", """{"k":1}""")
    assert(t.domainMetadata == Map("graft.test" -> """{"k":1}"""))
    // latest-wins per domain
    t = t.setDomainMetadata("graft.test", """{"k":2}""")
    t = t.setDomainMetadata("other.domain", """{"x":true}""")
    assert(t.domainMetadata == Map(
      "graft.test" -> """{"k":2}""", "other.domain" -> """{"x":true}"""))
    // tombstone removes from state; unknown-domain removal is rejected
    t = t.removeDomainMetadata("graft.test")
    assert(t.domainMetadata == Map("other.domain" -> """{"x":true}"""))
    intercept[IllegalArgumentException](t.removeDomainMetadata("graft.test"))
    // a fresh full-JSON replay sees the same state
    assert(DeltaTable.forPath(d).domainMetadata == t.domainMetadata)
  }

  test("first domain commit declares the writer feature, exactly once") {
    val d = tempDir("dm-proto")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.setDomainMetadata("graft.test", "{}")
    val p1 = t.dlog.currentProtocol
    assert(p1.minWriterVersion == 7)
    assert(ProtocolGate.writerFeatures(p1).contains("domainMetadata"))
    // second domain commit must not add another protocol action
    val protoActionsBefore = t.dlog.entries.valuesIterator
      .flatMap(_.actions).count(_.isInstanceOf[graft.log.Protocol])
    t = t.setDomainMetadata("graft.test", """{"v":2}""")
    val protoActionsAfter = t.dlog.entries.valuesIterator
      .flatMap(_.actions).count(_.isInstanceOf[graft.log.Protocol])
    assert(protoActionsAfter == protoActionsBefore)
  }

  test("domain metadata survives checkpoint + log cleanup + reopen") {
    val d = tempDir("dm-ckpt")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.setDomainMetadata("keep.me", """{"hwm":42}""")
    t = t.setDomainMetadata("drop.me", "{}")
    t = t.removeDomainMetadata("drop.me")
    (1 to 3).foreach(_ => t = t.write(nation))
    t = t.checkpoint().cleanupLog()
    // the JSON commits that carried the domain actions are gone; the
    // fast-path reopen must restore the live map from the checkpoint
    val fresh = DeltaTable.forPath(d)
    assert(fresh.dlog.entries.firstKey == t.version,
      "expected a checkpoint fast-path load")
    assert(fresh.domainMetadata == Map("keep.me" -> """{"hwm":42}"""))
    // further commits after the checkpoint keep working on top of it
    val t2 = fresh.setDomainMetadata("keep.me", """{"hwm":43}""")
    assert(DeltaTable.forPath(d).domainMetadata ==
      Map("keep.me" -> """{"hwm":43}"""))
    assert(t2.domainMetadata("keep.me") == """{"hwm":43}""")
  }

  test("monotonic-timestamp clamp stays armed across a checkpoint fast path") {
    val d = tempDir("ict-ckpt")
    var t = DeltaTable.forPath(d).write(nation).write(nation)
    t = t.checkpoint().cleanupLog()
    // fast-path load, EMPTY json tail: checkpoints used to retain no
    // commitInfo, so a lagging writer clock could commit below history
    val fresh = DeltaTable.forPath(d)
    assert(fresh.dlog.entries.firstKey == t.version)
    val headTs = fresh.history.head._2.effectiveTimestamp
    assert(headTs > 0L, "checkpoint must carry the head commit clock")
    // a commit whose proposed wall clock lags is clamped to parent+1
    val lagging = graft.log.DeltaLogEntry(Vector(
      graft.log.CommitInfo(timestamp = 1L, operation = "WRITE")))
    val committed = fresh.dlog.commit(lagging)
    val stampedTs = committed.entries(committed.version)
      .commitInfos.head.effectiveTimestamp
    assert(stampedTs == headTs + 1L,
      s"expected clamp to $headTs+1, got $stampedTs")
  }

  test("fast-path base carries the head commitInfo; delta layout does not") {
    val d = tempDir("ci-ckpt-layouts")
    val t = DeltaTable.forPath(d).write(nation).write(nation).checkpoint()
    // the fast-path base takes the head commitInfo from the checkpoint
    // version's own commit file
    val base = DeltaTable.forPath(d).dlog.entries(t.version)
    assert(base.commitInfos.size == 1)
    val head = t.dlog.entries(t.version).commitInfos.head
    assert(base.commitInfos.head.effectiveTimestamp == head.effectiveTimestamp)
    assert(base.commitInfos.head.operation == head.operation)
    // the delta-format checkpoint must NOT contain an all-null (commitInfo) row
    val deltaEntry = Checkpoint.readDeltaFormat(t.logLoc, t.version,
      spark.sparkContext.hadoopConfiguration).get
    assert(deltaEntry.commitInfos.isEmpty)
    assert(deltaEntry.adds.nonEmpty)
  }

  test("row tracking: ranked ids, MoR stability, protocol declaration") {
    val d = QueryLib.customerRowTrackedDir(spark, sfDir)
    val t = DeltaTable.forPath(d)
    // feature honesty: rowTracking + domainMetadata declared at writer 7
    val wf = graft.log.ProtocolGate.writerFeatures(t.dlog.currentProtocol)
    assert(wf.contains("rowTracking") && wf.contains("domainMetadata"))
    // ids are the 0-based key rank; the MoR delete shifted nothing
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val w = org.apache.spark.sql.expressions.Window.orderBy("c_custkey")
    val want = customer
      .withColumn("_row_id", row_number().over(w).cast("long") - 1L)
      .filter(col("c_custkey") % 7 =!= 0)
    assertSameRows(t.toDFWithRowIds(spark), want)
    // the high-water mark equals the total allocated row count - 1
    assert(graft.log.RowTracking.highWaterMark(t.dlog) == customer.count() - 1)
  }

  test("row tracking: HWM survives checkpoint+cleanup; appends never reuse ids") {
    val d = tempDir("rt-hwm")
    var t = DeltaTable.forPath(d).write(nation.limit(0))
      .setTableProperties(Map(graft.log.RowTracking.EnableKey -> "true"))
    t = t.write(nation.coalesce(1))
    val n = nation.count()
    assert(graft.log.RowTracking.highWaterMark(t.dlog) == n - 1)
    t = t.checkpoint().cleanupLog()
    // the HWM rides domainMetadata through the checkpoint; the next
    // append must continue above it, never reusing a dead or live id
    val re = DeltaTable.forPath(d).write(nation.coalesce(1))
    assert(graft.log.RowTracking.highWaterMark(re.dlog) == 2 * n - 1)
    val ids = re.toDFWithRowIds(spark).select("_row_id").collect().map(_.getLong(0))
    assert(ids.length == 2 * n && ids.distinct.length == ids.length)
    assert(ids.min == 0L && ids.max == 2 * n - 1)
  }

  test("row tracking: compaction re-ranges ids above the old mark") {
    val d = tempDir("rt-compact")
    var t = DeltaTable.forPath(d).write(nation.limit(0))
      .setTableProperties(Map(graft.log.RowTracking.EnableKey -> "true"))
    (1 to 3).foreach(_ => t = t.write(nation.coalesce(1)))
    val n = nation.count()
    val hwm0 = graft.log.RowTracking.highWaterMark(t.dlog)
    assert(hwm0 == 3 * n - 1)
    // the rewrite allocates a FRESH baseRowId range (the mark advances
    // past the old one) but the VISIBLE ids are preserved via the
    // materialized row-id column — stable row ids, delta's contract
    t = t.compact(spark)
    val hwm1 = graft.log.RowTracking.highWaterMark(t.dlog)
    assert(hwm1 > hwm0)
    val ids = t.toDFWithRowIds(spark).select("_row_id").collect().map(_.getLong(0))
    assert(ids.length == 3 * n && ids.distinct.length == ids.length)
    assert(ids.min == 0L && ids.max == hwm0,
      "visible ids must be the PRESERVED originals, not the fresh range")
  }

  test("vacuum's distributed delete branch removes exactly the stranded files") {
    val d = tempDir("vacuum-dist")
    // 80 stranded files (> the 64-candidate threshold) via a repartitioned
    // write followed by an overwrite
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    var t = DeltaTable.forPath(d).write(li.repartition(80))
    assert(t.dlog.addActions.size >= 64)
    t = t.write(nation.coalesce(1), mode = graft.log.WriteMode.Overwrite)
    val removed = t.vacuum(retentionMs = 0L)
    assert(removed.size >= 64, s"expected >=64 deletes, got ${removed.size}")
    // exactly the stranded bytes are gone, the live table is intact
    removed.foreach(u => assert(
      !new java.io.File(new java.net.URI(u)).exists(), s"not deleted: $u"))
    assertSameRows(DeltaTable.forPath(d).toDF(spark), nation)
  }

  test("identity columns: allocation, explicit-insert gate, hwm durability") {
    val d = tempDir("identity")
    var t = DeltaTable.forPath(d)
      .withIdentityColumn("seq", start = 100L, step = 10L,
        allowExplicitInsert = true)
      .write(nation.orderBy("n_nationkey").coalesce(1))
    val n = nation.count()
    // contiguous start/step allocation, mark = last allocated
    val sp = graft.log.Identity.specs(t.schema)("seq")
    assert(sp.start == 100L && sp.step == 10L)
    assert(sp.highWaterMark.contains(100L + (n - 1) * 10L))
    val seqs = t.toDF(spark).select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs.head == 100L && seqs.last == 100L + (n - 1) * 10L)
    assert(seqs.distinct.length == n)
    // feature honesty: identityColumns declared
    assert(graft.log.ProtocolGate.writerFeatures(t.dlog.currentProtocol)
      .contains("identityColumns"))
    // explicit insert (allowed here) advances the mark past the supplied max
    t = t.write(nation.withColumn("seq", col("n_nationkey").cast("long") + 10000L))
    val sp2 = graft.log.Identity.specs(t.schema)("seq")
    assert(sp2.highWaterMark.exists(_ >= 10000L))
    // the mark survives checkpoint + log cleanup; the next allocation
    // continues above it, never reusing a value
    t = t.checkpoint().cleanupLog()
    val re = DeltaTable.forPath(d).write(nation.coalesce(1))
    val all = re.toDF(spark).select("seq").collect().map(_.getLong(0))
    assert(all.distinct.length == all.length, "identity values must be unique")
    assert(all.max > 10000L + n)

    // GENERATED ALWAYS (default): explicit values are rejected
    val d2 = tempDir("identity-always")
    val t2 = DeltaTable.forPath(d2).withIdentityColumn("seq")
      .write(nation.coalesce(1))
    intercept[IllegalArgumentException](
      t2.write(nation.withColumn("seq", lit(1L))))
  }

  test("delta V2 checkpoint (uuid manifest + sidecars) opens after cleanup") {
    import org.apache.spark.sql.types._
    val d = tempDir("ckpt-v2")
    var t = DeltaTable.forPath(d).write(nation, partitionBy = Some(Seq("n_regionkey")))
    t = t.write(nation)
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") === 3))
    // classic checkpoint FIRST (the protocol doesn't carry v2Checkpoint
    // yet, so the classic layout is emitted), then the table declares
    // the v2Checkpoint READER feature as a JSON-tail commit — the
    // hand-built foreign manifest below replaces the classic file, and
    // the reopened table's protocol still ends up declaring the feature
    t = t.checkpoint()
    val v = t.version
    t = t.upgradeProtocol(3, 7,
      readerFeatures = Set("v2Checkpoint", "deletionVectors"),
      writerFeatures = Set("deletionVectors"))
    val expected = nation.union(nation).filter(col("n_nationkey") =!= 3)
    // transform the emitted CLASSIC checkpoint into delta's V2 layout:
    // file actions into a sidecar parquet under _sidecars/, everything
    // else plus checkpointMetadata + the sidecar ref into a UUID manifest
    val classic = t.logLoc.child(f"$v%020d.checkpoint.parquet")
    val rows = spark.read.parquet(classic.uri).toJSON.collect().toSeq
      .filter(l => l.nonEmpty && l != "{}")
    val (fileRows, stateRows) = rows.partition(l =>
      l.startsWith("""{"add""") || l.startsWith("""{"remove"""))
    assert(fileRows.nonEmpty && stateRows.nonEmpty)
    import org.apache.spark.sql.Encoders
    val sidecarName = "00000000-aaaa-bbbb-cccc-000000000001.parquet"
    val sidecarDir = t.logLoc.child("_sidecars")
    sidecarDir.mkdirs()
    val staging = tempDir("v2-staging")
    spark.read.schema(Checkpoint.deltaCheckpointSchema)
      .json(spark.createDataset(fileRows)(Encoders.STRING))
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$d/_delta_log/_sidecars/$sidecarName"))
    val manifestSchema = StructType(Checkpoint.deltaCheckpointSchema.fields ++ Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType))))))
    val manifestRows = stateRows ++ Seq(
      s"""{"checkpointMetadata":{"version":$v}}""",
      s"""{"sidecar":{"path":"$sidecarName","sizeInBytes":${part.length()}}}""")
    val mStaging = tempDir("v2-manifest-staging")
    spark.read.schema(manifestSchema)
      .json(spark.createDataset(manifestRows)(Encoders.STRING))
      .coalesce(1).write.mode("overwrite").parquet(mStaging)
    val mPart = new java.io.File(mStaging).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(mPart.toPath, java.nio.file.Paths.get(
      s"$d/_delta_log/" +
        f"$v%020d.checkpoint.00000000-aaaa-bbbb-cccc-0000000000ff.parquet"))
    // wipe the classic checkpoint, graft artifacts, and cleaned JSON —
    // the V2 manifest is now the only way to open the table
    t.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      val drop = name == f"$v%020d.checkpoint.parquet" ||
        name.endsWith(".graft-checkpoint.parquet") ||
        name == Checkpoint.LastCheckpointFile ||
        (name.matches("^\\d+\\.json$") && name.split("\\.", 2)(0).toLong <= v)
      if (drop) t.logLoc.fs.delete(t.logLoc.child(name).path, false)
    }
    // direct read first: surfaces a real exception instead of the
    // loadFrom fallback swallowing it
    val direct = Checkpoint.readDeltaFormat(t.logLoc, v,
      spark.sparkContext.hadoopConfiguration)
    assert(direct.isDefined, "v2 manifest not picked up")
    val re = DeltaTable.forPath(d)
    assert(re.version == v + 1) // manifest base @ v + the upgrade commit
    assert(re.partitionColumns == Seq("n_regionkey"))
    assertSameRows(re.toDF(spark), expected)
    assert(re.toDF(spark).filter(col("n_nationkey") === 3).count() == 0)
    // a FOREIGN writer upgrades to the v2Checkpoint WRITER feature
    // (delta-spark's full protocol); this engine now MAINTAINS such
    // tables in-spec — the commit succeeds, and the next checkpoint is
    // itself emitted in the V2 layout (manifest + sidecars, no classic
    // file at that version)
    re.logLoc.child(f"${v + 2}%020d.json").writeString(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint","deletionVectors"],""" +
        """"writerFeatures":["v2Checkpoint","deletionVectors","appendOnly"]}}""" + "\n")
    val re2 = DeltaTable.forPath(d)
    assert(re2.version == v + 2)
    assertSameRows(re2.toDF(spark), expected)
    val re3 = re2.write(nation).checkpoint()
    val head = re3.version
    assert(head == v + 3)
    val names = re3.logLoc.listSorted().map(_.getPath.getName)
    assert(!names.contains(f"$head%020d.checkpoint.parquet"),
      "v2 table must not get a classic checkpoint")
    val manifestRe =
      (f"^$head%020d" + "\\.checkpoint\\.[0-9a-fA-F]{8}-[0-9a-fA-F-]+\\.parquet$").r
    assert(names.exists(manifestRe.matches(_)), "expected a v2 manifest at head")
    assert(re3.logLoc.child("_sidecars").listSorted()
      .exists(_.getPath.getName.startsWith(f"$head%020d-")),
      "expected a version-prefixed sidecar from the native v2 emission")
    // the natively-emitted checkpoint round-trips: wipe everything else
    // and reopen from the manifest alone
    re3.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      val drop = name.endsWith(".graft-checkpoint.parquet") ||
        name == Checkpoint.LastCheckpointFile ||
        (name.matches("^\\d+\\.json$") && name.split("\\.", 2)(0).toLong <= head)
      if (drop) re3.logLoc.fs.delete(re3.logLoc.child(name).path, false)
    }
    val re4 = DeltaTable.forPath(d)
    assert(re4.version == head)
    assertSameRows(re4.toDF(spark), expected.union(nation))
  }

  test("delta.checkpointPolicy=v2: native emission, feature, sidecar GC") {
    val d = tempDir("ckpt-v2-native")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0)
      .write(nation)
    t = t.setTableProperties(Map("delta.checkpointPolicy" -> "v2"))
    // the property commit declared the readerWriter feature (delta-spark
    // parity: a v2 table must announce itself to readers)
    val p = t.dlog.currentProtocol
    assert(ProtocolGate.readerFeatures(p).contains("v2Checkpoint"))
    assert(ProtocolGate.writerFeatures(p).contains("v2Checkpoint"))
    def manifestsAt(tbl: DeltaTable, v: Long): Seq[String] =
      tbl.logLoc.listSorted().map(_.getPath.getName).filter(n =>
        n.matches(f"^$v%020d" + "\\.checkpoint\\.[0-9a-fA-F]{8}-[0-9a-fA-F-]+\\.parquet$"))
    def sidecarsAt(tbl: DeltaTable, v: Long): Seq[String] = {
      val sd = tbl.logLoc.child("_sidecars")
      if (!sd.exists) Seq.empty
      else sd.listSorted().map(_.getPath.getName)
        .filter(_.startsWith(f"$v%020d-"))
    }
    t = t.checkpoint()
    val v1 = t.version
    assert(manifestsAt(t, v1).size == 1 && sidecarsAt(t, v1).nonEmpty)
    assert(!t.logLoc.listSorted().map(_.getPath.getName)
      .contains(f"$v1%020d.checkpoint.parquet"))
    // the keep-2 GC drops the OLDEST v2 checkpoint AND its
    // version-prefixed sidecars once a third exists
    t = t.write(nation).checkpoint()
    val v2 = t.version
    t = t.write(nation).checkpoint()
    val v3 = t.version
    assert(manifestsAt(t, v1).isEmpty && sidecarsAt(t, v1).isEmpty,
      "superseded v2 checkpoint (manifest + sidecars) must be GC'd")
    assert(manifestsAt(t, v2).nonEmpty && manifestsAt(t, v3).nonEmpty)
    // the surviving newest checkpoint serves a cleaned-log open
    t.logLoc.listSorted().map(_.getPath.getName).foreach { name =>
      val drop = name.endsWith(".graft-checkpoint.parquet") ||
        name == Checkpoint.LastCheckpointFile ||
        (name.matches("^\\d+\\.json$") && name.split("\\.", 2)(0).toLong <= v3)
      if (drop) t.logLoc.fs.delete(t.logLoc.child(name).path, false)
    }
    val re = DeltaTable.forPath(d)
    assert(re.version == v3)
    assertSameRows(re.toDF(spark), nation.union(nation).union(nation))
  }

  test("type widening: metadata-only ALTER, narrow files scan widened") {
    import org.apache.spark.sql.types._
    val d = tempDir("widen")
    val narrow = nation
      .withColumn("n_nationkey", col("n_nationkey").cast("int"))
      .withColumn("score", (col("n_regionkey") + lit(0.5)).cast("float"))
    var t = DeltaTable.forPath(d)
      .write(narrow, partitionBy = Some(Seq("n_regionkey")))
    // gated on the delta-spark property
    intercept[IllegalArgumentException](t.alterColumnType("n_nationkey", LongType))
    t = t.setTableProperties(Map("delta.enableTypeWidening" -> "true"))
    val filesBefore = t.fileUris.toSet
    t = t.alterColumnType("n_nationkey", LongType)
    t = t.alterColumnType("score", DoubleType)
    // metadata-only: zero files rewritten
    assert(t.fileUris.toSet == filesBefore)
    // schema widened + delta.typeChanges recorded + feature declared
    val f = t.dlog.schema("n_nationkey")
    assert(f.dataType == LongType)
    val tc = f.metadata.getMetadataArray("delta.typeChanges")
    assert(tc.length == 1 && tc.head.getString("fromType") == "integer" &&
      tc.head.getString("toType") == "long")
    val p = t.dlog.currentProtocol
    assert(ProtocolGate.readerFeatures(p).contains("typeWidening"))
    assert(ProtocolGate.writerFeatures(p).contains("typeWidening"))
    // the NARROW files scan under the widened schema
    val out = t.toDF(spark)
    assert(out.schema("n_nationkey").dataType == LongType)
    assert(out.schema("score").dataType == DoubleType)
    assert(out.count() == nation.count())
    // appended data may now exceed the old type's range
    t = t.write(narrow
      .withColumn("n_nationkey", col("n_nationkey") + lit(5000000000L))
      .withColumn("score", col("score").cast("double")))
    val re = DeltaTable.forPath(d).toDF(spark)
    assert(re.count() == 2 * nation.count())
    assert(re.agg(max("n_nationkey")).head.getLong(0) > Int.MaxValue.toLong)
    // stats skipping still prunes across mixed narrow/wide files
    val pruned = graft.sources.DataSkipping.prune(
      t.dlog.addActions.values.toSeq, col("n_nationkey") > lit(4999999990L),
      t.dlog.schema, t.dlog.partitionColumns)
    assert(pruned.size < t.dlog.addActions.size && pruned.nonEmpty)
    // guards: lossy change, partition column, generated-column source
    intercept[IllegalArgumentException](t.alterColumnType("n_nationkey", IntegerType))
    intercept[IllegalArgumentException](t.alterColumnType("n_regionkey", LongType))
    val d2 = tempDir("widen-gen")
    var g = DeltaTable.forPath(d2)
      .withGeneratedColumn("key2", "n_nationkey * 2")
      .write(nation.withColumn("n_nationkey", col("n_nationkey").cast("int")))
    g = g.setTableProperties(Map("delta.enableTypeWidening" -> "true"))
    intercept[IllegalArgumentException](g.alterColumnType("n_nationkey", LongType))
  }

  test("variant column: type round-trips the log, feature declared") {
    val d = tempDir("variant")
    val df = nation.withColumn("props",
      parse_json(concat(lit("""{"k":"""), col("n_nationkey"), lit("}"))))
    val t = DeltaTable.forPath(d).write(df)
    // schema records the variant type; the feature is declared both lists
    assert(t.dlog.schema("props").dataType ==
      org.apache.spark.sql.types.VariantType)
    val p = t.dlog.currentProtocol
    assert(ProtocolGate.readerFeatures(p).contains("variantType"))
    assert(ProtocolGate.writerFeatures(p).contains("variantType"))
    // a fresh open scans the binary encoding back to the same values
    val re = DeltaTable.forPath(d).toDF(spark)
      .withColumn("k", variant_get(col("props"), "$.k", "long"))
    assert(re.filter(col("k") === col("n_nationkey").cast("long")).count() ==
      nation.count())
  }

  test("PQ ANN: twins always surface at cosine 1.0; deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val twins = emb.withColumn("vec_id", col("vec_id") + lit(10000L))
    val corpus = emb.unionByName(twins)
    val queries = corpus.filter(col("vec_id") < 20)
    val out = operators.Similarity.pqTopK(corpus, queries,
      "vec_id", "embedding", k = 1).collect()
    assert(out.length == 20)
    // every query's top-1 is its identical twin at cosine 1.0: the twin's
    // code is the per-subspace argmax, so ADC can never drop it
    out.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") + 10000L)
      assert(r.getAs[Double]("cos_sim") == 1.0)
    }
    // pure function of (corpus, seed): a second run is identical
    val out2 = operators.Similarity.pqTopK(corpus, queries,
      "vec_id", "embedding", k = 1).collect()
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("stats scoping: dataSkippingNumIndexedCols / StatsColumns bound stats") {
    def statsCols(t: DeltaTable, v: Long): Set[String] = {
      val a = t.dlog.entries(v).adds.head
      val node = graft.log.Json.mapper.readTree(a.stats.get)
      import scala.jdk.CollectionConverters._
      node.get("minValues").fieldNames.asScala.toSet
    }
    val d = tempDir("stats-scope")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0).write(nation)
    // unscoped default: every scalar column carries min/max
    assert(statsCols(t, 0L) == Set("n_nationkey", "n_name", "n_regionkey"))
    // first-N scoping (schema order)
    t = t.setTableProperties(Map("delta.dataSkippingNumIndexedCols" -> "1"))
    t = t.write(nation)
    assert(statsCols(t, t.version) == Set("n_nationkey"))
    // explicit list wins over the count
    t = t.setTableProperties(Map("delta.dataSkippingStatsColumns" -> "n_regionkey"))
    t = t.write(nation)
    assert(statsCols(t, t.version) == Set("n_regionkey"))
    // numRecords always collected; scoped files still prune on their
    // indexed column and stay CORRECT (never wrongly pruned) on others
    val adds = t.dlog.addActions.values.toSeq
    assert(adds.forall(_.numRecords.nonEmpty))
    // n_regionkey stats exist on the v0 (full) and v4 (explicit-list)
    // files — both prune; the v2 file (n_nationkey-only) has no info and
    // must SURVIVE (conservative, never wrongly pruned)
    val onRegion = graft.sources.DataSkipping.prune(adds,
      col("n_regionkey") > lit(100), t.dlog.schema, t.dlog.partitionColumns)
    assert(onRegion.size == 1, s"got ${onRegion.size}")
    val onNation = graft.sources.DataSkipping.prune(adds,
      col("n_nationkey") > lit(1000), t.dlog.schema, t.dlog.partitionColumns)
    assert(onNation.size == 1, s"got ${onNation.size}")
    assertSameRows(t.toDF(spark), nation.union(nation).union(nation))
  }

  test("token-budget selection is partition-count invariant and exact") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("n_tokens", size(split(lower(col("text")), " ")).cast("long"))
    def sel(parts: Int): Set[Long] =
      operators.Sampling.selectUnderTokenBudget(docs, "doc_id", "n_tokens",
          "n_chars", budget = 15000L, partitions = parts)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = sel(2); val b = sel(8); val c = sel(32)
    assert(a == b && b == c,
      "the global cumsum must not depend on the partition count")
    // exact greedy semantics: adding the next-best excluded doc would
    // break the budget; the selection itself fits
    val byScore = docs.select("doc_id", "n_chars", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (-t._2, t._1))
    var cum = 0L
    val expect = byScore.takeWhile { t => cum += t._3; cum <= 15000L }
      .map(_._1).toSet
    assert(a == expect)
  }

  test("RESTORE refuses a version whose files were vacuumed away") {
    val d = tempDir("restore-vacuumed")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0)
      .write(nation.coalesce(1))
    t = t.write(nation.coalesce(1), mode = graft.log.WriteMode.Overwrite)
    // retention 0 → the overwritten v0 file is deletable immediately
    t = t.setTableProperties(
      Map("delta.deletedFileRetentionDuration" -> "interval 0 seconds"))
    t.vacuum(retentionMs = 0L)
    val e = intercept[IllegalStateException](t.restore(0L))
    assert(e.getMessage.contains("no longer exist"))
    // the table itself is untouched by the refused restore
    assert(DeltaTable.forPath(d).version == t.version)
    // a restore whose files DO exist still works
    val d2 = tempDir("restore-ok")
    val t2 = DeltaTable.forPath(d2).write(nation).write(nation).restore(0L)
    assertSameRows(t2.toDF(spark), nation)
  }

  test("merge schema evolution: source-only columns join the table atomically") {
    val d = tempDir("merge-evolve")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0).write(nation)
    val source = nation.filter(col("n_nationkey") < 10)
      .withColumn("n_name", concat(lit("UP-"), col("n_name")))
      .withColumn("flag", lit("hot"))
    // without evolution the extra column is DROPPED (schema unchanged —
    // the strict contract: merge never widens the table implicitly)
    val strict = DeltaTable.forPath(tempDir("merge-evolve-strict"))
      .write(nation).merge(spark, source, Seq("n_nationkey"))
    assert(!strict.dlog.schema.fieldNames.contains("flag"))
    t = t.merge(spark, source, Seq("n_nationkey"), schemaEvolution = true)
    // one commit: schema gained `flag` (nullable), matched rows updated,
    // unmatched kept with flag null
    assert(t.version == 1L)
    assert(t.dlog.schema.fieldNames.contains("flag"))
    assert(t.dlog.schema("flag").nullable)
    val out = t.toDF(spark)
    assert(out.filter(col("n_nationkey") < 10 && col("flag") === "hot" &&
      col("n_name").startsWith("UP-")).count() == 10)
    assert(out.filter(col("n_nationkey") >= 10 && col("flag").isNull).count() ==
      nation.count() - 10)
    // a second evolved merge on the SAME column does not re-add it
    val again = t.merge(spark,
      source.withColumn("n_nationkey", col("n_nationkey") + lit(50)),
      Seq("n_nationkey"), schemaEvolution = true)
    assert(again.dlog.schema.fieldNames.count(_ == "flag") == 1)
    // source MISSING a target column null-fills under evolution
    val narrow = nation.filter(col("n_nationkey") === 0)
      .withColumn("n_nationkey", col("n_nationkey") + lit(200))
      .drop("n_regionkey")
    val t3 = again.merge(spark, narrow, Seq("n_nationkey"), schemaEvolution = true)
    assert(t3.toDF(spark).filter(col("n_nationkey") === 200)
      .select("n_regionkey").head.isNullAt(0))
  }

  test("dynamic partition overwrite replaces exactly the touched partitions") {
    val d = tempDir("dpo")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
    val untouched = t.dlog.addActions.values
      .filter(_.partitionValues.get("n_regionkey").flatten.contains("3"))
      .map(_.path).toSet
    // replacement data lands in regions 0 and 1 only
    val repl = nation.filter(col("n_regionkey") <= 1)
      .withColumn("n_name", concat(lit("NEW-"), col("n_name")))
    t = t.overwritePartitionsDynamic(spark, repl)
    // regions 0/1 fully replaced; 2/3/4 byte-identical files
    val out = t.toDF(spark)
    assert(out.filter(col("n_regionkey") <= 1 &&
      !col("n_name").startsWith("NEW-")).count() == 0)
    assert(out.filter(col("n_regionkey") > 1 &&
      col("n_name").startsWith("NEW-")).count() == 0)
    assert(out.count() == nation.count())
    assert(untouched.subsetOf(t.dlog.addActions.keySet.toSet),
      "untouched partitions must keep their files")
    // one atomic commit; unpartitioned tables refuse
    assert(t.version == 1L)
    val d2 = tempDir("dpo-flat")
    val f = DeltaTable.forPath(d2).write(nation)
    intercept[IllegalArgumentException](f.overwritePartitionsDynamic(spark, nation))
  }

  test("CONVERT TO DELTA adopts a plain parquet dir in place, zero copy") {
    val d = tempDir("convert")
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(d)
    val preFiles = new java.io.File(d).listFiles().flatMap(r =>
      if (r.isDirectory) r.listFiles().filter(_.getName.endsWith(".parquet"))
      else Array.empty[java.io.File]).map(_.getName).toSet
    val t = DeltaTable.convert(spark, d, partitionBy = Seq("n_regionkey"))
    assert(t.version == 0L)
    assert(t.partitionColumns == Seq("n_regionkey"))
    // zero copy: the adds ARE the pre-existing files, relative paths
    assert(t.dlog.addActions.keySet.map(_.split("/").last) == preFiles)
    assert(t.dlog.addActions.keySet.forall(!_.startsWith("/")))
    assertSameRows(t.toDF(spark), nation)
    // footer stats feed skipping from the first scan
    val pruned = graft.sources.DataSkipping.prune(
      t.dlog.addActions.values.toSeq, col("n_nationkey") < 3,
      t.dlog.schema, t.dlog.partitionColumns)
    assert(pruned.size < t.dlog.addActions.size)
    // the adopted table is fully writable
    val t2 = t.write(nation, partitionBy = Some(Seq("n_regionkey")))
    assertSameRows(t2.toDF(spark), nation.union(nation))
    // converting an existing delta table refuses
    intercept[IllegalArgumentException](DeltaTable.convert(spark, d))
    // flat (unpartitioned) layout converts too
    val d2 = tempDir("convert-flat")
    nation.coalesce(2).write.mode("overwrite").parquet(d2)
    val tf = DeltaTable.convert(spark, d2)
    assertSameRows(tf.toDF(spark), nation)
  }

  test("column defaults: omitted columns fill, supplied values win, guards") {
    val d = tempDir("defaults")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0).write(nation)
    t = t.setColumnDefault("n_regionkey", "7")
    // feature declared (writer-only)
    assert(ProtocolGate.writerFeatures(t.dlog.currentProtocol)
      .contains("allowColumnDefaults"))
    // CURRENT_DEFAULT rides the schema exactly where delta-spark puts it
    assert(t.dlog.schema("n_regionkey").metadata.getString("CURRENT_DEFAULT") == "7")
    // a write OMITTING the column fills the constant (and the reordered
    // frame still appends cleanly)
    t = t.write(nation.drop("n_regionkey")
      .withColumn("n_nationkey", (col("n_nationkey") + lit(100)).cast("int")))
    val filled = t.toDF(spark).filter(col("n_nationkey") >= 100)
    assert(filled.count() == nation.count())
    assert(filled.filter(col("n_regionkey") === 7).count() == nation.count())
    // supplied values always win; existing rows untouched
    assert(t.toDF(spark).filter(col("n_nationkey") < 100 &&
      col("n_regionkey") === 7).count() ==
      nation.filter(col("n_regionkey") === 7).count())
    // DROP DEFAULT reverts future omissions to the merge-mode behavior
    t = t.dropColumnDefault("n_regionkey")
    assert(!t.dlog.schema("n_regionkey").metadata.contains("CURRENT_DEFAULT"))
    // guards: non-constant defaults and generated/identity columns refuse
    intercept[IllegalArgumentException](
      t.setColumnDefault("n_regionkey", "n_nationkey + 1"))
    val d2 = tempDir("defaults-gen")
    val g = DeltaTable.forPath(d2)
      .withGeneratedColumn("nk2", "n_nationkey * 2").write(nation)
    intercept[IllegalArgumentException](g.setColumnDefault("nk2", "1"))
  }

  test("version checksums: written per commit, validated on open, cleaned") {
    val d = tempDir("crc")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0).write(nation)
    t = t.write(nation)
    t = t.delete(spark, Some(col("n_nationkey") < 5))
    // each commit left a crc whose summary matches the replayed state
    val crc = t.logLoc.child(graft.log.Checksum.filename(t.version))
    assert(crc.exists)
    val node = graft.log.Json.mapper.readTree(crc.readString())
    assert(node.get("numFiles").asLong == t.dlog.addActions.size.toLong)
    assert(node.get("tableSizeBytes").asLong ==
      t.dlog.addActions.values.map(_.size).sum)
    assert(node.get("protocol").get("minReaderVersion").asInt ==
      t.dlog.currentProtocol.minReaderVersion)
    assert(node.get("metadata").get("id").asText ==
      t.dlog.latestMetadata.get.id)
    // every version has its own crc
    (0L to t.version).foreach(v =>
      assert(t.logLoc.child(graft.log.Checksum.filename(v)).exists, s"v$v"))
    // reopen validates silently when state matches
    assert(DeltaTable.forPath(d).version == t.version)
    // a DIVERGENT crc (simulated replay corruption) fails the open loudly
    val tampered = node.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    tampered.put("numFiles", node.get("numFiles").asLong + 1)
    crc.fs.delete(crc.path, false)
    crc.writeString(graft.log.Json.mapper.writeValueAsString(tampered))
    val e = intercept[IllegalStateException](DeltaTable.forPath(d))
    assert(e.getMessage.contains("checksum mismatch"))
    // restore the real crc: the table opens again
    crc.fs.delete(crc.path, false)
    crc.writeString(graft.log.Json.mapper.writeValueAsString(node))
    assert(DeltaTable.forPath(d).version == t.version)
    // log cleanup sweeps crcs below the checkpoint, keeps the head's —
    // which still validates the checkpoint fast-path open
    t = t.checkpoint().cleanupLog()
    assert(t.logLoc.child(graft.log.Checksum.filename(t.version)).exists)
    assert(!t.logLoc.child(graft.log.Checksum.filename(0L)).exists)
    assert(DeltaTable.forPath(d).version == t.version)
    // time travel validates against the HISTORICAL version's crc — a
    // fresh table with history intact proves the per-version binding
    val d2 = tempDir("crc-tt")
    val t2 = DeltaTable.forPath(d2).write(nation).write(nation)
    val old = DeltaTable.forPath(d2, version = Some(0L))
    assert(old.dlog.addActions.size < t2.dlog.addActions.size)
  }

  test("stable row ids survive OPTIMIZE, re-rewrite, and REORG PURGE") {
    val d = tempDir("rowid-stable")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0)
      .write(nation.limit(0))
      .setTableProperties(Map(graft.log.RowTracking.EnableKey -> "true"))
    // enabling minted the materialized column name (delta-spark's key)
    val mcol = graft.log.RowTracking.materializedCol(t.dlog.latestMetadata)
    assert(mcol.isDefined && mcol.get.startsWith("_row-id-col-"))
    t = t.write(nation.orderBy("n_nationkey").coalesce(1))
    t = t.write(nation.withColumn("n_nationkey",
        (col("n_nationkey") + lit(100)).cast("int"))
      .orderBy("n_nationkey").coalesce(1))
    def idMap(tb: DeltaTable): Map[Long, Long] =
      tb.toDFWithRowIds(spark).select("n_nationkey", "_row_id")
        .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val before = idMap(t)
    assert(before.size == 2 * nation.count())
    // OPTIMIZE rewrites both files into one — ids must NOT move
    t = t.compact(spark)
    assert(t.dlog.addActions.size == 1)
    assert(idMap(t) == before, "ids must survive the rewrite")
    // the rewritten file got a FRESH baseRowId range; the stable ids come
    // from the materialized column, not the range
    val hwmAfter = graft.log.RowTracking.highWaterMark(t.dlog)
    assert(hwmAfter >= 2 * before.size - 1)
    // a SECOND rewrite preserves the already-materialized ids (coalesce
    // keeps existing values over base+pos)
    t = t.write(nation.withColumn("n_nationkey",
      (col("n_nationkey") + lit(200)).cast("int")))
    t = t.compact(spark)
    val after2 = idMap(t)
    assert(before.forall { case (k, id) => after2(k) == id })
    // MoR delete + REORG PURGE: survivors keep their ids through the
    // DV-applying rewrite, and purge does not see the materialized
    // column as drop debt (no infinite rewrite)
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") % 5 === 1))
    val preP = idMap(t)
    t = t.purge(spark)
    assert(idMap(t) == preP, "survivor ids must survive PURGE")
    val t2 = t.purge(spark)
    assert(t2.version == t.version, "purge must be idempotent (no fake debt)")
  }

  test("auto optimize: optimizeWrite right-sizes, autoCompact pays debt down") {
    val d = tempDir("auto-opt")
    var t = DeltaTable.forPath(d).copy(checkpointInterval = 0).write(nation)
    // --- optimizeWrite: a 16-partition frame lands as ~1 file, not 16 ---
    t = t.setTableProperties(Map("delta.autoOptimize.optimizeWrite" -> "true"))
    val before = t.dlog.addActions.size
    t = t.write(nation.repartition(16))
    assert(t.dlog.addActions.size - before <= 2,
      s"optimizeWrite should coalesce tiny shuffle partitions, " +
        s"got ${t.dlog.addActions.size - before} files")
    // --- autoCompact: small-file debt crossing the threshold compacts ---
    t = t.setTableProperties(Map(
      "delta.autoOptimize.optimizeWrite" -> "false",
      "delta.autoOptimize.autoCompact" -> "true",
      "delta.autoOptimize.autoCompact.minNumFiles" -> "8"))
    val vBefore = t.version
    t = t.write(nation.repartition(4)) // debt below threshold: no compact
    assert(t.version == vBefore + 1)
    t = t.write(nation.repartition(6)) // debt crosses 8: compact fires
    assert(t.version == vBefore + 3, "expected write + auto-compact commits")
    assert(t.dlog.addActions.size == 1,
      s"small files should compact to one, got ${t.dlog.addActions.size}")
    // the compaction is maintenance: dataChange=false on its adds
    val compactionEntry = t.dlog.entries(t.version)
    assert(compactionEntry.adds.nonEmpty &&
      compactionEntry.adds.forall(!_.dataChange))
    assert(compactionEntry.commitInfos.exists(_.operation == "OPTIMIZE"))
    // rows intact across the whole dance
    assertSameRows(t.toDF(spark),
      nation.union(nation).union(nation).union(nation))
    // partitioned: only the indebted partition compacts
    val d2 = tempDir("auto-opt-part")
    var p = DeltaTable.forPath(d2).copy(checkpointInterval = 0)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
    p = p.setTableProperties(Map(
      "delta.autoOptimize.autoCompact" -> "true",
      "delta.autoOptimize.autoCompact.minNumFiles" -> "6"))
    val perPartBefore = p.dlog.addActions.values
      .groupBy(_.partitionValues.get("n_regionkey").flatten).view.mapValues(_.size).toMap
    // pile debt onto region 0 only
    (1 to 6).foreach { _ =>
      p = p.write(nation.filter(col("n_regionkey") === 0).repartition(1),
        partitionBy = Some(Seq("n_regionkey")))
    }
    val perPart = p.dlog.addActions.values
      .groupBy(_.partitionValues.get("n_regionkey").flatten).view.mapValues(_.size).toMap
    // compaction fired when region 0 crossed 6 files (collapse to 1);
    // the append after the crossing leaves exactly one more
    assert(perPart(Some("0")) == 2, s"region 0 should be compacted, got $perPart")
    assert(perPart(Some("1")) == perPartBefore(Some("1")),
      "undebted partitions must not rewrite")
    assert(p.dlog.entries.values.exists(_.commitInfos.exists(_.operation == "OPTIMIZE")))
  }

  test("clusterBy: delta-spark state shape, OPTIMIZE payoff, guards") {
    val sf = sfDir
    val d = tempDir("liquid")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    var t = DeltaTable.forPath(d).write(li.repartition(8))
    // pre-clustering: a quantity range hits most files (hash layout)
    def prunedCount(tbl: DeltaTable): Int =
      graft.sources.DataSkipping.prune(tbl.dlog.addActions.values.toSeq,
        col("l_quantity") <= 2, tbl.dlog.schema, tbl.dlog.partitionColumns).size
    val before = prunedCount(t)
    t = t.clusterBy(Seq("l_quantity", "l_extendedprice"))
    // delta-spark's exact domain layout: nested path arrays
    assert(t.dlog.domainMetadata(graft.log.Clustering.Domain).configuration ==
      """{"clusteringColumns":[["l_quantity"],["l_extendedprice"]]}""")
    assert(t.clusteringColumns == Seq("l_quantity", "l_extendedprice"))
    val wf = graft.log.ProtocolGate.writerFeatures(t.dlog.currentProtocol)
    assert(wf.contains("clustering") && wf.contains("domainMetadata"))
    // OPTIMIZE with no keys picks the declared ones: the same predicate
    // now prunes to a strict subset of files, and rows are unchanged
    t = t.compact(spark, targetFiles = 8)
    val after = prunedCount(t)
    assert(t.dlog.addActions.size >= 4, "need a multi-file layout to measure")
    assert(after < before || before == t.dlog.addActions.size,
      s"clustered layout must improve skipping: $before -> $after")
    assert(after < t.dlog.addActions.size,
      s"a clustered range scan must skip files: $after of ${t.dlog.addActions.size}")
    assertSameRows(t.toDF(spark), li)
    // declaration survives the checkpoint fast path (domainMetadata)
    val re = DeltaTable.forPath(d)
    assert(re.clusteringColumns == Seq("l_quantity", "l_extendedprice"))
    // guards: unknown and partition columns are rejected
    intercept[IllegalArgumentException](t.clusterBy(Seq("nope")))
    val pd = tempDir("liquid-part")
    val pt = DeltaTable.forPath(pd).write(
      spark.read.parquet(s"$sf/nation.parquet"), partitionBy = Some(Seq("n_regionkey")))
    intercept[IllegalArgumentException](pt.clusterBy(Seq("n_regionkey")))
    // re-declaring replaces the keys for the NEXT optimize
    val t2 = t.clusterBy(Seq("l_orderkey"))
    assert(t2.clusteringColumns == Seq("l_orderkey"))
  }

  test("enableInCommitTimestamps: commits write the ICT clock, feature declared") {
    val d = tempDir("ict-write")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.setTableProperties(Map("delta.enableInCommitTimestamps" -> "true"))
    t = t.write(nation)
    val ci = t.dlog.entries(t.version).commitInfos.head
    // the authoritative clock is written explicitly AND mirrored into the
    // legacy field, so both ICT-aware and legacy readers agree
    assert(ci.extra.contains("inCommitTimestamp"))
    assert(ci.effectiveTimestamp == ci.timestamp)
    // the writer feature is declared
    assert(graft.log.ProtocolGate.writerFeatures(t.dlog.currentProtocol)
      .contains("inCommitTimestamp"))
    // monotonic across commits (the clamp operates on the ICT clock)
    val ts = t.history.map(_._2.effectiveTimestamp)
    assert(ts == ts.sorted.reverse && ts.distinct.size == ts.size)
  }

  test("delta-format checkpoint round-trips domain metadata") {
    val d = tempDir("dm-delta-ckpt")
    var t = DeltaTable.forPath(d).write(nation)
    t = t.setDomainMetadata("cross.engine", """{"seen":"yes"}""")
    t = t.checkpoint()
    // the delta-layout checkpoint (the cross-engine emission) must carry
    // the domainMetadata column populated
    val ckpt = spark.read.parquet(
      t.logLoc.child(f"${t.version}%020d.checkpoint.parquet").uri)
    assert(ckpt.schema.fieldNames.contains("domainMetadata"))
    val doms = ckpt.select("domainMetadata.domain", "domainMetadata.configuration")
      .where(col("domainMetadata.domain").isNotNull).collect()
    assert(doms.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("cross.engine", """{"seen":"yes"}""")))
    // and graft's own delta-format read path restores it as an action
    val entry = Checkpoint.readDeltaFormat(t.logLoc, t.version,
      spark.sparkContext.hadoopConfiguration)
    val restored = entry.get.actions.collect { case dm: DomainMetadata => dm }
    assert(restored == Vector(DomainMetadata("cross.engine", """{"seen":"yes"}""")))
  }
}
