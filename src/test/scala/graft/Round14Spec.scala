package graft

import graft.operators.{Sampling, Sketches}
import graft.sql.{GraftSql, GraftSqlCommands}
import graft.stats.Statistics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType, StructType}

/** Round-14 regression pins: the r12-verdict ADVICE fixes (nested-type
  * ADD COLUMNS splitting, session-tz timestamp literals, CMS parameter
  * carry, code-point-safe string-stat bounds, zero-capacity UniMax keys).
  */
class Round14Spec extends SparkSuite {

  private lazy val sql = GraftSql.enable(spark)

  test("splitTopLevel keeps parameterized nested types whole") {
    val specs = GraftSqlCommands.splitTopLevel(
      "m MAP<STRING, INT>, s STRUCT<a: INT, b: STRING>, x ARRAY<MAP<STRING, ARRAY<INT>>>, n INT",
      trackAngles = true)
    assert(specs.size == 4, specs.toString)
    assert(specs(0) == "m MAP<STRING, INT>")
    assert(specs(1) == "s STRUCT<a: INT, b: STRING>")
    // UPDATE-style expression splitting (no angle tracking) is unchanged:
    // a bare `<` comparison must not suppress the comma split
    val sets = GraftSqlCommands.splitTopLevel(
      "a = CASE WHEN x < 3 THEN 1 ELSE 2 END, b = 'y,z'")
    assert(sets.size == 2, sets.toString)
  }

  test("SQL ADD COLUMNS accepts parameterized nested types end-to-end") {
    val d = tempDir("r14-addcols")
    DeltaTable.forPath(d).write(spark.read.parquet(s"$sfDir/region.parquet"))
    sql.sql(
      s"ALTER TABLE '$d' ADD COLUMNS (m MAP<STRING, INT>, s STRUCT<a: INT, b: STRING>)")
    val sch = DeltaTable.forPath(d).schema
    assert(sch("m").dataType == MapType(StringType, IntegerType))
    assert(sch("s").dataType == new StructType()
      .add("a", IntegerType).add("b", StringType))
  }

  test("TIMESTAMP AS OF literals parse in the SESSION timezone") {
    // session is pinned UTC in SparkSuite; a wall-clock literal must mean
    // UTC regardless of the JVM default zone (the Timestamp.valueOf trap)
    val ms = GraftSqlCommands.parseTsLiteral(spark, "2026-01-02 03:04:05")
    assert(ms == java.time.Instant.parse("2026-01-02T03:04:05Z").toEpochMilli)
    // explicit-offset ISO forms still work
    val iso = GraftSqlCommands.parseTsLiteral(spark, "2026-01-02T03:04:05Z")
    assert(iso == ms)
    // and a non-UTC session shifts the interpretation accordingly
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val ny = GraftSqlCommands.parseTsLiteral(spark, "2026-01-02 03:04:05")
      assert(ny == ms + 5L * 3600 * 1000, s"expected EST offset, got ${ny - ms}")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("cmsEstimate derives d/w from the sketch it was built with") {
    import spark.implicits._
    val df = (Seq.fill(50)("hot") ++ (1 to 30).map(i => s"t$i")).toDF("v")
    // non-default parameters: the old estimator would rehash against
    // d=4/w=1024 buckets and undercut the est >= true contract
    val sketch = Sketches.cmsSketch(df, col("v"), d = 3, w = 64)
    assert(sketch.columns.toSet == Set("row", "bucket", "cnt", "d", "w"))
    val probes = df.select(col("v")).distinct()
    val est = Sketches.cmsEstimate(sketch, probes, "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = df.groupBy("v").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (t, n) =>
      assert(est(t) >= n, s"CMS undercuts true count for $t: ${est(t)} < $n")
    }
    assert(est("hot") == 50L, "w=64 over 31 keys should estimate the head exactly-ish")
  }

  test("string stat bounds never emit unpaired surrogates") {
    // 31 chars + a surrogate PAIR straddling the 32-char cut
    val straddle = "a" * 31 + new String(Character.toChars(0x1F600)) + "tail"
    val mn = Statistics.truncMinString(straddle)
    assert(mn == "a" * 31, "cut must back off the high surrogate")
    val mx = Statistics.truncMaxString(straddle).get
    assert(mx == "a" * 30 + "b", mx)
    // U+D7FF bumps OVER the surrogate block to U+E000
    val edge = "x" * 31 + "퟿" + "tail"
    val mxe = Statistics.truncMaxString(edge).get
    assert(mxe == "x" * 31 + "", mxe.map(_.toInt).mkString(","))
    assert(mxe > edge)                                 // UTF-16 order bound
    // U+FFFF is non-incrementable (a supplementary bump would sort BELOW
    // it in UTF-16 order): the increment moves left
    val ffff = "y" * 31 + "￿" + "tail"
    val mxf = Statistics.truncMaxString(ffff).get
    assert(mxf == "y" * 30 + "z", mxf)
    // supplementary code points bump within the supplementary plane
    val supp = "z" * 30 + new String(Character.toChars(0x1F600)) + "tail"
    val mxs = Statistics.truncMaxString(supp).get
    assert(mxs == "z" * 30 + new String(Character.toChars(0x1F601)), mxs)
    assert(mxs > supp)
    // every produced bound is well-formed (round-trips through UTF-8)
    Seq(mn, mx, mxe, mxf, mxs).foreach { b =>
      val rt = new String(b.getBytes("UTF-8"), "UTF-8")
      assert(rt == b, s"malformed bound: ${b.map(_.toInt).mkString(",")}")
    }
  }

  test("auto df guard: a planted hot boilerplate shingle never reaches the self-join") {
    import graft.operators.Dedup
    import spark.implicits._
    // 2000 docs sharing ONE 3-gram ("boiler plate gram", df = 2000 >
    // DefaultMaxDocFreq = 1024); every other shingle is doc-unique.
    // Plus one genuine duplicate pair whose shingles have df = 2.
    val boiler = (1 to 2000).map(i =>
      (i.toLong, s"boiler plate gram u${i}a u${i}b u${i}c"))
    val dups = Seq((9001L, "alpha beta gamma delta epsilon"),
      (9002L, "alpha beta gamma delta epsilon"))
    val df = (boiler ++ dups).toDF("doc_id", "text")
    // the CMS pre-pass certifies an upper bound ABOVE the true hot df
    val postings = df.select(explode(graft.operators.TextAnalysis.shingles(
      graft.operators.TextAnalysis.tokens(col("text")), 3)).as("s"))
    assert(Dedup.estMaxDocFreq(postings) >= 2000L)
    // threshold 0: ANY surviving co-occurrence becomes a pair — so the
    // only pair proves the df-2000 shingle was dropped BEFORE the join
    // (unbounded, this corpus would join 2000*1999/2 boilerplate pairs)
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      n = 3, threshold = 0.0).collect()
    assert(pairs.length == 1, s"got ${pairs.length} pairs")
    assert(pairs.head.getLong(0) == 9001L && pairs.head.getLong(1) == 9002L)
    assert(pairs.head.getDouble(2) == 1.0)
    // a clean small corpus certifies the guard OFF: auto output equals
    // the explicit-unbounded output row for row
    val clean = spark.read.parquet(s"$sfDir/documents.parquet")
    assertSameRows(
      Dedup.ngramJaccardPairs(clean, "doc_id", "text", threshold = 0.5),
      Dedup.ngramJaccardPairs(clean, "doc_id", "text", threshold = 0.5,
        maxDocFreq = -1L))
  }

  test("unimax tolerates zero-capacity keys (allocated 0, no crash)") {
    import spark.implicits._
    val df = Seq(
      ("a", "d1", 10L), ("a", "d2", 10L),
      ("b", "d3", 0L), ("b", "d4", 0L)            // zero-token key
    ).toDF("k", "id", "tok")
    val plan = Sampling.unimaxPlan(df, "k", col("tok"), 100L, 4.0)
    val byKey = plan.map(p => p._1 -> p).toMap
    assert(byKey("b") == (("b", 0L, 0L, 0L)), byKey("b").toString)
    assert(byKey("a")._3 == 4L, "key a takes its full 4-epoch cap")
    val sampled = Sampling.unimaxSample(df, "k", "id", col("tok"), 100L, 4.0)
      .collect()
    assert(sampled.forall(_.getString(1) == "a"),
      "zero-capacity key must materialize no copies")
    assert(sampled.length == 8, s"2 docs x 4 epochs, got ${sampled.length}")
  }

  test("delta-format checkpoint carries baseRowId/defaultRowCommitVersion " +
      "(a DELTA reader of a log-cleaned rowTracking table keeps row ids)") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("r14-rt-ckpt")
    var t = DeltaTable.forPath(d).write(nation.limit(0))
      .setTableProperties(Map(graft.log.RowTracking.EnableKey -> "true"))
    t = t.write(nation.coalesce(1)).write(nation.coalesce(1))
    val n = nation.count()
    t.checkpoint()
    // leave ONLY the delta-format classic checkpoint: wipe the graft
    // checkpoint + pointer and every JSON commit — the view a foreign
    // delta reader (or a graft reader of a foreign-cleaned table) gets
    val log = new java.io.File(d, "_delta_log")
    log.listFiles().foreach { f =>
      if (f.getName.endsWith(".json") || f.getName.contains("graft")) f.delete()
    }
    val re = DeltaTable.forPath(d)
    assert(re.version == t.version)
    // before the r14 schema fix the typed emission DROPPED baseRowId and
    // this threw "live file(s) lack baseRowId"
    val ids = re.toDFWithRowIds(spark).select("_row_id").collect()
      .map(_.getLong(0))
    assert(ids.length == 2 * n && ids.distinct.length == ids.length)
    assert(ids.min == 0L && ids.max == 2 * n - 1)
    assert(graft.log.RowTracking.highWaterMark(re.dlog) == 2 * n - 1)
  }

  // ------------------------------------------------------------------
  // X212: metadata-only DELETE fast paths
  // ------------------------------------------------------------------

  test("TRUNCATE (no-predicate DELETE) is a zero-job pure log commit") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("r14-trunc")
    val t = DeltaTable.forPath(d).write(nation.repartition(3))
    val total = nation.count()
    var t1: DeltaTable = null
    val jobs = jobsDuring { t1 = t.delete(spark) }
    assert(jobs == 0, s"truncate launched $jobs Spark jobs; expected a pure log commit")
    assert(t1.toDF(spark).count() == 0L)
    val m = t1.history.head._2.operationMetrics
    assert(m("num_deleted_rows").asLong() == total)
    assert(m("num_removed_files").asLong() == 3L)
    assert(m("num_added_files").asLong() == 0L)
    // time travel still serves the pre-truncate rows (logical delete)
    assert(DeltaTable.forPath(d, version = Some(0L)).toDF(spark).count() == total)
  }

  test("partition-predicate DELETE drops whole files without opening them") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("r14-part-del")
    val t = DeltaTable.forPath(d)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
    val expectDeleted = nation.filter(col("n_regionkey") === 2).count()
    var t1: DeltaTable = null
    val jobs = jobsDuring {
      t1 = t.delete(spark, Some(col("n_regionkey") === 2))
    }
    assert(jobs == 0, s"partition delete launched $jobs jobs; expected metadata-only")
    val m = t1.history.head._2.operationMetrics
    assert(m("num_deleted_rows").asLong() == expectDeleted)
    assert(m("num_copied_rows").asLong() == 0L)
    assertSameRows(t1.toDF(spark), nation.filter(col("n_regionkey") =!= 2))
  }

  test("stats-range DELETE: provable files drop metadata-only, straddlers rewrite") {
    import spark.implicits._
    val d = tempDir("r14-range-del")
    // file A: keys 0..49 (max 49 < 50 → provably all-match under k < 50);
    // file B: keys 40..99 (straddles the cut → scanned and rewritten)
    var t = DeltaTable.forPath(d)
      .write((0 until 50).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    t = t.write((40 until 100).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    val adds = t.dlog.addActions.values.toSeq
    val provable = graft.sources.DataSkipping.provablyAllMatch(
      adds, col("k") < 50, t.schema, Seq.empty)
    assert(provable.size == 1, s"expected exactly file A provable, got ${provable.size}")
    val t1 = t.delete(spark, Some(col("k") < 50))
    val m = t1.history.head._2.operationMetrics
    assert(m("num_removed_files").asLong() == 2L)
    assert(m("num_deleted_rows").asLong() == 60L, m.toString) // 50 from A + 10 from B
    assert(m("num_copied_rows").asLong() == 50L)
    assertSameRows(t1.toDF(spark),
      (50 until 100).map(i => (i, s"b$i")).toDF("k", "v"))
  }

  test("CDF keeps exact delete rows: the fast path yields to cdc authority") {
    import spark.implicits._
    val d = tempDir("r14-cdf-del")
    var t = DeltaTable.forPath(d).write(
      (0 until 20).map(i => (i, i % 2)).toDF("k", "par").coalesce(1),
      partitionBy = Some(Seq("par")))
    t = t.setTableProperties(Map("delta.enableChangeDataFeed" -> "true"))
    val t1 = t.delete(spark, Some(col("par") === 1))
    val changes = t1.changesBetween(spark, t.version, t1.version)
    assert(changes.filter(col("_change_type") === "delete").count() == 10L,
      "cdf-on predicate delete must emit exact per-row delete changes")
    assert(changes.filter(col("_change_type") === "remove_file").count() == 0L)
    assertSameRows(t1.toDF(spark),
      (0 until 20).filter(_ % 2 == 0).map(i => (i, i % 2)).toDF("k", "par"))
  }

  test("merge-on-read DELETE removes provable files outright, zero jobs, feed-safe") {
    import spark.implicits._
    val d = tempDir("r14-mor-del")
    var t = DeltaTable.forPath(d).write(
      (0 until 30).map(i => (i, i % 3)).toDF("k", "par").coalesce(1),
      partitionBy = Some(Seq("par")))
    // the engine MoR entry point is called directly (no
    // delta.enableDeletionVectors property needed for graft-native DVs)
    t = t.setTableProperties(Map("delta.enableChangeDataFeed" -> "true"))
    val preVersion = t.version
    var t1: DeltaTable = null
    val jobs = jobsDuring {
      t1 = t.deleteMergeOnRead(spark, Some(col("par") === 2))
    }
    assert(jobs == 0, s"MoR partition delete launched $jobs jobs; expected metadata-only")
    val m = t1.history.head._2.operationMetrics
    assert(m("num_deleted_rows").asLong() == 10L)
    assertSameRows(t1.toDF(spark),
      (0 until 30).filter(_ % 3 != 2).map(i => (i, i % 3)).toDF("k", "par"))
    // CDF reconstruction: the MoR entry's removes surface as per-row
    // `delete` changes (q78's contract), not remove_file
    val changes = t1.changesBetween(spark, preVersion, t1.version)
    assert(changes.filter(col("_change_type") === "delete").count() == 10L)
    assert(changes.filter(col("_change_type") === "remove_file").count() == 0L)
  }

  // ------------------------------------------------------------------
  // X213: metadata-only aggregates (COUNT/MIN/MAX from log stats)
  // ------------------------------------------------------------------

  private def isMetadataOnly(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("COUNT/MIN/MAX over a graft scan answer from log stats, zero scan") {
    val d = tempDir("r14-meta-agg")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    DeltaTable.forPath(d).write(orders.repartition(4))
    val t = DeltaTable.forPath(d)
    val agg = t.toDF(sql).agg(
      count(lit(1)).as("cnt"), min(col("o_totalprice")).as("mn"),
      max(col("o_totalprice")).as("mx"), count(col("o_orderpriority")).as("cc"),
      min(col("o_orderdate")).as("md"))
    assert(isMetadataOnly(agg), agg.queryExecution.optimizedPlan.toString)
    val expect = orders.agg(count(lit(1)), min(col("o_totalprice")),
      max(col("o_totalprice")), count(col("o_orderpriority")),
      min(col("o_orderdate"))).collect().head
    assert(agg.collect().head == expect)
    // the escape hatch restores the scan
    sql.conf.set("spark.graft.metadataOnlyAggregates", "false")
    try assert(!isMetadataOnly(t.toDF(sql).agg(count(lit(1)))))
    finally sql.conf.unset("spark.graft.metadataOnlyAggregates")
  }

  test("metadata aggregate honors EXACT partition filters, falls back on straddlers") {
    val d = tempDir("r14-meta-agg-f")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    DeltaTable.forPath(d).write(nation, partitionBy = Some(Seq("n_regionkey")))
    val t = DeltaTable.forPath(d)
    val filtered = t.toDF(sql).filter(col("n_regionkey") === 2)
      .agg(count(lit(1)).as("cnt"), max(col("n_nationkey")).as("mx"))
    assert(isMetadataOnly(filtered), "partition filter must stay metadata-only")
    val expect = nation.filter(col("n_regionkey") === 2)
      .agg(count(lit(1)), max(col("n_nationkey"))).collect().head
    assert(filtered.collect().head == expect)
    // a data-column straddling predicate cannot split exactly → scan,
    // same answer
    val straddle = t.toDF(sql).filter(col("n_nationkey") > 7)
      .agg(count(lit(1)).as("cnt"))
    assert(!isMetadataOnly(straddle))
    assert(straddle.collect().head.getLong(0) ==
      nation.filter(col("n_nationkey") > 7).count())
  }

  test("metadata aggregate answers per-VERSION snapshots") {
    import spark.implicits._
    val d = tempDir("r14-meta-tt")
    var t = DeltaTable.forPath(d)
      .write((0 until 10).map(i => (i, i * 2)).toDF("k", "x"))
    t = t.write((10 until 25).map(i => (i, i * 2)).toDF("k", "x"))
    val v0 = DeltaTable.forPath(d, version = Some(0L)).toDF(sql)
      .agg(count(lit(1)).as("c"), max(col("k")).as("m"))
    assert(isMetadataOnly(v0))
    assert(v0.collect().head == org.apache.spark.sql.Row(10L, 9))
    val cur = DeltaTable.forPath(d).toDF(sql)
      .agg(count(lit(1)).as("c"), max(col("k")).as("m"))
    assert(isMetadataOnly(cur))
    assert(cur.collect().head == org.apache.spark.sql.Row(25L, 24))
  }

  test("GROUP BY partition column answers from the log (grouped metadata agg)") {
    val d = tempDir("r14-meta-grp")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    DeltaTable.forPath(d).write(nation, partitionBy = Some(Seq("n_regionkey")))
    val t = DeltaTable.forPath(d)
    val g = t.toDF(sql).groupBy("n_regionkey")
      .agg(count(lit(1)).as("cnt"), max(col("n_nationkey")).as("mx"))
    assert(isMetadataOnly(g), g.queryExecution.optimizedPlan.toString)
    assertSameRows(g, nation.groupBy("n_regionkey")
      .agg(count(lit(1)).as("cnt"), max(col("n_nationkey")).as("mx")))
    // exact partition filter composes with the grouping
    val gf = t.toDF(sql).filter(col("n_regionkey") =!= 2)
      .groupBy("n_regionkey").agg(count(lit(1)).as("cnt"))
    assert(isMetadataOnly(gf))
    assertSameRows(gf, nation.filter(col("n_regionkey") =!= 2)
      .groupBy("n_regionkey").agg(count(lit(1)).as("cnt")))
    // grouping by a DATA column cannot answer from the log
    assert(!isMetadataOnly(t.toDF(sql).groupBy("n_name")
      .agg(count(lit(1)).as("cnt"))))
  }

  test("metadata aggregate refuses unprovable shapes (DV, long strings)") {
    import spark.implicits._
    val d = tempDir("r14-meta-agg-dv")
    var t = DeltaTable.forPath(d)
      .write((0 until 100).map(i => (i, i.toString * 40)).toDF("k", "s").coalesce(1))
    // long strings: min/max stats are truncated → no metadata answer
    assert(!isMetadataOnly(t.toDF(sql).agg(max(col("s")))))
    // short strings: exact
    val d2 = tempDir("r14-meta-agg-s")
    DeltaTable.forPath(d2).write(Seq(("aa", 1), ("zz", 2)).toDF("s", "k"))
    val short = DeltaTable.forPath(d2).toDF(sql).agg(max(col("s")).as("mx"))
    assert(isMetadataOnly(short))
    assert(short.collect().head.getString(0) == "zz")
    // a DV'd table must not answer min/max (a dead row may hold the
    // extremum) — count still can, via cardinality subtraction, but the
    // DV anti-join shape already forces the scan; assert correctness
    t = t.deleteMergeOnRead(spark, Some(col("k") === 0))
    val cnt = t.toDF(sql).agg(count(lit(1))).collect().head.getLong(0)
    assert(cnt == 99L)
  }

  test("VARIANT columns: feature declared, no stats leaked, checkpoint round-trip") {
    import spark.implicits._
    val d = tempDir("r14-variant")
    val df = Seq((1, """{"a": 5, "b": "x"}"""), (2, """{"a": 7, "b": "y"}"""))
      .toDF("k", "js").select(col("k"), expr("parse_json(js)").as("v"))
    val t = DeltaTable.forPath(d).write(df)
    // schema serializes with delta's "variant" spelling; the readerWriter
    // feature is auto-declared (a feature-unaware reader would misread
    // the binary value/metadata encoding)
    assert(t.dlog.schema.json.contains("\"variant\""))
    val p = t.dlog.currentProtocol
    assert(graft.log.ProtocolGate.readerFeatures(p).contains("variantType"), p.toString)
    assert(graft.log.ProtocolGate.writerFeatures(p).contains("variantType"), p.toString)
    // variant columns carry NO stats — the shredded typed_value layout
    // must not leak into minValues/maxValues/nullCount
    val st = t.dlog.addActions.values.head.stats.get
    assert(!st.contains("typed_value") && !st.contains("\"v\""), st)
    assert(st.contains("\"k\""), st)
    // typed extraction works on scan and survives a checkpoint-only read
    def read(tt: DeltaTable) = tt.toDF(spark)
      .select(col("k"), expr("variant_get(v, '$.a', 'int')").as("a"),
        expr("variant_get(v, '$.b', 'string')").as("b"))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    assert(read(t) == Seq((1, 5, "x"), (2, 7, "y")))
    t.checkpoint()
    val log = new java.io.File(d, "_delta_log")
    log.listFiles().foreach(f => if (f.getName.endsWith(".json")) f.delete())
    assert(read(DeltaTable.forPath(d)) == Seq((1, 5, "x"), (2, 7, "y")))
  }

  // ------------------------------------------------------------------
  // X218: log compaction files (<start>.<end>.compacted.json)
  // ------------------------------------------------------------------

  test("log compaction: zero-anchored range serves a checkpointless open") {
    import spark.implicits._
    val d = tempDir("r14-logcompact")
    var t = DeltaTable.forPath(d)
      .write((0 until 10).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    t = t.write((10 until 20).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    t = t.delete(spark, Some(col("k") < 5))
    t = t.setTableProperties(Map("graft.note" -> "compacted"))
    t = t.write((20 until 25).map(i => (i, s"c$i")).toDF("k", "v").coalesce(1))
    assert(t.version == 4L)
    val expect = t.toDF(spark).collect().toSet
    t.compactLog(0, 3)
    val log = new java.io.File(d, "_delta_log")
    assert(log.listFiles().exists(_.getName.endsWith(".compacted.json")))
    // per-commit views keep raw granularity while raws remain
    assert(DeltaTable.forPath(d).history.size == 5)
    assert(DeltaTable.forPath(d, version = Some(1L)).toDF(spark).count() == 20L)
    // wipe the covered raw commits: the compaction alone must serve the
    // base state (plus the raw v4 tail) — proves the read path uses it
    (0L to 3L).foreach(v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(d,
        "_delta_log", f"$v%020d.json")))
    val re = DeltaTable.forPath(d)
    assert(re.version == 4L)
    assert(re.toDF(spark).collect().toSet == expect)
    assert(re.tableProperties.get("graft.note").contains("compacted"))
    // deleted rows stayed deleted (the remove tombstones survived)
    assert(re.toDF(spark).filter(col("k") < 5).count() == 0L)
  }

  test("log compaction: range above a checkpoint rides the tail replay; " +
      "cleanup expires covered compactions") {
    import spark.implicits._
    val d = tempDir("r14-logcompact-ck")
    var t = DeltaTable.forPath(d)
      .write((0 until 10).map(i => (i, i)).toDF("k", "p").coalesce(1))
    t.checkpoint() // checkpoint at v0
    t = t.write((10 until 20).map(i => (i, i)).toDF("k", "p").coalesce(1))
    t = t.delete(spark, Some(col("k") === 3)) // kills a v0 file row (rewrite)
    t = t.write((20 until 30).map(i => (i, i)).toDF("k", "p").coalesce(1))
    val expect = t.toDF(spark).collect().toSet
    t.compactLog(1, 3)
    // wipe the covered raws: checkpoint base + compaction must rebuild
    (1L to 3L).foreach(v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(d,
        "_delta_log", f"$v%020d.json")))
    val re = DeltaTable.forPath(d)
    assert(re.version == 3L)
    assert(re.toDF(spark).collect().toSet == expect)
    // a later checkpoint past the range expires the compaction at cleanup
    val t2 = DeltaTable.forPath(d)
      .write((30 until 35).map(i => (i, i)).toDF("k", "p").coalesce(1))
    t2.checkpoint()
    t2.cleanupLog()
    val names = new java.io.File(d, "_delta_log").listFiles().map(_.getName)
    assert(!names.exists(_.endsWith(".compacted.json")),
      names.filter(_.endsWith(".compacted.json")).mkString(","))
    assert(DeltaTable.forPath(d).toDF(spark).count() == expect.size + 5)
  }

  test("funnel report: exact per-stage accounting, null drops, one job") {
    import spark.implicits._
    import graft.operators.Funnel
    val df = Seq((1, 10), (2, 20), (3, 30), (4, 40)).toDF("id", "x")
      .withColumn("x", when(col("id") === 4, lit(null)).otherwise(col("x")))
    val stages = Seq(
      "ge20" -> (col("x") >= 20), // drops id=1 AND null id=4 (null = drop)
      "le20" -> (col("x") <= 20)) // of survivors {2,3}, drops 3
    var rows: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsDuring { rows = Funnel.report(df, stages).collect() }
    // one corpus pass (AQE may split the single aggregation into 2 jobs);
    // the naive per-stage loop would be >= stages+1 = 3
    assert(jobs <= 2, s"funnel must be ONE corpus pass, launched $jobs jobs")
    val got = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, "ge20", 4L, 2L, 2L), (2L, "le20", 2L, 1L, 1L),
      (3L, "TOTAL", 4L, 3L, 1L)), got.toString)
    assert(Funnel.survivors(df, stages).select("id").collect()
      .map(_.getInt(0)).toSeq == Seq(2))
  }

  test("auto log compaction: graft.logCompaction.interval writes aligned ranges") {
    import spark.implicits._
    val d = tempDir("r14-autocompact")
    var t = DeltaTable.forPath(d)
      .write(Seq((0, "a")).toDF("k", "v"))
      .setTableProperties(Map("graft.logCompaction.interval" -> "3"))
    (2 to 8).foreach(i => t = t.write(Seq((i, s"v$i")).toDF("k", "v")))
    assert(t.version == 8L)
    val names = new java.io.File(d, "_delta_log").listFiles().map(_.getName)
    val compacted = names.filter(_.endsWith(".compacted.json")).sorted
    // commits 0..8: windows ending at v2, v5 and v8 are aligned
    assert(compacted.toSeq == Seq(
      f"${0L}%020d.${2L}%020d.compacted.json",
      f"${3L}%020d.${5L}%020d.compacted.json",
      f"${6L}%020d.${8L}%020d.compacted.json"), compacted.mkString(","))
    // the compactions alone reconstruct the full state (wipe all raws)
    val expect = t.toDF(spark).collect().toSet
    names.filter(n => n.matches("^\\d+\\.json$")).foreach(n =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(d, "_delta_log", n)))
    val re = DeltaTable.forPath(d)
    assert(re.version == 8L)
    assert(re.toDF(spark).collect().toSet == expect)
  }

  test("VACUUM LITE parses as SQL and reclaims tombstones without listing") {
    import spark.implicits._
    val d = tempDir("r14-vac-lite")
    var t = DeltaTable.forPath(d).write(Seq((1, "a")).toDF("k", "v"))
    t = t.write(Seq((2, "b")).toDF("k", "v"),
      mode = graft.log.WriteMode.Overwrite)
    // a stray un-logged file: full vacuum (listing) would see it, LITE
    // must not touch it — the proof the lite path never lists the dir
    val stray = java.nio.file.Paths.get(d, "stray-not-in-log.parquet")
    java.nio.file.Files.writeString(stray, "not parquet")
    val removed = sql.sql(s"VACUUM '$d' LITE RETAIN 0 HOURS").collect()
      .map(_.getString(0))
    assert(removed.nonEmpty, "the overwritten file's tombstone must reclaim")
    assert(java.nio.file.Files.exists(stray),
      "LITE must not list (and so never touches) un-logged strays")
    assert(DeltaTable.forPath(d).toDF(spark).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("concurrent same-range compactLog: one valid file, no corruption") {
    import spark.implicits._
    val d = tempDir("r14-cc-compact")
    var t = DeltaTable.forPath(d).write(Seq((0, "a")).toDF("k", "v"))
    (1 to 5).foreach(i => t = t.write(Seq((i, s"v$i")).toDF("k", "v")))
    val ex = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map(_ => ex.submit(new Runnable {
        override def run(): Unit = DeltaTable.forPath(d).compactLog(0, 5)
      }))
      futs.foreach(_.get())
    } finally ex.shutdown()
    val names = new java.io.File(d, "_delta_log").listFiles().map(_.getName)
    assert(names.count(_.endsWith(".compacted.json")) == 1)
    val expect = t.toDF(spark).collect().toSet
    names.filter(_.matches("^\\d+\\.json$")).foreach(n =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(d, "_delta_log", n)))
    assert(DeltaTable.forPath(d).toDF(spark).collect().toSet == expect)
  }

  test("TRUNCATE TABLE parses as SQL and routes to the metadata-only delete") {
    val d = tempDir("r14-trunc-sql")
    DeltaTable.forPath(d).write(spark.read.parquet(s"$sfDir/region.parquet"))
    sql.sql(s"TRUNCATE TABLE '$d'")
    val t = DeltaTable.forPath(d)
    assert(t.version == 1L)
    assert(t.toDF(spark).count() == 0L)
    assert(t.history.head._2.operationMetrics("num_copied_rows").asLong() == 0L)
  }
}
