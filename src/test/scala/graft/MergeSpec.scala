package graft

import org.apache.spark.sql.functions._

class MergeSpec extends SparkSuite {

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("merge updates matched keys and inserts new ones") {
    val d = tempDir("merge")
    val t0 = DeltaTable.forPath(d).write(nation)
    // update region of nations 0-4; insert nations 100-102
    val updates = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_regionkey", lit(99))
    val inserts = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 100)
    val t1 = t0.merge(spark, updates.union(inserts), Seq("n_nationkey"))

    assert(t1.history.head._2.operation == "MERGE")
    val out = t1.toDF(spark)
    assert(out.count() == nation.count() + 3)
    assert(out.filter(col("n_nationkey") < 5 && col("n_regionkey") =!= 99).count() == 0)
    assert(out.filter(col("n_nationkey") >= 100).count() == 3)
    // unmatched rows untouched
    assertSameRows(out.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 100),
      nation.filter(col("n_nationkey") >= 5))
    // previous version still readable (copy-on-write)
    assertSameRows(t1.loadAsVersion(0L).toDF(spark), nation)
  }

  test("merge WHEN NOT MATCHED BY SOURCE deletes unmatched rows under the condition") {
    val d = tempDir("merge-nmbs")
    val t0 = DeltaTable.forPath(d).write(nation)
    // source carries nations 0-9 (updated name); unmatched nations in
    // region 2 are retired by the clause; other unmatched rows survive
    val src = nation.filter(col("n_nationkey") < 10)
      .withColumn("n_name", concat(lit("S-"), col("n_name")))
    val t1 = t0.merge(spark, src, Seq("n_nationkey"),
      notMatchedBySourceDelete = true,
      notMatchedBySourceCondition = Some(col("n_regionkey") === 2))
    val out = t1.toDF(spark)
    // matched rows replaced
    assert(out.filter(col("n_nationkey") < 10 && !col("n_name").startsWith("S-"))
      .count() == 0)
    // unmatched + condition → gone
    assert(out.filter(col("n_nationkey") >= 10 && col("n_regionkey") === 2)
      .count() == 0)
    // unmatched, condition false → byte-identical survivors
    assertSameRows(out.filter(col("n_nationkey") >= 10),
      nation.filter(col("n_nationkey") >= 10 && col("n_regionkey") =!= 2))
    // metrics: deleted rows reported separately from matched-row removal
    val m = t1.history.head._2.operationMetrics
    val expectedDeleted =
      nation.filter(col("n_nationkey") >= 10 && col("n_regionkey") === 2).count()
    assert(m("num_deleted_rows").asLong() == expectedDeleted)
    assert(m("num_updated_rows").asLong() == 10L)
    // previous version intact (copy-on-write)
    assertSameRows(t1.loadAsVersion(0L).toDF(spark), nation)
  }

  test("merge NMBS without condition syncs the table to the source key set") {
    val d = tempDir("merge-nmbs-full")
    val t0 = DeltaTable.forPath(d).write(nation)
    val src = nation.filter(col("n_nationkey") % 2 === 0)
    val t1 = t0.merge(spark, src, Seq("n_nationkey"),
      notMatchedBySourceDelete = true)
    // table now holds EXACTLY the source rows
    assertSameRows(t1.toDF(spark), src)
  }

  test("merge NMBS condition stats-prunes the widened touched set") {
    val d = tempDir("merge-nmbs-prune")
    val n = nation
    // two disjoint files by key range, written as separate commits
    var t = DeltaTable.forPath(d)
      .write(n.filter(col("n_nationkey") < 10).repartition(1))
    t = t.write(n.filter(col("n_nationkey") >= 10).repartition(1))
    val before = t.fileUris.toSet
    // source matches nothing; the clause condition only overlaps the
    // low-key file's stats range → the high-key file must not be rewritten
    val src = n.filter(col("n_nationkey") < 0)
    val t1 = t.merge(spark, src, Seq("n_nationkey"),
      notMatchedBySourceDelete = true,
      notMatchedBySourceCondition = Some(col("n_nationkey") <= 3))
    val after = t1.fileUris.toSet
    val kept = before.intersect(after)
    assert(kept.nonEmpty, "stats pruning should keep the untouched file as-is")
    assertSameRows(t1.toDF(spark), n.filter(col("n_nationkey") > 3))
  }

  test("SCD Type 2: change closes + reopens, unchanged is untouched, re-apply is a no-op") {
    import graft.operators.Scd
    val d = tempDir("scd2")
    val t0c = lit("2024-01-01 00:00:00")
    val t1c = lit("2024-03-01 00:00:00")
    var t = DeltaTable.forPath(d).write(Scd.scdType2Init(nation, t0c))
    // change region of nations 0-2; add nation 100; others unchanged
    val source = nation
      .withColumn("n_regionkey",
        when(col("n_nationkey") < 3, lit(9)).otherwise(col("n_regionkey")))
      .unionByName(nation.filter(col("n_nationkey") === 0)
        .withColumn("n_nationkey", lit(100)))
    t = Scd.scdType2Apply(spark, t, source,
      Seq("n_nationkey"), Seq("n_regionkey"), t1c)
    val out = t.toDF(spark)
    val n = nation.count()
    assert(out.count() == n + 3 + 1) // history rows for 3 changes + 1 new key
    // changed keys: one closed + one current
    val k0 = out.filter(col("n_nationkey") === 0).orderBy(col(Scd.ValidFrom))
      .collect()
    assert(k0.length == 2)
    assert(!k0(0).getAs[Boolean](Scd.IsCurrent) &&
      k0(0).getAs[java.time.LocalDateTime](Scd.ValidTo) != null)
    assert(k0(1).getAs[Boolean](Scd.IsCurrent) &&
      k0(1).isNullAt(k0(1).fieldIndex(Scd.ValidTo)))
    // unchanged key: exactly its original single row
    assert(out.filter(col("n_nationkey") === 10).count() == 1)
    // re-applying the SAME snapshot changes nothing (tracked cols equal)
    val t2 = Scd.scdType2Apply(spark, t, source,
      Seq("n_nationkey"), Seq("n_regionkey"), lit("2024-06-01 00:00:00"))
    assertSameRows(t2.toDF(spark), out)
  }

  test("merge metrics count updates, inserts, copies") {
    val d = tempDir("merge-metrics")
    val t0 = DeltaTable.forPath(d).write(nation)
    val src = nation.filter(col("n_nationkey") < 2)
      .withColumn("n_name", lit("RENAMED"))
    val t1 = t0.merge(spark, src, Seq("n_nationkey"))
    val m = t1.history.head._2.operationMetrics
    assert(m("num_updated_rows").asLong() == 2L)
    assert(m("num_inserted_rows").asLong() == 0L)
    assert(m("num_copied_rows").asLong() == nation.count() - 2)
  }

  test("merge evaluates the source plan once (cached), not once per job") {
    val d = tempDir("merge-once")
    val t0 = DeltaTable.forPath(d).write(nation)
    val evals = spark.sparkContext.longAccumulator("src-evals")
    val base = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", lit("SEEN"))
    val counted = spark.createDataFrame(
      base.rdd.map { r => evals.add(1L); r }, base.schema)
    val n = base.count()
    evals.reset()
    val t1 = t0.merge(spark, counted, Seq("n_nationkey"))
    assert(evals.value == n,
      s"source rows evaluated ${evals.value} times for $n rows; expected one pass")
    // the clause form too: SET on the matched keys, INSERT of the others
    val wide = base.union(nation.filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 100))
    val countedWide = spark.createDataFrame(
      wide.rdd.map { r => evals.add(1L); r }, wide.schema)
    val m = wide.count()
    evals.reset()
    val t2 = t1.mergeWhenMatchedUpdate(spark, countedWide, Seq("n_nationkey"),
      set = Map("n_name" -> col("s.n_name")),
      insertValues = Some(nation.columns.map(c => c -> col(s"s.$c")).toMap))
    assert(evals.value == m,
      s"clause-form source rows evaluated ${evals.value} times for $m rows; expected one pass")
    assert(t2.toDF(spark).count() == nation.count() + 3)
  }

  test("whole-row merge and its column-wise spelling commit the same rows and change feed") {
    val d = tempDir("merge-identity")
    DeltaTable.forPath(d).write(nation.repartition(3))
      .setTableProperties(Map("delta.enableChangeDataFeed" -> "true"))
    // five matched keys with new names and regions, three new keys
    val src = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", upper(concat(col("n_name"), lit("-m"))))
      .withColumn("n_regionkey", col("n_regionkey") + 10)
      .union(nation.filter(col("n_nationkey") < 3)
        .withColumn("n_nationkey", col("n_nationkey") + 100))
    val keys = Seq("n_nationkey")
    val whole = DeltaTable.forPath(copyToTemp(java.nio.file.Paths.get(d), "merge-whole"))
      .merge(spark, src, keys)
    val byColumn = DeltaTable.forPath(copyToTemp(java.nio.file.Paths.get(d), "merge-by-col"))
      .mergeWhenMatchedUpdate(spark, src, keys,
        set = nation.columns.filterNot(keys.contains).map(c => c -> col(s"s.$c")).toMap,
        insertValues = Some(nation.columns.map(c => c -> col(s"s.$c")).toMap))
    assertSameRows(byColumn.toDF(spark), whole.toDF(spark))
    val (mw, mc) = (whole.history.head._2.operationMetrics,
      byColumn.history.head._2.operationMetrics)
    Seq("num_updated_rows" -> 5L, "num_inserted_rows" -> 3L).foreach { case (k, n) =>
      assert(mw(k).asLong() == n && mc(k).asLong() == n, s"$k: merge $mw vs clauses $mc")
    }
    def feed(t: DeltaTable) =
      t.changesBetween(spark, t.version - 1, t.version)
    assert(feed(whole).count() == 13L) // 5 pre + 5 post + 3 inserts
    assertSameRows(feed(byColumn), feed(whole))
  }

  test("constraints gate the clause form: a violating SET or INSERT row commits nothing") {
    val d = tempDir("merge-ck-clauses")
    val t = DeltaTable.forPath(d).write(nation)
      .addConstraint(spark, "small_region", "n_regionkey < 10")
    val src = nation.filter(col("n_nationkey") < 3)
      .select(col("n_nationkey"), lit(99).as("reg"))
    val ex1 = intercept[IllegalArgumentException](
      t.mergeWhenMatchedUpdate(spark, src, Seq("n_nationkey"),
        set = Map("n_regionkey" -> col("s.reg"))))
    assert(ex1.getMessage.contains("small_region"), ex1.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      t.mergeWhenMatchedUpdate(spark, src.withColumn("n_nationkey", col("n_nationkey") + 100),
        Seq("n_nationkey"), Map.empty,
        insertValues = Some(Map("n_name" -> lit("new"), "n_regionkey" -> col("s.reg")))))
    assert(ex2.getMessage.contains("small_region"), ex2.getMessage)
    val after = DeltaTable.forPath(d)
    assert(after.version == t.version, "a rejected merge must not commit")
    assertSameRows(after.toDF(spark), nation)
  }

  test("merge metrics stay sane when the target has duplicate rows per key") {
    val d = tempDir("merge-dup-target")
    // target holds every nation row TWICE (duplicate keys are legal there)
    val t0 = DeltaTable.forPath(d).write(nation.union(nation))
    val src = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_name", lit("UPS"))
    val t1 = t0.merge(spark, src, Seq("n_nationkey"))
    val m = t1.history.head._2.operationMetrics
    // 3 source keys matched; rows-based counting would report 6 updates
    // and numInserted = 3 - 6 = -3
    assert(m("num_updated_rows").asLong() == 3L)
    assert(m("num_inserted_rows").asLong() == 0L)
    // both duplicates of each matched key are replaced by ONE source row
    val out = t1.toDF(spark)
    assert(out.filter(col("n_nationkey") < 3).count() == 3)
    assert(out.count() == nation.count() * 2 - 3)
  }

  test("clause merge: SET on matched rows, untouched files kept, CDF pre/post exact") {
    val d = tempDir("merge-set")
    // two disjoint files; source touches only the low-key file
    var t = DeltaTable.forPath(d)
      .write(nation.filter(col("n_nationkey") < 10).repartition(1))
    t = t.write(nation.filter(col("n_nationkey") >= 10).repartition(1))
    t = t.setTableProperties(Map("delta.enableChangeDataFeed" -> "true"))
    val before = t.fileUris.toSet
    val src = nation.filter(col("n_nationkey") < 5)
      .select(col("n_nationkey"), lit(7).as("bump"))
    val t1 = t.mergeWhenMatchedUpdate(spark, src, Seq("n_nationkey"),
      set = Map("n_regionkey" -> (col("t.n_regionkey") + col("s.bump"))))
    // only the touched file rewritten
    assert(t1.fileUris.toSet.intersect(before).nonEmpty)
    val out = t1.toDF(spark)
    assertSameRows(out,
      nation.withColumn("n_regionkey",
        when(col("n_nationkey") < 5, col("n_regionkey") + 7)
          .otherwise(col("n_regionkey"))))
    val m = t1.history.head._2.operationMetrics
    assert(m("num_updated_rows").asLong() == 5L)
    assert(m("num_inserted_rows").asLong() == 0L)
    // CDF: exactly 5 pre + 5 post rows
    val changes = t1.changesBetween(spark, t1.version - 1, t1.version)
    assert(changes.filter(col("_change_type") === "update_preimage").count() == 5)
    assert(changes.filter(col("_change_type") === "update_postimage")
      .filter(col("n_regionkey") >= 7).count() == 5)
    // SET touching a key is rejected
    intercept[IllegalArgumentException](
      t1.mergeWhenMatchedUpdate(spark, src, Seq("n_nationkey"),
        set = Map("n_nationkey" -> lit(0))))
  }

  test("clause merge whenMatchedDelete: condition-gated removal with exact CDF") {
    val d = tempDir("merge-matched-del")
    var t = DeltaTable.forPath(d).write(nation)
      .setTableProperties(Map("delta.enableChangeDataFeed" -> "true"))
    // source marks nations 0-9; region-2 matches are DELETED, others bumped
    val src = nation.filter(col("n_nationkey") < 10)
      .select(col("n_nationkey"), lit(5).as("bump"))
    val t1 = t.mergeWhenMatchedUpdate(spark, src, Seq("n_nationkey"),
      set = Map("n_regionkey" -> (col("t.n_regionkey") + col("s.bump"))),
      matchedDeleteCondition = Some(col("t.n_regionkey") === 2))
    val expected = nation
      .filter(!(col("n_nationkey") < 10 && col("n_regionkey") === 2))
      .withColumn("n_regionkey",
        when(col("n_nationkey") < 10, col("n_regionkey") + 5)
          .otherwise(col("n_regionkey")))
    assertSameRows(t1.toDF(spark), expected)
    val deleted = nation
      .filter(col("n_nationkey") < 10 && col("n_regionkey") === 2).count()
    assert(t1.history.head._2.operationMetrics("num_deleted_rows").asLong() == deleted)
    val ch = t1.changesBetween(spark, t1.version - 1, t1.version)
    assert(ch.filter(col("_change_type") === "delete").count() == deleted)
    assert(ch.filter(col("_change_type") === "update_preimage").count() == 10 - deleted)
    assert(ch.filter(col("_change_type") === "update_postimage").count() == 10 - deleted)
  }

  test("merge phase-1 prunes candidate files by the source key range") {
    val d = tempDir("merge-prune-range")
    var t = DeltaTable.forPath(d)
      .write(nation.filter(col("n_nationkey") < 10).repartition(1))
    t = t.write(nation.filter(col("n_nationkey") >= 10).repartition(1))
    // bounded-key source: only the low-range file can own matches
    val lowSrc = nation.filter(col("n_nationkey") < 5)
      .select(col("n_nationkey"), col("n_name"))
    assert(t.mergeCandidateAdds(spark, lowSrc, Seq("n_nationkey")).size == 1)
    // full-range source: both files
    assert(t.mergeCandidateAdds(spark, nation, Seq("n_nationkey")).size == 2)
    // multi-key or empty source: conservative full set
    assert(t.mergeCandidateAdds(spark, nation,
      Seq("n_nationkey", "n_regionkey")).size == 2)
    assert(t.mergeCandidateAdds(spark,
      nation.filter(lit(false)), Seq("n_nationkey")).size == 2)
    // string keys prune too (stats carry string min/max)
    val dn = tempDir("merge-prune-str")
    var tn = DeltaTable.forPath(dn)
      .write(nation.filter(col("n_name") < "NATION_3").repartition(1))
    tn = tn.write(nation.filter(col("n_name") >= "NATION_3").repartition(1))
    val strSrc = nation.filter(col("n_name") < "NATION_1")
    assert(tn.mergeCandidateAdds(spark, strSrc, Seq("n_name")).size == 1)
    // end-to-end: the pruned merge still produces the right table
    val t1 = t.merge(spark, nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", lit("LOW")), Seq("n_nationkey"))
    assert(t1.toDF(spark).filter(col("n_name") === "LOW").count() == 5)
    assert(t1.history.head._2.operationMetrics("num_updated_rows").asLong() == 5L)
  }

  test("merge rejects duplicate source keys") {
    val d = tempDir("merge-dup")
    val t0 = DeltaTable.forPath(d).write(nation)
    intercept[IllegalArgumentException] {
      t0.merge(spark, nation.union(nation), Seq("n_nationkey"))
    }
  }

  test("append write retries through a commit conflict") {
    val d = tempDir("retry")
    DeltaTable.forPath(d).write(nation)
    val a = DeltaTable.forPath(d)
    val b = DeltaTable.forPath(d)
    a.write(nation) // commits v1; b's snapshot is now stale
    val t = b.write(nation, maxRetries = 3)
    assert(t.version == 2L)
    assert(DeltaTable.forPath(d).toDF(spark).count() == nation.count() * 3)
  }
}
