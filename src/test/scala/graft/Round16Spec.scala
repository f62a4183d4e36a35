package graft

import org.apache.spark.sql.functions._

/** r14 optimization-round pins: the changed operator internals keep
  * their exact outputs and the removed work stays removed.
  *
  *  - DELETE's numDeleted metric now derives from log stats minus DV
  *    cardinality (liveRowCount) instead of a count() scan of the
  *    touched files — pinned against a hand-counted DV'd fixture AND
  *    by job count on a clean rewrite delete.
  *  - merge()'s phase-1 candidate pruning now rides the fused source
  *    aggregation — pinned by checking an out-of-range file is not
  *    rewritten.
  */
class Round16Spec extends SparkSuite {
  import spark.implicits._

  test("CoW DELETE over DV'd files reports exact numDeleted from log stats") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("r16-dv-del")
    var t = DeltaTable.forPath(d).write(nation.repartition(2))
    // kill keys < 5 merge-on-read first: the touched files now carry DVs,
    // so the stats-derived live total MUST subtract DV cardinality
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 5))
    val already = nation.filter(col("n_nationkey") < 5).count()
    val expect = nation.filter(col("n_nationkey") < 10).count() - already
    t = t.delete(spark, Some(col("n_nationkey") < 10))
    val m = t.history.head._2.operationMetrics
    assert(m("num_deleted_rows").asLong() == expect,
      s"expected $expect, metrics: $m")
    assertSameRows(t.toDF(spark), nation.filter(col("n_nationkey") >= 10))
  }

  test("clean rewrite DELETE runs phase-1 scan + write only (no count job)") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("r16-del-jobs")
    val t = DeltaTable.forPath(d)
      .write(nation.repartitionByRange(2, col("n_nationkey")))
    var t1: DeltaTable = null
    val jobs = jobsDuring {
      // straddling predicate: stats cannot prove all-match, so a real
      // phase-1 scan and a phase-2 rewrite both run — and nothing else
      t1 = t.delete(spark, Some(col("n_nationkey") % 2 === 1))
    }
    // phase-1's distinct exchange costs 2 AQE jobs, the rewrite 1; the
    // pre-r14 metric count scan would add a 4th
    assert(jobs <= 3, s"delete ran $jobs jobs; expected phase-1 + write only")
    val odd = nation.filter(col("n_nationkey") % 2 === 1).count()
    assert(t1.history.head._2.operationMetrics("num_deleted_rows").asLong() == odd)
    assertSameRows(t1.toDF(spark), nation.filter(col("n_nationkey") % 2 === 0))
  }

  test("merge phase-1 prunes by the fused source key bounds") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("r16-merge-prune")
    val t = DeltaTable.forPath(d)
      .write(nation.repartitionByRange(2, col("n_nationkey")))
    val before = t.fileUris.toSet
    assert(before.size == 2)
    // source touches only the low key range: the high-range file must
    // survive the merge UNREWRITTEN (bounds from the fused aggregation
    // prune it out of phase 1 entirely)
    val src = nation.filter(col("n_nationkey") < 3)
      .withColumn("n_name", lit("updated"))
    val t1 = t.merge(spark, src, Seq("n_nationkey"))
    val after = t1.fileUris.toSet
    val survivors = before.intersect(after)
    assert(survivors.size == 1,
      s"expected the out-of-range file to survive: before=$before after=$after")
    assertSameRows(t1.toDF(spark).filter(col("n_nationkey") >= 3)
        .select("n_nationkey", "n_name"),
      nation.filter(col("n_nationkey") >= 3).select("n_nationkey", "n_name"))
    assert(t1.toDF(spark).filter(col("n_name") === "updated").count() ==
      nation.filter(col("n_nationkey") < 3).count())
  }
}
