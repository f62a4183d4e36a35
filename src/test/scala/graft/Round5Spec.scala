package graft

import graft.log.{Checkpoint, DeltaLog, DeltaLogEntry, Txn}
import graft.operators.{Decontaminate, Packing, Sampling, Temporal, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-5 advisor regressions: cache hygiene on rejected writes,
  * SetTransaction last-writer-wins, replaceWhere nullability tightening,
  * NULL-key as-of join semantics, and the MinHash band keys pinned to
  * `min(xxhash64(_s, i))` columns.
  */
class Round5Spec extends SparkSuite {
  import spark.implicits._

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("a constraint-rejected write leaves the batch uncached") {
    val d = tempDir("leak")
    val t = DeltaTable.forPath(d).write(nation)
      .addConstraint(spark, "positive_key", "n_nationkey >= 0")
    val bad = nation.withColumn("n_nationkey", lit(-1))
    assertThrows[IllegalArgumentException](t.write(bad))
    assert(bad.storageLevel == StorageLevel.NONE,
      "rejected batch must not stay pinned in executor memory")
    // and an accepted write is also left uncached
    val good = nation.withColumn("n_nationkey", col("n_nationkey") + 100)
    t.write(good)
    assert(good.storageLevel == StorageLevel.NONE)
  }

  test("txn watermark is last-writer-wins, before AND after a checkpoint") {
    val d = tempDir("txn-lww")
    val t = DeltaTable.forPath(d).writeWithTxn(nation, "app", 5L)
    assert(t.dlog.latestTxnVersion("app").contains(5L))
    // an external writer records a LOWER version after the higher one:
    // Delta's SetTransaction replay keeps the last in commit order, not
    // the max — the watermark must reset to 3
    val lowered = t.dlog.commit(DeltaLogEntry(Vector(Txn("app", 3L))), t.commitContext)
    assert(lowered.latestTxnVersion("app").contains(3L))
    // the checkpoint snapshot must preserve the same decision
    Checkpoint.write(lowered, t.conf)
    val fromCkpt = Checkpoint.loadFrom(t.logLoc, t.conf)
      .getOrElse(fail("checkpoint did not load"))
    assert(fromCkpt.entries.firstKey > 0L, "expected a checkpoint-based log")
    assert(fromCkpt.latestTxnVersion("app").contains(3L),
      "skip decision changed across a checkpoint")
    // batch 4 is admitted again (5 was superseded by the external reset)
    val replayed = DeltaTable.forPath(d).writeWithTxn(nation, "app", 4L)
    assert(replayed.dlog.latestTxnVersion("app").contains(4L))
  }

  test("replaceWhere rejects nulls aimed at a non-nullable table column") {
    val d = tempDir("rw-null")
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    assert(!base.schema("id").nullable)
    val t = DeltaTable.forPath(d).write(base)
    // nullable-declared AND actually null: must be rejected
    val withNull = Seq((Some(1), "x"), (None: Option[Int], "y"))
      .toDF("id", "v")
    assertThrows[IllegalArgumentException](
      t.replaceWhere(spark, lit(true), withNull))
    // nullable-declared but provably null-free: tightening is fine
    val nullFree = Seq((Some(7), "x"), (Some(8), "y")).toDF("id", "v")
    val replaced = t.replaceWhere(spark, lit(true), nullFree)
    assertSameRows(replaced.toDF(spark), nullFree.toDF("id", "v"))
  }

  test("MinHashAgg is bit-identical to the min(xxhash64(_s, i)) columns") {
    // the pin kept its name when MinHashBands replaced the MinHashAgg
    // aggregate: the band keys fold the same per-hash minima
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graftshim.ColumnShim
    def bandsVsColumns(tok: DataFrame, numHashes: Int, bands: Int): Unit = {
      val rows = numHashes / bands
      val viaExpr = tok.groupBy("_id").agg(collect_list(col("_s")).as("_sh"))
        .select(col("_id"), posexplode(ColumnShim.column(graft.functions.MinHashBands(
          ColumnShim.expression(col("_sh")), numHashes, bands))))
      val minCols = (0 until numHashes).map(i => min(xxhash64(col("_s"), lit(i))).as(s"_m$i"))
      val viaCols = tok.groupBy("_id").agg(minCols.head, minCols.tail: _*)
        .select(col("_id"), posexplode(array((0 until bands).map(b =>
          xxhash64((b * rows until (b + 1) * rows).map(i => col(s"_m$i")): _*)): _*)))
      assertSameRows(viaExpr, viaCols)
    }
    val tok = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("_id"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("_t"))
      .select(col("_id"), xxhash64(col("_t")).as("_s"))
    bandsVsColumns(tok, 64, 16)
    bandsVsColumns(tok, 8, 8)

    // null elements too: XxHash64 skips null children, so a null
    // contributes hashInt(i, seed) exactly like the column form
    // (collect_list drops nulls, so these arrays are built directly)
    val withNulls = Seq((1L, Some(7L)), (1L, None), (2L, None)).toDF("_id", "_s")
    val arrays = Seq((1L, Seq(Some(7L), None)), (2L, Seq(None))).toDF("_id", "_sh")
    val nExpr = arrays.select(col("_id"), posexplode(ColumnShim.column(
      graft.functions.MinHashBands(ColumnShim.expression(col("_sh")), 8, 2))))
    val nMin = (0 until 8).map(i => min(xxhash64(col("_s"), lit(i))).as(s"_m$i"))
    val nCols = withNulls.groupBy("_id").agg(nMin.head, nMin.tail: _*)
      .select(col("_id"), posexplode(array((0 until 2).map(b =>
        xxhash64((b * 4 until (b + 1) * 4).map(i => col(s"_m$i")): _*)): _*)))
    assertSameRows(nExpr, nCols)

    // the interpreted path agrees with the generated one; an empty set
    // has no bands (the explode dropped it), a null array is null
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def interpreted(xs: Seq[java.lang.Long]) =
      graft.functions.MinHashBands(Literal.create(xs, ArrayType(LongType)), 8, 2).eval()
    val gen = nExpr.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val interp = interpreted(Seq(7L, null)).asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(interp.toSeq == Seq(gen((1L, 0)), gen((1L, 1))))
    assert(interpreted(Seq.empty).asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 0)
    assert(interpreted(null) == null)
  }

  test("asOfJoin never matches NULL keys (SQL join semantics)") {
    val left = Seq((Some(1L), "2024-01-01 10:00:00", "keyed"),
        (None: Option[Long], "2024-01-01 10:00:00", "nullkey"))
      .toDF("k", "t", "tag").withColumn("t", col("t").cast("timestamp_ntz"))
    val right = Seq((Some(1L), "2024-01-01 09:00:00", 10.0),
        (None: Option[Long], "2024-01-01 09:00:00", 999.0))
      .toDF("k", "t", "price").withColumn("t", col("t").cast("timestamp_ntz"))
    val out = Temporal.asOfJoin(left, right, Seq("k"), "t", "t", Seq("price"))
      .select("tag", "asof_price").as[(String, Option[Double])].collect().toMap
    assert(out("keyed").contains(10.0))
    assert(out("nullkey").isEmpty,
      "a NULL-keyed left row must not pick up NULL-keyed right values")
  }
}

/** Training-pipeline operators added in round 5: decontamination, sequence
  * packing, mixture sampling, repetition signals.
  */
class TrainingPipelineSpec extends SparkSuite {
  import spark.implicits._

  test("flagOverlap flags exactly the docs sharing a trigram with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),       // shares 'the quick brown' etc.
      (2L, "totally unrelated words here now"),
      (3L, "slow red fox jumps high")          // no 3-gram overlap
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "we saw the quick brown fox yesterday"))
      .toDF("doc_id", "text")
    val out = Decontaminate.flagOverlap(corpus, bench, "doc_id", "text")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((2L, true))) // 'the quick brown' and 'quick brown fox'
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
  }

  test("packChunked lays docs end to end and cuts at the budget") {
    val docs = Seq((1L, 100), (2L, 100), (3L, 100)).toDF("doc_id", "n")
    val out = Packing.packChunked(docs, "doc_id", col("n"), budget = 128,
        numShards = 1)
      .select("doc_id", "start_offset", "pack_first", "pack_last")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 0L, 0L, 0L)))
    assert(out(1) == ((2L, 100L, 0L, 1L))) // straddles the first boundary
    assert(out(2) == ((3L, 200L, 1L, 2L)))
  }

  test("packChunked shards are independent contiguous streams") {
    val docs = (0L until 200L).map(i => (i, 10 + (i % 7).toInt)).toDF("doc_id", "n")
    val out = Packing.packChunked(docs, "doc_id", col("n"), budget = 64, numShards = 4)
    // within each shard, offsets are the exclusive prefix sum in id order
    val rows = out.select("shard", "doc_id", "n_tokens", "start_offset")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).values
    rows.foreach { shard =>
      var expected = 0L
      shard.sortBy(_._2).foreach { case (_, _, n, off) =>
        assert(off == expected, "offsets must be contiguous per shard")
        expected += n
      }
    }
  }

  test("mixtureSample drops unweighted classes and caps tiny ones at 100%") {
    val df = (0L until 300L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val kept = Sampling.mixtureSample(df, "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.5), totalTarget = 500L)
    val bySrc = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(!bySrc.contains("src2"), "unweighted class must be dropped")
    // target 250 per class > 100 available: cap keeps everything
    assert(bySrc("src0") == 100L && bySrc("src1") == 100L)
    // sub-sampling is deterministic and a subset of the corpus
    val sub = Sampling.mixtureSample(df, "doc_id", "source",
      Map("src0" -> 1.0), totalTarget = 40L)
    val ids1 = sub.select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.mixtureSample(df, "doc_id", "source",
      Map("src0" -> 1.0), totalTarget = 40L).select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2 && ids1.nonEmpty && ids1.size < 100)
  }

  test("repetitionSignals on a fully-repetitive doc") {
    val df = Seq((1L, "a a a a"), (2L, "w x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    // 'a a a a': 4 tokens, 1 distinct, top share 1.0; trigrams 2 total 1 distinct
    assert(out(0) == ((1L, 4L, 0.25, 1.0, 0.5)))
    // all-distinct doc: ratios 0.25-free, zero duplication
    assert(out(1) == ((2L, 4L, 1.0, 0.25, 0.0)))
  }
}
