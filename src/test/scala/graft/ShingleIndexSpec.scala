package graft

import graft.operators.{Decontaminate, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shingle path: linear n-gram windows, the shingle-hash index shared
  * by the MinHash and n-gram pair operators, and the row-local MinHash band
  * keys ([[graft.functions.MinHashBands]], pinned in `Round5Spec`). Identity
  * specs compare against reference formulations written here: windows that
  * re-split the text per window, and signatures from explode +
  * `min(xxhash64(_s, i))` aggregates.
  */
class ShingleIndexSpec extends SparkSuite {
  import spark.implicits._

  // --- reference formulations ---------------------------------------------

  private def refTokens(text: Column): Column = split(lower(text), " ")

  // every window lambda references the token expression itself
  private def refWindowed(tokensCol: Column, n: Int, f: Column => Column,
      empty: Column): Column =
    when(size(tokensCol) >= n,
      array_distinct(transform(sequence(lit(0), size(tokensCol) - n),
        i => f(slice(tokensCol, i + lit(1), lit(n))))))
      .otherwise(empty)

  private def refShingles(text: Column, n: Int): Column =
    refWindowed(refTokens(text), n, w => concat_ws(" ", w), array().cast("array<string>"))

  private def refMinHashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    val sh = df.select(col(idCol).as("_id"),
      transform(refShingles(col(textCol), 3), s => xxhash64(s)).as("_sh"))
    val mins = (0 until numHashes).map(i => min(xxhash64(col("_s"), lit(i))).as(s"_m$i"))
    val sig = sh.select(col("_id"), explode(col("_sh")).as("_s"))
      .groupBy("_id").agg(mins.head, mins.tail: _*)
    val banded = sig.select(col("_id"), posexplode(array((0 until bands).map(b =>
        xxhash64((b * rows until (b + 1) * rows).map(i => col(s"_m$i")): _*)): _*)))
      .toDF("_id", "_band", "_bucket")
    banded.as("x").join(banded.as("y"), col("x._band") === col("y._band") &&
        col("x._bucket") === col("y._bucket") && col("x._id") < col("y._id"))
      .select(col("x._id").as("a"), col("y._id").as("b")).distinct()
      .join(sh.select(col("_id").as("a"), col("_sh").as("_sha")), "a")
      .join(sh.select(col("_id").as("b"), col("_sh").as("_shb")), "b")
      .withColumn("_i", size(array_intersect(col("_sha"), col("_shb"))).cast("long"))
      .withColumn("jaccard", col("_i") / (size(col("_sha")) + size(col("_shb")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // --- corpus ---------------------------------------------------------------

  /** sf documents, near copies of some (last word dropped), and the edge
    * cases: null, empty, fewer than n tokens, exactly n tokens, repeated
    * windows, mixed case.
    */
  private def corpus: DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val near = docs.filter(col("doc_id") < 30).select((col("doc_id") + 100000L).as("doc_id"),
      regexp_replace(col("text"), " \\S+$", "").as("text"))
    val edge = Seq[(Long, String)](
      (200001L, null), (200002L, ""), (200003L, "one"), (200004L, "one two"),
      (200005L, "x y z"), (200006L, "x y z"), (200007L, "a b a b a b a b a b"),
      (200008L, "a b a b a b a b a b a"), (200009L, "Alpha BETA gamma Delta epsilon"),
      (200010L, "alpha beta GAMMA delta EPSILON"), (200011L, "  double  spaces  here  "),
      (200012L, "the the the the the the the")).toDF("doc_id", "text")
    docs.union(near).union(edge)
  }

  // --- identity -------------------------------------------------------------

  test("windowed operators equal the per-window re-split formulation") {
    val df = corpus
    for (n <- 1 to 5)
      assertSameRows(
        df.select(col("doc_id"), TextAnalysis.shingles(TextAnalysis.tokens(col("text")), n).as("s")),
        df.select(col("doc_id"), refShingles(col("text"), n).as("s")))

    // duplicatePassages (k = 5) over the reference window hashes
    val w = df.select(col("doc_id"), explode(refWindowed(refTokens(col("text")), 5,
      x => xxhash64(x), array().cast("array<bigint>"))).as("_w"))
    val freq = w.groupBy("_w").agg(count(lit(1)).as("_f"))
    val refDup = w.join(freq, "_w").groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(when(col("_f") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio", round(col("n_dup_windows") / col("n_windows"), 4))
    assertSameRows(TextAnalysis.duplicatePassages(df, "doc_id", "text", 5), refDup)

    val ts = refTokens(col("text"))
    assertSameRows(TextAnalysis.fingerprint(df, "doc_id", "text"),
      df.select(col("doc_id"), md5(concat_ws(" ", ts).cast("binary")).as("canonical_md5"),
        array_min(transform(refShingles(col("text"), 3), s => md5(s.cast("binary"))))
          .as("min_shingle_md5")))

    val ntri = greatest(size(ts) - 2, lit(0))
    assertSameRows(
      TextAnalysis.repetitionSignals(df, "doc_id", "text").select("doc_id", "dup_trigram_ratio"),
      df.filter(size(ts) > 0).select(col("doc_id"),
        when(ntri > 0, round(lit(1) - size(refShingles(col("text"), 3)) / ntri.cast("double"), 4))
          .otherwise(lit(0.0)).as("dup_trigram_ratio")))

    val bench = df.filter(col("doc_id") % 7 === 0 || col("doc_id") >= 200000L)
    def hashes(d: DataFrame) = d.select(col("doc_id").as("_id"),
      explode(refShingles(col("text"), 3)).as("_s0")).select(col("_id"), xxhash64(col("_s0")).as("_s"))
    val matched = hashes(df).join(hashes(bench).select("_s").distinct(), "_s")
      .groupBy("_id").agg(count(lit(1)).as("_n"))
    assertSameRows(Decontaminate.flagOverlap(df, bench, "doc_id", "text"),
      df.select("doc_id").join(matched, col("doc_id") === col("_id"), "left")
        .select(col("doc_id"), coalesce(col("_n"), lit(0L)).as("n_matched_ngrams"),
          col("_n").isNotNull.as("contaminated")))
  }

  test("MinHash pairs equal explode + min(xxhash64(_s, i)) columns + xxhash64 per band") {
    val df = corpus
    for (t <- Seq(0.8, 0.3)) {
      val got = Dedup.minHashLshPairs(df, "doc_id", "text", threshold = t)
      val want = refMinHashPairs(df, "doc_id", "text", t)
      assert(want.count() > 30, s"reference found too few pairs at $t")
      assertSameRows(got, want)
    }
    // struct ids, intra- and cross-document paragraphs, empty and short ones
    val docs = df.filter(col("doc_id") < 12)
    val boiler = docs.filter(col("doc_id") === 7).head().getString(1)
    val composed = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat_ws("\n\n", col("text"), lit(boiler)))
        .when(col("doc_id") % 3 === 1, concat_ws("\n\n", lit("a b"), lit(boiler), lit("\n\n")))
        .otherwise(concat_ws("\n\n", lit(boiler), lit("x y z"), lit(boiler))).as("text"))
    val paras = composed.select(col("doc_id").as("_doc"), posexplode(split(col("text"), "\n\\s*\n")))
      .select(struct(col("_doc").as("doc"), col("pos").as("para")).as("_pid"), trim(col("col")).as("_ptxt"))
      .filter(length(col("_ptxt")) > 0)
    val want = refMinHashPairs(paras, "_pid", "_ptxt", 0.8)
      .select(col("a.doc").as("a_doc"), col("a.para").as("a_para"),
        col("b.doc").as("b_doc"), col("b.para").as("b_para"), col("jaccard"))
    assert(want.count() > 10)
    assertSameRows(Dedup.paragraphMinHashPairs(composed, "doc_id", "text"), want)
  }

  // --- structure --------------------------------------------------------------

  test("shingle windows bind the token array once: no lower or split inside a lambda") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Lower, StringSplit}
    val plan = Seq("a b c d").toDF("text")
      .select(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3))
      .queryExecution.analyzed
    val lambdas = plan.expressions.flatMap(_.collect { case l: LambdaFunction => l })
    assert(lambdas.nonEmpty)
    for (l <- lambdas)
      assert(l.function.collect { case e @ (_: Lower | _: StringSplit) => e }.isEmpty,
        s"lambda re-tokenizes the text: $l")
  }

  test("MinHash then n-gram pairs on one frame cache one shingle-hash index; release frees it") {
    val sc = spark.sparkContext
    Dedup.releasePersistedIndexes() // drain prior suites' entries
    val docs = corpus.filter(col("doc_id") < 40 || col("doc_id") >= 100000L)
    val before = sc.getPersistentRDDs.keySet
    val mh = Dedup.minHashLshPairs(docs, "doc_id", "text").collect().toSet
    val ng = Dedup.ngramJaccardPairs(docs, "doc_id", "text").collect().toSet
    assert(mh.nonEmpty && ng.nonEmpty)
    val index = Dedup.shingleHashes(docs, "doc_id", "text", 3)
    assert(index.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    // the shared index and the n-gram postings, nothing else
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 2, s"expected index + postings, got ${added.size} new persisted RDDs")
    assert(Dedup.releasePersistedIndexes() == 2)
    assert(index.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert((sc.getPersistentRDDs.keySet & added).isEmpty)
  }

  test("minHashLshPairs executes without an aggregate over its signature") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other                    => other.children
    }).flatMap(flatten)
    val r = Dedup.minHashLshPairs(corpus, "doc_id", "text")
    r.collect()
    val plans = flatten(r.queryExecution.executedPlan)
    assert(plans.exists(_.isInstanceOf[InMemoryTableScanExec]))
    assert(!plans.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      "the signature is aggregated instead of computed in the row")
    Dedup.releasePersistedIndexes()
  }

  test("connectedComponents leaves only its returned labels persisted, on both paths") {
    val sc = spark.sparkContext
    val chain = spark.range(0, 2000).select(col("id").as("a"), (col("id") + 1).as("b"))
    for (small <- Seq(1L << 20, 0L)) {
      val before = sc.getPersistentRDDs.keySet
      val labels = Dedup.connectedComponents(chain, smallGraphEdges = small)
      val added = sc.getPersistentRDDs.keySet -- before
      val labelRdd = labels.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      // the driver path returns a local relation: nothing is persisted
      if (small > 0) assert(added.isEmpty, s"smallGraphEdges=$small: persisted $added")
      else assert(added == labelRdd.toSet, s"smallGraphEdges=$small: persisted $added")
      assert(labels.select("component").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
      assert(labels.count() == 2001)
      labelRdd.flatMap(sc.getPersistentRDDs.get).foreach(_.unpersist(blocking = true))
    }
  }
}
