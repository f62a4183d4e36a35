package graft

import org.apache.spark.sql.functions._

/** Plan contracts: the physical plans our scan layer promises (SURVEY.md
  * §4) — predicate pushdown, column pruning, native partition pruning,
  * broadcast joins — asserted against `.explain` output so regressions
  * fail loudly.
  */
class PlanSpec extends SparkSuite {

  private def explainOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("row-id scan broadcasts the O(files) base map, rows never shuffle") {
    val d = QueryLib.customerRowTrackedDir(spark, sfDir)
    val plan = explainOf(DeltaTable.forPath(d).toDFWithRowIds(spark))
    // the per-file base map joins by broadcast; a shuffle of the data
    // rows would make row ids cost a full exchange at 100 TB
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("Exchange hashpartitioning"),
      "row-id derivation must not shuffle data rows:\n" + plan.take(1200))
  }

  test("copy-on-write merge rewrites touched files against the broadcast source, no target shuffle") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange._
    import scala.jdk.CollectionConverters._
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("plan-merge")
    val t = DeltaTable.forPath(d).write(nation.repartition(3))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[SparkPlan]]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(flatten(qe.executedPlan))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      t.merge(spark, nation.filter(col("n_nationkey") < 5)
        .withColumn("n_name", lit("M")), Seq("n_nationkey"))
      org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(spark.sparkContext, 30000)
    } finally spark.listenerManager.unregister(listener)
    // the write that reads table files is the touched-file rewrite (the
    // source write reads the cached source); dml_mix's merge is this shape
    val rewrites = plans.asScala.toSeq.filter(ps =>
      ps.exists(_.isInstanceOf[DataWritingCommandExec]) &&
        ps.exists(_.isInstanceOf[FileSourceScanExec]))
    assert(rewrites.size == 1, s"expected one rewrite of touched files, got ${rewrites.size}")
    val rewrite = rewrites.head
    assert(rewrite.exists(_.isInstanceOf[joins.BroadcastHashJoinExec]) &&
      rewrite.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "the rewrite must join the source by broadcast:\n" + rewrite.head.treeString)
    val shuffled = rewrite.collect {
      case s: ShuffleExchangeExec if flatten(s).exists(_.isInstanceOf[FileSourceScanExec]) => s
    }
    assert(shuffled.isEmpty, "target rows must not shuffle:\n" + rewrite.head.treeString)
  }

  test("importance weights: one token-count shuffle, totals broadcast") {
    val docs = QueryLib.delta(spark, sfDir, "documents")
    val plan = explainOf(operators.TextAnalysis.importanceWeights(
      docs, "doc_id", "text", col("lang") === "en"))
    // the one-row totals ride a broadcast nested loop (1-row build) —
    // never a shuffled cross product
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // both token distributions ride ONE aggregate: exactly one partial
    // aggregate pair over the exploded tokens for the count stage (the
    // ratio join's probe is a separate, unavoidable exchange)
    val partials = plan.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_"))
    assert(partials <= 3, s"expected merged count pass, got $partials partials:\n" +
      plan.take(1200))
  }

  test("filter+project pushes filters and prunes columns at the scan") {
    val li = QueryLib.delta(spark, sfDir, "lineitem")
    val plan = explainOf(
      li.filter(col("l_discount") > 0.05)
        .select("l_orderkey", "l_extendedprice"))
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("GreaterThan(l_discount,0.05)"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate"),
      s"projection must prune unused columns: $readSchema")
  }

  test("DV scan: in-scan row filter, pushdown intact, no join or shuffle") {
    val d = tempDir("plan-dv")
    var t = DeltaTable.forPath(d).write(QueryLib.raw(spark, sfDir, "lineitem"))
    t = t.deleteMergeOnRead(spark, Some(col("l_quantity") > 45))
    val plan = explainOf(
      t.toDF(spark).filter(col("l_discount") > 0.05)
        .select("l_orderkey", "l_discount"))
    // dead rows drop inside the scan task: no join, no broadcast, and
    // data rows NEVER shuffle for a scan
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
      plan.take(800))
    assert(!plan.contains("Exchange hashpartitioning"),
      "a DV scan must not shuffle data rows: " + plan.take(800))
    // predicate pushdown + column pruning still reach the parquet scan
    assert(plan.contains("GreaterThan(l_discount,0.05)"), plan.take(800))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate"),
      s"projection must prune unused columns: $readSchema")
  }

  test("SPEC-DV scan keeps the same plan: in-scan filter, pushdown, no join") {
    val d = tempDir("plan-dv-spec")
    var t = DeltaTable.forPath(d).write(QueryLib.raw(spark, sfDir, "lineitem"))
      .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
    t = t.deleteMergeOnRead(spark, Some(col("l_quantity") > 45))
    val plan = explainOf(
      t.toDF(spark).filter(col("l_discount") > 0.05)
        .select("l_orderkey", "l_discount"))
    // resolving roaring-bitmap vectors must not change the scan's plan
    // contract: no join, no broadcast, data rows never shuffle, pushdown
    // and pruning intact
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
      plan.take(800))
    assert(!plan.contains("Exchange hashpartitioning"),
      "a spec-DV scan must not shuffle data rows: " + plan.take(800))
    assert(plan.contains("GreaterThan(l_discount,0.05)"), plan.take(800))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate"),
      s"projection must prune unused columns: $readSchema")
  }

  test("partitioned delta scan prunes partitions natively") {
    val lp = QueryLib.delta(spark, sfDir, "lineitem", partitionBy = Seq("l_returnflag"))
    // sum (not count): the metadata-only aggregate rule would answer a
    // bare partition-filtered COUNT from the log with no scan at all —
    // this test is about the SCAN's partition pruning, so keep one
    val plan = explainOf(lp.filter(col("l_returnflag") === "A")
      .agg(sum(col("l_quantity"))))
    assert(plan.contains("PartitionFilters"), plan.take(800))
    assert(plan.contains("l_returnflag"), plan.take(800))
  }

  test("dim join broadcasts the small side with map-side partial agg") {
    val plan = explainOf(
      QueryLib.delta(spark, sfDir, "orders")
        .join(QueryLib.delta(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1))))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("custom cosine expression participates in whole-stage codegen") {
    val emb = QueryLib.raw(spark, sfDir, "embeddings")
    val df = emb.select(
      operators.Similarity.cosineFast(col("embedding"), col("embedding")).as("self"))
    val plan = explainOf(df)
    // formatted mode marks codegen stages with "[codegen id : N]"
    assert(plan.contains("codegen id"), plan.take(800))
    // and it evaluates: self-cosine is exactly 1.0
    assert(df.limit(5).collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("LshSignature and NearestCentroids stay in whole-stage codegen") {
    val emb = QueryLib.raw(spark, sfDir, "embeddings")
    val dim = operators.Similarity.probeDim(emb, "embedding")
    val hp = operators.Similarity.hyperplanes(64, dim)
    val cents = Array.fill(4)(Array.fill(dim)(0.1))
    val df = emb.select(
      operators.Similarity.lshSignature(col("embedding"), hp).as("sig"),
      operators.Similarity.nearestCentroids(col("embedding"), cents, 2).as("cells"))
    val plan = explainOf(df)
    assert(plan.contains("codegen id"), plan.take(800))
    val rows = df.limit(5).collect()
    assert(rows.forall(_.getSeq[Int](1).length == 2))
  }

  test("percentile runs on ObjectHashAggregate, not a sort-based fallback") {
    val li = QueryLib.delta(spark, sfDir, "lineitem")
    val plan = explainOf(li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50")))
    assert(plan.contains("ObjectHashAggregate"), plan.take(600))
    assert(!plan.contains("SortAggregate"),
      "TypedImperativeAggregate should use the object-hash path")
  }

  test("SimHashAgg runs on ObjectHashAggregate with partial aggregation") {
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val plan = explainOf(operators.Dedup.simHash(docs, "doc_id", "text"))
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_simhash_agg"),
      "map-side partial aggregation must combine before the shuffle")
    assert(!plan.contains("SortAggregate"))
  }

  test("Md5Prefix60 participates in whole-stage codegen") {
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val df = docs.select(operators.Sampling.idHash(col("doc_id")).as("h"))
    val plan = explainOf(df)
    assert(plan.contains("codegen id"), plan.take(800))
    assert(df.limit(20).collect().forall(_.getLong(0) >= 0))
  }

  test("asOfJoin windows are (key, bucket)-bounded; key-only windows see only bucket rows") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val ev = QueryLib.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("ts").as("purchase_ts"))
    val res = operators.Temporal.asOfJoin(
      ev.select("event_id", "user_id", "ts"), purchases,
      Seq("user_id"), "ts", "ts", Seq("purchase_ts"))
    res.collect() // materialize so AQE finalizes the executed plan
    val plans = flatten(res.queryExecution.executedPlan)
    val windows = plans.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "as-of must still be a window formulation")
    // the r11-verdict skew hole: a window partitioned by the BARE key puts
    // a celebrity key's whole timeline in one task. Row-scale windows must
    // carry the time bucket in their partition spec; a key-only window is
    // legal ONLY over the bucket-aggregate rows (≤ buckets per key), i.e.
    // with an aggregate somewhere below it.
    val keyOnly = windows.filter(w =>
      w.partitionSpec.exists(_.references.exists(_.name == "user_id")) &&
        !w.partitionSpec.exists(_.references.exists(_.name == "_bkt")))
    assert(windows.exists(w =>
      w.partitionSpec.exists(_.references.exists(_.name == "_bkt"))),
      s"no (key, bucket) window found:\n${windows.mkString("\n")}")
    keyOnly.foreach { w =>
      assert(flatten(w).exists(_.isInstanceOf[BaseAggregateExec]),
        s"key-only window over row-scale input (unbounded skew):\n$w")
    }
  }

  test("rangeJoin plans an equi-join, never a nested-loop/cartesian") {
    val orders = QueryLib.raw(spark, sfDir, "orders")
    val day = datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")).cast("long")
    val points = orders.select(col("o_orderkey"), day.as("d"))
    val iv = orders.limit(50).select(col("o_orderkey").as("rid"), day.as("s"))
      .withColumn("e", col("s") + 7)
    val plan = explainOf(
      operators.Temporal.rangeJoin(points, iv, "d", "s", "e", 7L))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "bucketed range join must be an equi-join: " + plan.take(800))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("the six-table TPC-H Q5 shape plans all-broadcast, no sort-merge") {
    val plan = explainOf(SparkEntry.queries("q50_q5_multijoin")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "dimension chain must broadcast — a SMJ here shuffles the fact table per join")
  }

  test("vocab induction plans a partial top-k, not a global sort") {
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val plan = explainOf(operators.TextAnalysis.induceVocab(docs, "text", 100))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must be per-partition partial (TakeOrderedAndProject): " + plan.take(600))
  }

  test("q85 never broadcasts a subtree containing the window explode") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange._
    // flatten crossing adaptive / query-stage / reused-exchange boundaries
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val r = operators.TextAnalysis.duplicatePassages(docs, "doc_id", "text")
    r.collect() // materialize so AQE finalizes the executed plan
    val plans = flatten(r.queryExecution.executedPlan)
    assert(plans.exists(_.isInstanceOf[GenerateExec]),
      "expected an explode (GenerateExec) in the plan")
    // Catalyst's size estimate below a Generate passes through the tiny
    // parquet child, so ANY broadcast of the exploded window set would be
    // a size-estimate accident that OOMs executors at scale (VERDICT r7 #1)
    val bad = plans.collect {
      case b: BroadcastExchangeExec
          if flatten(b).exists(_.isInstanceOf[GenerateExec]) => b
    }
    assert(bad.isEmpty,
      s"BroadcastExchange over the exploded window set:\n${bad.mkString("\n")}")
    assert(plans.exists(_.isInstanceOf[joins.ShuffledHashJoinExec]),
      "dup-window re-attach must be a ShuffledHashJoin")
  }

  test("tf-idf document frequency joins, never windows over the token") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val r = operators.TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text")
    r.collect() // materialize so AQE finalizes the executed plan
    val plans = flatten(r.queryExecution.executedPlan)
    // a window partitioned by the token puts a stopword's every tf row
    // in one task (VERDICT r9 #1) — df must be a groupBy+join; the only
    // legal window is the per-doc term_rank (bounded by doc length)
    val tokenWindows = plans.collect {
      case w: WindowExec
          if w.partitionSpec.exists(_.references.exists(_.name == "token")) => w
    }
    assert(tokenWindows.isEmpty,
      s"window exchange over the token column:\n${tokenWindows.mkString("\n")}")
    assert(plans.exists(_.isInstanceOf[joins.ShuffledHashJoinExec]),
      "df re-attach must be a ShuffledHashJoin (broadcast of a " +
        "vocabulary-sized table is wrong at corpus scale)")
  }

  test("unigram logprob joins the frequency table, never windows the token") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val r = operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text")
    r.collect()
    val plans = flatten(r.queryExecution.executedPlan)
    val windows = plans.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      s"window exchange in the unigram plan:\n${windows.mkString("\n")}")
    assert(plans.exists(_.isInstanceOf[joins.ShuffledHashJoinExec]),
      "frequency re-attach must be a ShuffledHashJoin")
  }

  test("n-gram Jaccard df guard joins, never windows over the shingle") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    // r14: the semi-joined postings are materialized once (partitioned
    // on the shingle key), so the df-guard semi-join lives in the CACHED
    // build plan — descend into InMemoryRelation to keep pinning it
    def flattenThroughCache(p: SparkPlan): Seq[SparkPlan] =
      flatten(p).flatMap {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          m +: flattenThroughCache(m.relation.cachedPlan)
        case other => Seq(other)
      }
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val r = operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.3, maxDocFreq = 50L)
    r.collect()
    val plans = flattenThroughCache(r.queryExecution.executedPlan)
    // the singleton/maxDocFreq guard must not window-partition by the
    // shingle hash (VERDICT r9 #2): no WindowExec anywhere in this plan
    val windows = plans.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      s"window exchange in the Jaccard plan:\n${windows.mkString("\n")}")
    assert(plans.exists(_.isInstanceOf[joins.ShuffledHashJoinExec]),
      "kept-shingle semi-join must be a ShuffledHashJoin")
  }

  test("BM25 plans a partial top-k and filters postings before the explode") {
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val plan = explainOf(operators.TextAnalysis.bm25TopK(
      docs, "doc_id", "text", Seq("spark", "join"), 20))
    // global top-k must be per-partition partial, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // the term restriction must sit INSIDE the generate input (a filter
    // lambda over the token array), so only posting-list tokens are ever
    // exploded into the shuffle — grep the generate's expression for the
    // codegen'd array filter
    assert(plan.contains("filter(") && plan.contains("Generate"),
      "query-term restriction must precede the explode:\n" + plan.take(1200))
  }

  test("duplicate spans never broadcast the dup-hash set") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange._
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val r = operators.TextAnalysis.duplicateSpans(docs, "doc_id", "text")
    r.collect()
    val plans = flatten(r.queryExecution.executedPlan)
    // same size-estimate trap as q85: the dup-hash set's estimate passes
    // through the tiny parquet child below the Generate — broadcasting it
    // ships the corpus's whole duplicated-gram set to every executor
    val bad = plans.collect {
      case b: BroadcastExchangeExec
          if flatten(b).exists(_.isInstanceOf[GenerateExec]) => b
    }
    assert(bad.isEmpty,
      s"BroadcastExchange over the positional gram set:\n${bad.mkString("\n")}")
    assert(plans.exists(_.isInstanceOf[joins.ShuffledHashJoinExec]),
      "dup-hash semi-join must be a ShuffledHashJoin")
  }

  test("curation pipeline plans no cartesian and fuses gates into the scan") {
    val df = SparkEntry.queries("q139_curation_pipeline")(spark, sfDir)
    df.collect()
    val plan = explainOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the row-local gates (token count / stopword ratio) must run inside
    // the scan's codegen stage, not as separate exchanges: the only
    // hash exchanges allowed are the dup-window agg/join, the dedup
    // window, and the budget range shuffle
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 6, s"unexpected exchange count $exchanges:\n" + plan.take(1500))
  }

  test("domain cap plans a partial WindowGroupLimit before the shuffle") {
    val docs = QueryLib.delta(spark, sfDir, "documents")
    val plan = explainOf(operators.Sampling.capPerGroup(docs, "source", 50,
      Seq(col("n_chars").desc, col("doc_id"))))
    // InferWindowGroupLimit: the rank<=k filter becomes a top-k BOTH
    // sides of the exchange — a skewed domain ships at most k rows per
    // upstream partition instead of its whole population
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
    assert(plan.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      "expected partial + final WindowGroupLimit:\n" + plan.take(1500))
  }

  test("cluster-balanced sample caps with WindowGroupLimit before the quota join") {
    val emb = QueryLib.delta(spark, sfDir, "embeddings")
    val plan = explainOf(operators.Sampling.clusterBalancedSample(
      emb, "vec_id", "embedding", total = 50))
    // the constant max-quota cap must turn into a partial top-k: a huge
    // cluster ships at most maxQuota rows per upstream partition, and the
    // exact per-cluster quota join only ever sees survivors
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"),
      "quota re-attach must broadcast the nCells-row quota table:\n" +
        plan.take(1500))
  }

  test("kmv sketch plans map-side partial aggregation (<=k longs on the wire)") {
    val li = QueryLib.delta(spark, sfDir, "lineitem")
    val plan = explainOf(operators.Sketches.kmvSketch(
      li, Seq("l_returnflag"), col("l_partkey"), 64))
    // ObjectHashAggregate partial before the exchange, final after — the
    // shuffle carries serialized bounded buffers, not raw hashes
    assert(plan.contains("ObjectHashAggregate"), plan.take(1200))
    assert(plan.contains("partial_kmv_agg"), plan.take(2000))
  }

  test("bigram LM: vocabulary joins stay shuffle-hash, token total broadcasts") {
    val docs = QueryLib.delta(spark, sfDir, "documents")
    val plan = explainOf(operators.TextAnalysis.bigramLogProb(
      docs, "doc_id", "text"))
    // the corpus bigram/unigram tables must NEVER broadcast (vocabulary-
    // sized); the 1-row total must NEVER shuffle
    assert(plan.contains("ShuffledHashJoin"), plan.take(1500))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1500))
    // r14: adjacency is array algebra (zip_with of the token array
    // against its shift) — NO window anywhere, so no token stream is
    // ever sorted; the old shape windowed by document (bounded but a
    // full Exchange+Sort of every token occurrence)
    assert(!plan.contains("windowspecdefinition"),
      plan.linesIterator.filter(_.contains("windowspecdefinition"))
        .mkString("\n"))
    assert(plan.contains("zip_with"), plan.take(2000))
  }

  test("embedding drift: no window anywhere, one key-cardinality join") {
    val emb = QueryLib.delta(spark, sfDir, "embeddings")
    val plan = explainOf(operators.Drift.embeddingDrift(emb,
      emb.filter(col("vec_id") % 3 =!= 0), "label", "embedding"))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("weighted sample: grouped mode plans WindowGroupLimit; global mode plans TakeOrdered") {
    val docs = QueryLib.delta(spark, sfDir, "documents")
    val grouped = explainOf(operators.Sampling.weightedSample(
      docs, "doc_id", col("n_chars"), 10, "s", Seq("source")))
    assert(grouped.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      "expected partial + final WindowGroupLimit:\n" + grouped.take(1500))
    val global = explainOf(operators.Sampling.weightedSample(
      docs, "doc_id", col("n_chars"), 10, "s"))
    // per-partition top-k + k-sized merge, never a one-task global sort
    assert(global.contains("TakeOrderedAndProject"), global.take(1200))
  }

  test("deterministic shuffle plans one range exchange, no global sort") {
    val docs = QueryLib.delta(spark, sfDir, "documents")
    val plan = explainOf(operators.Sampling.deterministicShuffle(
      docs, "doc_id", "graft-epoch0"))
    assert(plan.contains("rangepartitioning(_shuffle_key"), plan.take(1200))
    // the order must come from sortWithinPartitions — every Sort in the
    // plan is LOCAL (formatted args: `[keys], false, 0`); a global sort
    // (`true`) would funnel range planning through one task's output
    val sortArgLines = plan.linesIterator
      .filter(l => l.contains("Arguments: [") && l.contains("ASC NULLS"))
      .toSeq
    assert(sortArgLines.nonEmpty && sortArgLines.forall(_.contains("false, 0")),
      "expected only local sorts:\n" + sortArgLines.mkString("\n"))
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges")
  }

  test("codegen'd multimodal features keep one codegen stage, no RDD hop") {
    val docs = QueryLib.raw(spark, sfDir, "documents")
    val df = operators.Multimodal.extractFeatures(
      operators.Multimodal.attachPayload(docs, "doc_id", "text"))
    val plan = explainOf(df)
    assert(plan.contains("codegen id"), plan.take(800))
    assert(!plan.contains("Scan ExistingRDD"),
      "stub features must not leave Tungsten for an RDD mapPartitions hop")
  }
}
