package graft

import graft.operators.{Dedup, Joins, Multimodal, Regression, Similarity, Temporal, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — the declared query inventory (SURVEY.md §2.g plus the
  * training-data-pipeline operators). Every query runs over graft Delta
  * tables (QueryLib builds them from the raw parquet through our write
  * path), so each entry exercises log replay + snapshot scan end-to-end,
  * then the relational/pipeline operator under test.
  *
  * Both sides of each oracle pair use identical column ALIASES and an
  * explicit deterministic ORDER BY; float aggregates are rounded on both
  * sides so summation-order ulp differences can't flip the hash.
  */
object SparkEntry {

  /** Flagship: TPC-H Q1 over a graft Delta lineitem table at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    QueryLib.delta(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Documents with deterministic PII injected as a pure function of
    * doc_id (the synthetic corpus contains none) — the oracle rebuilds the
    * identical enriched text in SQL before the redaction regexes run.
    */
  private def piiEnriched(df: DataFrame): DataFrame = {
    val id = col("doc_id")
    df.select(id, concat(col("text"),
      when(id % 3 === 0,
        concat(lit(" mail user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(id % 3 === 1,
        concat(lit(" call 555-123-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 3 === 2,
        concat(lit(" host 10."), (id % 256).cast("string"), lit(".0."),
          (id % 100).cast("string")))
        .otherwise(lit(""))).as("text"))
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- table lifecycle: write modes, time travel, restore, delete ----
    "q01_scan_multi_append" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersX2Dir(s, d)).toDF(s).orderBy("o_orderkey")),
    "q02_time_travel" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersX2Dir(s, d)).loadAsVersion(0L).toDF(s)
        .orderBy("o_orderkey")),
    "q03_restore" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersRestoredDir(s, d)).toDF(s).orderBy("o_orderkey")),
    "q04_overwrite" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersOverwrittenDir(s, d)).toDF(s).orderBy("o_orderkey")),
    "q05_delete" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemDeletedDir(s, d)).toDF(s)
        .orderBy("l_orderkey", "l_linenumber")),
    "q76_dv_delete" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemDvDeletedDir(s, d)).toDF(s)
        .orderBy("l_orderkey", "l_linenumber")),
    // same double MoR delete, but the vectors are delta-SPEC roaring
    // bitmaps (delta.enableDeletionVectors=true) — the scan resolves
    // dead rows through the spec codec end to end
    "q150_spec_dv_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemSpecDvDir(s, d)).toDF(s)
        .orderBy("l_orderkey", "l_linenumber")),
    // cross-batch incremental near-dup: the odd-doc_id half of documents
    // dedups against a PERSISTED signature store holding the even half —
    // banded-LSH candidates (batch side broadcasts, the store only scans)
    // verified by the MinHash Jaccard estimate; md5-derived component
    // hashes make the signatures engine-portable, so the oracle replays
    // them bit-for-bit
    "q151_minhash_store_dedup" -> ((s, d) =>
      Dedup.minHashStoreDedup(s, QueryLib.minhashStoreDir(s, d),
          QueryLib.delta(s, d, "documents").filter(col("doc_id") % 2 === 1),
          "doc_id", "text", bands = 16, estThreshold = 0.7)
        .orderBy("a", "b")),
    // numeric drift report between two SNAPSHOTS of one table (v0 vs the
    // post-delete current version — Delta time travel makes the "before"
    // side free): per-column count/mean/stddev/min/max/null-rate + delta
    "q152_numeric_drift" -> ((s, d) => {
      val t = DeltaTable.forPath(QueryLib.lineitemDeletedDir(s, d))
      operators.Drift.numericDrift(t.loadAsVersion(0L).toDF(s), t.toDF(s),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    }),
    // categorical drift (PSI) of l_returnflag across the same delete:
    // the vanished 'A' class stays VISIBLE at count 0 with a finite,
    // smoothed PSI contribution
    "q153_categorical_drift" -> ((s, d) => {
      val t = DeltaTable.forPath(QueryLib.lineitemDeletedDir(s, d))
      operators.Drift.categoricalDrift(t.loadAsVersion(0L).toDF(s), t.toDF(s),
        "l_returnflag")
    }),
    // mixture plan EXECUTION: per-domain epochs materialize as
    // deterministic document replication (floor + md5-bernoulli on the
    // fraction) — the resampled corpus any engine reproduces bit-for-bit
    "q154_apply_mixture" -> ((s, d) =>
      operators.Sampling.applyMixture(
          QueryLib.delta(s, d, "documents").select("doc_id", "lang"),
          "lang", "doc_id", Map("en" -> 2.3, "de" -> 0.5, "fr" -> 1.0))
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")),
    // embedding-space drift: per-label centroid cosine between the full
    // corpus and a thinned snapshot — the semantic-shift check numeric
    // column stats cannot see
    "q156_embedding_drift" -> ((s, d) => {
      val emb = QueryLib.delta(s, d, "embeddings")
      operators.Drift.embeddingDrift(emb,
        emb.filter(col("vec_id") % 3 =!= 0), "label", "embedding")
    }),
    // mergeable KMV distinct-count sketches: per-group sketch + estimate,
    // and the group sketches UNIONED into the corpus cardinality without
    // touching raw values again (the sketch-store pattern)
    "q158_kmv_distinct" -> ((s, d) => {
      import operators.Sketches
      val li = QueryLib.delta(s, d, "lineitem")
      val k = 256
      val sk = li.groupBy(col("l_returnflag"))
        .agg(Sketches.kmvAgg(Sketches.kmvHash(col("l_partkey")), k).as("_kmv"),
          countDistinct(col("l_partkey")).as("exact_distinct"))
      val per = sk.select(col("l_returnflag").as("grp"),
        Sketches.estimate(col("_kmv"), k).as("est_distinct"),
        col("exact_distinct"), try_element_at(col("_kmv"), lit(k)).as("kth_hash"))
      val all = sk.agg(Sketches.kmvMergeAgg(col("_kmv"), k).as("_kmv"))
        .crossJoin(li.agg(countDistinct(col("l_partkey")).as("exact_distinct")))
        .select(lit("*ALL*").as("grp"),
          Sketches.estimate(col("_kmv"), k).as("est_distinct"),
          col("exact_distinct"), try_element_at(col("_kmv"), lit(k)).as("kth_hash"))
      per.unionByName(all).orderBy("grp")
    }),
    // as-of join with a freshness bound: purchases older than 6h before
    // the event are no match (pandas merge_asof tolerance semantics)
    "q162_asof_tolerance" -> ((s, d) => {
      val ev = QueryLib.eventsDelta(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("purchase_ts"))
      Temporal.asOfJoin(
          ev.select("event_id", "user_id", "ts"), purchases,
          keyCols = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          valueCols = Seq("purchase_ts"), toleranceSeconds = Some(6L * 3600))
        .orderBy("event_id")
    }),
    // the sketch STORE: per-lang vocabulary cardinality answered from
    // two batches' persisted sketch rows alone — the raw corpus is never
    // rescanned (losslessly-merging bottom-k state)
    "q160_kmv_store" -> ((s, d) =>
      operators.Sketches.kmvStoreCardinality(s, QueryLib.kmvStoreDir(s, d))
        .orderBy("lang")),
    // deterministic weighted sampling without replacement (Efraimidis–
    // Spirakis): longer docs proportionally likelier, selection a pure
    // function of (seed, id, weight) any engine regenerates
    "q161_weighted_sample" -> ((s, d) =>
      operators.Sampling.weightedSample(QueryLib.delta(s, d, "documents"),
          "doc_id", col("n_chars"), 20, "r11seed", Seq("source"))
        .select(col("doc_id"), col("source"), col("_es_key").as("es_key"))
        .orderBy("source", "doc_id")),
    // logistic quality CLASSIFIER (IRLS, one aggregation pass per Newton
    // step): probability + decision per document; the oracle replays the
    // sigmoid score with the exported coefficients
    "q159_logit_quality" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val (f, y) = logitQualityFeatures
      val beta = Regression.logisticFit(docs, f, y, lambda = 1.0, iters = 8)
      val prob = Regression.scoreLogistic(f, beta)
      docs.select(col("doc_id"), round(prob, 4).as("p_quality"),
        (prob >= 0.5).cast("int").as("pred_label"), y.as("label"))
        .orderBy("doc_id")
    }),
    // the SQL surface end to end: a table whose restore/optimize/vacuum
    // all ran as spark.sql(...) statements through the injected parser;
    // result = SQL DESCRIBE HISTORY × the live row count
    "q157_sql_surface" -> ((s, d) => {
      val dir = QueryLib.ordersSqlSurfaceDir(s, d)
      val sql = graft.sql.GraftSql.enable(s)
      val hist = sql.sql(s"DESCRIBE HISTORY '$dir'")
        .select(col("version"), col("operation"))
      val live = DeltaTable.forPath(dir).toDF(s)
        .agg(count(lit(1)).as("rows_live"))
      hist.crossJoin(live).orderBy("version")
    }),
    // mixture EXECUTION composed into SEQUENCE PACKING: the replicated
    // corpus (each (doc, copy) a distinct training unit) packs into
    // fixed-budget shards — the last two steps of a pretraining data
    // pipeline chained end to end, fully oracle-replayable
    "q155_mixture_pack" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val mixed = operators.Sampling.applyMixture(docs, "lang", "doc_id",
          Map("en" -> 2.3, "de" -> 0.5, "fr" -> 1.0))
        .withColumn("unit_id", col("doc_id") * 10 + col("copy"))
      operators.Packing.packChunked(mixed, "unit_id",
          size(TextAnalysis.tokens(col("text"))), budget = 256, numShards = 8)
        .orderBy("unit_id")
    }),
    // REORG PURGE: the DV debt of q76's deletes rewritten away
    // (dataChange=false) — same live rows, clean files, no DV filter
    "q99_purge_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemPurgedDir(s, d)).toDF(s)
        .orderBy("l_orderkey", "l_linenumber")),
    // change data feed with cdc files: an UPDATE under
    // delta.enableChangeDataFeed streams its exact pre/postimage rows
    "q100_cdc_update_feed" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.nationCdcUpdatedDir(s, d))
        .changesBetween(s, 0L, 2L)
        .orderBy("_change_type", "n_nationkey")),
    // deep clone: copied bytes + the copied deletion vectors serve the
    // source's exact post-delete rows from a fresh version-0 table
    "q101_deep_clone_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.supplierDeepCloneDir(s, d)).toDF(s)
        .orderBy("s_suppkey")),
    // generated-column partition pruning: the ts filter alone derives the
    // event_date partition bound (delta's OptimizeGeneratedColumn)
    "q98_generated_prune_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.eventsGeneratedDir(s, d)).toDF(s)
        .filter(col("ts") <
          lit(java.time.LocalDateTime.parse("2024-01-10T00:00:00")))
        .orderBy("event_id")),
    "q77_check_constraint" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersConstrainedDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    // column-mapping rename: metadata-only RENAME COLUMN, then an append
    // through the new logical name; the scan unifies pre- and post-rename
    // files under the renamed schema
    "q87_rename_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.documentsRenamedDir(s, d)).toDF(s)
        .orderBy("doc_id")),
    // generated column: event_date computed at write time from ts and
    // used as the partition column — scan re-attaches it date-typed
    "q88_generated_partition_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.eventsGeneratedDir(s, d)).toDF(s)
        .orderBy("event_id")),
    // optimistic-concurrency rebase: a stale-handle DELETE lost the
    // version race to a blind append and re-committed; appended rows
    // survive even where they match the predicate (WriteSerializable)
    "q89_rebased_delete_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersRacedDeleteDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    // the registered DataSource surface: spark.read.format("graft") over
    // a partitioned table written through df.write.format("graft")
    "q91_datasource_roundtrip" -> ((s, d) => {
      val dir = QueryLib.cachedDir(d, "ds_roundtrip") { out =>
        QueryLib.raw(s, d, "customer")
          .write.format("graft").partitionBy("c_mktsegment").save(out)
      }
      s.read.format("graft").load(dir).orderBy("c_custkey")
    }),
    // exact MoR change feed: v2's delete rows = newly-dead only (v1's
    // dead rows must NOT re-appear) — vector set difference, oracled
    "q78_dv_changes" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemDvDeletedDir(s, d))
        .changesBetween(s, 1L, 2L)
        .filter(col("_change_type") === "delete")
        .drop("_commit_version", "_change_type")
        .orderBy("l_orderkey", "l_linenumber")),
    // metadata-only COUNT(*): numRecords stats minus DV cardinalities,
    // zero Spark jobs — exercised on the twice-MoR-deleted table so the
    // subtraction path is load-bearing
    "q82_meta_count" -> ((s, d) => {
      import s.implicits._
      val t = DeltaTable.forPath(QueryLib.lineitemDvDeletedDir(s, d))
      Seq(t.countRowsFromStats.getOrElse(-1L)).toDF("cnt")
    }),
    // metadata-only MIN/MAX from footer stats (refuses DV'd snapshots)
    "q83_meta_minmax" -> ((s, d) => {
      import s.implicits._
      val t = DeltaTable.forPath(QueryLib.deltaDir(s, d, "lineitem"))
      val (mnO, mxO) = t.minMaxFromStats("l_orderkey").get
      val (mnQ, mxQ) = t.minMaxFromStats("l_quantity").get
      Seq((mnO.asInstanceOf[Long], mxO.asInstanceOf[Long],
        mnQ.asInstanceOf[Double], mxQ.asInstanceOf[Double]))
        .toDF("min_ok", "max_ok", "min_qty", "max_qty")
    }),
    // bloom-pruned point lookup: toDFWhere consults per-file filters so
    // the plan only references files that can hold the probed ids
    "q81_bloom_lookup" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.docsBloomDir(s, d))
        .toDFWhere(s, col("doc_id").isin(100L, 101L, 102L, 4321L))
        .orderBy("doc_id")),
    "q06_partitioned_scan" -> ((s, d) =>
      QueryLib.delta(s, d, "lineitem", partitionBy = Seq("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber")),
    // SHOW PARTITIONS: metadata-only distinct partition tuples (zero scans)
    "q126_show_partitions" -> ((s, d) =>
      DeltaTable.forPath(
          QueryLib.deltaDir(s, d, "lineitem", Seq("l_returnflag")))
        .partitions(s)
        .orderBy("l_returnflag")),
    "q07_schema_evolution" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.docsEvolvedDir(s, d)).toDF(s)
        .orderBy(col("doc_id"), col("source").asc_nulls_first)),

    // ---- scan-side pushdown, aggregation, joins, windows, set ops ----
    "q08_filter_project" -> ((s, d) =>
      QueryLib.delta(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")),
    "q09_q1_agg" -> ((s, d) => q1Agg(s, d)),
    "q10_join_agg" -> ((s, d) =>
      QueryLib.delta(s, d, "orders")
        .join(QueryLib.delta(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")),
    "q11_semi_join" -> ((s, d) =>
      QueryLib.delta(s, d, "orders")
        .join(QueryLib.delta(s, d, "customer").filter(col("c_acctbal") > 5000),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey").orderBy("o_orderkey")),
    "q12_anti_join" -> ((s, d) =>
      QueryLib.delta(s, d, "customer")
        .join(QueryLib.delta(s, d, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")),
    "q13_window_latest_order" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey"))
      QueryLib.delta(s, d, "orders")
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate").orderBy("o_custkey")
    }),
    "q14_topk_orders" -> ((s, d) =>
      QueryLib.delta(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)),
    "q15_intersect" -> ((s, d) =>
      QueryLib.delta(s, d, "orders").select("o_custkey")
        .intersect(QueryLib.delta(s, d, "customer").select(col("c_custkey").as("o_custkey")))
        .orderBy("o_custkey")),
    "q16_except" -> ((s, d) => {
      val orders = QueryLib.delta(s, d, "orders")
      orders.filter(col("o_orderstatus") === "F").select("o_custkey")
        .except(orders.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    }),
    // TPC-H Q5 shape: 6-table join — the fact table streams through a
    // chain of broadcast hash joins against the dimensions; Catalyst
    // pushes the region/date filters below the joins
    "q50_q5_multijoin" -> ((s, d) => {
      QueryLib.delta(s, d, "customer")
        .join(QueryLib.delta(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(QueryLib.delta(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(QueryLib.delta(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(QueryLib.delta(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(QueryLib.delta(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("n_name")
    }),

    // ---- log/metadata queries ----
    "q17_history" -> ((s, d) => {
      import s.implicits._
      DeltaTable.forPath(QueryLib.historyTableDir(s, d)).history
        .map { case (v, ci) => (v, ci.operation) }.sortBy(_._1)
        .toDF("version", "operation")
    }),
    "q18_file_counts" -> ((s, d) => {
      import s.implicits._
      val t = DeltaTable.forPath(QueryLib.historyTableDir(s, d))
      t.versions.sorted
        .map(v => (v, t.loadAsVersion(v).fileUris.length.toLong))
        .toDF("version", "num_files")
    }),

    // ---- dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash) ----
    "q19_dedup_exact" -> ((s, d) =>
      Dedup.exact(QueryLib.docsX2(s, d), "doc_id").orderBy("doc_id")),
    "q20_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(QueryLib.delta(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8).orderBy("a", "b")),
    "q21_minhash_lsh" -> ((s, d) =>
      Dedup.minHashLshPairs(QueryLib.delta(s, d, "documents"), "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.8).orderBy("a", "b")),
    // md5-derived 60-bit token hash (vs the default xxhash64) so an
    // external SQL engine can compute bit-identical signatures — the same
    // cross-engine-reproducibility trick as q29's fingerprints. Semantics
    // under test are unchanged: signature, pigeonhole blocking, hamming.
    "q22_simhash" -> ((s, d) =>
      Dedup.simHashPairs(QueryLib.delta(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, numBits = 60, tokenHash = Md5TokenHash)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("a", "b")),

    // ---- embedding similarity (exact + ANN) ----
    "q23_knn_bruteforce" -> ((s, d) => {
      val emb = QueryLib.delta(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // corpus = embeddings ∪ shifted-id copy: each query's true top-1 is its
    // identical twin (cos 1.0), which collides in EVERY band — so the ANN
    // result is exact ground truth (max non-twin cosine in this corpus is
    // ~0.51) and recall failures would surface as a hash mismatch.
    "q24_ann_lsh" -> ((s, d) => {
      val emb = QueryLib.embX2(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // two-stage retrieval: int8-quantized candidate scan + exact rerank
    // candidates stream 1-byte codes from the MATERIALIZED codes table
    // (stats ride its commit metadata); float vectors are scanned only
    // for the rerank survivors
    "q90_ann_quantized_rerank" -> ((s, d) => {
      val emb = QueryLib.embX2(s, d)
      Similarity.quantizedRerankTopKFromCodes(s, QueryLib.embCodesDir(s, d),
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "q25_embed_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(QueryLib.embX2(s, d),
        "vec_id", "embedding", threshold = 0.95).orderBy("a", "b")),
    // IVF with k=1 over the doubled corpus: the identical twin shares the
    // query's nearest cell by construction, so the approximate result has
    // the same closed-form ground truth as q24
    "q43_ann_ivf" -> ((s, d) => {
      val emb = QueryLib.embX2(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // PQ ANN: m sub-vector codes per corpus vector, per-query ADC
    // tables, exact re-rank — the twin's code is the per-subspace argmax
    // so it can never miss the candidate set (oracle closed form)
    "q117_ann_pq" -> ((s, d) => {
      val emb = QueryLib.embX2(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ---- text analysis ----
    "q26_token_count" -> ((s, d) =>
      QueryLib.delta(s, d, "documents").select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"))
        .orderBy("doc_id")),
    "q27_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(QueryLib.delta(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // token-budget selection: best-score-first (n_chars desc, id
    // tie-break) until the running token total reaches the budget —
    // global cumsum via range partitions + broadcast prefix offsets
    "q116_token_budget" -> ((s, d) =>
      operators.Sampling.selectUnderTokenBudget(
          QueryLib.delta(s, d, "documents").withColumn("n_tokens",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
          "doc_id", "n_tokens", "n_chars", budget = 15000L)
        .select("doc_id", "n_chars", "n_tokens")
        .orderBy("doc_id")),
    "q28_lang_id" -> ((s, d) =>
      TextAnalysis.langId(QueryLib.delta(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q29_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(QueryLib.delta(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "q44_subword_count" -> ((s, d) =>
      TextAnalysis.subwordCount(QueryLib.delta(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // PII scrub over deterministically PII-enriched documents (the raw
    // corpus is synthetic word soup, so both engines inject the same
    // emails/phones/IPs keyed off doc_id before the operator runs)
    "q84_pii_redact" -> ((s, d) =>
      operators.Pii.detectRedact(piiEnriched(QueryLib.delta(s, d, "documents")),
          "doc_id", "text")
        .orderBy("doc_id")),
    // URL/domain provenance signals over deterministically URL-enriched
    // documents (same injection trick as q84), blocklist = badsite.net
    "q92_url_signals" -> ((s, d) => {
      val id = col("doc_id")
      val enriched = QueryLib.delta(s, d, "documents").select(id,
        concat(col("text"),
          when(id % 4 === 0, concat(lit(" see https://www.site"),
            (id % 5).cast("string"), lit(".example.com/p/"), id.cast("string")))
            .otherwise(lit("")),
          when(id % 4 === 1, concat(lit(" via http://spam"),
            (id % 3).cast("string"), lit(".badsite.net"))).otherwise(lit("")),
          when(id % 4 === 2, concat(lit(" at https://docs.example.org/x"),
            id.cast("string"))).otherwise(lit(""))).as("text"))
      operators.Pii.urlSignals(enriched, "doc_id", "text",
        blocklist = Seq("badsite.net")).orderBy("doc_id")
    }),
    // cross-document duplicated k-token passages (exact-substring dedup
    // signal at window granularity)
    "q85_dup_passages" -> ((s, d) =>
      TextAnalysis.duplicatePassages(QueryLib.delta(s, d, "documents"),
          "doc_id", "text", k = 5)
        .orderBy("doc_id")),
    // the END-TO-END curation pipeline as ONE declarative plan (Catalyst
    // fuses the row-local gates into the scan): size gate → stopword
    // quality gate → exact dedup (min id per md5) → boilerplate gate
    // (duplicate-passage ratio) → best-first global token budget
    "q139_curation_pipeline" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val ts = TextAnalysis.tokens(col("text"))
      val gated = docs
        .withColumn("n_tokens", size(ts).cast("long"))
        .withColumn("stopword_ratio",
          round(size(filter(ts, t => t.isInCollection(TextAnalysis.Stopwords)))
            .cast("double") / col("n_tokens"), 4))
        .filter(col("n_tokens").between(20, 2000) &&
          col("stopword_ratio") >= 0.05)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val deduped = gated.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
      val dup = TextAnalysis.duplicatePassages(docs, "doc_id", "text", k = 5)
        .select(col("doc_id"), col("dup_ratio"))
      val filtered = deduped.join(dup, Seq("doc_id"), "left")
        .filter(coalesce(col("dup_ratio"), lit(0.0)) < 0.6)
      operators.Sampling.selectUnderTokenBudget(
          filtered.select("doc_id", "n_tokens", "stopword_ratio"),
          "doc_id", "n_tokens", "stopword_ratio", budget = 30000)
        .orderBy("doc_id")
    }),
    // deflate-compressibility quality gate. DuckDB has no zlib, so the
    // oracle is DYNAMIC (dynamicOracleSql): Verify-time driver deflates
    // export as literals, the raw-byte side replays in SQL. Round9bSpec
    // pins the separation property and determinism.
    "q145_compressibility" -> ((s, d) =>
      TextAnalysis.compressionRatio(QueryLib.delta(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),
    // character-entropy quality gate (bits/char)
    "q144_char_entropy" -> ((s, d) =>
      TextAnalysis.charEntropy(QueryLib.delta(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),
    // C4-style normalization over deliberately-dirtied text (controls,
    // runs of spaces) — the clean pass recovers canonical form
    "q138_text_normalize" -> ((s, d) =>
      TextAnalysis.normalize(
          QueryLib.delta(s, d, "documents")
            .withColumn("text",
              concat(lit("  "), col("text"), lit("\t end  "))),
          "doc_id", "text")
        .orderBy("doc_id")),
    // BPE vocabulary training over the corpus word-frequency table.
    // FULL SQL oracle since r10: the 20-rank merge loop unrolls into
    // pair-count -> argmax -> island-merge CTE blocks (bpeTrainOracle);
    // Round9bSpec additionally pins the exact textbook merges.
    "q132_bpe_merges" -> ((s, d) =>
      TextAnalysis.trainBpeMerges(
        QueryLib.delta(s, d, "documents"), "text", numMerges = 20)
        .orderBy("rank")),
    // BPE APPLICATION with the learned merge list: training stays
    // rows-only (q132), but encoding against a FIXED list is a
    // fixed-length fold — the DuckDB oracle (dynamicOracleSql) replays
    // the greedy non-overlapping merge loop over the same vocabulary
    // with the learned merges exported as literals.
    "q146_bpe_apply" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents").filter(col("doc_id") < 100)
      val merges = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 20)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.applyBpeMerges(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          concat_ws(" ", col("tokens")).as("enc"))
        .orderBy("doc_id")
    }),
    // overlapping-window chunking (RAG/embedding prep)
    "q131_chunk_documents" -> ((s, d) =>
      TextAnalysis.chunkDocuments(
          QueryLib.delta(s, d, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", chunkTokens = 50, stride = 40)
        .orderBy("doc_id", "chunk_idx")),
    // maximal duplicated spans (where the shared regions ARE, in token
    // coordinates — the span-removal dedup input)
    "q121_dup_spans" -> ((s, d) =>
      TextAnalysis.duplicateSpans(QueryLib.delta(s, d, "documents"),
          "doc_id", "text", k = 5)
        .orderBy("doc_id", "span_start")),
    // duplicate-span REMOVAL: the Lee et al. cut — canonical text with
    // every corpus-duplicated k-gram position excised
    "q147_remove_dup_spans" -> ((s, d) =>
      TextAnalysis.removeDuplicateSpans(QueryLib.delta(s, d, "documents"),
          "doc_id", "text", k = 5)
        .orderBy("doc_id")),
    // ridge-fit linear quality scorer: one-pass normal-equations fit
    // (Gram matrix as codegen'd sums), corpus scored with the learned
    // coefficients; the oracle re-derives the fit and replays the score
    "q148_ridge_quality" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val (f, y) = ridgeQualityFeatures
      val beta = Regression.ridgeFit(docs, f, y, lambda = 1.0)
      val pred = Regression.score(f, beta)
      docs.select(col("doc_id"), round(pred, 4).as("quality_pred"),
        round(y - pred, 4).as("residual")).orderBy("doc_id")
    }),
    // a table whose every row arrived through SQL INSERT statements
    // (create-on-first-insert, append, INSERT OVERWRITE) — scanned back
    "q170_sql_insert" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersSqlInsertDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    // the full SQL MERGE INTO clause surface (matched DELETE + matched
    // UPDATE + NOT MATCHED INSERT, one statement, one commit) over a path
    // target with a path-table USING source — scanned back
    "q171_sql_merge" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerSqlMergedDir(s, d)).toDF(s)
        .orderBy("c_custkey")),
    // the round-14 SQL DDL lifecycle: IDENTITY + GENERATED columns,
    // CLUSTER BY, CHECK constraint add/drop, column-list inserts, FULL
    // clustered OPTIMIZE — all through spark.sql; scanned back
    "q188_sql_ddl_lifecycle" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.sqlDdlLifecycleDir(s, d)).toDF(s)
        .orderBy("rid")),
    // catalog-NAMED table lifecycle (X204): CTAS/INSERT/MERGE/DELETE/
    // UPDATE/OPTIMIZE all addressed the table by its registered name; the
    // readback is a name-addressed SELECT joining the current state to
    // the name-addressed `VERSION AS OF 0` time travel
    "q189_sql_named_catalog" -> ((s, d) => {
      val dir = QueryLib.namedLifecycleDir(s, d)
      val sql = graft.sql.GraftSql.enable(s)
      // re-adopt under the name (registry may be stale across JVMs/SFs):
      // pure SQL-surface plumbing, no data commit
      sql.sql("DROP TABLE IF EXISTS graftq.orders_named")
      sql.sql("CREATE TABLE IF NOT EXISTS graftq.orders_named " +
        s"USING graft LOCATION '$dir'")
      sql.sql(
        """SELECT cur.o_orderkey, cur.o_orderstatus, cur.o_totalprice,
          |  CASE WHEN v0.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS in_v0
          |FROM graftq.orders_named cur
          |LEFT JOIN (SELECT o_orderkey FROM graftq.orders_named
          |           VERSION AS OF 0) v0
          |  ON cur.o_orderkey = v0.o_orderkey
          |ORDER BY cur.o_orderkey""".stripMargin)
    }),
    // metadata-only aggregates (X213): COUNT(*)/MIN/MAX/COUNT(col)
    // answered purely from the log's per-file stats — the require proves
    // the optimized plan collapsed to a LocalRelation (zero file reads);
    // at 100 TB this is a dashboard row-count costing one log replay
    "q190_metadata_only_agg" -> ((s, d) => {
      val sql = graft.sql.GraftSql.enable(s)
      val t = DeltaTable.forPath(QueryLib.deltaDir(s, d, "orders"))
      val agg = t.toDF(sql).agg(
        count(lit(1)).as("cnt"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"),
        count(col("o_orderpriority")).as("cnt_prio"))
      require(agg.queryExecution.optimizedPlan.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "metadata-only aggregate did not collapse to a LocalRelation:\n" +
          agg.queryExecution.optimizedPlan)
      agg
    }),
    // delta-spark's table_changes TVF (X214): the q100 CDF feed addressed
    // through pure SQL — start version INCLUSIVE, stable columns selected
    // (_commit_timestamp rides along for parity but is wall-clock)
    "q191_table_changes" -> ((s, d) => {
      val dir = QueryLib.nationCdcUpdatedDir(s, d)
      graft.sql.GraftSql.enable(s).sql(
        s"""SELECT n_nationkey, n_name, n_regionkey, _commit_version,
           |  _change_type
           |FROM table_changes('$dir', 1, 2)
           |ORDER BY _change_type, n_nationkey""".stripMargin)
    }),
    // SQL INSERT INTO … REPLACE WHERE (X215): the partition-backfill
    // verb — one commit swaps the 'O' slice for a re-priced copy
    "q192_sql_replace_where" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersReplaceWhereSqlDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    // COPY INTO (X216): idempotent bulk file loading — three runs over a
    // growing landing dir, each file loaded exactly once; table ≡ orders
    "q193_copy_into" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersCopyIntoDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    // VARIANT column (X217): binary semi-structured storage scanned back
    // with typed variant_get extraction — protocol feature auto-declared
    "q194_variant_column" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.eventsVariantDir(s, d)).toDF(s)
        .select(col("event_id"),
          expr("variant_get(props_v, '$.k', 'long')").as("k"),
          col("event_type"), col("value"))
        .orderBy("event_id")),
    // filter-funnel report (X219): the per-stage survival accounting of
    // a C4/Gopher/Dolma-style cleaning pipeline, ONE corpus pass
    "q195_filter_funnel" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val ts = split(lower(col("text")), " ")
      operators.Funnel.report(docs, Seq(
        "min_chars" -> (length(col("text")) >= 80),
        "min_tokens" -> (size(ts) >= 40),
        "distinct_ratio" ->
          (size(array_distinct(ts)).cast("double") / size(ts) >= 0.28),
        "has_spark" -> array_contains(ts, "spark")))
        .orderBy("rank")
    }),
    // GROUPED metadata aggregates (X213's partition-group flavor):
    // GROUP BY a partition column + COUNT/MIN/MAX answered from the log
    // — "rows per partition" over 100 TB as a log-only query
    "q196_metadata_grouped_agg" -> ((s, d) => {
      val sql = graft.sql.GraftSql.enable(s)
      val t = DeltaTable.forPath(
        QueryLib.deltaDir(s, d, "lineitem", Seq("l_returnflag")))
      val g = t.toDF(sql).groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), min(col("l_quantity")).as("min_qty"),
          max(col("l_extendedprice")).as("max_price"))
      require(g.queryExecution.optimizedPlan.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "grouped metadata aggregate did not collapse to a LocalRelation:\n" +
          g.queryExecution.optimizedPlan)
      g.orderBy("l_returnflag")
    }),
    // SQL CTAS + INSERT + version-pinned SHALLOW CLONE: the clone's scan
    // replays the truncated cloned log and sees only the CTAS slice
    "q175_sql_ctas_clone" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersSqlCtasCloneDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    // paragraph-granularity MinHash: blank-line paragraphs signed and
    // banded like documents; shared boilerplate pairs across AND inside
    // docs (the composed fixture plants both shapes)
    "q174_paragraph_neardup" -> ((s, d) =>
      Dedup.paragraphMinHashPairs(
          DeltaTable.forPath(QueryLib.documentsParagraphsDir(s, d)).toDF(s),
          "doc_id", "text")
        .orderBy("a_doc", "a_para", "b_doc", "b_para")),
    // the SQL ALTER TABLE lifecycle: columns added/filled/widened/renamed
    // purely through spark.sql statements — scanned back through the
    // mapping the rename minted
    "q173_sql_alter" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerSqlAlteredDir(s, d)).toDF(s)
        .orderBy("c_custkey")),
    // ANN over a PERSISTED IVF index (codebook + cell-partitioned codes,
    // built and twin-appended in prior commits): the query pays probe +
    // pruned scan only, never training. Twin corpus ⇒ the q43 closed form
    "q172_ann_index" -> ((s, d) =>
      Similarity.ivfIndexTopK(s, QueryLib.ivfIndexDir(s, d),
          QueryLib.raw(s, d, "embeddings").filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")),
    // plain SQL over a path table, with Spark's own time-travel syntax:
    // the v0 snapshot aggregates through the injected path resolution
    "q169_sql_select" -> ((s, d) => {
      val dir = QueryLib.ordersSqlSurfaceDir(s, d)
      graft.sql.GraftSql.enable(s).sql(
        s"""SELECT o_orderstatus, count(*) AS n,
           |  round(sum(o_totalprice), 2) AS revenue
           |FROM graft.`$dir` VERSION AS OF 0
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),
    // scene-cut detection over REAL AVI walks: consecutive-frame mean
    // absolute byte delta thresholded, decode-local (no shuffle); the
    // oracle re-derives every pixel pair from the closed form
    "q179_video_scene_cuts" -> ((s, d) =>
      Multimodal.videoSceneCuts(
          DeltaTable.forPath(QueryLib.documentsVideoScenesDir(s, d)).toDF(s))
        .orderBy("doc_id", "frame_idx")),
    // frame-level video dedup: per-frame fingerprints from real AVI
    // walks, equal frames paired across files (shared intro/outro shape)
    "q168_video_frame_dedup" -> ((s, d) => {
      val fh = Multimodal.videoFrameHashes(
        DeltaTable.forPath(QueryLib.documentsVideoDir(s, d)).toDF(s))
      fh.select(col("doc_id").as("a"), col("frame_idx").as("frame_a"),
          col("frame_md5"))
        .join(fh.select(col("doc_id").as("b"), col("frame_idx").as("frame_b"),
          col("frame_md5")), Seq("frame_md5"))
        .filter(col("a") < col("b"))
        .select("a", "b", "frame_a", "frame_b", "frame_md5")
        .orderBy("a", "b", "frame_a", "frame_b")
    }),
    // perceptual image dHash over REAL decoded PNG pixels: the decode is
    // genuine ImageIO, the arithmetic all-integer, so the oracle replays
    // decode -> grayscale -> 9x8 box grid -> 64 gradient bits exactly
    "q167_perceptual_dhash" -> ((s, d) =>
      Multimodal.perceptualDHash(
          DeltaTable.forPath(QueryLib.documentsMediaDir(s, d)).toDF(s)
            .filter(col("media_type") === "image/png"))
        .select("doc_id", "width", "height", "dhash")
        .orderBy("doc_id")),
    // quality-curriculum ordering: classifier score -> exact-quantile
    // bins -> deterministic md5 order inside each bin. Thresholds are a
    // broadcast 1-row agg; no global window anywhere
    "q166_curriculum" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val (f, y) = logitQualityFeatures
      val beta = Regression.logisticFit(docs, f, y, lambda = 1.0, iters = 8)
      val scored = docs.select(col("doc_id"),
        round(Regression.scoreLogistic(f, beta), 4).as("p_quality"))
      val th = broadcast(scored.agg(
        expr("percentile(p_quality, 0.25)").as("_t1"),
        expr("percentile(p_quality, 0.5)").as("_t2"),
        expr("percentile(p_quality, 0.75)").as("_t3")))
      scored.crossJoin(th)
        .withColumn("bin", when(col("p_quality") <= col("_t1"), 1)
          .when(col("p_quality") <= col("_t2"), 2)
          .when(col("p_quality") <= col("_t3"), 3).otherwise(4))
        .withColumn("order_key", operators.Sampling.idHash(
          concat(lit("cur:"), col("doc_id").cast("string"))))
        .select("doc_id", "p_quality", "bin", "order_key")
        .orderBy("bin", "order_key", "doc_id")
    }),
    // cross-batch EXACT dedup via the fingerprint store (CCNet-style):
    // a batch of the odd half plus 20 byte-identical recrawls of stored
    // docs — every recrawl matches, organic exact twins too
    "q165_exact_store_dedup" -> ((s, d) => {
      val dir = QueryLib.exactStoreDir(s, d)
      val docs = QueryLib.raw(s, d, "documents")
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      operators.Dedup.exactStoreDedup(s, dir, batch, "doc_id", "text")
        .orderBy("a", "b")
    }),
    // per-source robust z-scores (median/MAD): outlier-immune length
    // anomaly scoring where mean/stddev would chase the outliers
    "q164_robust_zscore" -> ((s, d) =>
      operators.Sampling.robustZScore(QueryLib.delta(s, d, "documents"),
          "source", "n_chars")
        .select("doc_id", "source", "n_chars", "robust_z")
        .orderBy("doc_id")),
    // interpolated bigram-LM mean log-prob + perplexity per document —
    // the KenLM-shaped quality scorer one order up from q86
    "q163_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogProb(QueryLib.delta(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),
    // unigram-LM mean log-prob + perplexity per document
    "q86_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(QueryLib.delta(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),
    // deterministic hash splits: membership is a pure function of doc_id,
    // reproducible by any engine via the md5-prefix hash
    "q53_hash_split" -> ((s, d) =>
      operators.Sampling.hashSplit(QueryLib.delta(s, d, "documents"), "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"))
        .orderBy("split")),
    // domain capping: at most 50 docs per source, longest first —
    // WindowGroupLimit makes the top-k partial before the shuffle
    "q110_domain_cap" -> ((s, d) =>
      operators.Sampling.capPerGroup(QueryLib.delta(s, d, "documents"),
          "source", 50, Seq(col("n_chars").desc, col("doc_id")))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),
    // deterministic epoch shuffle: order is a pure function of
    // (seed, doc_id) — any engine reproduces the identical permutation
    "q111_training_order" -> ((s, d) =>
      operators.Sampling.deterministicShuffle(
          QueryLib.delta(s, d, "documents"), "doc_id", "graft-epoch0")
        .select("doc_id", "_shuffle_key")
        .orderBy("_shuffle_key")),
    // stratified class rebalancing: keep 20% of English docs, all others
    "q70_stratified_sample" -> ((s, d) =>
      operators.Sampling.stratifiedSample(QueryLib.delta(s, d, "documents"),
          "doc_id", "lang", Map("en" -> 20))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")),
    // composed curation pipeline: quality signals -> per-language top-3
    // by token count (operators feed each other like a real pipeline)
    "q71_curation_topk" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
      val w = Window.partitionBy("lang")
        .orderBy(col("n_tokens").desc, col("doc_id"))
      scored.withColumn("lang_rank", row_number().over(w).cast("long"))
        .filter(col("lang_rank") <= 3)
        .select("lang", "lang_rank", "doc_id", "n_tokens", "stopword_ratio")
        .orderBy("lang", "lang_rank")
    }),

    // benchmark decontamination: flag corpus docs sharing any trigram
    // with the "benchmark" subset (doc_id % 37 == 0)
    "q72_decontaminate" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      operators.Decontaminate.flagOverlap(docs,
          docs.filter(col("doc_id") % 37 === 0), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),
    // concat-and-chunk sequence packing: 256-token sequences over 8
    // deterministic id-hash shards
    "q73_pack_sequences" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      operators.Packing.packChunked(docs, "doc_id",
          size(TextAnalysis.tokens(col("text"))), budget = 256, numShards = 8)
        .orderBy("doc_id")
    }),
    // dataset mixture: sample ~60 docs at 40/30/20/10% from four named
    // sources, dropping the rest of the corpus
    "q74_mixture_sample" -> ((s, d) =>
      operators.Sampling.mixtureSample(QueryLib.delta(s, d, "documents"),
          "doc_id", "source",
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
          totalTarget = 60L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source")),
    // token-budget mixture allocation: per-language sampling plan
    // (target token mass, rate, epochs) for a 50k-token budget
    "q149_mixture_allocation" -> ((s, d) =>
      operators.Sampling.mixtureAllocation(QueryLib.delta(s, d, "documents"),
          "lang", size(split(col("text"), " ")).cast("double"),
          Map("en" -> 0.5, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.1),
          budgetTokens = 50000L)
        .orderBy("lang")),
    // Gopher-style within-document repetition signals
    "q75_repetition_signals" -> ((s, d) =>
      TextAnalysis.repetitionSignals(QueryLib.delta(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),

    // ---- multimodal binary-column plumbing ----
    // REAL decode: per-row PNG/animated-GIF bytes parsed back with
    // javax.imageio — width/height from the container header, frame count
    // by walking the GIF sequence; the oracle replays the generator's
    // closed form
    "q30_multimodal_features" -> ((s, d) =>
      Multimodal.extractFeaturesWith(
          DeltaTable.forPath(QueryLib.documentsMediaDir(s, d)).toDF(s),
          Multimodal.ImageIoCodec)
        .select("doc_id", "media_type", "width", "height", "n_frames")
        .orderBy("doc_id")),
    // audio: decode REAL WAV containers back out of the table — the
    // header fields the decode recovers are a closed form of doc_id, so
    // the oracle verifies a genuine synthesize→store→parse round trip
    "q136_audio_features" -> ((s, d) =>
      Multimodal.extractAudioFeatures(
          DeltaTable.forPath(QueryLib.documentsAudioDir(s, d)).toDF(s))
        .select("doc_id", "payload_len", "sample_rate", "n_channels",
          "n_samples", "duration_ms")
        .orderBy("doc_id")),
    // video: decode REAL AVI containers (avih header + counted movi
    // frame chunks) — decoded fields are a closed form of doc_id
    "q137_video_features" -> ((s, d) =>
      Multimodal.extractVideoFeatures(
          DeltaTable.forPath(QueryLib.documentsVideoDir(s, d)).toDF(s))
        .orderBy("doc_id")),
    "q31_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.extractFeaturesWith(
          DeltaTable.forPath(QueryLib.documentsMediaDir(s, d)).toDF(s),
          Multimodal.ImageIoCodec))
        .orderBy("doc_id", "frame_idx")),
    "q45_resize_plan" -> ((s, d) =>
      Multimodal.resizePlan(Multimodal.extractFeatures(
          Multimodal.attachPayload(QueryLib.delta(s, d, "documents"), "doc_id", "text")),
        maxW = 256L, maxH = 256L)
        .orderBy("doc_id")),

    // ---- data skipping: scan plans only the stats-surviving files ----
    "q33_stats_skipping_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemRangedDir(s, d))
        .toDFWhere(s, col("l_orderkey").between(1000, 2000) && col("l_discount") > 0.07)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- rollup (multi-level aggregation) ----
    "q37_rollup" -> ((s, d) =>
      QueryLib.delta(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- pivot (wide matrix) and CUBE (all grouping sets) ----
    "q54_pivot" -> ((s, d) =>
      QueryLib.eventsDelta(s, d)
        .withColumn("hour_of_day", hour(col("ts")).cast("long"))
        .groupBy("hour_of_day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("hour_of_day")),
    "q55_cube" -> ((s, d) =>
      QueryLib.delta(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- embedding aggregates + JSON column extraction ----
    "q38_embed_norms" -> ((s, d) => {
      val v = Similarity.toDouble(col("embedding"))
      QueryLib.delta(s, d, "embeddings")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(sqrt(Similarity.dot(v, v))), 4).as("avg_norm"))
        .orderBy("label")
    }),
    // VARIANT column (delta's variantType): props parsed once at write,
    // extracted natively at read — same aggregate as q39's string-JSON
    // path, over the round-tripped binary variant
    "q118_variant_props" -> ((s, d) =>
      QueryLib.eventsVariantDelta(s, d)
        .withColumn("k_bucket",
          pmod(variant_get(col("props_v"), "$.k", "long"), lit(10)))
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("k_bucket")),

    // time-based rolling window: per-user trailing-1h average via a
    // RANGE frame over event-time micros (not a row frame — gaps matter)
    "q142_rolling_window" -> ((s, d) =>
      QueryLib.eventsDelta(s, d)
        .withColumn("_us", expr("unix_micros(cast(ts as timestamp))"))
        .withColumn("rolling_avg", round(avg(col("value")).over(
          Window.partitionBy("user_id").orderBy(col("_us"))
            .rangeBetween(-3600000000L, 0L)), 4))
        .select("user_id", "event_id", "rolling_avg")
        .orderBy("user_id", "event_id")),
    // per-type IQR outlier clipping (Tukey fences, exact quartiles)
    "q141_outlier_clip" -> ((s, d) =>
      operators.Sampling.iqrClip(
          QueryLib.eventsDelta(s, d), "event_type", "value")
        .groupBy("event_type")
        .agg(count(lit(1)).as("kept"),
          round(avg(col("value")), 4).as("avg_kept"),
          round(first(col("_lo")), 4).as("lo"),
          round(first(col("_hi")), 4).as("hi"))
        .orderBy("event_type")),
    // regular-grid hourly resample with forward fill (gap filling)
    "q125_resample_ffill" -> ((s, d) =>
      Temporal.resampleForwardFill(
          QueryLib.eventsDelta(s, d).filter(col("user_id") < 30),
          "user_id", "ts", "value")
        .orderBy("user_id", "bucket_ts")),
    "q39_json_props" -> ((s, d) =>
      QueryLib.eventsDelta(s, d)
        .withColumn("k_bucket",
          pmod(get_json_object(col("props"), "$.k").cast("long"), lit(10)))
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("k_bucket")),

    // ---- MERGE (copy-on-write upsert) ----
    "q35_merge_upsert" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerMergedDir(s, d)).toDF(s)
        .orderBy("c_custkey")),
    "q79_dv_merge" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerMergedMoRDir(s, d)).toDF(s)
        .orderBy("c_custkey")),
    // merge with WHEN NOT MATCHED BY SOURCE DELETE: unmatched BUILDING
    // customers retired in the same commit as the upsert
    "q119_merge_nmbs" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerMergeNmbsDir(s, d)).toDF(s)
        .orderBy("c_custkey")),
    // incremental view maintenance: agg folded from CDF deltas only
    "q133_incremental_agg" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersIvmAggDir(s, d)).toDF(s)
        .select(col("o_orderstatus"), col("cnt"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("o_orderstatus")),
    // clause merge: narrow CDC source, SET-based update + explicit insert
    "q140_merge_set_clause" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerMergeSetDir(s, d)).toDF(s)
        .orderBy("c_custkey")),
    // SCD Type 2: closed + current versions after one snapshot apply
    "q124_scd_type2" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerScd2Dir(s, d)).toDF(s)
        .orderBy("c_custkey", "_valid_from")),

    // ---- UPDATE (copy-on-write in-place mutation) ----
    "q56_update" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemUpdatedDir(s, d)).toDF(s)
        .orderBy("l_orderkey", "l_linenumber")),
    "q80_dv_update" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemUpdatedMoRDir(s, d)).toDF(s)
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- replaceWhere (predicate-scoped atomic overwrite) ----
    "q62_replace_where" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersReplacedDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),

    // ---- as-of join: latest purchase at or before each event ----
    "q57_asof_join" -> ((s, d) => {
      val ev = QueryLib.eventsDelta(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("purchase_ts"))
      Temporal.asOfJoin(
          ev.select("event_id", "user_id", "ts"), purchases,
          keyCols = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          valueCols = Seq("purchase_ts"))
        .orderBy("event_id")
    }),

    // ---- range join: orders falling in 7-day windows around seed orders ----
    "q58_range_join" -> ((s, d) => {
      val day = (c: org.apache.spark.sql.Column) =>
        datediff(c.cast("date"), lit("1992-01-01").cast("date")).cast("long")
      val orders = QueryLib.delta(s, d, "orders")
      val points = orders.select(col("o_orderkey"), col("o_totalprice"),
        day(col("o_orderdate")).as("o_day"))
      val intervals = orders.filter(col("o_orderkey") < 50)
        .select(col("o_orderkey").as("range_id"),
          day(col("o_orderdate")).as("start_day"))
        .withColumn("end_day", col("start_day") + 7)
      Temporal.rangeJoin(points, intervals, "o_day", "start_day", "end_day",
          bucketWidth = 7L)
        .groupBy("range_id")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("range_id")
    }),

    // ---- near-dup clusters: pairwise evidence -> connected components ----
    "q59_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(QueryLib.delta(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.8)
      Dedup.connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    }),
    // winner selection over the dup clusters: keep the HIGHEST-QUALITY
    // doc per near-dup cluster (n_chars desc, id asc) — the row real
    // dedup pipelines retain, not the arbitrary min-id
    "q134_dedup_keep_best" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      // clusters consumed from their MATERIALIZED table (built once per
      // corpus — the real pipeline persists them; recomputing CC per
      // consumer query would pay the pair join every time)
      val clusters = DeltaTable.forPath(QueryLib.dedupClustersDir(s, d)).toDF(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id"))
      clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("_rk", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(max(when(col("_rk") === 1, col("doc_id"))).as("kept_doc_id"),
          count(lit(1)).as("cluster_size"))
        .orderBy("cluster_id")
    }),

    // ---- salted skew-resistant join (result ≡ the plain join) ----
    "q60_salted_join" -> ((s, d) =>
      Joins.saltedJoin(
          QueryLib.delta(s, d, "lineitem"),
          QueryLib.delta(s, d, "supplier"),
          bigKeys = Seq("l_suppkey"), smallKeys = Seq("s_suppkey"), salt = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("s_nationkey")),

    // ---- event series: gap-based sessionization ----
    "q34_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("_us"), col("event_id"))
      QueryLib.eventsDelta(s, d)
        .withColumn("_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("_gap", col("_us") - lag(col("_us"), 1).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("_gap").isNull || col("_gap") > 1800000000L, 1)
            .otherwise(0)).cast("long").as("n_sessions"))
        .orderBy("user_id")
    }),

    // ---- session windows (native operator, vs q34's lag-window algebra) ----
    "q51_session_window" -> ((s, d) =>
      QueryLib.eventsDelta(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(sum("n").cast("long").as("n_events"), count(lit(1)).as("n_sessions"))
        .orderBy("user_id")),

    // ---- exact percentiles (TypedImperativeAggregate / ObjectHashAggregate) ----
    "q52_percentiles" -> ((s, d) =>
      QueryLib.delta(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // ---- streaming ----
    "q32_events_hourly_stream" -> ((s, d) =>
      QueryLib.eventsHourlyViaStream(s, d).orderBy("window_start", "event_type")),
    // sliding 2h/1h windows: every event in exactly two windows
    "q127_sliding_window_stream" -> ((s, d) =>
      QueryLib.eventsSlidingViaStream(s, d).orderBy("window_start", "event_type")),
    // unpivot/melt: wide metrics to long (id, metric, val) form
    "q129_unpivot" -> ((s, d) =>
      QueryLib.delta(s, d, "lineitem")
        .filter(col("l_orderkey") < 200)
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")),
    // stream-static join: event stream enriched against the customer
    // Delta table, re-planned per micro-batch
    "q130_stream_static_join" -> ((s, d) =>
      QueryLib.eventsStreamStaticJoined(s, d).orderBy("c_mktsegment")),
    // correlated EXISTS + scalar subqueries (Catalyst decorrelates both
    // into joins — asserted over our log-backed scans)
    "q135_subqueries" -> ((s, d) => {
      QueryLib.delta(s, d, "orders").createOrReplaceTempView("ord_sq")
      QueryLib.delta(s, d, "customer").createOrReplaceTempView("cust_sq")
      s.sql("""SELECT c_mktsegment, count(*) AS n_custs,
              |  round(avg(c_acctbal), 2) AS avg_bal
              |FROM cust_sq c
              |WHERE EXISTS (SELECT 1 FROM ord_sq o
              |              WHERE o.o_custkey = c.c_custkey
              |                AND o.o_totalprice > (SELECT avg(o_totalprice)
              |                                      FROM ord_sq))
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),
    // explicit GROUPING SETS (rollup/cube's general form)
    "q128_grouping_sets" -> ((s, d) => {
      QueryLib.delta(s, d, "lineitem").createOrReplaceTempView("li_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
              |  round(sum(l_extendedprice), 2) AS sum_price
              |FROM li_gs
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
              |  (l_returnflag), (l_linestatus))
              |ORDER BY l_returnflag ASC NULLS FIRST,
              |  l_linestatus ASC NULLS FIRST""".stripMargin)
    }),
    "q36_stateful_sessionize" -> ((s, d) =>
      QueryLib.eventsSessionsViaStream(s, d).orderBy("user_id")),
    "q46_watermarked_stream" -> ((s, d) =>
      QueryLib.eventsWatermarkedViaStream(s, d).orderBy("window_start", "event_type")),
    "q61_stream_dedup" -> ((s, d) =>
      QueryLib.eventsDedupedViaStream(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("user_id")),
    // streaming MERGE-upsert (CDC apply): table = latest event per user
    "q123_stream_upsert" -> ((s, d) =>
      QueryLib.eventsUpsertedViaStream(s, d)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          round(col("value"), 4).as("last_value"))
        .orderBy("user_id")),
    // bounded-state dedup: in-watermark re-delivery dropped by state that
    // crossed the batch boundary; the shifted late copy kept
    "q93_stream_dedup_watermark" -> ((s, d) =>
      QueryLib.eventsWatermarkDedupedViaStream(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")),
    "q63_stream_stream_join" -> ((s, d) =>
      QueryLib.eventsStreamJoined(s, d).orderBy("purchase_id", "click_id")),
    // stream-stream LEFT OUTER join: unmatched purchases null-pad once
    // the watermark proves no click can arrive. Consumers cut at a
    // watermark-safe horizon (max ts - 2h > window 1h + delay 30min), so
    // boundary eviction timing can never flip a row in or out
    "q176_stream_left_join" -> ((s, d) => {
      val cut = QueryLib.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 2 HOURS")).as("_cut"))
      QueryLib.eventsStreamLeftJoined(s, d).join(broadcast(cut))
        .filter(col("purchase_ts").cast("timestamp_ntz") < col("_cut"))
        .select("user_id", "purchase_id", "click_id")
        .orderBy("user_id", "purchase_id", "click_id")
    }),
    "q67_idempotent_sink" -> ((s, d) =>
      QueryLib.eventsIdempotentViaStream(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("user_id")),
    "q68_delta_source_stream" -> ((s, d) =>
      QueryLib.nationViaDeltaSourceStream(s, d).orderBy("n_regionkey")),
    "q95_graft_format_stream" -> ((s, d) =>
      QueryLib.nationViaGraftFormatStream(s, d).orderBy("n_nationkey")),

    "q97_cdf_stream" -> ((s, d) =>
      QueryLib.nationViaCdfStream(s, d)
        .orderBy("_commit_version", "n_nationkey")),

    // rate-limited streaming CDF: maxVersionsPerTrigger=1 backfill whose
    // per-commit batches cross an UPDATE's cdc commit (X73 + X82 compose)
    "q102_cdf_stream_ratelimited" -> ((s, d) =>
      QueryLib.nationCdfRateLimitedStream(s, d)
        .orderBy("_commit_version", "_change_type", "n_nationkey")),

    // identity column: engine-assigned doc_seq = insertion rank, the
    // second write continuing above the committed high-water mark
    "q106_identity_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.documentsIdentityDir(s, d)).toDF(s)
        .orderBy("doc_id")),

    // liquid clustering: CLUSTER BY declares keys as delta.clustering
    // domainMetadata; OPTIMIZE Z-orders by them; the scan is
    // layout-invariant (the spec asserts the skipping payoff)
    "q105_clustered_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemClusteredDir(s, d)).toDF(s)
        .filter(col("l_quantity") >= 10 && col("l_quantity") <= 15)
        .orderBy("l_orderkey", "l_linenumber")),

    // type widening: metadata-only int→long / float→double ALTERs; the
    // scan reads narrow (pre-widening) and wide files under one schema
    "q107_type_widening" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersWidenedDir(s, d)).toDF(s)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // column defaults: the second batch omitted `lang`; the table filled
    // the declared constant — counts per lang prove the contract
    "q112_column_defaults" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.documentsDefaultsDir(s, d)).toDF(s)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    // merge schema evolution: the source-only `flag` column joined the
    // table in the merge commit; pre-merge rows read it as null
    "q115_merge_evolved" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.nationMergeEvolvedDir(s, d)).toDF(s)
        .orderBy("n_nationkey")),

    // CONVERT TO DELTA: the scan reads adopted (relative-path, footer-
    // stats) files and normally-committed files under one log
    "q113_convert_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.supplierConvertedDir(s, d)).toDF(s)
        .orderBy("s_suppkey")),

    // dynamic partition overwrite: exactly the touched partitions
    // replaced, in one atomic commit
    "q114_dynamic_overwrite" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersDynamicOverwriteDir(s, d)).toDF(s)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")),

    // auto optimize: optimizeWrite rebalance + autoCompact debt paydown —
    // layout changes, rows don't (the spec asserts the file mechanics)
    "q108_auto_optimize_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.supplierAutoOptimizeDir(s, d)).toDF(s)
        .orderBy("s_suppkey", "s_acctbal")),

    // DSIR importance weights: per-doc sum of token log-likelihood
    // ratios between the target (lang='en') and raw unigram
    // distributions, Laplace-smoothed — the deterministic scoring stage
    // of importance resampling
    "q104_importance_weights" -> ((s, d) =>
      TextAnalysis.importanceWeights(QueryLib.delta(s, d, "documents"),
        "doc_id", "text", col("lang") === "en").orderBy("doc_id")),

    // row tracking: fresh row ids (file baseRowId + physical position,
    // ranges allocated from the domainMetadata high-water mark) have a
    // rank closed form under ordered range-split writes, and a MoR
    // delete must not shift any survivor's id
    "q103_row_ids_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerRowTrackedDir(s, d))
        .toDFWithRowIds(s).orderBy("c_custkey")),

    // stable row ids: OPTIMIZE rewrote every file (applying the MoR DV),
    // yet ids still equal the original closed-form rank — preserved via
    // the materialized row-id column, not re-derived from fresh ranges
    "q109_stable_row_ids" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.customerRowTrackedCompactedDir(s, d))
        .toDFWithRowIds(s).orderBy("c_custkey")),

    // ---- SemDeDup: k-means-clustered semantic dedup (X77). Identical
    // twins share a cluster by construction and cosine 1.0 >= 0.95; the
    // corpus's max non-identical pairwise cosine (~0.51) never crosses
    // the threshold, so the drop list is exactly the twin set. ----
    "q96_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(QueryLib.embX2(s, d), "vec_id", "embedding",
        threshold = 0.95).orderBy("drop_id")),

    // ---- tokenizer-prep text ops: vocabulary induction, TF-IDF ----
    "q64_vocab" -> ((s, d) =>
      TextAnalysis.induceVocab(QueryLib.delta(s, d, "documents"), "text", topK = 100)
        .orderBy("vocab_id")),
    "q65_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(QueryLib.delta(s, d, "documents"),
          "doc_id", "text", topPerDoc = 3)
        .orderBy("doc_id", "term_rank")),
    // BM25 lexical retrieval: top-20 documents for a 3-term query
    "q120_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(QueryLib.delta(s, d, "documents"),
          "doc_id", "text", Seq("spark", "join", "window"), topK = 20)
        .orderBy(col("bm25").desc, col("doc_id"))),

    // ---- embedding compression: scalar int8 quantization ----
    "q66_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(QueryLib.delta(s, d, "embeddings"),
          "vec_id", "embedding")
        .filter(col("vec_id") < 100)
        .orderBy("vec_id", "dim")),

    // k-means cluster assignment (exposed Lloyd surface). Training is
    // iterative, but assignment against the TRAINED codebook is one
    // argmax — the DuckDB oracle (dynamicOracleSql) re-trains the same
    // deterministic codebook at Verify time, exports it as a literal
    // VALUES table, and recomputes the per-row argmax + cosine.
    // Round9bSpec additionally pins per-row assignment OPTIMALITY.
    "q143_kmeans_clusters" -> ((s, d) =>
      Similarity.kmeansAssign(QueryLib.delta(s, d, "embeddings"),
          "vec_id", "embedding", k = 8)
        .orderBy("vec_id")),
    // count-min heavy-hitter estimates: d x w counters from one pass,
    // probed with doc 0's vocabulary — est >= exact always, replayable
    // md5 hashing
    "q186_cms_estimates" -> ((s, d) => {
      import operators.Sketches
      val docs = QueryLib.delta(s, d, "documents")
      val toks = docs.select(
        explode(split(lower(col("text")), " ")).as("v"))
      val sketch = Sketches.cmsSketch(toks, col("v"))
      val probes = docs.filter(col("doc_id") === 0)
        .select(explode(split(lower(col("text")), " ")).as("token"))
      Sketches.cmsEstimate(sketch, probes, "token").orderBy("token")
    }),
    // hard-negative mining: per anchor, top-5 most-similar vectors in
    // the [0.2, 0.5) cosine band — informative negatives below the
    // near-dup ceiling; anchors broadcast, exact-cosine oracle
    "q185_hard_negatives" -> ((s, d) => {
      val emb = QueryLib.delta(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", m = 5, lo = 0.2, hi = 0.5)
        .orderBy("anchor_id", "rank")
    }),
    // exact stratified split: per-language 8:1:1 with EXACT counts cut
    // at integer-weight boundaries over md5-least ordering — never the
    // in-expectation-only hash split
    "q184_stratified_split" -> ((s, d) =>
      operators.Sampling.stratifiedSplit(QueryLib.delta(s, d, "documents"),
          "lang", "doc_id", Seq(("train", 8L), ("val", 1L), ("test", 1L)))
        .orderBy("doc_id")),
    // span-level benchmark decontamination: docs %10=0 carry an appended
    // 8-token benchmark snippet; exactly those 8 tokens excise (their
    // internal 5-grams hit the broadcast benchmark gram set), the
    // original text survives verbatim
    "q183_decontaminate_spans" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val bench = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
        .select(col("doc_id").as("_bid"), col("text").as("_btext"))
      val snippet = array_join(
        slice(split(lower(col("_btext")), " "), 1, 8), " ")
      val corpus = docs.filter(col("doc_id") < 200)
        .join(bench, pmod(col("doc_id"), lit(20)) + 300 === col("_bid"))
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0,
              concat(col("text"), lit(" "), snippet))
            .otherwise(col("text")).as("text"))
      TextAnalysis.decontaminateSpans(corpus, "doc_id", "text",
          bench.select(col("_btext").as("text")), "text")
        .orderBy("doc_id")
    }),
    // line-level boilerplate removal over the paragraph fixture: the
    // every-50-docs boilerplate paragraph (df = 4) strips, the df-2
    // recrawl paragraphs survive — C4's preprocessing move with the
    // X2-style df-guard shape (no window over the line key)
    "q182_remove_dup_lines" -> ((s, d) =>
      TextAnalysis.removeDuplicateLines(
          DeltaTable.forPath(QueryLib.documentsParagraphsDir(s, d)).toDF(s),
          "doc_id", "text", maxDocFreq = 3)
        .orderBy("doc_id")),
    // Gopher rule bundle over a deterministically-dirtied corpus: each
    // %7 slice trips exactly one rule (symbols, bullets, ellipses,
    // numeric words, short words) or repairs one (stop words) — pure
    // column algebra, so the oracle replays every signal and the verdict
    "q181_gopher_rules" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val m = col("doc_id") % 7
      val dirty = docs.withColumn("text",
        when(m === 0, concat(col("text"), lit(" # # # # # # # # # #")))
          .when(m === 1, concat(lit("- "), col("text"),
            lit("\n- filler one\n- filler two")))
          .when(m === 2, concat(col("text"),
            lit("\ntail one...\ntail two...\ntail three...")))
          .when(m === 3, concat(col("text"), lit(" 12345" * 60)))
          .when(m === 4, concat(col("text"), lit(" a" * 200)))
          .when(m === 5, concat(col("text"), lit(" the of and that")))
          .otherwise(col("text")))
      TextAnalysis.gopherQualitySignals(dirty, "doc_id", "text",
          minWords = 20)
        .orderBy("doc_id")
    }),
    // DoReMi: Group-DRO exponentiated-gradient fold over a proxy run's
    // per-(step, domain) excess losses → domain weights → mixture
    // realization; the oracle consumes the exported epoch literals
    "q180_doremi_mixture" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val weights = operators.Sampling.doremiWeights(
        QueryLib.doremiLosses(s, d), "step", "lang", "excess").toMap
      val tok = size(split(lower(col("text")), " "))
      val epochs = operators.Sampling
        .mixtureAllocation(docs, "lang", tok, weights, budgetTokens = 30000L)
        .collect().map(r => r.getString(0) -> r.getAs[Double]("epochs")).toMap
      operators.Sampling.applyMixture(docs, "lang", "doc_id", epochs,
          seed = "doremi")
        .select("doc_id", "lang", "copy").orderBy("doc_id", "copy")
    }),
    // UniMax mixture: uniform token budget across languages capped at 3
    // epochs — at sf0.01 the cap binds on 4 of 5 langs and en fills the
    // rest with a partial epoch; allocation exported as oracle literals
    "q178_unimax_sample" -> ((s, d) =>
      operators.Sampling.unimaxSample(QueryLib.delta(s, d, "documents"),
          "lang", "doc_id", size(split(lower(col("text")), " ")),
          budgetTokens = 60000L, maxEpochs = 3.0)
        .orderBy("doc_id", "copy")),
    // cluster-balanced diversity sample: per-k-means-cell quotas
    // ∝ |cell|^0.5 (up-weights rare embedding modes), md5-least picks —
    // the oracle exports codebook AND quotas as trained literals
    "q177_cluster_balanced_sample" -> ((s, d) =>
      operators.Sampling.clusterBalancedSample(QueryLib.delta(s, d, "embeddings"),
          "vec_id", "embedding", total = 200)
        .orderBy("vec_id")),
    // ---- embedding compression: JL random projection (±1 sign matrix) ----
    "q122_random_projection" -> ((s, d) =>
      Similarity.randomProject(QueryLib.delta(s, d, "embeddings"),
          "vec_id", "embedding", outDims = 16)
        .filter(col("vec_id") < 100)
        .select(col("vec_id"), posexplode(col("projection")))
        .toDF("vec_id", "out_dim", "proj")
        .withColumn("out_dim", col("out_dim").cast("long"))
        .orderBy("vec_id", "out_dim")),

    // ---- maintenance: OPTIMIZE + VACUUM, CDF, checkpointed open ----
    "q40_optimize_vacuum_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersCompactedDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    "q41_changes_feed" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersChangesDir(s, d))
        .changesBetween(s, 0L, 2L)
        .orderBy("_commit_version", "_change_type", "o_orderkey")),
    "q42_checkpointed_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.nationCheckpointedDir(s, d)).toDF(s)
        .orderBy("n_nationkey")),
    "q94_log_cleanup_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.nationCleanedLogDir(s, d)).toDF(s)
        .orderBy("n_nationkey")),

    // ---- zero-copy import, clone, Z-order-lite + skipping ----
    "q47_import_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemImportedDir(s, d)).toDF(s)
        .orderBy("l_orderkey", "l_linenumber")),
    "q48_clone_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.ordersClonedDir(s, d)).toDF(s)
        .orderBy("o_orderkey")),
    "q49_zorder_skipping_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemZorderedDir(s, d))
        .toDFWhere(s, col("l_orderkey").between(500, 1500) && col("l_quantity") >= 40)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),
    // true Morton-code Z-order: the same scan stays correct when files are
    // clustered by interleaved rank bits instead of a linear sort
    "q69_morton_zorder_scan" -> ((s, d) =>
      DeltaTable.forPath(QueryLib.lineitemMortonDir(s, d))
        .toDFWhere(s, col("l_orderkey").between(500, 1500) && col("l_quantity") >= 40)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),
  )

  /** First 15 hex chars of md5 → 60-bit positive long. DuckDB computes the
    * identical value as ('0x' || substr(md5(t), 1, 15))::BIGINT, making the
    * q22 SimHash signatures engine-independent. Backed by the codegen'd
    * [[graft.functions.Md5Prefix60]] Expression (digest bytes straight to
    * long — no hex-string allocation or radix parse per token).
    */
  private val Md5TokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    t => org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.Md5Prefix60(
        org.apache.spark.sql.graftshim.ColumnShim.expression(t.cast("binary"))))

  private val StopList =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  private def markerList(lang: String) =
    TextAnalysis.LangProfiles.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")
  private val AllScores = "score_en, score_de, score_es, score_fr, score_zh"
  private val Greatest = s"greatest($AllScores)"

  /** DuckDB trigram-shingle CTE body shared by the Jaccard and
    * dedup-cluster oracles: `pj` = all candidate pairs with their exact
    * Jaccard (`j` unrounded for thresholding, `jaccard` rounded for
    * output).
    */
  private val TriBase =
    """toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |tri AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ts) - 1, 1)),
      |  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh FROM toks),
      |e AS (SELECT doc_id, unnest(sh) AS s FROM tri),
      |sz AS (SELECT doc_id, len(sh) AS n FROM tri),
      |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |      FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |pj AS (SELECT a, b, i / (sa.n + sb.n - i) AS j, round(i / (sa.n + sb.n - i), 4) AS jaccard
      |       FROM p JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b)""".stripMargin

  private val TriCte =
    s"""WITH $TriBase
       |SELECT a, b, jaccard FROM pj WHERE j >= 0.8 ORDER BY a, b""".stripMargin

  /** q151 oracle: bit-exact replay of the MinHash signature store dedup.
    * Component i of a doc = min over its trigram shingles s of the 60-bit
    * md5 prefix of `i || ':' || s` (graft's Md5Prefix60 ≡ DuckDB's
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`); 16 bands of 4 components
    * keyed by the comma-joined decimal values; candidates = even-id
    * (store) × odd-id (batch) band collisions; est_jaccard = matching
    * component fraction. Every step MATERIALIZED — the chain re-evaluates
    * exponentially otherwise (DuckDB inlines CTEs).
    */
  private val MinHashStoreCte =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |tri AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ts) - 1, 1)),
      |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh FROM toks),
      |e AS MATERIALIZED (
      |  SELECT doc_id, unnest(sh) AS s FROM tri WHERE len(sh) > 0),
      |comp AS MATERIALIZED (
      |  SELECT doc_id, h.i AS i,
      |    min(('0x' || substr(md5(h.i || ':' || s), 1, 15))::BIGINT) AS c
      |  FROM e, range(64) h(i) GROUP BY doc_id, h.i),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, list(c ORDER BY i) AS sig FROM comp GROUP BY doc_id),
      |bnd AS MATERIALIZED (
      |  SELECT doc_id, r.b AS band,
      |    array_to_string(list_transform(sig[r.b*4+1 : r.b*4+4],
      |      x -> CAST(x AS VARCHAR)), ',') AS key
      |  FROM sig, range(16) r(b)),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bnd x JOIN bnd y ON x.band = y.band AND x.key = y.key
      |  WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 1),
      |m AS (
      |  SELECT a, b,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 64.0 AS est
      |  FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b)
      |SELECT a, b, round(est, 4) AS est_jaccard FROM m
      |WHERE est >= 0.7 ORDER BY a, b""".stripMargin

  private val DriftCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** One UNION ALL block per drift column: the per-side stats of the q152
    * numeric drift report, alias-matched to [[operators.Drift.numericDrift]].
    */
  private def driftSideSql(cols: Seq[String], src: String, tag: String): String =
    cols.map(c =>
      s"""SELECT '$c' AS "column", count($c) AS count_$tag,
         | round(avg($c), 4) AS mean_$tag,
         | round(stddev_samp($c), 4) AS stddev_$tag,
         | CAST(min($c) AS DOUBLE) AS min_$tag, CAST(max($c) AS DOUBLE) AS max_$tag,
         | round((count(*) - count($c)) / CAST(count(*) AS DOUBLE), 6) AS null_rate_$tag
         |FROM $src""".stripMargin).mkString("\nUNION ALL\n")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted keys (hash-seeded LSH internals) get the
    * driver's weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_scan_multi_append" ->
      "SELECT * FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders) t ORDER BY o_orderkey",
    "q02_time_travel" -> "SELECT * FROM orders ORDER BY o_orderkey",
    "q03_restore" -> "SELECT * FROM orders ORDER BY o_orderkey",
    "q04_overwrite" ->
      "SELECT * FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey",
    "q05_delete" ->
      "SELECT * FROM lineitem WHERE NOT (l_returnflag = 'A' OR l_quantity > 45) ORDER BY l_orderkey, l_linenumber",
    "q76_dv_delete" ->
      """SELECT * FROM lineitem
        |WHERE NOT (l_returnflag = 'A' OR l_quantity > 45) AND NOT l_discount > 0.09
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q150_spec_dv_scan" ->
      """SELECT * FROM lineitem
        |WHERE NOT (l_returnflag = 'A' OR l_quantity > 45) AND NOT l_discount > 0.09
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q151_minhash_store_dedup" -> MinHashStoreCte,
    "q154_apply_mixture" ->
      """WITH w(lang, e) AS (SELECT * FROM (VALUES ('en', 2.3), ('de', 0.5),
        |  ('fr', 1.0)) t(lang, e)),
        |base AS (SELECT d.doc_id, d.lang, w.e FROM documents d
        |         JOIN w ON d.lang = w.lang),
        |k AS (SELECT doc_id, lang,
        |  CAST(floor(e) AS BIGINT) +
        |  CASE WHEN ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT <
        |    CAST(floor((e - floor(e)) * 1152921504606846976.0) AS BIGINT)
        |  THEN 1 ELSE 0 END AS copies FROM base)
        |SELECT doc_id, lang, unnest(range(1, copies + 1)) AS "copy" FROM k
        |ORDER BY doc_id, "copy"""".stripMargin,
    // the surviving state after the INSERT OVERWRITE is the low-key slice
    "q170_sql_insert" ->
      "SELECT * FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey",
    // the v0-pinned clone sees exactly the CTAS slice
    "q175_sql_ctas_clone" ->
      "SELECT * FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey",
    // the DDL lifecycle is literal-closed-form: identity rids are
    // 100,110,… in VALUES order (LocalRelation single-partition blocks),
    // uname = upper(name), the constraint-era rows all have bal >= 0 and
    // the post-drop row is the one negative
    "q188_sql_ddl_lifecycle" ->
      """SELECT CAST(rid AS BIGINT) AS rid, CAST(nk AS BIGINT) AS nk,
        |  name, upper(name) AS uname, CAST(bal AS DOUBLE) AS bal
        |FROM (VALUES
        |  (100, 2, 'ada', 1.5), (110, 1, 'bob', 2.5), (120, 3, 'cat', 0.0),
        |  (130, 2, 'dan', 4.25), (140, 1, 'eve', 3.5), (150, 3, 'fox', 1.25),
        |  (160, 2, 'gus', 5.0), (170, 1, 'hal', 0.75), (180, 3, 'ion', -2.5))
        |  t(rid, nk, name, bal)
        |ORDER BY rid""".stripMargin,
    // replaced slice re-priced exactly (double is IEEE-exact), the rest
    // byte-identical
    "q192_sql_replace_where" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // exactly-once per file ⇒ the table is orders, no duplicates
    "q193_copy_into" ->
      "SELECT * FROM orders ORDER BY o_orderkey",
    // cumulative-AND funnel replayed with lateral aliases
    "q195_filter_funnel" ->
      """WITH t AS (SELECT text, string_split(lower(text), ' ') AS ts
        |           FROM documents),
        |f AS (SELECT
        |  CASE WHEN length(text) >= 80 THEN 1 ELSE 0 END AS k1,
        |  k1 * (CASE WHEN len(ts) >= 40 THEN 1 ELSE 0 END) AS k2,
        |  k2 * (CASE WHEN len(list_distinct(ts)) * 1.0 / len(ts) >= 0.28
        |        THEN 1 ELSE 0 END) AS k3,
        |  k3 * (CASE WHEN list_contains(ts, 'spark') THEN 1 ELSE 0 END) AS k4
        | FROM t),
        |a AS (SELECT count(*) AS n, sum(k1) AS k1, sum(k2) AS k2,
        |             sum(k3) AS k3, sum(k4) AS k4 FROM f)
        |SELECT CAST(rank AS BIGINT) AS rank, stage,
        |  CAST(entered AS BIGINT) AS entered, CAST(dropped AS BIGINT) AS dropped,
        |  CAST(kept AS BIGINT) AS kept
        |FROM (
        |  SELECT 1 AS rank, 'min_chars' AS stage, n AS entered,
        |         n - k1 AS dropped, k1 AS kept FROM a
        |  UNION ALL SELECT 2, 'min_tokens', k1, k1 - k2, k2 FROM a
        |  UNION ALL SELECT 3, 'distinct_ratio', k2, k2 - k3, k3 FROM a
        |  UNION ALL SELECT 4, 'has_spark', k3, k3 - k4, k4 FROM a
        |  UNION ALL SELECT 5, 'TOTAL', n, n - k4, k4 FROM a)
        |ORDER BY rank""".stripMargin,
    // variant_get typed extraction ≡ json_extract on the source strings
    "q194_variant_column" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // same replay as q100 (the TVF is the SQL spelling of that feed)
    "q191_table_changes" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        | CAST(2 AS BIGINT) AS _commit_version,
        | 'update_preimage' AS _change_type
        |FROM nation WHERE n_nationkey < 5
        |UNION ALL
        |SELECT n_nationkey, n_name, CAST(n_regionkey + 10 AS INTEGER),
        | CAST(2 AS BIGINT), 'update_postimage'
        |FROM nation WHERE n_nationkey < 5
        |ORDER BY _change_type, n_nationkey""".stripMargin,
    // per-partition metadata answers ≡ the scan's grouped aggregate
    "q196_metadata_grouped_agg" ->
      """SELECT l_returnflag, count(*) AS cnt, min(l_quantity) AS min_qty,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the metadata answers must equal the scan answers exactly
    "q190_metadata_only_agg" ->
      """SELECT count(*) AS cnt,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        |  count(o_orderpriority) AS cnt_prio
        |FROM orders""".stripMargin,
    // named-lifecycle replay: v0 = CTAS slice (keys < 4000); current =
    // keys < 8000 with %100=0 rows merged (price doubled exactly, status
    // 'M') plus the %100=0 keys >= 8000 inserted as 'N' (+1 by the later
    // UPDATE, exact IEEE), minus the %10=7 deletes
    "q189_sql_named_catalog" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'M' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey < 8000
        |  UNION ALL
        |  SELECT o_orderkey, 'N', o_totalprice + 1 FROM orders
        |  WHERE o_orderkey % 100 = 0 AND o_orderkey >= 8000)
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CASE WHEN o_orderkey < 4000 THEN 1 ELSE 0 END AS in_v0
        |FROM merged WHERE o_orderkey % 10 <> 7
        |ORDER BY o_orderkey""".stripMargin,
    // paragraph near-dup replay: the fixture's composition is closed-form
    // (para0 = text(d), para1 = text((d+100)%200), para2 = text(d%50)), so
    // the oracle rebuilds the paragraph table from the base documents and
    // computes EXACT trigram Jaccard — banding recall is 100% here because
    // all >= 0.8 pairs are identical texts (jaccard 1.0), which collide in
    // every band (the q21 equivalence argument)
    "q174_paragraph_neardup" ->
      """WITH p AS MATERIALIZED (
        |  SELECT doc_id AS doc, 0 AS para, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT d.doc_id, 1, s.text FROM documents d JOIN documents s
        |    ON s.doc_id = (d.doc_id + 100) % 200 WHERE d.doc_id < 200
        |  UNION ALL
        |  SELECT d.doc_id, 2, s.text FROM documents d JOIN documents s
        |    ON s.doc_id = d.doc_id % 50 WHERE d.doc_id < 200),
        |toks AS MATERIALIZED (
        |  SELECT doc, para, string_split(lower(text), ' ') AS ts FROM p),
        |tri AS MATERIALIZED (
        |  SELECT doc, para, list_distinct(list_transform(
        |    range(1, greatest(len(ts) - 1, 1)),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh FROM toks),
        |pr AS (SELECT x.doc AS a_doc, x.para AS a_para,
        |    y.doc AS b_doc, y.para AS b_para,
        |    len(list_intersect(x.sh, y.sh)) AS i, len(x.sh) AS nx, len(y.sh) AS ny
        |  FROM tri x JOIN tri y
        |    ON (x.doc < y.doc OR (x.doc = y.doc AND x.para < y.para)))
        |SELECT a_doc, a_para, b_doc, b_para,
        |  round(i * 1.0 / (nx + ny - i), 4) AS jaccard
        |FROM pr WHERE i * 1.0 / (nx + ny - i) >= 0.8
        |ORDER BY a_doc, a_para, b_doc, b_para""".stripMargin,
    // ALTER lifecycle replay: added columns filled by the SQL UPDATE,
    // nationkey widened to BIGINT, mktsegment renamed
    "q173_sql_alter" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END AS vip,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal,
        |  c_mktsegment AS segment, c_acctbal * 0.1 AS score
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // SQL MERGE replay: %10=5 deleted, %10=0 updated (doubled balance,
    // MERGED segment), sub-50 keys re-inserted shifted by 1e6 as NEW
    "q171_sql_merge" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
        |       ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey % 10 = 0 THEN 'MERGED'
        |       ELSE c_mktsegment END AS c_mktsegment
        |FROM customer WHERE c_custkey % 10 <> 5
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'NEW'
        |FROM customer WHERE c_custkey < 50
        |ORDER BY c_custkey""".stripMargin,
    // v0 of the lifecycle fixture is exactly one copy of orders
    "q169_sql_select" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // scene-cut replay: both frames of every consecutive pair regenerate
    // from the closed form (scene s = f // sceneLen), the mean abs byte
    // delta recomputes exactly (64 small ints sum exactly in a double),
    // and the threshold replays — is_cut true exactly at scene boundaries
    "q179_video_scene_cuts" ->
      """WITH v AS (SELECT doc_id, 8 + doc_id % 9 AS nf, 3 + doc_id % 4 AS sl
        |           FROM documents WHERE doc_id < 200),
        |fr AS (SELECT doc_id, sl, f.range AS f FROM v, range(1, 17) f
        |       WHERE f.range < nf),
        |d AS (SELECT doc_id, f,
        |  (SELECT avg(abs(
        |     (((doc_id*131 + (f // sl)) * 2654435761 + i.range*31) & 255) -
        |     (((doc_id*131 + ((f-1) // sl)) * 2654435761 + i.range*31) & 255)))
        |   FROM range(0, 64) i) AS delta
        | FROM fr)
        |SELECT doc_id, f AS frame_idx, round(delta, 4) AS delta,
        |  delta >= 16.0 AS is_cut
        |FROM d ORDER BY doc_id, frame_idx""".stripMargin,
    // frame-dedup replay: frames regenerate from the closed form
    // (id + f) and fingerprint as md5 of the comma-joined unsigned bytes
    "q168_video_frame_dedup" ->
      """WITH v AS (SELECT doc_id, 4 + doc_id % 13 AS nf FROM documents
        |           WHERE doc_id < 200),
        |fr AS (SELECT doc_id, f.range AS f FROM v, range(0, 17) f
        |       WHERE f.range < nf),
        |fh AS (SELECT doc_id, f,
        |  md5((SELECT string_agg(((doc_id + f) * 2654435761 + i.range * 31) & 255,
        |       ',' ORDER BY i.range) FROM range(0, 64) i)) AS frame_md5
        |  FROM fr)
        |SELECT a.doc_id AS a, b.doc_id AS b, a.f AS frame_a, b.f AS frame_b,
        |  a.frame_md5
        |FROM fh a JOIN fh b ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
        |ORDER BY a, b, frame_a, frame_b""".stripMargin,
    // dHash replay from the fixture's closed-form pixels (PNG is
    // lossless, so the real decode recovers them exactly): integer
    // grayscale, floor box averages, gradient bits ordered (row, col)
    "q167_perceptual_dhash" ->
      """WITH imgs AS (SELECT doc_id, 16 + doc_id % 32 AS w,
        |  16 + (doc_id * 3) % 32 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (SELECT i.doc_id, i.w, i.h, x.range AS x, y.range AS y,
        |  ((i.doc_id * 2654435761) + x.range * 31 + y.range * 131) & 16777215 AS rgb
        |  FROM imgs i, range(0, 47) x, range(0, 47) y
        |  WHERE x.range < i.w AND y.range < i.h),
        |g AS (SELECT doc_id, w, h, x, y,
        |  (((rgb >> 16) & 255) * 299 + ((rgb >> 8) & 255) * 587 +
        |   (rgb & 255) * 114) // 1000 AS gray FROM px),
        |c AS (SELECT doc_id, (y * 8) // h AS rj, (x * 9) // w AS ci,
        |  sum(gray) // count(*) AS cell FROM g GROUP BY 1, 2, 3),
        |b AS (SELECT l.doc_id, l.rj, l.ci,
        |  CASE WHEN r.cell > l.cell THEN '1' ELSE '0' END AS bit
        |  FROM c l JOIN c r ON r.doc_id = l.doc_id AND r.rj = l.rj
        |    AND r.ci = l.ci + 1
        |  WHERE l.ci < 8),
        |d AS (SELECT doc_id, string_agg(bit, '' ORDER BY rj, ci) AS dhash
        |      FROM b GROUP BY doc_id)
        |SELECT i.doc_id, CAST(i.w AS BIGINT) AS width,
        |  CAST(i.h AS BIGINT) AS height, d.dhash
        |FROM imgs i JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin,
    // exact-store replay: md5 equality IS text equality; both engines
    // hash the same UTF-8 bytes to the same lowercase hex
    "q165_exact_store_dedup" ->
      """WITH h0 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
        |      UNION ALL
        |      SELECT doc_id + 1000000, md5(text) FROM documents
        |      WHERE doc_id % 2 = 0 AND doc_id < 40)
        |SELECT h0.doc_id AS a, b.doc_id AS b, h0.fp
        |FROM h0 JOIN b USING (fp) ORDER BY a, b""".stripMargin,
    // robust-z replay: DuckDB's quantile_cont IS Spark's interpolated
    // percentile (the q52 contract); MAD-0 groups stay null
    "q164_robust_zscore" ->
      """WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
        |            FROM documents GROUP BY 1),
        |mad AS (SELECT d.source, quantile_cont(abs(d.n_chars - med.med), 0.5) AS mad
        |        FROM documents d JOIN med USING (source) GROUP BY d.source),
        |j AS (SELECT d.doc_id, d.source, d.n_chars, med.med, mad.mad
        |      FROM documents d JOIN med USING (source)
        |      JOIN mad ON mad.source = d.source)
        |SELECT doc_id, source, n_chars,
        |  CASE WHEN mad > 0
        |       THEN round((n_chars - med) / (1.4826 * mad), 6) END AS robust_z
        |FROM j ORDER BY doc_id""".stripMargin,
    // bigram replay: adjacency by position self-join; 1 - 0.7 stays a
    // SQL-side double subtraction so both engines use the identical
    // interpolation weight; avg rounds before the exp (the q86 rule)
    "q163_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS tok FROM t),
        |pc AS (SELECT a.doc_id, a.tok AS prev, b.tok AS w, count(*) AS c
        |       FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |       GROUP BY 1, 2, 3),
        |big AS (SELECT prev, w, sum(c) AS cb FROM pc GROUP BY 1, 2),
        |lft AS (SELECT prev, sum(cb) AS cl FROM big GROUP BY 1),
        |uni AS (SELECT tok AS w, count(*) AS cu FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
        |d AS (SELECT pc.doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(sum(c * ln(0.7 * (CAST(cb AS DOUBLE) / cl) +
        |    (1 - 0.7) * (CAST(cu AS DOUBLE) / total))) / sum(c), 4) AS avg_logprob
        |  FROM pc JOIN big USING (prev, w) JOIN lft USING (prev)
        |       JOIN uni USING (w) CROSS JOIN tot
        |  GROUP BY pc.doc_id)
        |SELECT doc_id, n_bigrams, avg_logprob, round(exp(-avg_logprob), 2) AS ppl
        |FROM d ORDER BY doc_id""".stripMargin,
    // q57's oracle plus the tolerance bound on the correlated max
    "q162_asof_tolerance" ->
      """SELECT e.event_id, e.user_id, e.ts,
        | (SELECT max(p.ts) FROM events p WHERE p.user_id = e.user_id
        |    AND p.event_type = 'purchase' AND p.ts <= e.ts
        |    AND p.ts >= e.ts - INTERVAL 6 HOUR) AS asof_purchase_ts
        |FROM events e ORDER BY e.event_id""".stripMargin,
    // store replay: the merged per-lang sketch over both batches equals
    // the bottom-256 distinct token hashes of the WHOLE corpus (min-k
    // composability), so the oracle recomputes from documents directly
    "q160_kmv_store" ->
      """WITH tok AS (SELECT DISTINCT lang,
        |  ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  WHERE t <> ''),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS cnt FROM tok),
        |g AS (SELECT lang, max(CASE WHEN rn = 256 THEN h END) AS kth_hash,
        |      max(cnt) AS cnt FROM r GROUP BY lang)
        |SELECT lang,
        |  CASE WHEN kth_hash IS NULL THEN cnt
        |       ELSE CAST(floor(255.0 * 1152921504606846976.0 /
        |                       CAST(kth_hash AS DOUBLE)) AS BIGINT) END AS est_distinct,
        |  kth_hash, CAST(2 AS BIGINT) AS n_batches
        |FROM g ORDER BY lang""".stripMargin,
    // A-ES replay: same md5-uniform u, same ln(u)/w key rounded to 9
    // decimals, same per-source top-20 with the doc_id tiebreak
    "q161_weighted_sample" ->
      """WITH t AS (SELECT doc_id, source,
        |  round(ln((('0x' || substr(md5('r11seed:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
        |           / 1152921504606846976.0) / CAST(n_chars AS DOUBLE), 9) AS es_key
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |        ORDER BY es_key DESC, doc_id) AS rn FROM t)
        |SELECT doc_id, source, es_key FROM r WHERE rn <= 20
        |ORDER BY source, doc_id""".stripMargin,
    // KMV sketch replay: k smallest distinct md5-prefix60 hashes per
    // group; estimate = floor((k-1)·2^60 / kth) — identical arithmetic in
    // both engines since 2^60 and the floored quotient are exact doubles
    "q158_kmv_distinct" ->
      """WITH hs AS (SELECT DISTINCT l_returnflag AS grp,
        |  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        |      FROM hs),
        |ex AS (SELECT l_returnflag AS grp, count(DISTINCT l_partkey) AS exact_distinct
        |       FROM lineitem GROUP BY 1),
        |per AS (SELECT r.grp, max(CASE WHEN rn = 256 THEN h END) AS kth_hash,
        |        min(ex.exact_distinct) AS exact_distinct
        |        FROM r JOIN ex ON r.grp = ex.grp GROUP BY r.grp),
        |gh AS (SELECT DISTINCT
        |  ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |gr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM gh),
        |gall AS (SELECT '*ALL*' AS grp, max(CASE WHEN rn = 256 THEN h END) AS kth_hash,
        |         (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_distinct
        |         FROM gr),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM gall)
        |SELECT grp,
        |  CASE WHEN kth_hash IS NULL THEN exact_distinct
        |       ELSE CAST(floor(255.0 * 1152921504606846976.0 /
        |                       CAST(kth_hash AS DOUBLE)) AS BIGINT) END AS est_distinct,
        |  exact_distinct, kth_hash
        |FROM u ORDER BY grp""".stripMargin,
    // the fixture's lifecycle ran as spark.sql statements: create + append
    // (API), then SQL OPTIMIZE, SQL RESTORE to v1, SQL VACUUM — the live
    // set is two copies of orders through v1's original files
    "q157_sql_surface" ->
      """WITH h(version, operation) AS (VALUES
        |  (0, 'CREATE TABLE'), (1, 'WRITE'), (2, 'OPTIMIZE'), (3, 'RESTORE'))
        |SELECT CAST(version AS BIGINT) AS version, operation,
        |  2 * (SELECT count(*) FROM orders) AS rows_live
        |FROM h ORDER BY version""".stripMargin,
    "q156_embedding_drift" ->
      """WITH sa AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |sb AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings
        |       WHERE vec_id % 3 <> 0),
        |ea AS (SELECT label, unnest(range(len(v))) AS dim, unnest(v) AS x,
        |  sqrt(list_dot_product(v, v)) AS nrm FROM sa),
        |eb AS (SELECT label, unnest(range(len(v))) AS dim, unnest(v) AS x,
        |  sqrt(list_dot_product(v, v)) AS nrm FROM sb),
        |ga AS (SELECT label, dim, avg(x) AS m, count(*) AS n, avg(nrm) AS an
        |       FROM ea GROUP BY 1, 2),
        |gb AS (SELECT label, dim, avg(x) AS m, count(*) AS n, avg(nrm) AS an
        |       FROM eb GROUP BY 1, 2),
        |va AS (SELECT label, list(m ORDER BY dim) AS c, min(n) AS count_a,
        |       round(min(an), 4) AS mean_norm_a FROM ga GROUP BY label),
        |vb AS (SELECT label, list(m ORDER BY dim) AS c, min(n) AS count_b,
        |       round(min(an), 4) AS mean_norm_b FROM gb GROUP BY label)
        |SELECT a.label, count_a, mean_norm_a, count_b, mean_norm_b,
        | round(list_dot_product(a.c, b.c) /
        |   (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c))),
        |   6) AS centroid_cos
        |FROM va a JOIN vb b ON a.label = b.label ORDER BY a.label""".stripMargin,
    "q155_mixture_pack" ->
      """WITH w(lang, e) AS (SELECT * FROM (VALUES ('en', 2.3), ('de', 0.5),
        |  ('fr', 1.0)) t(lang, e)),
        |base AS (SELECT d.doc_id, d.lang, w.e FROM documents d
        |         JOIN w ON d.lang = w.lang),
        |k AS (SELECT doc_id, lang,
        |  CAST(floor(e) AS BIGINT) +
        |  CASE WHEN ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT <
        |    CAST(floor((e - floor(e)) * 1152921504606846976.0) AS BIGINT)
        |  THEN 1 ELSE 0 END AS copies FROM base),
        |rep AS (SELECT doc_id, unnest(range(1, copies + 1)) AS c FROM k),
        |u AS (SELECT doc_id * 10 + c AS unit_id, doc_id FROM rep),
        |h AS (SELECT unit_id,
        |  ('0x' || substr(md5(CAST(unit_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
        |  CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_tokens
        |  FROM u JOIN documents d ON d.doc_id = u.doc_id),
        |c2 AS (SELECT unit_id, shard, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY unit_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        |  FROM h)
        |SELECT unit_id, shard, n_tokens, start_offset,
        | start_offset // 256 AS pack_first,
        | (start_offset + greatest(n_tokens, 1) - 1) // 256 AS pack_last
        |FROM c2 ORDER BY unit_id""".stripMargin,
    "q152_numeric_drift" -> {
      val pred = "NOT (l_returnflag = 'A' OR l_quantity > 45)"
      s"""WITH delb AS MATERIALIZED (SELECT * FROM lineitem WHERE $pred),
         |sa AS (${driftSideSql(DriftCols, "lineitem", "a")}),
         |sb AS (${driftSideSql(DriftCols, "delb", "b")})
         |SELECT sa."column", count_a, mean_a, stddev_a, min_a, max_a, null_rate_a,
         | count_b, mean_b, stddev_b, min_b, max_b, null_rate_b,
         | round(mean_b - mean_a, 4) AS mean_delta
         |FROM sa JOIN sb ON sa."column" = sb."column" ORDER BY sa."column"""".stripMargin
    },
    "q153_categorical_drift" ->
      """WITH a AS (SELECT l_returnflag AS cat, count(*) AS count_a FROM lineitem GROUP BY 1),
        |b AS (SELECT l_returnflag AS cat, count(*) AS count_b FROM lineitem
        |      WHERE NOT (l_returnflag = 'A' OR l_quantity > 45) GROUP BY 1),
        |j AS (SELECT coalesce(a.cat, b.cat) AS l_returnflag,
        |  coalesce(count_a, 0) AS count_a, coalesce(count_b, 0) AS count_b,
        |  coalesce(count_a, 0) / CAST((SELECT sum(count_a) FROM a) AS DOUBLE) AS sa,
        |  coalesce(count_b, 0) / CAST((SELECT sum(count_b) FROM b) AS DOUBLE) AS sb
        |  FROM a FULL OUTER JOIN b ON a.cat = b.cat)
        |SELECT l_returnflag, count_a, count_b,
        | round(sa, 6) AS share_a, round(sb, 6) AS share_b,
        | round(((sa + 1e-6) - (sb + 1e-6)) * ln((sa + 1e-6) / (sb + 1e-6)), 6) AS psi
        |FROM j ORDER BY l_returnflag""".stripMargin,
    "q99_purge_scan" ->
      """SELECT * FROM lineitem
        |WHERE NOT (l_returnflag = 'A' OR l_quantity > 45) AND NOT l_discount > 0.09
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q98_generated_prune_scan" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        | value, props, CAST(ts AS DATE) AS event_date
        |FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "q100_cdc_update_feed" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        | CAST(2 AS BIGINT) AS _commit_version,
        | 'update_preimage' AS _change_type
        |FROM nation WHERE n_nationkey < 5
        |UNION ALL
        |SELECT n_nationkey, n_name, CAST(n_regionkey + 10 AS INTEGER),
        | CAST(2 AS BIGINT), 'update_postimage'
        |FROM nation WHERE n_nationkey < 5
        |ORDER BY _change_type, n_nationkey""".stripMargin,
    "q101_deep_clone_scan" ->
      "SELECT * FROM supplier WHERE s_acctbal >= 0 ORDER BY s_suppkey",
    "q105_clustered_scan" ->
      """SELECT * FROM lineitem WHERE l_quantity BETWEEN 10 AND 15
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // IEEE float→double conversion is exact, so the widened narrow-file
    // values match CAST(CAST(x AS REAL) AS DOUBLE) bit-for-bit
    "q107_type_widening" ->
      """WITH a AS (SELECT o_orderkey,
        |    CAST(CAST(o_custkey AS INTEGER) AS BIGINT) AS o_custkey,
        |    CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice
        |  FROM orders),
        |b AS (SELECT o_orderkey + 20000000 AS o_orderkey,
        |    CAST(CAST(o_custkey AS INTEGER) AS BIGINT) + 5000000000 AS o_custkey,
        |    CAST(CAST(o_totalprice AS REAL) AS DOUBLE) + 0.25 AS o_totalprice
        |  FROM orders WHERE o_orderkey < 100)
        |SELECT * FROM a UNION ALL SELECT * FROM b ORDER BY o_orderkey""".stripMargin,
    // the hive partition column comes back typed (partition discovery),
    // so cast to match the raw table's integer type
    "q115_merge_evolved" ->
      """WITH upd AS (SELECT n_nationkey, 'UP-' || n_name AS n_name,
        |    n_regionkey, 'hot' AS flag FROM nation WHERE n_nationkey < 10),
        |ins AS (SELECT n_nationkey + 100 AS n_nationkey,
        |    n_name, n_regionkey, 'new' AS flag
        |  FROM nation WHERE n_nationkey < 3),
        |keep AS (SELECT n_nationkey, n_name, n_regionkey,
        |    CAST(NULL AS VARCHAR) AS flag FROM nation WHERE n_nationkey >= 10)
        |SELECT * FROM upd UNION ALL SELECT * FROM ins UNION ALL
        |SELECT * FROM keep ORDER BY n_nationkey""".stripMargin,
    "q113_convert_scan" ->
      """SELECT * FROM supplier
        |UNION ALL
        |SELECT s_suppkey + 10000000 AS s_suppkey, s_name, s_nationkey,
        |  s_acctbal FROM supplier
        |ORDER BY s_suppkey""".stripMargin,
    "q114_dynamic_overwrite" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.5
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q112_column_defaults" ->
      """WITH t AS (SELECT lang FROM documents
        |  UNION ALL SELECT 'und' AS lang FROM documents WHERE doc_id < 200)
        |SELECT lang, count(*) AS n_docs FROM t GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // base write + the four modulo slices appended again
    "q108_auto_optimize_scan" ->
      """SELECT * FROM supplier
        |UNION ALL SELECT * FROM supplier
        |ORDER BY s_suppkey, s_acctbal""".stripMargin,
    // identity = 1-based insertion rank: write 1 is the full table in
    // doc_id order, write 2 the shifted sub-slice continuing above the
    // first write's high-water mark (COUNT(*))
    "q106_identity_scan" ->
      """WITH n AS (SELECT COUNT(*) AS c FROM documents),
        |a AS (SELECT doc_id, text, lang, source, n_chars,
        |    CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS doc_seq
        |  FROM documents),
        |b AS (SELECT doc_id + 10000000 AS doc_id, text, lang, source, n_chars,
        |    (SELECT c FROM n) + CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS doc_seq
        |  FROM documents WHERE doc_id < 100)
        |SELECT * FROM a UNION ALL SELECT * FROM b ORDER BY doc_id""".stripMargin,
    "q104_importance_weights" ->
      """WITH tok AS (SELECT doc_id, lang = 'en' AS t,
        |    unnest(string_split(lower(text), ' ')) AS tk FROM documents),
        |c AS (SELECT tk, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |    COUNT(*) AS cr FROM tok GROUP BY tk),
        |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr, COUNT(*) AS v FROM c),
        |r AS (SELECT tk, ln((ct + 1.0) / (tt + v)) - ln((cr + 1.0) / (tr + v)) AS llr
        |    FROM c CROSS JOIN tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    ROUND(SUM(llr), 4) AS importance_weight
        |FROM tok JOIN r USING (tk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // row ids = 0-based key rank (ordered range-split single-file writes
    // allocate contiguous ranges in key order); the MoR delete removes
    // rows without renumbering survivors
    "q103_row_ids_scan" ->
      """WITH ranked AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |    CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS _row_id
        |  FROM customer)
        |SELECT * FROM ranked WHERE c_custkey % 7 <> 0
        |ORDER BY c_custkey""".stripMargin,
    // same closed form as q103: the post-OPTIMIZE table must preserve it
    "q109_stable_row_ids" ->
      """WITH ranked AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |    CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS _row_id
        |  FROM customer)
        |SELECT * FROM ranked WHERE c_custkey % 7 <> 0
        |ORDER BY c_custkey""".stripMargin,
    // closed form of the rate-limited CDF backfill: v0 initial inserts,
    // v2 exact update pre/postimages, v3 appended inserts, v4 MoR delete
    "q102_cdf_stream_ratelimited" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        | CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, CAST(2 AS BIGINT),
        | 'update_preimage' FROM nation WHERE n_nationkey < 5
        |UNION ALL
        |SELECT n_nationkey, n_name, CAST(n_regionkey + 10 AS INTEGER),
        | CAST(2 AS BIGINT), 'update_postimage' FROM nation WHERE n_nationkey < 5
        |UNION ALL
        |SELECT n_nationkey + 100, n_name, n_regionkey, CAST(3 AS BIGINT),
        | 'insert' FROM nation WHERE n_nationkey < 3
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, CAST(4 AS BIGINT),
        | 'delete' FROM nation WHERE n_nationkey = 10
        |ORDER BY _commit_version, _change_type, n_nationkey""".stripMargin,
    "q77_check_constraint" ->
      "SELECT * FROM orders ORDER BY o_orderkey",
    "q81_bloom_lookup" ->
      "SELECT * FROM documents WHERE doc_id IN (100, 101, 102, 4321) ORDER BY doc_id",
    "q82_meta_count" ->
      """SELECT COUNT(*) AS cnt FROM lineitem
        |WHERE NOT (l_returnflag = 'A' OR l_quantity > 45) AND NOT l_discount > 0.09""".stripMargin,
    "q83_meta_minmax" ->
      """SELECT MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
        | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty FROM lineitem""".stripMargin,
    "q78_dv_changes" ->
      """SELECT * FROM lineitem
        |WHERE NOT (l_returnflag = 'A' OR l_quantity > 45) AND l_discount > 0.09
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q06_partitioned_scan" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q126_show_partitions" ->
      "SELECT DISTINCT l_returnflag FROM lineitem ORDER BY l_returnflag",
    "q07_schema_evolution" ->
      """SELECT doc_id, text, lang, CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars FROM documents
        |UNION ALL SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id, source ASC NULLS FIRST""".stripMargin,
    "q08_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q09_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q10_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q11_semi_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |ORDER BY o_orderkey""".stripMargin,
    "q12_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q13_window_latest_order" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_orderdate FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q14_topk_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "q15_intersect" ->
      "SELECT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer ORDER BY o_custkey",
    "q16_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q50_q5_multijoin" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q17_history" ->
      """SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'CREATE TABLE'), (CAST(1 AS BIGINT), 'WRITE'),
        | (CAST(2 AS BIGINT), 'DELETE'), (CAST(3 AS BIGINT), 'RESTORE')) AS t(version, operation)
        |ORDER BY version""".stripMargin,
    // measured invariant of the fixture (nation is a fixed 25-row table at
    // every SF): create=1 file, append=2, copy-on-write delete rewrites the
    // 2 touched files into 2, restore(1) re-adds v1's 2 files.
    "q18_file_counts" ->
      """SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
        | (CAST(1 AS BIGINT), CAST(2 AS BIGINT)), (CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
        | (CAST(3 AS BIGINT), CAST(2 AS BIGINT))) AS t(version, num_files)
        |ORDER BY version""".stripMargin,
    "q19_dedup_exact" -> "SELECT DISTINCT * FROM documents ORDER BY doc_id",
    // bit-identical 60-bit md5-token SimHash recomputed from scratch: the
    // full hamming<=3 pair set is exact ground truth, no blocking involved
    "q22_simhash" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM t),
        |b AS (SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |      FROM h, range(60) r(j) GROUP BY doc_id, j),
        |s AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS sim
        |      FROM b GROUP BY doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
        |FROM s x JOIN s y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sim, y.sim)) <= 3 ORDER BY a, b""".stripMargin,
    // the only cos >= ~0.52 neighbor of each query in the doubled corpus is
    // its identical twin, so ANN top-1 ground truth is closed-form
    "q24_ann_lsh" ->
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank,
        | vec_id + 10000 AS neighbor_id, CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    "q43_ann_ivf" ->
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank,
        | vec_id + 10000 AS neighbor_id, CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    // persisted-index IVF shares q43's twin closed form: the twin shares
    // the query's nearest cell by construction and exact-ranks to 1.0
    "q172_ann_index" ->
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank,
        | vec_id + 10000 AS neighbor_id, CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    "q117_ann_pq" ->
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank,
        | vec_id + 10000 AS neighbor_id, CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    // identical twin encodes identically, survives the quantized pass in
    // every banding, and exact-reranks to cosine 1.0 top-1
    "q90_ann_quantized_rerank" ->
      """SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS rank,
        | vec_id + 10000 AS neighbor_id, CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    "q20_ngram_jaccard" -> TriCte,
    // banded MinHash at (64 hashes, 16 bands) has verified 100% recall on
    // this corpus at threshold 0.8, and candidates are re-checked with
    // exact Jaccard — so the LSH result equals the exact-pairs oracle.
    "q21_minhash_lsh" -> TriCte,
    "q23_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q, c WHERE neighbor_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 4) AS cos_sim
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // identical duplicate vectors collide in every LSH band, so recall for
    // the >= 0.95 pairs (only the exact duplicates qualify; max non-dup
    // pairwise cosine in this corpus is ~0.51) is exactly 100%.
    "q25_embed_neardup" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
        |           UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM u),
        |p AS (SELECT x.vec_id AS a, y.vec_id AS b,
        |  list_dot_product(x.ve, y.ve) / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve))) AS cos
        |  FROM v x JOIN v y ON x.vec_id < y.vec_id)
        |SELECT a, b, round(cos, 4) AS cos_sim FROM p WHERE cos >= 0.95 ORDER BY a, b""".stripMargin,
    "q116_token_budget" ->
      """WITH tk AS (SELECT doc_id, n_chars,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_chars, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tk)
        |SELECT doc_id, n_chars, n_tokens FROM c WHERE cum <= 15000
        |ORDER BY doc_id""".stripMargin,
    "q26_token_count" ->
      """SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens,
        | length(text) AS n_chars_obs
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ts FROM documents)
         |SELECT doc_id, len(ts) AS n_tokens,
         | round(list_sum(list_transform(ts, t -> length(t))) / len(ts), 4) AS avg_token_len,
         | round(len(list_filter(ts, t -> list_contains($StopList, t))) / len(ts), 4) AS stopword_ratio,
         | round((length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / length(text), 4) AS punct_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "q28_lang_id" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
         |s AS (SELECT doc_id,
         | len(list_filter(ts, t -> list_contains(${markerList("en")}, t))) AS score_en,
         | len(list_filter(ts, t -> list_contains(${markerList("de")}, t))) AS score_de,
         | len(list_filter(ts, t -> list_contains(${markerList("es")}, t))) AS score_es,
         | len(list_filter(ts, t -> list_contains(${markerList("fr")}, t))) AS score_fr,
         | len(list_filter(ts, t -> list_contains(${markerList("zh")}, t))) AS score_zh
         |FROM t)
         |SELECT doc_id, $AllScores,
         | CASE WHEN score_en > 0 AND score_en = $Greatest THEN 'en'
         |      WHEN score_de > 0 AND score_de = $Greatest THEN 'de'
         |      WHEN score_es > 0 AND score_es = $Greatest THEN 'es'
         |      WHEN score_fr > 0 AND score_fr = $Greatest THEN 'fr'
         |      WHEN score_zh > 0 AND score_zh = $Greatest THEN 'zh'
         |      ELSE 'und' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin,
    "q29_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |tri AS (SELECT doc_id, ts, list_distinct(list_transform(range(1, greatest(len(ts) - 1, 1)),
        |  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh FROM t)
        |SELECT doc_id, md5(array_to_string(ts, ' ')) AS canonical_md5,
        | list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS min_shingle_md5
        |FROM tri ORDER BY doc_id""".stripMargin,
    "q44_subword_count" ->
      """SELECT doc_id,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subwords,
        | len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS n_distinct_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same enrichment, same three RE2-compatible regexes, same
    // email→phone→ip redaction order as operators.Pii
    "q84_pii_redact" ->
      s"""WITH e AS (SELECT doc_id, text ||
         | CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         | CASE WHEN doc_id % 3 = 1 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         | CASE WHEN doc_id % 3 = 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t
         | FROM documents),
         |r1 AS (SELECT doc_id, CAST(len(regexp_extract_all(t, '${operators.Pii.EmailRe}')) AS BIGINT) AS n_emails,
         | regexp_replace(t, '${operators.Pii.EmailRe}', '<EMAIL>', 'g') AS t FROM e),
         |r2 AS (SELECT doc_id, n_emails, CAST(len(regexp_extract_all(t, '${operators.Pii.PhoneRe}')) AS BIGINT) AS n_phones,
         | regexp_replace(t, '${operators.Pii.PhoneRe}', '<PHONE>', 'g') AS t FROM r1),
         |r3 AS (SELECT doc_id, n_emails, n_phones, CAST(len(regexp_extract_all(t, '${operators.Pii.Ipv4Re}')) AS BIGINT) AS n_ipv4,
         | regexp_replace(t, '${operators.Pii.Ipv4Re}', '<IP>', 'g') AS t FROM r2)
         |SELECT doc_id, n_emails, n_phones, n_ipv4, t AS redacted FROM r3 ORDER BY doc_id""".stripMargin,
    "q92_url_signals" ->
      s"""WITH e AS (SELECT doc_id, lower(text ||
         | CASE WHEN doc_id % 4 = 0 THEN ' see https://www.site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
         | CASE WHEN doc_id % 4 = 1 THEN ' via http://spam' || CAST(doc_id % 3 AS VARCHAR) || '.badsite.net' ELSE '' END ||
         | CASE WHEN doc_id % 4 = 2 THEN ' at https://docs.example.org/x' || CAST(doc_id AS VARCHAR) ELSE '' END) AS t
         | FROM documents),
         |h AS (SELECT doc_id, regexp_extract_all(t, '${operators.Pii.UrlRe}', 1) AS hosts FROM e),
         |dm AS (SELECT doc_id, hosts, list_transform(hosts, x ->
         |  array_to_string(string_split(x, '.')[greatest(len(string_split(x, '.')) - 1, 1):], '.')) AS domains FROM h)
         |SELECT doc_id, CAST(len(hosts) AS BIGINT) AS n_urls,
         | CAST(len(list_filter(domains, d -> d = 'badsite.net')) AS BIGINT) AS n_blocked,
         | coalesce(array_to_string(list_sort(list_distinct(domains)), ','), '') AS domains,
         | len(list_filter(domains, d -> d = 'badsite.net')) > 0 AS blocked
         |FROM dm ORDER BY doc_id""".stripMargin,
    // per-doc DISTINCT windows, so a window's occurrence count across the
    // exploded set IS its document frequency
    "q85_dup_passages" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |w AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 3),
        |  i -> array_to_string(ts[i:i+4], ' ')))) AS win FROM t WHERE len(ts) >= 5),
        |d AS (SELECT win, count(*) AS docfreq FROM w GROUP BY win)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        | CAST(sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        | round(sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_ratio
        |FROM w JOIN d USING (win) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q132_bpe_merges" -> bpeTrainOracle(20),
    "q131_chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
        |  FROM documents WHERE doc_id < 100),
        |s AS (SELECT doc_id, tk, unnest(range(0, len(tk), 40)) AS st FROM t)
        |SELECT doc_id, st // 40 AS chunk_idx,
        |  array_to_string(tk[st+1 : st+50], ' ') AS chunk_text,
        |  CAST(len(tk[st+1 : st+50]) AS BIGINT) AS n_tokens
        |FROM s WHERE len(tk[st+1 : st+50]) > 0
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q121_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(ts[i:i+4], ' ') AS gram
        |  FROM t, unnest(range(1, len(ts) - 3)) AS u(i) WHERE len(ts) >= 5),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |p AS (SELECT doc_id, pos FROM g JOIN d USING (gram)),
        |l AS (SELECT doc_id, pos,
        |  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM p),
        |i AS (SELECT doc_id, pos,
        |  sum(CASE WHEN prev IS NULL OR pos - prev > 4 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM l)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 5 AS BIGINT) AS span_end, count(*) AS n_dup_grams
        |FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,
    "q147_remove_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS tok FROM t),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(ts[i:i+4], ' ') AS gram
        |  FROM t, unnest(range(1, len(ts) - 3)) AS u(i) WHERE len(ts) >= 5),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT p.doc_id, p.pos + r.o AS pos
        |  FROM (SELECT doc_id, pos FROM g JOIN d USING (gram)) p, range(0, 5) r(o)),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
        |  LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.pos = tok.pos
        |  WHERE cov.pos IS NULL),
        |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text,
        |  count(*) AS kept FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM t)
        |SELECT tot.doc_id, coalesce(ka.cleaned_text, '') AS cleaned_text,
        |  tot.n_tokens,
        |  CAST(tot.n_tokens - coalesce(ka.kept, 0) AS BIGINT) AS n_removed
        |FROM tot LEFT JOIN ka USING (doc_id) ORDER BY tot.doc_id""".stripMargin,
    "q87_rename_scan" ->
      """WITH r AS (SELECT doc_id, text, lang, source, n_chars AS char_count FROM documents)
        |SELECT * FROM r
        |UNION ALL SELECT doc_id + 100000, text, lang, source, char_count FROM r
        |ORDER BY doc_id""".stripMargin,
    "q91_datasource_roundtrip" ->
      "SELECT * FROM customer ORDER BY c_custkey",
    "q89_rebased_delete_scan" ->
      """SELECT * FROM orders WHERE NOT (o_totalprice > 100000)
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
        | o_orderdate, o_orderpriority FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // CAST(ts AS TIMESTAMP) pins the oracle to the µs precision the
    // engine table stores (QueryLib.events normalizes ts to µs NTZ; a
    // no-op on the TIMESTAMP(MICROS) fixture, a ns-truncation on legacy)
    "q88_generated_partition_scan" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        | value, props, CAST(ts AS DATE) AS event_date
        |FROM events ORDER BY event_id""".stripMargin,
    "q86_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
        |f AS (SELECT tk, count(*) AS freq FROM tok GROUP BY tk),
        |j AS (SELECT doc_id, ln(freq / total) AS lp FROM tok JOIN f USING (tk) CROSS JOIN n),
        |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, round(avg(lp), 4) AS avg_logprob
        |      FROM j GROUP BY doc_id)
        |SELECT doc_id, n_tokens, avg_logprob, round(exp(-avg_logprob), 2) AS ppl
        |FROM a ORDER BY doc_id""".stripMargin,
    "q53_hash_split" ->
      """WITH h AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b,
        |  text FROM documents),
        |s AS (SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
        |  text FROM h)
        |SELECT split, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "q110_domain_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rk FROM documents)
        |SELECT doc_id, source, n_chars FROM r WHERE rk <= 50
        |ORDER BY doc_id""".stripMargin,
    "q111_training_order" ->
      """SELECT doc_id,
        |  md5('graft-epoch0:' || CAST(doc_id AS VARCHAR)) AS _shuffle_key
        |FROM documents ORDER BY _shuffle_key""".stripMargin,
    "q70_stratified_sample" ->
      """WITH h AS (SELECT lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs FROM h
        |WHERE b < CASE WHEN lang = 'en' THEN 20 ELSE 100 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q71_curation_topk" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ts FROM documents),
         |q AS (SELECT doc_id, lang, len(ts) AS n_tokens,
         |  round(len(list_filter(ts, t -> list_contains($StopList, t))) / len(ts), 4) AS stopword_ratio
         |  FROM t),
         |r AS (SELECT lang, doc_id, n_tokens, stopword_ratio,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS lang_rank
         |  FROM q)
         |SELECT lang, lang_rank, doc_id, n_tokens, stopword_ratio
         |FROM r WHERE lang_rank <= 3 ORDER BY lang, lang_rank""".stripMargin,
    // decontamination: trigram construction mirrors q29's; the hashed
    // shingle join in the engine matches string equality to 2^-64
    "q72_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |tri AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ts) - 1, 1)),
        |  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM tri WHERE doc_id % 37 = 0),
        |m AS (SELECT doc_id, unnest(sh) AS s FROM tri),
        |c AS (SELECT m.doc_id, count(*) AS n FROM m JOIN bench USING (s) GROUP BY m.doc_id)
        |SELECT t.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_matched_ngrams,
        | c.n IS NOT NULL AS contaminated
        |FROM t LEFT JOIN c ON t.doc_id = c.doc_id ORDER BY t.doc_id""".stripMargin,
    // packing placement is integer arithmetic over a deterministic order:
    // md5-bucket shard, per-shard exclusive cumsum, integer division
    "q73_pack_sequences" ->
      """WITH h AS (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM h)
        |SELECT doc_id, shard, n_tokens, start_offset,
        | start_offset // 256 AS pack_first,
        | (start_offset + greatest(n_tokens, 1) - 1) // 256 AS pack_last
        |FROM c ORDER BY doc_id""".stripMargin,
    // the keep-threshold replays the engine's exact IEEE sequence
    // (T*w / count * buckets, all DOUBLE), so floor() agrees
    "q74_mixture_sample" ->
      """WITH cn AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
        |k AS (SELECT source, least(10000, floor(60.0::DOUBLE * (CASE source
        |    WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3 WHEN 'src2' THEN 0.2
        |    WHEN 'src3' THEN 0.1 ELSE 0.0 END)::DOUBLE / c * 10000)) AS kb FROM cn),
        |s AS (SELECT d.source FROM documents d JOIN k USING (source)
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < kb)
        |SELECT source, count(*) AS n_docs FROM s GROUP BY source ORDER BY source""".stripMargin,
    "q149_mixture_allocation" ->
      """WITH a AS (SELECT lang,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available_tokens
        |  FROM documents GROUP BY lang),
        |w(lang, wt) AS (VALUES ('en', 0.5), ('de', 0.15), ('fr', 0.15),
        |  ('es', 0.1), ('zh', 0.1)),
        |j AS (SELECT a.lang, a.available_tokens, coalesce(w.wt, 0) AS wt
        |  FROM a LEFT JOIN w USING (lang)),
        |t AS (SELECT sum(wt) AS wtot FROM j)
        |SELECT j.lang, j.available_tokens,
        |  CAST(floor(50000.0 * j.wt / t.wtot) AS BIGINT) AS target_tokens,
        |  round(least(1.0, (50000.0 * j.wt / t.wtot) / j.available_tokens), 6) AS sampling_rate,
        |  round((50000.0 * j.wt / t.wtot) / j.available_tokens, 6) AS epochs
        |FROM j, t ORDER BY j.lang""".stripMargin,
    "q75_repetition_signals" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS tk FROM t),
        |f AS (SELECT doc_id, tk, count(*) AS f FROM tok GROUP BY doc_id, tk),
        |s AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_tokens, count(*) AS nd, max(f) AS top
        |      FROM f GROUP BY doc_id),
        |tri AS (SELECT doc_id, greatest(len(ts) - 2, 0) AS ntri,
        |  len(list_distinct(list_transform(range(1, greatest(len(ts) - 1, 1)),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS ntrid FROM t)
        |SELECT s.doc_id, n_tokens,
        | round(nd / n_tokens, 4) AS distinct_token_ratio,
        | round(top / n_tokens, 4) AS top_token_ratio,
        | CASE WHEN ntri > 0 THEN round(1 - ntrid / CAST(ntri AS DOUBLE), 4)
        |      ELSE 0.0::DOUBLE END AS dup_trigram_ratio
        |FROM s JOIN tri ON s.doc_id = tri.doc_id ORDER BY s.doc_id""".stripMargin,
    "q45_resize_plan" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height
        |  FROM documents),
        |s AS (SELECT doc_id, width, height,
        |  least(256.0 / width, 256.0 / height, 1.0) AS sc FROM f)
        |SELECT doc_id, width, height,
        | CAST(floor(width * sc) AS BIGINT) AS out_width,
        | CAST(floor(height * sc) AS BIGINT) AS out_height,
        | round(sc, 4) AS scale
        |FROM s ORDER BY doc_id""".stripMargin,
    // the decoded dims/frames must equal the image generator's closed
    // form — the Spark side genuinely parses the PNG/GIF bytes to get them
    "q30_multimodal_features" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/gif' END AS media_type,
        | CAST(16 + doc_id % 32 AS BIGINT) AS width,
        | CAST(16 + (doc_id * 3) % 32 AS BIGINT) AS height,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 + doc_id % 4 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_frame_sample" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 + doc_id % 4 END AS BIGINT) AS nf
        | FROM documents)
        |SELECT doc_id, unnest(range(0, nf, 2)) AS frame_idx FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "q33_stats_skipping_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 2000 AND l_discount > 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q54_pivot" ->
      """SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q55_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q38_embed_norms" ->
      """SELECT label, count(*) AS n,
        | round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "q39_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q118_variant_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q130_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q129_unpivot" ->
      """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 200)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  l_quantity AS val FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  l_extendedprice FROM src
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |  l_discount FROM src
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q135_subqueries" ->
      """SELECT c_mktsegment, count(*) AS n_custs,
        |  round(avg(c_acctbal), 2) AS avg_bal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > (SELECT avg(o_totalprice)
        |                                      FROM orders))
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q128_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q37_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q35_merge_upsert" ->
      """SELECT c_custkey, c_name, c_nationkey,
        | CASE WHEN c_custkey < 100 THEN 0.0 ELSE c_acctbal END AS c_acctbal,
        | c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 100000 AS c_custkey, c_name, c_nationkey,
        | c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin,
    "q133_incremental_agg" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders),
        |a AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey < 100 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM b WHERE NOT (o_totalprice > 150000))
        |SELECT o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS sum_value
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q140_merge_set_clause" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey < 100 THEN c_acctbal + 25.5
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment FROM customer
        |UNION ALL
        |SELECT c_custkey + 100000 AS c_custkey, 'NEW' AS c_name,
        |  0 AS c_nationkey, 11.25 AS c_acctbal, 'NONE' AS c_mktsegment
        |FROM customer WHERE c_custkey < 20
        |ORDER BY c_custkey""".stripMargin,
    "q124_scd_type2" ->
      """WITH closed AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment,
        |    TIMESTAMP '2024-01-01 00:00:00' AS _valid_from,
        |    TIMESTAMP '2024-06-01 00:00:00' AS _valid_to,
        |    FALSE AS _is_current
        |  FROM customer WHERE c_custkey < 100),
        |reopened AS (SELECT c_custkey, c_name, c_nationkey,
        |    c_acctbal + 50 AS c_acctbal, c_mktsegment,
        |    TIMESTAMP '2024-06-01 00:00:00', NULL::TIMESTAMP, TRUE
        |  FROM customer WHERE c_custkey < 100),
        |unchanged AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment,
        |    TIMESTAMP '2024-01-01 00:00:00', NULL::TIMESTAMP, TRUE
        |  FROM customer WHERE c_custkey >= 100),
        |newkeys AS (SELECT c_custkey + 100000 AS c_custkey, c_name,
        |    c_nationkey, c_acctbal, c_mktsegment,
        |    TIMESTAMP '2024-06-01 00:00:00', NULL::TIMESTAMP, TRUE
        |  FROM customer WHERE c_custkey < 50)
        |SELECT * FROM closed UNION ALL SELECT * FROM reopened
        |UNION ALL SELECT * FROM unchanged UNION ALL SELECT * FROM newkeys
        |ORDER BY c_custkey, _valid_from""".stripMargin,
    "q119_merge_nmbs" ->
      """SELECT c_custkey, c_name, c_nationkey,
        | c_acctbal + 100 AS c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey < 200
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |WHERE c_custkey >= 200 AND c_mktsegment <> 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    "q79_dv_merge" ->
      """SELECT c_custkey, c_name, c_nationkey,
        | CASE WHEN c_custkey < 100 THEN 0.0 ELSE c_acctbal END AS c_acctbal,
        | c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 100000 AS c_custkey, c_name, c_nationkey,
        | c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin,
    "q36_stateful_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e)
        |SELECT user_id, count(*) AS n_events,
        | CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q34_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e)
        |SELECT user_id, count(*) AS n_events,
        | CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q32_events_hourly_stream" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // a 2h-long window sliding hourly holds each event twice: once in the
    // window starting at its hour, once in the one an hour earlier
    "q127_sliding_window_stream" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS w0, event_type, value
        |  FROM events),
        |x AS (SELECT w0 AS window_start, event_type, value FROM e
        |  UNION ALL
        |  SELECT w0 - INTERVAL 1 HOUR, event_type, value FROM e)
        |SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // native session_window(gap) merges events whose spacing is <= gap, so
    // per-user (n_events, n_sessions) equals the lag-based q34 computation
    "q51_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e)
        |SELECT user_id, count(*) AS n_events,
        | CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Spark `percentile` and DuckDB `quantile_cont` are both exact with
    // linear interpolation
    "q52_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // append mode emits a window exactly when the watermark (max event time
    // - 30 min) passes its end; windows the final watermark never reaches
    // stay in state and are absent from the sink
    "q46_watermarked_stream" ->
      """WITH a AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |    count(*) AS cnt, round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT * FROM a
        |WHERE window_start + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE
        |ORDER BY window_start, event_type""".stripMargin,
    // compaction is dataChange=false and vacuum removes only unreferenced
    // files, so the maintained table reads identically to the plain union
    "q40_optimize_vacuum_scan" ->
      "SELECT * FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders) t ORDER BY o_orderkey",
    // v1 appends every orders row; v2's copy-on-write delete removes both
    // full files (each holds o_orderkey < 100 rows) and re-adds kept rows
    "q41_changes_feed" ->
      """WITH x2 AS (SELECT * FROM orders UNION ALL SELECT * FROM orders)
        |SELECT o.*, CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type FROM orders o
        |UNION ALL SELECT x.*, CAST(2 AS BIGINT), 'remove_file' FROM x2 x
        |UNION ALL SELECT x.*, CAST(2 AS BIGINT), 'insert' FROM x2 x WHERE o_orderkey >= 100
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,
    "q42_checkpointed_scan" ->
      "SELECT n.* FROM nation n CROSS JOIN range(12) ORDER BY n_nationkey",
    "q94_log_cleanup_scan" ->
      "SELECT n.* FROM nation n CROSS JOIN range(13) ORDER BY n_nationkey",
    "q47_import_scan" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q48_clone_scan" ->
      "SELECT * FROM orders WHERE NOT (o_orderkey < 100) ORDER BY o_orderkey",
    "q49_zorder_skipping_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_orderkey BETWEEN 500 AND 1500 AND l_quantity >= 40
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q69_morton_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_orderkey BETWEEN 500 AND 1500 AND l_quantity >= 40
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q56_update" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        | CASE WHEN l_quantity > 45 THEN 0.0 ELSE l_discount END AS l_discount,
        | l_tax, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q80_dv_update" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        | CASE WHEN l_quantity > 45 THEN 0.0 ELSE l_discount END AS l_discount,
        | l_tax, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // inclusive as-of semantics: a purchase AT the event's instant matches;
    // carrying the matched row's own timestamp makes ties value-identical
    "q142_rolling_window" ->
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4)
        |    AS rolling_avg
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q141_outlier_clip" ->
      """WITH b AS (SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo,
        |    q3 + 1.5 * (q3 - q1) AS hi FROM b),
        |k AS (SELECT e.event_type, e.value, f.lo, f.hi
        |  FROM events e JOIN f USING (event_type)
        |  WHERE e.value >= f.lo AND e.value <= f.hi)
        |SELECT event_type, count(*) AS kept, round(avg(value), 4) AS avg_kept,
        |  round(any_value(lo), 4) AS lo, round(any_value(hi), 4) AS hi
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q125_resample_ffill" ->
      """WITH h AS (SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
        |    round(avg(value), 4) AS obs
        |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
        |  FROM h GROUP BY 1),
        |g AS (SELECT user_id,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
        |  FROM s)
        |SELECT g.user_id, g.bucket_ts,
        |  last_value(obs IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.bucket_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  obs IS NOT NULL AS is_observed
        |FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.bucket_ts = h.bucket_ts
        |ORDER BY g.user_id, g.bucket_ts""".stripMargin,
    "q57_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
        | (SELECT max(p.ts) FROM events p WHERE p.user_id = e.user_id
        |    AND p.event_type = 'purchase' AND p.ts <= e.ts) AS asof_purchase_ts
        |FROM events e ORDER BY e.event_id""".stripMargin,
    "q58_range_join" ->
      """WITH pts AS (SELECT o_orderkey, o_totalprice,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d FROM orders),
        |iv AS (SELECT o_orderkey AS range_id,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS s
        |  FROM orders WHERE o_orderkey < 50)
        |SELECT range_id, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM iv JOIN pts ON pts.d BETWEEN iv.s AND iv.s + 7
        |GROUP BY range_id ORDER BY range_id""".stripMargin,
    // transitive closure over the SAME exact-Jaccard pair set the engine
    // clusters (components here are small, so the closure is cheap for the
    // oracle; the engine side is the scalable star-contraction)
    "q59_dedup_clusters" ->
      s"""WITH RECURSIVE $TriBase,
         |pr AS (SELECT a, b FROM pj WHERE j >= 0.8),
         |edges AS (SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr),
         |reach AS (SELECT DISTINCT u, u AS l FROM edges
         |          UNION
         |          SELECT e2.u, r.l FROM edges e2 JOIN reach r ON e2.v = r.u)
         |SELECT u AS doc_id, min(l) AS cluster_id FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "q144_char_entropy" ->
      """WITH c AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
        |    unnest(string_split_regex(text, '')) AS ch FROM documents),
        |f AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS fr,
        |    any_value(n) AS n FROM c WHERE ch <> '' GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_chars_obs,
        |  round(-sum((fr / n) * log2(fr / n)), 4) AS char_entropy
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q139_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ts
         |  FROM documents),
         |g AS (SELECT doc_id, text, CAST(len(ts) AS BIGINT) AS n_tokens,
         |    round(len(list_filter(ts, x -> list_contains($StopList, x)))
         |      / len(ts), 4) AS stopword_ratio
         |  FROM t WHERE len(ts) BETWEEN 20 AND 2000),
         |gq AS (SELECT * FROM g WHERE stopword_ratio >= 0.05),
         |dd AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
         |    ORDER BY doc_id) AS rk FROM gq),
         |w AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ts) - 3), i -> array_to_string(ts[i:i+4], ' '))))
         |    AS win FROM t WHERE len(ts) >= 5),
         |dfq AS (SELECT win, count(*) AS docfreq FROM w GROUP BY win),
         |dr AS (SELECT doc_id, round(sum(CASE WHEN docfreq >= 2 THEN 1
         |      ELSE 0 END) / count(*), 4) AS dup_ratio
         |  FROM w JOIN dfq USING (win) GROUP BY doc_id),
         |f AS (SELECT dd.doc_id, dd.n_tokens, dd.stopword_ratio FROM dd
         |  LEFT JOIN dr ON dr.doc_id = dd.doc_id
         |  WHERE rk = 1 AND coalesce(dup_ratio, 0) < 0.6),
         |c AS (SELECT *, SUM(n_tokens) OVER (ORDER BY stopword_ratio DESC,
         |    doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM f)
         |SELECT doc_id, n_tokens, stopword_ratio FROM c WHERE cum <= 30000
         |ORDER BY doc_id""".stripMargin,
    "q138_text_normalize" ->
      """WITH dirty AS (SELECT doc_id,
        |    '  ' || text || chr(9) || chr(1) || ' end  ' AS text FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g')) AS clean_text,
        |  CAST(length(text) AS BIGINT) AS raw_len,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g'))) AS BIGINT)
        |    AS clean_len
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "q137_video_features" ->
      """SELECT doc_id,
        |  CAST(100 + 72 * (4 + doc_id % 13) AS BIGINT) AS payload_len,
        |  CAST(32 + (doc_id % 16) * 8 AS BIGINT) AS width,
        |  CAST(24 + (doc_id % 12) * 8 AS BIGINT) AS height,
        |  CAST(4 + doc_id % 13 AS BIGINT) AS n_frames,
        |  CAST(10 + (doc_id % 3) * 5 AS BIGINT) AS fps,
        |  CAST((4 + doc_id % 13) * 1000 // (10 + (doc_id % 3) * 5) AS BIGINT)
        |    AS duration_ms
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "q136_audio_features" ->
      """SELECT doc_id,
        |  CAST(44 + 2 * (800 + doc_id % 800) AS BIGINT) AS payload_len,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS n_channels,
        |  CAST(800 + doc_id % 800 AS BIGINT) AS n_samples,
        |  CAST((800 + doc_id % 800) * 1000 // 8000 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "q134_dedup_keep_best" ->
      s"""WITH RECURSIVE $TriBase,
         |pr AS (SELECT a, b FROM pj WHERE j >= 0.8),
         |edges AS (SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr),
         |reach AS (SELECT DISTINCT u, u AS l FROM edges
         |          UNION
         |          SELECT e2.u, r.l FROM edges e2 JOIN reach r ON e2.v = r.u),
         |cl AS (SELECT u AS doc_id, min(l) AS cluster_id FROM reach GROUP BY u),
         |rk AS (SELECT cl.cluster_id, cl.doc_id,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY d.n_chars DESC, cl.doc_id) AS rk
         |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
         |SELECT cluster_id, max(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id,
         |  count(*) AS cluster_size
         |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "q60_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q61_stream_dedup" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q123_stream_upsert" ->
      """SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_event_type, round(value, 4) AS last_value
        |FROM (SELECT *, row_number() OVER
        |    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // kept rows = one copy of events + the genuinely-new shifted slice;
    // the in-watermark re-delivered slice is dropped by cross-batch state
    "q93_stream_dedup_watermark" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |UNION ALL
        |SELECT event_id + 10000000 AS event_id, ts + INTERVAL 2 HOUR AS ts,
        |  user_id, event_type, value, props
        |FROM events WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 50 MINUTE
        |ORDER BY event_id""".stripMargin,
    // the replaceWhere partition backfill: F rows replaced, others untouched
    "q62_replace_where" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderstatus <> 'F'
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin,
    // a streaming inner join emits exactly the batch join's matches; the
    // watermark only bounds state retention, never the inner-join output
    "q63_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,
    // CMS replay: identical md5-60 row:value bucketing, d x w counter
    // table, min over rows per probe token
    "q186_cms_estimates" ->
      """WITH tv AS MATERIALIZED (SELECT v FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS v
        |    FROM documents) WHERE v <> ''),
        |e AS (SELECT r.range AS row,
        |  ('0x' || substr(md5(r.range || ':' || v), 1, 15))::BIGINT % 1024
        |    AS bucket FROM tv, range(0, 4) r),
        |cms AS MATERIALIZED (SELECT row, bucket, count(*) AS cnt
        |  FROM e GROUP BY row, bucket),
        |probes AS (SELECT DISTINCT unnest(string_split(lower(text), ' '))
        |  AS token FROM documents WHERE doc_id = 0),
        |pe AS (SELECT token, r.range AS row,
        |  ('0x' || substr(md5(r.range || ':' || token), 1, 15))::BIGINT % 1024
        |    AS bucket FROM probes, range(0, 4) r WHERE token <> '')
        |SELECT token, min(coalesce(cnt, 0)) AS est_count
        |FROM pe LEFT JOIN cms USING (row, bucket)
        |GROUP BY token ORDER BY token""".stripMargin,
    // hard-negative replay: exact cosine over the anchor cross, band
    // filter, per-anchor rank — the q23 machinery with a band
    "q185_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS negative_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings),
        |s AS (SELECT anchor_id, negative_id,
        |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) *
        |    sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q, c WHERE negative_id <> anchor_id),
        |b AS (SELECT * FROM s WHERE cos >= 0.2 AND cos < 0.5),
        |r AS (SELECT anchor_id, negative_id, cos,
        |  row_number() OVER (PARTITION BY anchor_id
        |    ORDER BY cos DESC, negative_id) AS rank FROM b)
        |SELECT anchor_id, CAST(rank AS BIGINT) AS rank, negative_id,
        |  round(cos, 4) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,
    // stratified-split replay: per-lang md5 ranks, integer-exact
    // boundaries at n*8/10 and n*9/10
    "q184_stratified_split" ->
      """WITH o AS (SELECT doc_id, lang, md5('split:' || doc_id) AS h
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n FROM o)
        |SELECT doc_id, lang,
        |  CASE WHEN rk <= (n * 8) // 10 THEN 'train'
        |       WHEN rk <= (n * 9) // 10 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,
    // decontamination replay: rebuild the contaminated corpus, the
    // benchmark 5-gram set, covered positions, excision — q147's shape
    // with the dup-set swapped for the benchmark set
    "q183_decontaminate_spans" ->
      """WITH bench AS MATERIALIZED (SELECT doc_id AS bid,
        |    string_split(lower(text), ' ') AS bts
        |  FROM documents WHERE doc_id >= 300 AND doc_id < 320),
        |corpus AS MATERIALIZED (SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 10 = 0 THEN
        |    lower(d.text) || ' ' || array_to_string(b.bts[1:8], ' ')
        |  ELSE lower(d.text) END AS text
        |  FROM documents d JOIN bench b ON b.bid = d.doc_id % 20 + 300
        |  WHERE d.doc_id < 200),
        |t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM corpus),
        |tok AS (SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos,
        |  unnest(ts) AS tok FROM t),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |  array_to_string(ts[i:i+4], ' ') AS gram
        |  FROM t, unnest(range(1, len(ts) - 3)) AS u(i) WHERE len(ts) >= 5),
        |bg AS (SELECT DISTINCT array_to_string(bts[i:i+4], ' ') AS gram
        |  FROM bench, unnest(range(1, len(bts) - 3)) AS u(i)
        |  WHERE len(bts) >= 5),
        |cov AS (SELECT DISTINCT p.doc_id, p.pos + r.o AS pos
        |  FROM (SELECT doc_id, pos FROM g JOIN bg USING (gram)) p,
        |  range(0, 5) r(o)),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
        |  LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.pos = tok.pos
        |  WHERE cov.pos IS NULL),
        |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text,
        |  count(*) AS kept FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM t)
        |SELECT tot.doc_id, coalesce(ka.cleaned_text, '') AS cleaned_text,
        |  tot.n_tokens,
        |  CAST(tot.n_tokens - coalesce(ka.kept, 0) AS BIGINT) AS n_removed
        |FROM tot LEFT JOIN ka USING (doc_id) ORDER BY tot.doc_id""".stripMargin,
    // line-dedup replay: rebuild the composed paragraph fixture, split
    // to non-empty lines, per-(doc, line) distinct df, drop df > 3,
    // string_agg survivors in line order
    "q182_remove_dup_lines" ->
      """WITH p AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    d.text || chr(10) || chr(10) || s1.text || chr(10) || chr(10)
        |      || s2.text AS text
        |  FROM documents d
        |  JOIN documents s1 ON s1.doc_id = (d.doc_id + 100) % 200
        |  JOIN documents s2 ON s2.doc_id = d.doc_id % 50
        |  WHERE d.doc_id < 200),
        |l AS MATERIALIZED (
        |  SELECT doc_id, i.i AS ln, trim(lines[i.i]) AS line FROM (
        |    SELECT doc_id, string_split(text, chr(10)) AS lines FROM p),
        |    LATERAL (SELECT unnest(range(1, len(lines) + 1)) AS i) i
        |  WHERE len(trim(lines[i.i])) > 0),
        |hot AS (SELECT line FROM (
        |  SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line)
        |  WHERE df > 3),
        |f AS (SELECT l.doc_id, l.ln, l.line,
        |  CASE WHEN hot.line IS NULL THEN 1 ELSE 0 END AS kept
        |  FROM l LEFT JOIN hot ON l.line = hot.line)
        |SELECT doc_id,
        |  string_agg(CASE WHEN kept = 1 THEN line END, chr(10) ORDER BY ln)
        |    AS clean_text,
        |  count(*) AS n_lines,
        |  CAST(count(*) - sum(kept) AS BIGINT) AS n_removed
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Gopher-rules replay: the same dirtying CASE, then every signal as
    // the same list algebra (words/lines splits, counts, ratios) and the
    // same conjunctive verdict
    "q181_gopher_rules" ->
      """WITH dirty AS MATERIALIZED (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' # # # # # # # # # #'
         |       WHEN doc_id % 7 = 1 THEN '- ' || text || chr(10) ||
         |         '- filler one' || chr(10) || '- filler two'
         |       WHEN doc_id % 7 = 2 THEN text || chr(10) || 'tail one...' ||
         |         chr(10) || 'tail two...' || chr(10) || 'tail three...'
         |       WHEN doc_id % 7 = 3 THEN text || repeat(' 12345', 60)
         |       WHEN doc_id % 7 = 4 THEN text || repeat(' a', 200)
         |       WHEN doc_id % 7 = 5 THEN text || ' the of and that'
         |       ELSE text END AS text FROM documents),
         |t AS MATERIALIZED (SELECT doc_id, text,
         |  list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS ws,
         |  list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS ls
         |  FROM dirty),
         |sig AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  round(list_sum(list_transform(ws, w -> len(w))) * 1.0 / len(ws), 4)
         |    AS mean_word_len,
         |  round(((len(text) - len(replace(text, '#', ''))) +
         |    (len(text) - len(replace(text, '...', ''))) // 3) * 1.0 / len(ws), 4)
         |    AS symbol_ratio,
         |  round(len(list_filter(ls, l -> trim(l) LIKE '- %' OR
         |    trim(l) LIKE '* %' OR trim(l) LIKE '•%')) * 1.0 /
         |    greatest(len(ls), 1), 4) AS bullet_line_ratio,
         |  round(len(list_filter(ls, l -> trim(l) LIKE '%...' OR
         |    trim(l) LIKE '%…')) * 1.0 / greatest(len(ls), 1), 4)
         |    AS ellipsis_line_ratio,
         |  round(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
         |    * 1.0 / len(ws), 4) AS alpha_word_ratio,
         |  CAST(
         |    (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END) +
         |    (CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END) +
         |    (CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END) +
         |    (CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END) +
         |    (CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END) +
         |    (CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END) +
         |    (CASE WHEN list_contains(ws, 'have') THEN 1 ELSE 0 END) +
         |    (CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END)
         |  AS BIGINT) AS stop_hits FROM t)
         |SELECT *, (n_words BETWEEN 20 AND 100000 AND
         |  mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 AND
         |  bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3 AND
         |  alpha_word_ratio >= 0.8 AND stop_hits >= 2) AS keep
         |FROM sig ORDER BY doc_id""".stripMargin,
    // left-outer replay below the watermark-safe horizon: matched pairs
    // plus null-padded no-click purchases, exactly a batch LEFT JOIN
    "q176_stream_left_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'
        |  AND ts < (SELECT max(ts) FROM events) - INTERVAL 2 HOUR),
        |c AS (SELECT user_id AS c_user, event_id AS click_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.purchase_id, c.click_id
        |FROM p LEFT JOIN c ON c.c_user = p.user_id
        |  AND c.c_ts >= p.p_ts AND c.c_ts <= p.p_ts + INTERVAL 1 HOUR
        |ORDER BY user_id, purchase_id, click_id""".stripMargin,
    // every batch was delivered twice; the txn handshake must keep ONE copy
    "q67_idempotent_sink" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // graft table -> stream -> aggregate -> graft table: the sink must
    // equal the batch aggregation over the doubled source
    "q68_delta_source_stream" ->
      """WITH x2 AS (SELECT * FROM nation UNION ALL SELECT * FROM nation)
        |SELECT n_regionkey, count(*) AS n_nations,
        | CAST(sum(n_nationkey) AS BIGINT) AS sum_key
        |FROM x2 GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q95_graft_format_stream" ->
      "SELECT n.* FROM nation n CROSS JOIN range(3) ORDER BY n_nationkey",
    // the streaming change feed's sink holds: the initial snapshot's live
    // rows as insert @1, the appended keys as insert @2, and the MoR
    // delete's exact newly-dead row as delete @3
    "q97_cdf_stream" ->
      """SELECT n.*, CAST(1 AS BIGINT) AS _commit_version,
        | 'insert' AS _change_type FROM nation n WHERE n_nationkey >= 5
        |UNION ALL
        |SELECT n.*, CAST(2 AS BIGINT), 'insert' FROM nation n
        | WHERE n_nationkey < 5
        |UNION ALL
        |SELECT n.*, CAST(3 AS BIGINT), 'delete' FROM nation n
        | WHERE n_nationkey = 10
        |ORDER BY _commit_version, n_nationkey""".stripMargin,
    // identical twins are the only >= 0.95 pairs (max non-dup pairwise
    // cosine ~0.51) and always share a k-means cell, so the semantic
    // drop list has a closed form: every twin, kept by its original
    "q96_semantic_dedup" ->
      """SELECT vec_id AS keep_id, vec_id + 10000 AS drop_id,
        | CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings ORDER BY drop_id""".stripMargin,
    "q64_vocab" ->
      """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS freq FROM t GROUP BY token),
        |r AS (SELECT token, freq,
        |  CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS vocab_id FROM c)
        |SELECT token, freq, vocab_id FROM r WHERE vocab_id <= 100 ORDER BY vocab_id""".stripMargin,
    // tf-idf ranking compares the ROUNDED score (both engines round the
    // same 4 digits) so last-ulp ln() differences cannot flip ranks
    "q65_tfidf" ->
      """WITH tf AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tfa AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token),
        |dfa AS (SELECT token, count(*) AS df FROM tfa GROUP BY token),
        |s AS (SELECT doc_id, t.token, tf, df,
        |  round(tf * ln((SELECT count(*) FROM documents) / df), 4) AS tfidf
        |  FROM tfa t JOIN dfa d ON t.token = d.token),
        |r AS (SELECT doc_id, token, tf, df, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS BIGINT) AS term_rank
        |  FROM s)
        |SELECT doc_id, term_rank, token, tf, df, tfidf FROM r
        |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin,
    "q120_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avgdl FROM toks),
        |tf AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM toks),
        |tfa AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf FROM tf
        |  WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, dl, term),
        |dfa AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfa GROUP BY term),
        |s AS (SELECT doc_id, count(*) AS matched_terms,
        |  round(sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
        |    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
        |  FROM tfa JOIN dfa USING (term) CROSS JOIN stats GROUP BY doc_id)
        |SELECT doc_id, matched_terms, bm25 FROM s
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q122_random_projection" ->
      """WITH r AS (SELECT j, i,
        |  CASE WHEN strpos('01234567', substring(md5('jl:' || j || ':' || i), 1, 1)) > 0
        |       THEN 1.0 ELSE -1.0 END AS s
        |  FROM range(0, 16) t1(j), range(0, 64) t2(i)),
        |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |  unnest(embedding::DOUBLE[]) AS x FROM embeddings WHERE vec_id < 100)
        |SELECT vec_id, j AS out_dim, round(sum(x * s) / sqrt(16.0), 4) AS proj
        |FROM e JOIN r USING (i) GROUP BY vec_id, j ORDER BY vec_id, out_dim""".stripMargin,
    "q66_quantize_int8" ->
      """WITH d AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |  unnest(embedding::DOUBLE[]) AS x FROM embeddings),
        |s AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM d GROUP BY dim),
        |c AS (SELECT vec_id, d.dim, x, mn, mx,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE CAST(round((x - mn) / (mx - mn) * 254) - 127 AS INT) END AS code
        |  FROM d JOIN s ON d.dim = s.dim)
        |SELECT vec_id, CAST(dim AS BIGINT) AS dim, code,
        |  round((code + 127) / 254.0 * (mx - mn) + mn, 4) AS dequantized
        |FROM c WHERE vec_id < 100 ORDER BY vec_id, dim""".stripMargin,
  )

  /** Shared feature/target expressions for the q148 ridge fit — ONE
    * definition used by both the query and its dynamic oracle builder,
    * and mirrored term-for-term in the oracle SQL (ln(1+len), token
    * count, mean token length; target = punctuation-char ratio).
    */
  private def ridgeQualityFeatures: (Seq[org.apache.spark.sql.Column], org.apache.spark.sql.Column) = {
    val len = length(col("text")).cast("double")
    val nt = size(split(col("text"), " ")).cast("double")
    // sum of token lengths == len - (nt - 1): every separator is exactly
    // one consumed space, regardless of empty tokens
    val features = Seq(lit(1.0), log(lit(1.0) + len), nt, (len - (nt - 1)) / nt)
    val y = (len - length(regexp_replace(col("text"), "[.,;:!?]", "")).cast("double")) /
      greatest(len, lit(1.0))
    (features, y)
  }

  /** Features + binary label for the logistic classifier (q159): predict
    * "punctuation-rich" (ratio > 1%) from length/shape features alone —
    * the label must NOT be derivable from any single feature, or the fit
    * degenerates to a threshold copy.
    */
  private def logitQualityFeatures: (Seq[org.apache.spark.sql.Column], org.apache.spark.sql.Column) = {
    val len = length(col("text")).cast("double")
    val nt = size(split(col("text"), " ")).cast("double")
    val punct = (len - length(regexp_replace(col("text"), "[.,;:!?]", "")).cast("double")) /
      greatest(len, lit(1.0))
    val features = Seq(lit(1.0), log(lit(1.0) + len), (len - (nt - 1)) / nt)
    val label = (punct > lit(0.01)).cast("int")
    (features, label)
  }

  /** Static SQL replay of the FULL BPE training loop (q132): `numMerges`
    * unrolled rank blocks, each = weighted adjacent-pair count → argmax
    * (count desc, then lexicographic l, r — binary collation on both
    * engines) → greedy non-overlapping merge via the q146 island
    * machinery, with the per-rank winner cross-joined in instead of a
    * literal. MATERIALIZED per step (DuckDB inlines CTEs; a 20-step
    * chain would re-evaluate exponentially). This retires q132's
    * rows-only status: iterative ≠ inexpressible, just long.
    */
  private def bpeTrainOracle(numMerges: Int): String = {
    val steps = (1 to numMerges).map { k =>
      val prev = if (k == 1) "s0" else s"m${k - 1}"
      s"""p$k AS (SELECT a.sym AS l, b.sym AS r, CAST(sum(wc.c) AS BIGINT) AS cnt
         |  FROM $prev a JOIN $prev b ON b.w = a.w AND b.pos = a.pos + 1
         |  JOIN wc ON wc.w = a.w GROUP BY a.sym, b.sym),
         |b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |c$k AS (SELECT s.w, s.pos, s.sym, lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) AS nxt FROM $prev s),
         |k$k AS (SELECT c$k.w, pos, sym, CASE WHEN sym = b.l AND nxt = b.r THEN 1 ELSE 0 END AS cd FROM c$k CROSS JOIN b$k b),
         |i$k AS (SELECT w, pos, sym, cd, CASE WHEN cd = 1 THEN pos - row_number() OVER (PARTITION BY w, cd ORDER BY pos) END AS isl FROM k$k),
         |x$k AS MATERIALIZED (SELECT w, pos, sym, cd, CASE WHEN cd = 1 AND (pos - min(pos) OVER (PARTITION BY w, isl)) % 2 = 0 THEN 1 ELSE 0 END AS sel FROM i$k),
         |u$k AS (SELECT x.w, x.pos, b.l || b.r AS sym FROM x$k x CROSS JOIN b$k b WHERE x.sel = 1
         |  UNION ALL
         |  SELECT a.w, a.pos, a.sym FROM x$k a LEFT JOIN x$k p ON p.w = a.w AND p.pos = a.pos - 1 AND p.sel = 1 WHERE a.sel = 0 AND p.pos IS NULL),
         |m$k AS MATERIALIZED (SELECT w, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, sym FROM u$k)""".stripMargin
    }.mkString(",\n")
    val ranks = (1 to numMerges).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS rank, l AS "left", r AS "right", cnt AS pair_count FROM b$k""")
      .mkString("\nUNION ALL ")
    s"""WITH wc AS (SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT w, generate_subscripts(string_split(w, ''), 1) AS pos,
       |    unnest(string_split(w, '')) AS sym FROM wc
       |  UNION ALL
       |  SELECT w, length(w) + 1 AS pos, '</w>' AS sym FROM wc),
       |$steps
       |SELECT * FROM ($ranks) ORDER BY rank""".stripMargin
  }

  /** Oracle SQL whose text depends on DATA-DERIVED constants (a trained
    * codebook, a learned merge list): each builder re-derives the
    * constants deterministically at Verify time with the live session
    * and emits them as SQL literals. Verify merges these into
    * oracle_sql.json alongside [[oracleSql]], so the driver's DuckDB
    * compare treats them like any static entry.
    */
  def dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    // k-means: export the Lloyd-trained codebook as a VALUES table and
    // let DuckDB recompute each row's argmax cell (NearestCentroids'
    // metric: dot / centroid-norm, ties to the lower index) and the
    // full cosine to the assigned centroid.
    "q143_kmeans_clusters" -> ((s, d) => {
      val cents = Similarity.trainCentroids(
        QueryLib.delta(s, d, "embeddings"), "vec_id", "embedding",
        nCells = 8, iters = 5, seed = 42)
      val values = cents.zipWithIndex.flatMap { case (arr, c) =>
        arr.zipWithIndex.map { case (v, i) => s"($c, $i, $v::DOUBLE)" }
      }.mkString(", ")
      s"""WITH c(c, i, v) AS (VALUES $values),
         |n AS (SELECT c, sqrt(sum(v*v)) AS nrm FROM c GROUP BY c),
         |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |  unnest(embedding::DOUBLE[]) AS x FROM embeddings),
         |dt AS (SELECT e.vec_id, c.c, sum(e.x * c.v) AS dot
         |  FROM e JOIN c USING (i) GROUP BY e.vec_id, c.c),
         |xn AS (SELECT vec_id, sqrt(sum(x*x)) AS xnrm FROM e GROUP BY vec_id),
         |r AS (SELECT dt.vec_id, dt.c, dt.dot, n.nrm,
         |  row_number() OVER (PARTITION BY dt.vec_id
         |    ORDER BY dt.dot * (CASE WHEN n.nrm > 0 THEN 1.0 / n.nrm ELSE 1.0 END) DESC, dt.c) AS rk
         |  FROM dt JOIN n USING (c))
         |SELECT r.vec_id, CAST(r.c + 1 AS BIGINT) AS cluster_id,
         |  round(r.dot / (xn.xnrm * r.nrm), 4) AS centroid_sim
         |FROM r JOIN xn USING (vec_id) WHERE rk = 1 ORDER BY vec_id""".stripMargin
    }),
    // deflate compressibility: DuckDB has no zlib, but the zlib half is a
    // deterministic pure function of the bytes — compute it at Verify
    // time in a DRIVER loop (independent of the mapPartitions operator
    // path) and export (doc_id, deflate_bytes, ratio) as literals; the
    // raw-byte half and row coverage replay in SQL from the documents
    // table itself (an INNER join: a doc missing from either side drops
    // a row and fails the count/hash).
    "q145_compressibility" -> ((s, d) => {
      val deflater = new java.util.zip.Deflater(
        java.util.zip.Deflater.BEST_SPEED)
      val buf = new Array[Byte](1 << 16)
      val values = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"))
        .collect().sortBy(_.getLong(0))
        .map { r =>
          val raw = r.getString(1).getBytes("UTF-8")
          deflater.reset(); deflater.setInput(raw); deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          val ratio = if (raw.isEmpty) 1.0
            else math.rint(out.toDouble / raw.length * 10000) / 10000
          s"(${r.getLong(0)}, $out, $ratio)"
        }.mkString(", ")
      s"""WITH z(doc_id, deflate_bytes, compression_ratio) AS (VALUES $values)
         |SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS BIGINT) AS raw_bytes,
         |  CAST(z.deflate_bytes AS BIGINT) AS deflate_bytes,
         |  CAST(z.compression_ratio AS DOUBLE) AS compression_ratio
         |FROM documents d JOIN z USING (doc_id) ORDER BY d.doc_id""".stripMargin
    }),
    // DoReMi: the EG fold re-runs (deterministic driver arithmetic over
    // the same loss table) and the realized epochs export as literals —
    // the replay is applyMixture's md5-bernoulli copy expansion
    "q180_doremi_mixture" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val weights = operators.Sampling.doremiWeights(
        QueryLib.doremiLosses(s, d), "step", "lang", "excess").toMap
      val tok = size(split(lower(col("text")), " "))
      val epochs = operators.Sampling
        .mixtureAllocation(docs, "lang", tok, weights, budgetTokens = 30000L)
        .collect().map(r => r.getString(0) -> r.getAs[Double]("epochs")).toMap
      val values = epochs.toSeq.sortBy(_._1)
        .map { case (k, e) => s"('$k', $e)" }.mkString(", ")
      s"""WITH w(lang, e) AS (SELECT * FROM (VALUES $values) t(lang, e)),
         |base AS (SELECT d.doc_id, d.lang, w.e FROM documents d
         |         JOIN w ON d.lang = w.lang),
         |k AS (SELECT doc_id, lang,
         |  CAST(floor(e) AS BIGINT) +
         |  CASE WHEN ('0x' || substr(md5('doremi:' || doc_id), 1, 15))::BIGINT <
         |    CAST(floor((e - floor(e)) * 1152921504606846976.0) AS BIGINT)
         |  THEN 1 ELSE 0 END AS copies FROM base)
         |SELECT doc_id, lang, unnest(range(1, copies + 1)) AS "copy" FROM k
         |ORDER BY doc_id, "copy"""".stripMargin
    }),
    // UniMax: the waterfill is integer-exact driver arithmetic, exported
    // as (lang, fullEpochs, remainderTokens) literals; the replay is the
    // per-lang md5-ordered inclusive cumsum and copy expansion
    "q178_unimax_sample" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val plan = operators.Sampling.unimaxPlan(docs, "lang",
        size(split(lower(col("text")), " ")), 60000L, 3.0)
      val values = plan.map { case (k, _, f, rem) => s"('$k', $f, $rem)" }
        .mkString(", ")
      s"""WITH a(lang, f, rem) AS (VALUES $values),
         |tk AS (SELECT doc_id, lang,
         |  len(string_split(lower(text), ' ')) AS tok FROM documents),
         |o AS (SELECT doc_id, lang, tok, md5('unimax:' || doc_id) AS h FROM tk),
         |c AS (SELECT doc_id, lang, tok, sum(tok) OVER (PARTITION BY lang
         |  ORDER BY h, doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM o),
         |k AS (SELECT c.doc_id, c.lang,
         |  a.f + CASE WHEN a.rem > 0 AND c.cum <= a.rem THEN 1 ELSE 0 END AS copies
         |  FROM c JOIN a USING (lang))
         |SELECT doc_id, lang, unnest(range(1, copies + 1)) AS "copy"
         |FROM k WHERE copies >= 1 ORDER BY doc_id, "copy"""".stripMargin
    }),
    // cluster-balanced sample: re-derive the SAME codebook (deterministic
    // Lloyd), export it plus the driver-computed quotas as literals, and
    // replay assignment + md5-least per-cluster picks. Quotas ride as
    // literals because Σ n^alpha is float arithmetic whose summation
    // ORDER DuckDB doesn't guarantee — the exported constants make the
    // oracle exact, the same trained-constant pattern as the codebook.
    "q177_cluster_balanced_sample" -> ((s, d) => {
      val emb = QueryLib.delta(s, d, "embeddings")
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        nCells = 8, iters = 5, seed = 42)
      val assigned = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8)
        .select(col("vec_id"), col("cluster_id"))
      val quotas = operators.Sampling.clusterQuotas(assigned, total = 200, alpha = 0.5)
      val cvalues = cents.zipWithIndex.flatMap { case (arr, c) =>
        arr.zipWithIndex.map { case (v, i) => s"($c, $i, $v::DOUBLE)" }
      }.mkString(", ")
      val qvalues = quotas.map { case (c, q) => s"($c, $q)" }.mkString(", ")
      s"""WITH c(c, i, v) AS (VALUES $cvalues),
         |q(cl, quota) AS (VALUES $qvalues),
         |n AS (SELECT c, sqrt(sum(v*v)) AS nrm FROM c GROUP BY c),
         |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |  unnest(embedding::DOUBLE[]) AS x FROM embeddings),
         |dt AS (SELECT e.vec_id, c.c, sum(e.x * c.v) AS dot
         |  FROM e JOIN c USING (i) GROUP BY e.vec_id, c.c),
         |a AS (SELECT vec_id, c AS cluster_id FROM (
         |  SELECT dt.vec_id, dt.c, row_number() OVER (PARTITION BY dt.vec_id
         |    ORDER BY dt.dot * (CASE WHEN n.nrm > 0 THEN 1.0 / n.nrm ELSE 1.0 END) DESC, dt.c) AS rk
         |  FROM dt JOIN n USING (c)) WHERE rk = 1),
         |r AS (SELECT vec_id, cluster_id + 1 AS cluster_id,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY md5('div:' || vec_id), vec_id) AS pick
         |  FROM a)
         |SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
         |  CAST(pick AS BIGINT) AS pick_rank
         |FROM r JOIN q ON r.cluster_id = q.cl AND r.pick <= q.quota
         |ORDER BY vec_id""".stripMargin
    }),
    // BPE application: learn the same 20 merges, then replay the greedy
    // left-to-right non-overlapping merge of each rank as set operations
    // — candidate positions (s=l, next=r), islands of ADJACENT candidates
    // (only adjacency can overlap: selecting position p consumes p+1),
    // keep even offsets within an island (the greedy choice), fuse, and
    // renumber. One 6-CTE block per merge rank, generated here.
    "q146_bpe_apply" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents").filter(col("doc_id") < 100)
      val merges = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 20)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      def esc(x: String) = x.replace("'", "''")
      val steps = merges.zipWithIndex.map { case ((l, r), idx) =>
        val k = idx + 1
        val prev = if (k == 1) "s0" else s"m${k - 1}"
        s"""c$k AS (SELECT w, pos, s, lead(s) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM $prev),
           |k$k AS (SELECT w, pos, s, CASE WHEN s = '${esc(l)}' AND nxt = '${esc(r)}' THEN 1 ELSE 0 END AS cd FROM c$k),
           |i$k AS (SELECT w, pos, s, cd, CASE WHEN cd = 1 THEN pos - row_number() OVER (PARTITION BY w, cd ORDER BY pos) END AS isl FROM k$k),
           |x$k AS MATERIALIZED (SELECT w, pos, s, cd, CASE WHEN cd = 1 AND (pos - min(pos) OVER (PARTITION BY w, isl)) % 2 = 0 THEN 1 ELSE 0 END AS sel FROM i$k),
           |u$k AS (SELECT w, pos, '${esc(l + r)}' AS s FROM x$k WHERE sel = 1
           |  UNION ALL
           |  SELECT a.w, a.pos, a.s FROM x$k a LEFT JOIN x$k p ON p.w = a.w AND p.pos = a.pos - 1 AND p.sel = 1 WHERE a.sel = 0 AND p.pos IS NULL),
           |m$k AS MATERIALIZED (SELECT w, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, s FROM u$k)""".stripMargin
      }.mkString(",\n")
      val last = s"m${merges.length}"
      s"""WITH words AS (SELECT DISTINCT w FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents WHERE doc_id < 100) WHERE w <> ''),
         |s0 AS (
         |  SELECT w, generate_subscripts(string_split(w, ''), 1) AS pos,
         |    unnest(string_split(w, '')) AS s FROM words
         |  UNION ALL
         |  SELECT w, length(w) + 1 AS pos, '</w>' AS s FROM words),
         |$steps,
         |enc AS (SELECT w, count(*) AS n_sub, string_agg(s, ' ' ORDER BY pos) AS e
         |  FROM $last GROUP BY w),
         |occ AS (SELECT doc_id, o AS wpos, w FROM (
         |    SELECT doc_id,
         |      generate_subscripts(string_split(lower(text), ' '), 1) AS o,
         |      unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents WHERE doc_id < 100) WHERE w <> '')
         |SELECT occ.doc_id, CAST(sum(enc.n_sub) AS BIGINT) AS n_tokens,
         |  string_agg(enc.e, ' ' ORDER BY occ.wpos) AS enc
         |FROM occ JOIN enc USING (w) GROUP BY occ.doc_id ORDER BY doc_id""".stripMargin
    }),
    // ridge quality scorer: refit (coefficients round to 8 decimals, so
    // the refit's ulp noise matches the query's) and replay the linear
    // score over identically-defined SQL features
    // the logistic twin of q148: export the IRLS coefficients, replay the
    // sigmoid score + decision in SQL
    "q159_logit_quality" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val (f, y) = logitQualityFeatures
      val b = Regression.logisticFit(docs, f, y, lambda = 1.0, iters = 8)
      s"""WITH t AS (SELECT doc_id,
         |  CAST(length(text) AS DOUBLE) AS len,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |  (CAST(length(text) AS DOUBLE) -
         |     length(regexp_replace(text, '[.,;:!?]', '', 'g'))) /
         |    greatest(length(text), 1) AS punct
         |  FROM documents),
         |p AS (SELECT doc_id,
         |  CASE WHEN punct > 0.01 THEN 1 ELSE 0 END AS label,
         |  1.0 / (1.0 + exp(-(${b(0)} * 1.0 + ${b(1)} * ln(1 + len) +
         |    ${b(2)} * ((len - (nt - 1)) / nt)))) AS prob FROM t)
         |SELECT doc_id, round(prob, 4) AS p_quality,
         |  CASE WHEN prob >= 0.5 THEN 1 ELSE 0 END AS pred_label, label
         |FROM p ORDER BY doc_id""".stripMargin
    }),
    // curriculum replay: identical rounded scores -> identical
    // quantile_cont thresholds -> identical bins and md5 order keys
    "q166_curriculum" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val (f, y) = logitQualityFeatures
      val b = Regression.logisticFit(docs, f, y, lambda = 1.0, iters = 8)
      s"""WITH t AS (SELECT doc_id,
         |  CAST(length(text) AS DOUBLE) AS len,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt
         |  FROM documents),
         |sc AS (SELECT doc_id,
         |  round(1.0 / (1.0 + exp(-(${b(0)} * 1.0 + ${b(1)} * ln(1 + len) +
         |    ${b(2)} * ((len - (nt - 1)) / nt)))), 4) AS p_quality FROM t),
         |th AS (SELECT quantile_cont(p_quality, 0.25) AS t1,
         |  quantile_cont(p_quality, 0.5) AS t2,
         |  quantile_cont(p_quality, 0.75) AS t3 FROM sc)
         |SELECT doc_id, p_quality,
         |  CASE WHEN p_quality <= t1 THEN 1 WHEN p_quality <= t2 THEN 2
         |       WHEN p_quality <= t3 THEN 3 ELSE 4 END AS bin,
         |  ('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS order_key
         |FROM sc CROSS JOIN th ORDER BY bin, order_key, doc_id""".stripMargin
    }),
    "q148_ridge_quality" -> ((s, d) => {
      val docs = QueryLib.delta(s, d, "documents")
      val (f, y) = ridgeQualityFeatures
      val b = Regression.ridgeFit(docs, f, y, lambda = 1.0)
      s"""WITH t AS (SELECT doc_id,
         |  CAST(length(text) AS DOUBLE) AS len,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |  (CAST(length(text) AS DOUBLE) -
         |     length(regexp_replace(text, '[.,;:!?]', '', 'g'))) /
         |    greatest(length(text), 1) AS y
         |  FROM documents),
         |p AS (SELECT doc_id, y,
         |  ${b(0)} * 1.0 + ${b(1)} * ln(1 + len) + ${b(2)} * nt +
         |  ${b(3)} * ((len - (nt - 1)) / nt) AS pred FROM t)
         |SELECT doc_id, round(pred, 4) AS quality_pred,
         |  round(y - pred, 4) AS residual
         |FROM p ORDER BY doc_id""".stripMargin
    }),
  )
}
