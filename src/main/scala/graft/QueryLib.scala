package graft

import graft.log.WriteMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Shared engine-table cache for the declared query inventory.
  *
  * Relational queries run over OUR snapshot scans (DeltaTable.toDF), not raw
  * parquet — every query therefore exercises the log-replay + explicit-file
  * scan path end-to-end. Tables are written once per (sfDir, key) and reused
  * across queries; lifecycle queries (append/overwrite/delete/restore/…)
  * get purpose-built cached tables below.
  */
object QueryLib {

  private val cache = TrieMap.empty[(String, String), String]

  /** Raw driver-generated parquet table. */
  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Build a table once per (sfDir, key); return its directory. */
  def cachedDir(sfDir: String, key: String)(build: String => Unit): String =
    cache.getOrElseUpdate((sfDir, key), {
      val d = java.nio.file.Files.createTempDirectory(s"graft-$key-").toString
      build(d)
      d
    })

  /** The named raw table written into a graft Delta table and scanned back. */
  def delta(spark: SparkSession, sfDir: String, name: String,
      partitionBy: Seq[String] = Seq.empty): DataFrame =
    DeltaTable.forPath(deltaDir(spark, sfDir, name, partitionBy)).toDF(spark)

  /** Dir of the plain named table written as a graft Delta table (shared
    * fixture cache with [[delta]]).
    */
  def deltaDir(spark: SparkSession, sfDir: String, name: String,
      partitionBy: Seq[String] = Seq.empty): String =
    cachedDir(sfDir, name + partitionBy.mkString(":", ",", "")) { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, name),
        partitionBy = if (partitionBy.isEmpty) None else Some(partitionBy))
    }

  // ---- lifecycle fixtures (built once per sfDir, exercised by queries) ----

  /** orders appended twice: v0 = orders, v1 = orders again. */
  def ordersX2Dir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_x2") { d =>
      val df = raw(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(df).write(df)
    }

  /** v0 append, v1 append, v2 = restore(0). */
  def ordersRestoredDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_restore") { d =>
      val df = raw(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(df).write(df).restore(0L)
    }

  /** v0 = orders, v1 = overwrite with only status-F orders. */
  def ordersOverwrittenDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_overwrite") { d =>
      val df = raw(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(df)
        .write(df.filter(col("o_orderstatus") === "F"), mode = WriteMode.Overwrite)
    }

  /** MinHash signature STORE (cross-batch dedup history) initialized from
    * the even-doc_id half of `documents` — the odd half plays the role of
    * the incoming batch in q151.
    */
  def minhashStoreDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "minhash_store") { d =>
      graft.operators.Dedup.minHashStoreInit(spark, d,
        delta(spark, sfDir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
    }

  /** lineitem with `l_returnflag = 'A' or l_quantity > 45` deleted
    * copy-on-write.
    */
  def lineitemDeletedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_delete") { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, "lineitem"))
        .delete(spark, Some(col("l_returnflag") === "A" || col("l_quantity") > 45))
    }

  /** lineitem deleted via merge-on-read deletion vectors — same predicate
    * as the copy-on-write delete, then a SECOND MoR delete so the
    * prior-vector merge (total-per-file) path is exercised end-to-end.
    */
  def lineitemDvDeletedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_dv_delete") { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, "lineitem"))
        .deleteMergeOnRead(spark,
          Some(col("l_returnflag") === "A" || col("l_quantity") > 45))
        .deleteMergeOnRead(spark, Some(col("l_discount") > 0.09))
    }

  /** lineitem under `delta.enableDeletionVectors=true` (delta's own MoR
    * switch), so both deletes record delta-SPEC roaring-bitmap vectors —
    * the same double-delete shape as [[lineitemDvDeletedDir]], but the
    * dead rows resolve through the spec codec path end to end.
    */
  def lineitemSpecDvDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_spec_dv") { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, "lineitem"))
        .setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
        .deleteMergeOnRead(spark,
          Some(col("l_returnflag") === "A" || col("l_quantity") > 45))
        .deleteMergeOnRead(spark, Some(col("l_discount") > 0.09))
    }

  /** nation with `delta.enableChangeDataFeed=true`, then a copy-on-write
    * UPDATE: the commit carries `cdc` change-data files, so the change
    * feed serves EXACT update_preimage/update_postimage rows instead of
    * file-level add/remove reconstruction.
    */
  def nationCdcUpdatedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "nation_cdc_update") { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, "nation").coalesce(1))
        .setTableProperties(Map("delta.enableChangeDataFeed" -> "true"))
        .update(spark, Some(col("n_nationkey") < 5),
          Map("n_regionkey" -> (col("n_regionkey") + lit(10))))
    }

  /** DEEP clone of a DV'd supplier table: live bytes (and any `.bin`
    * vector) copied into a fresh version-0 table; the clone scan must serve the
    * source's exact post-delete rows with no reference to the source dir.
    */
  def supplierDeepCloneDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "supplier_deep_clone") { d =>
      val src = cachedDir(sfDir, "supplier_deep_clone_src") { s =>
        DeltaTable.forPath(s).write(raw(spark, sfDir, "supplier"))
          .deleteMergeOnRead(spark, Some(col("s_acctbal") < 0))
      }
      DeltaTable.forPath(src).deepCloneTo(spark, d)
    }

  /** lineitem with MoR deletes then REORG PURGE: every deletion vector is
    * rewritten away (dataChange=false), so the scan serves the same live
    * rows from clean files with no per-row dead-row filter.
    */
  def lineitemPurgedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_purged") { d =>
      val t = DeltaTable.forPath(d).write(raw(spark, sfDir, "lineitem"))
        .deleteMergeOnRead(spark,
          Some(col("l_returnflag") === "A" || col("l_quantity") > 45))
        .deleteMergeOnRead(spark, Some(col("l_discount") > 0.09))
        .purge(spark)
      require(t.dlog.addActions.values.forall(a =>
        graft.sources.DeletionVectors.refOf(a).isEmpty),
        "purge must leave no deletion vectors")
    }

  /** documents with `n_chars` renamed to `char_count` (metadata-only,
    * column-mapping), then a second batch appended THROUGH the new
    * logical name — so the scan reads pre-rename files (physical column
    * `n_chars`) and post-rename files (physical `n_chars` too, written
    * via the mapping) under one logical schema.
    */
  def documentsRenamedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_renamed") { d =>
      val docs = raw(spark, sfDir, "documents")
      DeltaTable.forPath(d).write(docs)
        .renameColumn("n_chars", "char_count")
        .write(docs.withColumnRenamed("n_chars", "char_count")
          .withColumn("doc_id", col("doc_id") + 100000L))
    }

  /** a deterministic commit race: a DELETE from a STALE handle (snapshot
    * v0) loses the version race to a concurrent blind append, detects no
    * logical conflict, and rebases — the appended rows survive even where
    * they match the delete predicate (WriteSerializable: the delete does
    * not observe rows appended after its snapshot).
    */
  def ordersRacedDeleteDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_raced_delete") { d =>
      val df = raw(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(df) // v0
      val stale = DeltaTable.forPath(d)
      DeltaTable.forPath(d).write( // v1: concurrent append wins the race
        df.withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      stale.delete(spark, Some(col("o_totalprice") > 100000)) // rebased v2
    }

  /** events partitioned by a GENERATED `event_date` column (computed at
    * write time from `ts` — the producer never supplies it), written in
    * two batches so the second write derives the column from the
    * schema-recorded expression, not the pending declaration.
    */
  def eventsGeneratedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "events_generated") { d =>
      val ev = events(spark, sfDir)
      DeltaTable.forPath(d)
        .withGeneratedColumn("event_date", "CAST(ts AS DATE)")
        .write(ev.filter(col("event_id") % 2 === 0),
          partitionBy = Some(Seq("event_date")))
      // a FRESH handle: the generation expression must come from the log
      DeltaTable.forPath(d).write(ev.filter(col("event_id") % 2 === 1))
    }

  /** orders written in two batches under a CHECK constraint — the
    * read-after-constrained-write path (every batch validated in one job
    * before any file lands; the constraint rides table configuration).
    */
  def ordersConstrainedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_constrained") { d =>
      val df = raw(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(df.filter(col("o_orderkey") % 2 === 0))
        .addConstraint(spark, "price_nonneg", "o_totalprice >= 0")
        .write(df.filter(col("o_orderkey") % 2 === 1))
    }

  /** documents hash-scattered over 8 files (min/max spans the full id
    * domain in every file) then Bloom-indexed on doc_id — the point-lookup
    * pruning fixture.
    */
  def docsBloomDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "docs_bloom") { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, "documents").repartition(8))
        .buildBloomIndex(spark, "doc_id")
    }

  /** documents appended with 3 columns, then evolved (schema merge) to 5. */
  def docsEvolvedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "docs_evolve") { d =>
      val df = raw(spark, sfDir, "documents")
      DeltaTable.forPath(d).write(df.select("doc_id", "text", "lang"))
        .write(df, schemaMode = "merge")
    }

  /** documents appended twice (duplicate corpus for dedup queries). */
  def docsX2(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "docs_x2") { d =>
      val df = raw(spark, sfDir, "documents")
      DeltaTable.forPath(d).write(df).write(df)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** embeddings plus a shifted-id copy (vec_id + 10000) appended as v1 —
    * the duplicate corpus for embedding near-dup detection.
    */
  def embX2(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "emb_x2") { d =>
      val df = raw(spark, sfDir, "embeddings")
      DeltaTable.forPath(d).write(df)
        .write(df.withColumn("vec_id", col("vec_id") + 10000))
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** documents with REAL media bytes (per-row PNG / animated GIF from
    * `Multimodal.attachImagePayload`) written into a graft table — binary
    * payload columns through our write/scan path, built once per sfDir so
    * queries time the DECODE, not the fixture generation (real pipelines
    * read media bytes from storage, they don't synthesize them per query).
    */
  def documentsMediaDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_media") { d =>
      DeltaTable.forPath(d).write(
        graft.operators.Multimodal.attachImagePayload(
          raw(spark, sfDir, "documents"), "doc_id"))
    }

  /** Real RIFF/WAVE audio payloads (synthesized 16-bit PCM sines) written
    * through a graft table — the audio arm of the multimodal family.
    */
  def documentsAudioDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_audio") { d =>
      DeltaTable.forPath(d).write(
        graft.operators.Multimodal.attachWavPayload(
          raw(spark, sfDir, "documents").filter(col("doc_id") < 200), "doc_id"))
    }

  /** Real RIFF/AVI video payloads (synthesized frame chunks) written
    * through a graft table — the video arm of the multimodal family.
    */
  def documentsVideoDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_video") { d =>
      DeltaTable.forPath(d).write(
        graft.operators.Multimodal.attachAviPayload(
          raw(spark, sfDir, "documents").filter(col("doc_id") < 200), "doc_id"))
    }

  /** Scene-structured AVI fixture (q179): frames byte-identical inside a
    * scene, hash-random across boundaries — closed form of (id, f, i), so
    * scene-cut detection gets a full pixel-rederiving oracle.
    */
  def documentsVideoScenesDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_video_scenes") { d =>
      DeltaTable.forPath(d).write(
        graft.operators.Multimodal.attachAviScenesPayload(
          raw(spark, sfDir, "documents").filter(col("doc_id") < 200), "doc_id"))
    }

  /** int8 codes of [[embX2]] materialized as a graft table (stats in
    * commit metadata) — the serving-side layout the two-stage quantized
    * retrieval scans for candidates.
    */
  def embCodesDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "emb_x2_int8codes") { d =>
      graft.operators.Similarity.writeInt8CodesTable(
        spark, embX2(spark, sfDir), "vec_id", "embedding", d)
    }

  /** lineitem written as range-partitioned files on l_orderkey so per-file
    * min/max stats are selective — the data-skipping fixture.
    */
  def lineitemRangedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_ranged") { d =>
      DeltaTable.forPath(d).write(
        raw(spark, sfDir, "lineitem").repartitionByRange(8, col("l_orderkey")))
    }

  /** customer upserted: acctbal zeroed for custkey < 100 (update) plus the
    * same rows re-keyed +100000 (insert) — the MERGE fixture.
    */
  def customerMergedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_merge") { d =>
      val c = raw(spark, sfDir, "customer")
      val updates = c.filter(col("c_custkey") < 100).withColumn("c_acctbal", lit(0.0))
      val inserts = c.filter(col("c_custkey") < 100)
        .withColumn("c_custkey", col("c_custkey") + 100000)
      DeltaTable.forPath(d).write(c)
        .merge(spark, updates.union(inserts), Seq("c_custkey"))
    }

  /** Near-dup clusters (ngram-Jaccard pairs → connected components)
    * MATERIALIZED as a graft table — the layout real dedup pipelines
    * persist once and consume many times (winner selection, audits).
    */
  def dedupClustersDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "dedup_clusters") { d =>
      val docs = delta(spark, sfDir, "documents")
      val pairs = operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      DeltaTable.forPath(d).write(operators.Dedup.connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("component").as("cluster_id")))
      ()
    }

  /** Incrementally-maintained SUM/COUNT aggregate: the agg table is kept
    * in sync with a mutating base (append → delete → update → OPTIMIZE)
    * purely by folding CDF deltas — never a base rescan after the
    * bootstrap. The final agg must equal a direct groupBy of the final
    * base state.
    */
  def ordersIvmAggDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_ivm_agg") { d =>
      val o = raw(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val baseDir = cachedDir(sfDir, "orders_ivm_base") { b =>
        DeltaTable.forPath(b).write(o); ()
      }
      def maintain(): Unit = { operators.Incremental.maintainSumCount(
        spark, baseDir, d, "o_orderstatus", "o_totalprice"); () }
      maintain() // bootstrap from v0
      var base = DeltaTable.forPath(baseDir)
      base = base.write(o.withColumn("o_orderkey",
        col("o_orderkey") + 10000000L)) // v1 append
      maintain() // fold the append
      base = base.delete(spark, Some(col("o_totalprice") > 150000)) // v2
      base = base.update(spark, Some(col("o_orderkey") < 100),
        Map("o_totalprice" -> (col("o_totalprice") * 2))) // v3
      base.compact(spark) // v4: dataChange=false, must contribute nothing
      maintain() // fold v2..v4 in one pass
      ()
    }

  /** SCD Type 2 dimension: init at T0, one full-snapshot apply at T1 with
    * changed balances (custkey<100), unchanged rows (>=100 — must produce
    * NO new version), and brand-new keys (+100000 for custkey<50).
    */
  def customerScd2Dir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_scd2") { d =>
      val c = raw(spark, sfDir, "customer")
      val t0 = lit("2024-01-01 00:00:00")
      val t1 = lit("2024-06-01 00:00:00")
      val t = DeltaTable.forPath(d).write(operators.Scd.scdType2Init(c, t0))
      val source = c
        .withColumn("c_acctbal",
          when(col("c_custkey") < 100, col("c_acctbal") + 50.0)
            .otherwise(col("c_acctbal")))
        .unionByName(c.filter(col("c_custkey") < 50)
          .withColumn("c_custkey", col("c_custkey") + 100000))
      operators.Scd.scdType2Apply(spark, t, source,
        Seq("c_custkey"), Seq("c_acctbal"), t1)
      ()
    }

  /** Clause-based MERGE with a NARROW CDC source (key + delta column
    * only): matched rows get SET c_acctbal += delta, unmatched source
    * rows insert via explicit value expressions.
    */
  def customerMergeSetDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_merge_set") { d =>
      val c = raw(spark, sfDir, "customer")
      val upd = c.filter(col("c_custkey") < 100)
        .select(col("c_custkey"), lit(25.5).as("delta_bal"))
      val ins = c.filter(col("c_custkey") < 20)
        .select((col("c_custkey") + 100000L).as("c_custkey"),
          lit(11.25).as("delta_bal"))
      DeltaTable.forPath(d).write(c)
        .mergeWhenMatchedUpdate(spark, upd.unionByName(ins), Seq("c_custkey"),
          set = Map("c_acctbal" -> (col("c_acctbal") + col("s.delta_bal"))),
          insertValues = Some(Map(
            "c_name" -> lit("NEW"), "c_nationkey" -> lit(0),
            "c_acctbal" -> col("s.delta_bal"), "c_mktsegment" -> lit("NONE"))))
      ()
    }

  /** MERGE with delta-spark's WHEN NOT MATCHED BY SOURCE clause: source
    * rows (custkey < 200) upsert as usual, and target rows the source
    * does NOT carry are deleted when they satisfy the clause condition
    * (BUILDING segment) — the sync-to-source shape, one atomic commit.
    */
  def customerMergeNmbsDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_merge_nmbs") { d =>
      val c = raw(spark, sfDir, "customer")
      val source = c.filter(col("c_custkey") < 200)
        .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
      DeltaTable.forPath(d).write(c)
        .merge(spark, source, Seq("c_custkey"),
          notMatchedBySourceDelete = true,
          notMatchedBySourceCondition = Some(col("c_mktsegment") === "BUILDING"))
      ()
    }

  /** customer upserted via MERGE-ON-READ: same updates/inserts as the
    * copy-on-write merge fixture, but matched rows die in a deletion
    * vector and no target file is rewritten — same oracle.
    */
  def customerMergedMoRDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_merge_mor") { d =>
      val c = raw(spark, sfDir, "customer")
      val updates = c.filter(col("c_custkey") < 100).withColumn("c_acctbal", lit(0.0))
      val inserts = c.filter(col("c_custkey") < 100)
        .withColumn("c_custkey", col("c_custkey") + 100000)
      DeltaTable.forPath(d).write(c)
        .mergeMergeOnRead(spark, updates.union(inserts), Seq("c_custkey"))
    }

  /** orders partitioned by o_orderstatus, then `replaceWhere` of the 'F'
    * partition with a zero-priced copy of the same rows — the
    * partition-backfill pattern; non-F partitions must be untouched.
    */
  def ordersReplacedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_replacewhere") { d =>
      val df = raw(spark, sfDir, "orders")
      val replacement = df.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", lit(0.0))
      DeltaTable.forPath(d)
        .write(df, partitionBy = Some(Seq("o_orderstatus")))
        .replaceWhere(spark, col("o_orderstatus") === "F", replacement)
    }

  /** lineitem with `l_discount` zeroed copy-on-write where
    * `l_quantity > 45` — the UPDATE fixture (written range-partitioned so
    * stats-pruning leaves genuinely untouched files).
    */
  def lineitemUpdatedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_update") { d =>
      DeltaTable.forPath(d)
        .write(raw(spark, sfDir, "lineitem").repartitionByRange(8, col("l_orderkey")))
        .update(spark, Some(col("l_quantity") > 45),
          Map("l_discount" -> lit(0.0)))
    }

  /** lineitem updated via MERGE-ON-READ: same predicate/SET as the
    * copy-on-write update fixture — matched rows die in a deletion vector,
    * postimages append — same oracle.
    */
  def lineitemUpdatedMoRDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_update_mor") { d =>
      DeltaTable.forPath(d)
        .write(raw(spark, sfDir, "lineitem").repartitionByRange(8, col("l_orderkey")))
        .updateMergeOnRead(spark, Some(col("l_quantity") > 45),
          Map("l_discount" -> lit(0.0)))
    }

  /** two appends, then OPTIMIZE-compacted and vacuumed: the scan after both
    * maintenance ops must equal the plain doubled table (compaction is
    * dataChange=false; vacuum only removes unreferenced files).
    */
  def ordersCompactedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_compacted") { d =>
      val df = raw(spark, sfDir, "orders")
      val t = DeltaTable.forPath(d).write(df).write(df).compact(spark)
      // negative retention => cutoff in the future, so the just-superseded
      // pre-compaction files are old enough to collect
      val deleted = t.vacuum(retentionMs = -60000L)
      require(deleted.nonEmpty, "vacuum should have removed the compacted-away files")
    }

  /** Whole lifecycle driven through the SQL surface (graft.sql): two
    * appends, `RESTORE … TO VERSION AS OF 0`, `OPTIMIZE`, `VACUUM RETAIN 0
    * HOURS` — every maintenance verb as a `spark.sql(...)` statement, so
    * q157 proves the parser extension end to end, not just in a spec.
    */
  def ordersSqlSurfaceDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_sqlsurface") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      val df = raw(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(df).write(df) // v0 create, v1 append
      sql.sql(s"OPTIMIZE '$d'") // v2: compact both appends
      sql.sql(s"RESTORE '$d' TO VERSION AS OF 1") // v3: pre-optimize layout
      // the optimized-then-restored-away file is now dead; RETAIN 0 HOURS
      // reclaims it (same rows stay live through v1's original files)
      val removed = sql.sql(s"VACUUM '$d' RETAIN 0 HOURS").collect().length
      require(removed > 0, "SQL VACUUM should reclaim the optimized-away file")
    }

  /** KMV sketch store built in two batches (doc_id parity halves): init
    * with half 0's per-lang token sketches, append half 1's with the
    * exactly-once txn marker — q160 answers per-lang vocabulary
    * cardinality from the store alone.
    */
  def kmvStoreDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "kmv_store") { d =>
      val docs = raw(spark, sfDir, "documents")
      def toks(half: org.apache.spark.sql.DataFrame) =
        half.select(col("lang"),
            explode(split(lower(col("text")), " ")).as("token"))
          .filter(col("token") =!= "")
      operators.Sketches.kmvStoreInit(d,
        toks(docs.filter(col("doc_id") % 2 === 0)),
        Seq("lang"), col("token"), 256, "b0")
      operators.Sketches.kmvStoreAppend(d,
        toks(docs.filter(col("doc_id") % 2 === 1)),
        col("token"), "b1", batchTxn = Some(("kmv-fixture", 1L)))
    }

  /** Exact-fingerprint store over the even-id documents half (q165 deduqs
    * the odd half + planted recrawls against it).
    */
  def exactStoreDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "exact_store") { d =>
      operators.Dedup.exactStoreInit(d,
        raw(spark, sfDir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
    }

  /** Table populated entirely through SQL INSERT statements (q170):
    * create-on-first-insert, append, then INSERT OVERWRITE down to the
    * low-key slice — every step a log commit through the parser surface.
    */
  def ordersSqlInsertDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_sqlinsert") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      val src = deltaDir(spark, sfDir, "orders")
      sql.sql(s"INSERT INTO graft.`$d` SELECT * FROM graft.`$src` WHERE o_orderkey < 3000")
      sql.sql(s"INSERT INTO graft.`$d` SELECT * FROM graft.`$src` WHERE o_orderkey >= 3000")
      sql.sql(s"INSERT OVERWRITE graft.`$d` SELECT * FROM graft.`$src` WHERE o_orderkey < 1000")
    }

  /** q192 fixture: the classic partition backfill through pure SQL.
    * Orders land partitioned by status, then `INSERT INTO … REPLACE
    * WHERE o_orderstatus = 'O'` atomically swaps that slice for a
    * re-priced copy (prices doubled, exact IEEE) in ONE commit — the
    * predicate delete and the replacement append never expose a gap.
    */
  def ordersReplaceWhereSqlDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_sql_replacewhere") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      val src = deltaDir(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(raw(spark, sfDir, "orders"),
        partitionBy = Some(Seq("o_orderstatus")))
      sql.sql(
        s"""INSERT INTO graft.`$d` REPLACE WHERE o_orderstatus = 'O'
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2
           |    AS o_totalprice, o_orderdate, o_orderpriority
           |FROM graft.`$src` WHERE o_orderstatus = 'O'""".stripMargin)
      require(DeltaTable.forPath(d).version == 1L,
        "REPLACE WHERE must land as ONE commit")
    }

  /** q193 fixture: COPY INTO's exactly-once-per-file contract. A landing
    * directory gets the even-key half of orders; COPY INTO loads it, a
    * VERBATIM re-run loads nothing (the loaded-file memory in commit
    * metadata), then the odd-key half lands as NEW files and a third run
    * loads exactly those. Table ≡ orders, each row exactly once.
    */
  def ordersCopyIntoDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_copyinto") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      val landing = d + "_landing"
      val orders = raw(spark, sfDir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0).repartition(2)
        .write.parquet(landing)
      val first = sql.sql(
        s"COPY INTO graft.`$d` FROM '$landing' FILEFORMAT = PARQUET").head()
      require(first.getLong(0) == 2L && first.getLong(1) == 0L,
        s"first COPY INTO must load both landing files: $first")
      val rerun = sql.sql(
        s"COPY INTO graft.`$d` FROM '$landing' FILEFORMAT = PARQUET").head()
      require(rerun.getLong(0) == 0L && rerun.getLong(2) == 0L,
        s"verbatim re-run must load nothing: $rerun")
      orders.filter(col("o_orderkey") % 2 === 1).repartition(3)
        .write.mode("append").parquet(landing)
      val third = sql.sql(
        s"COPY INTO graft.`$d` FROM '$landing' FILEFORMAT = PARQUET").head()
      require(third.getLong(0) == 3L && third.getLong(1) == 2L,
        s"third run must load exactly the new files: $third")
    }

  /** q194 fixture: events with `props` stored as a real VARIANT column
    * (Spark 4 / delta's variantType table feature). The write must
    * auto-declare the readerWriter feature — a feature-unaware reader
    * would misread the binary value/metadata encoding — and variant
    * columns carry NO stats (delta's rule; the shredded parquet layout
    * would otherwise leak typed_value sub-structure into the log).
    */
  def eventsVariantDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "events_variant") { d =>
      val ev = raw(spark, sfDir, "events").select(
        col("event_id"), col("event_type"), col("value"),
        expr("parse_json(props)").as("props_v"))
      val t = DeltaTable.forPath(d).write(ev)
      val p = t.dlog.currentProtocol
      require(graft.log.ProtocolGate.readerFeatures(p).contains("variantType"),
        s"variant write must declare the variantType feature: $p")
    }

  /** Persisted IVF index (q172): built over the base embeddings in one
    * commit, the +10000 twin half appended in a SECOND commit against the
    * persisted codebook (no retraining) with a SetTransaction marker —
    * the replayed append proves exactly-once. Queries at q172 touch only
    * the index tables; the training cost was paid here, once.
    */
  def ivfIndexDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "ivf_index") { d =>
      val emb = raw(spark, sfDir, "embeddings")
      operators.Similarity.ivfIndexBuild(spark, d, emb, "vec_id", "embedding")
      val twins = emb.withColumn("vec_id", col("vec_id") + 10000)
      operators.Similarity.ivfIndexAppend(spark, d, twins, "vec_id",
        "embedding", batchTxn = Some(("ivf-fixture", 1L)))
      // re-delivered batch: the txn marker must make this a no-op
      operators.Similarity.ivfIndexAppend(spark, d, twins, "vec_id",
        "embedding", batchTxn = Some(("ivf-fixture", 1L)))
    }

  /** Multi-paragraph documents for q174: composed doc d (d < 200) =
    * text(d) ⏎⏎ text((d+100) % 200) ⏎⏎ text(d % 50). The third paragraph
    * repeats every 50 docs (shared boilerplate), the second is another
    * doc's first (cross-document recrawl), and for d < 50 the first and
    * third coincide (an INTRA-document duplicate) — a closed-form pair
    * structure any engine can replay from the base table.
    */
  def documentsParagraphsDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_paragraphs") { d =>
      val t = raw(spark, sfDir, "documents").filter(col("doc_id") < 200)
        .select("doc_id", "text")
      val composed = t.as("a")
        .join(t.select(col("doc_id").as("_j1"), col("text").as("_t1")),
          pmod(col("a.doc_id") + 100, lit(200)) === col("_j1"))
        .join(t.select(col("doc_id").as("_j2"), col("text").as("_t2")),
          pmod(col("a.doc_id"), lit(50)) === col("_j2"))
        .select(col("a.doc_id").as("doc_id"),
          concat_ws("\n\n", col("a.text"), col("_t1"), col("_t2")).as("text"))
      DeltaTable.forPath(d).write(composed)
    }

  /** SQL CTAS + INSERT + version-pinned SHALLOW CLONE (q175): a base
    * table born by `CREATE TABLE … AS SELECT`, grown by INSERT, then
    * cloned at `VERSION AS OF 0` — the clone must see exactly the CTAS
    * slice, through cloned-log replay, not the base's current state.
    */
  def ordersSqlCtasCloneDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_sqlctas_clone") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      val base = cachedDir(sfDir, "orders_sqlctas_base") { b =>
        val src = deltaDir(spark, sfDir, "orders")
        sql.sql(s"CREATE TABLE graft.`$b` AS SELECT * FROM graft.`$src` " +
          "WHERE o_orderkey < 2000")
        sql.sql(s"INSERT INTO graft.`$b` SELECT * FROM graft.`$src` " +
          "WHERE o_orderkey >= 2000 AND o_orderkey < 4000")
      }
      sql.sql(s"CREATE TABLE graft.`$d` SHALLOW CLONE graft.`$base` " +
        "VERSION AS OF 0")
    }

  /** Deterministic proxy-run excess-loss table for the DoReMi fixture
    * (q180): 8 "checkpoints", per-(step, lang) excess derived from the
    * corpus — mean text length vs the cross-domain mean, decaying by
    * step. Domains above the mean act "hard" early and converge later,
    * the shape a real proxy run logs.
    */
  def doremiLosses(spark: SparkSession, sfDir: String): DataFrame = {
    val perLang = delta(spark, sfDir, "documents")
      .groupBy("lang").agg(avg(length(col("text"))).as("_m"))
    val g = perLang.agg(avg(col("_m")).as("_g"))
    perLang.crossJoin(broadcast(g))
      .crossJoin(spark.range(0, 8).toDF("step"))
      .select(col("step"), col("lang"),
        ((col("_m") / col("_g") - 1.0) * (lit(1.0) - col("step") * 0.1))
          .as("excess"))
  }

  /** customer evolved entirely through SQL ALTER TABLE statements (q173):
    * ADD COLUMNS (with COMMENT/AFTER), a SQL UPDATE filling them, the
    * widening gate via SET TBLPROPERTIES, ALTER COLUMN TYPE, and a
    * mapping-mode RENAME — five metadata commits, zero data rewrites
    * except the UPDATE's own.
    */
  def customerSqlAlteredDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_sqlalter") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      DeltaTable.forPath(d).write(raw(spark, sfDir, "customer"))
      sql.sql(s"ALTER TABLE graft.`$d` ADD COLUMNS " +
        "(vip STRING COMMENT 'tier' AFTER c_name, score DOUBLE)")
      sql.sql(s"UPDATE '$d' SET vip = CASE WHEN c_acctbal > 5000 " +
        "THEN 'gold' ELSE 'std' END, score = c_acctbal * 0.1")
      sql.sql(s"ALTER TABLE '$d' SET TBLPROPERTIES " +
        "('delta.enableTypeWidening' = 'true')")
      sql.sql(s"ALTER TABLE graft.`$d` ALTER COLUMN c_nationkey TYPE BIGINT")
      sql.sql(s"ALTER TABLE graft.`$d` RENAME COLUMN c_mktsegment TO segment")
    }

  /** The round-14 SQL DDL lifecycle (q188): CREATE TABLE with an
    * IDENTITY column, a GENERATED column and CLUSTER BY, a CHECK
    * constraint added then dropped, column-list VALUES inserts (identity
    * allocates 100,110,… in VALUES order — LocalRelation single-partition
    * determinism), a clustering re-declaration, and a FULL clustered
    * OPTIMIZE — every step a `spark.sql` statement.
    */
  def sqlDdlLifecycleDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "sql_ddl") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      sql.sql(
        s"""CREATE TABLE graft.`$d` (
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10),
           |  nk BIGINT,
           |  name STRING,
           |  uname STRING GENERATED ALWAYS AS (upper(name)),
           |  bal DOUBLE
           |) USING graft CLUSTER BY (nk)""".stripMargin)
      sql.sql(s"ALTER TABLE '$d' ADD CONSTRAINT bal_nonneg CHECK (bal >= 0)")
      sql.sql(s"INSERT INTO graft.`$d` (name, nk, bal) VALUES " +
        "('ada', 2, 1.5), ('bob', 1, 2.5), ('cat', 3, 0.0), " +
        "('dan', 2, 4.25), ('eve', 1, 3.5), ('fox', 3, 1.25)")
      sql.sql(s"INSERT INTO graft.`$d` (name, nk, bal) VALUES " +
        "('gus', 2, 5.0), ('hal', 1, 0.75)")
      sql.sql(s"ALTER TABLE graft.`$d` CLUSTER BY (bal)")
      sql.sql(s"ALTER TABLE '$d' DROP CONSTRAINT bal_nonneg")
      sql.sql(s"INSERT INTO graft.`$d` (name, nk, bal) VALUES ('ion', 3, -2.5)")
      sql.sql(s"OPTIMIZE '$d' FULL")
    }

  /** The X204 catalog-named lifecycle (q189): every statement addresses
    * the table by NAME — external CTAS registers `graftq.orders_named` in
    * the warehouse registry, then INSERT, a full-clause MERGE, DELETE,
    * UPDATE and OPTIMIZE all resolve the name through the same post-parse
    * interception the path spellings use. All arithmetic is exact IEEE
    * (×2 and +1 on doubles), so DuckDB replays the final state bit-for-bit.
    */
  def namedLifecycleDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "named_lifecycle") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      val src = deltaDir(spark, sfDir, "orders")
      sql.sql("DROP TABLE IF EXISTS graftq.orders_named")
      sql.sql(s"CREATE TABLE graftq.orders_named USING graft LOCATION '$d' " +
        s"AS SELECT o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM graft.`$src` WHERE o_orderkey < 4000")
      sql.sql("INSERT INTO graftq.orders_named " +
        s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM graft.`$src` " +
        "WHERE o_orderkey >= 4000 AND o_orderkey < 8000")
      sql.sql(
        s"""MERGE INTO graftq.orders_named t
           |USING (SELECT o_orderkey, o_totalprice FROM graft.`$src`
           |       WHERE o_orderkey % 100 = 0) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2,
           |  o_orderstatus = 'M'
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus,
           |  o_totalprice) VALUES (s.o_orderkey, 'N', s.o_totalprice)"""
          .stripMargin)
      sql.sql("DELETE FROM graftq.orders_named WHERE o_orderkey % 10 = 7")
      sql.sql("UPDATE graftq.orders_named SET o_totalprice = o_totalprice + 1 " +
        "WHERE o_orderstatus = 'N'")
      sql.sql("OPTIMIZE graftq.orders_named")
    }

  /** customer mutated by ONE SQL `MERGE INTO` statement (q171): the full
    * clause surface — matched delete-marked rows dropped, the other
    * matched rows updated column-wise, unmatched source rows inserted —
    * as a single `spark.sql(…)` commit through the parser surface, with
    * the source itself a graft path table resolved in the USING clause.
    */
  def customerSqlMergedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_sqlmerge") { d =>
      val sql = graft.sql.GraftSql.enable(spark)
      val cust = raw(spark, sfDir, "customer")
      DeltaTable.forPath(d).write(cust)
      val srcDir = cachedDir(sfDir, "customer_sqlmerge_src") { sd =>
        val upd = cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("op", lit("update"))
        val del = cust.filter(col("c_custkey") % 10 === 5)
          .withColumn("op", lit("delete"))
        val ins = cust.filter(col("c_custkey") < 50)
          .withColumn("c_custkey", col("c_custkey") + 1000000)
          .withColumn("op", lit("insert"))
        DeltaTable.forPath(sd).write(upd.union(del).union(ins))
      }
      sql.sql(
        s"""MERGE INTO graft.`$d` t USING graft.`$srcDir` s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND s.op = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal * 2,
           |  c_mktsegment = 'MERGED'
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey,
           |  c_acctbal, c_mktsegment)
           |  VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, 'NEW')"""
          .stripMargin)
    }

  /** append + append + delete — the CDF (changes feed) fixture. */
  def ordersChangesDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_changes") { d =>
      val df = raw(spark, sfDir, "orders")
      DeltaTable.forPath(d).write(df).write(df)
        .delete(spark, Some(col("o_orderkey") < 100))
    }

  /** 12 appends of nation (checkpoint interval is 10): reopening goes
    * through the checkpoint fast path; the scan must equal 12 copies.
    */
  def nationCheckpointedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "nation_ckpt") { d =>
      val df = raw(spark, sfDir, "nation")
      var t = DeltaTable.forPath(d).write(df)
      for (_ <- 1 to 11) t = t.write(df)
      val reopened = DeltaTable.forPath(d)
      require(reopened.dlog.entries.firstKey == 10L,
        s"expected checkpoint base at v10, got ${reopened.dlog.entries.firstKey}")
    }

  /** 12 nation appends, checkpoint at 10, then `cleanupLog` deletes every
    * JSON commit at/below the checkpoint and an append lands on top: the
    * scan must see all 13 copies even though versions 0–10 exist only as
    * checkpoint state (delta's log-retention shape at 10⁵-commit scale).
    */
  def nationCleanedLogDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "nation_cleanlog") { d =>
      val df = raw(spark, sfDir, "nation")
      var t = DeltaTable.forPath(d).write(df)
      for (_ <- 1 to 11) t = t.write(df)
      t = t.cleanupLog()
      t = t.write(df) // version 12 rides on the checkpoint base
      require(t.version == 12L, s"expected v12 after cleanup+append, got ${t.version}")
    }

  /** zero-copy import of the raw parquet by absolute reference — no bytes
    * copied; the table's single add points at the source file.
    */
  def lineitemImportedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_imported") { d =>
      DeltaTable.forPath(d).importRefs(spark, Seq(s"$sfDir/lineitem.parquet"))
    }

  /** orders with keys < 100 deleted, then soft-cloned — the clone scan must
    * equal the source content (no data copied, abs-path log rewrite).
    */
  def ordersClonedDir(spark: SparkSession, sfDir: String): String = {
    val src = cachedDir(sfDir, "orders_clone_src") { s =>
      DeltaTable.forPath(s).write(raw(spark, sfDir, "orders"))
        .delete(spark, Some(col("o_orderkey") < 100))
    }
    cachedDir(sfDir, "orders_cloned") { d =>
      DeltaTable.forPath(src).cloneTo(d)
    }
  }

  /** lineitem compacted with sortBy (Z-order-lite): rewritten range-sorted
    * on (l_orderkey, l_quantity) so per-file stats are disjoint and the
    * skipping scan opens few files.
    */
  def lineitemZorderedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_zorder") { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, "lineitem"))
        .compact(spark, sortBy = Seq("l_orderkey", "l_quantity"), targetFiles = 8)
    }

  /** lineitem compacted with TRUE Morton-code Z-ordering on
    * (l_orderkey, l_quantity): per-file stats stay selective for
    * predicates on EITHER column.
    */
  def lineitemMortonDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_morton") { d =>
      DeltaTable.forPath(d).write(raw(spark, sfDir, "lineitem"))
        .compact(spark, sortBy = Seq("l_orderkey", "l_quantity"),
          targetFiles = 8, zOrder = true)
    }

  /** create + append + delete + restore — the history/metadata fixture. */
  def historyTableDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "history_fixture") { d =>
      val df = raw(spark, sfDir, "nation")
      DeltaTable.forPath(d).write(df).write(df)
        .delete(spark, Some(col("n_regionkey") === 0)).restore(1L)
    }

  /** Normalize the events fixture's `ts` column — whatever physical type a
    * fixture generation carried — to a µs-precision TIMESTAMP_NTZ:
    *   - `LongType`: epoch-ns longs (the retired INT64-nanos fixture shape;
    *     kept as a defensive branch) → truncate to µs, reinterpret as naive
    *     micros;
    *   - `TIMESTAMP(MICROS, isAdjustedToUTC=0)`: current fixture, already
    *     NTZ → identity;
    *   - UTC-adjusted `TimestampType`: cast (session tz is UTC, lossless).
    * Every events consumer MUST go through these probes instead of assuming
    * a physical type — a regenerated fixture must never silently shift
    * timestamps (round 8's 12-query regression).
    */
  def tsToNtz(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
      case org.apache.spark.sql.types.TimestampNTZType => col("ts")
      case _ => col("ts").cast("timestamp_ntz")
    }

  /** `ts` as UTC-adjusted TimestampType (the type event-time watermarks
    * want); naive wall-clock is preserved because the session tz is UTC.
    */
  def tsToTimestamp(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case org.apache.spark.sql.types.TimestampType => col("ts")
      case _ => col("ts").cast("timestamp")
    }

  /** `ts` as a plain epoch-µs long (for numeric gap arithmetic). */
  def tsToMicros(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  /** events with `ts` normalized to µs TIMESTAMP_NTZ regardless of the
    * fixture's physical type (probe `raw`'s schema, branch — see tsToNtz).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = raw(spark, sfDir, "events")
    df.withColumn("ts", tsToNtz(df.schema("ts").dataType))
  }

  /** events (ns timestamps converted to µs NTZ) written into a Delta
    * table — the fixture for event-series queries.
    */
  def eventsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_delta") { d =>
      DeltaTable.forPath(d).write(events(spark, sfDir))
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** events with `props` parsed into a native VARIANT column and written
    * through the graft table (delta's `variantType` feature): the binary
    * variant encoding round-trips our parquet write + log schema + scan,
    * and the feature rides the create commit's protocol.
    */
  def eventsVariantDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_variant") { d =>
      DeltaTable.forPath(d).write(events(spark, sfDir)
        .withColumn("props_v", parse_json(col("props"))).drop("props"))
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** events sessionized through flatMapGroupsWithState (custom streaming
    * state) into a Delta sink.
    */
  def eventsSessionsViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_sessions") { d =>
      streaming.DeltaStreamSink.runStatefulSessionize(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** events written through the Structured Streaming path: parquet stream
    * source -> 1-hour windowed aggregation (complete mode) -> foreachBatch
    * Delta sink -> snapshot scan of the sink table.
    */
  def eventsHourlyViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_hourly") { d =>
      streaming.DeltaStreamSink.runHourlyAggregate(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** Event stream enriched against the STATIC customer Delta table
    * (stream–static join), aggregated per market segment.
    */
  def eventsStreamStaticJoined(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_static_join") { d =>
      streaming.DeltaStreamSink.runStreamStaticJoin(spark, sfDir,
        deltaDir(spark, sfDir, "customer"), d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** Sliding 2h/1h windows via the streaming sink (every event in two
    * overlapping windows).
    */
  def eventsSlidingViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_sliding") { d =>
      streaming.DeltaStreamSink.runSlidingAggregate(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** Same aggregation under an event-time watermark in APPEND mode: only
    * windows the final watermark (max ts - 30 min) passed are in the sink.
    */
  def eventsWatermarkedViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_watermarked") { d =>
      streaming.DeltaStreamSink.runWatermarkedHourlyAggregate(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** purchases ⋈ clicks per user within [purchase, purchase + 1 h], as a
    * watermarked stream-stream inner join into a Delta sink.
    */
  def eventsStreamJoined(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_joined") { d =>
      streaming.DeltaStreamSink.runStreamStreamJoin(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** purchases LEFT OUTER clicks per user within [purchase, purchase + 1 h]
    * as a watermarked stream-stream join: unmatched purchases null-pad
    * once the watermark proves no click can still arrive.
    */
  def eventsStreamLeftJoined(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_leftjoined") { d =>
      streaming.DeltaStreamSink.runStreamStreamLeftJoin(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** A graft Delta table consumed AS a streaming source: nation appended
    * twice into a source table, streamed out via
    * [[streaming.DeltaStreamSource.appendOnlyStream]], aggregated, and
    * committed to a sink table — closing the table→stream→table loop.
    */
  def nationViaDeltaSourceStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "nation_delta_source_stream") { d =>
      val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src-").toString
      val df = raw(spark, sfDir, "nation")
      DeltaTable.forPath(srcDir).write(df).write(df)
      val checkpoint = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
      val agg = streaming.DeltaStreamSource.appendOnlyStream(spark, srcDir)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey")).cast("long").as("sum_key"))
      val q = agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(streaming.DeltaStreamSink.completeModeSink(d) _)
        .start()
      q.awaitTermination()
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** nation streamed THROUGH `format("graft")` end to end — the
    * log-versioned SOURCE (offsets = table versions, zero listing) into
    * the exactly-once SINK — as two AvailableNow runs sharing one
    * checkpoint: run 1 delivers the initial snapshot (two appends), a
    * third append lands between runs, run 2 delivers ONLY that commit
    * (tail batch replayed from the offset log). The result table must
    * hold exactly three copies written as exactly two sink commits.
    */
  def nationViaGraftFormatStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "nation_graft_format_stream") { d =>
      val srcDir = java.nio.file.Files.createTempDirectory("graft-vsrc-").toString
      val df = raw(spark, sfDir, "nation")
      val src = DeltaTable.forPath(srcDir).write(df).write(df)
      val checkpoint = java.nio.file.Files.createTempDirectory("graft-vsrc-ckpt-").toString
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft").load(srcDir)
          .writeStream.format("graft")
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(d)
        q.awaitTermination()
      }
      runOnce()
      src.write(df) // a commit the first run never saw
      runOnce()
      val out = DeltaTable.forPath(d)
      require(out.version == 1L,
        s"expected exactly 2 sink commits (initial snapshot + tail), got ${out.versions}")
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** nation driven through the streaming CHANGE FEED (X76,
    * `readChangeFeed=true`): a merge-on-read delete BEFORE stream start
    * folds into the initial snapshot (live rows as `insert`), then an
    * append and a second MoR delete land between two AvailableNow runs
    * and stream as exact row-level changes — the delete emitting
    * precisely its newly-dead row, not a file-level retraction.
    */
  def nationViaCdfStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "nation_cdf_stream") { d =>
      val srcDir = java.nio.file.Files.createTempDirectory("graft-cdf-src-").toString
      val df = raw(spark, sfDir, "nation")
      var src = DeltaTable.forPath(srcDir).write(df) // v0
      src = src.deleteMergeOnRead(spark, Some(col("n_nationkey") < 5)) // v1
      val checkpoint =
        java.nio.file.Files.createTempDirectory("graft-cdf-ckpt-").toString
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft")
          .option("readChangeFeed", "true").load(srcDir)
          .writeStream.format("graft")
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(d)
        q.awaitTermination()
      }
      runOnce() // initial snapshot: 20 live rows, insert @1
      src = src.write(df.filter(col("n_nationkey") < 5)) // v2
      src = src.deleteMergeOnRead(spark, Some(col("n_nationkey") === 10)) // v3
      runOnce() // tail: 5 inserts @2 + exactly one delete @3
      val out = DeltaTable.forPath(d)
      require(out.version >= 1L,
        s"expected sink commits from both runs, got ${out.versions}")
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** documents with an engine-assigned IDENTITY column `doc_seq`: ordered
    * single-file writes make the assigned values a closed form (1-based
    * insertion rank — the second write continues above the first's
    * high-water mark, which rides the same commit's metaData).
    */
  def documentsIdentityDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_identity") { d =>
      val df = raw(spark, sfDir, "documents")
      DeltaTable.forPath(d)
        .withIdentityColumn("doc_seq")
        .write(df.orderBy("doc_id").coalesce(1))
        .write(df.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
          .orderBy("doc_id").coalesce(1))
    }

  /** orders written NARROW (o_custkey int, o_totalprice float), then
    * type-widened to long/double in metadata-only commits
    * (delta's `typeWidening` feature), then appended with values that
    * only fit the WIDE types — so the scan reads a mix of narrow and
    * wide physical files under one widened logical schema.
    */
  def ordersWidenedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_widened") { d =>
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val df = raw(spark, sfDir, "orders")
        .select(col("o_orderkey"),
          col("o_custkey").cast("int").as("o_custkey"),
          col("o_totalprice").cast("float").as("o_totalprice"))
      var t = DeltaTable.forPath(d).write(df)
      t = t.setTableProperties(Map("delta.enableTypeWidening" -> "true"))
      t = t.alterColumnType("o_custkey", LongType)
      t = t.alterColumnType("o_totalprice", DoubleType)
      t.write(df.filter(col("o_orderkey") < 100)
        .withColumn("o_orderkey", col("o_orderkey") + lit(20000000L))
        .withColumn("o_custkey", col("o_custkey").cast("long") + lit(5000000000L))
        .withColumn("o_totalprice", col("o_totalprice").cast("double") + lit(0.25)))
      ()
    }

  /** supplier under auto-optimize: optimizeWrite rebalances every append's
    * output files, and autoCompact (threshold 4) compacts the small-file
    * debt the repeated tiny appends build up — the scan result is
    * layout-invariant, which is exactly what the oracle checks; the spec
    * asserts the file-count mechanics.
    */
  def supplierAutoOptimizeDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "supplier_auto_optimize") { d =>
      val df = raw(spark, sfDir, "supplier")
      var t = DeltaTable.forPath(d).write(df)
      t = t.setTableProperties(Map(
        "delta.autoOptimize.optimizeWrite" -> "true",
        "delta.autoOptimize.autoCompact" -> "true",
        "delta.autoOptimize.autoCompact.minNumFiles" -> "4"))
      (0 until 4).foreach { i =>
        t = t.write(df.filter(col("s_suppkey") % 4 === i).repartition(3))
      }
      ()
    }

  /** lineitem as a LIQUID-CLUSTERED table: clusterBy declares the keys as
    * `delta.clustering` domainMetadata (delta-spark's exact state), the
    * next OPTIMIZE lays files out by them (Z-order), and the scan result
    * is layout-invariant — the oracle checks rows, the spec checks the
    * file-skipping payoff.
    */
  def lineitemClusteredDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "lineitem_clustered") { d =>
      DeltaTable.forPath(d)
        .write(raw(spark, sfDir, "lineitem").repartition(8))
        .clusterBy(Seq("l_quantity", "l_extendedprice"))
        .compact(spark, targetFiles = 8)
    }

  /** customer under `delta.enableRowTracking`: two ordered single-file
    * range-split writes make the fresh row ids a CLOSED FORM (id = the
    * key's 0-based global rank — file 2's baseRowId starts exactly where
    * file 1's range ends), and a merge-on-read delete proves survivor
    * ids never shift (DVs drop rows without moving positions).
    */
  def customerRowTrackedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_rowtracking") { d =>
      val df = raw(spark, sfDir, "customer")
      val cut = df.agg(max("c_custkey")).first().getLong(0) / 2
      var t = DeltaTable.forPath(d).write(df.limit(0)) // v0: create empty
        .setTableProperties(Map(graft.log.RowTracking.EnableKey -> "true")) // v1
      t = t.write(df.filter(col("c_custkey") <= cut)
        .orderBy("c_custkey").coalesce(1)) // v2: ids 0..n1-1
      t = t.write(df.filter(col("c_custkey") > cut)
        .orderBy("c_custkey").coalesce(1)) // v3: ids n1..n-1
      t.deleteMergeOnRead(spark, Some(col("c_custkey") % 7 === 0)) // v4: DV only
    }

  /** The row-tracked customer table OPTIMIZED: compaction rewrites every
    * file (applying the MoR deletion vector) yet each survivor keeps its
    * original id through the materialized row-id column — stable row
    * ids, so the q103 closed form (id = 0-based c_custkey rank over the
    * ORIGINAL corpus) still holds after the rewrite.
    */
  def customerRowTrackedCompactedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "customer_rowtracking_compacted") { d =>
      val src = customerRowTrackedDir(spark, sfDir)
      DeltaTable.forPath(src).cloneTo(d)
      DeltaTable.forPath(d).compact(spark)
      ()
    }

  /** documents with `lang` carrying DEFAULT 'und' (delta's
    * allowColumnDefaults): the second batch OMITS the column entirely and
    * the write fills the constant — a schema contract the table enforces
    * so producers can't silently write nulls.
    */
  def documentsDefaultsDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "documents_defaults") { d =>
      val docs = raw(spark, sfDir, "documents")
      var t = DeltaTable.forPath(d).write(docs)
      t = t.setColumnDefault("lang", "'und'")
      t.write(docs.filter(col("doc_id") < 200).drop("lang")
        .withColumn("doc_id", col("doc_id") + lit(10000000L)))
      ()
    }

  /** A plain hive-partitioned parquet dir CONVERTED to a graft table in
    * place: the v0 commit adopts the existing files by relative path with
    * footer stats; an append through the normal commit path follows.
    */
  def supplierConvertedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "supplier_converted") { d =>
      val df = raw(spark, sfDir, "supplier")
      df.write.mode("overwrite").partitionBy("s_nationkey").parquet(d)
      DeltaTable.convert(spark, d, partitionBy = Seq("s_nationkey"))
        .write(df.withColumn("s_suppkey", col("s_suppkey") + lit(10000000L)),
          partitionBy = Some(Seq("s_nationkey")))
      ()
    }

  /** orders partitioned by status with a DYNAMIC partition overwrite:
    * the replacement batch rewrites status 'F' rows (discounted price)
    * and touches nothing else — only the partitions the new data lands
    * in are replaced.
    */
  def ordersDynamicOverwriteDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "orders_dyn_overwrite") { d =>
      val df = raw(spark, sfDir, "orders")
      val t = DeltaTable.forPath(d)
        .write(df, partitionBy = Some(Seq("o_orderstatus")))
      t.overwritePartitionsDynamic(spark,
        df.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") * lit(0.5)))
      ()
    }

  /** nation MERGEd with an EVOLVED source: matched keys updated, new
    * keys inserted, and the source-only `flag` column joins the schema
    * in the same commit (old rows read null).
    */
  def nationMergeEvolvedDir(spark: SparkSession, sfDir: String): String =
    cachedDir(sfDir, "nation_merge_evolved") { d =>
      val df = raw(spark, sfDir, "nation")
      val source = df.filter(col("n_nationkey") < 10)
        .withColumn("n_name", concat(lit("UP-"), col("n_name")))
        .withColumn("flag", lit("hot"))
        .unionByName(df.filter(col("n_nationkey") < 3)
          .withColumn("n_nationkey", col("n_nationkey") + lit(100))
          .withColumn("flag", lit("new")))
      DeltaTable.forPath(d).write(df)
        .merge(spark, source, Seq("n_nationkey"), schemaEvolution = true)
      ()
    }

  /** Rate-limited streaming CDF crossing an UPDATE's cdc commit: the
    * source accrues create(v0) + enableChangeDataFeed(v1) + UPDATE with
    * cdc files(v2) + append(v3) + MoR delete(v4); a `readChangeFeed`
    * stream with `startingVersion=0` and `maxVersionsPerTrigger=1`
    * drains the backlog under Trigger.AvailableNow, so admission control
    * (X73) splits it into one-commit micro-batches and the batch landing
    * on v2 must serve the UPDATE's exact cdc pre/postimage rows (X82) —
    * the two mechanisms composing, per-commit.
    */
  def nationCdfRateLimitedStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "nation_cdf_ratelimited") { d =>
      val srcDir = java.nio.file.Files.createTempDirectory("graft-cdfrl-src-").toString
      val df = raw(spark, sfDir, "nation")
      var src = DeltaTable.forPath(srcDir).write(df.coalesce(1)) // v0
        .setTableProperties(Map("delta.enableChangeDataFeed" -> "true")) // v1
        .update(spark, Some(col("n_nationkey") < 5),
          Map("n_regionkey" -> (col("n_regionkey") + lit(10)))) // v2: cdc files
      src = src.write(df.filter(col("n_nationkey") < 3)
        .withColumn("n_nationkey", col("n_nationkey") + lit(100)).coalesce(1)) // v3
      src = src.deleteMergeOnRead(spark, Some(col("n_nationkey") === 10)) // v4
      val checkpoint =
        java.nio.file.Files.createTempDirectory("graft-cdfrl-ckpt-").toString
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(srcDir)
        .writeStream.format("graft")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(d)
      q.awaitTermination()
      // the rate limit really split the backlog: one sink commit per
      // non-empty one-commit micro-batch, never one giant batch
      val out = DeltaTable.forPath(d)
      require(out.version >= 2L,
        s"expected the backlog split into capped batches, got ${out.versions}")
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** events streamed through the txn-idempotent sink with every batch
    * delivered TWICE — the table must hold exactly one copy.
    */
  def eventsIdempotentViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_idempotent") { d =>
      streaming.DeltaStreamSink.runIdempotentStream(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** events streamed twice (duplicates forced across micro-batches) through
    * streaming `dropDuplicates` into a Delta sink — the deduped table must
    * equal ONE copy of events.
    */
  def eventsDedupedViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_deduped") { d =>
      streaming.DeltaStreamSink.runStreamingDedup(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** events streamed through the MERGE-upsert sink (latest row per user
    * wins, out-of-order-batch tolerant) — the CDC-apply table.
    */
  def eventsUpsertedViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_upserted") { d =>
      streaming.DeltaStreamSink.runStreamingUpsert(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }

  /** events streamed with an in-watermark re-delivery plus genuinely-new
    * late rows through `dropDuplicatesWithinWatermark` — the BOUNDED-state
    * streaming dedup (state ∝ watermark window, not stream history).
    */
  def eventsWatermarkDedupedViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = cachedDir(sfDir, "events_stream_wm_deduped") { d =>
      streaming.DeltaStreamSink.runStreamingDedupWithinWatermark(spark, sfDir, d)
    }
    DeltaTable.forPath(dir).toDF(spark)
  }
}
