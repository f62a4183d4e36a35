package graft.tools

import graft.operators.{Dedup, Similarity, Temporal, TextAnalysis}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Collects per-stage task durations so skew probes can compare the
  * longest task against the stage median — the number that decides
  * whether a hot key stalls a 1000-executor cluster behind one straggler.
  */
private class TaskStatsListener extends SparkListener {
  // (durationMs, shuffleRecordsRead) per finished task — records expose
  // whether a slow task is DATA skew (reads more) or scheduling noise
  // (same data, slower wall) without guessing from durations alone
  private val byStage =
    scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    // task-end events whose TaskInfo never finished (e.g. Resubmitted
    // after executor loss) throw from `duration`; an unguarded read would
    // crash the listener on the bus and silently empty the skew report
    val ti = t.taskInfo
    if (ti != null && ti.finished) {
      val rec = Option(t.taskMetrics)
        .map(m => m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead)
        .getOrElse(0L)
      byStage.getOrElseUpdate(t.stageId,
        scala.collection.mutable.ArrayBuffer[(Long, Long)]()) += ((ti.duration, rec))
    }
  }
  private val stageNames = scala.collection.mutable.Map[Int, String]()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      stageNames(s.stageInfo.stageId) = s.stageInfo.name.takeWhile(_ != '\n')
    }
  def nameOf(stageId: Int): String = synchronized(stageNames.getOrElse(stageId, "?"))
  def reset(): Unit = synchronized { byStage.clear(); stageNames.clear() }
  def taskCount: Int = synchronized(byStage.valuesIterator.map(_.length).sum)
  /** (stageId, tasks, maxMs, medianMs, ratio) for the worst max/median
    * ratio among stages heavy enough for the ratio to mean anything
    * (>= minTasks tasks and a max task >= minMaxMs — below that, constant
    * scheduling overheads dominate and the ratio is noise).
    */
  /** (stageId, tasks, maxMs, medianMs, durationRatio, maxTaskRecords,
    * medianRecords) for the worst duration ratio.
    */
  def worstStage(minTasks: Int = 8, minMaxMs: Long = 300): Option[(Int, Int, Long, Long, Double, Long, Long)] =
    synchronized {
      byStage.iterator.collect { case (sid, ds) if ds.length >= minTasks && ds.map(_._1).max >= minMaxMs =>
        val durs = ds.map(_._1).sorted
        val med = math.max(durs(durs.length / 2), 1L)
        val mx = durs.last
        val maxRec = ds.maxBy(_._1)._2
        val recs = ds.map(_._2).sorted
        val medRec = recs(recs.length / 2)
        (sid, ds.length, mx, med, mx.toDouble / med, maxRec, medRec)
      }.toSeq.sortBy(-_._5).headOption
    }
  /** Worst RECORD skew (max-task records / median records) among stages
    * doing real work. Catches what [[worstStage]]'s minTasks=8 cannot: AQE
    * coalesces a small-bytes exchange to 2-3 fat partitions, and a hot key
    * then hides inside a stage too small for the duration filter — but its
    * max task still reads the whole key.
    */
  def worstRecords(minTasks: Int = 2, minMaxRec: Long = 100000): Option[(Int, Int, Long, Long, Double)] =
    synchronized {
      byStage.iterator.collect {
        case (sid, ds) if ds.length >= minTasks && ds.map(_._2).max >= minMaxRec =>
          val recs = ds.map(_._2).sorted
          val medRec = math.max(recs(recs.length / 2), 1L)
          val maxRec = recs.last
          (sid, ds.length, maxRec, medRec, maxRec.toDouble / medRec)
      }.toSeq.sortBy(-_._5).headOption
    }
  /** Every stage's task distribution — for reading a probe's raw shape. */
  def dumpAll(): String = synchronized {
    byStage.toSeq.sortBy(_._1).map { case (sid, ds) =>
      val durs = ds.map(_._1).sorted
      val recs = ds.map(_._2).sorted
      f"stage=$sid%4d tasks=${ds.length}%4d max_ms=${durs.last}%7d " +
        f"med_ms=${durs(durs.length / 2)}%7d max_rec=${ds.maxBy(_._1)._2}%9d " +
        f"med_rec=${recs(recs.length / 2)}%9d  ${nameOf(sid).take(60)}"
    }.mkString("\n")
  }
}

/** Scaling probe for the similarity-dedup operators: grows the corpus by
  * unioning salted copies of `documents` (every token suffixed with the
  * copy tag, so shingle sets are disjoint ACROSS copies and the near-dup
  * pair structure is replicated WITHIN each copy — pair output grows
  * linearly, like a real sharded corpus, not quadratically like naive
  * duplication). Reports wall-clock per corpus size.
  *
  * Run: `sbt "runMain graft.tools.ScaleProbe [maxCopies]"`.
  */
object ScaleProbe {

  def salted(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + i.toLong * 1000000L).as("doc_id"),
        // token-level salt: "w1 w2 ..." -> "w1_ci w2_ci ..."
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"_c$i")))).as("text"))
    }.reduce(_.union(_))

  def main(args: Array[String]): Unit = {
    val maxCopies = args.headOption.map(_.toInt).getOrElse(16)
    // optional 2nd arg: comma list of sections (docs,text,ann,temporal,cc,dv,zipf);
    // SPARK_GRAFT_CPUS sets the local core count (default 32)
    val sections = args.lift(1).map(_.split(",").toSet)
      .getOrElse(Set("docs", "text", "ann", "annindex", "inccluster",
        "semdedup", "temporal", "cc", "dv", "zipf", "hotkey",
        "store", "kmv"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    docs.count()

    // warm-up round (untimed): the r14 SCALE table's 1x point carried
    // first-run JIT (10.0 s at 5 k docs vs 6.3 s at 20 k) — exercise both
    // operators once so the timed curve measures the operators, not the
    // compiler
    if (sections("docs")) {
      val warm = salted(docs, 1).cache()
      warm.count()
      Dedup.ngramJaccardPairs(warm, "doc_id", "text").count()
      Dedup.minHashLshPairs(warm, "doc_id", "text").count()
      warm.unpersist()
      Dedup.releasePersistedIndexes()
    }
    var k = 1
    while (sections("docs") && k <= maxCopies) {
      val corpus = salted(docs, k).cache()
      val n = corpus.count()
      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (jacSec, jacRows) = time(
        Dedup.ngramJaccardPairs(corpus, "doc_id", "text").count())
      val (lshSec, lshRows) = time(
        Dedup.minHashLshPairs(corpus, "doc_id", "text").count())
      println(f"SCALE docs=$n%6d ngram_jaccard=$jacSec%6.2fs pairs=$jacRows%5d " +
        f"minhash_lsh=$lshSec%6.2fs pairs=$lshRows%5d")
      corpus.unpersist()
      // free the operators' tracked index caches between sizes — the next
      // k's corpus is a different plan, so the entries would otherwise
      // pin MEMORY_AND_DISK blocks for the probe's lifetime
      Dedup.releasePersistedIndexes()
      k *= 4
    }

    // span/retrieval family: positional duplicate spans (non-distinct
    // grams — heavier than dup_passages by design) and BM25. Both are
    // explode + bounded-key agg shapes; per-doc cost should stay ~flat.
    var sk = 1
    while (sections("spans") && sk <= maxCopies) {
      val corpus = salted(docs, sk).cache()
      val n = corpus.count()
      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (dsSec, dsRows) = time(
        TextAnalysis.duplicateSpans(corpus, "doc_id", "text").count())
      val (bmSec, bmRows) = time(
        TextAnalysis.bm25TopK(corpus, "doc_id", "text",
          Seq("spark_c0", "join_c0", "window_c0"), 20).count())
      println(f"SCALE docs=$n%6d dup_spans=$dsSec%6.2fs rows=$dsRows%7d " +
        f"bm25=$bmSec%6.2fs rows=$bmRows%5d")
      corpus.unpersist()
      sk *= 4
    }

    // merge phase-1 pruning: same-sized sources, one clustered in a key
    // range (prunes to few files), one spread across the whole range
    // (candidates = all files) — the wall gap is the phase-1 scan bound.
    if (sections("mergeprune")) {
      import graft.DeltaTable
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      def freshTable(): DeltaTable = {
        val d = java.nio.file.Files.createTempDirectory("graft-mp-").toString
        DeltaTable.forPath(d).write(li.repartitionByRange(16, col("l_orderkey"))
          .select("l_orderkey", "l_quantity", "l_extendedprice"))
      }
      def src(narrow: Boolean) = {
        val base = li.select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice")).dropDuplicates("l_orderkey")
        (if (narrow) base.filter(col("l_orderkey") < 1000)
         else base.sample(0.002, 42)).limit(400)
          .withColumn("l_quantity", lit(0.0))
      }
      // warm-up pass first (JIT/codegen), then measured passes
      Seq(false, true, false).foreach { narrow =>
        val t = freshTable()
        val cand = t.mergeCandidateAdds(spark, src(narrow), Seq("l_orderkey")).size
        val t0 = System.nanoTime()
        t.merge(spark, src(narrow), Seq("l_orderkey"))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"MERGEPRUNE narrow=$narrow candidates=$cand/16 merge=$sec%6.2fs")
      }
    }

    // metadata-only DELETE (X212) and metadata-only aggregates (X213):
    // at growing table sizes, the metadata paths must stay FLAT (driver
    // log work only) while the forced-scan controls grow with the data.
    if (sections("metaops")) {
      import graft.DeltaTable
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      var mk = 1
      while (mk <= maxCopies) {
        val data = (0 until mk).map(i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L)))
          .reduce(_.unionByName(_))
        val d = java.nio.file.Files.createTempDirectory("graft-meta-").toString
        val t = DeltaTable.forPath(d)
          .write(data, partitionBy = Some(Seq("l_returnflag")))
        val n = t.toDF(spark).count()
        def wall(f: => Any): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        // metadata aggregate vs forced scan aggregate (rule disabled)
        val sqlS = graft.sql.GraftSql.enable(spark)
        val aggMeta = wall(t.toDF(sqlS).agg(count(lit(1)),
          min(col("l_quantity")), max(col("l_quantity"))).collect())
        sqlS.conf.set("spark.graft.metadataOnlyAggregates", "false")
        val aggScan = wall(t.toDF(sqlS).agg(count(lit(1)),
          min(col("l_quantity")), max(col("l_quantity"))).collect())
        sqlS.conf.unset("spark.graft.metadataOnlyAggregates")
        // metadata partition delete vs forced-scan delete (an opaque
        // predicate the stats pruner cannot prove)
        val delMeta = wall(t.delete(spark, Some(col("l_returnflag") === "A")))
        val t2 = DeltaTable.forPath(java.nio.file.Files
          .createTempDirectory("graft-meta2-").toString)
          .write(data, partitionBy = Some(Seq("l_returnflag")))
        val delScan = wall(t2.delete(spark,
          Some(substring(col("l_returnflag"), 1, 1) === "A")))
        println(f"METAOPS rows=$n%9d agg_meta=$aggMeta%6.3fs agg_scan=$aggScan%6.2fs " +
          f"del_meta=$delMeta%6.3fs del_scan=$delScan%6.2fs")
        mk *= 4
      }
    }

    // log compaction (X218): snapshot-open wall over a long checkpoint-
    // less commit tail, raw vs compacted — the object-store listing/read
    // cost this feature exists to kill (here both pay local-FS reads, so
    // the gap is pure file-count mechanics and a LOWER bound on the
    // object-store win).
    if (sections("logcompact")) {
      import graft.DeltaTable
      Seq(64, 256, 1024).foreach { commits =>
        val d = java.nio.file.Files.createTempDirectory("graft-lc-").toString
        var t = DeltaTable.forPath(d).write(
          spark.range(100).toDF("id"))
        (1 until commits).foreach(i =>
          t = t.setTableProperties(Map("graft.probe.tick" -> i.toString)))
        def openWall(): Double = {
          val t0 = System.nanoTime()
          DeltaTable.forPath(d).version
          (System.nanoTime() - t0) / 1e9
        }
        val rawOpen = (1 to 3).map(_ => openWall()).min
        t.compactLog(0, commits - 1L)
        val compactOpen = (1 to 3).map(_ => openWall()).min
        // local FS hides the per-read cost (page cache); the honest
        // number is READS: raw = `commits` opens, compacted = 1. Deleting
        // the raws proves the compacted path alone serves the snapshot.
        new java.io.File(d, "_delta_log").listFiles()
          .filter(_.getName.matches("^\\d+\\.json$")).foreach(_.delete())
        val onlyCompacted = (1 to 3).map(_ => openWall()).min
        println(f"LOGCOMPACT commits=$commits%5d open_raw=$rawOpen%6.3fs " +
          f"(reads=$commits) open_compacted=$compactOpen%6.3fs " +
          f"open_compacted_only=$onlyCompacted%6.3fs (reads=1)")
      }
    }

    // DEDUPSCALE (r13-verdict #4): the four near-dup pipelines (q20/q21/
    // q59/q174) at 1x and ~10x docs (sf1-equivalent), recording pair-stage
    // wall AND shuffle-write bytes — the empirical check that the
    // default-on df cap and the alternating-star contraction keep the
    // asymptotics near-linear (an all-pairs regression would show as
    // ~100x pair-stage bytes at 10x docs).
    if (sections("dedupscale")) {
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
      val lst = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          Option(t.taskMetrics).foreach(m =>
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
      spark.sparkContext.addSparkListener(lst)
      def measured(tag: String, copies: Int, n: Long)(f: => Long): Unit = {
        shuffleBytes.set(0L)
        val t0 = System.nanoTime(); val rows = f
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"DEDUPSCALE op=$tag%-16s copies=$copies%3d docs=$n%7d " +
          f"wall=$sec%7.2fs shuffleMB=${shuffleBytes.get / 1e6}%9.1f rows=$rows%7d")
      }
      Seq(1, 10).foreach { copies =>
        val corpus = salted(docs, copies).cache()
        val n = corpus.count()
        measured("ngram_jaccard", copies, n)(
          Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
            n = 3, threshold = 0.8).count())
        measured("minhash_lsh", copies, n)(
          Dedup.minHashLshPairs(corpus, "doc_id", "text",
            n = 3, numHashes = 64, bands = 16, threshold = 0.8).count())
        measured("dedup_clusters", copies, n)(
          Dedup.connectedComponents(Dedup.ngramJaccardPairs(corpus,
            "doc_id", "text", n = 3, threshold = 0.8)).count())
        measured("paragraph_nd", copies, n)(
          Dedup.paragraphMinHashPairs(corpus, "doc_id", "text").count())
        corpus.unpersist()
      }
      spark.sparkContext.removeSparkListener(lst)
    }

    // PLANNER overhead (r13-verdict #5): MetadataOnlyAggregates +
    // GraftPathResolution run on EVERY statement of a GraftSql session —
    // on a synthetic 1e5-add snapshot, measure (a) optimize wall of the
    // MATCHING aggregate with the rule on vs off (the rewrite's own cost,
    // which replaces a 1e5-file scan), (b) optimize wall of a NON-matching
    // statement on the same table rules on vs off (the tax every other
    // query pays), (c) a graft-free statement in the GraftSql session vs
    // the plain one (the path-resolution tax on unrelated SQL).
    if (sections("planner")) {
      import graft.DeltaTable
      Seq(10000, 100000).foreach { nAdds =>
        val d = java.nio.file.Files.createTempDirectory("graft-plan-").toString
        // real create (schema + partition col), then one raw commit
        // carrying nAdds synthetic adds — planner cost depends only on
        // log metadata, never on file bytes, so the files need not exist
        val seed = (0 until 16).map(i => (i.toLong, i / 2.0, s"p$i"))
        DeltaTable.forPath(d).write(
          spark.createDataFrame(seed).toDF("id", "v", "k").coalesce(1),
          partitionBy = Some(Seq("k")))
        val lines = (0 until nAdds).map { i =>
          val lo = i * 1000L; val hi = lo + 999L
          s"""{"add":{"path":"k=p${i % 16}/part-$i.parquet","partitionValues":{"k":"p${i % 16}"},"size":10000,"modificationTime":1730000000000,"dataChange":true,"stats":"{\\"numRecords\\":1000,\\"minValues\\":{\\"id\\":$lo,\\"v\\":$lo.5},\\"maxValues\\":{\\"id\\":$hi,\\"v\\":$hi.5},\\"nullCount\\":{\\"id\\":0,\\"v\\":0}}"}}"""
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(
          d, "_delta_log", "00000000000000000001.json"),
          lines.mkString("\n").getBytes("UTF-8"))
        def wall(f: => Any): Double = {
          val runs = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          runs.sorted.apply(1)
        }
        val openSec = wall(DeltaTable.forPath(d).version)
        val sqlS = graft.sql.GraftSql.enable(spark)
        val t = DeltaTable.forPath(d)
        val base = t.toDF(sqlS)
        def optAgg() = base.agg(count(lit(1)), min(col("v")), max(col("v")))
          .queryExecution.optimizedPlan
        def optGrouped() = base.groupBy("k").agg(count(lit(1)), max(col("id")))
          .queryExecution.optimizedPlan
        def optOther() = base.filter(col("id") > 500).select("id", "v")
          .queryExecution.optimizedPlan
        val aggOn = wall(optAgg())
        val groupedOn = wall(optGrouped())
        val otherOn = wall(optOther())
        sqlS.conf.set("spark.graft.metadataOnlyAggregates", "false")
        val aggOff = wall(optAgg())
        val otherOff = wall(optOther())
        sqlS.conf.unset("spark.graft.metadataOnlyAggregates")
        // the tax on graft-free SQL in an extension-enabled session
        def freeSql(s: org.apache.spark.sql.SparkSession) =
          s.range(1000).filter(col("id") % 7 === 0)
            .groupBy((col("id") % 3).as("g")).count()
            .queryExecution.optimizedPlan
        val freeExt = wall(freeSql(sqlS))
        val freePlain = wall(freeSql(spark))
        println(f"PLANNER adds=$nAdds%7d open=$openSec%6.3fs " +
          f"agg_on=$aggOn%6.3fs agg_off=$aggOff%6.3fs grouped_on=$groupedOn%6.3fs " +
          f"other_on=$otherOn%6.3fs other_off=$otherOff%6.3fs " +
          f"free_ext=$freeExt%6.4fs free_plain=$freePlain%6.4fs")
      }
    }

    // CKPTSCALE: checkpoint machinery at metadata scale — write + fast-
    // path open of the delta classic layout (multi-part past
    // Checkpoint.DeltaCheckpointPartSize actions) and the V2
    // manifest+sidecars layout over a synthetic 1e4/1e5-add snapshot,
    // against the raw-JSON-replay control. Each table holds only the
    // layout its column names, so each open times that layout's reader.
    // At 100 TB the table OPEN cost is log mechanics, not data — these
    // are the numbers that bound it.
    if (sections("ckptscale")) {
      import graft.DeltaTable
      Seq(10000, 100000).foreach { nAdds =>
        def freshSynth(): String = {
          val d = java.nio.file.Files.createTempDirectory("graft-cks-").toString
          val seed = (0 until 16).map(i => (i.toLong, i / 2.0, s"p$i"))
          DeltaTable.forPath(d).write(
            spark.createDataFrame(seed).toDF("id", "v", "k").coalesce(1),
            partitionBy = Some(Seq("k")))
          val lines = (0 until nAdds).map { i =>
            val lo = i * 1000L; val hi = lo + 999L
            s"""{"add":{"path":"k=p${i % 16}/part-$i.parquet","partitionValues":{"k":"p${i % 16}"},"size":10000,"modificationTime":1730000000000,"dataChange":true,"stats":"{\\"numRecords\\":1000,\\"minValues\\":{\\"id\\":$lo,\\"v\\":$lo.5},\\"maxValues\\":{\\"id\\":$hi,\\"v\\":$hi.5},\\"nullCount\\":{\\"id\\":0,\\"v\\":0}}"}}"""
          }
          java.nio.file.Files.write(java.nio.file.Paths.get(
            d, "_delta_log", "00000000000000000001.json"),
            lines.mkString("\n").getBytes("UTF-8"))
          d
        }
        def wall(f: => Any): Double = {
          val runs = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          runs.sorted.apply(1)
        }
        // writes are timed SINGLE-SHOT: checkpoint() is idempotent (an
        // existing file short-circuits), so a median-of-3 would be 0
        def wall1(f: => Any): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        def checkpointFiles(d: String): Int =
          new java.io.File(d, "_delta_log").list().count(_.contains(".checkpoint."))
        val dC = freshSynth()
        val rawOpen = wall(DeltaTable.forPath(dC).version)
        val tC = DeltaTable.forPath(dC)
        val writeClassic = wall1(tC.checkpoint())
        val openClassic = wall(DeltaTable.forPath(dC).version)
        val dV = freshSynth()
        val tV = DeltaTable.forPath(dV)
          .setTableProperties(Map("delta.checkpointPolicy" -> "v2"))
        val writeV2 = wall1(tV.checkpoint())
        val openV2 = wall(DeltaTable.forPath(dV).version)
        println(f"CKPTSCALE adds=$nAdds%7d open_raw=$rawOpen%6.3fs " +
          f"delta_classic[w=$writeClassic%6.3fs o=$openClassic%6.3fs files=${checkpointFiles(dC)}] " +
          f"delta_v2[w=$writeV2%6.3fs o=$openV2%6.3fs]")
      }
    }

    // text-quality pipeline: duplicate-passage windows and unigram-LM
    // scoring over salted corpus copies. Both are explode + bounded-key
    // window/agg shapes; time/doc should stay ~flat as the corpus grows.
    var tk = 1
    while (sections("text") && tk <= maxCopies) {
      val corpus = salted(docs, tk).cache()
      val n = corpus.count()
      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (dpSec, dpRows) = time(
        TextAnalysis.duplicatePassages(corpus, "doc_id", "text").count())
      val (ulSec, ulRows) = time(
        TextAnalysis.unigramLogProb(corpus, "doc_id", "text").count())
      println(f"SCALE docs=$n%6d dup_passages=$dpSec%6.2fs rows=$dpRows%7d " +
        f"unigram_lp=$ulSec%6.2fs rows=$ulRows%7d")
      corpus.unpersist()
      tk *= 4
    }

    // ANN: deterministically perturbed copies of the embedding corpus;
    // fixed 10-query set, so brute force grows linearly with the corpus
    // while the banded-LSH candidate join touches only matching buckets.
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    def perturbed(copies: Int): DataFrame =
      (0 until copies).map { i =>
        emb.select((col("vec_id") + i.toLong * 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, j) => x * (lit(1.0f) + (pmod(j * 31 + i, lit(13)) - 6).cast("float") * 0.05f))
            .as("embedding"))
      }.reduce(_.union(_))
    var c = 1
    while (sections("ann") && c <= maxCopies) {
      val corpus = perturbed(c).cache()
      val n = corpus.count()
      val queries = corpus.filter(col("vec_id") < 10)
      def time(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val bf = time(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 10).count())
      val lsh = time(Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 10).count())
      val ivf = time(Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 10).count())
      println(f"ANNSCALE vecs=$n%6d brute=$bf%6.2fs lsh=$lsh%6.2fs ivf=$ivf%6.2fs")
      corpus.unpersist()
      c *= 4
    }

    // Persisted IVF index: build once per corpus size (train + encode,
    // the amortized cost), then query the stored index. The direct column
    // is ivfTopK's retrain-per-call wall on the same corpus — the gap is
    // the training+encoding a persisted index stops repaying per query;
    // the query column should track the probed fraction, not the build.
    var ic = 1
    while (sections("annindex") && ic <= maxCopies) {
      val corpus = perturbed(ic).cache()
      val n = corpus.count()
      val queries = corpus.filter(col("vec_id") < 10)
      def time(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val dir = java.nio.file.Files.createTempDirectory("ivfindex-").toString
      val tb0 = System.nanoTime()
      Similarity.ivfIndexBuild(spark, dir, corpus, "vec_id", "embedding",
        nCells = 64, iters = 1)
      val build = (System.nanoTime() - tb0) / 1e9
      val q1 = time(Similarity.ivfIndexTopK(spark, dir, queries,
        "vec_id", "embedding", 10).count())
      val q2 = time(Similarity.ivfIndexTopK(spark, dir, queries,
        "vec_id", "embedding", 10).count())
      val direct = time(Similarity.ivfTopK(corpus, queries,
        "vec_id", "embedding", 10).count())
      println(f"ANNINDEX vecs=$n%6d build=$build%6.2fs query=$q1%6.2fs " +
        f"query2=$q2%6.2fs direct_retrain=$direct%6.2fs")
      corpus.unpersist()
      ic *= 4
    }

    // Incremental clustered OPTIMIZE: the clustered base grows 1x/4x/16x
    // while the newly-appended slice stays FIXED — the incremental pass
    // (tag-skips the clustered cube) should stay flat while the full
    // rewrite grows with the base.
    var icc = 1
    while (sections("inccluster") && icc <= maxCopies) {
      val orders = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      val base = (0 until icc).map(i => orders.select(
        (col("o_orderkey") + i.toLong * 100000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))).reduce(_.union(_))
      val slice = orders.select((col("o_orderkey") + 900000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      val sortBy = Seq("o_orderkey", "o_custkey")
      def freshly(): graft.DeltaTable = {
        val dir = java.nio.file.Files.createTempDirectory("inccluster-").toString
        graft.DeltaTable.forPath(dir).write(base.repartition(8))
          .compact(spark, sortBy = sortBy, zOrder = true, incremental = true)
          .write(slice.repartition(2))
      }
      def time(f: => Any): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val tInc = { val t = freshly(); time(
        t.compact(spark, sortBy = sortBy, zOrder = true, incremental = true)) }
      val tFull = { val t = freshly(); time(
        t.compact(spark, sortBy = sortBy, zOrder = true)) }
      println(f"INCCLUSTER base=${icc * 60000}%8d slice=60000 " +
        f"incremental=$tInc%6.2fs full=$tFull%6.2fs")
      icc *= 4
    }

    // SemDeDup: cluster-scoped pairwise comparison — nCells grows with the
    // corpus so expected cluster size stays bounded (the documented skew
    // knob); per-vector time should stay ~flat while a corpus-wide
    // all-pairs would grow linearly per vector.
    var sd = 1
    while (sections("semdedup") && sd <= maxCopies) {
      val corpus = perturbed(sd).cache()
      val n = corpus.count()
      val t0 = System.nanoTime()
      val drops = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.95, nCells = 64 * sd).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SEMDEDUPSCALE vecs=$n%6d ncells=${64 * sd}%5d time=$sec%6.2fs " +
        f"drops=$drops%6d per_vec_ms=${sec * 1000 / n}%7.3f")
      corpus.unpersist()
      sd *= 4
    }

    // temporal joins: events grown by user-shifted copies (per-key history
    // length constant, key count grows — the sharded-corpus shape)
    val ev = graft.QueryLib.events(spark, "/root/testdata/sf0.1")
    def grownEvents(copies: Int): DataFrame =
      (0 until copies).map { i =>
        ev.select((col("event_id") + i.toLong * 10000000L).as("event_id"),
          (col("user_id") + i.toLong * 1000000L).as("user_id"),
          col("ts"), col("event_type"))
      }.reduce(_.union(_))
    var g = 1
    while (sections("temporal") && g <= maxCopies) {
      val e = grownEvents(g).cache()
      val n = e.count()
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("purchase_ts"))
      def time(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val asof = time(Temporal.asOfJoin(
        e.select("event_id", "user_id", "ts"), purchases,
        Seq("user_id"), "ts", "ts", Seq("purchase_ts")).count())
      // keyed per-user intervals: clicks within 7 days of the SAME user's
      // signup (the real-world shape — an unkeyed dense range join has
      // quadratic OUTPUT by definition and is probed separately below)
      val day = floor(unix_timestamp(col("ts").cast("timestamp")) / 86400L)
      val pts = e.select(col("event_id"), col("user_id"), day.as("d"))
      val iv = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("rid"), col("user_id"), day.as("s"))
        .withColumn("en", col("s") + 7)
      val range = time(Temporal.rangeJoin(pts, iv, "d", "s", "en", 7L,
        keyCols = Seq("user_id")).count())
      println(f"TEMPORALSCALE events=$n%8d asof=$asof%6.2fs range_join=$range%6.2fs")
      e.unpersist()
      g *= 4
    }

    // connected components: chains of length 64 (diameter stress — 1-hop
    // label propagation would need 64 rounds; star contraction ~log²).
    // Ground truth: edges/63 components, verified each step.
    // 6.4 M tops the sweep with a second point past the 2^20 small-graph
    // threshold, so the distributed alternating-star regime gets its own
    // scaling ratio (the r14 table had exactly one distributed point)
    val chainLen = 64L
    var m = 100000L
    while (sections("cc") && m <= 6400000L) {
      val edges = spark.range(m)
        .filter(pmod(col("id"), lit(chainLen)) =!= (chainLen - 1))
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
      val t0 = System.nanoTime()
      val labels = Dedup.connectedComponents(edges)
      val comps = labels.select("component").distinct().count()
      val sec = (System.nanoTime() - t0) / 1e9
      val expected = (m + chainLen - 1) / chainLen
      println(f"CCSCALE edges=${m}%8d components=$comps%7d (expected $expected) time=$sec%6.2fs")
      m *= 4
    }

    // DELETE write cost as the table grows: copy-on-write rewrites every
    // touched file (≈ the whole table when deleted rows are scattered);
    // merge-on-read writes one deletion vector per touched file, sized by
    // that file's deleted rows.
    // The gap should WIDEN with table size — that is the 100 TB argument.
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    var dvK = 1
    while (sections("dv") && dvK <= maxCopies) {
      val data = (0 until dvK).map(i =>
        li.withColumn("l_orderkey", col("l_orderkey") + i.toLong * 100000000L))
        .reduce(_.union(_))
      def fresh(): graft.DeltaTable = {
        val d = java.nio.file.Files.createTempDirectory("graft-probe-dv-").toString
        graft.DeltaTable.forPath(d).write(data.repartition(8 * dvK))
      }
      val pred = col("l_quantity") === 1.0 // ~2% of rows, in EVERY file
      val rows = data.count()
      val tc = fresh(); val c0 = System.nanoTime()
      tc.delete(spark, Some(pred))
      val cow = (System.nanoTime() - c0) / 1e9
      val tm = fresh(); val m0 = System.nanoTime()
      val tm2 = tm.deleteMergeOnRead(spark, Some(pred))
      val mor = (System.nanoTime() - m0) / 1e9
      val s0 = System.nanoTime()
      val live = tm2.toDF(spark).count()
      val scan = (System.nanoTime() - s0) / 1e9
      println(f"DVSCALE rows=$rows%9d cow_delete=$cow%6.2fs mor_delete=$mor%6.2fs " +
        f"dv_scan=$scan%6.2fs live=$live%9d")
      dvK *= 4
    }
    // Dead-row sweep: one MoR commit of k scattered dead rows over sf0.1
    // lineitem, then the median of 3 `toDF(spark).count()` runs through
    // the vectors — the read cost of deletion vectors as the dead set
    // grows. `first` is the first of the 3 runs (the only one with cold
    // JIT and file caches).
    if (sections("dv")) {
      val n = li.count()
      for (k <- Seq(1000, 4000, 16000, 64000, 128000, 256000)) {
        val d = java.nio.file.Files.createTempDirectory("graft-probe-dvsweep-").toString
        val t = graft.DeltaTable.forPath(d).write(li).deleteMergeOnRead(spark,
          Some(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(n)) < k))
        val dead = t.dlog.addActions.values
          .flatMap(graft.sources.DeletionVectors.refOf(_)).map(_.cardinality).sum
        var live = 0L
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          live = t.toDF(spark).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"DVSWEEP dead=$dead%7d scan_p50=${runs.sorted.apply(1)}%6.3fs " +
          f"first=${runs.head}%6.3fs live=$live%8d")
      }
    }

    // Zipfian hot-key stress — the adversarial shape for the dedup family:
    // ONE passage shared by >=30% of all docs (q85's worst case) and ONE
    // dedup cluster holding 30% of all nodes (q59's celebrity node). The
    // old window-aggregate formulations put a hot key's every row into one
    // task; the groupBy+join formulations keep aggregation map-side-
    // combined and leave the residual probe-side imbalance to AQE
    // skew-join. Verdict: max task duration within 3x of the stage median.
    // AQE's skew thresholds are production-sized (256 MB); scale them to
    // probe data volume so the runtime behaves as it would on real
    // partition sizes.
    if (sections("zipf")) {
      val listener = new TaskStatsListener
      spark.sparkContext.addSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      def probe(tag: String, detail: String)(f: => Long): Unit = {
        listener.reset()
        val t0 = System.nanoTime(); val rows = f
        val wall = (System.nanoTime() - t0) / 1e9
        // the listener bus drains asynchronously; poll until the observed
        // task count stabilizes between reads (a fixed sleep under-reports
        // the worst stage when the bus lags under load)
        var prev = -1
        var waited = 0
        while (waited < 10000 && listener.taskCount != prev) {
          prev = listener.taskCount
          Thread.sleep(500)
          waited += 500
        }
        // Verdict: a stage fails the skew bar when the slowest task is both
        // >3x the median DURATION and reads >1.5x the median task's RECORDS
        // — duration alone cannot tell a hot key from scheduling-wave /
        // JIT jitter on ~100ms tasks, records can (a hot-key straggler BY
        // DEFINITION reads more rows; a uniform-data outlier does not).
        val report = listener.worstStage() match {
          case Some((sid, n, mx, med, r, maxRec, medRec)) =>
            val dataSkewed = maxRec > medRec * 3 / 2
            f"worst_stage=$sid tasks=$n max_task=${mx}ms median_task=${med}ms " +
              f"ratio=$r%4.2f records_max_task=$maxRec records_median=$medRec " +
              (if (r <= 3.0) "OK(<=3x)"
               else if (!dataSkewed) "OK(uniform-data: slow task reads <=1.5x median records; jitter, not a hot key)"
               else "SKEWED(>3x duration AND >1.5x records)")
          case None => "all stages below heavy-task threshold"
        }
        println(f"ZIPFSCALE $tag%-13s $detail rows=$rows%8d wall=$wall%6.2fs $report")
      }

      // q85 shape: 200k short docs, globally-unique filler tokens (only
      // passage windows can repeat), rank-1/2/3 passages in 30%/15%/10%
      // of docs.
      val nDocs = 200000L
      def passage(p: String) = (1 to 20).map(i => s"${p}w$i").mkString(" ")
      val filler = concat_ws(" ", transform(sequence(lit(0L), lit(39L)),
        j => concat(lit("x"), (col("id") * 64L + j).cast("string"))))
      val zdocs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", filler,
          when(pmod(col("id"), lit(10L)) < 3, lit(passage("a"))),
          when(pmod(col("id"), lit(20L)) < 3, lit(passage("b"))),
          when(pmod(col("id"), lit(10L)) === 9, lit(passage("c")))).as("text"))
        .cache()
      zdocs.count()
      probe("dup_passages", s"docs=$nDocs hot=30%")(
        TextAnalysis.duplicatePassages(zdocs, "doc_id", "text").count())
      zdocs.unpersist()

      // q59 shape: 1M nodes; node 0 is the center of a 300k-spoke star
      // (one component holding 30% of all nodes) plus 64-long chains for
      // the remaining 700k.
      val star = spark.range(1L, 300001L)
        .select(lit(0L).as("a"), col("id").as("b"))
      val chains = spark.range(300001L, 1000000L)
        .filter(pmod(col("id"), lit(64L)) =!= 63L)
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
      probe("cc_star", "nodes=1000000 star=30%")(
        Dedup.connectedComponents(star.union(chains))
          .select("component").distinct().count())
      spark.sparkContext.removeSparkListener(listener)
    }

    // Hot-key document-frequency probe (VERDICT r9 #1/#2): ONE shingle
    // injected into EVERY sf0.1 document (a boilerplate footer), so its
    // document frequency equals the corpus size. Compares the retired
    // window-partitioned df shape (control — every posting of the hot
    // key lands in one window task) against the shipped groupBy+join
    // shape on the exact same postings, then records the full production
    // operators over the same corpus. The verdict line flags a stage as
    // SKEWED only when its slowest task is both >3x median duration AND
    // reads >1.5x median records (a true hot-key straggler).
    // minhash signature STORE (X157): grow the STORE 4x per step with a
    // FIXED batch — cross-batch dedup cost must track the batch (the
    // store is only ever scanned, never shuffled; its bands project off
    // stored signatures, no re-shingling of history), so dedup wall
    // should stay near-flat while init cost grows with the store.
    var storeCopies = 1
    while (sections("store") && storeCopies <= maxCopies) {
      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val storeDir = java.nio.file.Files.createTempDirectory("probe-mhstore").toString
      val (initSec, storeN) = time {
        Dedup.minHashStoreInit(spark, storeDir, salted(docs, storeCopies),
          "doc_id", "text").toDF(spark).count()
      }
      // the batch duplicates the store's copy 0 under novel ids: every
      // batch doc has exactly one true store partner regardless of size
      val batch = salted(docs, 1)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
      val (dedupSec, matches) = time(
        Dedup.minHashStoreDedup(spark, storeDir, batch, "doc_id", "text")
          .count())
      println(f"STORE store=$storeN%7d batch=5000 init=$initSec%6.2fs " +
        f"dedup=$dedupSec%6.2fs matches=$matches%6d")
      storeCopies *= 4
    }

    // KMV sketch store (X165/X166): the direct per-group sketch must
    // track the corpus (it reads every token), while the STORE cardinality
    // query reads only sketch rows (batches × groups × k longs) — its
    // wall must stay flat as the corpus behind the sketches grows 4x/step.
    var kmvCopies = 1
    val kmvStoreDir =
      java.nio.file.Files.createTempDirectory("probe-kmvstore").toString
    var kmvBatches = 0
    while (sections("kmv") && kmvCopies <= maxCopies) {
      def time[A](f: => A): (Double, A) = {
        val t0 = System.nanoTime(); val r = f
        ((System.nanoTime() - t0) / 1e9, r)
      }
      def toksOf(d: DataFrame) = d.select((col("doc_id") % 16).as("grp"),
        explode(split(lower(col("text")), " ")).as("token"))
      val corpus = salted(docs, kmvCopies)
      val (directSec, nGroups) = time(
        graft.operators.Sketches.kmvSketch(toksOf(corpus), Seq("grp"),
          col("token"), 256).count())
      // one fixed-size batch per step: the store's ROW count (not the
      // corpus behind it) is what the cardinality query reads
      kmvBatches += 1
      // each batch is the NEWEST salted copy only: fixed size, novel
      // tokens, so the store's answer genuinely grows per batch
      val kmvBatch = toksOf(salted(docs, kmvBatches)
        .filter(col("doc_id") >= (kmvBatches - 1) * 1000000L))
      if (kmvBatches == 1)
        graft.operators.Sketches.kmvStoreInit(kmvStoreDir, kmvBatch,
          Seq("grp"), col("token"), 256, "b1")
      else
        graft.operators.Sketches.kmvStoreAppend(kmvStoreDir,
          kmvBatch, col("token"), s"b$kmvBatches")
      val (cardSec, card) = time(
        graft.operators.Sketches.kmvStoreCardinality(spark, kmvStoreDir)
          .collect())
      println(f"KMV corpus=${kmvCopies * 5000}%7d docs direct=$directSec%6.2fs " +
        f"groups=$nGroups%3d store_batches=$kmvBatches card=$cardSec%6.2fs " +
        f"est_sum=${card.map(_.getAs[Long]("est_distinct")).sum}%9d")
      kmvCopies *= 4
    }

    if (sections("hotkey")) {
      val listener = new TaskStatsListener
      spark.sparkContext.addSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      def probe(tag: String, detail: String)(f: => Long): Unit = {
        listener.reset()
        val t0 = System.nanoTime(); val rows = f
        val wall = (System.nanoTime() - t0) / 1e9
        var prev = -1; var waited = 0
        while (waited < 10000 && listener.taskCount != prev) {
          prev = listener.taskCount; Thread.sleep(500); waited += 500
        }
        val durReport = listener.worstStage() match {
          case Some((sid, n, mx, med, r, maxRec, medRec)) =>
            val dataSkewed = maxRec > medRec * 3 / 2
            f"worst_stage=$sid tasks=$n max_task=${mx}ms median_task=${med}ms " +
              f"ratio=$r%4.2f records_max_task=$maxRec records_median=$medRec " +
              (if (r <= 3.0) "OK(<=3x)"
               else if (!dataSkewed) "OK(uniform-data jitter)"
               else "SKEWED(>3x duration AND >1.5x records)")
          case None => "all stages below heavy-task threshold"
        }
        // record-skew verdict: a hot key inside an AQE-coalesced 2-3-task
        // stage never trips the duration filter, but its max task still
        // reads the whole key's rows
        val recReport = listener.worstRecords() match {
          case Some((sid, n, maxRec, medRec, r)) =>
            f"rec_stage=$sid tasks=$n max_rec=$maxRec med_rec=$medRec " +
              f"rec_ratio=$r%5.2f " + (if (r <= 3.0) "OK(<=3x)" else "SKEWED(>3x records)")
          case None => "rec: no heavy-record stage"
        }
        println(f"HOTKEY $tag%-18s $detail rows=$rows%8d wall=$wall%6.2fs $durReport | $recReport")
      }
      // every doc ends with the same 3-token footer -> with n=3 the
      // footer shingle's df == |docs|. The corpus is grown with salted
      // copies FIRST (disjoint shingle sets across copies), then the
      // footer is appended un-salted, so exactly the injected key is hot.
      val hot = salted(docs, maxCopies).select(col("doc_id"),
        concat_ws(" ", col("text"),
          lit("common boilerplate footer")).as("text")).cache()
      val nHot = hot.count()
      val inv0 = hot.select(col("doc_id"),
          explode(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)).as("_s0"))
        .select(col("doc_id"), xxhash64(col("_s0")).as("_s"))
      probe("df_window_CONTROL", s"docs=$nHot df(hot)=$nHot") {
        // the retired shape: df as a count over a shingle-partitioned window
        val w = org.apache.spark.sql.expressions.Window.partitionBy("_s")
        inv0.withColumn("_df", count(lit(1)).over(w))
          .filter(col("_df") >= 2 && col("_df") <= 50).count()
      }
      probe("df_groupby_SHIPPED", s"docs=$nHot df(hot)=$nHot") {
        // the shipped shape: map-side-combined groupBy + semi-join
        val kept = inv0.groupBy("_s").agg(count(lit(1)).as("_df"))
          .filter(col("_df") >= 2 && col("_df") <= 50).hint("shuffle_hash")
        inv0.join(kept, Seq("_s"), "left_semi").count()
      }
      probe("ngram_jaccard_full", s"docs=$nHot maxDocFreq=50")(
        Dedup.ngramJaccardPairs(hot, "doc_id", "text",
          threshold = 0.8, maxDocFreq = 50L).count())
      // r12-verdict guard wiring: AUTO (CMS pre-pass engages the default
      // cap, the df=|docs| footer shingle never reaches the self-join)
      // vs UNBOUNDED (the footer key joins |docs|^2/2 pairs before the
      // threshold can reject them) — the pair-stage wall is the story.
      probe("ngram_guard_AUTO", s"docs=$nHot df(hot)=$nHot cap=auto")(
        Dedup.ngramJaccardPairs(hot, "doc_id", "text",
          threshold = 0.8).count())
      probe("ngram_guard_UNBOUNDED", s"docs=$nHot df(hot)=$nHot cap=off")(
        Dedup.ngramJaccardPairs(hot, "doc_id", "text",
          threshold = 0.8, maxDocFreq = -1L).count())
      probe("tfidf_full", s"docs=$nHot hot_token_df=$nHot")(
        TextAnalysis.tfIdfTopTerms(hot, "doc_id", "text").count())
      hot.unpersist()

      // temporal family: a celebrity symbol carrying 90% of all ticks.
      // CONTROL is the retired bare-key window (the whole merged timeline
      // of the hot key in ONE task — r11-verdict hole); SHIPPED is the
      // (key, time-bucket) two-pass carry.
      val nTicks = 2000000L
      def sym(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(c % 10 < 9, lit("HOT")).otherwise(concat(lit("k"), c % 97))
      val ticks = spark.range(nTicks).select(sym(col("id")).as("sym"),
        expr("timestamp_micros(id * 1000)").as("ts"),
        col("id").as("event_id")).cache()
      val quotes = spark.range(nTicks / 4).select(sym(col("id")).as("sym"),
        expr("timestamp_micros(id * 4000)").as("ts"),
        col("id").as("price")).cache()
      val (nT, nQ) = (ticks.count(), quotes.count())
      probe("asof_window_CONTROL", s"ticks=$nT quotes=$nQ hot=90%") {
        val l = ticks.select(col("sym"), col("ts"), lit(1).as("_side"),
          lit(null).cast("long").as("_v"))
        val r = quotes.select(col("sym"), col("ts"), lit(0).as("_side"),
          col("price").as("_v"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("sym")
          .orderBy(col("ts"), col("_side"), col("_v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        l.unionByName(r)
          .withColumn("_asof", last(col("_v"), ignoreNulls = true).over(w))
          .filter(col("_side") === 1 && col("_asof").isNotNull).count()
      }
      probe("asof_carry_SHIPPED", s"ticks=$nT quotes=$nQ hot=90%")(
        graft.operators.Temporal.asOfJoin(ticks, quotes, Seq("sym"),
            "ts", "ts", Seq("price"))
          .filter(col("asof_price").isNotNull).count())
      ticks.unpersist(); quotes.unpersist()
      spark.sparkContext.removeSparkListener(listener)
    }

    spark.stop()
  }
}
