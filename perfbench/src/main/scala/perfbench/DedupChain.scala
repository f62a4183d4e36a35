package perfbench

import graft.DeltaTable
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** dedup_chain: the training-data operators, with one commit per chain.
  * The corpus is `Docs` generated documents salted `Copies` times (salted
  * copies share no shingles, so every count is `Copies` times the
  * unsalted one), plus `Vectors` embeddings. One chain is exact dedup,
  * MinHash-LSH pairs, n-gram Jaccard pairs, connected components, the
  * best document per component written as a table, then cosine
  * near-duplicate pairs on the embeddings; each step is one timed op,
  * and a run is at least three whole chains, so each step's median has
  * three samples. Shuffle-bound operators dominate and the
  * log does almost nothing.
  */
object DedupChain {

  val Docs = 1000L
  val Copies = 3
  val Vectors = 3000L
  val WarmDocs = 200L
  val WarmVectors = 400L
  val Steps = Seq("exact", "minhash_pairs", "ngram_pairs", "components", "keep_best", "embed_neardup")

  /** Counts one chain produces, in [[Steps]] order. */
  final class Chain(spark: org.apache.spark.sql.SparkSession, docs: DataFrame, vecs: DataFrame, out: String) {
    private var exact: DataFrame = _
    private var pairs: Seq[DataFrame] = Nil
    private var comps: DataFrame = _
    val counts = new Array[Long](Steps.size)

    def step(s: Int): Unit = counts(s) = Steps(s) match {
      case "exact" =>
        exact = Dedup.exact(docs, "doc_id", Seq("text")).persist()
        exact.count()
      case "minhash_pairs" =>
        val p = Dedup.minHashLshPairs(exact, "doc_id", "text").select("a", "b").persist()
        pairs :+= p
        p.count()
      case "ngram_pairs" =>
        val p = Dedup.ngramJaccardPairs(exact, "doc_id", "text").select("a", "b").persist()
        pairs :+= p
        p.count()
      case "components" =>
        comps = Dedup.connectedComponents(pairs.reduce(_ union _).distinct()).persist()
        comps.select("component").distinct().count()
      case "keep_best" =>
        val ranked = comps.join(exact, comps("node") === exact("doc_id"))
          .withColumn("_rk", row_number().over(
            Window.partitionBy("component").orderBy(col("n_chars").desc, col("doc_id"))))
        val losers = ranked.filter(col("_rk") > 1).select(col("node").as("doc_id"))
        val t = DeltaTable.forPath(out).write(exact.join(losers, Seq("doc_id"), "left_anti"))
        t.countRowsFromStats.getOrElse(-1L)
      case "embed_neardup" =>
        Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.95).count()
    }

    def release(): Unit = {
      (Option(exact).toSeq ++ pairs ++ Option(comps)).foreach(_.unpersist(blocking = true))
      Dedup.releasePersistedIndexes()
    }
  }

  def checkCounts(r: Run, what: String, got: Seq[Long], want: Seq[Long]): Unit =
    for (s <- Steps.indices)
      r.check(s"$what ${Steps(s)}", got(s) == want(s), s"got ${got(s)} want ${want(s)}")

  /** Counts the unsalted generator guarantees: clusters {b, b+2, b+7} for
    * b % 10 == 3, of which exact dedup drops b+7, leaving one near pair
    * and one component per cluster whose near copy exists.
    */
  def expected(n: Long, vectors: Long): Seq[Long] = {
    val bases = (3L until n by 10L)
    val exactDrops = bases.count(_ + 7 < n)
    val nearPairs = bases.count(_ + 2 < n).toLong
    Seq(n - exactDrops, nearPairs, nearPairs, nearPairs, n - exactDrops - nearPairs, vectors / 4)
  }

  def run(r: Run): Map[String, Double] = {
    val spark = r.spark
    val (docsT, vecsT) = r.setup(3)(rep => rep) { rep =>
      val d = DeltaTable.forPath(r.dir(s"dedup/docs$rep").getPath)
        .write(Gen.salted(Gen.documents(spark, r.seed, Docs), Copies))
      val v = DeltaTable.forPath(r.dir(s"dedup/vecs$rep").getPath)
        .write(Gen.embeddings(spark, r.seed, Vectors))
      (d, v)
    }

    // Warm-up, not timed: one chain on a small unsalted corpus, so the
    // timed chains do not measure JIT compilation. Its counts are checked
    // too.
    val warm = new Chain(spark, Gen.documents(spark, r.seed + 1, WarmDocs),
      Gen.embeddings(spark, r.seed + 1, WarmVectors), r.dir("dedup/warm_out").getPath)
    Steps.indices.foreach(warm.step)
    warm.release()
    checkCounts(r, "warm-up", warm.counts.toSeq, expected(WarmDocs, WarmVectors))
    r.phase("warm-up")

    var chain: Chain = null
    val chains = scala.collection.mutable.ArrayBuffer.empty[Chain]
    r.timed(Steps.size, 3 * Steps.size, { i =>
      val s = i % Steps.size
      if (s == 0) {
        if (chain != null) chain.release()
        chain = new Chain(spark, docsT.toDF(spark), vecsT.toDF(spark), r.dir(s"dedup/out$i").getPath)
        chains += chain
      }
      val c = chain
      Op(Steps(s), write = Steps(s) == "keep_best", () => r.tr.span(s"operators.${Steps(s)}")(c.step(s)))
    }, wholeDecks = true)
    chain.release()
    r.layer("operators.cached_rdds_after") = spark.sparkContext.getPersistentRDDs.size.toDouble
    val heap = r.retainedHeapMb()

    // salted copies share no shingles, so every count is Copies times the
    // unsalted one, which the generator fixes
    val unsalted = expected(Docs, Vectors)
    val want = Steps.indices.map(s => if (Steps(s) == "embed_neardup") unsalted(s) else Copies * unsalted(s))
    for ((c, j) <- chains.zipWithIndex) checkCounts(r, s"chain $j", c.counts.toSeq, want)
    val last = chains.last
    r.layer("operators.pairs_out") = last.counts(1) + last.counts(2)
    r.layer("operators.components_out") = last.counts(3)
    if (r.traced) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val shuffle = r.exec.totals(g => g.startsWith("pb-t-") &&
        (g.endsWith("-minhash_pairs") || g.endsWith("-ngram_pairs")))("exec.shuffle_write_bytes")
      val tracedPairs = r.tracedSamples.filter(s => s.kind.endsWith("_pairs") && s.kind != "embed_neardup")
        .map(s => chains(s.op / Steps.size).counts(Steps.indexOf(s.kind))).sum
      r.layer("operators.shuffle_bytes_per_pair") = shuffle / math.max(1L, tracedPairs)
    }

    // the survivors table: bytes written per surviving row, and space
    val outDir = new java.io.File(r.dir(s"dedup/out${(chains.size - 1) * Steps.size}").getPath)
    val out = DeltaTable.forPath(outDir.getPath)
    val untraced = r.untracedSamples
    val ok = untraced.filter(_.ok)
    val chainMs = ok.map(_.ms).sum / math.max(1, ok.map(_.op / Steps.size).distinct.size)
    r.detail ++= Seq(
      "docs_per_s" -> Docs * Copies / (chainMs / 1000.0),
      "chains" -> chains.size.toDouble)
    for (s <- Steps) r.detail(s"${s}_ms_p50") = Main.median(ok.filter(_.kind == s).map(_.ms))

    Main.latencyMetrics(untraced) ++ Map(
      "setup_s" -> Main.median(r.setupSeconds.toSeq),
      "write_bytes_per_row" -> Fs.dirBytes(outDir).toDouble / math.max(1L, last.counts(4)),
      "space_amp" -> Fs.dirBytes(outDir).toDouble / Fs.referencedBytes(out),
      "retained_heap_mb" -> heap)
  }
}
