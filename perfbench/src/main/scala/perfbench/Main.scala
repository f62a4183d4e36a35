package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `write` puts it in the write class of its
  * workload's latency metrics, otherwise it is in the read class.
  */
final case class Op(kind: String, write: Boolean, body: () => Unit)

final case class Sample(op: Int, kind: String, write: Boolean, ms: Double, ok: Boolean, traced: Boolean)

/** The state of one benchmark run: the Spark session, the seed, the
  * tracer, and everything measured so far.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: File) {
  val tr = new Tracer(traced)
  val exec = new ExecListener
  if (traced) spark.sparkContext.addSparkListener(exec)
  val samples = mutable.ArrayBuffer.empty[Sample]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  /** Numbers reported by name beside the metrics (per-op-class latencies,
    * correctness counts); the workload fills them.
    */
  val detail = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer values a workload computes itself (gauges, ratios). */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def dir(name: String): File = new File(work, name)

  private val started = System.nanoTime()

  /** Marks the end of a phase on standard error, with the seconds since
    * the run started.
    */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name done at ${(System.nanoTime() - started) / 1e9}%.1f s")

  def check(name: String, ok: Boolean, what: => String = ""): Unit = {
    checks += name -> ok
    if (!ok) System.err.println(s"CHECK FAILED: $name $what")
  }

  /** Set-up, `reps` times: `prepare` makes a fresh copy of the inputs
    * (not timed) and `build` is the program's set-up on them (timed).
    * Returns the last state.
    */
  def setup[P, T](reps: Int)(prepare: Int => P)(build: P => T): T = {
    var last: Option[T] = None
    for (r <- 0 until reps) {
      val in = prepare(r)
      val t0 = System.nanoTime()
      last = Some(build(in))
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  /** The closed loop: one client issues `next(i)` after op i-1 completed,
    * until `seconds` have passed, at least `minOps` ops ran and, with
    * `wholeDecks`, the current deck of `deck` ops is complete. In a traced
    * run, ops of each kind alternate between untraced and traced, so
    * tracing overhead is measured against untraced ops of the same kind
    * and run; the loop goes on until every kind has run both ways.
    * `probe(i)` runs after a traced op's timer stops: extra calls that
    * break the op down into layers.
    */
  def timed(deck: Int, minOps: Int, next: Int => Op, probe: Int => Unit = _ => (),
      wholeDecks: Boolean = false): Unit = {
    phase("set-up")
    val sc = spark.sparkContext
    val end = System.nanoTime() + seconds * 1000000000L
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    def bothWays = !traced || seen.values.forall(_ >= 2)
    var i = 0
    while (System.nanoTime() < end || i < minOps || !bothWays || (wholeDecks && i % deck != 0)) {
      val op = next(i)
      val on = traced && seen(op.kind) % 2 == 1
      seen(op.kind) += 1
      tr.active = on
      tr.beginOp(i)
      sc.setJobGroup(s"pb-${if (on) "t" else "u"}-$i-${op.kind}", op.kind)
      val st0 = if (on) Storage.snapshot() else null
      val t0 = System.nanoTime()
      val ok =
        try { tr.span(s"op.${op.kind}")(op.body()); true }
        catch { case NonFatal(e) => System.err.println(s"op $i ${op.kind} failed: $e"); false }
      val ms = (System.nanoTime() - t0) / 1e6
      if (on) Storage.record(tr, Storage.snapshot() - st0)
      samples += Sample(i, op.kind, op.write, ms, ok, on)
      if (on && ok) probe(i)
      sc.clearJobGroup()
      i += 1
    }
    tr.active = false
    phase(s"timed section, $i ops,")
  }

  /** Driver heap in use after forced collections, in MB. A collection can
    * release more garbage asynchronously (Spark's cleaner works on
    * collected references), so collect until the heap stops shrinking.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); Thread.sleep(100); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var last = used()
    var next = used()
    var n = 0
    while (next < last - 0.5 && n < 10) { last = next; next = used(); n += 1 }
    next
  }

  def untracedSamples: Seq[Sample] = samples.filterNot(_.traced).toSeq
  def tracedSamples: Seq[Sample] = samples.filter(_.traced).toSeq
}

object Main {

  val Workloads: Map[String, Run => Map[String, Double]] = Map(
    "dml_mix" -> DmlMix.run,
    "log_churn" -> LogChurn.run,
    "dedup_chain" -> DedupChain.run)

  /** End-to-end metrics, in BENCHMARK.json order: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s",
    "read_ms" -> "ms", "write_ms" -> "ms",
    "write_bytes_per_row" -> "B/row", "space_amp" -> "ratio",
    "retained_heap_mb" -> "MB")

  /** Per-layer metrics of a traced run: name -> unit. A layer a workload
    * does not call reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "log.open_ms" -> "ms", "log.replay_ms" -> "ms", "log.checkpoint_load_ms" -> "ms",
    "log.checkpoint_write_ms" -> "ms", "log.tail_commits" -> "count", "log.live_files" -> "count",
    "log.log_files" -> "count", "log.log_bytes" -> "B",
    "storage.read_ops" -> "count/op", "storage.list_ops" -> "count/op",
    "storage.write_ops" -> "count/op", "storage.bytes_read" -> "B/op", "storage.bytes_written" -> "B/op",
    "sources.prune_ms" -> "ms", "sources.plan_ms" -> "ms", "sources.files_total" -> "count/op",
    "sources.files_kept" -> "count/op", "sources.skip_ratio" -> "ratio", "sources.dv_files" -> "count/op",
    "sources.files_read" -> "count/op", "sources.bytes_read" -> "B/op",
    "table.append_ms" -> "ms", "table.delete_ms" -> "ms", "table.delete_dv_ms" -> "ms",
    "table.update_ms" -> "ms", "table.merge_ms" -> "ms", "table.compact_ms" -> "ms",
    "table.files_added" -> "count/op", "table.files_removed" -> "count/op", "table.bytes_added" -> "B/op",
    "exec.jobs" -> "count/op", "exec.stages" -> "count/op", "exec.tasks" -> "count/op",
    "exec.shuffle_write_bytes" -> "B/op", "exec.shuffle_read_bytes" -> "B/op", "exec.spill_bytes" -> "B/op",
    "exec.executor_run_ms" -> "ms/op", "exec.executor_cpu_ms" -> "ms/op", "exec.gc_ms" -> "ms/op",
    "operators.exact_ms" -> "ms", "operators.minhash_pairs_ms" -> "ms", "operators.ngram_pairs_ms" -> "ms",
    "operators.components_ms" -> "ms", "operators.keep_best_ms" -> "ms", "operators.embed_neardup_ms" -> "ms",
    "operators.shuffle_bytes_per_pair" -> "B", "operators.pairs_out" -> "count",
    "operators.components_out" -> "count", "operators.cached_rdds_after" -> "count",
    "trace.overhead_pct" -> "%", "trace.spans_per_op" -> "count/op")

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      // linear interpolation between closest ranks, as numpy's default
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Latency and throughput metrics over a set of op samples. A class's
    * latency is the geometric mean, over its op kinds, of each kind's
    * median: each kind weighs the same whatever its share of the samples,
    * and no median falls on the boundary between two kinds.
    */
  def latencyMetrics(ss: Seq[Sample]): Map[String, Double] = {
    val ok = ss.filter(_.ok)
    def classMs(write: Boolean): Double = {
      val meds = ok.filter(_.write == write).groupBy(_.kind).values.map(k => median(k.map(_.ms))).toSeq
      math.exp(meds.map(math.log).sum / meds.size)
    }
    Map("ops_per_s" -> ok.size / (ok.map(_.ms).sum / 1000.0),
      "read_ms" -> classMs(write = false), "write_ms" -> classMs(write = true))
  }

  /** Per-layer values from the tracer, the listener and the workload. */
  def perLayer(run: Run): Map[String, Double] = {
    val tr = run.tr
    val traced = run.tracedSamples
    val nOps = math.max(1, traced.size).toDouble
    val nReads = math.max(1, traced.count(!_.write)).toDouble
    val nWrites = math.max(1, traced.count(_.write)).toDouble
    def med(span: String) = median(tr.durations(span))
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (n <- Seq("log.open", "log.replay", "log.checkpoint_load", "log.checkpoint_write",
        "sources.prune", "sources.plan", "table.append", "table.delete", "table.delete_dv",
        "table.update", "table.merge", "table.compact", "operators.exact", "operators.minhash_pairs",
        "operators.ngram_pairs", "operators.components", "operators.keep_best", "operators.embed_neardup"))
      m(n + "_ms") = med(n)
    for (n <- Seq("storage.read_ops", "storage.list_ops", "storage.write_ops", "storage.bytes_read",
        "storage.bytes_written"))
      m(n) = tr.counter(n) / nOps
    for (n <- Seq("sources.files_total", "sources.files_kept", "sources.dv_files", "sources.files_read",
        "sources.bytes_read"))
      m(n) = tr.counter(n) / nReads
    val total = tr.counter("sources.files_total")
    m("sources.skip_ratio") = if (total > 0) 1.0 - tr.counter("sources.files_kept") / total else 0.0
    for (n <- Seq("table.files_added", "table.files_removed", "table.bytes_added"))
      m(n) = tr.counter(n) / nWrites
    org.apache.spark.perfbench.Bus.drain(run.spark.sparkContext)
    run.exec.totals(_.startsWith("pb-t-")).foreach { case (k, v) => m(k) = v / nOps }
    // overhead: traced against untraced ops of the same kind and run
    val ratios = traced.groupBy(_.kind).toSeq.flatMap { case (k, ts) =>
      val us = run.untracedSamples.filter(s => s.kind == k && s.ok)
      if (us.isEmpty || ts.isEmpty) None else Some(median(ts.map(_.ms)) / median(us.map(_.ms)))
    }
    m("trace.overhead_pct") =
      if (ratios.isEmpty) 0.0 else (math.exp(ratios.map(math.log).sum / ratios.size) - 1.0) * 100.0
    m("trace.spans_per_op") = tr.spanCount / nOps
    m ++= run.layer
    PerLayer.map { case (n, _) => n -> m.getOrElse(n, 0.0) }.toMap
  }

  /** Load averages and core counts, as JSON numbers. */
  def host(cores: Int): String = {
    val la = scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
    val maxHeapMb = Runtime.getRuntime.maxMemory / 1048576.0
    f"""{"loadavg_1m":${la(0).toDouble},"loadavg_5m":${la(1).toDouble},"cores_used":$cores,""" +
      f""""nproc":${Runtime.getRuntime.availableProcessors},"max_heap_mb":$maxHeapMb%.1f}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(names: Seq[(String, String)], values: Map[String, Double]): String =
    names.map { case (n, u) => s""""$n":{"value":${num(values(n))},"unit":"$u"}""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    val run0 = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val work = new File(a.getOrElse("work", ".bench_build/work")).getAbsoluteFile
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val hostStart = host(cores)

    if (traced) org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-counting-fs.xml")
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)

    val run = new Run(spark, seed, seconds, traced, work)
    val (values, failed) =
      try {
        val v = run0(run)
        (v, false)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          (Map.empty[String, Double], true)
      }
    run.phase("workload")
    if (traced) run.tr.writeSpans(new File(work.getParentFile, s"spans-$workload-$seed.jsonl"))
    // output checks count as attempted ops, so failed <= attempted
    val attempted = run.samples.size + run.checks.size
    val failedOps = run.samples.count(!_.ok) + run.checks.count(!_._2)
    val correct = !failed && run.checks.nonEmpty && run.checks.forall(_._2) && failedOps == 0
    run.detail("failed_ops_ratio") = failedOps.toDouble / math.max(1, attempted)
    val metrics =
      if (failed) "{}"
      else if (traced) metricsJson(PerLayer, perLayer(run))
      else metricsJson(EndToEnd, values)
    val detail = run.detail.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    println(s"""{"workload":"$workload","seed":$seed,"trace":${if (traced) 1 else 0},""" +
      s""""host_start":$hostStart,"host_end":${host(cores)},"detail":$detail}""")
    println(s"""{"correct":$correct,"attempted":${math.max(1, attempted)},"failed":$failedOps,"metrics":$metrics}""")
    spark.stop()
    run.phase("stop")
    sys.exit(if (correct) 0 else 1)
  }
}
