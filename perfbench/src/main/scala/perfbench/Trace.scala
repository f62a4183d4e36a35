package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded from the benchmark's side of the
  * call. `op` is the timed operation that caused it; `parent` the enclosing
  * span (-1 at the top).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and counters of a traced run, kept in memory and written out when
  * the run ends. When `on` is false, [[span]] only runs its body, and a
  * run of ops can switch tracing off with [[active]] to measure the
  * overhead against untraced ops of the same run.
  */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1
  var active: Boolean = on

  def beginOp(i: Int): Unit = op = i

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def add(name: String, v: Double): Unit =
    if (active) counters(name) = counters.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  def durations(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  def spanCount: Int = spans.size

  /** Spans as JSON lines: name, start, end, parent, op. */
  def writeSpans(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach(s => w.println(
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
    finally w.close()
  }
}

/** The storage layer's operation and byte counts: operations from
  * [[CountingLocalFileSystem]] (installed in traced runs), bytes from
  * Hadoop's FileSystem statistics. In local mode the executors run in
  * the benchmark's JVM, so data-file reads and writes are counted too.
  */
object Storage {
  final case class Counts(readOps: Long, listOps: Long, writeOps: Long, bytesRead: Long, bytesWritten: Long) {
    def -(o: Counts): Counts = Counts(readOps - o.readOps, listOps - o.listOps,
      writeOps - o.writeOps, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  @annotation.nowarn("cat=deprecation")
  def snapshot(): Counts = {
    val all = FileSystem.getAllStatistics.asScala
    Counts(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.lists.get,
      CountingLocalFileSystem.writes.get, all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  def record(tr: Tracer, d: Counts): Unit = {
    tr.add("storage.read_ops", d.readOps.toDouble)
    tr.add("storage.list_ops", d.listOps.toDouble)
    tr.add("storage.write_ops", d.writeOps.toDouble)
    tr.add("storage.bytes_read", d.bytesRead.toDouble)
    tr.add("storage.bytes_written", d.bytesWritten.toDouble)
  }
}

/** Spark execution counters per job group. The benchmark puts every traced
  * op (or dedup step) in its own group, so the counters of each can be
  * read after the listener bus drains.
  */
final class ExecListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var shuffleWrite, shuffleRead, spill, runMs, cpuNs, gcMs = 0L
  }
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val accs = new java.util.concurrent.ConcurrentHashMap[String, Acc]()

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).foreach(g => acc(g).synchronized { acc(g).jobs += 1 })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).foreach(g => stageGroup.put(e.stageInfo.stageId, g))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => acc(g).synchronized { acc(g).stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }

  /** Sum of the groups whose name passes `keep`, as exec.* counters. */
  def totals(keep: String => Boolean): Map[String, Double] = {
    val sel = accs.asScala.filter { case (g, _) => keep(g) }.values
    def s(f: Acc => Long) = sel.map(f).sum.toDouble
    Map("exec.jobs" -> s(_.jobs), "exec.stages" -> s(_.stages), "exec.tasks" -> s(_.tasks),
      "exec.shuffle_write_bytes" -> s(_.shuffleWrite), "exec.shuffle_read_bytes" -> s(_.shuffleRead),
      "exec.spill_bytes" -> s(_.spill), "exec.executor_run_ms" -> s(_.runMs),
      "exec.executor_cpu_ms" -> s(_.cpuNs) / 1e6, "exec.gc_ms" -> s(_.gcMs))
  }
}
