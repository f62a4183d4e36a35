package perfbench

import scala.collection.mutable

import graft.DeltaTable
import graft.sources.DeletionVectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** dml_mix: the table format's main traffic, selective reads beside small
  * writes, on one warm handle. An sf0.1-sized `lineitem` (150k orders,
  * about 600k rows) is liquid-clustered on `l_orderkey`, so key-range
  * reads skip most files. A deck of 20 ops holds 14 key-range reads and
  * one each of append, copy-on-write delete, deletion-vector delete,
  * update, merge upsert of 1% of the keys, and an incremental compact;
  * runs end on a deck boundary, so every run has the same mix. Reads after deletion-vector deletes pay the dead-row
  * join, so a change that makes writes cheaper by making reads dearer
  * shows.
  */
object DmlMix extends AdaptiveSparkPlanHelper {

  val Orders = 150000L
  val Files = 16
  val SlotOrders: Long = Orders / Files
  /** The deletion-vector delete comes first, so most reads of a deck run
    * over a deletion vector and a kind's median never falls between reads
    * with and without one.
    */
  val Writes = Seq("delete_dv", "append", "delete", "update", "merge", "compact")
  /** Two reads between writes, reads alternating between `toDF.filter`
    * and `toDFWhere`. The layout is fixed so that every run reads as many
    * times before and after the deletion-vector delete; the seed draws
    * the keys of every op.
    */
  val DeckLayout: Seq[String] = {
    val reads = Iterator.continually(Seq("scan_filter", "scan_where")).flatten
    Writes.flatMap(w => Seq(reads.next(), reads.next(), w)) ++ Seq.fill(2)(reads.next())
  }
  val Deck = DeckLayout.size
  /** Ops after which write amplification and space are measured, so both
    * are fixed by the seed and not by how many ops a run fits.
    */
  val SpaceAtOp = Deck
  val KeyCols = Seq("l_orderkey", "l_linenumber")

  /** A planned write, replayable with plain Spark for the output check. */
  sealed trait Write
  final case class Append(first: Long, orders: Long) extends Write
  final case class Delete(keys: Keys, dv: Boolean) extends Write
  final case class Update(keys: Keys) extends Write
  final case class Merge(first: Long, orders: Long, salt: Int, newFirst: Long) extends Write
  case object Compact extends Write

  /** Orders [a, a + w): every read, delete and update works on whole orders. */
  final case class Keys(a: Long, w: Long) {
    def pred: Column = col("l_orderkey") >= a && col("l_orderkey") < a + w
    def all: Seq[Long] = a until a + w
  }

  def run(r: Run): Map[String, Double] = {
    val spark = r.spark
    val rnd = new scala.util.Random(r.seed)
    val src = r.dir("dml/source.parquet").getPath
    Gen.lineitem(spark, r.seed, 1L, Orders).write.mode("overwrite").parquet(src)

    var table = r.setup(3)(rep => r.dir(s"dml/t$rep").getPath) { path =>
      DeltaTable.forPath(path).write(spark.read.parquet(src))
        .clusterBy(Seq("l_orderkey"))
        .compact(spark, targetFiles = Files)
    }
    val path = table.loc.uri
    val dir = new java.io.File(new java.net.URI(path))

    // The plan: a fixed deck layout, with every op's keys drawn from the
    // seed. Each keyed write draws its keys inside its own sixteenth of the
    // key space, away from its edges, so it rewrites one file and no two
    // writes of a deck share one: the bytes a deck writes then depend on
    // the verbs, not on where the seed happens to put their keys.
    val plan = mutable.ArrayBuffer.empty[(String, Either[Keys, Write])]
    def inSlot(slot: Int, w: Long): Long = slot * SlotOrders + 1001 + rnd.nextLong(SlotOrders - 2000 - w)
    def planDeck(): Unit =
      for (kind <- DeckLayout) {
        val i = plan.size
        plan += kind -> (kind match {
          case "scan_filter" | "scan_where" => Left(Keys(1L + rnd.nextLong(Orders - 200), 200))
          case "append" => Right(Append(1000000L + i * 1000L, 100))
          case "delete" => Right(Delete(Keys(inSlot(2, 50), 50), dv = false))
          case "delete_dv" => Right(Delete(Keys(inSlot(5, 50), 50), dv = true))
          case "update" => Right(Update(Keys(inSlot(8, 100), 100)))
          case "merge" => Right(Merge(inSlot(11, Orders / 100), Orders / 100, i + 1, 2000000L + i * 1000L))
          case _ => Right(Compact)
        })
      }
    def mergeSource(m: Merge): DataFrame =
      Gen.lineitem(spark, r.seed, m.first, m.orders, salt = m.salt)
        .unionByName(Gen.lineitem(spark, r.seed, m.newFirst, 10, salt = m.salt))

    val readCounts = mutable.Map.empty[Int, Long]
    var spaceAt: Option[Fs.Space] = None
    val bytesBefore = Fs.dirBytes(dir)
    val tr = r.tr

    def countQuery(t: DeltaTable, kind: String, keys: Keys): DataFrame =
      (if (kind == "scan_filter") t.toDF(spark).filter(keys.pred) else t.toDFWhere(spark, keys.pred))
        .groupBy().count()

    def applyWrite(t: DeltaTable, w: Write): DeltaTable = w match {
      case Append(first, n) => t.write(Gen.lineitem(spark, r.seed, first, n, parts = 1))
      case Delete(k, false) => t.delete(spark, Some(k.pred))
      case Delete(k, true) => t.deleteMergeOnRead(spark, Some(k.pred))
      case Update(k) => t.update(spark, Some(k.pred),
        Map("l_quantity" -> (col("l_quantity") + 1), "l_linestatus" -> lit("U")))
      case m: Merge => t.merge(spark, mergeSource(m), KeyCols)
      case Compact => t.compact(spark, incremental = true)
    }

    // Warm-up, not timed: one deck on a 500-order table, so the timed deck,
    // where each verb runs once, does not measure JIT compilation.
    var warm = DeltaTable.forPath(r.dir("dml/warm").getPath)
      .write(Gen.lineitem(spark, r.seed, 1L, 500)).clusterBy(Seq("l_orderkey")).compact(spark, targetFiles = 4)
    for (kind <- DeckLayout) kind match {
      case "scan_filter" | "scan_where" => countQuery(warm, kind, Keys(10, 20)).collect()
      case "append" => warm = applyWrite(warm, Append(900000L, 10))
      case "delete" => warm = applyWrite(warm, Delete(Keys(50, 5), dv = false))
      case "delete_dv" => warm = applyWrite(warm, Delete(Keys(100, 5), dv = true))
      case "update" => warm = applyWrite(warm, Update(Keys(150, 10)))
      case "merge" => warm = applyWrite(warm, Merge(200L, 50L, 99, 950000L))
      case _ => warm = applyWrite(warm, Compact)
    }
    r.phase("warm-up")

    def read(i: Int, kind: String, keys: Keys): Unit = {
      val q = countQuery(table, kind, keys)
      tr.span("sources.plan")(q.queryExecution.executedPlan)
      readCounts(i) = q.collect()(0).getLong(0)
      if (tr.active) {
        val scans = collect(q.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
        tr.add("sources.files_read", scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum.toDouble)
        tr.add("sources.bytes_read", scans.map(_.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum.toDouble)
      }
    }

    def write(kind: String, w: Write): Unit = {
      val before = table.dlog.addActions
      table = tr.span(s"table.$kind")(applyWrite(table, w))
      if (tr.active) {
        val after = table.dlog.addActions
        val added = after.keySet -- before.keySet
        tr.add("table.files_added", added.size.toDouble)
        tr.add("table.files_removed", (before.keySet -- after.keySet).size.toDouble)
        tr.add("table.bytes_added", added.toSeq.map(after(_).size).sum.toDouble)
      }
    }

    def probe(i: Int): Unit = plan(i)._2 match {
      case Left(keys) =>
        val adds = table.dlog.addActions.values.toSeq
        val kept = tr.span("sources.prune")(table.prunedAdds(keys.pred))
        tr.add("sources.files_total", adds.size.toDouble)
        tr.add("sources.files_kept", kept.size.toDouble)
        tr.add("sources.dv_files", adds.count(a => DeletionVectors.refOf(a).isDefined).toDouble)
      case Right(_) =>
    }

    r.timed(Deck, Deck, { i =>
      if (i == SpaceAtOp) spaceAt = Some(Fs.space(table, bytesBefore))
      if (i >= plan.size) planDeck()
      val (kind, p) = plan(i)
      p match {
        case Left(keys) => Op(kind, write = false, () => read(i, kind, keys))
        case Right(w) => Op(kind, write = true, () => write(kind, w))
      }
    }, probe, wholeDecks = true)
    val ran = r.samples.size
    val heap = r.retainedHeapMb()
    val at = spaceAt.getOrElse(Fs.space(table, bytesBefore))
    Fs.logGauges(r, table)

    // Check. Every op works on whole orders, so a map from order key to
    // line count, updated op by op, gives each read's count and the rows
    // each write changed; the final content is the ops replayed with plain
    // Spark on the source parquet.
    val done = (0 until ran).filter(r.samples(_).ok).map(i => i -> plan(i)._2)
    val ranges = (1L, Orders) +: done.collect {
      case (_, Right(Append(first, n))) => Seq((first, n))
      case (_, Right(m: Merge)) => Seq((m.first, m.orders), (m.newFirst, 10L))
    }.flatten
    val full = Gen.lineCounts(spark, r.seed, ranges)
    val lines = mutable.HashMap.empty[Long, Int] ++ full.filter(_._1 <= Orders)
    var model = spark.read.parquet(src)
    var changedAt = 0L // rows inserted, updated or deleted by ops before SpaceAtOp
    for ((i, op) <- done) {
      val changed: Long = op match {
        case Left(keys) =>
          val want = keys.all.map(k => lines.getOrElse(k, 0).toLong).sum
          r.check(s"read $i", readCounts.get(i).contains(want), s"got ${readCounts.get(i)} want $want")
          0L
        case Right(Append(first, n)) =>
          model = model.unionByName(Gen.lineitem(spark, r.seed, first, n))
          (first until first + n).map { k => lines(k) = full(k); full(k).toLong }.sum
        case Right(Delete(keys, _)) =>
          model = model.filter(!keys.pred)
          keys.all.flatMap(lines.remove).map(_.toLong).sum
        case Right(Update(keys)) =>
          val p = keys.pred
          model = model.select(model.columns.map(col).toSeq.map(c => c.toString match {
            case "l_quantity" => when(p, c + 1).otherwise(c).as("l_quantity")
            case "l_linestatus" => when(p, lit("U")).otherwise(c).as("l_linestatus")
            case _ => c
          }): _*)
          keys.all.map(k => lines.getOrElse(k, 0).toLong).sum
        case Right(m: Merge) =>
          val s = mergeSource(m)
          model = model.join(s.select(KeyCols.map(col): _*), KeyCols, "left_anti").unionByName(s)
          ((m.first until m.first + m.orders) ++ (m.newFirst until m.newFirst + 10))
            .map { k => lines(k) = full(k); full(k).toLong }.sum
        case Right(Compact) => 0L
      }
      if (i < SpaceAtOp) changedAt += changed
    }
    r.phase("replay")
    val fresh = DeltaTable.forPath(path)
    val (gotN, gotH) = Fs.contentHash(fresh.toDF(spark))
    val (wantN, wantH) = Fs.contentHash(model)
    r.check("final rows", gotN == wantN && gotN == lines.values.map(_.toLong).sum,
      s"got $gotN want $wantN and ${lines.values.map(_.toLong).sum}")
    r.check("final content hash", gotH == wantH, s"got $gotH want $wantH")

    val untraced = r.untracedSamples
    val ok = untraced.filter(_.ok)
    def ms(f: Sample => Boolean) = ok.filter(f).map(_.ms)
    r.detail ++= Seq(
      "scan_ms_p50" -> Main.median(ms(!_.write)), "scan_ms_p90" -> Main.percentile(ms(!_.write), 0.9),
      "dml_ms_p50" -> Main.median(ms(_.write)), "dml_ms_p90" -> Main.percentile(ms(_.write), 0.9),
      "scan_samples" -> ms(!_.write).size.toDouble, "dml_samples" -> ms(_.write).size.toDouble,
      "final_rows" -> gotN.toDouble)
    for (k <- Writes) r.detail(s"${k}_ms_p50") = Main.median(ms(_.kind == k))

    Main.latencyMetrics(untraced) ++ Map(
      "setup_s" -> Main.median(r.setupSeconds.toSeq),
      "write_bytes_per_row" -> at.addedBytes.toDouble / math.max(1L, changedAt),
      "space_amp" -> at.dirBytes.toDouble / at.referencedBytes,
      "retained_heap_mb" -> heap)
  }
}
