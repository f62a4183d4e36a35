package perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.DeltaTable
import graft.log.{Checkpoint, DeltaLog, DeltaLogEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** log_churn: the log kernel under many commits and many files, with cold
  * handles. The input table has 2000 versions and 9996 live files of 4
  * rows each; set-up checkpoints it at its head and opens it. Timed ops
  * are tiny appends on the warm handle (auto-checkpoints fire every 10
  * commits), cold head opens, cold opens at a seeded version from the
  * middle of the log, `history`, and the metadata-only row count. Every open replays from disk, so opens work
  * on more state than the handle's memoized snapshot, while commits reuse
  * it.
  */
object LogChurn {

  val Versions = 2000
  val FilesPerCommit = 5
  val RowsPerFile = 4
  /** A fixed layout, so that every run opens the head at the same distances
    * from the last checkpoint.
    */
  val DeckKinds = Seq("append", "open_head", "count_stats", "append", "open_version", "history",
    "append", "open_head", "count_stats", "append", "open_version", "history")
  val Deck: Int = DeckKinds.size
  /** Ops after which write amplification and space are measured. */
  val SpaceAtOp: Int = Deck

  def tiny(r: Run, i: Int): DataFrame =
    r.spark.range(0, RowsPerFile, 1, 1).select(
      (col("id") + i.toLong * RowsPerFile).as("id"),
      (xxhash64(lit(r.seed), lit(i), col("id")) % 1000 / 10.0).as("v"),
      concat(lit("t"), (col("id") % 3).cast("string")).as("tag"))

  def run(r: Run): Map[String, Double] = {
    val spark = r.spark
    val rnd = new scala.util.Random(r.seed)

    // the input: a log written directly as protocol JSON, as another
    // writer would leave it, over links to one 4-row data file
    val input = r.dir("churn/input").getPath
    val t0 = DeltaTable.forPath(input).write(tiny(r, -1))
    val template = t0.dlog.addActions.values.head
    val inDir = Fs.tableDir(t0).toPath
    val inLog = new java.io.File(new java.net.URI(t0.logLoc.uri)).toPath
    var n = 0
    for (v <- 1 until Versions) {
      val adds = (0 until FilesPerCommit).map { _ =>
        n += 1
        val name = f"part-churn-$n%05d.parquet"
        Files.createLink(inDir.resolve(name), inDir.resolve(template.path))
        template.copy(path = name)
      }
      Files.writeString(inLog.resolve(DeltaLog.filenameForVersion(v)),
        DeltaLogEntry.appendTable(Seq.empty, adds, None).toNdjson)
    }
    r.phase("input")
    // each set-up gets its own copy: data files hard-linked (never
    // rewritten), log files copied (set-up adds a checkpoint beside them)
    def copyInput(rep: Int): String = {
      val dst = r.dir(s"churn/t$rep").toPath
      Files.walk(inDir).forEach { p =>
        val q = dst.resolve(inDir.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else if (p.startsWith(inLog)) Files.copy(p, q)
        else Files.createLink(q, p)
      }
      dst.toString
    }
    var table = r.setup(3)(copyInput) { path =>
      DeltaTable.forPath(path).checkpoint()
      DeltaTable.forPath(path)
    }
    val path = table.loc.uri
    val dir = Fs.tableDir(table)
    val base = table.version
    // rows at each version: the setup's, then one tiny file per append
    val appendedAt = mutable.ArrayBuffer.empty[Long]
    def rowsAt(v: Long): Long =
      RowsPerFile.toLong * (1 + FilesPerCommit * math.min(v, base) + appendedAt.count(_ <= v))

    val tr = r.tr
    val deck = mutable.ArrayBuffer.empty[String]
    val versionOf = mutable.Map.empty[Int, Long]
    var spaceAt: Option[Fs.Space] = None
    val bytesBefore = Fs.dirBytes(dir)
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) throw new IllegalStateException(s"$what: got $got want $want")

    def op(i: Int, kind: String): Op = kind match {
      case "append" =>
        // a commit that crosses the checkpoint interval also writes one
        val crosses = (table.version + 1) % table.checkpointInterval == 0
        Op(if (crosses) "append_checkpoint" else "append", write = true, () => {
          table = tr.span(if (crosses) "log.checkpoint_write" else "table.append")(table.write(tiny(r, i)))
          appendedAt += table.version
        })
      case "open_head" => Op(kind, write = false, () => {
        val t = tr.span("log.open")(DeltaTable.forPath(path))
        expect("head version", t.version, table.version)
        expect("head rows", t.countRowsFromStats, Some(rowsAt(table.version)))
      })
      case "open_version" =>
        // from the middle of the log, so every run replays about as much
        val v = table.version * 45 / 100 + rnd.nextLong(table.version / 10 + 1)
        versionOf(i) = v
        Op(kind, write = false, () => {
          val t = tr.span("log.open")(DeltaTable.forPath(path, Some(v)))
          expect(s"rows at version $v", t.countRowsFromStats, Some(rowsAt(v)))
        })
      case "history" => Op(kind, write = false, () =>
        expect("history length", table.history.size.toLong, table.version + 1))
      case _ => Op(kind, write = false, () =>
        expect("rows from stats", table.countRowsFromStats, Some(rowsAt(table.version))))
    }

    def probe(i: Int): Unit = deck(i) match {
      case "open_head" => tr.span("log.checkpoint_load")(Checkpoint.loadFrom(table.logLoc, table.conf))
      case "open_version" => tr.span("log.replay")(DeltaLog.load(table.logLoc, versionOf.get(i)))
      case _ =>
    }

    r.timed(Deck, 4 * Deck, { i =>
      if (i == SpaceAtOp) spaceAt = Some(Fs.space(table, bytesBefore))
      if (i >= deck.size) deck ++= DeckKinds
      op(i, deck(i))
    }, probe)
    val heap = r.retainedHeapMb()
    val at = spaceAt.getOrElse(Fs.space(table, bytesBefore))
    Fs.logGauges(r, table)

    // Check: the head version is the commits issued, and a cold open at
    // every version an append made counts the rows appended up to it.
    val head = DeltaTable.forPath(path)
    r.check("head version", head.version == base + appendedAt.size,
      s"got ${head.version} want ${base + appendedAt.size}")
    for (v <- appendedAt.takeRight(5))
      r.check(s"rows at $v", DeltaTable.forPath(path, Some(v)).countRowsFromStats.contains(rowsAt(v)))
    r.check("rows at head", head.countRowsFromStats.contains(rowsAt(head.version)))
    r.check("ops ran", r.samples.nonEmpty)

    val untraced = r.untracedSamples
    val ok = untraced.filter(_.ok)
    def ms(f: Sample => Boolean) = ok.filter(f).map(_.ms)
    val appendsBefore = deck.take(SpaceAtOp).count(_ == "append")
    r.detail ++= Seq(
      "commit_ms_p50" -> Main.median(ms(_.write)), "commit_ms_p90" -> Main.percentile(ms(_.write), 0.9),
      "open_ms_p50" -> Main.median(ms(_.kind.startsWith("open"))),
      "open_ms_p90" -> Main.percentile(ms(_.kind.startsWith("open")), 0.9),
      "commit_samples" -> ms(_.write).size.toDouble, "open_samples" -> ms(_.kind.startsWith("open")).size.toDouble,
      "head_version" -> head.version.toDouble)
    for (k <- DeckKinds.distinct :+ "append_checkpoint") r.detail(s"${k}_ms_p50") = Main.median(ms(_.kind == k))

    Main.latencyMetrics(untraced) ++ Map(
      "setup_s" -> Main.median(r.setupSeconds.toSeq),
      "write_bytes_per_row" -> at.addedBytes.toDouble / math.max(1, appendsBefore * RowsPerFile),
      "space_amp" -> at.dirBytes.toDouble / at.referencedBytes,
      "retained_heap_mb" -> heap)
  }
}
