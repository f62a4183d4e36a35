package graft

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.log.{AddCDCFile, AddFile, CommitInfo, DeltaLog, DeltaLogEntry, Metadata,
  Protocol, RemoveFile}
import graft.sources.DeletionVectors

/** Commit pins for every row-level DML verb: DELETE, UPDATE, MERGE (all
  * three forms and their clause shapes) and REPLACE WHERE, each run on the
  * same small fixture under four table kinds:
  *
  *  - `plain`: 8 files (4 appends × partitions p=0/1), 5 rows each;
  *  - `sidecar`: the plain table after a merge-on-read delete of
  *    `k % 10 >= 8`, as an earlier build wrote it, so every file already
  *    carries a `_graft_dv` sidecar vector (the committed fixture
  *    `legacy-sidecar-dv-table`; nothing writes sidecars any more);
  *  - `cdf`: `delta.enableChangeDataFeed=true`;
  *  - `specdv`: `delta.enableDeletionVectors=true` (delta-spec vectors,
  *    and DELETE routed to merge-on-read).
  *
  * Each case records one line: the result rows (count + digest), the
  * schema, the commit's full `operationMetrics` map in log order, every
  * action of the commit (kind, partition values, dataChange, numRecords
  * and DV cardinality), the version's change-feed rows (counts per change
  * type + digest) and the Spark jobs the verb ran. The lines in
  * `dml_commit_pins.txt` were recorded from the engine's output; every
  * field but the job count must match exactly, and the job count must not
  * rise above the recorded one.
  */
class DmlCommitSpec extends SparkSuite {
  import spark.implicits._

  private val kinds = Seq("plain", "sidecar", "cdf", "specdv")

  private def rows(ks: Range): DataFrame =
    ks.map(k => (k, k % 2, s"v$k", k * 1.5)).toDF("k", "p", "v", "x")

  private lazy val fixtures: Map[String, Path] = kinds.map { kind =>
    if (kind == "sidecar")
      kind -> Paths.get(getClass.getResource("/graft/legacy-sidecar-dv-table").toURI)
    else {
      val d = tempDir(s"dml-pin-$kind")
      var t = DeltaTable.forPath(d).write(rows(0 until 10).coalesce(1),
        partitionBy = Some(Seq("p")))
      (1 until 4).foreach(b => t = t.write(rows(b * 10 until b * 10 + 10).coalesce(1)))
      kind match {
        case "plain"  => ()
        case "cdf"    => t.setTableProperties(Map("delta.enableChangeDataFeed" -> "true"))
        case "specdv" => t.setTableProperties(Map("delta.enableDeletionVectors" -> "true"))
      }
      kind -> Paths.get(d)
    }
  }.toMap

  /** A private copy of the kind's fixture (log paths are relative). */
  private def fresh(kind: String): DeltaTable = copyOf(fixtures(kind))

  private def copyOf(src: Path): DeltaTable =
    DeltaTable.forPath(copyToTemp(src, "dml-case"))

  private val srcKeys = Seq(2, 3, 17, 44, 45)
  private def wideSource: DataFrame =
    srcKeys.map(k => (k, k % 2, s"m$k", -k.toDouble)).toDF("k", "p", "v", "x")
  private def narrowSource: DataFrame =
    srcKeys.map(k => (k, -k.toDouble)).toDF("k", "x")
  private val inserts: Map[String, org.apache.spark.sql.Column] = Map(
    "p" -> col("s.k") % 2, "v" -> lit("ins"), "x" -> col("s.x"))
  private val updateSet: Map[String, org.apache.spark.sql.Column] = Map(
    "v" -> concat(col("v"), lit("-u")), "x" -> col("x") * 2)

  private val verbs: Seq[(String, DeltaTable => DeltaTable)] = Seq(
    "delete" -> (_.delete(spark, Some(col("k") % 3 === 0))),
    "deleteMergeOnRead" -> (_.deleteMergeOnRead(spark, Some(col("k") % 3 === 0))),
    "update" -> (_.update(spark, Some(col("k") % 4 === 1), updateSet)),
    "updateMergeOnRead" ->
      (_.updateMergeOnRead(spark, Some(col("k") % 4 === 1), updateSet)),
    "merge" -> (_.merge(spark, wideSource, Seq("k"))),
    "mergeMergeOnRead" -> (_.mergeMergeOnRead(spark, wideSource, Seq("k"))),
    "merge schemaEvolution" -> (_.merge(spark,
      wideSource.withColumn("extra", lit("e")), Seq("k"), schemaEvolution = true)),
    "merge notMatchedBySourceDelete" -> (_.merge(spark, wideSource, Seq("k"),
      notMatchedBySourceDelete = true,
      notMatchedBySourceCondition = Some(col("k") >= 30))),
    "replaceWhere" -> (_.replaceWhere(spark, col("k") >= 10 && col("k") < 20,
      (10 until 15).map(k => (k, k % 2, s"r$k", k * 10.0)).toDF("k", "p", "v", "x"))),
    "mergeWhenMatchedUpdate set" -> (_.mergeWhenMatchedUpdate(spark, narrowSource,
      Seq("k"), Map("x" -> col("s.x")))),
    "mergeWhenMatchedUpdate delete" -> (_.mergeWhenMatchedUpdate(spark, narrowSource,
      Seq("k"), Map.empty, matchedDeleteCondition = Some(col("t.x") > 4.0))),
    "mergeWhenMatchedUpdate insert" -> (_.mergeWhenMatchedUpdate(spark, narrowSource,
      Seq("k"), Map.empty, insertValues = Some(inserts))),
    "mergeWhenMatchedUpdate update condition" -> (_.mergeWhenMatchedUpdate(spark,
      narrowSource, Seq("k"), Map("x" -> col("s.x")), insertValues = Some(inserts),
      matchedUpdateCondition = Some(col("t.k") > 10))))

  private def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  private def rowsOf(df: DataFrame): String = {
    val rs = df.collect().toSeq.map((r: Row) => r.toString)
    s"${rs.size}/${digest(rs)}"
  }

  private def dvOf(a: AddFile): Long =
    DeletionVectors.refOf(a).map(_.cardinality).getOrElse(0L)

  private def pv(m: Map[String, Option[String]]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.getOrElse("null")}" }.mkString(";")

  private def actionsOf(e: DeltaLogEntry): String = e.actions.map {
    case a: AddFile =>
      s"add[${pv(a.partitionValues)} dc=${a.dataChange} n=${a.numRecords.getOrElse(-1L)} dv=${dvOf(a)}]"
    case r: RemoveFile =>
      val dv = r.extra.get("deletionVector").map(n => Option(n.get("cardinality"))
        .map(_.asLong()).getOrElse(0L)).getOrElse(0L)
      s"remove[${pv(r.partitionValues)} dc=${r.dataChange} dv=$dv]"
    case _: AddCDCFile => "cdc"
    case _: Metadata   => "metaData"
    case _: Protocol   => "protocol"
    case _: CommitInfo => "commitInfo"
    case other         => other.actionName
  }.sorted.mkString(",")

  private def cdfOf(t: DeltaTable): String =
    try {
      val ch = t.changesBetween(spark, t.version - 1, t.version)
        .drop("_commit_version", "_commit_timestamp")
      val rs = ch.collect().toSeq.map(_.toString)
      val byType = ch.groupBy("_change_type").count().collect()
        .map(r => s"${r.getString(0)}:${r.getLong(1)}").sorted.mkString(";")
      s"$byType/${digest(rs)}"
    } catch { case e: Exception => s"error:${e.getClass.getSimpleName}" }

  /** The pin line of one verb run on a fresh copy of a fixture kind. */
  private def observe(kind: String, op: DeltaTable => DeltaTable): (Map[String, String], Int) = {
    val t0 = fresh(kind)
    var t1: DeltaTable = null
    val jobs = jobsDuring { t1 = op(t0) }
    val entry = DeltaLogEntry.fromNdjson(
      t1.logLoc.child(DeltaLog.filenameForVersion(t1.version)).readString())
    val ci = entry.actions.collectFirst { case c: CommitInfo => c }.get
    val fields = scala.collection.immutable.ListMap(
      "rows" -> rowsOf(t1.toDF(spark)),
      "schema" -> t1.schema.fieldNames.mkString(";"),
      "op" -> ci.operation,
      "metrics" -> ci.operationMetrics.map { case (k, v) => s"$k=$v" }.mkString(";"),
      "actions" -> actionsOf(entry),
      "files" -> t1.dlog.addActions.values.toSeq
        .map(a => s"${pv(a.partitionValues)}:${a.numRecords.getOrElse(-1L)}:${dvOf(a)}")
        .sorted.mkString(","),
      "cdf" -> cdfOf(t1))
    (fields, jobs)
  }

  private lazy val pins: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/dml_commit_pins.txt")
    require(in != null, "dml_commit_pins.txt missing from the test classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }.toMap
    finally in.close()
  }

  private def render(fields: Map[String, String], jobs: Int): String =
    (fields.map { case (k, v) => s"$k=$v" }.toSeq :+ s"jobs=$jobs").mkString("\t")

  private def parse(line: String): Map[String, String] =
    line.split('\t').map { f => val i = f.indexOf('='); f.take(i) -> f.drop(i + 1) }.toMap

  for (kind <- kinds; (verb, op) <- verbs) {
    val name = s"$kind/$verb"
    test(s"$verb on a $kind table keeps its pinned commit") {
      val (fields, jobs) = observe(kind, op)
      val actual = render(fields, jobs)
      val pin = parse(pins.getOrElse(name,
        fail(s"no pin for $name; observed:\n$name\t$actual")))
      fields.foreach { case (k, v) =>
        assert(pin.get(k).contains(v),
          s"$name: $k changed\n  pinned:   ${pin.getOrElse(k, "<none>")}\n  observed: $v" +
            s"\n  line: $name\t$actual")
      }
      info(s"$jobs Spark jobs (pinned at most ${pin("jobs")})")
      assert(jobs <= pin("jobs").toInt,
        s"$name ran $jobs Spark jobs, pinned at most ${pin("jobs")}")
    }
  }

  test("copy-on-write UPDATE runs the touched-file scan and the rewrite only") {
    val t = fresh("plain")
    var t1: DeltaTable = null
    val jobs = jobsDuring {
      t1 = t.update(spark, Some(col("k") % 4 === 1), updateSet)
    }
    // the touched-file aggregate costs 2 AQE jobs and the rewrite 1; the
    // matched-row count rides the touched-file step instead of a count job
    assert(jobs <= 3, s"update ran $jobs Spark jobs; expected touched-file scan + rewrite")
    val m = t1.history.head._2.operationMetrics
    assert(m("num_updated_rows").asLong() == 10L, m.toString)
    assert(m("num_copied_rows").asLong() == 10L, m.toString)
  }

  test("mergeMergeOnRead takes a struct-typed key like merge") {
    val d = tempDir("dml-struct-key")
    def keyed(df: DataFrame) =
      df.select(struct(col("a"), (col("a") % 3).as("b")).as("id"), col("v"))
    DeltaTable.forPath(d).write(
      keyed((0 until 20).map(i => (i, s"v$i")).toDF("a", "v")).coalesce(2))
    val source = keyed(Seq((2, "m2"), (5, "m5"), (30, "m30")).toDF("a", "v"))
    val cow = copyOf(Paths.get(d)).merge(spark, source, Seq("id"))
    val mor = copyOf(Paths.get(d)).mergeMergeOnRead(spark, source, Seq("id"))
    assertSameRows(mor.toDF(spark), cow.toDF(spark))
    assert(cow.toDF(spark).count() == 21L)
    val (mc, mm) = (cow.history.head._2.operationMetrics, mor.history.head._2.operationMetrics)
    Seq("num_updated_rows", "num_inserted_rows").foreach { k =>
      assert(mc(k).asLong() == mm(k).asLong(), s"$k: merge $mc vs mergeMergeOnRead $mm")
    }
    assert(mm("num_updated_rows").asLong() == 2L && mm("num_inserted_rows").asLong() == 1L)
  }
}
