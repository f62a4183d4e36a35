package graft

import graft.log.Json
import graft.storage.Location
import org.apache.spark.sql.functions._

/** Reference-surface features not covered by Smoke: zero-copy import,
  * remote log, custom commit metadata, optimistic-commit conflicts.
  */
class TableSpec extends SparkSuite {

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("dotted column names are refused at write time (stats-path ambiguity)") {
    import org.apache.spark.sql.functions.col
    // a physical name containing '.' collides with nested stats paths
    // (Statistics.json nests on '.'): "a.b" and struct a{b} would share
    // bounds and could mis-prune files — refused loudly
    val d = tempDir("dotted-name")
    val df = spark.range(3).select(col("id"), col("id").as("a.b"))
    val ex = intercept[IllegalArgumentException](DeltaTable.forPath(d).write(df))
    assert(ex.getMessage.contains("ambiguous"), ex.getMessage)
  }

  test("importRefs registers foreign files without copying") {
    val foreign = tempDir("foreign")
    nation.coalesce(1).write.mode("overwrite").parquet(foreign)
    val d = tempDir("import")
    val t = DeltaTable.forPath(d).importRefs(spark, Seq(foreign))
    // adds carry absolute URIs; no bytes under the table dir
    assert(t.fileUris.forall(_.contains(foreign.stripPrefix("/"))))
    assertSameRows(t.toDF(spark), nation)
  }

  test("importRefs with hive-partitioned foreign layout") {
    val foreign = tempDir("foreign-hive")
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(foreign)
    val d = tempDir("import-hive")
    val t = DeltaTable.forPath(d).importRefs(spark, Seq(foreign),
      partitionBy = Some(Seq("n_regionkey")))
    assert(t.partitionColumns == Seq("n_regionkey"))
    assertSameRows(t.toDF(spark), nation)
    // partition pruning works on imported absolute-path adds too
    assert(t.prunedAdds(col("n_regionkey") === 0).size <
      t.prunedAdds(lit(true)).size)
  }

  test("importRefs with directory-flavor layout via partitionValuesFor") {
    // build <dir>/<regionkey>/<file>.parquet (no key= prefix)
    val hive = tempDir("flavor-hive")
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(hive)
    val plain = tempDir("flavor-dir")
    new java.io.File(hive).listFiles().filter(_.isDirectory).foreach { d =>
      val v = d.getName.split("=", 2)(1)
      val dst = new java.io.File(plain, v)
      assert(d.renameTo(dst))
    }
    val t = DeltaTable.forPath(tempDir("flavor-import")).importRefs(spark, Seq(plain),
      partitionBy = Some(Seq("n_regionkey")),
      partitionValuesFor = Some(rel =>
        Map("n_regionkey" -> Some(rel.split("/")(0)))),
      partitionSchema = Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_regionkey",
          org.apache.spark.sql.types.IntegerType)))))
    assert(t.partitionColumns == Seq("n_regionkey"))
    assertSameRows(t.toDF(spark), nation)
  }

  test("remote log: data dir and log dir are independent") {
    val data = tempDir("remote-data")
    val logd = tempDir("remote-log")
    DeltaTable.forPath(data, logPath = Some(s"$logd/_delta_log")).write(nation)
    // no _delta_log under the data dir
    assert(!new java.io.File(s"$data/_delta_log").exists())
    val t = DeltaTable.forPath(data, logPath = Some(s"$logd/_delta_log"))
    assert(t.version == 0L)
    assertSameRows(t.toDF(spark), nation)
  }

  test("custom commit metadata round-trips through history") {
    val d = tempDir("meta")
    val t = DeltaTable.forPath(d).write(nation,
      customMetadata = Map("pipeline" -> Json.text("ingest-v2")))
    val (v, ci) = t.history.head
    assert(v == 0L)
    assert(ci.extra.get("pipeline").exists(_.asText() == "ingest-v2"))
    // survives a log re-read from disk
    val ci2 = DeltaTable.forPath(d).history.head._2
    assert(ci2.extra.get("pipeline").exists(_.asText() == "ingest-v2"))
  }

  test("optimistic commit: second writer at the same version fails") {
    val d = tempDir("conflict")
    val t0 = DeltaTable.forPath(d).write(nation)
    // two handles at version 0 both try to commit version 1
    val a = DeltaTable.forPath(d)
    val b = DeltaTable.forPath(d)
    a.write(nation)
    intercept[Exception] { b.write(nation) }
    // winner's commit is intact
    assert(DeltaTable.forPath(d).version == 1L)
    assert(DeltaTable.forPath(d).toDF(spark).count() == nation.count() * 2)
  }

  test("deepCloneTo copies bytes: clone survives source deletion") {
    val src = tempDir("deep-clone-src")
    var t = DeltaTable.forPath(src)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
      .setTableProperties(Map("custom.tag" -> "v1"))
    // MoR delete so the clone must carry a deletion vector too
    t = t.deleteMergeOnRead(spark, Some(col("n_nationkey") === 3))
    val want = t.toDF(spark).collect().toSet

    val dst = tempDir("deep-clone-dst")
    val c = t.deepCloneTo(spark, dst)
    // fresh history: one CLONE commit at version 0, same live rows
    assert(c.versions == Seq(0L))
    assert(c.history.head._2.operation == "CLONE")
    assert(c.toDF(spark).collect().toSet == want)
    assert(c.partitionColumns == Seq("n_regionkey"))
    assert(c.tableProperties.get("custom.tag").contains("v1"))
    // every clone file lives under the clone dir (bytes owned)
    assert(c.fileUris.forall(_.contains(dst.stripPrefix("/"))), c.fileUris)
    // destroy the source entirely; the clone still reads (incl. the DV)
    Location(src, c.conf).delete()
    val again = DeltaTable.forPath(dst)
    assert(again.toDF(spark).collect().toSet == want)
    assert(!again.toDF(spark).collect().exists(_.getAs[Int]("n_nationkey") == 3))
    // clone is independently writable
    assert(again.write(nation.limit(1)).version == 1L)
    // refuses to clobber an existing table
    intercept[java.nio.file.FileAlreadyExistsException] {
      t.deepCloneTo(spark, dst)
    }
  }

  test("detail reports log-derived table metadata") {
    val d = tempDir("detail")
    val t = DeltaTable.forPath(d)
      .write(nation, partitionBy = Some(Seq("n_regionkey")))
      .setTableProperties(Map("delta.appendOnly" -> "false"))
    val row = t.detail(spark).collect().head
    assert(row.getAs[String]("format") == "graft")
    assert(row.getAs[String]("id").nonEmpty)
    assert(row.getAs[String]("location").contains(d.stripPrefix("/")))
    assert(row.getAs[scala.collection.Seq[String]]("partitionColumns").toSeq
      == Seq("n_regionkey"))
    assert(row.getAs[Long]("numFiles") == t.fileUris.size.toLong)
    assert(row.getAs[Long]("sizeInBytes") > 0L)
    assert(row.getAs[Map[String, String]]("properties")
      .get("delta.appendOnly").contains("false"))
    assert(row.getAs[Int]("minReaderVersion") >= 1)
    assert(row.getAs[java.sql.Timestamp]("lastModified").getTime > 0L)
  }

  test("time travel on a clone preserves every version") {
    val src = tempDir("clone-src")
    val t = DeltaTable.forPath(src).write(nation).write(nation)
    val cloneDir = tempDir("clone-dst")
    val c = t.cloneTo(cloneDir)
    assert(c.versions == Seq(0L, 1L))
    assertSameRows(c.loadAsVersion(0L).toDF(spark), nation)
    // clone is independently writable without touching the source
    val c2 = c.write(nation)
    assert(c2.version == 2L)
    assert(DeltaTable.forPath(src).version == 1L)
  }

  test("typed Dataset view binds the snapshot to a case class") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val d = tempDir("typed-ds")
    val t = DeltaTable.forPath(d).write(nation)
    import spark.implicits._
    val ds = t.toDS[TableSpec.Nation](spark)
    // typed ops compile against fields; values match the frame scan
    assert(ds.map(_.n_nationkey).collect().sorted.toSeq ==
      nation.select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq)
    assert(ds.filter(_.n_regionkey == 2).count() ==
      nation.filter(org.apache.spark.sql.functions.col("n_regionkey") === 2).count())
    // after a RENAME the encoder binds the NEW logical name
    val t2 = t.renameColumn("n_name", "nation_name")
    val ds2 = t2.toDS[TableSpec.NationRenamed](spark)
    assert(ds2.map(_.nation_name).collect().sorted.toSeq ==
      nation.select("n_name").collect().map(_.getString(0)).sorted.toSeq)
  }
}

object TableSpec {
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class NationRenamed(n_nationkey: Int, nation_name: String, n_regionkey: Int)
}
