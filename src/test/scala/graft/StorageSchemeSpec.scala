package graft

import graft.log.Checkpoint
import graft.storage.Location
import org.apache.spark.sql.functions._

/** The reference's cloud matrix (tests/test_xdlake_cloud.py:15-127) run
  * over a registered non-`file:` scheme: every storage interaction —
  * staged parquet writes, footer stats, log commits, checkpoint parquet,
  * scans through the log-backed FileIndex, clones — must flow through the
  * generic Hadoop FS dispatch with the scheme preserved end-to-end. A
  * single `java.io.File`/`file:`-ism anywhere in Location, the commit
  * protocol, or the scan path breaks these.
  */
class StorageSchemeSpec extends SparkSuite {

  private lazy val hconf = {
    val c = spark.sparkContext.hadoopConfiguration
    MockSchemeFileSystem.register(c)
    c
  }

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("append x3 + partitioned write + delete round-trip over mock:// (cloud test_s3 shape)") {
    val d = MockSchemeFileSystem.tempPath("mock-rt")
    val batches = (0 until 3).map(i =>
      nation.withColumn("n_nationkey", col("n_nationkey") + lit(i * 100)))
    var t = DeltaTable.forPath(d, conf = hconf)
    batches.foreach(b => t = t.write(b, partitionBy = Some(Seq("n_regionkey"))))
    assert(t.version == 2L)
    assertSameRows(t.toDF(spark), batches.reduce(_.union(_)))
    // every data file URI keeps the scheme (reference _test_file_uris)
    MockSchemeFileSystem.assertAllMock(t.fileUris)
    // partition pruning happens against log-recorded values on the mock scheme
    assertSameRows(t.toDFWhere(spark, col("n_regionkey") === 2),
      batches.reduce(_.union(_)).filter(col("n_regionkey") === 2))
    // copy-on-write delete rewrites files in place on the mock scheme
    val td = t.delete(spark, Some(col("n_nationkey") < 5))
    assertSameRows(td.toDF(spark),
      batches.reduce(_.union(_)).filter(col("n_nationkey") >= 5))
    // time travel below the delete still replays
    assertSameRows(td.loadAsVersion(0L).toDF(spark), batches.head)
  }

  test("remote log: data on mock://, log on file:// and vice versa (cloud test_remote_log)") {
    val cases = Seq(
      (MockSchemeFileSystem.tempPath("mock-data"), "file:" + tempDir("file-log")),
      ("file:" + tempDir("file-data"), MockSchemeFileSystem.tempPath("mock-log")))
    for ((dataLoc, logLoc) <- cases) {
      var t = DeltaTable.forPath(dataLoc, logPath = Some(logLoc), conf = hconf)
      val batches = (0 until 3).map(i =>
        nation.withColumn("n_nationkey", col("n_nationkey") + lit(i * 100)))
      batches.foreach(b => t = t.write(b))
      val re = DeltaTable.forPath(dataLoc, logPath = Some(logLoc), conf = hconf)
      assertSameRows(re.toDF(spark), batches.reduce(_.union(_)))
      // log entries live under the log scheme, data under the data scheme
      assert(re.logLoc.uri.startsWith(logLoc.split("/tmp").head))
      MockSchemeFileSystem.assertAllMock(
        re.fileUris.filter(_ => dataLoc.startsWith("mock:")))
    }
  }

  test("OCC over mock://: append rebase works, same-version double commit loses") {
    val d = MockSchemeFileSystem.tempPath("mock-occ")
    val t0 = DeltaTable.forPath(d, conf = hconf).write(nation.coalesce(1))
    // a second writer lands version 1; the stale handle rebases its append
    DeltaTable.forPath(d, conf = hconf)
      .write(nation.withColumn("n_nationkey", col("n_nationkey") + 100).coalesce(1))
    val rebased = t0.write(
      nation.withColumn("n_nationkey", col("n_nationkey") + 200).coalesce(1),
      maxRetries = 2)
    assert(rebased.version == 2L)
    assert(DeltaTable.forPath(d, conf = hconf).toDF(spark).count() == 3 * nation.count())
    // the commit primitive itself is exclusive on the mock scheme: the
    // non-file branch of createIfAbsent must refuse an existing version
    val taken = rebased.logLoc.child(f"${1L}%020d.json")
    intercept[Exception](taken.createIfAbsent("{}"))
  }

  test("checkpoint write + fast-path reopen over mock://") {
    val d = MockSchemeFileSystem.tempPath("mock-ckpt")
    var t = DeltaTable.forPath(d, conf = hconf)
    val one = nation.filter(col("n_nationkey") < 5).coalesce(1)
    (0 until 11).foreach(_ => t = t.write(one))
    assert(t.version == 10L)
    // the checkpoint parquet and pointer were written through the mock fs
    assert(t.logLoc.child(Checkpoint.LastCheckpointFile).exists)
    assert(Checkpoint.lastCheckpointVersion(t.logLoc).contains(10L))
    // reopen takes the checkpoint fast path and still reads everything
    val re = DeltaTable.forPath(d, conf = hconf)
    assert(re.toDF(spark).count() == 11 * one.count())
  }

  test("clone from mock:// to file:// keeps the clone readable (cloud _test_clone)") {
    val d = MockSchemeFileSystem.tempPath("mock-clone-src")
    val t = DeltaTable.forPath(d, conf = hconf).write(nation).write(nation)
    val dst = "file:" + tempDir("clone-dst")
    val c = t.cloneTo(dst)
    // soft clone: data still lives at the mock source, log at the dst
    assertSameRows(c.toDF(spark), nation.union(nation))
    MockSchemeFileSystem.assertAllMock(c.fileUris)
  }

  test("deep clone across schemes copies the data files to the destination") {
    val d = MockSchemeFileSystem.tempPath("mock-deep-src")
    val t = DeltaTable.forPath(d, conf = hconf)
      .write(nation, partitionBy = Some(Seq("n_regionkey"))).write(nation)
    val dst = "file:" + tempDir("deep-dst")
    val c = t.deepCloneTo(spark, dst)
    assertSameRows(c.toDF(spark), nation.union(nation))
    // unlike a soft clone, every file URI now lives under the DESTINATION
    // scheme — the executor-side copy crossed filesystems
    assert(c.fileUris.forall(_.startsWith("file:")),
      s"deep clone left source-scheme URIs: ${c.fileUris.take(3)}")
    // and the reverse direction lands on the mock scheme
    val back = "file:" + tempDir("deep-file-src")
    val t2 = DeltaTable.forPath(back).write(nation)
    val mockDst = MockSchemeFileSystem.tempPath("mock-deep-dst")
    val c2 = t2.deepCloneTo(spark, mockDst)
    assertSameRows(c2.toDF(spark), nation)
    MockSchemeFileSystem.assertAllMock(c2.fileUris)
  }

  test("vacuum + log cleanup delete through the mock scheme, never java.io") {
    val d = MockSchemeFileSystem.tempPath("mock-vacuum")
    var t = DeltaTable.forPath(d, conf = hconf).copy(checkpointInterval = 3)
    val one = nation.coalesce(1)
    (0 until 4).foreach(_ => t = t.write(one))
    // overwrite strands the old files; vacuum(0) must remove them via the
    // mock filesystem (a java.io.File shortcut would miss `mock:` URIs)
    t = t.write(one, mode = graft.log.WriteMode.Overwrite)
    val removed = t.vacuum(retentionMs = 0L)
    assert(removed.nonEmpty)
    MockSchemeFileSystem.assertAllMock(removed)
    assert(t.toDF(spark).count() == one.count())
    t = t.checkpoint().cleanupLog()
    // cleaned JSON below the checkpoint is gone from the mock log dir
    assert(!t.logLoc.child(f"${0L}%020d.json").exists)
    assertSameRows(DeltaTable.forPath(d, conf = hconf).toDF(spark), one)
  }

  test("merge-on-read DV sidecars write and resolve under the mock scheme") {
    val d = MockSchemeFileSystem.tempPath("mock-dv")
    val t = DeltaTable.forPath(d, conf = hconf).write(nation)
    val td = t.deleteMergeOnRead(spark, Some(col("n_nationkey") < 5))
    assertSameRows(td.toDF(spark), nation.filter(col("n_nationkey") >= 5))
    // a fresh handle replays the DV through the scheme-generic resolver
    assertSameRows(DeltaTable.forPath(d, conf = hconf).toDF(spark),
      nation.filter(col("n_nationkey") >= 5))
    // 100 dead rows are past the inline size: the vector is a .bin,
    // written by the executor task through the mock filesystem
    val ids = spark.range(0, 1000).toDF("id").coalesce(1)
    val d2 = MockSchemeFileSystem.tempPath("mock-dv-bin")
    val tb = DeltaTable.forPath(d2, conf = hconf).write(ids)
      .deleteMergeOnRead(spark, Some(col("id") % 10 === 0))
    val bins = tb.loc.fs.listStatus(tb.loc.path).map(_.getPath.toString)
      .filter(_.contains("deletion_vector_"))
    assert(bins.length == 1, bins.toSeq.toString)
    MockSchemeFileSystem.assertAllMock(bins.toSeq)
    assertSameRows(DeltaTable.forPath(d2, conf = hconf).toDF(spark),
      ids.filter(col("id") % 10 =!= 0))
  }
}
