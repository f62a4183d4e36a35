package graft

import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._

import java.net.URI

/** A non-`file` URI scheme backed by the local disk: exercises every
  * scheme-dispatch branch (canonical form, non-posix createIfAbsent,
  * scan/commit over a "remote" filesystem) without network — the same
  * mock-fs technique Hadoop/Spark use for cloud-path tests (reference
  * coverage: tests/test_storage.py:23-69, tests/test_xdlake_cloud.py).
  */
class MockFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mockfs://test")
  override def getScheme: String = "mockfs"
}

class StorageSpec extends SparkSuite {

  private def mockConf: Configuration = {
    val c = new Configuration()
    c.set("fs.mockfs.impl", classOf[MockFs].getName)
    c.setBoolean("fs.mockfs.impl.disable.cache", true)
    c
  }

  test("canonical normalizes scheme://authority/path across schemes") {
    assert(Location.canonical("mockfs://test/a/b") == "mockfs://test/a/b")
    assert(Location.canonical("/a/b") == "file:///a/b")
    assert(Location.canonical("file:/a/b") == "file:///a/b")
  }

  test("createIfAbsent on a non-file scheme is first-writer-wins") {
    val dir = tempDir("mockfs")
    val loc = Location(s"mockfs://test$dir/commit.json", mockConf)
    loc.createIfAbsent("""{"v":1}""")
    assert(loc.readString() == """{"v":1}""")
    intercept[java.nio.file.FileAlreadyExistsException] {
      loc.createIfAbsent("""{"v":2}""")
    }
    assert(loc.readString() == """{"v":1}""", "loser must not clobber")
  }

  test("listNames lists a directory's names, hidden ones too, on both scheme paths") {
    val dir = tempDir("listnames")
    Seq("b.json", "a.json", ".a.json.occ-1").foreach(n =>
      java.nio.file.Files.write(new java.io.File(dir, n).toPath, "{}".getBytes("UTF-8")))
    val want = Seq(".a.json.occ-1", "a.json", "b.json")
    assert(Location(dir).listNames() == want)
    assert(Location(s"mockfs://test$dir", mockConf).listNames() == want)
    assert(Location(s"$dir/absent").listNames().isEmpty)
  }

  test("full table lifecycle over a non-file scheme") {
    // Spark's executors resolve the scheme through the session hadoop conf
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val dir = tempDir("mockfs-table")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = DeltaTable.forPath(s"mockfs://test$dir", conf = mockConf)
      .write(nation).write(nation)
    assert(t.version == 1L)
    assert(t.fileUris.forall(_.startsWith("mockfs://test/")),
      s"log paths must stay on the foreign scheme: ${t.fileUris.take(2)}")
    assertSameRows(t.toDF(spark), nation.union(nation))
    // delete commits through the non-posix branch too
    val t2 = t.delete(spark, Some(col("n_regionkey") === 0))
    assertSameRows(t2.toDF(spark),
      nation.union(nation).filter(col("n_regionkey") =!= 0))
  }
}
