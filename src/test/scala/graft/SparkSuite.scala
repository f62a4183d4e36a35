package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + row-set comparison helpers. */
trait SparkSuite extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sfDir: String = "/root/testdata/sf0.001"

  def tempDir(prefix: String = "graft-test"): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A copy of the directory tree at `src` in a new temp dir (a table
    * whose log paths are relative opens there as its own table).
    */
  def copyToTemp(src: java.nio.file.Path, prefix: String): String = {
    import java.nio.file.{Files, StandardCopyOption}
    val dst = java.nio.file.Paths.get(tempDir(prefix))
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    dst.toString
  }

  /** Spark jobs launched by `body` on the calling thread. Suites share the
    * lazy SparkSession and sbt runs them in parallel threads, so a global
    * job count could catch another suite's jobs inside the window. Job
    * groups are thread-local and AQE's stage-materialization jobs inherit
    * the submitting thread's local properties, so tagging by a unique
    * group id is exact; 0 proves a pure driver-side log commit.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id")) {
          n.incrementAndGet(); ()
        }
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "SparkSuite.jobsDuring", interruptOnCancel = false)
    try {
      body
      org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc, 30000)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    n.get
  }

  /** Order-insensitive multiset equality (reference comparison semantics,
    * tests/utils.py:101-108).
    */
  def assertSameRows(got: DataFrame, expected: DataFrame): Unit = {
    assert(got.schema.fieldNames.sorted.sameElements(expected.schema.fieldNames.sorted),
      s"schema mismatch: ${got.schema.fieldNames.mkString(",")} vs ${expected.schema.fieldNames.mkString(",")}")
    val cols = got.schema.fieldNames.sorted.toSeq
    val g = got.select(cols.head, cols.tail: _*)
    val e = expected.select(cols.head, cols.tail: _*)
    val onlyGot = g.exceptAll(e).count()
    val onlyExpected = e.exceptAll(g).count()
    assert(onlyGot == 0 && onlyExpected == 0,
      s"row mismatch: $onlyGot rows only in result, $onlyExpected only in expected " +
        s"(result=${g.count()}, expected=${e.count()})")
  }
}
