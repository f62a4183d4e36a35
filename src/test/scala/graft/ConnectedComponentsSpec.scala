package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** [[Dedup.connectedComponents]]' two paths: inputs of at most
  * `smallGraphEdges` pair rows are labelled on the driver and come back as
  * a local relation; larger ones (and `smallGraphEdges = 0`) run the
  * distributed alternating-star rounds. Both must give the same labels,
  * null ids and schema included.
  */
class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def onDriver(labels: DataFrame): Boolean =
    labels.queryExecution.logical.isInstanceOf[LocalRelation]

  /** The labels as a sorted multiset, nulls kept. */
  private def labelsOf(labels: DataFrame): Seq[String] =
    labels.collect().map(r => s"${r.get(0)}->${r.get(1)}").toSeq.sorted

  /** Driver path (default threshold) against the distributed rounds. */
  private def assertSamePaths(pairs: DataFrame): Seq[String] = {
    val fast = Dedup.connectedComponents(pairs)
    val dist = Dedup.connectedComponents(pairs, smallGraphEdges = 0L)
    assert(onDriver(fast), "input under the threshold must take the driver path")
    assert(!onDriver(dist), "smallGraphEdges = 0 must take the distributed rounds")
    assert(fast.schema == dist.schema, s"${fast.schema} vs ${dist.schema}")
    val got = labelsOf(fast)
    assert(got == labelsOf(dist))
    got
  }

  test("null endpoints in a and in b: the null node gets a null component") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, null), (null, 2L),
      (3L, 4L), (null, null), (4L, 5L)).toDF("a", "b")
    val got = assertSamePaths(pairs)
    assert(got == Seq("1->1", "2->2", "3->3", "4->3", "5->3", "null->null"))
  }

  test("self-pair-only nodes label themselves") {
    val pairs = Seq((7L, 7L), (8L, 8L), (8L, 9L), (10L, 10L)).toDF("a", "b")
    assert(assertSamePaths(pairs) == Seq("10->10", "7->7", "8->8", "9->8"))
  }

  test("duplicate and reversed pairs label once per node") {
    val pairs = Seq((5L, 9L), (9L, 5L), (5L, 9L), (9L, 7L), (7L, 9L), (2L, 1L))
      .toDF("a", "b")
    assert(assertSamePaths(pairs) == Seq("1->1", "2->1", "5->5", "7->5", "9->5"))
  }

  test("int-typed and string-typed ids are labelled as longs") {
    val ints = Seq((3, 1), (1, 2), (6, 5)).toDF("a", "b")
    assert(assertSamePaths(ints) == Seq("1->1", "2->1", "3->1", "5->5", "6->5"))
    assert(!Dedup.connectedComponents(ints).schema.exists(_.nullable))
    val strs = Seq[(String, String)](("30", "10"), ("10", "20"), ("60", null))
      .toDF("a", "b")
    assert(assertSamePaths(strs) == Seq("10->10", "20->10", "30->10", "60->60", "null->null"))
  }

  test("empty input gives an empty, typed label frame on both paths") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(assertSamePaths(pairs).isEmpty)
  }

  test("a 2,000-node chain and a star") {
    val chain = spark.range(0, 1999).select(col("id").as("a"), (col("id") + 1).as("b"))
    val got = assertSamePaths(chain)
    assert(got.size == 2000 && got.forall(_.endsWith("->0")))
    val star = spark.range(1, 500).select(lit(1000L).as("a"), col("id").as("b"))
    val s = assertSamePaths(star)
    assert(s.size == 500 && s.forall(_.endsWith("->1")))
  }

  test("exactly smallGraphEdges rows take the driver path, one more the rounds") {
    val n = 40
    val chain = (0 until n).map(i => (i.toLong * 2, i.toLong * 2 + 2)).toDF("a", "b")
    val atCap = Dedup.connectedComponents(chain, smallGraphEdges = n.toLong)
    val overCap = Dedup.connectedComponents(chain, smallGraphEdges = n - 1L)
    assert(onDriver(atCap), s"$n rows at smallGraphEdges=$n must stay on the driver")
    assert(!onDriver(overCap), s"$n rows at smallGraphEdges=${n - 1} must run the rounds")
    assert(labelsOf(atCap) == labelsOf(overCap))
    assert(labelsOf(atCap).size == n + 1)
  }

  test("the driver path runs one bounded collect and persists nothing") {
    // 300 components of two nodes each, as the pair operators hand them
    // over: cached and materialized. The bounded collect is the only work
    // (2 jobs: it scans one partition, then the rest) and the labels
    // collect from the local relation without a job. The earlier fast
    // path counted the edges with a distinct + checkpoint, then labelled
    // them with a node distinct, a broadcast join and a second checkpoint
    // that stayed pinned: 8 jobs and one persisted RDD on this input.
    val pairs = (0 until 300).map(i => (i * 10L, i * 10L + 3)).toDF("a", "b").persist()
    try {
      pairs.count()
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      var labels: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsDuring {
        labels = Dedup.connectedComponents(pairs).collect()
      }
      assert(sc.getPersistentRDDs.keySet == before, "the driver path persisted an RDD")
      assert(labels.length == 600 && labels.map(_.getLong(1)).distinct.length == 300)
      info(s"$jobs Spark jobs")
      assert(jobs <= 2, s"connectedComponents + collect ran $jobs Spark jobs")
    } finally pairs.unpersist(blocking = true)
  }
}
