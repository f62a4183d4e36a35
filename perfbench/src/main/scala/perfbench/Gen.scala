package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, key,
  * field), so the same seed gives the same rows whatever the partitioning,
  * and a row can be regenerated from its key alone (the merge source and
  * the plain-Spark replay in the dml_mix check rely on that).
  */
object Gen {

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  private def u(c: Column, n: Long): Column = pmod(c, lit(n))

  /** TPC-H-shaped `lineitem` for orders [firstKey, firstKey + orders):
    * 1 to 7 lines per order (4 on average, so 150k orders are sf0.1).
    * `salt` varies the non-key columns; salt 0 is the base table.
    */
  def lineitem(spark: SparkSession, seed: Long, firstKey: Long, orders: Long,
      salt: Int = 0, parts: Int = 4): DataFrame = {
    val ok = col("id").as("l_orderkey")
    spark.range(firstKey, firstKey + orders, 1, parts)
      .select(ok, explode(sequence(lit(1), lines(seed, col("id")))).as("l_linenumber"))
      .select(lineitemCols(seed, salt, col("l_orderkey"), col("l_linenumber")): _*)
  }

  /** Lines of an order: 1 to 7, whatever the salt. */
  private def lines(seed: Long, orderkey: Column): Column = (u(h(seed, 0, orderkey), 7) + 1).cast("int")

  /** Line counts of the orders in the given [first, first + n) ranges. */
  def lineCounts(spark: SparkSession, seed: Long, ranges: Seq[(Long, Long)]): Map[Long, Int] =
    ranges.map { case (a, n) => spark.range(a, a + n) }.reduce(_ union _)
      .select(col("id"), lines(seed, col("id"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The lineitem columns for given keys (key columns pass through). */
  def lineitemCols(seed: Long, salt: Int, ok: Column, ln: Column): Seq[Column] = {
    def f(k: Int) = h(seed, salt, ok, ln, lit(k))
    val qty = (u(f(1), 50) + 1).cast("double")
    Seq(
      ok.as("l_orderkey"),
      (u(f(2), 20000) + 1).as("l_partkey"),
      (u(f(3), 1000) + 1).as("l_suppkey"),
      ln.cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (u(f(4), 100000) + 90000) / 100.0).as("l_extendedprice"),
      (u(f(5), 11) / 100.0).as("l_discount"),
      (u(f(6), 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(f(7), 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(f(8), 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(f(9), 2500) * 86400).as("l_shipdate"))
  }

  private val Vocab = 2000

  /** `documents(doc_id, text, lang, source, n_chars)`: `n` documents of 60
    * to 100 words over a 2000-word vocabulary, in clusters of three: a
    * base document `b` (b % 10 == 3), an exact copy `b + 7` and a near copy
    * `b + 2` with one word replaced. With at least 60 words a near copy
    * keeps 3-gram Jaccard >= 0.9, far above the operators' 0.8 threshold,
    * so every cluster is found and the pair counts are known exactly.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val base = when(id % 10 === 0 && id >= 10, id - 7)
      .when(id % 10 === 5, id - 2).otherwise(id)
    val len = (u(h(seed, 1, base), 41) + 60).cast("int")
    val swapAt = when(id % 10 === 5, u(h(seed, 3, id), 60)).otherwise(lit(-1L))
    val words = transform(sequence(lit(0), len - 1), i => {
      val w = when(i === swapAt, lit(Vocab) + u(h(seed, 4, id), Vocab))
        .otherwise(u(h(seed, 2, base, i), Vocab))
      concat(lit("w"), w.cast("string"))
    })
    spark.range(0, n, 1, 4)
      .select(id.as("doc_id"), concat_ws(" ", words).as("text"))
      .select(col("doc_id"), col("text"),
        element_at(array(lit("en"), lit("de"), lit("fr")),
          (u(h(seed, 5, col("doc_id")), 3) + 1).cast("int")).as("lang"),
        concat(lit("src"), u(h(seed, 6, col("doc_id")), 8).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Salted copies of `docs` (token-level salt, so shingle sets are
    * disjoint across copies): the pair and component structure of the
    * unsalted corpus repeats exactly `copies` times.
    */
  def salted(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + i.toLong * 1000000L).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"_c$i")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.union(_))

  /** `embeddings(vec_id, embedding array<float>, label)`: `n` vectors of
    * `dim` floats; every 4th vector is a small perturbation of the one
    * before it, so cosine near-duplicate search has true pairs.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int = 32): DataFrame = {
    val id = col("id")
    val base = when(id % 4 === 3, id - 1).otherwise(id)
    val vec = transform(sequence(lit(0), lit(dim - 1)), i => {
      val x = (u(h(seed, 7, base, i), 2001) - 1000) / 1000.0
      val noise = when(id % 4 === 3, (u(h(seed, 8, id, i), 21) - 10) / 10000.0).otherwise(lit(0.0))
      (x + noise).cast("float")
    })
    spark.range(0, n, 1, 4)
      .select(id.as("vec_id"), vec.as("embedding"), u(h(seed, 9, id), 10).cast("int").as("label"))
  }
}
