package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One Lloyd refinement step as a single aggregate: assign each vector to
  * its nearest centroid (the same cosine-numerator argmax as
  * [[NearestCentroids]] with nProbe=1 — identical loop order, identical
  * tie-break on the lower index) and accumulate per-(cell, dim) sums and
  * counts in one flat buffer.
  *
  * Why a custom aggregate: the column-algebra formulation is
  * `select(_cell, posexplode(_v)).groupBy(_cell, pos).agg(avg)` — it
  * materializes dim rows per input vector just to route each element
  * into a (cell, pos) hash-aggregate bucket, and its exchange carries a
  * (cell x dim x mapTasks)-row partial table. This is ONE buffer of
  * 2 x cells x dim doubles updated in a tight loop per row (the same
  * ObjectHashAggregate path as [[SimHashAgg]]), with map-side partial
  * aggregation intact: the shuffle carries one buffer per map task.
  *
  * Result-identical to the posexplode/avg formulation: per (cell, pos)
  * it computes sum/count over exactly the same contributions (elements
  * accumulate in the same per-partition row order; partials merge across
  * partitions just as avg's partial sums do), an empty or absent vector
  * contributes nothing, a NULL element contributes nothing (avg skips
  * nulls), a cell no non-null element landed in yields a NULL entry (the
  * caller keeps its seed, matching the "no rows for this cell" case), and
  * a (cell, pos) with no contributions yields 0.0 (matching the caller's
  * zero-filled dim array).
  *
  * Output: array of `centroids.length` entries; entry c is the new mean
  * vector of cell c or NULL if the cell is empty. Every entry has length
  * dim: the longest of the seeds and the input vectors (posexplode keeps
  * every position, so a vector longer than the seeds widens the means
  * instead of being truncated).
  */
final case class CentroidUpdateAgg(child: Expression,
    centroids: Array[Array[Double]],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  require(centroids.nonEmpty, "centroids must be non-empty")

  private val cells = centroids.length
  private val seedDim = centroids.map(_.length).max

  // row-invariant centroid norms, exactly as [[NearestCentroids]] computes
  // them (zero-norm centroids get 1.0 so the division is a no-op)
  private val invNorms: Array[Double] =
    centroids.map { cent =>
      var nc = 0.0; var i = 0
      while (i < cent.length) { nc += cent(i) * cent(i); i += 1 }
      if (nc > 0) 1.0 / math.sqrt(nc) else 1.0
    }

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "centroid_update_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"centroid_update_agg expects array<double>, got $other")
    }

  // layout, position-major so a longer vector grows the buffer at its
  // end: slot (pos * cells + cell) holds the sum at 2 * slot and the
  // count at 2 * slot + 1; dim is implied by the buffer length
  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](2 * cells * seedDim)

  private def dimOf(buf: Array[Double]): Int = buf.length / (2 * cells)

  private def widened(buf: Array[Double], dim: Int): Array[Double] =
    if (dimOf(buf) >= dim) buf else java.util.Arrays.copyOf(buf, 2 * cells * dim)

  override def update(buf0: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf0
    else {
      val arr = v.asInstanceOf[ArrayData]
      // nearest cell: cosine numerator over centroid norm, argmax with
      // ties to the LOWER index — [[NearestCentroids.sims]] verbatim
      var best = -1
      var bestSim = 0.0
      var c = 0
      while (c < cells) {
        val cent = centroids(c)
        val n = math.min(arr.numElements(), cent.length)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += arr.getDouble(i) * cent(i); i += 1 }
        val s = dot * invNorms(c)
        if (best < 0 || s > bestSim) { best = c; bestSim = s }
        c += 1
      }
      val m = arr.numElements()
      val buf = widened(buf0, m)
      var i = 0
      while (i < m) {
        if (!arr.isNullAt(i)) {
          val slot = 2 * (i * cells + best)
          buf(slot) += arr.getDouble(i)
          buf(slot + 1) += 1.0
        }
        i += 1
      }
      buf
    }
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    val out = widened(b1, dimOf(b2))
    var i = 0
    while (i < b2.length) { out(i) += b2(i); i += 1 }
    out
  }

  override def eval(buf: Array[Double]): Any = {
    val dim = dimOf(buf)
    val out = new Array[Any](cells)
    var c = 0
    while (c < cells) {
      var any = false
      val mean = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        val slot = 2 * (i * cells + c)
        val n = buf(slot + 1)
        if (n > 0) { any = true; mean(i) = buf(slot) / n }
        i += 1
      }
      out(c) = if (any) new GenericArrayData(mean) else null
      c += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CentroidUpdateAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CentroidUpdateAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CentroidUpdateAgg =
    copy(child = newChild)
}
