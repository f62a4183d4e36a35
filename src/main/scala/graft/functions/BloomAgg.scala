package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Per-group Bloom filter over a pre-hashed 64-bit column (callers feed it
  * `xxhash64(value)`, exactly like [[MinHashBands]] takes shingle hashes).
  * One long-array bitset per group, OR-merged map-side — grouping by
  * source file builds every file's filter in a single pass over the table.
  *
  * Bit positions use Kirsch–Mitzenmacher double hashing: the input IS the
  * first hash, the second is a cheap avalanche of it, bit_i = h1 + i·h2
  * masked to the (power-of-two) filter size. Membership probes recompute
  * the same sequence driver-side ([[graft.sources.BloomIndex]]).
  */
final case class BloomAgg(child: Expression, numBits: Int, numHashes: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
    s"numBits must be a power of two >= 64: $numBits")
  require(numHashes >= 1 && numHashes <= 16, s"numHashes out of range: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_agg expects a 64-bit hash column, got $other")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomAgg.set(buf, v.asInstanceOf[Long], numBits, numHashes)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = BloomAgg.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] = BloomAgg.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

object BloomAgg {

  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** Second hash: Stafford variant-13 64-bit finalizer (SplitMix64's
    * avalanche) — independent enough of h1 for double hashing, and forced
    * odd so every step reaches all bit positions of a power-of-two table.
    */
  def h2(h1: Long): Long = {
    var z = h1
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) | 1L
  }

  def set(buf: Array[Long], hash: Long, numBits: Int, numHashes: Int): Unit = {
    val step = h2(hash)
    var h = hash
    var i = 0
    while (i < numHashes) {
      val bit = (h & (numBits - 1)).toInt
      buf(bit >>> 6) |= 1L << (bit & 63)
      h += step
      i += 1
    }
  }

  def mayContain(words: Array[Long], hash: Long, numBits: Int, numHashes: Int): Boolean = {
    val step = h2(hash)
    var h = hash
    var i = 0
    while (i < numHashes) {
      val bit = (h & (numBits - 1)).toInt
      if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      h += step
      i += 1
    }
    true
  }
}
