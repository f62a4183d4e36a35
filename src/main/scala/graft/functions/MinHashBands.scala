package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** MinHash LSH band keys of one document's shingle-hash array, computed in
  * the row (no aggregate, no shuffle). Minimum i of `numHashes` is
  * `min over e of xxhash64(e, i)` = `XXH64.hashInt(i, XXH64.hashLong(e, 42))`
  * (each element hashed once); band b's key is `xxhash64` over minima
  * `[b·rows, (b+1)·rows)`, i.e. `XXH64.hashLong` folded from seed 42.
  *
  * Bit-identical to explode + `min(xxhash64(_s, lit(i)))` aggregates +
  * `xxhash64(minima…)` per band, null elements included (XxHash64 skips a
  * null child, so it contributes `hashInt(i, 42)`). An empty array yields
  * no bands, as the explode dropped it.
  */
final case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
    s"bands ($bands) must divide numHashes ($numHashes)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_bands expects array<bigint> shingle hashes, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    MinHashBands.bandKeys(v.asInstanceOf[ArrayData], numHashes, bands)

  // the generated code calls the same loop over the raw ArrayData as the
  // interpreted path, so the two cannot drift apart
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val impl = MinHashBands.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $impl.bandKeys($v, $numHashes, $bands);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {

  def bandKeys(arr: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var e = 0
    while (e < n) {
      val h0 = if (arr.isNullAt(e)) 42L else XXH64.hashLong(arr.getLong(e), 42L)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, h0)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      e += 1
    }
    val rows = numHashes / bands
    val keys = new Array[Long](if (n == 0) 0 else bands)
    var b = 0
    while (b < keys.length) {
      var k = 42L
      var i = b * rows
      while (i < (b + 1) * rows) { k = XXH64.hashLong(mins(i), k); i += 1 }
      keys(b) = k
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
}
