package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Hamming distance between two bit-packed array<long> signatures
  * (popcount of XOR, summed over words; shorter input zero-extends).
  *
  * This is the LSH candidate-join's post-match filter — it runs once per
  * bucket collision (millions of times), so it must stay inside whole-stage
  * codegen — one [[RowKernel]] `compute` call, a loop of xor+popcount —
  * not an interpreted `aggregate(zip_with(...))` lambda chain.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData, Int] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_hamming requires (array<long>, array<long>), got ($l, $r)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_hamming"

  override def nullable: Boolean = true

  def compute(x: ArrayData, y: ArrayData): Int = {
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.max(nx, ny)
    var d = 0
    var i = 0
    while (i < n) {
      val xi = if (i < nx && !x.isNullAt(i)) x.getLong(i) else 0L
      val yi = if (i < ny && !y.isNullAt(i)) y.getLong(i) else 0L
      d += java.lang.Long.bitCount(xi ^ yi)
      i += 1
    }
    d
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}
