package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused dot product of two array<double> columns with EXACTLY the HOF
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, +)` semantics:
  * mismatched lengths → null (zip_with pads the shorter side with null),
  * null element → null, null input → null. One compiled loop instead of
  * per-element lambda dispatch.
  *
  * Exists (with [[ArrayNormSq]]) so [[graft.engine.rules.RewriteHofCosine]]
  * can swap fused kernels into the HOF cosine tree while leaving the
  * DIVISION to Spark's own `Divide` — preserving ANSI error / legacy null
  * zero-divisor behavior bit-for-bit, which a single fused cosine (NULL on
  * zero norms in both modes) cannot. */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  def compute(x: ArrayData, y: ArrayData): Double = {
    if (x.numElements() != y.numElements()) throw NullResult
    var dot = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) throw NullResult
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Fused sum-of-squares with EXACTLY the HOF
  * `aggregate(transform(a, x -> x * x), 0.0, +)` semantics (null element →
  * null, null input → null). See [[ArrayDot]] for why this exists. */
case class ArrayNormSq(child: Expression)
    extends UnaryKernel[ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_norm_sq requires array<double>, got $t")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm_sq"
  override def nullable: Boolean = true

  def compute(x: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) throw NullResult
      val v = x.getDouble(i)
      s += v * v
      i += 1
    }
    s
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayNormSq =
    copy(child = newChild)
}
