package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native cosine similarity over two array<double> columns — the one place
  * a custom Catalyst `Expression` is justified in this engine (SURVEY.md
  * §7.3 revisited): the ANN/near-dup inner loop runs corpus × queries
  * times, and the `zip_with`+`aggregate` higher-order formulation is
  * evaluated INTERPRETED per element (HOFs don't participate in
  * whole-stage codegen). `compute` is one fused pass computing dot, |a|²
  * and |b|², called from inside the enclosing WholeStageCodegen span
  * through the [[RowKernel]] scaffold.
  *
  * dot/(sqrt(na)*sqrt(nb)), one contract for every search on it and for
  * the SQL function `graft_cosine`:
  *  - null input or a null element → NULL, as in the HOF formulation;
  *  - a zero-norm side → NULL, the HOF form's legacy-mode result (under
  *    ANSI it raises DIVIDE_BY_ZERO). No `cos >= tau` filter and no
  *    [[BoundedTopK]] keeps a NULL, so a zero vector never pairs or ranks;
  *  - unequal widths fail loudly, naming both, as the oracle engine does.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine requires (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override def nullable: Boolean = true

  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"[graft] graft_cosine: vectors have $n and ${y.numElements()} dims — " +
        "cosine needs one embedding width on both sides")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // a null element nulls the result — matching the HOF formulation
      // (zip_with/aggregate propagate null)
      if (x.isNullAt(i) || y.isNullAt(i)) throw NullResult
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    // zero iff a norm is zero (or their product underflows)
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) throw NullResult
    dot / denom
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
