package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** n-token window strings over a token array — the shingling kernel behind
  * every near-dup/contamination operator. Output strings are the space-
  * joined windows, in first-occurrence order; `dedup` toggles per-doc
  * distinctness (shingle sets) vs all windows (n-gram totals for the
  * repetition ratios).
  *
  * Exists for evaluation cost, not semantics: the declarative
  * `transform(filter(sequence(...)), i => concat_ws(" ", element_at(toks,
  * i+o)...))` formulation is a higher-order function, which Spark evaluates
  * INTERPRETED — and because the lambda's element_at children each embed
  * the `split(text)` subtree, the tokenizer re-runs n times PER WINDOW
  * POSITION (measured: the n=13 decontamination prefilter spent ~9× the
  * whole unfiltered scan's runtime inside it). Here the token array is the
  * expression's child — split runs once per row — and windowing is a tight
  * codegen'd loop. Output is bit-identical to the HOF formulation
  * (TextPrepSpec pins the parity, including the sequence-reversal and
  * null-skip edge cases).
  */
case class ShingleStrings(child: Expression, n: Int, dedup: Boolean)
    extends UnaryKernel[ArrayData, ArrayData] {

  require(n >= 1, s"shingle width must be >= 1: $n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_shingles requires array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_shingles"

  override def nullable: Boolean = true

  private val space = UTF8String.fromString(" ")

  def compute(a: ArrayData): ArrayData = {
    val len = a.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val parts = new Array[UTF8String](n)
    def window(i: Int): UTF8String = {
      var j = 0
      while (j < n) {
        // concat_ws SKIPS null inputs (never nulls the result) — matched
        // here; unreachable after split(), which yields no null tokens
        parts(j) = if (a.isNullAt(i + j)) null else a.getUTF8String(i + j)
        j += 1
      }
      UTF8String.concatWs(space, parts: _*)
    }
    if (dedup) {
      // LinkedHashSet preserves first-occurrence order == array_distinct
      val out = new java.util.LinkedHashSet[UTF8String](m * 2)
      var i = 0
      while (i < m) { out.add(window(i)); i += 1 }
      new GenericArrayData(out.toArray)
    } else {
      val arr = new Array[Any](m)
      var i = 0
      while (i < m) { arr(i) = window(i); i += 1 }
      new GenericArrayData(arr)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}
