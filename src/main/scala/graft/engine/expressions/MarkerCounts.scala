package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-group exact-token occurrence counts over whitespace-split text:
  * `counts[g] = Σ over tokens t of [t ∈ groups(g)]`, one array element per
  * marker group.
  *
  * Why a native expression: language-ID / stopword scoring over G groups of
  * M markers as `size(filter(split(text,' '), t => t === lit(m)))` per marker
  * runs G×M interpreted higher-order passes per row, each re-splitting the
  * text through per-element lambda dispatch (20+ passes for the 4-language
  * marker table — measured to dominate `q_lang_id`). This tokenizes ONCE per
  * row in a compiled loop and resolves each token against a prebuilt
  * token→groups hash map — O(len + tokens) total, inside whole-stage codegen.
  *
  * Exactly matches the HOF/`string_split` semantics the DuckDB oracles use:
  * tokens are maximal runs between single spaces (consecutive spaces yield
  * empty tokens, which match no marker), occurrences are counted with
  * multiplicity, and a marker present in several groups counts toward each.
  * Null text → null.
  */
case class MarkerCounts(child: Expression, groups: Seq[Seq[String]])
    extends UnaryKernel[UTF8String, ArrayData] {

  require(groups.nonEmpty && groups.forall(_.nonEmpty),
    "marker groups must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_marker_counts requires string, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_marker_counts"

  override def nullable: Boolean = true

  // token → indices of the groups containing it, built once per executor
  @transient private lazy val lookup: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    for ((ms, g) <- groups.zipWithIndex; tok <- ms) {
      val prev = m.get(tok)
      m.put(tok, if (prev == null) Array(g) else prev :+ g)
    }
    m
  }

  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new Array[Long](groups.length)
    val n = str.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (i > start) {
          val gs = lookup.get(str.substring(start, i))
          if (gs != null) {
            var k = 0
            while (k < gs.length) { counts(gs(k)) += 1; k += 1 }
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerCounts =
    copy(child = newChild)
}
