package graft.engine.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** Candidate-pair emission from one posting list — the kernel behind
  * [[graft.engine.NearDup.jaccardPairs]] and its incremental twin: given
  * `newIds` (sorted ascending) and `oldIds` (disjoint id spaces), emit
  *  1. every ordered self-pair of `newIds` — (newIds(i), newIds(j)) for
  *     i < j in array order, then
  *  2. every cross pair — (least(x, y), greatest(x, y)) for x in `newIds`,
  *     y in `oldIds`,
  * as one array<struct<id1, id2>> in exactly the order (and with exactly
  * the values) of the declarative
  * `concat(flatten(transform(nids, (x,i) => transform(slice(nids, i+2, …),
  * y => struct(x, y)))), flatten(transform(nids, x => transform(oids, y =>
  * struct(least(x,y), greatest(x,y))))))` it replaces (parity pinned in
  * NearDupSpec). The full-corpus path passes an empty `oldIds`.
  *
  * Exists for evaluation cost, not semantics: higher-order `transform` is
  * CodegenFallback — the declarative emission paid interpreted
  * slice/struct expression dispatch per pair plus a flatten/concat copy
  * of every intermediate array (r14 StageProfile: the posting-list reduce
  * stage of q_jaccard_pairs burned 22.6 s of task time, the query's
  * hottest stage). Here pairs are built in one tight loop, each struct
  * allocated once.
  *
  * Generic over the id type (any type with an interpreted ordering — the
  * engine functions are id-type-generic); null arrays propagate null,
  * null ELEMENTS cannot occur (collect_list never emits them). A posting
  * list whose pair count passes `Int.MaxValue` fails with a `[graft]`
  * error naming `maxDf`, the knob that caps posting-list length.
  */
case class PairEmit(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) if a == b =>
        TypeUtils.checkForOrderingExpr(a, prettyName)
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_pair_emit requires two arrays of one id type, got $a / $b")
    }

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id1", elemType, nullable = false),
    StructField("id2", elemType, nullable = false))), containsNull = false)

  override def prettyName: String = "graft_pair_emit"

  override def nullable: Boolean = left.nullable || right.nullable

  @transient private lazy val ord: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(elemType)

  def compute(l: ArrayData, r: ArrayData): ArrayData = {
    val et = elemType
    val n = l.numElements()
    val o = r.numElements()
    val total = n.toLong * (n - 1) / 2 + n.toLong * o
    // checked before any allocation: past Int.MaxValue pairs the output
    // array cannot exist (total.toInt below would wrap)
    if (total > Int.MaxValue) throw new IllegalArgumentException(
      s"[graft] graft_pair_emit: one posting list emits $total pairs " +
        s"(n=$n new ids, o=$o old ids), past the ${Int.MaxValue} array " +
        "limit; lower maxDf so no key's posting list gets this long")
    val nv = l.toObjectArray(et)
    val ov = r.toObjectArray(et)
    val out = new Array[Any](total.toInt)
    var idx = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(idx) = InternalRow(nv(i), nv(j))
        idx += 1
        j += 1
      }
      i += 1
    }
    i = 0
    while (i < n) {
      var j = 0
      while (j < o) {
        val x = nv(i); val y = ov(j)
        out(idx) =
          if (ord.compare(x, y) <= 0) InternalRow(x, y) else InternalRow(y, x)
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pe", this, classOf[PairEmit].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PairEmit =
    copy(left = newLeft, right = newRight)
}
