package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Product-quantization kernels (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public literature; no counterpart
  * in the reference pipeline, which stops at exact pandas ops).
  *
  * A d-dim vector is split into `m` contiguous subvectors of width
  * `dsub = d/m`; each subvector is quantized independently to one of `k`
  * codewords, so a vector compresses to `m` small ints (m bytes at k ≤ 256 —
  * 768-dim float32 → 8 bytes is a 384× reduction, the difference between an
  * index that fits executor memory at 100 TB corpus scale and one that
  * doesn't). Search never decodes: a query precomputes its m×k table of
  * per-subspace dot products once, and each corpus candidate scores with m
  * table lookups (asymmetric distance computation, ADC).
  *
  * All three kernels are [[RowKernel]]s, one `compute` call inside
  * whole-stage codegen: the codebooks ride the serialized expression into
  * the broadcast task binary — shipped once per stage, never per row.
  * Model size is m·k·dsub doubles = k·d (a few KB at k=16, d=64) plus
  * nothing per corpus row but the codes.
  */
private[expressions] trait PqCodebooks {
  def codebooks: Array[Array[Array[Double]]] // m × k × dsub

  require(codebooks.nonEmpty, "codebooks must be non-empty")
  final val m: Int = codebooks.length
  final val k: Int = codebooks.head.length
  final val dsub: Int = codebooks.head.head.length
  require(codebooks.forall(cb => cb.length == k && cb.forall(_.length == dsub)),
    "ragged codebooks: every subspace needs the same k × dsub shape")
  final val dim: Int = m * dsub
}

/** PQ encoding: array<double> of width m·dsub → array<int> of m codes, each
  * the argmin-L2 codeword of its subvector (squared distance — sqrt is
  * monotone and never computed). Ties break toward the lower code index
  * (deterministic cluster-wide). Null vector → null; null element → null;
  * wrong width fails loudly (a silent prefix encode would corrupt every
  * downstream ADC score).
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryKernel[ArrayData, ArrayData] with PqCodebooks {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode requires array<double>, got $t")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_pq_encode"

  override def nullable: Boolean = true

  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"graft_pq_encode: vector has ${v.numElements()} dims but the model " +
        s"was trained on $dim (m=$m × dsub=$dsub)")
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      val cb = codebooks(s)
      var best = -1
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < k) {
        val cw = cb(j)
        var d2 = 0.0
        var i = 0
        while (i < dsub) {
          if (v.isNullAt(base + i)) return null
          val diff = v.getDouble(base + i) - cw(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestD) { best = j; bestD = d2 }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Per-query ADC table: array<double> query of width m·dsub → flat
  * array<double> of m·k entries, entry s·k+j = ⟨q_s, c_{s,j}⟩. Computed once
  * per query row (queries are the small side of the ANN join), then every
  * corpus candidate scores with m lookups via [[PqAdcScore]]. For
  * normalized queries against codebooks trained on normalized vectors the
  * summed lookups approximate cosine.
  */
case class PqAdcTable(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryKernel[ArrayData, ArrayData] with PqCodebooks {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc_table requires array<double>, got $t")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_pq_adc_table"

  override def nullable: Boolean = true

  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"graft_pq_adc_table: query has ${v.numElements()} dims but the model " +
        s"was trained on $dim (m=$m × dsub=$dsub)")
    val out = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      val base = s * dsub
      val cb = codebooks(s)
      var j = 0
      while (j < k) {
        val cw = cb(j)
        var dot = 0.0
        var i = 0
        while (i < dsub) {
          if (v.isNullAt(base + i)) return null
          dot += v.getDouble(base + i) * cw(i)
          i += 1
        }
        out(s * k + j) = dot
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/** ADC score: (codes array<int> of length m, table array<double> of length
  * m·k) → Σ_s table[s·k + codes[s]]. The hot inner loop of a PQ search —
  * m adds and m array reads per (query, candidate) pair, no model state in
  * the expression itself (k is derived as table.length / codes.length, so
  * one compiled kernel serves any codebook shipped in the table column).
  * Sums left-to-right in subspace order — bit-identical to the
  * reconstruction dot product computed in the same order (pinned in
  * SimilaritySpec). Out-of-range codes fail loudly.
  */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc requires (array<int>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_pq_adc"

  override def nullable: Boolean = true

  def compute(codes: ArrayData, table: ArrayData): Double = {
    val m = codes.numElements()
    val tn = table.numElements()
    if (m == 0 || tn % m != 0) throw new IllegalArgumentException(
      s"graft_pq_adc: table length $tn is not a positive multiple of the " +
        s"code length $m — codes and table come from different models")
    val k = tn / m
    var sum = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) throw NullResult
      val c = codes.getInt(s)
      if (c < 0 || c >= k) throw new IllegalArgumentException(
        s"graft_pq_adc: code $c at subspace $s out of range [0, $k)")
      val idx = s * k + c
      if (table.isNullAt(idx)) throw NullResult
      sum += table.getDouble(idx)
      s += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcScore = copy(left = newLeft, right = newRight)
}
