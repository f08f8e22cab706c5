package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Sign-random-projection (SRP / random-hyperplane) signature of an
  * array<double> vector, packed into ceil(bits/64) longs.
  *
  * Bit j is set iff dot(vec, plane_j) >= 0, where plane_j is the
  * deterministic ±1 hyperplane from [[graft.engine.Similarity.hyperplanes]]
  * (MurmurHash3-seeded — identical on every JVM, so signatures are
  * reproducible cluster-wide).
  *
  * Why a native expression: the HOF formulation (`aggregate`+`zip_with` per
  * bit) evaluates interpreted and would walk the vector `bits` times through
  * per-element lambda dispatch. This computes all bits in one compiled
  * dims×bits loop over a plane matrix built once per executor
  * (@transient lazy). At bits=256, dim=64 that's 16K fused multiply-adds per
  * row — nanoseconds, and it runs once per corpus vector, not per pair.
  *
  * Null vector → null; a null element → null (matching HOF null propagation).
  * `dim` must be >= the actual vector length (extra plane columns are unused).
  */
case class SrpSignature(child: Expression, bits: Int, dim: Int)
    extends UnaryKernel[ArrayData, ArrayData] {

  require(bits > 0 && bits % 64 == 0, s"bits must be a multiple of 64: $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_srp_signature requires array<double>, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_srp_signature"

  override def nullable: Boolean = true

  // ±1 planes, materialized once per executor (128 KB at 256×64)
  @transient private lazy val planes: Array[Array[Double]] =
    graft.engine.Similarity.hyperplanes(bits, dim)

  /** One pass over (bits × vector). */
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    // a vector longer than the plane matrix would silently project onto a
    // PREFIX of its dimensions, degrading signature quality (and LSH recall)
    // with no error — fail loud so a dim/embedding mismatch is caught
    if (n > dim) throw new IllegalArgumentException(
      s"graft_srp_signature: vector has $n dims but the expression was built " +
        s"with dim=$dim — dim must be >= the embedding width")
    val words = new Array[Long](bits / 64)
    var j = 0
    while (j < bits) {
      val p = planes(j)
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        dot += p(i) * v.getDouble(i)
        i += 1
      }
      if (dot >= 0) words(j >> 6) |= (1L << (j & 63))
      j += 1
    }
    new GenericArrayData(words)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}
