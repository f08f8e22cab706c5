package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature of a pre-hashed shingle set: `sig[i] = min over shingle
  * hashes h of XXH64(h, seed=i)`, for i in 0 until k.
  *
  * Why a native expression: the long-format alternative (posexplode k hashes
  * per shingle row, then two groupBy passes to min-aggregate and re-assemble
  * the signature) shuffles |shingles|×k rows — 32M at sf0.1 — through two
  * exchanges. The signature is a pure per-document function of its shingle
  * set, so computing it row-at-a-time over the (narrow, already codegen'd)
  * shingle-hash array needs ZERO shuffles and no aggregation at all. k
  * parallel `min()` agg columns were also measured (~10× worse cold: one
  * pathologically large generated method); this keeps the generated code one
  * call.
  *
  * The per-seed hash family XXH64(h, seed=i) over the 64-bit shingle hash is
  * the standard "re-hash one base hash k ways" minhash construction —
  * deterministic, identical on every JVM.
  *
  * Empty array → null (a doc with no shingles has no signature — it cannot
  * pair, matching the explode-based pipeline which emitted no rows for it).
  * Null element → null.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryKernel[ArrayData, ArrayData] {

  require(k > 0, s"k must be positive: $k")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash requires array<long> of shingle hashes, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash"

  override def nullable: Boolean = true

  /** One pass over (shingles × k). */
  def compute(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) return null
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = XXH64.hashLong(h, j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
