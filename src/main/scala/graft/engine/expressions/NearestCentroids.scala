package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Indices of the `nprobe` nearest centroids of an array<double> vector, by
  * dot product against a fixed L2-normalized centroid matrix, best first.
  *
  * With normalized centroids, `argmax_c dot(v, c)` equals
  * `argmax_c cosine(v, c)` for any non-null `v` (the 1/|v| factor is constant
  * per row), so the IVF assignment and probe steps never need to normalize
  * the corpus — one fused nlist×dim loop per row, inside whole-stage codegen.
  *
  * The centroid matrix rides the expression into the serialized plan, which
  * Spark ships to executors once per stage via the broadcast task binary —
  * no per-row or per-task re-serialization. At nlist ≈ sqrt(corpus) and
  * dim ≈ 10^2–10^3 that is KBs to a few MB; for nlist beyond ~10^5 an IVF
  * index would need a join-based assignment instead.
  *
  * Null vector → null; a null element → null (HOF null propagation). Ties
  * break toward the lower centroid index (deterministic cluster-wide).
  */
case class NearestCentroids(child: Expression,
                            centroids: Array[Array[Double]], nprobe: Int)
    extends UnaryKernel[ArrayData, ArrayData] {

  require(centroids.nonEmpty, "centroids must be non-empty")
  require(nprobe > 0 && nprobe <= centroids.length,
    s"nprobe must be in [1, ${centroids.length}]: $nprobe")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_centroids requires array<double>, got $t")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_nearest_centroids"

  override def nullable: Boolean = true

  /** One nlist×dim pass, then a single selection sweep per probe slot
    * (nprobe is small — single digits in practice). */
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val dots = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      // STRICT width match: a narrower vector would silently compute a
      // prefix dot (wrong list assignments, no error) — the same silent
      // degradation the wider-vector case fails loudly on
      if (n != cent.length) throw new IllegalArgumentException(
        s"graft_nearest_centroids: vector has $n dims but centroids have " +
          s"${cent.length} — the index was trained on a different embedding")
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        dot += cent(i) * v.getDouble(i)
        i += 1
      }
      dots(c) = dot
      c += 1
    }
    val out = new Array[Int](nprobe)
    val taken = new Array[Boolean](centroids.length)
    var s = 0
    while (s < nprobe) {
      var best = -1
      var bestDot = Double.NegativeInfinity
      var j = 0
      while (j < dots.length) {
        if (!taken(j) && dots(j) > bestDot) { best = j; bestDot = dots(j) }
        j += 1
      }
      taken(best) = true
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}
