package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe of a long key against a FIXED Bloom filter — the
  * sketch-prefilter idiom: an aggregate pass condenses the small side of a
  * semi-join into a few MB of bits, which then ride the serialized
  * expression into every task's broadcast binary (the
  * [[NearestCentroids]]/[[PqEncode]] pattern), turning the join's shuffle
  * into a map-only scan of the big side. False positives (rate set at build
  * time) survive the prefilter and must be killed by an exact verify
  * downstream; false negatives are impossible — the guarantee the
  * decontamination pipeline builds on.
  *
  * The filter travels as its serialized bytes (Spark's sketch format,
  * version-tagged) and reconstructs lazily once per executor — the live
  * `BloomFilter` object itself is not Java-serializable-stable across
  * versions, its byte form is. */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
    extends UnaryKernel[Long, Boolean] {

  require(filterBytes.nonEmpty, "empty Bloom filter payload")

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes))

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_might_contain requires bigint, got $t")
    }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_bloom_might_contain"

  override def nullable: Boolean = true

  def compute(v: Long): Boolean = filter.mightContainLong(v)

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** Shared n-token window mix over per-token 64-bit hashes: FNV-1a-style
  * fold, left to right. Window equality of token SEQUENCES implies hash
  * equality (the no-false-negative direction the Bloom prefilter needs);
  * 64-bit collisions only add false positives, which the downstream exact
  * join kills. */
object WindowHash {
  final val Seed = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  @inline def fold(h: Long, x: Long): Long = (h ^ x) * Prime
}

/** All n-token window hashes of a token-hash array: array<long> of length
  * len−n+1 (empty when the text is shorter than n). The codegen'd
  * replacement for building n-gram STRINGS just to hash them — at n=13 the
  * string form allocates ~n× the document text per position; this is
  * n long-mixes per position and zero allocation. Used on the (small)
  * bench side to BUILD the decontamination Bloom filter; the corpus side
  * probes with [[BloomAnyWindow]] (same fold — the two sides must agree). */
case class WindowHashes(child: Expression, n: Int)
    extends UnaryKernel[ArrayData, ArrayData] {

  require(n >= 1, s"window size must be >= 1: $n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_window_hashes requires array<bigint>, got $t")
    }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_window_hashes"

  override def nullable: Boolean = true

  def compute(a: ArrayData): ArrayData = {
    val len = a.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Long](0))
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = WindowHash.Seed
      var j = 0
      while (j < n) {
        if (a.isNullAt(i + j)) return null
        h = WindowHash.fold(h, a.getLong(i + j))
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

/** Fused decontamination prefilter probe: does ANY n-token window of this
  * token-hash array might-contain in the Bloom filter? One codegen'd
  * kernel — window fold ([[WindowHash]], identical to [[WindowHashes]]),
  * filter probe, early exit on the first hit — O(len·n) long-mixes worst
  * case, zero allocation, no HOF interpretation and no n-gram strings on
  * the 100 TB side of the scan. */
case class BloomAnyWindow(child: Expression, n: Int, filterBytes: Array[Byte])
    extends UnaryKernel[ArrayData, Boolean] {

  require(n >= 1, s"window size must be >= 1: $n")
  require(filterBytes.nonEmpty, "empty Bloom filter payload")

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes))

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_any_window requires array<bigint>, got $t")
    }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_bloom_any_window"

  override def nullable: Boolean = true

  def compute(a: ArrayData): Boolean = {
    val len = a.numElements()
    val m = len - n + 1
    var i = 0
    while (i < m) {
      var h = WindowHash.Seed
      var j = 0
      while (j < n) {
        if (a.isNullAt(i + j)) throw NullResult
        h = WindowHash.fold(h, a.getLong(i + j))
        j += 1
      }
      if (filter.mightContainLong(h)) return true
      i += 1
    }
    false
  }

  override protected def withNewChildInternal(newChild: Expression): BloomAnyWindow =
    copy(child = newChild)
}
