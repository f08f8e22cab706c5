package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fixed-md5-family MinHash signature — the native kernel behind
  * [[graft.engine.NearDup.minhashSignatures]] under
  * [[graft.engine.NearDup.HashFamily.Md5]]: entry i is
  * `min over shingles s of md5(s || ":" || i)` (lexicographic min of the
  * lowercase hex digest), for i in 0 until k. Bit-identical to the
  * declarative `array_min(transform(_sh, s => md5(concat(s, ":i"))))`
  * per-seed columns (parity pinned in NearDupSpec).
  *
  * Exists for evaluation cost, not semantics: `transform` is a
  * higher-order function — Spark evaluates it INTERPRETED (CodegenFallback),
  * so the declarative form pays k=32 interpreted lambda passes per row,
  * each allocating a full md5-hex array just to take its min, and each
  * re-dispatching Concat/Md5 expression trees per element. Here one tight
  * loop feeds each shingle to MD5 once, finishes a clone of that state
  * with each of the precomputed ":i" suffixes, keeps the running min as
  * raw 16-byte digests (unsigned byte order == hex lexicographic order),
  * and hex-encodes only the k winners.
  *
  * Empty/too-short input never reaches this expression (callers filter on
  * token count first — the minhashSignatures rule); an empty array yields
  * null like [[MinHashSignature]], and a null element nulls the row.
  */
case class Md5MinHashSignature(child: Expression, k: Int)
    extends UnaryKernel[ArrayData, ArrayData] {

  require(k > 0, s"k must be positive: $k")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_md5_minhash requires array<string> of shingles, got $t")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_md5_minhash"

  override def nullable: Boolean = true

  @transient private lazy val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  // ":0".."":k-1" suffix bytes, computed once per (de)serialized instance
  @transient private lazy val suffixes: Array[Array[Byte]] =
    Array.tabulate(k)(i => (":" + i).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n == 0) return null
    val md = mdLocal.get()
    val mins = new Array[Array[Byte]](k)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      md.reset()
      md.update(a.getUTF8String(i).getBytes)
      var j = 0
      while (j < k) {
        val seeded = md.clone().asInstanceOf[java.security.MessageDigest]
        seeded.update(suffixes(j))
        val d = seeded.digest()
        if (mins(j) == null ||
            java.util.Arrays.compareUnsigned(d, mins(j)) < 0) mins(j) = d
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) { out(i) = hex(mins(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Md5MinHashSignature =
    copy(child = newChild)
}
