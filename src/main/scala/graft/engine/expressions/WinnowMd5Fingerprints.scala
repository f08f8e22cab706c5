package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct winnowing fingerprints over FIXED md5 gram hashes — the native
  * kernel behind [[graft.engine.NearDup.winnowFingerprintsMd5]] (the
  * fingerprints [[graft.engine.NearDup.winnowPairs]] joins under
  * [[graft.engine.NearDup.HashFamily.Md5]]): for every
  * char position p in 1..len−k+1, g(p) = md5 hex of the k-char substring;
  * the fingerprint set is the distinct minima over every FULL window of `w`
  * consecutive gram hashes (windows 1..len−(k+w−2); docs with no full
  * window emit an empty array). Output order is first occurrence; the
  * consumer is a set-join, order-insensitive.
  *
  * Exists for plan shape, not semantics (bit-parity with the SQL-window
  * formulation pinned in NearDupSpec): the declarative form explodes one
  * row per char position and shuffles (doc_id, p, 32-char md5 hex, pmax)
  * rows into a per-doc window sort plus a distinct exchange — at sf0.1
  * that is ~0.9 GB of task I/O for q_winnow_fixed whose OUTPUT is a few
  * thousand fingerprints. The fingerprint set is a pure per-row function
  * of the text, so computing it here needs zero shuffles, zero sorts and
  * no per-position row overhead; only the (doc_id, fp) survivors ever hit
  * an exchange.
  *
  * Internals: digests compare as raw 16-byte arrays (unsigned byte order
  * == md5-hex lexicographic order — hex encoding is monotone per byte),
  * with a 64-bit prefix fast path; only window winners are hex-encoded.
  * The O(m·w) window scan matches [[graft.engine.TextOps.winnow]]'s shape
  * (w is small); consecutive windows usually share their minimum, so a
  * same-reference skip removes most set operations.
  */
case class WinnowMd5Fingerprints(child: Expression, k: Int, w: Int)
    extends UnaryKernel[UTF8String, ArrayData] {

  require(k >= 1 && w >= 1, s"bad winnow params: k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_winnow_md5 requires string, got $t")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_winnow_md5"

  override def nullable: Boolean = child.nullable

  // MessageDigest is stateful and not thread-safe; tasks share the bound
  // expression instance within one executor JVM (all of local mode)
  @transient private lazy val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

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

  /** Unsigned big-endian first-8-bytes — the compare fast path. */
  private def prefix(d: Array[Byte]): Long = {
    var p = 0L
    var i = 0
    while (i < 8) { p = (p << 8) | (d(i) & 0xffL); i += 1 }
    p
  }

  def compute(t: UTF8String): ArrayData = {
    // md5(substr(t, p, k)) hashes the substring's UTF-8 bytes: index every
    // code point's first byte in ONE pass over the lead bytes (a
    // continuation byte is 10xxxxxx), then digest byte slices of the one
    // array — no String round trip, O(bytes) for any text. ASCII is the
    // identity table of the same loop.
    val bytes = t.getBytes
    val off = new Array[Int](bytes.length + 1)
    var nChars = 0
    var b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xc0) != 0x80) { off(nChars) = b; nChars += 1 }
      b += 1
    }
    off(nChars) = bytes.length
    val m = nChars - k + 1
    if (m < w) return new GenericArrayData(new Array[Any](0))
    val md = mdLocal.get()
    val digests = new Array[Array[Byte]](m)
    val prefixes = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      md.update(bytes, off(i), off(i + k) - off(i))
      val d = md.digest()
      digests(i) = d
      prefixes(i) = prefix(d)
      i += 1
    }
    def le(i: Int, j: Int): Boolean = {
      val c = java.lang.Long.compareUnsigned(prefixes(i), prefixes(j))
      if (c != 0) c < 0
      else java.util.Arrays.compareUnsigned(digests(i), digests(j)) <= 0
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var last = -1
    var p = 0
    while (p + w <= m) {
      var best = p
      var j = p + 1
      while (j < p + w) { if (le(j, best)) best = j; j += 1 }
      if (best != last) { seen.add(hex(digests(best))); last = best }
      p += 1
    }
    new GenericArrayData(seen.toArray)
  }

  override protected def withNewChildInternal(
      newChild: Expression): WinnowMd5Fingerprints =
    copy(child = newChild)
}
