package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** SimHash signature as a pure per-row function of the token array: for
  * each bit b of the per-token hash, sum +1/−1 over every token OCCURRENCE
  * and set bit b of the signature when the sum is positive.
  *
  * Two fixed hash families, selected by `md5Family`:
  *  - false (production): 64-bit `xxhash64(token)` (seed 42 — identical to
  *    the SQL `xxhash64` function), 64-bit signature;
  *  - true (oracle twin): the first 32 bits of `md5(token)` (==
  *    `conv(substring(md5(tok),1,8),16,10)`), 32-bit signature.
  *
  * Exists for plan size and evaluation cost, not semantics (bit-parity
  * with the explode + 64-column aggregate formulation pinned in
  * NearDupSpec): the aggregate form shuffled nothing (map-side partial)
  * but evaluated 64 `sum(when(shiftright(h,b)&1, …))` expression trees per
  * token row, and — because the banded self-join plans the signature
  * subtree on both sides — Catalyst re-optimized two copies of the
  * 64-aggregate plan per run (r14 StageProfile: q_simhash_pairs spent
  * 0.76 s of its 1.31 s wall OUTSIDE stages, in driver planning). As a
  * per-row expression the whole signing collapses to one codegen'd call:
  * no explode, no aggregate, no wide plan.
  *
  * Empty array → signature of an empty sum (all bits negative ⇒ 0L),
  * matching the aggregate form on `split("", " ") = [""]` corpora where
  * every doc has ≥ 1 token; null element → null row (split never emits
  * nulls).
  */
case class SimhashSignature(child: Expression, md5Family: Boolean)
    extends UnaryKernel[ArrayData, Long] {

  private val bits = if (md5Family) 32 else 64

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash requires array<string> of tokens, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_simhash"

  override def nullable: Boolean = true

  @transient private lazy val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def compute(a: ArrayData): Long = {
    val n = a.numElements()
    val sums = new Array[Int](bits)
    val md = if (md5Family) mdLocal.get() else null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw NullResult
      val t = a.getUTF8String(i)
      val h: Long =
        if (md5Family) {
          // first 4 md5 bytes big-endian unsigned == the first 8 hex chars
          // parsed as an integer (conv(substring(md5,1,8),16,10))
          val d = md.digest(t.getBytes)
          ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        } else {
          // xxhash64(string) == XXH64 over the UTF-8 bytes, seed 42
          val b = t.getBytes
          XXH64.hashUnsafeBytes(b,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
        }
      var bIx = 0
      while (bIx < bits) {
        if (((h >>> bIx) & 1L) == 1L) sums(bIx) += 1 else sums(bIx) -= 1
        bIx += 1
      }
      i += 1
    }
    var sig = 0L
    var bIx = 0
    while (bIx < bits) {
      if (sums(bIx) > 0) sig |= (1L << bIx)
      bIx += 1
    }
    sig
  }

  override protected def withNewChildInternal(
      newChild: Expression): SimhashSignature =
    copy(child = newChild)
}
