package graft.engine.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** LSH band-chunk extraction over a packed SRP signature: chunk j is bit
  * range [j·rowsPerBand, (j+1)·rowsPerBand) of the little-endian-word
  * signature, emitted as array<long> of length `bands` — BIT-IDENTICAL to
  * the unrolled Column formulation
  * (`shiftrightunsigned`/`element_at`/`bitwiseOR`/`bitwiseAND` per band)
  * it replaces, including chunks straddling a word boundary.
  *
  * Why a native expression: the unrolled form generates O(bands) Java in
  * ONE method, and at derived geometries past ~150 bands (n ≳ 10^5
  * corpora under [[graft.engine.Similarity.srpGeometry]]) Janino's 64 KB
  * method limit kills compilation of the whole banding projection
  * (measured in r13 at 401 bands / n=200k: `Code grows beyond 64 KB`,
  * silent interpreted fallback). As a [[RowKernel]] the generated code is
  * one `compute` call, O(1) in the geometry.
  *
  * The signature must carry at least ceil(bands·rowsPerBand/64) words
  * (callers validate via their width contracts); a null signature yields
  * null, matching the Column formulation's null propagation.
  */
case class BandChunks(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryKernel[ArrayData, ArrayData] {

  require(bands > 0, s"bands must be positive: $bands")
  require(rowsPerBand >= 1 && rowsPerBand <= 62,
    s"rowsPerBand in [1, 62]: $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_band_chunks requires array<bigint>, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_band_chunks"

  override def nullable: Boolean = true

  /** One loop over the bands. */
  def compute(sig: ArrayData): ArrayData = {
    val needed = (bands * rowsPerBand + 63) / 64
    if (sig.numElements() < needed) throw new IllegalArgumentException(
      s"graft_band_chunks: signature has ${sig.numElements()} words but " +
        s"$bands bands x $rowsPerBand rows need $needed — the table was " +
        "signed too narrow for this geometry")
    val mask = (1L << rowsPerBand) - 1
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      val bit = j * rowsPerBand
      val word = bit >> 6
      val off = bit & 63
      var lo = sig.getLong(word) >>> off
      if (off + rowsPerBand > 64) lo |= sig.getLong(word + 1) << (64 - off)
      out(j) = lo & mask
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BandChunks =
    copy(child = newChild)
}
