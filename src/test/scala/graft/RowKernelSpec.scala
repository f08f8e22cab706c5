package graft

import graft.engine.expressions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.util.{Failure, Success, Try}

/** Eval-vs-codegen parity of every native row kernel: each runs through
  * `expr.eval(row)` and, Java-serialized and read back as a task ships
  * it, through a generated `UnsafeProjection` (no interpreted fallback: a
  * compile error fails the test) over the same `InternalRow`s, and both
  * must give the same null flag and value, or the same exception. Inputs
  * cover a NULL input, an empty array, a null element and, for the text
  * kernels, a CJK doc and a surrogate-pair doc. Where the right answer is
  * plain, the eval side is pinned too: parity alone cannot see a fault in
  * the shared `compute`. */
class RowKernelSpec extends AnyFunSuite with Matchers {

  private val cjk = "日本語のテキスト 日本 です"
  private val emoji = "😀 a 😀𝄞 the"

  private def in(i: Int, dt: DataType, nullable: Boolean = true) =
    BoundReference(i, dt, nullable)
  private val dArr = ArrayType(DoubleType)
  private val lArr = ArrayType(LongType)
  private val sArr = ArrayType(StringType)

  private def arr(xs: Any*): GenericArrayData = new GenericArrayData(xs.map {
    case s: String => UTF8String.fromString(s)
    case x => x
  }.toArray)
  private def toks(doc: String): GenericArrayData = arr(doc.split(" "): _*)
  private def str(s: String): UTF8String = UTF8String.fromString(s)

  private def bloom(keys: Long*): Array[Byte] = {
    val f = BloomFilter.create(100, 0.01)
    keys.foreach(f.putLong)
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  private def shipped[T](x: T): T = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(x)
    out.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[T]
  }

  /** NaN equals NaN; arrays and structs compare element-wise. */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case (isNull, value) => (isNull, canon(value))
    case s: scala.collection.Seq[_] => s.map(canon)
    case r: Row => r.toSeq.map(canon)
    case other => other
  }

  private def outcome(t: Try[Any]): Any = t match {
    case Success(v) => v
    case Failure(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  /** Runs `kernel` over `rows` both ways, asserts equal null flags and
    * values (or equal exceptions), and returns the eval side as Scala
    * values, an exception as "Class: message". */
  private def parity(kernel: Expression, rows: Seq[Any]*): Seq[Any] = {
    val dt = kernel.dataType
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    val projection = GenerateUnsafeProjection.generate(Seq(shipped(kernel)), false)
    rows.map { values =>
      val row = InternalRow.fromSeq(values)
      val evaled = Try(kernel.eval(row)).map(v => (v == null, toScala(v)))
      val generated = Try {
        val out = projection(row)
        (out.isNullAt(0), if (out.isNullAt(0)) null else toScala(out.get(0, dt)))
      }
      withClue(s"${kernel.prettyName} on $values: ") {
        canon(outcome(generated)) shouldBe canon(outcome(evaled))
      }
      outcome(evaled.map(_._2))
    }
  }

  test("graft_dot / graft_norm_sq: eval == codegen") {
    parity(ArrayDot(in(0, dArr), in(1, dArr)),
      Seq(null, arr(1.0)), Seq(arr(), arr()), Seq(arr(1.0, null), arr(1.0, 2.0)),
      Seq(arr(1.0, 2.0), arr(3.0, 4.0)), Seq(arr(1.0), arr(1.0, 2.0))
    ) shouldBe Seq(null, 0.0, null, 11.0, null)
    parity(ArrayNormSq(in(0, dArr)),
      Seq(null), Seq(arr()), Seq(arr(1.0, null)), Seq(arr(3.0, 4.0))
    ) shouldBe Seq(null, 0.0, null, 25.0)
  }

  test("graft_cosine: eval == codegen") {
    val got = parity(CosineSimilarity(in(0, dArr), in(1, dArr)),
      Seq(null, arr(1.0)), Seq(arr(), arr()), Seq(arr(1.0, null), arr(1.0, 2.0)),
      Seq(arr(0.0, 0.0), arr(1.0, 2.0)), Seq(arr(0.0, 3.0), arr(0.0, 6.0)),
      Seq(arr(1.0, 0.0, 5.0), arr(1.0, 0.0)))
    // a zero norm (and so an empty pair) is NULL; unequal widths fail
    got.take(5) shouldBe Seq(null, null, null, null, 1.0)
    got(5).toString should include(
      "IllegalArgumentException: [graft] graft_cosine: vectors have 3 and 2")
  }

  test("graft_hamming: eval == codegen") {
    parity(HammingDistance(in(0, lArr), in(1, lArr)),
      Seq(null, arr(1L)), Seq(arr(), arr()), Seq(arr(null, 1L), arr(0L, 1L)),
      Seq(arr(0xfL, 0x3L), arr(0L, 0L)), Seq(arr(1L), arr(1L, 0xffL))
    ) shouldBe Seq(null, 0, 0, 6, 8)
  }

  test("graft_band_chunks: eval == codegen") {
    val got = parity(BandChunks(in(0, lArr), 4, 20),
      Seq(null), Seq(arr()), Seq(arr(0x123456789abcdef0L, null)),
      Seq(arr(0x123456789abcdef0L, 0x0fedcba987654321L)))
    got(1).toString should include("signed too narrow")
  }

  test("graft_bloom_might_contain / graft_window_hashes / " +
    "graft_bloom_any_window: eval == codegen") {
    parity(BloomMightContain(in(0, LongType), bloom(42L)),
      Seq(null), Seq(42L), Seq(7L)).take(2) shouldBe Seq(null, true)
    parity(WindowHashes(in(0, lArr), 2),
      Seq(null), Seq(arr()), Seq(arr(1L, null, 3L)), Seq(arr(1L, 2L, 3L))
    ).take(3) shouldBe Seq(null, Seq(), null)
    val h12 = WindowHash.fold(WindowHash.fold(WindowHash.Seed, 1L), 2L)
    parity(BloomAnyWindow(in(0, lArr), 2, bloom(h12)),
      Seq(null), Seq(arr()), Seq(arr(1L, null)), Seq(arr(1L, 2L, 3L))
    ) shouldBe Seq(null, false, null, true)
  }

  test("graft_marker_counts / graft_winnow_md5: eval == codegen") {
    parity(MarkerCounts(in(0, StringType), Seq(Seq("the", "a"), Seq("日本", "😀"))),
      Seq(null), Seq(str("")), Seq(str(cjk)), Seq(str(emoji))
    ) shouldBe Seq(null, Seq(0L, 0L), Seq(0L, 1L), Seq(2L, 1L))
    val rows = Seq(Seq(str("")), Seq(str(cjk)), Seq(str(emoji)))
    parity(WinnowMd5Fingerprints(in(0, StringType), 3, 2), Seq(null) +: rows: _*)
      .take(2) shouldBe Seq(null, Seq())
    // not nullable when its input is not: the generated code has no null flag
    parity(WinnowMd5Fingerprints(in(0, StringType, nullable = false), 3, 2),
      rows: _*)
  }

  test("graft_shingles / graft_minhash / graft_md5_minhash / " +
    "graft_simhash: eval == codegen") {
    val rows = Seq(Seq(null), Seq(arr()), Seq(arr("a", null, "b")),
      Seq(toks(cjk)), Seq(toks(emoji)))
    parity(ShingleStrings(in(0, sArr), 2, dedup = true), rows: _*)
      .take(3) shouldBe Seq(null, Seq(), Seq("a", "b"))
    parity(ShingleStrings(in(0, sArr), 1, dedup = false), rows: _*)
      .take(3) shouldBe Seq(null, Seq(), Seq("a", "", "b"))
    parity(Md5MinHashSignature(in(0, sArr), 3), rows: _*)
      .take(3) shouldBe Seq(null, null, null)
    parity(SimhashSignature(in(0, sArr), md5Family = false), rows: _*)
      .take(3) shouldBe Seq(null, 0L, null)
    parity(SimhashSignature(in(0, sArr), md5Family = true), rows: _*)
    parity(MinHashSignature(in(0, lArr), 4),
      Seq(null), Seq(arr()), Seq(arr(1L, null)), Seq(arr(1L, 2L, 3L))
    ).take(3) shouldBe Seq(null, null, null)
  }

  test("graft_srp_signature / graft_nearest_centroids: eval == codegen") {
    parity(SrpSignature(in(0, dArr), 64, 4),
      Seq(null), Seq(arr()), Seq(arr(1.0, null)), Seq(arr(1.0, -2.0, 3.0, -4.0))
    ).take(3) shouldBe Seq(null, Seq(-1L), null)
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    val got = parity(NearestCentroids(in(0, dArr), cents, 2),
      Seq(null), Seq(arr()), Seq(arr(1.0, null)), Seq(arr(1.0, 0.5)))
    got(1).toString should include("IllegalArgumentException")
    Seq(got(0), got(2), got(3)) shouldBe Seq(null, null, Seq(0, 1))
  }

  test("graft_pq_encode / graft_pq_adc_table / graft_pq_adc: " +
    "eval == codegen") {
    val cb = Array(Array(Array(1.0), Array(-1.0)), Array(Array(1.0), Array(-1.0)))
    val rows = Seq(Seq(null), Seq(arr()), Seq(arr(1.0, null)), Seq(arr(0.5, -0.25)))
    val enc = parity(PqEncode(in(0, dArr), cb), rows: _*)
    enc(1).toString should include("IllegalArgumentException")
    Seq(enc(0), enc(2), enc(3)) shouldBe Seq(null, null, Seq(0, 1))
    val tab = parity(PqAdcTable(in(0, dArr), cb), rows: _*)
    Seq(tab(0), tab(2), tab(3)) shouldBe
      Seq(null, null, Seq(0.5, -0.5, -0.25, 0.25))
    val score = parity(PqAdcScore(in(0, ArrayType(IntegerType)), in(1, dArr)),
      Seq(null, arr(1.0)), Seq(arr(), arr()), Seq(arr(0, null), arr(1.0, 2.0)),
      Seq(arr(1, 0), arr(0.25, 0.5, 1.0, 2.0)))
    score(1).toString should include("IllegalArgumentException")
    Seq(score(0), score(2), score(3)) shouldBe Seq(null, null, 1.5)
  }

  test("graft_pair_emit: eval == codegen, nullable and not") {
    val rows = Seq(Seq(arr(), arr()), Seq(arr(1L, 2L, 3L), arr(0L, 5L)))
    val pairs = Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L), Row(0L, 1L),
      Row(1L, 5L), Row(0L, 2L), Row(2L, 5L), Row(0L, 3L), Row(3L, 5L))
    parity(PairEmit(in(0, lArr), in(1, lArr)), Seq(null, arr(1L)) +: rows: _*)
      .shouldBe(Seq(null, Seq(), pairs))
    // not nullable when its inputs are not: the generated code has no null flag
    parity(PairEmit(in(0, lArr, nullable = false), in(1, lArr, nullable = false)),
      rows: _*) shouldBe Seq(Seq(), pairs)
  }
}
