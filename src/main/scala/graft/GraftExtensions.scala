package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.engine.expressions.{ArrayDot, ArrayNormSq, CosineSimilarity, HammingDistance, MinHashSignature, SrpSignature}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions so they are usable from SQL and `call_function`.
  *
  * Wire via `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal integer")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be a literal integer, got $other")
    }
  }

  /** The one table of native SQL functions: (name, expression class,
    * builder). [[registerOn]] and the extension class both iterate it, so
    * the two registration paths cannot diverge in names, validation or
    * messages. */
  private[graft] val functions
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("graft_cosine", classOf[CosineSimilarity], args => {
        require(args.length == 2, "graft_cosine(a, b) takes two double arrays")
        CosineSimilarity(args.head, args(1))
      }),
      ("graft_hamming", classOf[HammingDistance], args => {
        require(args.length == 2, "graft_hamming(a, b) takes two long arrays")
        HammingDistance(args.head, args(1))
      }),
      ("graft_srp_signature", classOf[SrpSignature], args => {
        require(args.length == 3, "graft_srp_signature(vec, bits, dim)")
        SrpSignature(args.head, litInt(args(1), "bits"),
          litInt(args(2), "dim"))
      }),
      ("graft_minhash", classOf[MinHashSignature], args => {
        require(args.length == 2, "graft_minhash(shingle_hashes, k)")
        MinHashSignature(args.head, litInt(args(1), "k"))
      }),
      ("graft_dot", classOf[ArrayDot], args => {
        require(args.length == 2, "graft_dot(a, b) takes two double arrays")
        ArrayDot(args.head, args(1))
      }),
      ("graft_norm_sq", classOf[ArrayNormSq], args => {
        require(args.length == 1, "graft_norm_sq(a) takes one double array")
        ArrayNormSq(args.head)
      }))

  /** Runtime registration for sessions built without the extension. */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, _, build) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerFunction(spark, name, build)
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.engine.rules.RewriteHofCosine))
      spark.experimental.extraOptimizations ++=
        Seq(graft.engine.rules.RewriteHofCosine)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // declarative HOF cosine → native codegen'd expression (see the rule's
    // Scaladoc for the exact pattern and the semantics-preservation guard)
    ext.injectOptimizerRule(_ => graft.engine.rules.RewriteHofCosine)
  }
}
