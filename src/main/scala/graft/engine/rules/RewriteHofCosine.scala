package graft.engine.rules

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.engine.expressions.{ArrayDot, ArrayNormSq}

/** Optimizer rule: rewrite the higher-order-function cosine formulation
  *
  * {{{
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)
  *   / (sqrt(aggregate(transform(a, x -> x * x), 0.0D, (acc, x) -> acc + x))
  *      * sqrt(aggregate(transform(b, x -> x * x), 0.0D, (acc, x) -> acc + x)))
  * }}}
  *
  * into fused native kernels: the dot and sum-of-squares aggregates become
  * the codegen'd [[ArrayDot]] / [[ArrayNormSq]] (the HOF tree evaluates
  * INTERPRETED — per-element lambda dispatch outside whole-stage codegen),
  * while the `/`, `*` and `sqrt` NODES OF THE ORIGINAL TREE ARE KEPT —
  * `withNewChildren` on the matched operators, so their evalMode rides
  * along. That last point is what makes the rewrite exactly semantics-
  * preserving: a zero-norm vector makes the HOF form raise DIVIDE_BY_ZERO
  * under ANSI (the Spark 4 default) or return null under legacy, and only
  * Spark's own `Divide` reproduces that — the fully fused
  * [[graft.engine.expressions.CosineSimilarity]] returns NULL in both
  * modes, never ANSI's DIVIDE_BY_ZERO.
  * [[ArrayDot]] itself matches zip_with's null-padding on mismatched
  * lengths (→ null), so no extra guard is needed.
  *
  * Matches structurally on the ANALYZED shapes the DataFrame/SQL HOF
  * builders produce (lambda-variable identity by exprId, zero literal,
  * identity finish lambda); `a`/`b` may appear in either order in the
  * denominator (`semanticEquals`). Anything else — different merge lambda, a
  * non-zero seed, a dot without norms — is left untouched.
  *
  * Inject via `spark.sql.extensions=graft.GraftExtensions` or at runtime
  * with [[graft.GraftExtensions.registerOn]].
  */
object RewriteHofCosine extends Rule[LogicalPlan] {

  private def sameVar(a: Expression, b: NamedLambdaVariable): Boolean =
    a match {
      case v: NamedLambdaVariable => v.exprId == b.exprId
      case _ => false
    }

  /** (acc, x) -> acc + x, either operand order. */
  private def isSumMerge(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(Add(l, r, _),
        Seq(acc: NamedLambdaVariable, x: NamedLambdaVariable), _) =>
      (sameVar(l, acc) && sameVar(r, x)) || (sameVar(l, x) && sameVar(r, acc))
    case _ => false
  }

  /** acc -> acc (the default finish the DSL/SQL builders attach). */
  private def isIdentityFinish(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(v: NamedLambdaVariable,
        Seq(acc: NamedLambdaVariable), _) => v.exprId == acc.exprId
    case _ => false
  }

  private def isZero(e: Expression): Boolean = e match {
    case Literal(d: Double, DoubleType) => d == 0.0
    case _ => false
  }

  /** aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, sum) → (a, b). */
  private object DotAgg {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(Multiply(mx, my, _),
            Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          zero, merge: LambdaFunction, finish: LambdaFunction)
          if isZero(zero) && isSumMerge(merge) && isIdentityFinish(finish) &&
            ((sameVar(mx, x) && sameVar(my, y)) ||
              (sameVar(mx, y) && sameVar(my, x))) =>
        Some((a, b))
      case _ => None
    }
  }

  /** aggregate(transform(a, x -> x * x), 0.0, sum) → a (the Sqrt above it
    * is matched — and kept — by the caller). */
  private object NormSqrt {
    def unapply(e: Expression): Option[Expression] = e match {
      case ArrayAggregate(
          ArrayTransform(a, LambdaFunction(Multiply(mx, my, _),
            Seq(x: NamedLambdaVariable), _)),
          zero, merge: LambdaFunction, finish: LambdaFunction)
          if isZero(zero) && isSumMerge(merge) && isIdentityFinish(finish) &&
            sameVar(mx, x) && sameVar(my, x) =>
        Some(a)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case div @ Divide(DotAgg(a, b),
          mul @ Multiply(sqA @ Sqrt(NormSqrt(a2)), sqB @ Sqrt(NormSqrt(b2)), _), _)
          if (a.semanticEquals(a2) && b.semanticEquals(b2)) ||
            (a.semanticEquals(b2) && b.semanticEquals(a2)) =>
        // keep the original Divide/Multiply/Sqrt nodes (evalMode and all);
        // only the interpreted aggregates are replaced by fused kernels
        div.withNewChildren(Seq(
          ArrayDot(a, b),
          mul.withNewChildren(Seq(
            sqA.withNewChildren(Seq(ArrayNormSq(a2))),
            sqB.withNewChildren(Seq(ArrayNormSq(b2)))))))
    }
}
