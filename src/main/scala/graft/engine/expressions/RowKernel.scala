package graft.engine.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

/** The one eval-and-codegen protocol of the native row kernels. A kernel
  * writes its loop once, as `compute` over its inputs' Catalyst values
  * (`ArrayData`, `UTF8String`, `Long`, …); [[UnaryKernel]] and
  * [[BinaryKernel]] turn that one method into both the interpreted
  * `nullSafeEval` and the generated code, so the two paths cannot
  * disagree. The generated code is one `compute` call through a reference
  * to the kernel object, O(1) in the kernel's loop, typed by `dataType`
  * (`double`, `ArrayData`, …) so nothing is boxed.
  *
  * A null result is `null` where the result type can hold it; a primitive
  * result (`Double`, `Boolean`, `Long`) throws [[NullResult]] instead. The
  * generated code sets the null flag only for a `nullable` kernel: Spark's
  * `nullSafeCodeGen` declares no writable `ev.isNull` for any other, and
  * writing one fails Janino — the query then falls back to the
  * interpreter. Input nulls never reach `compute`.
  */
private[expressions] object RowKernel {

  def call(kernel: Expression, ctx: CodegenContext, ev: ExprCode,
           args: String*): String = {
    val ref = ctx.addReferenceObj(kernel.prettyName, kernel,
      kernel.getClass.getName)
    val assign = s"${ev.value} = $ref.compute(${args.mkString(", ")});"
    if (!kernel.nullable) assign
    else if (CodeGenerator.isPrimitiveType(kernel.dataType)) {
      val e = ctx.freshName("nullResult")
      s"""try { $assign }
         |catch (${classOf[NullResult].getName} $e) { ${ev.isNull} = true; }""".stripMargin
    } else
      s"""$assign
         |if (${ev.value} == null) ${ev.isNull} = true;""".stripMargin
  }
}

/** Thrown by a `compute` with a primitive result type to return NULL.
  * Stackless and preallocated (the one instance is the companion), so the
  * null path is a jump and the value path pays nothing. */
sealed class NullResult private () extends RuntimeException(null, null, false, false)

object NullResult extends NullResult

/** A one-input row kernel: everything but `compute` comes from
  * [[RowKernel]]. */
trait UnaryKernel[A, R] extends UnaryExpression {

  def compute(a: A): R

  override protected final def nullSafeEval(a: Any): Any =
    try compute(a.asInstanceOf[A]) catch { case NullResult => null }

  override protected final def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => RowKernel.call(this, ctx, ev, a))
}

/** A two-input row kernel: everything but `compute` comes from
  * [[RowKernel]]. */
trait BinaryKernel[A, B, R] extends BinaryExpression {

  def compute(a: A, b: B): R

  override protected final def nullSafeEval(a: Any, b: Any): Any =
    try compute(a.asInstanceOf[A], b.asInstanceOf[B])
    catch { case NullResult => null }

  override protected final def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => RowKernel.call(this, ctx, ev, a, b))
}
