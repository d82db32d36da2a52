package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types._

/** Codegen for the heavy per-row kernels that used CodegenFallback
  * (centroid scoring, PQ encode/ADC, shingle hashing).
  *
  * CodegenFallback keeps whole-stage codegen alive but forces the
  * generated code to MATERIALIZE the operator's full input row
  * (`ctx.INPUT_ROW`) per evaluation and then re-run the interpreted
  * expression tree over it — per-row boxing that exists only to feed
  * the fallback. These mixins instead evaluate the child normally in
  * generated code and call the expression object's own kernel directly
  * with the already-computed value: no input-row materialization, no
  * interpreted dispatch of the child, and the kernel body remains the
  * exact same JVM code the interpreted path runs (bit-identical
  * results by construction — the r17 A/B quantifying the fallback
  * overhead is in OPTIMIZATION_r17.md).
  *
  * Contract: the mixing expression's nullSafeEval NEVER returns null
  * for non-null input (all of these return primitives or freshly
  * allocated arrays), so null handling stays entirely with
  * nullSafeCodeGen's child-null check. `kernelEval` checks it: a null
  * result fails naming the expression class instead of as an NPE in
  * the generated unbox. Box/unbox is explicit (valueOf / xxxValue)
  * rather than relying on janino autoboxing.
  */
private[functions] object KernelCodegen {
  /** Explicitly box a generated java value of Catalyst type `t`. */
  def box(c: String, t: DataType): String = t match {
    case BooleanType => s"java.lang.Boolean.valueOf($c)"
    case ByteType => s"java.lang.Byte.valueOf($c)"
    case ShortType => s"java.lang.Short.valueOf($c)"
    case IntegerType => s"java.lang.Integer.valueOf($c)"
    case LongType => s"java.lang.Long.valueOf($c)"
    case FloatType => s"java.lang.Float.valueOf($c)"
    case DoubleType => s"java.lang.Double.valueOf($c)"
    case _ => c // object-typed in codegen already (UTF8String, ArrayData, ...)
  }

  /** The kernel result, or a named failure when it breaks the
    * never-null contract. */
  def nonNull(result: Any, expr: AnyRef): Any = {
    if (result == null) throw new IllegalStateException(
      s"${expr.getClass.getName}.nullSafeEval returned null for non-null " +
        "input: kernel results must never be null")
    result
  }

  /** Cast + explicitly unbox a kernel result to Catalyst type `t`. */
  def unbox(call: String, t: DataType): String = t match {
    case BooleanType => s"((java.lang.Boolean) $call).booleanValue()"
    case ByteType => s"((java.lang.Byte) $call).byteValue()"
    case ShortType => s"((java.lang.Short) $call).shortValue()"
    case IntegerType => s"((java.lang.Integer) $call).intValue()"
    case LongType => s"((java.lang.Long) $call).longValue()"
    case FloatType => s"((java.lang.Float) $call).floatValue()"
    case DoubleType => s"((java.lang.Double) $call).doubleValue()"
    case _ => s"(${CodeGenerator.boxedType(t)}) $call"
  }
}

private[functions] trait KernelUnaryCodegen extends UnaryExpression {
  /** Public kernel entry for generated code. */
  def kernelEval(v: Any): Any = KernelCodegen.nonNull(nullSafeEval(v), this)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = " +
      KernelCodegen.unbox(
        s"$ref.kernelEval(${KernelCodegen.box(c, child.dataType)})",
        dataType) + ";")
  }
}

private[functions] trait KernelBinaryCodegen extends BinaryExpression {
  /** Public kernel entry for generated code. */
  def kernelEval(l: Any, r: Any): Any =
    KernelCodegen.nonNull(nullSafeEval(l, r), this)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = " +
      KernelCodegen.unbox(
        s"$ref.kernelEval(${KernelCodegen.box(l, left.dataType)}, " +
          s"${KernelCodegen.box(r, right.dataType)})",
        dataType) + ";")
  }
}
