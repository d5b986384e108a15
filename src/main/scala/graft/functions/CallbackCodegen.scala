package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}

/** Generated code for a kernel whose work is its Scala `nullSafeEval`:
  * the expression rides the generated class as a reference object, and
  * the generated body is one virtual call back into `nullSafeEval`,
  * cast or unboxed to the kernel's `dataType`. The hosting operator
  * stays inside whole-stage codegen, which a `CodegenFallback`
  * expression would evict. Kernels whose loop is itself generated Java
  * (`CosineSim`, `QuantizeLong`, `MinHashSignature`, ...) write their own
  * `doGenCode`.
  */
object CallbackCodegen {

  /** `ev.value = <nullSafeEval(args) as e.dataType>;` */
  def call(ctx: CodegenContext, ev: ExprCode, e: Expression, args: String*): String = {
    val ref = ctx.addReferenceObj(e.nodeName, e, e.getClass.getName)
    val result = s"$ref.nullSafeEval(${args.mkString(", ")})"
    s"${ev.value} = ${as(e.dataType, result)};"
  }

  private def as(dt: DataType, value: String): String = dt match {
    case _: ArrayType => s"(org.apache.spark.sql.catalyst.util.ArrayData) $value"
    case _: StructType => s"(org.apache.spark.sql.catalyst.InternalRow) $value"
    case StringType => s"(org.apache.spark.unsafe.types.UTF8String) $value"
    case _ if CodeGenerator.isPrimitiveType(dt) =>
      s"((${CodeGenerator.boxedType(dt)}) $value).${CodeGenerator.javaType(dt)}Value()"
    case _ => s"(${CodeGenerator.boxedType(dt)}) $value"
  }
}

/** A one-input kernel whose generated code is [[CallbackCodegen.call]]. */
trait UnaryCallback extends UnaryExpression {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => CallbackCodegen.call(ctx, ev, this, v))
}

/** A two-input kernel whose generated code is [[CallbackCodegen.call]]. */
trait BinaryCallback extends BinaryExpression {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => CallbackCodegen.call(ctx, ev, this, a, b))
}
