package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.types.DataType

/** A per-commit constant (a batch id, a batch timestamp) as a codegen
  * PARAMETER: generated code reads the value from the plan's reference
  * array instead of spelling it as a Java literal, so the source text —
  * the key of Spark's compiled-class cache — is the same for every
  * value, and the next commit's stage reuses the class the last one
  * compiled. `Literal` writes `1792451527935000L` into the source, so
  * every commit would compile anew, on the driver and again on the
  * executor.
  *
  * The child must evaluate without input: a literal, or a
  * `current_timestamp()` that the optimizer (batch) or the streaming
  * engine (the micro-batch's timestamp) replaces with one before
  * codegen. The wrapper is not foldable, so constant folding never
  * turns it back into a literal; it is still deterministic when its
  * child is. It generates code itself (no `CodegenFallback`), so the
  * stage around it stays in whole-stage codegen.
  */
case class Param(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = child.eval(null) match {
    case null => ExprCode.forNullValue(dataType)
    case v =>
      val ref = ctx.addReferenceObj("param", v,
        CodeGenerator.boxedType(dataType))
      val term = ctx.addMutableState(CodeGenerator.javaType(dataType),
        "param", t => s"$t = $ref;")
      ExprCode.forNonNullValue(JavaCode.global(term, dataType))
  }

  override protected def withNewChildInternal(c: Expression): Param =
    copy(child = c)
}

object Param {
  /** `value` (an input-free column) as a codegen parameter. */
  def of(value: Column): Column =
    PlanShim.column(Param(PlanShim.expression(value)))

  def of(value: Long): Column = of(lit(value))
}
