package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.DataType

/** Pass-through marker that keeps the operator holding it out of
  * whole-stage codegen. `CollapseCodegenStages` never fuses an operator
  * whose expressions contain a non-leaf `CodegenFallback`, so that
  * operator compiles its expressions as a standalone projection, which
  * `GenerateUnsafeProjection` splits into methods small enough for the
  * JIT. The marker's own code is its child's: nothing is interpreted.
  *
  * Used on the nested fields of the `ExtractedTurn` serializer, whose
  * fused form is one generated method past HotSpot's 8,000-byte
  * `HugeMethodLimit` (see [[graft.pipeline.Extract.encoder]]).
  */
case class NoStageFusion(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): NoStageFusion =
    copy(child = newChild)
}
