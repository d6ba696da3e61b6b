package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A value fixed for one run that generated code reads from the plan's
  * reference array instead of inlining it — the hoisting primitive of
  * ROADMAP item 9. A `Literal` (and `current_timestamp()`, which the
  * optimizer folds into one) is spliced into the generated Java source,
  * so every run with a new value compiles new classes for an otherwise
  * identical plan; through `ctx.addReferenceObj` the source stays the
  * same and the codegen cache serves every later run.
  *
  * Not foldable, so constant folding cannot turn it back into a
  * `Literal`; deterministic, since one instance always yields its one
  * value. Never null.
  */
object RunConstant {
  /** The current instant as a non-null TIMESTAMP: one value per call,
    * the same in every row that reads it. */
  def now(): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      RunConstant(DateTimeUtils.instantToMicros(java.time.Instant.now()), TimestampType))
}

case class RunConstant(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "RunConstant is never null")
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("runConstant", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }
}
