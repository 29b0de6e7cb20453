package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.types.DataType

/** A value fixed for one plan but not for the query: the generated code
  * reads it from the compiled class's references, so two plans that
  * differ only in `value` generate the same Java source and share one
  * compiled class. `value` is the internal form of a primitive-backed
  * `dataType` (µs for timestamps, days for dates). `foldable` stays
  * false: a foldable leaf would be turned back into a literal by
  * `ConstantFolding`, and a literal is inlined into the source.
  */
case class BatchConstant(value: Any, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConstant", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }
}

/** Streaming plans stamp `current_timestamp()`, `current_date()` and
  * `localtimestamp()` with the micro-batch's timestamp: Spark rewrites
  * them to `CurrentBatchTimestamp`, and after the optimizer the
  * streaming execution turns that into a literal, which codegen inlines.
  * Every trigger's plan then has new Java source, misses the codegen
  * cache and compiles its classes again while the trigger waits. This
  * rule runs inside the optimizer, before that step, and carries the
  * same value in a [[BatchConstant]] instead, so each trigger reuses the
  * first trigger's classes. Batch plans never hold a
  * `CurrentBatchTimestamp` (`ComputeCurrentTime` makes their literal
  * earlier) and the pattern check skips them.
  */
object BatchTimestampByReference extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CURRENT_LIKE)) {
      case t: CurrentBatchTimestamp =>
        val lit = t.toLiteral
        BatchConstant(lit.value, lit.dataType)
    }
}
