package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock,
  ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.types.DataType

/** A value fixed for one micro-batch but different in the next, such as the
  * batch timestamp. It evaluates like a literal, but its generated code
  * reads the value from the class's reference array instead of spelling it
  * in the Java source, so every batch of a stream generates the same source
  * and compiles it once. Nondeterministic, like the `CurrentBatchTimestamp`
  * it replaces: not foldable, and no deterministic-only rewrite moves it,
  * so a filter on it stays above a stateful aggregate or a stream-stream
  * join and is applied again in every batch.
  */
case class BatchConstant(value: Any, dataType: DataType) extends LeafExpression
    with Nondeterministic {
  override def nullable: Boolean = false
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = value
  override def prettyName: String = "batch_constant"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConstant", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "batchConstant",
      v => s"$v = $ref;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Optimizer rule: `MicroBatchExecution` turns `current_timestamp`, `now`,
  * `current_date` and `localtimestamp` into a `CurrentBatchTimestamp`, and
  * `IncrementalExecution` would inline it as a literal after optimization,
  * so each batch's sink stage had new Java source and compiled again, on
  * the driver and in a task. This rule runs first and makes each one a
  * [[BatchConstant]] of the same value. Only micro-batch plans contain
  * `CurrentBatchTimestamp`; batch queries keep their literals.
  */
object BatchTimestampAsConstant extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CURRENT_LIKE)) {
      case ts: CurrentBatchTimestamp => BatchConstant(ts.toLiteral.value, ts.dataType)
    }
}
