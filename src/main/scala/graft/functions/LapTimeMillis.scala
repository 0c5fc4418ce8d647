package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd millis → "MM:SS.mmm" formatter — the custom-Expression
  * variant of graft.ops.Expressions.formatLapTime (reference semantics:
  * dags/qualifyingdag.py:49-51 `format_laptime`). The composed built-in
  * version is already codegen-friendly; this exists as the engine's
  * demonstration of a native Catalyst scalar extension (SURVEY.md §4.3):
  * one static Java call instead of a concat/lpad expression tree,
  * null-safe via UnaryExpression's default null handling; built as a
  * Column by [[graft.functions.lapTime]], named `lap_time_millis` in
  * SQL by [[Catalog]].
  */
case class LapTimeMillis(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lap_time_millis expects BIGINT, got ${child.dataType.sql}")
  override def dataType: DataType = StringType

  /** Interpreted path. */
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(LapTimeMillis.format(v.asInstanceOf[Long]))

  /** Codegen path: a single static helper call, inlined by Janino. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.LapTimeMillis.format($c))")

  override protected def withNewChildInternal(newChild: Expression): LapTimeMillis =
    copy(child = newChild)

  override def prettyName: String = "lap_time_millis"
}

object LapTimeMillis {
  /** Shared by interpreted and generated code. */
  def format(ms: Long): String = {
    val mins = ms / 60000L
    val secs = (ms % 60000L) / 1000L
    val millis = ms % 1000L
    f"$mins%02d:$secs%02d.$millis%03d"
  }
}
