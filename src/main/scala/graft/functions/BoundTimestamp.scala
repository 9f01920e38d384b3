package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A timestamp fixed per query but absent from its generated code.
  *
  * Spark writes a TimestampType `Literal` into the generated Java as a
  * `…L` constant, so a plan rebuilt with a new timestamp each micro-batch
  * (an SCD2 batch boundary, an error-write stamp) is new source text, and
  * the codegen cache — keyed on the text — misses and compiles the
  * stage's classes again. This expression reads `micros` from the
  * stage's `references` array instead: the text depends only on the plan
  * shape, so the second batch of a shape reuses the first batch's
  * classes.
  *
  * Not foldable, so the optimizer keeps it as it is rather than turning
  * it back into a literal; deterministic, so it evaluates to the same
  * value on every row, task and retry. */
case class BoundTimestamp(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "bound_timestamp"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundTs", java.lang.Long.valueOf(micros), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object BoundTimestamp {
  /** The same microseconds `lit(ts)` would carry. */
  def apply(ts: java.sql.Timestamp): Column =
    ColumnBridge.column(BoundTimestamp(DateTimeUtils.fromJavaTimestamp(ts)))

  def apply(ts: java.time.Instant): Column =
    ColumnBridge.column(BoundTimestamp(DateTimeUtils.instantToMicros(ts)))
}
