package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{DataType, TimestampType}

/** `current_timestamp()` whose value stays out of the generated source:
  * one timestamp per query (or per streaming micro-batch), as before, but
  * the same Java text on every run.
  *
  * The optimizer pins `current_timestamp()` to a timestamp literal
  * (`ComputeCurrentTime`; a micro-batch pins its batch time), and codegen
  * writes long literals straight into the source. Spark caches compiled
  * classes by source text, so a projection carrying the literal compiles
  * a new class on every run. This wrapper is not foldable, so the literal
  * stays its child, and `doGenCode` passes the value in through the
  * generated class's `references` array: the text, and so the cached
  * class, is reused. The silver projection's `ingested_at` uses it;
  * `CodegenReuseSpec` checks that a re-run and a streaming micro-batch
  * compile no new projection.
  */
case class QueryTimestampExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TimestampType
  // the point of the wrapper: constant folding must not turn it back into
  // the literal it wraps
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = child match {
    case Literal(micros: java.lang.Long, _) =>
      val ref = ctx.addReferenceObj("queryTimestamp", micros, "java.lang.Long")
      ev.copy(code = EmptyBlock,
        isNull = FalseLiteral,
        value = JavaCode.expression(s"$ref.longValue()", dataType))
    case _ =>
      // a child the optimizer did not pin to a literal: its own code
      val c = child.genCode(ctx)
      ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object QueryTimestampExpression {
  /** Column form — resolves through the function registry, so the session
    * must carry [[GraftExtensions]] (or have called
    * [[GraftExtensions.register]]). */
  def queryTimestamp(): Column =
    org.apache.spark.sql.functions.call_function("query_timestamp")

  def apply(): QueryTimestampExpression =
    QueryTimestampExpression(CurrentTimestamp())
}
