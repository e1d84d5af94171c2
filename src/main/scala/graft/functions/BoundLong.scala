package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** A long literal whose generated Java source does not carry its value.
  *
  * Spark's `Literal.doGenCode` writes a long into the source text
  * (`1709251200000000000L`), and the compiled-class cache is keyed by that
  * text: a serving request that differs from the last one only in its range
  * bounds or its route grain compiles every one of its classes again. Here
  * the value rides the generated class's `references` array and is loaded
  * into a field once per instance, so every value of one query shape shares
  * one compiled class.
  *
  * Everything else is `Literal`'s: `Literal(v, LongType)` still matches it,
  * so parquet filter pushdown, `__day` partition pruning and the table
  * cache's batch-statistics pruning see a plain literal, and `eval`, `sql`
  * and `toString` (the plan text) are unchanged. The two-argument
  * constructor is the one Catalyst's `makeCopy` finds, so a copied tree
  * keeps the class.
  */
final class BoundLong(v: Any, t: DataType) extends Literal(v, t) {
  require(t == LongType && v != null, s"BoundLong holds a non-null long, got $v: $t")

  def this(v: Long) = this(v, LongType)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLong", value, "java.lang.Long")
    val field = ctx.addMutableState(CodeGenerator.JAVA_LONG, "boundLong",
      f => s"$f = $ref.longValue();")
    ExprCode.forNonNullValue(JavaCode.global(field, LongType))
  }
}

object BoundLong {
  /** `v` as a column whose generated code is the same for every value. */
  def lit(v: Long): Column =
    org.apache.spark.sql.GraftSqlBridge.column(new BoundLong(v))
}
