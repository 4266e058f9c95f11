package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `java.lang.String.hashCode` of a string column as a native Catalyst
  * expression with codegen — the salt function needs EXACT Java-hashCode
  * parity with the reference's rowkeys (ModulusSalt.java:61-65), which
  * Spark's built-in `hash` (Murmur3) can't provide, and a Scala UDF would
  * break the WholeStageCodegen span right at the hot salted-write path.
  *
  * This is the preference-order case (b) from the build plan: a scalar
  * semantic Spark genuinely lacks, expressed as an `Expression` with
  * `doGenCode` instead of a UDF. The UTF-16 hash is computed by iterating
  * the decoded string; both eval paths share `String.hashCode` itself.
  * Callers take it as a Column through [[JavaHashExpr.of]].
  */
case class JavaHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    input.asInstanceOf[UTF8String].toString.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c.toString().hashCode();")

  override protected def withNewChildInternal(newChild: Expression): JavaHashExpr =
    copy(child = newChild)
}

object JavaHashExpr {
  def of(key: Column): Column = ExprColumn(JavaHashExpr(ExprColumn.expr(key)))
}
