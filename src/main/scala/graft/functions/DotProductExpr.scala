package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Dot product of two `array<float>` columns as a native Catalyst
  * expression with codegen — the hot kernel of every similarity/ANN scan
  * (cosine pairs, top-k probes, codebook assignment). A Scala UDF computes
  * the same loop but pays per-row `Seq[Float]` materialization (catalyst
  * converters box every element) and breaks the WholeStageCodegen span; the
  * generated code here reads the unsafe array data in place.
  *
  * Accumulation is ascending-index `double` addition — bit-identical to the
  * UDF kernels it replaces and to the oracle's `list_reduce` left fold.
  * Null if either side is null, the lengths differ, or any element is null
  * (the same semantics as the UDF kernels: a malformed pair yields null,
  * never an exception).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> columns, " +
          s"got ${left.dataType} and ${right.dataType}")
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null) return null
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) return null
    var d = 0.0
    var i = 0
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      d += la.getFloat(i).toDouble * ra.getFloat(i).toDouble
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val anyNull = ctx.freshName("anyNull")
    ev.copy(code =
      code"""
        ${lg.code}
        ${rg.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${lg.isNull} && !${rg.isNull}) {
          int $n = ${lg.value}.numElements();
          if ($n == ${rg.value}.numElements()) {
            boolean $anyNull = false;
            double $acc = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              if (${lg.value}.isNullAt($i) || ${rg.value}.isNullAt($i)) {
                $anyNull = true; break;
              }
              $acc += (double) ${lg.value}.getFloat($i)
                * (double) ${rg.value}.getFloat($i);
            }
            if (!$anyNull) { ${ev.isNull} = false; ${ev.value} = $acc; }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  def of(a: Column, b: Column): Column =
    ExprColumn(DotProductExpr(ExprColumn.expr(a), ExprColumn.expr(b)))
}
