package graft.exec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `StrictMath.pow` as an expression. `java.lang.Math.pow` is an
  * `@IntrinsicCandidate`: a cold (interpreted) call runs the fdlibm
  * StrictMath fallback while a JIT-compiled call runs the HotSpot
  * intrinsic, and the two can differ by 1 ulp — non-deterministic scores
  * across runs. LeToR's feature expressions, the engine's scorer and the
  * in-repo oracle therefore all use StrictMath.pow (deterministic on every
  * JVM). */
case class StrictPow(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    StrictMath.pow(a.asInstanceOf[Double], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.StrictMath.pow($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ScoreExpressions {
  def strictPow(base: Column, exp: Column): Column =
    ColumnBridge.column(StrictPow(ColumnBridge.expression(base),
      ColumnBridge.expression(exp)))
}
