package graft.exec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Float-faithful scoring as native Catalyst expressions.
  *
  * Spark coerces `Divide` operands to DoubleType, so the reference's FLOAT
  * intermediates (SURVEY §2.4 — `QryopSlScore.java:142-157,200-210,243`)
  * cannot be reproduced with Column arithmetic. These expressions evaluate
  * (and codegen) the exact Java float expressions the reference executes,
  * widening to double only at the end — bit-identical scores, fully inside
  * whole-stage codegen (no UDF boxing on the hot path).
  *
  * Model parameters and per-term statistics (rsj, avgDocLen, mle) are
  * query-time scalars. They reach the generated code as fields set from
  * the expression's reference objects, never as Java literals: the code
  * of two queries that differ only in their statistics is then the same
  * string, so Spark's codegen cache serves the second one instead of
  * compiling (and evicting) a new class per query.
  */
private object FloatParam {
  def apply(ctx: CodegenContext, name: String, v: Float): String = {
    val ref = ctx.addReferenceObj(name, java.lang.Float.valueOf(v),
      "java.lang.Float")
    ctx.addMutableState("float", name, f => s"$f = $ref.floatValue();")
  }
}

/** BM25 per-posting score (`QryopSlScore.java:146-157`):
  * `(double)(rsj * (tf / (tf + k1 * (1 - b + b * docLen / avgDocLen))))`
  * with every intermediate a Java float. */
case class Bm25TermScore(left: Expression, right: Expression,
    rsj: Float, k1: Float, b: Float, avgDocLen: Float)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(tfA: Any, lenA: Any): Any = {
    val tf = tfA.asInstanceOf[Int]
    val docLen = lenA.asInstanceOf[Long]
    val tfWeight: Float = tf / (tf + k1 * (1 - b + b * docLen / avgDocLen))
    (rsj * tfWeight).toDouble
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (r, k, bb, avg) = (FloatParam(ctx, "rsj", rsj), FloatParam(ctx, "k1", k1),
      FloatParam(ctx, "b", b), FloatParam(ctx, "avgDocLen", avgDocLen))
    defineCodeGen(ctx, ev, (tf, len) =>
      s"(double)($r * ((float)$tf / ((float)$tf + $k * ((1.0f - $bb) + " +
      s"($bb * (float)$len) / $avg))))")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Indri Dirichlet-smoothed QL per-posting score
  * (`QryopSlScore.java:200-210`):
  * `(double)(lambda*(tf + mu*mle)/(docLen + mu) + (1-lambda)*mle)`,
  * all-float. */
case class IndriTermScore(left: Expression, right: Expression,
    mu: Float, lambda: Float, mle: Float) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(tfA: Any, lenA: Any): Any = {
    val tf = tfA.asInstanceOf[Int]
    val docLen = lenA.asInstanceOf[Long]
    val s: Float = lambda * (tf + mu * mle) / (docLen + mu) +
      (1 - lambda) * mle
    s.toDouble
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (m, l, p) = (FloatParam(ctx, "mu", mu), FloatParam(ctx, "lambda", lambda),
      FloatParam(ctx, "mle", mle))
    defineCodeGen(ctx, ev, (tf, len) =>
      s"(double)(($l * ((float)$tf + $m * $p)) / ((float)$len + $m) + " +
      s"(1.0f - $l) * $p)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Indri default (non-matching doc) score (`QryopSlScore.java:233-247`,
  * factored form at :243):
  * `(double)((lambda*mu/(docLen + mu) + (1-lambda)) * mle)`, all-float. */
case class IndriDefaultScore(child: Expression,
    mu: Float, lambda: Float, mle: Float) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(lenA: Any): Any = {
    val docLen = lenA.asInstanceOf[Long]
    (((lambda * mu / (docLen + mu)) + (1 - lambda)) * mle).toDouble
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (m, l, p) = (FloatParam(ctx, "mu", mu), FloatParam(ctx, "lambda", lambda),
      FloatParam(ctx, "mle", mle))
    defineCodeGen(ctx, ev, len =>
      s"(double)((($l * $m) / ((float)$len + $m) + (1.0f - $l)) * $p)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `StrictMath.pow` as an expression. `java.lang.Math.pow` is an
  * `@IntrinsicCandidate`: a cold (interpreted) call runs the fdlibm
  * StrictMath fallback while a JIT-compiled call runs the HotSpot
  * intrinsic, and the two can differ by 1 ulp — non-deterministic scores
  * across runs. The engine and the in-repo oracle therefore both use
  * StrictMath.pow (deterministic on every JVM). */
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

/** Java float division `(float)a / (float)b` — Spark's `Divide` coerces
  * fractional operands to double, so the reference's float quotients
  * (e.g. pMLE = `(float) ctf / collectionLength`,
  * `QryEval/src/QryExpansion.java` / `QryopSlScore.java:200`) need a
  * dedicated expression. Operands are longs; result FloatType. */
case class FloatDivide(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.FloatType
  override def nullSafeEval(a: Any, b: Any): Any =
    a.asInstanceOf[Long].toFloat / b.asInstanceOf[Long]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"(float)$a / (float)$b")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `StrictMath.log` — same determinism rationale as [[StrictPow]]. */
case class StrictLog(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    StrictMath.log(a.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"java.lang.StrictMath.log($a)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ScoreExpressions {
  private def e(c: Column) = ColumnBridge.expression(c)
  def bm25(tf: Column, len: Column, rsj: Float, k1: Float, b: Float,
           avgDocLen: Float): Column =
    ColumnBridge.column(Bm25TermScore(e(tf), e(len), rsj, k1, b, avgDocLen))
  def indri(tf: Column, len: Column, mu: Float, lambda: Float,
            mle: Float): Column =
    ColumnBridge.column(IndriTermScore(e(tf), e(len), mu, lambda, mle))
  def indriDefault(len: Column, mu: Float, lambda: Float,
                   mle: Float): Column =
    ColumnBridge.column(IndriDefaultScore(e(len), mu, lambda, mle))
  def strictPow(base: Column, exp: Column): Column =
    ColumnBridge.column(StrictPow(e(base), e(exp)))
  def floatDiv(a: Column, b: Column): Column =
    ColumnBridge.column(FloatDivide(e(a), e(b)))
  def strictLog(a: Column): Column =
    ColumnBridge.column(StrictLog(e(a)))
}
