package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Catalyst `Round(_, 0)` on a double, without BigDecimal — the cents
  * rounding behind [[graft.operators.Det]] and every `round(x * 10^k, 0)`.
  * Spark evaluates that Round as `BigDecimal.valueOf(x).setScale(0,
  * HALF_UP).doubleValue()`, one decimal-string conversion and object
  * allocation per value; this is the same function in primitive double
  * arithmetic. [[graft.plans.RoundRewrite]] puts it in place of every
  * double `Round(_, 0)` of a plan.
  */
case class Round0Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round0"

  override def nullSafeEval(x: Any): Any = Round0Expr.round0(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.Round0Expr$$.MODULE$$.round0($x)")

  override protected def withNewChildInternal(newChild: Expression): Round0Expr =
    copy(child = newChild)
}

object Round0Expr {
  private val TwoP52 = 4503599627370496d // 2^52: every double at or past it is an integer

  /** Round half away from zero to an integer, bit-equal to Catalyst's
    * `Round(x, 0)` on DoubleType. NaN and ±Infinity pass through, as in
    * Round. A zero result is +0.0, as BigDecimal (which has no −0) gives.
    *
    * Exact: below 2^52, `a − ⌊a⌋` is exact and every tie point k + 0.5 is
    * a double, so comparing the fraction with 0.5 rounds the binary value.
    * The shortest decimal that `BigDecimal.valueOf` rounds instead lies in
    * x's own rounding interval, which holds no other double, so it falls
    * on the same side of every tie point (or on it exactly when x does).
    * NOT `floor(x + 0.5)`: at 0.49999999999999994 the sum rounds up to 1.
    */
  def round0(x: Double): Double = {
    val a = Math.abs(x)
    if (!(a < TwoP52)) x
    else {
      val f = Math.floor(a)
      val r = if (a - f >= 0.5) f + 1d else f
      if (x < 0d && r != 0d) -r else r
    }
  }
}
