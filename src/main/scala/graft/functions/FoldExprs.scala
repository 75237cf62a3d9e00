package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd folds over `array<float>` columns — the promotion the
  * r3 verdict asked for: `q_embed_quantize` / `q_scalar_array` ran ~64
  * INTERPRETED lambda evaluations per row through the HOF
  * `aggregate(transform(...))` formulation; these compile to primitive
  * loops inside whole-stage codegen, the same 10× win [[DotExpr]] measured.
  *
  * Bit-parity doctrine (same as DotExpr): identical fold order (ascending
  * index, double precision) and identical rounding ([[Round0Expr.round0]],
  * bit-equal to Catalyst's `Round(_, 0)` on DoubleType),
  * asserted element-for-element against the HOF formulations in
  * FunctionsSpec and by the unchanged DuckDB oracle rows.
  *
  * Null scope: a NULL array yields NULL (standard null-intercept), and any
  * NULL *element* yields NULL. The fixtures and parity tests cover
  * non-null elements; the HOF's mixed semantics for null elements
  * (array_max skips nulls, the sum fold poisons) are intentionally not
  * reproduced — documented per the SignProjectExpr parity-scope precedent.
  *
  * Non-finite scope: likewise out of parity. The scale loop's `>` skips
  * NaN where HOF `array_max` ranks NaN highest; what IS guaranteed is no
  * crash — `round0` passes NaN/Infinity through exactly like Catalyst's
  * `Round` on DoubleType (asserted in FunctionsSpec).
  */
case class SumSqExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sumsq"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $v = (double) $a.getFloat($i);
         |  ${ev.value} += $v * $v;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SumSqExpr =
    copy(child = newChild)
}

/** One-pass int8 symmetric-quantization audit of an `array<float>`
  * embedding: scale = max|x|/127, then per element the reconstruction
  * error |x − round(x/scale)·scale|, summed in exact integer micro-units
  * and maxed in double. Returns
  * `struct<scale_raw: double, err_sum_micro: bigint, err_max_raw: double>`
  * — one loop where the HOF formulation walked the array four times
  * through interpreted lambdas.
  */
case class QuantErrExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("scale_raw", DoubleType, nullable = false),
    StructField("err_sum_micro", LongType, nullable = false),
    StructField("err_max_raw", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_quant_err"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val scale = maxAbs / 127d
    if (scale == 0d) InternalRow(0d, 0L, 0d)
    else {
      var sumMicro = 0L
      var errMax = 0.0
      i = 0
      while (i < n) {
        val v = x.getFloat(i).toDouble
        val err = math.abs(v - Round0Expr.round0(v / scale) * scale)
        sumMicro += Round0Expr.round0(err * 1000000d).toLong
        if (err > errMax) errMax = err
        i += 1
      }
      InternalRow(scale, sumMicro, errMax)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val maxAbs = ctx.freshName("maxAbs")
      val scale = ctx.freshName("scale")
      val sum = ctx.freshName("sumMicro")
      val emax = ctx.freshName("errMax")
      val err = ctx.freshName("err")
      val mod = "graft.functions.Round0Expr$.MODULE$"
      s"""
         |double $maxAbs = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $v = Math.abs((double) $a.getFloat($i));
         |  if ($v > $maxAbs) $maxAbs = $v;
         |}
         |if (!${ev.isNull}) {
         |  double $scale = $maxAbs / 127d;
         |  long $sum = 0L;
         |  double $emax = 0.0;
         |  if ($scale != 0d) {
         |    for (int $i = 0; $i < $a.numElements(); $i++) {
         |      double $v = (double) $a.getFloat($i);
         |      double $err = Math.abs($v - $mod.round0($v / $scale) * $scale);
         |      $sum += (long) $mod.round0($err * 1000000d);
         |      if ($err > $emax) $emax = $err;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{ $scale, $sum, $emax });
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantErrExpr =
    copy(child = newChild)
}
