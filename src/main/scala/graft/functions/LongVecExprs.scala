package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Integer-micro vector kernels for the exact-arithmetic embedding
  * operators ([[graft.operators.LlmData.embedCentroidEval]] discipline):
  * the HOF forms (`transform(c, x -> CAST(round(...)))` and
  * `aggregate(zip_with(a, b, _*_), 0L, _+_)`) evaluate their lambdas
  * interpreted, one dispatch per element per row — and several operators
  * paid them per (vector × anchor) PAIR after a crossJoin. These compile
  * to primitive loops with the identical arithmetic: float widened to
  * double, [[Round0Expr.round0]] = Catalyst Round(_, 0) HALF_UP, the
  * (long) cast's truncation, exact Long products/sums.
  */

/** array<float> → array<long> of round(x·10⁶) integer micros — the
  * `micro()` transform, bit-identical per element. NULL array → NULL;
  * NULL element → NULL element (what transform's lambda yields when its
  * CAST sees null).
  */
case class MicroExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_micro"

  def micro(aa: Any): ArrayData = {
    val a = aa.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (a.isNullAt(i)) null
        else Round0Expr.round0(a.getFloat(i).toDouble * 1000000d).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = micro(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("micro", this, classOf[MicroExpr].getName)
      s"${ev.value} = $ref.micro($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): MicroExpr =
    copy(child = newChild)
}

/** Exact integer dot product over two `array<long>` columns — the
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0L, _+_)` fold compiled to a
  * primitive loop. Null semantics mirror the HOF exactly: mismatched
  * lengths (zip_with's null pad) or any null element poison the fold to
  * NULL.
  */
case class DotLongExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0L
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |${ev.value} = 0L;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    ${ev.value} += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLongExpr =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid label by exact integer dot product: for an
  * `array<bigint>` vector and the driver-held table of `labels` with their
  * `cents` (one `array<bigint>` centroid per label), the label whose
  * centroid has the LARGEST Σ x·c, ties to the LOWEST label — the
  * `row_number() OVER (PARTITION BY vec ORDER BY score DESC, label)` pick
  * in one loop per row, with no (vector × label) rows and no window
  * ([[KmeansBestExpr]] precedent: the table rides the expression object,
  * so the generated code holds a reference slot, not the centroids).
  *
  * Exact Long arithmetic, the same sums [[DotLongExpr]] computes. Null
  * scope: NULL array or any NULL element yields NULL; a vector whose
  * length differs from a centroid's yields NULL; so does an empty table.
  */
case class DotBestExpr(child: Expression, labels: Array[Int],
    cents: Array[Array[Long]]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_best"

  /** Index into `labels` of the best centroid, or -1 for a NULL result —
    * public so generated code can call it. */
  def bestIndex(a: ArrayData): Int = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return -1
      i += 1
    }
    var bk = -1
    var bd = 0L
    var k = 0
    while (k < cents.length) {
      val ce = cents(k)
      if (ce.length != n) return -1
      var dot = 0L
      i = 0
      while (i < n) {
        dot += a.getLong(i) * ce(i)
        i += 1
      }
      if (bk < 0 || dot > bd || (dot == bd && labels(k) < labels(bk))) {
        bd = dot; bk = k
      }
      k += 1
    }
    bk
  }

  override def nullSafeEval(a: Any): Any = {
    val k = bestIndex(a.asInstanceOf[ArrayData])
    if (k < 0) null else labels(k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("dotBest", this, classOf[DotBestExpr].getName)
      val k = ctx.freshName("k")
      s"""
         |int $k = $ref.bestIndex($a);
         |${ev.isNull} = $k < 0;
         |if (!${ev.isNull}) ${ev.value} = $ref.labels()[$k];
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DotBestExpr =
    copy(child = newChild)
}
