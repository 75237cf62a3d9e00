package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernels for the OPQ model's two statistics passes (the r18
  * verdict item 7 follow-up): the expression-tree forms built ~64-struct
  * literal arrays per row — hundreds of Round/Multiply nodes whose
  * analysis + whole-stage codegen dominated the operator (~2-3 s of
  * driver work per pass) — where one virtual call into a JIT-compiled
  * loop computes the identical integers.
  *
  * Bit parity: every term replicates the Catalyst expression it replaces
  * operation-for-operation — float elements widened to double, the same
  * multiply order, [[Round0Expr.round0]] for Round(_, 0) HALF_UP, the
  * (long) cast's truncation, and the byP-before-byQ rotation precedence.
  * Null scope (the [[SumSqExpr]] precedent): NULL input arrays yield
  * NULL; element nulls are out of parity scope (the fixtures' embeddings,
  * reconstructions and codes are dense).
  */

/** Per-row Procrustes statistics terms: for each dimension group
  * g = j·sub + i (pp), with the cyclic partner qq = ((j+1) mod m)·sub + i,
  * emits struct(g, t = ⌊round(x_g·c*_g·10⁶)⌋, bt = ⌊round(x_pp·c*_qq·10⁶)⌋
  * − ⌊round(x_qq·c*_pp·10⁶)⌋, e = e0row iff g = 0) — exactly the terms
  * the exploded 64-struct literal array produced.
  */
case class OpqStatsExpr(first: Expression, second: Expression,
    third: Expression, m: Int, sub: Int) extends TernaryExpression {

  private val dims = m * sub

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("bt", LongType, nullable = false),
    StructField("e", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_opq_stats"

  /** The terms kernel — public so generated code can call it. */
  def terms(xa: Any, cea: Any, e0a: Any): ArrayData = {
    val x = xa.asInstanceOf[ArrayData]
    val ce = cea.asInstanceOf[ArrayData]
    val e0 = e0a.asInstanceOf[Long]
    if (x.numElements() < dims || ce.numElements() < dims) return null
    val out = new Array[Any](dims)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < sub) {
        val pp = j * sub + i
        val qq = ((j + 1) % m) * sub + i
        val xpp = x.getFloat(pp).toDouble
        val xqq = x.getFloat(qq).toDouble
        val cpp = ce.getFloat(pp).toDouble
        val cqq = ce.getFloat(qq).toDouble
        val t = Round0Expr.round0(xpp * cpp * 1000000d).toLong
        val bt = Round0Expr.round0(xpp * cqq * 1000000d).toLong -
          Round0Expr.round0(xqq * cpp * 1000000d).toLong
        out(pp) = new GenericInternalRow(
          Array[Any](pp, t, bt, if (pp == 0) e0 else 0L))
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(x: Any, ce: Any, e0: Any): Any = terms(x, ce, e0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, ce, e0) => {
      val ref = ctx.addReferenceObj("opqStats", this, classOf[OpqStatsExpr].getName)
      s"""
         |${ev.value} = $ref.terms($x, $ce, $e0);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): OpqStatsExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Per-row frozen-assignment micro sums for the C-step: for each subspace
  * j, struct(j, code_j, xm = [round(x_{j·sub+i}·10⁶)], xpm =
  * [round(x′_{j·sub+i}·10⁶)]) where x′ applies the accepted Givens
  * rotations (float-rounded exactly like the expression form: the rotated
  * value is computed in double, cast to float, widened back). `rots`
  * carries (p, q, c0, s0); a dimension that is some rotation's p takes
  * c0·x_p − s0·x_q (p-precedence, matching the byP-first match order),
  * a q takes s0·x_p + c0·x_q, anything else passes through.
  */
case class OpqPerJExpr(left: Expression, right: Expression,
    m: Int, sub: Int, rots: Array[(Int, Int, Double, Double)])
    extends BinaryExpression {

  private val dims = m * sub
  // dim → rotation lookup, p-precedence baked in: 0 = pass-through
  private val kind = new Array[Byte](dims)
  private val rp = new Array[Int](dims)
  private val rq = new Array[Int](dims)
  private val rc = new Array[Double](dims)
  private val rs = new Array[Double](dims)
  // q entries first, then p entries overwrite — p-precedence exactly like
  // the byP-before-byQ match order of the expression form (the accepted
  // pairs' p and q sets are each injective by construction, so within a
  // kind there is nothing to collide)
  rots.foreach { case (p, q, c0, s0) =>
    kind(q) = 2; rp(q) = p; rq(q) = q; rc(q) = c0; rs(q) = s0
  }
  rots.foreach { case (p, q, c0, s0) =>
    kind(p) = 1; rp(p) = p; rq(p) = q; rc(p) = c0; rs(p) = s0
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("xm", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("xpm", ArrayType(DoubleType, containsNull = false), nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_opq_perj"

  /** The per-subspace sums kernel — public so generated code can call it. */
  def perJ(xa: Any, codea: Any): ArrayData = {
    val x = xa.asInstanceOf[ArrayData]
    val code = codea.asInstanceOf[ArrayData]
    if (x.numElements() < dims || code.numElements() < m) return null
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val xm = new Array[Any](sub)
      val xpm = new Array[Any](sub)
      var i = 0
      while (i < sub) {
        val g = j * sub + i
        xm(i) = Round0Expr.round0(x.getFloat(g).toDouble * 1000000d)
        val xp: Float = kind(g) match {
          case 1 => (rc(g) * x.getFloat(rp(g)).toDouble -
            rs(g) * x.getFloat(rq(g)).toDouble).toFloat
          case 2 => (rs(g) * x.getFloat(rp(g)).toDouble +
            rc(g) * x.getFloat(rq(g)).toDouble).toFloat
          case _ => x.getFloat(g)
        }
        xpm(i) = Round0Expr.round0(xp.toDouble * 1000000d)
        i += 1
      }
      out(j) = new GenericInternalRow(Array[Any](j, code.getInt(j),
        new GenericArrayData(xm), new GenericArrayData(xpm)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(x: Any, code: Any): Any = perJ(x, code)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, code) => {
      val ref = ctx.addReferenceObj("opqPerJ", this, classOf[OpqPerJExpr].getName)
      s"""
         |${ev.value} = $ref.perJ($x, $code);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OpqPerJExpr =
    copy(left = newLeft, right = newRight)
}
