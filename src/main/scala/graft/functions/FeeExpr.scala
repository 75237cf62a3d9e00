package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expression for the engine's fee computation — the
  * `q_udf_scalar` surface (SURVEY.md §2B). A tiered processing fee over a
  * discounted price:
  *
  *   base = price * (1 - discount)
  *   fee  = base * 0.002 + max(base - 1000, 0) * 0.001 + tax * price * 0.0005
  *
  * Implemented as a real `Expression` with `doGenCode` (not a Scala UDF) so
  * it stays inside whole-stage codegen: no boxing, no closure serialization,
  * and the generated Java is identical arithmetic to [[FeeExpr.compute]],
  * keeping interpreted and codegen paths bit-equal with the DuckDB oracle.
  *
  * The reference computes its fees/balances out-of-engine (Dock's API
  * produces the report, reference README.md:11); in a Spark-native engine a
  * scalar financial formula belongs in the expression layer.
  */
case class FeeExpr(price: Expression, discount: Expression, tax: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def first: Expression = price
  override def second: Expression = discount
  override def third: Expression = tax
  override def prettyName: String = "graft_fee"

  override def nullSafeEval(p: Any, d: Any, t: Any): Any =
    FeeExpr.compute(p.asInstanceOf[Double], d.asInstanceOf[Double], t.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, d, t) => {
      val base = ctx.freshName("base")
      s"""
         |double $base = $p * (1.0 - $d);
         |${ev.value} = $base * 0.002 + (($base > 1000.0) ? ($base - 1000.0) * 0.001 : 0.0)
         |  + $t * $p * 0.0005;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): FeeExpr =
    copy(price = newFirst, discount = newSecond, tax = newThird)
}

object FeeExpr {
  /** Reference implementation; the codegen template above must mirror this
    * operation-for-operation (FP addition order matters for oracle parity).
    */
  def compute(p: Double, d: Double, t: Double): Double = {
    val base = p * (1.0 - d)
    base * 0.002 + (if (base > 1000.0) (base - 1000.0) * 0.001 else 0.0) + t * p * 0.0005
  }

  /** DuckDB-equivalent SQL for the same arithmetic, same evaluation order. */
  def sql(p: String, d: String, t: String): String =
    s"($p * (1.0 - $d)) * 0.002 + " +
      s"(CASE WHEN ($p * (1.0 - $d)) > 1000.0 THEN ($p * (1.0 - $d)) - 1000.0 ELSE 0.0 END) * 0.001 + " +
      s"$t * $p * 0.0005"
}

/** Session-level registration of the engine's native functions, so they are
  * callable from SQL text and `expr(...)` like any built-in.
  *
  * Arguments are coerced with `Cast` at registration (the expressions
  * themselves assert nothing — `AbstractDataType` is private[sql] in
  * Spark 4, so input coercion happens here instead of via
  * ExpectsInputTypes): doubles for graft_fee, `array<float>` for the vector
  * kernels (an `array<double>` embedding column is cast, not misread), and
  * `array<string>` for graft_shingles. The SAME builders back both the
  * imperative [[register]] path and the `spark.sql.extensions` path
  * ([[graft.plans.GraftExtensions]]) — one definition, two entry points.
  */
object GraftFunctions {
  import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}

  private def floatArray(e: Expression): Expression =
    Cast(e, ArrayType(FloatType, containsNull = true))

  /** Tolerant literal-int extraction for config args (accepts int/long). */
  private def intArg(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got: $other")
  }

  /** A (foldable) `array<array<bigint>>` literal argument — a centroid
    * table — decoded once at plan build. */
  private def longTable(e: Expression): Array[Array[Long]] = {
    val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toLongArray())
  }

  /** (name, implementing class, coercing builder) — the single source of
    * truth for every registration path.
    */
  val defs: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_fee", classOf[FeeExpr],
      exprs => FeeExpr(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType),
        Cast(exprs(2), DoubleType))),
    ("graft_dot", classOf[DotExpr],
      exprs => DotExpr(floatArray(exprs(0)), floatArray(exprs(1)))),
    ("graft_shingles", classOf[ShinglesExpr],
      exprs => ShinglesExpr(Cast(exprs(0), ArrayType(StringType, containsNull = true)))),
    ("graft_lsh_bucket", classOf[SignProjectExpr],
      exprs => SignProjectExpr(floatArray(exprs(0)),
        nBits = intArg(exprs(1)), dims = intArg(exprs(2)), salt = intArg(exprs(3)))),
    ("graft_sumsq", classOf[SumSqExpr],
      exprs => SumSqExpr(floatArray(exprs(0)))),
    ("graft_quant_err", classOf[QuantErrExpr],
      exprs => QuantErrExpr(floatArray(exprs(0)))),
    ("graft_bloom_contains", classOf[BloomContainsExpr],
      exprs => BloomContainsExpr(Cast(exprs(0), LongType), exprs(1))),
    ("graft_hilbert", classOf[HilbertExpr],
      exprs => HilbertExpr(Cast(exprs(0), LongType), Cast(exprs(1), LongType),
        bits = intArg(exprs(2)))),
    ("graft_isect_count", classOf[SortedIntersectCountExpr],
      exprs => SortedIntersectCountExpr(
        Cast(exprs(0), ArrayType(LongType, containsNull = true)),
        Cast(exprs(1), ArrayType(LongType, containsNull = true)))),
    ("graft_pq_best", classOf[PqBestExpr],
      exprs => PqBestExpr(floatArray(exprs(0)), offset = intArg(exprs(1)),
        cb = {
          // per-subspace codebook from the (foldable) array<array<float>>
          // literal argument, decoded once at plan build
          val arr = exprs(2).eval()
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          Array.tabulate(arr.numElements())(i => arr.getArray(i).toFloatArray())
        })),
    ("graft_kmeans_best", classOf[KmeansBestExpr],
      exprs => KmeansBestExpr(
        Cast(exprs(0), ArrayType(LongType, containsNull = true)),
        cents = longTable(exprs(1)))),
    ("graft_dot_best", classOf[DotBestExpr],
      exprs => DotBestExpr(
        Cast(exprs(0), ArrayType(LongType, containsNull = true)),
        labels = exprs(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray(),
        cents = longTable(exprs(2)))),
    ("graft_isect", classOf[SortedIntersectExpr],
      exprs => SortedIntersectExpr(
        Cast(exprs(0), ArrayType(LongType, containsNull = true)),
        Cast(exprs(1), ArrayType(LongType, containsNull = true)))),
    ("graft_micro", classOf[MicroExpr],
      exprs => MicroExpr(floatArray(exprs(0)))),
    ("graft_dot_long", classOf[DotLongExpr],
      exprs => DotLongExpr(
        Cast(exprs(0), ArrayType(LongType, containsNull = true)),
        Cast(exprs(1), ArrayType(LongType, containsNull = true)))),
    ("graft_opq_stats", classOf[OpqStatsExpr],
      exprs => OpqStatsExpr(floatArray(exprs(0)), floatArray(exprs(1)),
        Cast(exprs(2), LongType), m = intArg(exprs(3)), sub = intArg(exprs(4)))),
    ("graft_opq_perj", classOf[OpqPerJExpr],
      exprs => OpqPerJExpr(floatArray(exprs(0)),
        Cast(exprs(1), ArrayType(org.apache.spark.sql.types.IntegerType,
          containsNull = true)),
        m = intArg(exprs(2)), sub = intArg(exprs(3)),
        rots = {
          // four parallel (foldable) literal arrays: p, q, c0, s0
          def arr(e: Expression) =
            e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val ps = arr(exprs(4)).toIntArray()
          val qs = arr(exprs(5)).toIntArray()
          val cs = arr(exprs(6)).toDoubleArray()
          val ss = arr(exprs(7)).toDoubleArray()
          Array.tabulate(ps.length)(i => (ps(i), qs(i), cs(i), ss(i)))
        })))

  def register(spark: SparkSession): Unit =
    defs.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
