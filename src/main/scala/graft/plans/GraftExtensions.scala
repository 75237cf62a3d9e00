package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType}

import graft.functions.{DotExpr, Round0Expr}

/** Catalyst optimizer rule: rewrite the interpreted higher-order-function
  * dot-product pattern
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
  *               0D, (acc, v) -> acc + v) }}}
  *
  * over `array<float>` columns into the native codegen'd [[DotExpr]] — the
  * fold is bit-identical (ascending-index, double precision), so this is a
  * pure physical win: HOF lambdas evaluate interpreted, one dispatch per
  * element, while DotExpr compiles to a primitive loop. Users who write the
  * idiomatic HOF SQL get the native kernel without knowing it exists.
  * Guards are strict — any deviation (different zero, non-double cast,
  * non-trivial finish lambda) leaves the expression untouched.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def floatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def doubleCastOf(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case Cast(c: NamedLambdaVariable, DoubleType, _, _) => c.exprId == v.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(Multiply(mx, my, _),
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(accRef: NamedLambdaVariable, vRef: NamedLambdaVariable, _),
            Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(finArg: NamedLambdaVariable), _))
        if floatArray(a) && floatArray(b) &&
          doubleCastOf(mx, x) && doubleCastOf(my, y) &&
          accRef.exprId == acc.exprId && vRef.exprId == v.exprId &&
          fin.exprId == finArg.exprId =>
      DotExpr(a, b)
  }
}

/** Catalyst optimizer rule: rewrite `round(x, 0)` on a double into the
  * native [[Round0Expr]], the same bits without Round's BigDecimal round
  * trip. That is every cents rounding of the engine (`Det`, and each
  * `round(c * 100, 0)`), with no change at any call site. Any other scale
  * (Spark rounds the shortest decimal at k digits, which the helper's
  * exactness argument does not cover), any non-double input and `bround`
  * keep Catalyst's expression.
  */
object RoundRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Round(child, Literal(0, IntegerType), _) if child.dataType == DoubleType =>
      Round0Expr(child)
  }
}

/** Session extension entry point — the deployment-grade registration path:
  * `spark.sql.extensions=graft.plans.GraftExtensions` gives any session the
  * engine's native functions (SQL-callable) and the optimizer rewrites, with
  * no imperative `register` call. The harness sessions (Verify/Bench/tests)
  * load it via that conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectOptimizerRule(_ => RoundRewrite)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    // same coercing builders as GraftFunctions.register — one source of truth
    graft.functions.GraftFunctions.defs.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
  }
}
