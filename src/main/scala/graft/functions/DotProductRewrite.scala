package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule (SURVEY §2.13 / guide §custom-operator): rewrites
  * the declarative higher-order-function dot product
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)
  *
  * into the codegen'd [[DotProduct]] expression. Users (and the SQL
  * surface) keep writing the idiomatic HOF formulation; plans get the
  * tight primitive loop. Registered via [[GraftExtensions]].
  *
  * Semantics preserved exactly: same ascending-index fold, same
  * doubles; only fires when both arrays are `array<double>` and the
  * lambda bodies are the pure `x * y` / `acc + v` shapes. Edge inputs
  * too — [[DotProduct]] returns NULL for unequal lengths (zip_with
  * null-pads, poisoning the fold) and for null elements, so ragged or
  * nullable-element inputs produce the same NULL either way.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private object MulLambda {
    def unapply(lf: LambdaFunction): Boolean = lf match {
      case LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
          Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
        x.exprId == a.exprId && y.exprId == b.exprId
      case _ => false
    }
  }

  private object AddLambda {
    def unapply(lf: LambdaFunction): Boolean = lf match {
      case LambdaFunction(Add(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
          Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
        x.exprId == a.exprId && y.exprId == b.exprId
      case _ => false
    }
  }

  private object IdentityFinish {
    def unapply(lf: LambdaFunction): Boolean = lf match {
      case LambdaFunction(v: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
        v.exprId == a.exprId
      case _ => false
    }
  }

  private object ZeroLiteral {
    def unapply(e: Expression): Boolean = e match {
      case Literal(0.0, DoubleType) => true
      case Cast(Literal(0.0, DoubleType), DoubleType, _, _) => true
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, MulLambda()),
            ZeroLiteral(),
            AddLambda(),
            IdentityFinish())
          if isDoubleArray(a) && isDoubleArray(b) =>
        DotProduct(a, b)
    }
}
