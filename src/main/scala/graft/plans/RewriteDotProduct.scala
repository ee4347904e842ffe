package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule (SURVEY.md §4.3 stretch): rewrites the interpreted
  * higher-order-function SELF-dot-product pattern
  *
  *   aggregate(zip_with(e, e, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)
  *
  * (modulo double-casts) into the codegen'd [[VectorDot]](e, e) — an
  * ~8.6x measured kernel win (docs/SCALE.md) users get without changing
  * their query text.
  *
  * Restricted to SELF-dots (both zip_with sides the same expression) on
  * purpose: for two different arrays, `zip_with` pads the shorter side
  * with nulls so the lambda sum becomes NULL on ragged input, while
  * VectorDot uses min-length — only the self-dot is unconditionally
  * semantics-preserving. Installed with the session by
  * [[GraftExtensions]].
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def stripDoubleCast(e: Expression): Expression = e match {
    case Cast(child, DoubleType, _, _) => child
    case other => other
  }

  private def isNumericArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** body == x * y over exactly the two lambda variables (any order,
    * possibly double-cast). */
  private def isElementwiseProduct(body: Expression,
                                   args: Seq[NamedExpression]): Boolean =
    body match {
      case Multiply(l, r, _) =>
        val operands = Set(stripDoubleCast(l), stripDoubleCast(r))
        args.length == 2 && operands == args.toSet[Expression]
      case _ => false
    }

  /** body == acc + v over exactly the two lambda variables. */
  private def isSum(body: Expression, args: Seq[NamedExpression]): Boolean =
    body match {
      case Add(l, r, _) =>
        args.length == 2 &&
          Set(stripDoubleCast(l), stripDoubleCast(r)) == args.toSet[Expression]
      case _ => false
    }

  private def isZeroLiteral(e: Expression): Boolean = stripDoubleCast(e) match {
    case Literal(0.0, DoubleType) => true
    case Literal(0, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(mulBody, mulArgs, _)),
            zero,
            LambdaFunction(addBody, addArgs, _),
            LambdaFunction(finishBody, finishArgs, _))
          if a.semanticEquals(b) && isNumericArray(a) &&
            isElementwiseProduct(mulBody, mulArgs) &&
            isZeroLiteral(zero) &&
            isSum(addBody, addArgs) &&
            finishArgs.length == 1 &&
            finishBody.semanticEquals(finishArgs.head) =>
        VectorDot(a, b)
    }
}
