package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{VecDot, VecSqDist}

/** Optimizer rule: rewrite the documented higher-order-function vector
  * folds into the native codegen'd expressions.
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y),          0.0, (s, v) -> s + v)  ⇒ vec_dot(a, b)
  *   aggregate(zip_with(a, b, (x, y) -> (x-y) * (x-y)),  0.0, (s, v) -> s + v)  ⇒ vec_sqdist(a, b)
  *
  * The HOF form is the natural way to write a dot product in plain Spark
  * SQL, but it evaluates interpreted (lambda dispatch per element, a
  * materialized zipped array per row) and blocks whole-stage codegen.
  * The rewrite is semantics-preserving bit-for-bit: same left-fold order,
  * same null poisoning (null element or length mismatch ⇒ null) — see
  * [[graft.functions.VecFoldExpr]].
  *
  * Registered by [[GraftExtensions]] (`spark.sql.extensions`) for cluster
  * deployments, or session-locally via
  * `spark.experimental.extraOptimizations`.
  */
object RewriteVectorFolds extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** x * y over exactly the two lambda variables (either order). */
  private def isPairProduct(f: Expression, vars: Seq[NamedExpression]): Boolean =
    f match {
      case Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _) =>
        Set(x.exprId, y.exprId) == vars.map(_.exprId).toSet
      case _ => false
    }

  /** (x - y) * (x - y) over the two lambda variables. */
  private def isPairSqDiff(f: Expression, vars: Seq[NamedExpression]): Boolean =
    f match {
      case Multiply(Subtract(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _),
                    Subtract(x2: NamedLambdaVariable, y2: NamedLambdaVariable, _), _) =>
        vars.map(_.exprId) == Seq(x1.exprId, y1.exprId) &&
          x1.exprId == x2.exprId && y1.exprId == y2.exprId
      case _ => false
    }

  /** (s, v) -> s + v over exactly the two lambda variables. */
  private def isPlainSum(merge: Expression): Boolean = merge match {
    case LambdaFunction(Add(a: NamedLambdaVariable, b: NamedLambdaVariable, _), args, _) =>
      Set(a.exprId, b.exprId) == args.map(_.exprId).toSet
    case _ => false
  }

  /** finish lambda is the identity on its single argument. */
  private def isIdentity(finish: Expression): Boolean = finish match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(prod, zipArgs, _)),
            Literal(0.0, DoubleType), merge, finish)
          if isDoubleArray(a) && isDoubleArray(b) &&
            isPlainSum(merge) && isIdentity(finish) &&
            isPairProduct(prod, zipArgs) =>
        VecDot(a, b)
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(diff, zipArgs, _)),
            Literal(0.0, DoubleType), merge, finish)
          if isDoubleArray(a) && isDoubleArray(b) &&
            isPlainSum(merge) && isIdentity(finish) &&
            isPairSqDiff(diff, zipArgs) =>
        VecSqDist(a, b)
    }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — injects graft's
  * optimizer rules, planner strategies ([[Strategies.all]]) and SQL
  * functions into every session of the cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteVectorFolds)
    Strategies.all.foreach(s => e.injectPlannerStrategy(_ => s))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
        new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
        (children: Seq[Expression]) => VecDot(children(0), children(1))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("vec_sqdist"),
        new ExpressionInfo(classOf[VecSqDist].getName, "vec_sqdist"),
        (children: Seq[Expression]) => VecSqDist(children(0), children(1))))
  }
}
