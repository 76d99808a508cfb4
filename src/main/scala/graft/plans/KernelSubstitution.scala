package graft.plans

import graft.functions.Sketches.DotProduct
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Optimizer rule: users write the declarative dot-product fold
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
  *              CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) }}}
  *
  * and the plan gets the whole-stage-codegen kernel `vec_dot(a, b)`
  * instead — bit-identical output (same sequential double fold, proven in
  * OperatorSpec), ~10× on pair-join hot loops (BASELINE.md). This is the
  * engine's declarative-in/kernel-out contract: queries stay expressed in
  * `org.apache.spark.sql.functions`, the rewrite is the optimizer's job —
  * the same posture Catalyst itself takes, extended to our kernels.
  *
  * One entry of the engine's install list
  * ([[graft.functions.GraftExtensions]]): every session
  * [[graft.Tables.configure]] installs carries it, and so does a cluster
  * session built with `spark.sql.extensions`. It changes no other plan:
  * only the fold over two float arrays matches. */
object KernelSubstitution extends Rule[LogicalPlan] {

  /** x * y (or CAST(x)*CAST(y)) over exactly the two lambda args. */
  private def isPairProduct(f: Expression, x: NamedExpression, y: NamedExpression): Boolean =
    f match {
      case m: Multiply =>
        def strips(e: Expression): Expression = e match {
          case c: Cast if c.dataType == DoubleType => c.child
          case other => other
        }
        (strips(m.left), strips(m.right)) match {
          case (lx: NamedLambdaVariable, ly: NamedLambdaVariable) =>
            lx.exprId == x.exprId && ly.exprId == y.exprId
          case _ => false
        }
      case _ => false
    }

  private def isAccPlus(f: Expression, acc: NamedExpression, v: NamedExpression): Boolean =
    f match {
      case a: Add => (a.left, a.right) match {
        case (la: NamedLambdaVariable, lv: NamedLambdaVariable) =>
          la.exprId == acc.exprId && lv.exprId == v.exprId
        case _ => false
      }
      case _ => false
    }

  private def isIdentity(f: Expression, res: NamedExpression): Boolean =
    f match {
      case lv: NamedLambdaVariable => lv.exprId == res.exprId
      case _ => false
    }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(FloatType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(mul, Seq(x, y), _)),
            Literal(0.0d, DoubleType),
            LambdaFunction(add, Seq(acc, v), _),
            LambdaFunction(fin, Seq(res), _))
          if isFloatArray(a) && isFloatArray(b) &&
             isPairProduct(mul, x, y) && isAccPlus(add, acc, v) &&
             isIdentity(fin, res) =>
        DotProduct(a, b)
    }
}
