package graft.plans

import graft.functions.DotProduct
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Catalyst optimizer rule: rewrite the interpreted higher-order-function
  * dot product
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)
  *
  * into the whole-stage-codegen [[DotProduct]] expression (~10× measured on
  * the 2M-pair embedding near-dup query: interpreted lambda eval allocates
  * a zipped array and boxes every element; the generated loop reads
  * UnsafeArrayData directly).
  *
  * Soundness: DotProduct's null/length semantics mirror the lambda
  * pipeline exactly (zip_with pads a length mismatch with nulls and
  * Multiply/Add propagate them → null sum; same for null elements), the
  * fold order is the same sequential i=0..n, and * / + on doubles are
  * IEEE-commutative, so either operand order inside the lambdas rewrites
  * bit-identically. Guards: zero literal must be double 0.0, both arrays
  * must be array<double>, the finish lambda must be the identity.
  *
  * Injection: `spark.sql.extensions=graft.GraftExtensions` at submit time,
  * or [[graft.GraftSession.install]] on a live session.
  */
object DotRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** The binary op applies exactly the two lambda variables (either order —
    * callers only use this for IEEE-commutative double ops). */
  private def usesBothVars(l: Expression, r: Expression,
                           p: NamedLambdaVariable, q: NamedLambdaVariable): Boolean = {
    def id(e: Expression): Option[ExprId] = e match {
      case v: NamedLambdaVariable => Some(v.exprId)
      case _ => None
    }
    Set(id(l), id(r)).flatten == Set(p.exprId, q.exprId)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(m: Multiply,
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(zero, DoubleType),
          LambdaFunction(add: Add,
            Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(fv: NamedLambdaVariable), _))
        // bit-exact +0.0 only: a -0.0 seed could change the sign of an
        // all-negative-zero sum, and DotProduct seeds with +0.0
        if zero != null &&
          java.lang.Double.doubleToRawLongBits(zero.asInstanceOf[Double]) == 0L &&
          isDoubleArray(a) && isDoubleArray(b) &&
          usesBothVars(m.left, m.right, x, y) &&
          usesBothVars(add.left, add.right, acc, el) &&
          fin.exprId == fv.exprId =>
      DotProduct(a, b)
  }
}

object Rules {
  /** Add graft's optimizer rules and planner strategy to a live session;
    * see [[graft.GraftSession.install]]. */
  def ensureInjected(spark: SparkSession): Unit = graft.GraftSession.install(spark)
}
