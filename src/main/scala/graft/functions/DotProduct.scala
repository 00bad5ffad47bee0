package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over double arrays (SURVEY §2.11
  * expr_custom_dot) — the custom-Expression showcase.
  *
  * Beats a Scala UDF because the generated loop runs inside whole-stage
  * codegen: no boxing, no catalyst↔scala conversion per row, arrays read
  * directly from UnsafeArrayData. Fold order is sequential (i = 0..n), so
  * results are bit-identical to the interpreted eval and to the oracle's
  * sequential list_reduce.
  *
  * Null/length semantics deliberately mirror the lambda pipeline
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc+x)`:
  * zip_with pads the shorter array with nulls and Add/Multiply propagate
  * them, so a length mismatch or any null element makes the whole sum
  * null. Matching that exactly is what makes [[graft.plans.DotRewrite]] a
  * sound plan rewrite rather than a semantics change.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  // can return null (length mismatch / null element) even for non-null inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Make `graft_dot` (and the rest of graft) callable in this session;
    * see [[graft.GraftSession.install]]. */
  def register(spark: SparkSession): Unit =
    graft.GraftSession.install(spark)
}
