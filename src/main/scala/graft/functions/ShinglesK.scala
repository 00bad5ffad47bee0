package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All k-token shingles of a token array in ONE codegen expression:
  * out(i) = tokens(i) + " " + ... + tokens(i + k - 1), i = 0 .. n - k.
  *
  * Replaces the higher-order formulation
  * `transform(sequence(1, size(tk) - (k-1)), i -> concat_ws(" ",
  * element_at(tk, i), ...))`: HOFs are CodegenFallback-interpreted, so
  * every document paid per-shingle interpreted lambda evaluation (an
  * InternalRow wrap per element plus k interpreted element_at calls per
  * shingle) in the hottest text stages (shingle dedup blocking, bigram LM
  * counting, n-gram novelty). This expression does the identical work as
  * one tight loop inside whole-stage codegen.
  *
  * Value semantics are IDENTICAL to the HOF form for every call site:
  * join is `UTF8String.concatWs`, the exact concat_ws(" ") kernel (skips
  * null elements — split() never yields them, but the contract matches),
  * order is ascending i, and n < k yields an empty array (all callers
  * filter size(tk) >= k first; the old sequence() form was never
  * evaluated on shorter arrays). Null input → null output, like the HOF
  * chain (size(null) → null propagates through sequence/transform).
  */
case class ShinglesK(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"graft_shingles: k must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects array<string>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  @transient private lazy val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cnt = math.max(0, n - (k - 1))
    val out = new Array[AnyRef](cnt)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < cnt) {
      var j = 0
      while (j < k) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("shingleSep", sep,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, e => {
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val parts = ctx.freshName("parts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val u = "org.apache.spark.unsafe.types.UTF8String"
      s"""
         |int $n = $e.numElements();
         |int $cnt = $n - ${k - 1}; if ($cnt < 0) $cnt = 0;
         |$u[] $out = new $u[$cnt];
         |$u[] $parts = new $u[$k];
         |for (int $i = 0; $i < $cnt; $i++) {
         |  for (int $j = 0; $j < $k; $j++) {
         |    $parts[$j] = $e.isNullAt($i + $j) ? null : $e.getUTF8String($i + $j);
         |  }
         |  $out[$i] = $u.concatWs($sepRef, $parts);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesK =
    copy(child = newChild)
}

object ShinglesK {
  /** Make `graft_shingles` (and the rest of graft) callable in this session;
    * see [[graft.GraftSession.install]]. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftSession.install(spark)
}
