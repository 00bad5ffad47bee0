package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** xxhash64 of every k-token shingle in ONE codegen expression:
  * out(i) = xxhash64(tokens(i) + " " + ... + tokens(i + k - 1)), seed 42
  * — bit-identical to `transform(graft_shingles(tk, k), s -> xxhash64(s))`
  * (same UTF8String bytes through the same XXH64 kernel Spark's builtin
  * uses), without the interpreted per-element lambda the transform HOF
  * pays. Callers that only ever consume the HASHES of shingles (blocking
  * keys, boilerplate counting) skip materializing a string array per row:
  * the shingle string lives only as a scratch UTF8String inside the loop
  * and the output is a flat long[].
  *
  * Same contracts as [[ShinglesK]]: concat_ws(" ") join kernel (null
  * elements skipped; split() never yields them), ascending order, n < k
  * → empty array, null input → null output.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"graft_shingle_hashes: k must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects array<string>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  @transient private lazy val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cnt = math.max(0, n - (k - 1))
    val out = new Array[Long](cnt)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < cnt) {
      var j = 0
      while (j < k) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      val s = UTF8String.concatWs(sep, parts: _*)
      out(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, 42L)
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
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val u = "org.apache.spark.unsafe.types.UTF8String"
      val x = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |int $n = $e.numElements();
         |int $cnt = $n - ${k - 1}; if ($cnt < 0) $cnt = 0;
         |long[] $out = new long[$cnt];
         |$u[] $parts = new $u[$k];
         |for (int $i = 0; $i < $cnt; $i++) {
         |  for (int $j = 0; $j < $k; $j++) {
         |    $parts[$j] = $e.isNullAt($i + $j) ? null : $e.getUTF8String($i + $j);
         |  }
         |  $u $s = $u.concatWs($sepRef, $parts);
         |  $out[$i] = $x.hashUnsafeBytes(
         |    $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Make `graft_shingle_hashes` (and the rest of graft) callable in this
    * session; see [[graft.GraftSession.install]]. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftSession.install(spark)
}
