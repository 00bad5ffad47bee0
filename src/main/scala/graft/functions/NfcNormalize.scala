package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a codegen'd Catalyst expression — the
  * standard pre-tokenization pass for corpus builds (decomposed accents,
  * compatibility variants and platform-dependent encodings otherwise make
  * byte-equal-looking tokens hash differently, silently breaking dedup and
  * shingling on real-world text).
  *
  * Wraps `java.text.Normalizer` (UAX #15, in the JDK — no new dependency).
  * The per-row UTF8String→String round-trip is unavoidable for any JVM
  * normalizer; the call still inlines into whole-stage codegen, so there is
  * no boxing or catalyst↔scala row conversion beyond the string itself.
  * Cross-engine portable: DuckDB's `nfc_normalize` implements the same
  * canonical composition, which is what makes this oracle-able. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nfc expects string, got ${other.sql}")
  }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Make `graft_nfc` (and the rest of graft) callable in this session;
    * see [[graft.GraftSession.install]]. */
  def register(spark: SparkSession): Unit =
    graft.GraftSession.install(spark)
}
