package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Stopword-vote language ID (`graft_lang_id(text)`): one scan of the text
  * instead of the CASE chain over four `size(array_intersect(split(lower(
  * text)), …))` scores, which re-tokenized every row about nine times
  * inside a Filter. Value-identical to that form (`TextOps.langId`'s
  * scaladoc gives the rule): the same `lower` kernel
  * (`CollationSupport.Lower`, ICU flag of the session), the same " "
  * tokens, distinct-token counts, the same tie priority. A null text is
  * "fr", or "de" under `spark.sql.legacy.sizeOfNull`, as the size()-based
  * form gave. */
case class LangId(child: Expression,
                  useICU: Boolean = TextScores.icuConf,
                  legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = TextScores.checkString(this)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lang_id"
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def eval(input: InternalRow): Any = TextScores.langId(
    child.eval(input).asInstanceOf[UTF8String], useICU, legacySizeOfNull)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |UTF8String ${ev.value} = graft.functions.TextScores.langId(
      |  ${c.isNull} ? null : ${c.value}, $useICU, $legacySizeOfNull);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** Heuristic quality score (`graft_quality_score(text)`): length
  * saturation, non-punctuation share and stopword share, rounded to 4
  * places, in one scan of the text. Value-identical to the expression form
  * `TextOps.qualityScore` documents (same IEEE operations in the same
  * order, HALF_UP rounding); null text gives null, and an empty text
  * raises DIVIDE_BY_ZERO under ANSI (null otherwise), as its
  * `… / length(text)` did. */
case class QualityScore(child: Expression,
                        useICU: Boolean = TextScores.icuConf,
                        failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = TextScores.checkString(this)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_quality_score"
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null || (s.numBytes == 0 && !failOnError)) null
    else TextScores.quality(s, useICU)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull} || (!$failOnError && ${c.value}.numBytes() == 0);
      |double ${ev.value} = ${ev.isNull} ? -1.0
      |  : graft.functions.TextScores.quality(${c.value}, $useICU);
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** The shared per-row kernels, static so generated code calls straight
  * into them. */
object TextScores {

  private[functions] def icuConf: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  private[functions] def checkString(e: UnaryExpression): TypeCheckResult =
    if (e.child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} expects string, got ${e.child.dataType.sql}")

  private val stopwords = graft.ops.TextOps.stopwords

  /** A token of at most 7 bytes as one long: its length, then its bytes. */
  private def key(bytes: Array[Byte]): Long =
    bytes.foldLeft(bytes.length.toLong)((k, b) => (k << 8) | (b & 0xff))

  /** Every stopword once, sorted by [[key]]; bit i of a mask is word i. */
  private val words: Array[Array[Byte]] =
    stopwords.values.flatten.toSeq.distinct.map(_.getBytes("UTF-8"))
      .sortBy(key).toArray
  private val keys: Array[Long] = words.map(key)
  private val maxLen = words.map(_.length).max
  require(words.length <= 64 && maxLen <= 7, "stopword table must fit the masks")

  private def mask(lang: String): Long = stopwords(lang).map(w =>
    1L << java.util.Arrays.binarySearch(keys, key(w.getBytes("UTF-8")))).foldLeft(0L)(_ | _)
  private val Seq(deMask, enMask, esMask, frMask) = Seq("de", "en", "es", "fr").map(mask)
  private val Seq(de, en, es, fr, zh) =
    Seq("de", "en", "es", "fr", "zh").map(UTF8String.fromString)

  /** Bits of the stopwords among the " "-separated tokens of `s`. `fold`
    * lowercases ASCII letters on the way (the caller passes an all-ASCII
    * text unlowered, where that is exactly what `lower` does). */
  private def maskOf(s: UTF8String, fold: Boolean): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var bits = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || Platform.getByte(base, off + i) == ' ') {
        val len = i - start
        if (len > 0 && len <= maxLen) {
          var k = len.toLong
          var j = start
          while (j < i) {
            var b = Platform.getByte(base, off + j) & 0xff
            if (fold && b >= 'A' && b <= 'Z') b += 32
            k = (k << 8) | b
            j += 1
          }
          val at = java.util.Arrays.binarySearch(keys, k)
          if (at >= 0) bits |= 1L << at
        }
        start = i + 1
      }
      i += 1
    }
    bits
  }

  private def isCont(b: Int): Boolean = (b & 0xc0) == 0x80

  /** Whether `s` holds a char in U+4E00..U+9FFF (the `rlike` CJK test):
    * a 3-byte UTF-8 sequence with lead byte E4..E9. */
  private def hasCjk(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i + 2 < n) {
      val b0 = Platform.getByte(base, off + i) & 0xff
      if (b0 >= 0xe4 && b0 <= 0xe9) {
        val b1 = Platform.getByte(base, off + i + 1) & 0xff
        val b2 = Platform.getByte(base, off + i + 2) & 0xff
        if (isCont(b1) && isCont(b2)) {
          val cp = ((b0 & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f)
          if (cp >= 0x4e00 && cp <= 0x9fff) return true
        }
      }
      i += 1
    }
    false
  }

  private def stopMask(s: UTF8String, useICU: Boolean): Long =
    if (s.isFullAscii) maskOf(s, fold = true)
    else maskOf(CollationSupport.Lower.exec(s,
      CollationFactory.UTF8_BINARY_COLLATION_ID, useICU), fold = false)

  def langId(s: UTF8String, useICU: Boolean, legacySizeOfNull: Boolean): UTF8String =
    if (s == null) { if (legacySizeOfNull) de else fr }
    else if (!s.isFullAscii && hasCjk(s)) zh
    else {
      val bits = stopMask(s, useICU)
      val d = java.lang.Long.bitCount(bits & deMask)
      val e = java.lang.Long.bitCount(bits & enMask)
      val sp = java.lang.Long.bitCount(bits & esMask)
      val f = java.lang.Long.bitCount(bits & frMask)
      if (d >= e && d >= sp && d >= f) de
      else if (e >= sp && e >= f) en
      else if (sp >= f) es
      else fr
    }

  /** Spark's own ANSI division by zero: eval() raises DIVIDE_BY_ZERO. */
  private val divideByZero = Divide(Literal(0.0), Literal(0.0), EvalMode.ANSI)

  /** The quality score of a non-null text; an empty one divides by zero. */
  def quality(s: UTF8String, useICU: Boolean): Double = {
    val len = s.numChars
    if (len == 0) divideByZero.eval()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var kept = 0
    var spaces = 0
    var i = 0
    while (i < s.numBytes) {
      val b = Platform.getByte(base, off + i)
      if (b == ' ') { kept += 1; spaces += 1 }
      else if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9'))
        kept += 1
      i += 1
    }
    val punct = len - kept
    val stop = java.lang.Long.bitCount(stopMask(s, useICU))
    val x = math.min(len.toDouble / 200, 1.0) * 0.3 +
      (1.0 - punct.toDouble / len) * 0.3 +
      (stop.toDouble / (spaces + 1)) * 0.4
    // round(x, 4): len > 0 keeps x finite
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
  }
}
