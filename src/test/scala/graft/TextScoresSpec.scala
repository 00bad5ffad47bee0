package graft

import graft.engine.Tables
import graft.ops.TextOps
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** `graft_lang_id` / `graft_quality_score` against the built-in expression
  * forms they replaced, kept here as the reference. */
class TextScoresSpec extends SparkSpec {

  private def refLangId(text: Column): Column = {
    val toks = split(lower(text), " ")
    val Seq(de, en, es, fr) = Seq("de", "en", "es", "fr").map(l =>
      size(array_intersect(toks, array(TextOps.stopwords(l).map(lit): _*))))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(de >= en && de >= es && de >= fr, "de")
      .when(en >= es && en >= fr, "en")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  private def refQuality(text: Column): Column = {
    val punct = length(regexp_replace(text, "[A-Za-z0-9 ]", ""))
    val stop = size(array_intersect(split(lower(text), " "),
      array(TextOps.stopwords.values.flatten.toSeq.distinct.sorted.map(lit): _*)))
    round(
      least(length(text).cast("double") / 200, lit(1.0)) * 0.3
        + (lit(1.0) - punct.cast("double") / length(text)) * 0.3
        + (stop.cast("double") / size(split(text, " "))) * 0.4, 4)
  }

  private val edges: Seq[String] = Seq(null, " ", "  ", " the", "the ",
    " the  and of ", "THE And OF", "a", "ÜBER DIE STRASSE UND DER", "İN THE İS",
    "İ", "ǅIE DAS", "ΣΑΣ the", "KELVIN K the", "這是 the and of",
    "the 鿿", "the ䷿ and", "𠀀 la de", "la de", "de",
    "le de et", "el la y", "der die the and", "un", "que la", "x.y, z!",
    "mail a@b.co 555-123-4567", "tab\tthe", "é é é é", "the " * 80)

  private def edgeFrame: DataFrame = {
    import spark.implicits._
    edges.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")
  }

  /** Kernel and reference per row: once compiled (a local relation too:
    * ConvertToLocalRelation would evaluate it interpreted) and once
    * interpreted. */
  private def pairs(df: DataFrame, kernel: Column => Column,
                    ref: Column => Column): Seq[(Any, Any, Any)] = {
    def run(extra: Map[String, String]): Seq[(Any, Any, Any)] = {
      val prev = extra.keys.map(k => k -> spark.conf.getOption(k)).toMap
      extra.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col(df.columns.head),
          kernel(col("text")).as("k"), ref(col("text")).as("r"))
        .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSeq
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    run(Map("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")) ++
      run(Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }

  private def assertSame(rows: Seq[(Any, Any, Any)]): Unit =
    rows.foreach { case (id, k, r) => assert(k == r, s"row $id: kernel $k, expression $r") }

  test("graft_lang_id equals the expression form on every sf0.001 document " +
    "and on edge strings") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val onDocs = pairs(docs, TextOps.langId, refLangId)
    assert(onDocs.size == 2 * docs.count())
    assertSame(onDocs)
    val onEdges = pairs(edgeFrame, TextOps.langId, refLangId)
    assertSame(onEdges)
    // the fixture documents vote en or de; the edge strings take every branch
    assert(onEdges.map(_._2).toSet == Set("de", "en", "es", "fr", "zh"))
  }

  test("graft_quality_score equals the expression form on every sf0.001 " +
    "document and on edge strings") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    assertSame(pairs(docs, TextOps.qualityScore, refQuality))
    val nonEmpty = edgeFrame.filter(col("text").isNull || length(col("text")) > 0)
    val onEdges = pairs(nonEmpty, TextOps.qualityScore, refQuality)
    assertSame(onEdges)
    assert(onEdges.exists(_._2 == null) && onEdges.count(_._2 != null) > 20)
  }

  test("empty text: the same DIVIDE_BY_ZERO under ANSI, null without it") {
    import spark.implicits._
    val empty = Seq((1, "")).toDF("i", "text")
    def condition(c: Column => Column): String = {
      val e = intercept[Throwable](empty.select(c(col("text"))).collect())
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable => t.getCondition }.orNull
    }
    assert(condition(TextOps.qualityScore) == "DIVIDE_BY_ZERO")
    assert(condition(refQuality) == "DIVIDE_BY_ZERO")
    // the language vote has no division: "" has no stopwords → de
    assertSame(pairs(empty, TextOps.langId, refLangId))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assertSame(pairs(empty, TextOps.qualityScore, refQuality))
      // without ANSI size(null) is -1 for all four scores, so null → de
      assertSame(pairs(edgeFrame, TextOps.langId, refLangId))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("both kernels run inside whole-stage codegen") {
    val df = Tables(spark, sf, "documents")
      .filter(TextOps.langId(col("text")) === "en")
      .select(TextOps.qualityScore(col("text")))
    val plan = df.queryExecution.executedPlan
    val wscg = plan.collect { case w: WholeStageCodegenExec => w.toString }.mkString
    assert(wscg.contains("graft_lang_id") && wscg.contains("graft_quality_score"), wscg)
  }
}
