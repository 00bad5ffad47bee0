package graft

import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one registration path: GraftExtensions (submit time) and
  * GraftSession.install (run time) add the same pieces, install is
  * idempotent, and the query builders work on a session nobody installed. */
class ExtensionsSpec extends SparkSpec {

  private val replaced = "replaced a previously registered function"

  test("GraftExtensions registers graft_dot into a fresh extensions set") {
    val fns = mutable.LinkedHashMap.empty[String, Seq[Expression] => Expression]
    val rules = mutable.Buffer.empty[Rule[LogicalPlan]]
    val strategies = mutable.Buffer.empty[SparkStrategy]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(d: (FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = fns(d._1.funcName) = d._3
      override def injectOptimizerRule(
          b: SparkSession => Rule[LogicalPlan]): Unit = rules += b(spark)
      override def injectPlannerStrategy(
          b: SparkSession => SparkStrategy): Unit = strategies += b(spark)
    })
    val dot = fns("graft_dot")(Seq(
      Literal.create(Seq(1.0, 2.0)), Literal.create(Seq(3.0, 4.0))))
    assert(dot.eval() == 11.0)

    // install on a session nobody touched adds exactly the same pieces
    val bare = spark.newSession()
    GraftSession.install(bare)
    assert(fns.size == 9 && rules.size == 2 && strategies.size == 1)
    assert(fns.keys.toSeq == GraftSession.functions.map(_._1))
    fns.keys.foreach { n =>
      assert(bare.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)), n)
    }
    assert(bare.experimental.extraOptimizations == rules.toSeq)
    assert(bare.experimental.extraStrategies == strategies.toSeq)
  }

  test("session-registry registration makes graft_dot resolvable in SQL") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
    assert(r == 11.0)
  }

  test("install is idempotent: a second call replaces nothing and logs nothing") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    def infos = GraftSession.functions.map { case (n, _) =>
      registry.lookupFunction(FunctionIdentifier(n)).get }
    val probe = "graft-spec-capture probe"
    val logged = warnings {
      GraftSession.install(bare)
      val (names, before) = (registry.listFunction().toSet, infos)
      val (rules, strategies) =
        (bare.experimental.extraOptimizations, bare.experimental.extraStrategies)
      GraftSession.install(bare)
      assert(registry.listFunction().toSet == names)
      // a re-registration would store a fresh ExpressionInfo
      infos.zip(before).foreach { case (a, b) => assert(a eq b, a.getName) }
      assert(bare.experimental.extraOptimizations == rules)
      assert(bare.experimental.extraStrategies == strategies)
      // the capture itself works on the registry's own logger
      LogManager.getLogger(registry.getClass.getName.stripSuffix("$")).warn(probe)
    }
    assert(logged.contains(probe), logged)
    assert(!logged.exists(_.contains(replaced)), logged)
  }

  test("query keys that reach graft_* functions through ops run on a bare " +
    "session and match the installed one") {
    // shingles, shingle hashes, nfc, dot, lsh bands, jw, dl, lang id,
    // quality score
    val keys = Seq("text_repetition", "text_boilerplate", "text_nfc_normalize",
      "sim_cosine_topk", "sim_ann_lsh", "fn_jaro_winkler", "fn_damerau_levenshtein",
      "text_lang_id", "text_quality")
    def rows(s: SparkSession, key: String): Seq[String] =
      SparkEntry.queries(key)(s, sf).collect().map(_.toString).sorted.toSeq
    for (key <- keys) {
      val onBare = rows(spark.newSession(), key)
      assert(onBare.nonEmpty, key)
      assert(onBare == rows(spark, key), key)
    }
  }

  /** Regex match counts per source file under `dir` (files with none
    * left out). */
  private def matches(dir: String, re: scala.util.matching.Regex): Map[String, Int] =
    Files.walk(Paths.get(dir)).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> re.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap

  test("one session factory and one function registrar in main code; " +
    "tests build no session of their own") {
    def count(dir: String, re: scala.util.matching.Regex): Int =
      matches(dir, re).values.sum
    val builder = "SparkSession\\s*\\.\\s*builder".r
    assert(count("src/main", builder) == 1)
    assert(count("src/main", "createOrReplaceTempFunction".r) == 1)
    assert(count("src/test", builder) == 0)
  }

  test("one session memo in main code: TrieMap only in PlanMemo, no " +
    "32-bit plan-hash keys") {
    // LshBands.cache is a pure function of (nBits, width) and holds no
    // session state, so it is not a session memo
    assert(matches("src/main", "TrieMap".r).keySet == Set(
      "src/main/scala/graft/ops/PlanMemo.scala",
      "src/main/scala/graft/functions/LshBands.scala"))
    assert(matches("src/main", "semanticHash\\(".r).isEmpty)
  }

  test("batch parquet reads go through Tables.parquet, which starts no " +
    "schema job; direct reads only where Spark's inference is needed") {
    // `.read` then any option/schema calls, then `.parquet(` or a
    // `format("parquet")`
    val read = ("""\.read(?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*""" +
      """\s*\.\s*(?:parquet\(|format\(\s*"parquet"\s*\))""").r
    assert(matches("src/main", read) == Map(
      // scan_schema_evolution merges schemas (mergeSchema) and
      // scan_glob_options lists recursively with a glob filter: both
      // options belong to Spark's own inference
      "src/main/scala/graft/queries/Sources.scala" -> 2,
      // the 100x scale harness, off the graded path: its reads sit inside
      // bytes-read probes whose recorded figures (SCALE.md) were taken
      // through Spark's own read
      "src/main/scala/graft/ScaleStress100.scala" -> 4))
  }

  test("one way to cache a frame (PlanMemo.pin) and one scoped-conf path") {
    // the harness mains keep their own persists and release them or exit
    val harness = Seq("ScaleStress", "ScaleStress100", "Dev")
      .map(n => s"src/main/scala/graft/$n.scala").toSet
    val memo = Set("src/main/scala/graft/ops/PlanMemo.scala")
    val caching = """\.(?:un)?persist\(|\.cache\(\)""".r
    assert(matches("src/main", caching).keySet -- harness == memo)
    assert(matches("src/main", "StorageLevel".r).keySet -- harness == memo)
    // Confs.withConfs, the state-store switch tws ops need at query start,
    // and the flag a TIMESTAMP(NANOS) events file needs
    assert(matches("src/main", """conf\.set\(""".r) == Map(
      "src/main/scala/graft/engine/Confs.scala" -> 2,
      "src/main/scala/graft/streaming/Streams.scala" -> 1,
      "src/main/scala/graft/engine/Tables.scala" -> 1))
  }
}
