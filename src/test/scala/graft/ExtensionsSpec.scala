package graft

import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
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

  /** Messages logged at WARN or above while `f` runs. */
  private def warnings(f: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("graft-spec-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try f finally {
      root.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    lines.asScala.toSeq
  }

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
    assert(fns.size == 7 && rules.size == 2 && strategies.size == 1)
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
    // shingles, shingle hashes, nfc, dot, lsh bands, jw, dl
    val keys = Seq("text_repetition", "text_boilerplate", "text_nfc_normalize",
      "sim_cosine_topk", "sim_ann_lsh", "fn_jaro_winkler", "fn_damerau_levenshtein")
    def rows(s: SparkSession, key: String): Seq[String] =
      SparkEntry.queries(key)(s, sf).collect().map(_.toString).sorted.toSeq
    for (key <- keys) {
      val onBare = rows(spark.newSession(), key)
      assert(onBare.nonEmpty, key)
      assert(onBare == rows(spark, key), key)
    }
  }

  test("one session factory and one function registrar in main code; " +
    "tests build no session of their own") {
    def count(dir: String, re: scala.util.matching.Regex): Int =
      Files.walk(Paths.get(dir)).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => re.findAllIn(Files.readString(p)).size).sum
    val builder = "SparkSession\\s*\\.\\s*builder".r
    assert(count("src/main", builder) == 1)
    assert(count("src/main", "createOrReplaceTempFunction".r) == 1)
    assert(count("src/test", builder) == 0)
  }
}
