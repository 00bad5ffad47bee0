package graft

import graft.functions._
import graft.plans.{AsofJoinStrategy, DotRewrite, LevPrefilter}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Everything graft adds to Catalyst, listed once: the codegen functions,
  * the optimizer rules and the planner strategy. A session gets them either
  * at build time (`--conf spark.sql.extensions=graft.GraftExtensions`) or
  * at run time through [[install]], which every harness, query builder and
  * `ops` entry point calls. */
object GraftSession {

  /** A plan-time integer argument (it sizes a codegen loop or a table). */
  private def intArg(fn: String, arg: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $arg must be a literal, got ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be integral, got $other")
    }
  }

  /** SQL name → expression builder for every function in `functions/`. */
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    ("graft_dot", e => DotProduct(e(0), e(1))),
    ("graft_nfc", e => NfcNormalize(e(0))),
    ("graft_shingles", e =>
      ShinglesK(e(0), intArg("graft_shingles", "k", e(1)))),
    ("graft_shingle_hashes", e =>
      ShingleHashes(e(0), intArg("graft_shingle_hashes", "k", e(1)))),
    ("graft_lsh_bands", e =>
      LshBands(e(0), intArg("graft_lsh_bands", "bands", e(1)),
        intArg("graft_lsh_bands", "rowsPerBand", e(2)),
        if (e.length > 3) intArg("graft_lsh_bands", "dim", e(3))
        else LshBands.defaultDim)),
    ("graft_jw", e => JaroWinkler(e(0), e(1))),
    ("graft_dl", e => DamerauLevenshtein(e(0), e(1))),
    ("graft_lang_id", e => LangId(e(0))),
    ("graft_quality_score", e => QualityScore(e(0))))

  val rules: Seq[Rule[LogicalPlan]] = Seq(DotRewrite, LevPrefilter)

  val strategies: Seq[SparkStrategy] = Seq(AsofJoinStrategy)

  /** Add to `spark` whatever of [[functions]], [[rules]] and [[strategies]]
    * it lacks, and nothing else: an installed session costs a registry
    * lookup and no re-registration. Pieces already present through
    * GraftExtensions count as installed, so a rule never runs twice. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      for ((name, builder) <- functions
           if !registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    val x = spark.experimental
    x.synchronized {
      val injected = spark.sessionState.optimizer.extendedOperatorOptimizationRules
      val newRules = rules.filterNot(r =>
        x.extraOptimizations.contains(r) || injected.contains(r))
      if (newRules.nonEmpty) x.extraOptimizations = x.extraOptimizations ++ newRules
      val planned = spark.sessionState.planner.strategies
      val newStrategies = strategies.filterNot(planned.contains)
      if (newStrategies.nonEmpty) x.extraStrategies = x.extraStrategies ++ newStrategies
    }
  }

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every available core. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session every graft main and test runs on: `local[cpus]`,
    * `cpus` shuffle partitions, UTC, no UI, WARN logging, graft installed. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }
}

/** The submit-time form of [[GraftSession.install]]:
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, builder) <- GraftSession.functions)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getName, name), builder))
    GraftSession.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftSession.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}
