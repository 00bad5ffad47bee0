package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** Dev-only tools over the registered queries (never in the graded path):
  *
  * {{{
  * runMain graft.Dev plans   <sfDir> <outDir> <tag> <k1,k2,...>
  * runMain graft.Dev explain <sfDir> <query>
  * runMain graft.Dev profile <sfDir> <out.tsv> [k1,k2,...]
  * runMain graft.Dev ab      <sfDir>
  * }}}
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Dev plans|explain|profile|ab <sfDir> ..."
    require(args.length >= 2, usage)
    val spark = GraftSession.local()
    try args(0) match {
      case "plans" => plans(spark, args(1), args(2), args(3), args(4).split(",").toSet)
      case "explain" => explain(spark, args(1), args(2))
      case "profile" => profile(spark, args(1), args(2),
        args.lift(3).map(_.split(",").toSet))
      case "ab" => ab(spark, args(1))
      case other => throw new IllegalArgumentException(s"$other: $usage")
    } finally spark.stop()
  }

  /** `explain("formatted")` of each named query to
    * <outDir>/<query>_<tag>.txt, through [[normalizePlan]] — the plan
    * evidence an optimization change commits for each query it touches,
    * diffable across runs and checkouts. */
  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    tag: String, keys: Set[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if keys.contains(name)) {
      try {
        val txt = normalizePlan(
          fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plans] wrote ${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${Verify.reason(e)}")
      }
    }
  }

  /** Run-position text replaced by placeholders — the parts of a plan's
    * text that change between two runs of the same code, or when a source
    * line moves: the working directory, expression ids (`#12`), RDD ids
    * and the `<File>.scala:<line>` call site an RDD names (a
    * `localCheckpoint`), lambda variable counters (`lambda x_3`), JVM
    * lambda class names, `@<hex>` object hashes, Spark ML's random
    * `<prefix>_<12 hex>` column uids, and codegen, query-stage and
    * exchange `plan_id`s (a cached frame shows its final adaptive plan,
    * whose ids depend on what ran before it). */
  private[graft] def normalizePlan(txt: String): String =
    Seq(
      "#\\d+" -> "#_",
      "(RDD\\[)\\d+\\]" -> "$1_]",
      " at [\\w$]+\\.scala:\\d+" -> " at _",
      "(lambda [A-Za-z]+)_\\d+" -> "$1_N",
      "Lambda\\$?\\d*/0x[0-9a-f]+" -> "Lambda_",
      "@[0-9a-f]{4,}\\b" -> "@_",
      "(\\[codegen id : )\\d+" -> "$1_",
      "\\*\\(\\d+\\)" -> "*(_)",
      "(QueryStage )\\d+" -> "$1_",
      "(QueryStage\\n(?:Output[^\\n]*\\n)?Arguments: )\\d+" -> "$1_",
      "plan_id=\\d+" -> "plan_id=_",
      "(?<=_)[0-9a-f]{12}\\b" -> "<uid>")
      .foldLeft(txt.replace(System.getProperty("user.dir"), "<cwd>")) {
        case (t, (re, to)) => t.replaceAll(re, to)
      }

  /** The initial formatted plan of one query, then its final adaptive plan
    * after running it. */
  private def explain(spark: SparkSession, sfDir: String, name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    println("=== formatted (initial) ===")
    df.explain("formatted")
    df.collect()
    println("=== final adaptive ===")
    println(df.queryExecution.executedPlan.toString)
  }

  /** One warm run per query (all, or the `only` subset): a TSV line of
    * wall, planning time, jobs, stages, tasks, summed task time and shuffle
    * exchanges. The first line, `__tables`, is the session's first touch
    * of every `Tables` input, taken before the warm-up (its planning and
    * exchange columns are `-`). */
  private def profile(spark: SparkSession, sfDir: String, out: String,
                      only: Option[Set[String]]): Unit = {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          taskTimeMs.addAndGet(e.taskMetrics.executorRunTime)
      }
    })
    def counters: String = {
      ListenerBus.drain(spark.sparkContext)
      f"${jobs.get}\t${stages.get}\t${tasks.get}\t${taskTimeMs.get / 1000.0}%.2f"
    }
    def reset(): Unit = {
      ListenerBus.drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L)
    }

    val sb = new StringBuilder
    sb.append("query\twall_s\tplan_s\tjobs\tstages\ttasks\ttask_time_s\texchanges\n")
    def emit(line: String): Unit = { sb.append(line).append("\n"); println(line) }
    reset()
    val load0 = System.nanoTime()
    engine.Tables.all.foreach(engine.Tables(spark, sfDir, _))
    val loadS = (System.nanoTime() - load0) / 1e9
    emit(f"__tables\t$loadS%.3f\t-\t$counters\t-")
    Bench.warmUp(spark, sfDir)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    for ((name, fn) <- names) {
      // warm pass: planning + codegen cache fill, mirrors bench min-of-2
      try { fn(spark, sfDir).count() } catch { case NonFatal(e) =>
        System.err.println(s"[profile] $name warm pass failed: ${Verify.reason(e)}")
      }
      reset()
      val t0 = System.nanoTime()
      val res =
        try {
          val df = fn(spark, sfDir)
          // force analysis + optimization + physical planning (NOT the AQE
          // re-planning, which happens during execution) to split the wall
          df.queryExecution.executedPlan
          val tPlan = (System.nanoTime() - t0) / 1e9
          df.count()
          val wall = (System.nanoTime() - t0) / 1e9
          // shuffle exchanges only: a bare "Exchange" would also match
          // BroadcastExchange / ReusedExchange / AQE wrappers
          val nExch = "(?m)^\\s*(?:[:+\\- ]*)Exchange ".r
            .findAllIn(df.queryExecution.executedPlan.toString).size
          f"$name\t$wall%.3f\t$tPlan%.3f\t$counters\t$nExch"
        } catch {
          case e: Throwable => s"$name\tFAIL\t${e.getClass.getSimpleName}"
        }
      emit(res)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
  }

  /** Alternating same-session A/B of two plans for one stage. Both arms
    * read one persisted input, must agree on a row-count-and-hash-sum
    * signature, then run A,B ×4 into the `noop` sink. Edit `armA`/`armB`
    * for a new experiment; the template compares the builder's language
    * filter as the built-in CASE chain ([[langIdExpr]]) against the
    * `graft_lang_id` kernel behind `TextOps.langId`. */
  private def ab(spark: SparkSession, sfDir: String): Unit = {
    val docs = engine.Tables.fan(
        engine.Tables(spark, sfDir, "documents").select(col("doc_id"), col("text")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[ab] shared input: ${docs.count()} rows")
    def armA: DataFrame = docs.filter(langIdExpr(col("text")) === "en")
    def armB: DataFrame = docs.filter(ops.TextOps.langId(col("text")) === "en")

    def sig(df: DataFrame): Seq[Any] =
      df.agg(count(lit(1)),
        sum(engine.Det.wide(xxhash64(df.columns.map(col): _*)))).collect().head.toSeq
    val (sa, sb) = (sig(armA), sig(armB))
    require(sa == sb, s"A/B results differ: $sa vs $sb")
    println(s"[ab] signatures equal: $sa")
    def time(tag: String)(df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[ab] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    for (r <- 1 to 4) {
      time(s"A r$r")(armA)
      time(s"B r$r")(armB)
    }
    docs.unpersist()
  }

  /** Stopword-vote language ID from built-in expressions: four
    * `size(array_intersect(split(lower(text)), stopwords))` scores under a
    * CASE chain, the form `graft_lang_id` computes in one scan. */
  private def langIdExpr(text: Column): Column = {
    val toks = split(lower(text), " ")
    val Seq(de, en, es, fr) = Seq("de", "en", "es", "fr").map(l =>
      size(array_intersect(toks, array(ops.TextOps.stopwords(l).map(lit): _*))))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(de >= en && de >= es && de >= fr, "de")
      .when(en >= es && en >= fr, "en")
      .when(es >= fr, "es")
      .otherwise("fr")
  }
}
