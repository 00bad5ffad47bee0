package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
    * <outDir>/<query>_<tag>.txt — the plan evidence an optimization change
    * commits for each query it touches. */
  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    tag: String, keys: Set[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if keys.contains(name)) {
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plans] wrote ${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${Verify.reason(e)}")
      }
    }
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
    * exchanges. */
  private def profile(spark: SparkSession, sfDir: String, out: String,
                      only: Option[Set[String]]): Unit = {
    Bench.warmUp(spark, sfDir)
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

    val sb = new StringBuilder
    sb.append("query\twall_s\tplan_s\tjobs\tstages\ttasks\ttask_time_s\texchanges\n")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    for ((name, fn) <- names) {
      // warm pass: planning + codegen cache fill, mirrors bench min-of-2
      try { fn(spark, sfDir).count() } catch { case _: Throwable => }
      Thread.sleep(150) // let queued listener events drain
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L)
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
          Thread.sleep(150)
          // shuffle exchanges only: a bare "Exchange" would also match
          // BroadcastExchange / ReusedExchange / AQE wrappers
          val nExch = "(?m)^\\s*(?:[:+\\- ]*)Exchange ".r
            .findAllIn(df.queryExecution.executedPlan.toString).size
          f"$name\t$wall%.3f\t$tPlan%.3f\t${jobs.get}\t${stages.get}\t${tasks.get}\t${taskTimeMs.get / 1000.0}%.2f\t$nExch"
        } catch {
          case e: Throwable => s"$name\tFAIL\t${e.getClass.getSimpleName}"
        }
      sb.append(res).append("\n")
      println(res)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
  }

  /** Alternating same-session A/B of two plans for one stage. Both arms
    * read one persisted input, must agree on a row-count-and-hash-sum
    * signature, then run A,B ×4 into the `noop` sink. Edit `armA`/`armB`
    * for a new experiment; the template compares codegen shingles plus an
    * interpreted per-element xxhash64 against the fused shingle-hash
    * expression. */
  private def ab(spark: SparkSession, sfDir: String): Unit = {
    val tk = engine.Tables.fan(
        engine.Tables(spark, sfDir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), ops.TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[ab] shared input: ${tk.count()} rows")
    def armA: DataFrame = tk.select(col("doc_id"), explode(array_distinct(
      transform(ops.TextOps.shingles(col("tk"), 3), xxhash64(_)))).as("h"))
    def armB: DataFrame = tk.select(col("doc_id"), explode(array_distinct(
      ops.TextOps.shingleHashes(col("tk"), 3))).as("h"))

    def sig(df: DataFrame): Seq[Any] =
      df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
        .cast("decimal(38,0)"))).collect().head.toSeq
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
    tk.unpersist()
  }
}
