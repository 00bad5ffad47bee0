package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.Tables

/** Runs one workload for a time budget and writes the raw record as JSON.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --seed N --seconds S
  *                  --trace 0|1 --cpus N --out FILE [--approx k1,k2]
  *
  * A pass is: set up a fresh session (build, function and rule
  * registration, first touch of the inputs), run every op of the workload
  * once in a closed loop, stop the session. Pass 0 warms the JVM up and
  * writes the outputs the checks read; measured passes follow until S
  * seconds of them have run (at least `workload.minMeasured`; with --trace 1
  * untraced and traced passes alternate, starting and ending with an
  * untraced one, so an untraced pass follows each traced one; only traced
  * sessions get listeners). Extra set-ups bring the warm set-up samples to
  * `setupSamples`; pass 0's cold set-up is not one of them. */
object Main {
  val setupSamples = 7

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cpus = a("cpus")
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val workload = Workloads(a("workload"),
      a.get("approx").map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty))
    val ops = workload.ops(seed)
    val budget = (a("seconds").toDouble * 1e9).toLong

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val setups = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]

    /** Build a fresh session and touch the inputs; returns it with the
      * time engine.load took. */
    def setup(tr: Tracer, traced: Boolean): (Ctx, Double) = {
      val s0 = System.nanoTime()
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val lis = if (traced) Some(new Listeners(spark)) else None
      lis.foreach(_.attach())
      // the registration list graft.Bench uses
      graft.functions.DotProduct.register(spark)
      graft.functions.NfcNormalize.register(spark)
      graft.functions.ShinglesK.register(spark)
      graft.functions.ShingleHashes.register(spark)
      graft.functions.LshBands.register(spark)
      graft.functions.JaroWinkler.register(spark)
      graft.plans.Rules.ensureInjected(spark)
      val ctx = Ctx(spark, a("data"), work, tr, lis, verify = passes.isEmpty)
      val l0 = System.nanoTime()
      tr("engine.load") { workload.tables.foreach(t => Tables(spark, ctx.data, t)) }
      val s1 = System.nanoTime()
      if (!ctx.verify) setups += (s1 - s0) / 1e9
      (ctx, (s1 - l0) / 1e9)
    }

    def stop(spark: SparkSession): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    var measured = 0L
    var checks = Seq.empty[Check]
    while (passes.size < 1 + workload.minMeasured || measured < budget ||
        (trace && (passes.size < 4 || passes.size % 2 == 1))) {
      val traced = trace && passes.size % 2 == 0 && passes.nonEmpty
      val tr = new Tracer(traced)
      val (ctx, loadS) = setup(tr, traced)
      val spark = ctx.spark
      val p0 = System.nanoTime()
      val times = ops.map { op =>
        if (traced) spark.sparkContext.setJobGroup(op.name, op.name)
        val o0 = System.nanoTime()
        val err = try { tr(s"op.${op.name}") { op.run(ctx) }; None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
        val secs = (System.nanoTime() - o0) / 1e9
        System.err.println(f"[op] pass ${passes.size} ${op.name} $secs%.3f s ${err.getOrElse("")}")
        (op.name, secs, err)
      }
      val wallNs = System.nanoTime() - p0
      val wall = wallNs / 1e9
      if (passes.nonEmpty) measured += wallNs
      val sc = spark.sparkContext
      val cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
      val persisted = sc.getPersistentRDDs.size
      if (ctx.verify) checks = workload.checks(ctx)
      passes += Map("warmup" -> ctx.verify, "traced" -> traced, "wall_s" -> wall,
        "cached_mb" -> cachedMb,
        "ops" -> times.map { case (n, s, e) =>
          Map("name" -> n, "s" -> s, "error" -> e.orNull).asJava }.asJava)
      ctx.lis.foreach { l =>
        l.drain()
        val m = mutable.LinkedHashMap.empty[String, Double] ++ l.c
        m("engine.load_s") = loadS
        m("engine.persisted_rdds") = persisted
        m("exec.busy_frac") = m("exec.task_s") / (wall * cpus.toDouble)
        Seq("queries.build", "builder.parse", "builder.run", "builder.sink")
          .foreach(n => m(s"${n}_s") = tr.totalSeconds(n))
        tr.selfSeconds.foreach { case (k, v) => m(s"self_s.$k") = v }
        val extra = new Tracer(true)
        if (layers.isEmpty) {
          checks ++= workload.traceExtras(ctx.copy(tr = extra))
          l.drain()
          l.c.foreach { case (k, v) =>
            if (k.startsWith("ops.") || k.startsWith("functions.") || k.startsWith("streaming."))
              m(k) = v }
          extra.selfSeconds.foreach { case (k, v) =>
            m(s"self_s.$k") = m.getOrElse(s"self_s.$k", 0.0) + v }
        }
        layers += m.toMap
        writeSpans(s"$work/trace_spans_${layers.size}.tsv", tr)
        if (extra.spans.nonEmpty) writeSpans(s"$work/trace_spans_${layers.size}_extras.tsv", extra)
      }
      stop(spark)
    }
    while (setups.size < setupSamples) stop(setup(new Tracer(false), traced = false)._1.spark)

    val out = Map(
      "workload" -> a("workload"),
      "setups_s" -> setups.asJava,
      "passes" -> passes.map(_.asJava).asJava,
      "layers" -> layers.map(_.asJava).asJava,
      "checks" -> checks.map(c => Map("op" -> c.op, "output" -> c.output,
        "sql" -> c.sql, "mode" -> c.mode).asJava).asJava,
    ).asJava
    Files.writeString(Paths.get(a("out")),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out))
  }

  private def writeSpans(path: String, tr: Tracer): Unit = {
    val sb = new StringBuilder("name\top\tparent\tstart_ns\tend_ns\n")
    tr.spans.foreach(s => sb ++= s"${s.name}\t${s.op}\t${s.parent}\t${s.start}\t${s.end}\n")
    Files.writeString(Paths.get(path), sb.toString)
  }
}
