package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: an op, or a layer call inside it. */
final case class Span(name: String, op: String, parent: Int, start: Long, var end: Long)

/** Spans for one traced pass, kept in memory and written once at the end.
  * Disabled tracers cost one branch per call. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private var op = ""

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      if (current < 0) op = name
      spans += Span(name, op, current, System.nanoTime(), 0L)
      val parent = current
      current = idx
      try body
      finally {
        spans(idx).end = System.nanoTime()
        current = parent
      }
    }

  /** Total seconds of the spans called `name`. */
  def totalSeconds(name: String): Double =
    spans.filter(_.name == name).map(s => s.end - s.start).sum / 1e9

  /** Self time per layer (the part of a span's name before the first '.'):
    * span time minus the time covered by its child spans. */
  def selfSeconds: Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.groupBy(i => spans(i).name.takeWhile(_ != '.'))
      .map { case (layer, is) =>
        layer -> is.map(i => spans(i).end - spans(i).start - child(i)).sum / 1e9 }
  }
}

/** Spark's public listeners, attached to traced sessions only. Counters are
  * plain sums; the caller reads them after draining the listener bus. */
final class Listeners(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private var running = 0
  private var busySince = 0L

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("exec.jobs") += 1
    if (running == 0) busySince = e.time
    running += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) c("exec.s") += (e.time - busySince) / 1e3
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmit.remove((e.stageId, e.stageAttemptId)).foreach { t =>
      c("exec.queue_s") += math.max(0L, e.taskInfo.launchTime - t) / 1e3
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit.remove((i.stageId, i.attemptNumber()))
    c("exec.stages") += 1
    c("exec.tasks") += i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      c("exec.task_s") += m.executorRunTime / 1e3
      c("exec.cpu_s") += m.executorCpuTime / 1e9
      c("exec.gc_s") += m.jvmGCTime / 1e3
      c("exec.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("exec.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      c("exec.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      c("engine.scan_mb") += m.inputMetrics.bytesRead / 1e6
      c("engine.scan_rows") += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases
    def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val rules = t.rules
    def rule(r: String) = rules.collect { case (k, v) if k.contains(r) => v.totalTimeNs }.sum / 1e9
    val exchanges = collectWithSubqueries(qe.executedPlan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    synchronized {
      c("plans.actions") += 1
      c("plans.analysis_s") += phase("analysis")
      c("plans.optimization_s") += phase("optimization")
      c("plans.planning_s") += phase("planning")
      c("plans.rule_s.DotRewrite") += rule("DotRewrite")
      c("plans.rule_s.LevPrefilter") += rule("LevPrefilter")
      c("plans.exchanges") += exchanges
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      add("streaming.add_batch_s", d("addBatch"))
      add("streaming.wal_commit_s", d("walCommit"))
      add("streaming.query_planning_s", d("queryPlanning"))
      p.stateOperators.foreach { s =>
        add("streaming.state_rows", s.numRowsTotal.toDouble)
        add("streaming.state_mb", s.memoryUsedBytes / 1e6)
        add("streaming.state_commit_s", s.commitTimeMs / 1e3)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def jobs: Double = { drain(); synchronized(c("exec.jobs")) }
}
