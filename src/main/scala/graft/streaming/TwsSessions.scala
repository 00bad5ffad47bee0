package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Gap-based sessionization with EVENT-TIME TIMERS on transformWithState:
  * a session closes (and emits) only when the WATERMARK passes
  * last-event + gap — not when the next batch happens to arrive. This is
  * the timer surface `session_window` hides: explicit state + an alarm
  * clock driven by event time, the shape any custom session/timeout/SLA
  * operator at scale needs.
  *
  * Mechanics: every batch extends or rolls the per-user session and
  * re-registers a timer at (last_event + gap). Superseded timers (the
  * session got extended after they were set) fire anyway and are ignored
  * by the expiry guard. In-batch gaps emit immediately — the state store
  * only ever holds the OPEN session per user.
  */
object TwsSessions {

  final case class SessEv(user_id: Long, ts: java.sql.Timestamp)
  final case class SessState(startUs: Long, lastUs: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, n_events: Long)

  class Processor(gapMs: Long) extends StatefulProcessor[Long, SessEv, SessionOut] {
    @transient private var state: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessState](
        "session", Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessEv],
                                 timers: TimerValues): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var st = Option(state.get())
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val tsUs = e.ts.getTime * 1000L
        st match {
          case Some(s) if tsUs - s.lastUs <= gapMs * 1000L =>
            st = Some(s.copy(lastUs = math.max(s.lastUs, tsUs), n = s.n + 1))
          case Some(s) => // in-batch gap: close the old session immediately
            out += SessionOut(user, s.startUs, s.n)
            st = Some(SessState(tsUs, tsUs, 1))
          case None =>
            st = Some(SessState(tsUs, tsUs, 1))
        }
      }
      st.foreach { s =>
        state.update(s)
        getHandle.registerTimer(s.lastUs / 1000L + gapMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      val s = state.get()
      // ignore timers superseded by a later event extending the session
      if (s != null && expired.getExpiryTimeInMs >= s.lastUs / 1000L + gapMs) {
        state.clear()
        Iterator.single(SessionOut(user, s.startUs, s.n))
      } else Iterator.empty
    }
  }

  def sessions(events: Dataset[SessEv], gapMs: Long): Dataset[SessionOut] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[SessionOut]
    Streams.useRocksDbStore(events.sparkSession)
    events.groupByKey(_.user_id)
      .transformWithState(new Processor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }
}
