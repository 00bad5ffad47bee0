package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState, TimeMode, TimerValues, TTLConfig, ValueState}

/** Batch-seeded streaming state (transformWithState initial state) —
  * the MIGRATION surface: a deployment moving a pipeline onto streaming
  * bulk-computes each key's state from history (one batch aggregate),
  * seeds the state store with it, and streams increments from there —
  * no replay of the historical stream. Together with the state data
  * source (`scan_state_store`, state OUT as a table) this closes the
  * loop: state is a first-class dataset in both directions.
  *
  * The op itself: per-user lifetime spend. Seeds carry the historical
  * integer-cent total; each batch folds its events' cents on top and
  * emits the updated running total, so the LAST emission per user is
  * the seeded-history + streamed-increments lifetime figure
  * (StreamingSpec pins seed+increment parity and that an unseeded key
  * starts from zero). `handleInitialState` runs once per seeded key
  * before its first input batch — Spark partitions the seed dataset by
  * the same key, so seeding is a shuffle of the seed frame, never a
  * driver-side load. */
object TwsSeeded {

  final case class Ev(user_id: Long, cents: Long)
  final case class Seed(user_id: Long, cents: Long)
  final case class Total(user_id: Long, lifetime_cents: Long)

  class Processor extends StatefulProcessorWithInitialState[Long, Ev, Total, Seed] {
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long](
        "total", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(user: Long, seed: Seed,
                                    timers: TimerValues): Unit =
      total.update(seed.cents)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[Total] = {
      val cur = Option(total.get()).getOrElse(0L) + rows.map(_.cents).sum
      total.update(cur)
      Iterator.single(Total(user, cur))
    }
  }

  def totals(events: Dataset[Ev], seeds: Dataset[Seed]): Dataset[Total] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[Total]
    implicit val seedEnc = Encoders.product[Seed]
    Streams.useRocksDbStore(events.sparkSession)
    val seeded: KeyValueGroupedDataset[Long, Seed] =
      seeds.groupByKey(_.user_id)
    events.groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        seeded)
  }
}
