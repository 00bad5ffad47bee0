package graft.queries

import graft.engine.{Det, QueryPack, Tables}
import graft.streaming.{Funnel, Streams}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming operators, batch-graded (SURVEY §2.10): identical window
  * expressions run in batch (DuckDB-oracled) and — for the watermark and
  * sink queries — through a real readStream → writeStream pipeline drained
  * with Trigger.AvailableNow, so the streaming path itself is on the
  * correctness gate, not just its batch twin.
  */
object Streaming extends QueryPack {
  import Det._

  q("stream_tumbling",
    s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(${oFix("value", 2)}) AS DOUBLE) / 100 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""") { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(fix(col("value"), 2)).cast("double") / 100).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  q("stream_sliding",
    """SELECT CAST(epoch(ws) AS BIGINT) AS window_start, event_type, COUNT(*) AS n
      |FROM (
      |  SELECT e.event_type,
      |    to_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k.k * 900) AS ws
      |  FROM events e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
      |)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""") { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
  }

  q("stream_session",
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), i AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM o
      |)
      |SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
      |       COUNT(*) AS n_events
      |FROM i GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""") { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")
  }

  // real streaming run: withWatermark + tumbling window drained via
  // AvailableNow; input is time-ordered so nothing is late → the batch
  // oracle is exact. Late-drop behavior is asserted in StreamingSpec.
  q("stream_watermark_late",
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""") { (s, dir) =>
    // complete mode: append would hold back the final (never-watermarked)
    // window; complete emits every window once the stream drains.
    // State layout sized to key cardinality (~dozens of hour windows),
    // not the session's 32 — store-init dominates otherwise; bench-
    // layout only, real deployments size partitions UP (SCALE.md).
    Streams.withTwsConf(s, partitions = 4) {
      Streams.runToMemory(s, dir, "graft_watermark", "complete") { ev =>
        ev.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("window_start"), col("n"))
      }
    }.orderBy("window_start")
  }

  // Windowed heavy hitters on the live stream: per 6-hour tumbling
  // window, the top-3 event types by count. The streaming stage computes
  // the windowed counts (the only part that needs stream state — bounded
  // by |windows|×|types|); the rank runs on the DRAINED aggregate, which
  // is the foreachBatch/gold-table pattern in production (rank inside a
  // streaming agg would demand complete-mode recomputation of every
  // window on every trigger). Oracle is the identical batch cube.
  q("stream_topk_window",
    """SELECT window_start, event_type, n, rn FROM (
      |  SELECT CAST(epoch(to_timestamp(
      |      CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600)) AS BIGINT)
      |      AS window_start,
      |    event_type, COUNT(*) AS n,
      |    row_number() OVER (
      |      PARTITION BY CAST(floor(epoch(ts) / 21600) AS BIGINT)
      |      ORDER BY COUNT(*) DESC, event_type) AS rn
      |  FROM events
      |  GROUP BY CAST(floor(epoch(ts) / 21600) AS BIGINT), event_type
      |)
      |WHERE rn <= 3
      |ORDER BY window_start, rn""") { (s, dir) =>
    // |windows|×|types| keys — a 4-partition state layout (store-init
    // is the 32-partition cost, not data; bench-layout only)
    val counts = Streams.withTwsConf(s, partitions = 4) {
      Streams.runToMemory(s, dir, "graft_topk_window", "complete") { ev =>
        ev.groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("window_start"),
            col("event_type"), col("n"))
      }
    }
    val w = Window.partitionBy("window_start")
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("window_start", "rn")
  }

  // dropDuplicatesWithinWatermark — the STATE-BOUNDED streaming dedup
  // (Spark 4): per-key state expires once the watermark passes the first
  // occurrence's event time + delay, so an infinite-ingest dedup holds
  // O(keys-per-watermark-window) state instead of O(all keys ever) — the
  // scale fix plain dropDuplicates on a stream cannot make. Output is the
  // KEY SET (not surviving rows): within one micro-batch which physical
  // duplicate row survives is arrival-order-dependent; the key set is
  // not. The graded fixture drains as a single AvailableNow batch (one
  // source file), so no state expires mid-run and the key set equals
  // batch DISTINCT exactly; the cross-batch expiry/re-emission semantics
  // (the part a batch oracle CANNOT see) are pinned in StreamingSpec.
  q("stream_dedup_within_wm",
    """SELECT DISTINCT user_id, event_type,
      |  CAST(epoch_us(date_trunc('minute', ts)) AS BIGINT) AS minute_us
      |FROM events
      |ORDER BY user_id, event_type, minute_us""") { (s, dir) =>
    // dedup state is one entry per (user, type, minute) — tens of
    // thousands at sf0.1, comfortably 8 state partitions' worth; the
    // session's 32 made store-init the dominant cost (bench-layout only)
    Streams.withTwsConf(s, partitions = 8) {
      Streams.runToMemory(s, dir, "graft_dedup_wm") { ev =>
        ev.withWatermark("ts", "10 minutes")
          .select(col("user_id"), col("event_type"),
            date_trunc("minute", col("ts")).as("minute"), col("ts"))
          .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("minute")).as("minute_us"))
      }
    }.orderBy("user_id", "event_type", "minute_us")
  }

  q("stream_dedup",
    """SELECT user_id, event_type, minute_us, event_id FROM (
      |  SELECT user_id, event_type,
      |    CAST(epoch_us(date_trunc('minute', ts)) AS BIGINT) AS minute_us, event_id,
      |    row_number() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts)
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events
      |) WHERE rn = 1
      |ORDER BY user_id, event_type, minute_us""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")))
      .orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        unix_micros(date_trunc("minute", col("ts"))).as("minute_us"), col("event_id"))
      .orderBy("user_id", "event_type", "minute_us")
  }

  q("stream_stateful_funnel",
    """WITH s AS (
      |  SELECT user_id, min(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      |  GROUP BY e.user_id
      |)
      |SELECT s.user_id,
      |  CAST(epoch_us(s.signup_ts) AS BIGINT) AS signup_us,
      |  CAST(epoch_us(p.purchase_ts) AS BIGINT) AS purchase_us
      |FROM s JOIN p ON s.user_id = p.user_id
      |ORDER BY s.user_id""") { (s, dir) =>
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[Funnel.Ev]
    Funnel.conversions(ev).toDF()
      .orderBy("user_id")
  }

  // stream ⋈ static dimension enrichment through a real readStream: every
  // micro-batch hash-joins against the broadcast static table — the
  // standard pattern for decorating a fact stream without shuffling it
  q("stream_static_join",
    """SELECT c_mktsegment, event_type, COUNT(*) AS n
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""") { (s, dir) =>
    val dim = Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    // segment×type ≈ 30 group keys → 4-partition state layout (the
    // broadcast join itself is stateless; only the complete-mode agg
    // holds state). Bench-layout only.
    Streams.withTwsConf(s, partitions = 4) {
      Streams.runToMemory(s, dir, "graft_static_join", "complete") { ev =>
        ev.join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      }
    }.orderBy("c_mktsegment", "event_type")
  }

  // MapState per-user type counters (TwsCounts): the remaining State API
  // v2 primitive — one map entry per (user, event_type), updated
  // point-wise (an O(1) store get per touched type, not a rewrite of the
  // user's whole profile blob — why MapState exists instead of
  // ValueState[Map]). Graded through a real AvailableNow drain: the
  // one-batch emission IS the exact (user, type) group-by; multi-batch
  // last-emission parity is StreamingSpec's pin. RocksDB conf
  // snapshot/restored as in stream_interval_join_tws.
  q("stream_tws_mapstate_counts",
    """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""") { (s, dir) =>
    import s.implicits._
    import graft.streaming.TwsCounts
    // 4-partition state layout (one RocksDB store per partition; key
    // cardinality is user×type — store-init dominated at 8+)
    Streams.withTwsConf(s, partitions = 4) {
      Streams.drainToMemory(s, s"graft_tws_counts_${math.abs(dir.hashCode)}", {
        val ev = Streams.eventsStream(s, dir)
          .select(col("user_id"), col("event_type"))
          .as[TwsCounts.Ev]
        TwsCounts.counts(ev).toDF()
      })
        // last-emission reduction (r13 review): counts only grow, so the
        // final figure per (user, type) is the MAX across emissions —
        // under the current single-file/single-batch drain this is the
        // identity, and if the fixture ever splits into multiple batches
        // the per-batch running totals still reduce to the same graded
        // rows instead of duplicating them
        .groupBy("user_id", "event_type")
        .agg(max("n").as("n"))
        .orderBy("user_id", "event_type")
    }
  }

  // Batch-seeded streaming state (TwsSeeded): per-user lifetime spend =
  // a SEED computed from orders history (one batch aggregate per
  // custkey) + streamed event increments on top — the migration pattern
  // for moving a pipeline onto streaming without replaying history, and
  // scan_state_store's inverse (state IN as a table). The one-batch
  // drain emits exactly seed + event cents per active user; users with
  // history but no streamed events emit nothing (their state sits
  // seeded, awaiting traffic) — the oracle joins accordingly.
  q("stream_tws_initial_state",
    """WITH s AS (
      |  SELECT o_custkey AS user_id,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS seed
      |  FROM orders GROUP BY 1
      |), ev AS (
      |  SELECT user_id,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS inc
      |  FROM events GROUP BY 1
      |)
      |SELECT ev.user_id,
      |  CAST(ev.inc + COALESCE(s.seed, 0) AS BIGINT) AS lifetime_cents
      |FROM ev LEFT JOIN s ON ev.user_id = s.user_id
      |ORDER BY ev.user_id""") { (s, dir) =>
    import s.implicits._
    import graft.streaming.TwsSeeded
    // stays at the 8-partition default: unlike the pure-drain siblings,
    // this query shuffles the FULL orders seed aggregate through the
    // state layout, so halving partitions halves seed parallelism —
    // measured 1.83 s at 8 vs 2.29 s at 4 (r14)
    Streams.withTwsConf(s) {
      val seeds = Tables(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"))
        .agg(sum(cents(col("o_totalprice"))).cast("long").as("cents"))
        .as[TwsSeeded.Seed]
      Streams.drainToMemory(s, s"graft_tws_seed_${math.abs(dir.hashCode)}", {
        val ev = Streams.eventsStream(s, dir)
          .select(col("user_id"), cents(col("value")).cast("long").as("cents"))
          .as[TwsSeeded.Ev]
        TwsSeeded.totals(ev, seeds).toDF()
      })
        // last-emission reduction (r13 review): event cents are
        // non-negative fixture-wide, so the running total is monotone and
        // MAX = the final lifetime figure even if the drain ever splits
        // into multiple batches (identity under the current one-batch run)
        .groupBy("user_id")
        .agg(max("lifetime_cents").as("lifetime_cents"))
        .orderBy("user_id")
    }
  }

  // cohort retention: users cohorted by first-activity week, retention =
  // distinct active users per (cohort, weeks-since) cell — the canonical
  // product-analytics triangle, built from two aggregates and one join
  // Batch sessionization — gap > 30 min starts a new session; session id
  // is the running count of gap-breaks per user (the standard two-window
  // formulation). user_id is high-cardinality, so the windows parallelize
  // naturally at any scale (unlike the few-key shapes BlockWindow exists
  // for). Second comparisons use floor-to-seconds on BOTH engines
  // (unix_timestamp truncates; DuckDB epoch() keeps the µs fraction).
  q("events_sessionize",
    """WITH e AS (
      |  SELECT user_id, event_id, ts, floor(epoch(ts)) AS sec FROM events
      |), b AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
      |                                   ORDER BY sec, event_id) > 1800
      |         OR lag(sec) OVER (PARTITION BY user_id
      |                           ORDER BY sec, event_id) IS NULL
      |      THEN 1 ELSE 0 END AS brk
      |  FROM e
      |), s AS (
      |  SELECT user_id, sec,
      |    CAST(SUM(brk) OVER (PARTITION BY user_id
      |                        ORDER BY sec, event_id) AS BIGINT) AS session_id
      |  FROM b
      |)
      |SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(min(sec) AS BIGINT) AS start_s, CAST(max(sec) AS BIGINT) AS end_s
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("brk",
        when(col("sec") - lag("sec", 1).over(w) > 1800
          || lag("sec", 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("sec").as("start_s"), max("sec").as("end_s"))
      .orderBy("user_id", "session_id")
  }

  q("events_retention_cohorts",
    """WITH first AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort
      |  FROM events GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
      |)
      |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
      |  CAST((epoch(a.wk) - epoch(f.cohort)) / 604800 AS INT) AS weeks_since,
      |  CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS active_users
      |FROM first f JOIN activity a ON f.user_id = a.user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val activity = ev.select(col("user_id").as("a_uid"),
      date_trunc("week", col("ts")).as("wk")).distinct()
    first.join(activity, col("user_id") === col("a_uid"))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort"))) / 604800)
          .cast("int").as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "weeks_since")
  }

  // First-order Markov transition matrix over user event streams — the
  // behavioral model a product team fits before funnel design: P(next
  // event | current event). One lag/lead window on the user key + one
  // grouped count; probabilities are per-row doubles from exact counts.
  q("events_markov_transitions",
    """WITH s AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |  FROM events
      |)
      |SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS n,
      |  round(CAST(COUNT(*) AS DOUBLE)
      |        / SUM(COUNT(*)) OVER (PARTITION BY event_type), 4) AS p
      |FROM s WHERE nxt IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("event_type"), lead(col("event_type"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy("src")), 4))
      .select(col("src"), col("dst"), col("n").cast("long").as("n"), col("p"))
      .orderBy("src", "dst")
  }

  // Sequence-pattern matching per user — MATCH_RECOGNIZE's core: count
  // non-overlapping view→click→purchase subsequence completions in each
  // user's time-ordered event stream (greedy, state resets after a full
  // match). The 2-field integer automaton (progress, matches) folds in
  // ONE aggregate() HOF per user; the oracle steps the IDENTICAL CASE
  // transition in a per-user recursive CTE. Pure integer state — no
  // float seam; state size O(1) per user, shuffle only on user_id.
  q("events_pattern_match",
    """WITH RECURSIVE d AS (
      |  SELECT user_id, event_type AS et,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS cnt
      |  FROM events
      |), r AS (
      |  SELECT user_id, rn, cnt,
      |    CASE WHEN et = 'view' THEN 1 ELSE 0 END AS p, 0 AS m
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.rn, d.cnt,
      |    CASE WHEN (CASE WHEN r.p = 0 AND d.et = 'view' THEN 1
      |                    WHEN r.p = 1 AND d.et = 'click' THEN 2
      |                    WHEN r.p = 2 AND d.et = 'purchase' THEN 3
      |                    ELSE r.p END) = 3 THEN 0
      |         ELSE (CASE WHEN r.p = 0 AND d.et = 'view' THEN 1
      |                    WHEN r.p = 1 AND d.et = 'click' THEN 2
      |                    WHEN r.p = 2 AND d.et = 'purchase' THEN 3
      |                    ELSE r.p END) END,
      |    r.m + CASE WHEN (CASE WHEN r.p = 0 AND d.et = 'view' THEN 1
      |                    WHEN r.p = 1 AND d.et = 'click' THEN 2
      |                    WHEN r.p = 2 AND d.et = 'purchase' THEN 3
      |                    ELSE r.p END) = 3 THEN 1 ELSE 0 END
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, CAST(cnt AS BIGINT) AS n_events,
      |  CAST(m AS BIGINT) AS n_matches, CAST(p AS INT) AS pending
      |FROM r WHERE rn = cnt ORDER BY user_id""") { (s, dir) =>
    val folded = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("et"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("us"), col("event_id"), col("et"))))
        .as("xs"))
      .withColumn("st", expr(
        """aggregate(xs, named_struct('p', 0, 'm', 0),
          |  (acc, e) -> named_struct(
          |    'p', CASE WHEN (CASE WHEN acc.p = 0 AND e.et = 'view' THEN 1
          |                        WHEN acc.p = 1 AND e.et = 'click' THEN 2
          |                        WHEN acc.p = 2 AND e.et = 'purchase' THEN 3
          |                        ELSE acc.p END) = 3 THEN 0
          |           ELSE (CASE WHEN acc.p = 0 AND e.et = 'view' THEN 1
          |                      WHEN acc.p = 1 AND e.et = 'click' THEN 2
          |                      WHEN acc.p = 2 AND e.et = 'purchase' THEN 3
          |                      ELSE acc.p END) END,
          |    'm', acc.m + CASE WHEN (CASE WHEN acc.p = 0 AND e.et = 'view' THEN 1
          |                      WHEN acc.p = 1 AND e.et = 'click' THEN 2
          |                      WHEN acc.p = 2 AND e.et = 'purchase' THEN 3
          |                      ELSE acc.p END) = 3 THEN 1 ELSE 0 END))""".stripMargin))
    folded.select(col("user_id"), size(col("xs")).cast("long").as("n_events"),
        col("st.m").cast("long").as("n_matches"),
        col("st.p").cast("int").as("pending"))
      .orderBy("user_id")
  }

  // Per-user token-bucket rate limiting over the event stream (cap 5,
  // refill 1 token per 100 s, cost 1): the quota-enforcement decision
  // every ingestion edge makes, replayed as a batch operator. ALL-INTEGER
  // recurrence — refilled = min(cap, tok + Δus div 10^8), admit =
  // refilled ≥ 1, tok' = refilled − admit — folded per user inside ONE
  // aggregate() HOF over the time-sorted event array (the ts_cusum
  // seam); the oracle replays the identical recurrence as a per-user
  // recursive CTE. The min() makes this inexpressible as any window sum.
  q("events_rate_limit",
    """WITH RECURSIVE d AS (
      |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), r AS (
      |  SELECT user_id, event_id, us, rn, 1 AS admit, CAST(4 AS BIGINT) AS tok
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.event_id, d.us, d.rn,
      |    CASE WHEN least(5, r.tok + (d.us - r.us) // 100000000) >= 1
      |         THEN 1 ELSE 0 END,
      |    least(5, r.tok + (d.us - r.us) // 100000000)
      |      - CASE WHEN least(5, r.tok + (d.us - r.us) // 100000000) >= 1
      |             THEN 1 ELSE 0 END
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, event_id, CAST(admit AS INT) AS admitted,
      |  CAST(tok AS BIGINT) AS tokens_after
      |FROM r ORDER BY user_id, event_id""") { (s, dir) =>
    val folded = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("us"), col("event_id")))).as("xs"))
      .withColumn("st", expr(
        """aggregate(xs,
          |  CAST(array() AS array<struct<event_id:bigint,us:bigint,admit:int,tok:bigint>>),
          |  (acc, e) -> array_append(acc, named_struct(
          |    'event_id', e.event_id, 'us', e.us,
          |    'admit', CASE WHEN (CASE WHEN size(acc) = 0 THEN CAST(5 AS BIGINT)
          |        ELSE least(CAST(5 AS BIGINT), element_at(acc, -1).tok
          |          + ((e.us - element_at(acc, -1).us) div 100000000)) END) >= 1
          |      THEN 1 ELSE 0 END,
          |    'tok', (CASE WHEN size(acc) = 0 THEN CAST(5 AS BIGINT)
          |        ELSE least(CAST(5 AS BIGINT), element_at(acc, -1).tok
          |          + ((e.us - element_at(acc, -1).us) div 100000000)) END)
          |      - (CASE WHEN (CASE WHEN size(acc) = 0 THEN CAST(5 AS BIGINT)
          |        ELSE least(CAST(5 AS BIGINT), element_at(acc, -1).tok
          |          + ((e.us - element_at(acc, -1).us) div 100000000)) END) >= 1
          |      THEN 1 ELSE 0 END))))""".stripMargin))
    folded.select(col("user_id"), explode(col("st")).as("e"))
      .select(col("user_id"), col("e.event_id").as("event_id"),
        col("e.admit").cast("int").as("admitted"),
        col("e.tok").cast("long").as("tokens_after"))
      .orderBy("user_id", "event_id")
  }

  // Entropy rate of the user-journey Markov chain — how predictable is the
  // next event given the current one (0 = deterministic funnels, ln k =
  // uniform noise). Per-state conditional entropy H_s and the
  // count-weighted global rate, decomposed so ln only sees INTEGER counts
  // (Det.lnFix, the text_entropy device): H_s = Σ_t c_st·(lnFix c_s −
  // lnFix c_st) / c_s; Σ accumulates exact 128-bit (P16), ONE double
  // division per output. Plan: the lag window on (user, ts) the
  // transitions need anyway, then k²-cell aggregates — nothing row-scale
  // past the first shuffle.
  q("events_entropy_rate",
    s"""WITH tr AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM events
      |), c AS (
      |  SELECT src, dst, COUNT(*) AS cst FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2
      |), cs AS (
      |  SELECT src, SUM(cst) AS c_s FROM c GROUP BY 1
      |), h AS (
      |  SELECT c.src,
      |    SUM(CAST(cst AS HUGEINT)
      |      * (${Det.oLnFix("c_s", 6)} - ${Det.oLnFix("cst", 6)})) AS h6
      |  FROM c JOIN cs ON c.src = cs.src GROUP BY c.src
      |), tot AS (
      |  SELECT SUM(h6) AS h6_tot, SUM(c_s) AS n FROM h JOIN cs ON h.src = cs.src
      |)
      |SELECT h.src, CAST(c_s AS BIGINT) AS n_out,
      |  CAST(floor(CAST(h6 AS DOUBLE) / c_s / 1000000 * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS h_cond,
      |  CAST(floor(CAST(h6_tot AS DOUBLE) / n / 1000000 * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS entropy_rate
      |FROM h JOIN cs ON h.src = cs.src CROSS JOIN tot
      |ORDER BY h.src""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = Tables(s, dir, "events")
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val c = tr.groupBy("src", "dst").agg(count(lit(1)).as("cst"))
    val cs = c.groupBy("src").agg(sum("cst").as("c_s"))
    val h = c.join(cs, "src")
      .select(col("src"),
        (dec(col("cst")) * (Det.lnFix(col("c_s"), 6).cast("long")
          - Det.lnFix(col("cst"), 6).cast("long"))).as("t6"))
      .groupBy("src").agg(sum("t6").as("h6"))
    val tot = h.join(cs, "src").agg(sum("h6").as("h6_tot"), sum("c_s").as("n"))
    h.join(cs, "src").crossJoin(broadcast(tot))
      .select(col("src"), col("c_s").cast("long").as("n_out"),
        (floor(col("h6").cast("double") / col("c_s") / 1000000 * 10000
          + lit(0.5)).cast("double") / 10000).as("h_cond"),
        (floor(col("h6_tot").cast("double") / col("n") / 1000000 * 10000
          + lit(0.5)).cast("double") / 10000).as("entropy_rate"))
      .orderBy("src")
  }

  // DAU / trailing-28-day MAU / stickiness — the engagement dashboard
  // staple. Exact distinct counts both days; the MAU side avoids a
  // sliding DISTINCT window (unsupported and quadratic) by exploding each
  // (user, active day) into the 28 MAU days it covers — linear ×28, all
  // partial-aggregated shuffles on (day, user).
  q("events_dau_mau",
    """WITH d AS (
      |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      |  FROM events
      |), cov AS (
      |  SELECT user_id, CAST(day + k * INTERVAL 1 DAY AS DATE) AS day
      |  FROM (SELECT user_id, day, unnest(range(0, 28)) AS k FROM d)
      |), m AS (SELECT day, COUNT(DISTINCT user_id) AS mau FROM cov GROUP BY day),
      |a AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM d GROUP BY day)
      |SELECT strftime(a.day, '%Y-%m-%d') AS day, CAST(dau AS BIGINT) AS dau,
      |  CAST(mau AS BIGINT) AS mau,
      |  round(CAST(dau AS DOUBLE) / mau, 4) AS stickiness
      |FROM a JOIN m USING (day)
      |ORDER BY day""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .select(to_date(date_trunc("day", col("ts"))).as("day"), col("user_id"))
      .distinct()
    val cov = d.select(col("user_id"),
        explode(sequence(lit(0), lit(27))).as("k"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("day"))
    val m = cov.groupBy("day").agg(countDistinct("user_id").as("mau"))
    val a = d.groupBy("day").agg(countDistinct("user_id").as("dau"))
    a.join(m, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau").cast("long").as("dau"), col("mau").cast("long").as("mau"),
        round(col("dau").cast("double") / col("mau"), 4).as("stickiness"))
      .orderBy("day")
  }

  // First-touch attribution: each purchase credits the EARLIEST click by
  // the same user within the preceding 7 days. One RANGE-frame window
  // (sliding min over event time — peers at the same second included in
  // both engines) finds the first-click second; a left join on that exact
  // second recovers the click id with a min tiebreak. Scale shape: one
  // window shuffle on the high-cardinality user key + one equi-join —
  // never a time-range theta join.
  q("events_attribution",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(ts) // 1000000 AS sec
      |  FROM events
      |), w AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' THEN sec END)
      |    OVER (PARTITION BY user_id ORDER BY sec
      |          RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS fc
      |  FROM e
      |), p AS (SELECT user_id, event_id, sec, fc FROM w WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, sec AS csec, event_id AS cid FROM e
      |      WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id,
      |  CAST(min(c.cid) AS BIGINT) AS click_id,
      |  CAST(p.sec - p.fc AS BIGINT) AS lag_s
      |FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.csec = p.fc
      |GROUP BY p.event_id, p.user_id, p.sec, p.fc
      |ORDER BY p.event_id""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("sec"))
    val w = Window.partitionBy("user_id").orderBy(col("sec"))
      .rangeBetween(-604800, Window.currentRow)
    val withFc = e.withColumn("fc",
      min(when(col("event_type") === "click", col("sec"))).over(w))
    val p = withFc.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("sec"), col("fc"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("sec").as("csec"),
        col("event_id").as("cid"))
    p.join(c, col("user_id") === col("c_uid") && col("csec") === col("fc"),
        "left")
      .groupBy("event_id", "user_id", "sec", "fc")
      .agg(min(col("cid")).cast("long").as("click_id"))
      .select(col("event_id"), col("user_id"), col("click_id"),
        (col("sec") - col("fc")).cast("long").as("lag_s"))
      .orderBy("event_id")
  }

  // 3-step sequence pattern (CEP shape): signup → first click at-or-after
  // it → first purchase at-or-after that click, per user. Each stage is a
  // min-aggregate over a key-joined filter — three linear passes, no
  // pattern automaton state explosion.
  q("stream_pattern_3step",
    """WITH s AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, s.t1, min(e.ts) AS t2
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= s.t1
      |  GROUP BY e.user_id, s.t1
      |), p AS (
      |  SELECT e.user_id, c.t1, c.t2, min(e.ts) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.t2
      |  GROUP BY e.user_id, c.t1, c.t2
      |)
      |SELECT user_id,
      |  CAST(epoch_us(t1) AS BIGINT) AS signup_us,
      |  CAST(epoch_us(t2) AS BIGINT) AS click_us,
      |  CAST(epoch_us(t3) AS BIGINT) AS purchase_us
      |FROM p
      |ORDER BY user_id""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val click = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("u2"), col("ts").as("ts2"))
      .join(signup, col("u2") === col("user_id"))
      .filter(col("ts2") >= col("t1"))
      .groupBy("u2", "t1").agg(min("ts2").as("t2"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u3"), col("ts").as("ts3"))
      .join(click, col("u3") === col("u2"))
      .filter(col("ts3") >= col("t2"))
      .groupBy("u3", "t1", "t2").agg(min("ts3").as("t3"))
    purchase.select(col("u3").as("user_id"),
        unix_micros(col("t1")).as("signup_us"),
        unix_micros(col("t2")).as("click_us"),
        unix_micros(col("t3")).as("purchase_us"))
      .orderBy("user_id")
  }

  // path analysis: per-session ordered event-type sequences, counted across
  // the corpus — the "what do users do" product-analytics query. Path
  // assembly sorts the collected (ts, event_id, type) structs explicitly
  // (collect_list alone has no order guarantee — P10).
  q("stream_session_paths",
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), i AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM o
      |), paths AS (
      |  SELECT user_id, sid,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM i GROUP BY user_id, sid
      |)
      |SELECT path, COUNT(*) AS n
      |FROM paths
      |GROUP BY path
      |ORDER BY n DESC, path
      |LIMIT 25""") { (s, dir) =>
    val sess = Tables(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")),
        ">").as("path"))
    sess.groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(25)
  }

  // stream-stream interval join, batch-graded: clicks matched to the same
  // user's purchases within the following 10 minutes. The identical join
  // (plus watermarks bounding both sides' state) runs as a genuine two-
  // stream join in StreamingSpec — inner interval joins emit on match, so
  // the drained stream equals this batch form row-for-row.
  q("stream_stream_join",
    """SELECT c.user_id, CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
      |       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
      |ORDER BY 1, 2, 3""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
    clicks.join(purchases,
        col("user_id") === col("p_uid") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"),
        unix_micros(col("c_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("purchase_us"))
      .orderBy("user_id", "click_us", "purchase_us")
  }

  // Stream-stream LEFT OUTER interval join — the subtle half of the
  // join surface: matched pairs emit like the inner join, but an
  // UNMATCHED click can only emit (with null purchase columns) once the
  // WATERMARK has closed its 10-minute window — before that the engine
  // must keep it open in case a partner is still in flight. The graded
  // drain pins exactly that semantics: the oracle emits a null row only
  // for clicks whose window closed under the final watermark
  // (= least(max click ts, max purchase ts) under the default min
  // multiple-watermark policy), and clicks still inside it are ABSENT —
  // the correct streaming answer, distinct from a batch left join. The
  // fixture has no click exactly at the watermark boundary, so the
  // <=/< eviction convention cannot flip a row (checked at both SFs).
  // State is the same interval-bounded buffer as the inner join.
  q("stream_stream_left_join",
    """WITH c AS (
      |  SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
      |  WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id AS p_uid, event_id AS p_id, ts AS p_ts FROM events
      |  WHERE event_type = 'purchase'
      |), m AS (
      |  SELECT c.user_id, c.c_id, c.c_ts, p.p_id, p.p_ts
      |  FROM c JOIN p ON c.user_id = p.p_uid
      |   AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 10 MINUTE
      |), wm AS (
      |  SELECT least((SELECT max(c_ts) FROM c),
      |               (SELECT max(p_ts) FROM p)) AS w
      |)
      |SELECT user_id, CAST(c_id AS BIGINT) AS click_id,
      |  CAST(epoch_us(c_ts) AS BIGINT) AS click_us,
      |  CAST(p_id AS BIGINT) AS purchase_id,
      |  CAST(epoch_us(p_ts) AS BIGINT) AS purchase_us
      |FROM m
      |UNION ALL
      |SELECT c.user_id, CAST(c.c_id AS BIGINT),
      |  CAST(epoch_us(c.c_ts) AS BIGINT), NULL, NULL
      |FROM c, wm
      |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.c_id = c.c_id)
      |  AND c.c_ts + INTERVAL 10 MINUTE <= wm.w
      |ORDER BY 1, 2, 4 NULLS FIRST""") { (s, dir) =>
    val clicks = Streams.eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "0 seconds")
    val purch = Streams.eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "0 seconds")
    val joined = clicks.join(purch,
      col("user_id") === col("p_uid") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    // state layout sized to key cardinality, not the session's 32: a
    // stream-stream join opens FOUR state stores per partition, so the
    // r13 bench saw 32×4 store inits dominate (7.9 s → 2.2–2.8 s at 4
    // partitions, measured); output is layout-independent
    Streams.withTwsConf(s, partitions = 4) {
      Streams.drainToMemory(s,
        s"graft_louter_${math.abs(dir.hashCode)}", joined.select(
          col("user_id"), col("c_id").as("click_id"),
          unix_micros(col("c_ts")).as("click_us"),
          col("p_id").as("purchase_id"),
          unix_micros(col("p_ts")).as("purchase_us")))
    }
      .orderBy(col("user_id"), col("click_id"),
        col("purchase_id").asc_nulls_first)
  }

  // FULL outer completes the stream-stream join surface with the
  // TWO-SIDED flush rule, and the two sides flush under DIFFERENT
  // clocks — the asymmetry this query exists to pin: an unmatched click
  // waits out its whole forward window (c_ts + 10 min vs the
  // watermark), while an unmatched purchase only waits for the
  // watermark to pass its OWN timestamp (its candidate partners all
  // precede it, so nothing in flight can match once wm ≥ p_ts; eviction
  // measured STRICT — the purchase exactly at the final watermark stays
  // open and is absent, which the engine run confirms: 1971 right-null
  // rows, not 1972). Same interval-bounded state as the inner join,
  // both buffers now emitting their corpse rows.
  q("stream_stream_full_join",
    """WITH c AS (
      |  SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
      |  WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id AS p_uid, event_id AS p_id, ts AS p_ts FROM events
      |  WHERE event_type = 'purchase'
      |), m AS (
      |  SELECT c.user_id, c.c_id, c.c_ts, p.p_id, p.p_ts
      |  FROM c JOIN p ON c.user_id = p.p_uid
      |   AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 10 MINUTE
      |), wm AS (
      |  SELECT least((SELECT max(c_ts) FROM c),
      |               (SELECT max(p_ts) FROM p)) AS w
      |)
      |SELECT user_id, CAST(c_id AS BIGINT) AS click_id,
      |  CAST(epoch_us(c_ts) AS BIGINT) AS click_us,
      |  CAST(p_id AS BIGINT) AS purchase_id,
      |  CAST(epoch_us(p_ts) AS BIGINT) AS purchase_us
      |FROM m
      |UNION ALL
      |SELECT c.user_id, CAST(c.c_id AS BIGINT),
      |  CAST(epoch_us(c.c_ts) AS BIGINT), NULL, NULL
      |FROM c, wm
      |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.c_id = c.c_id)
      |  AND c.c_ts + INTERVAL 10 MINUTE < wm.w
      |UNION ALL
      |SELECT p.p_uid, NULL, NULL, CAST(p.p_id AS BIGINT),
      |  CAST(epoch_us(p.p_ts) AS BIGINT)
      |FROM p, wm
      |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.p_id)
      |  AND p.p_ts < wm.w
      |ORDER BY 1, 2 NULLS FIRST, 4 NULLS FIRST""") { (s, dir) =>
    val clicks = Streams.eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "0 seconds")
    val purch = Streams.eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "0 seconds")
    val joined = clicks.join(purch,
      col("user_id") === col("p_uid") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      "full_outer")
    // 4-partition state layout, as in the left join above (4 stores per
    // partition; the session's 32 made store-init the whole runtime)
    Streams.withTwsConf(s, partitions = 4) {
      Streams.drainToMemory(s,
        s"graft_fouter_${math.abs(dir.hashCode)}", joined.select(
          coalesce(col("user_id"), col("p_uid")).as("user_id"),
          col("c_id").as("click_id"),
          unix_micros(col("c_ts")).as("click_us"),
          col("p_id").as("purchase_id"),
          unix_micros(col("p_ts")).as("purchase_us")))
    }
      .orderBy(col("user_id"), col("click_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)
  }

  // The SAME interval join built explicitly on transformWithState
  // (TwsIntervalJoin): two ListState buffers + a watermark-keyed pruning
  // timer — the multi-state/timer composition the State API v2 exists
  // for, graded through a REAL readStream drained with AvailableNow and
  // checked against the identical DuckDB interval-join oracle as the
  // engine-native twin above. Keep both: the native join is the
  // production default; the tws form is the template for join variants
  // the engine lacks (e.g. emit-once-per-left, custom tie-breaks,
  // per-side TTL policies). Scale: state is O(rows within one window
  // horizon) per key — the same bound the native join keeps, here
  // enforced by the pruning timer (StreamingSpec pins eviction and
  // one-batch == multi-batch pair parity). The RocksDB provider conf the
  // API requires is snapshot/restored around the drain so later queries
  // in the session keep the default store.
  q("stream_interval_join_tws",
    """SELECT c.user_id,
      |  CAST(c.event_id AS BIGINT) AS click_id,
      |  CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
      |  CAST(p.event_id AS BIGINT) AS purchase_id,
      |  CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
      |ORDER BY 1, 2, 4""") { (s, dir) =>
    import s.implicits._
    import graft.streaming.TwsIntervalJoin
    // 4-partition state layout (two ListState buffers + timers per
    // partition; measured 4.32 s at 32 → 2.48 s at 8 → the remaining
    // init cost is per-store, so 4 halves it again; bench-layout only)
    Streams.withTwsConf(s, partitions = 4) {
      Streams.drainToMemory(s, s"graft_tws_ij_${math.abs(dir.hashCode)}", {
        val ev = Streams.eventsStream(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .withWatermark("ts", "0 seconds")
          .select(col("ts"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"),
            when(col("event_type") === "click", 0).otherwise(1).as("side"))
          .as[TwsIntervalJoin.Tagged]
        TwsIntervalJoin.pairs(ev, windowUs = 600000000L).toDF()
      }).orderBy("user_id", "click_id", "purchase_id")
    }
  }

  // real readStream → parquet sink with checkpoint, then re-read: the
  // Alert edge detection — emit only UP-CROSSINGS of a threshold (prev
  // value at-or-below, current above), the debounce every alerting
  // pipeline needs to avoid re-firing on every sample while a metric sits
  // above the line. Integer-cents comparison (no double-boundary seam);
  // one lag window per user + one aggregate. Streaming twin: the same
  // lag-free formulation runs under mapGroupsWithState with the previous
  // sample as keyed state.
  q("events_threshold_crossings",
    """WITH v AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) // 1000000 AS sec,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events
      |), l AS (
      |  SELECT user_id, event_id, sec, c,
      |    lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM v
      |), x AS (
      |  SELECT user_id, event_id, sec FROM l
      |  WHERE c > 25000 AND prev IS NOT NULL AND prev <= 25000
      |)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_crossings,
      |  CAST(MIN(sec) AS BIGINT) AS first_cross_sec,
      |  CAST(MAX(sec) AS BIGINT) AS last_cross_sec
      |FROM x GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("ts").cast("long").as("sec"), Det.cents(col("value")).as("c"))
      .withColumn("prev", lag("c", 1).over(w))
      .filter(col("c") > 25000 && col("prev").isNotNull && col("prev") <= 25000)
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_crossings"),
        min("sec").cast("long").as("first_cross_sec"),
        max("sec").cast("long").as("last_cross_sec"))
      .orderBy("user_id")
  }

  // The SAME edge detection as a keyed state machine
  // (streaming/Crossings.scala, flatMapGroupsWithState): one long of state
  // per user, emits per-crossing rows; batch invocation is the graded
  // path, StreamingSpec drives it incrementally across micro-batches.
  q("stream_threshold_alert",
    """WITH v AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) // 1000000 AS sec,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events
      |), l AS (
      |  SELECT user_id, event_id, sec, c,
      |    lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM v
      |)
      |SELECT user_id, event_id, CAST(sec AS BIGINT) AS sec,
      |  CAST(c AS BIGINT) AS cents
      |FROM l
      |WHERE c > 25000 AND prev IS NOT NULL AND prev <= 25000
      |ORDER BY user_id, event_id""") { (s, dir) =>
    import s.implicits._
    val samples = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), Det.cents(col("value")).as("cents"))
      .as[graft.streaming.Crossings.Sample]
    graft.streaming.Crossings.crossings(samples, thresholdCents = 25000L)
      .toDF()
      .select(col("user_id"), col("event_id"), col("sec"), col("cents"))
      .orderBy("user_id", "event_id")
  }

  // the token bucket through the STREAMING tier — flatMapGroupsWithState
  // state machine (streaming/RateLimit.scala), graded in batch mode
  // against the identical recursive-CTE oracle as events_rate_limit; the
  // micro-batch state carry is exercised in StreamingSpec
  q("stream_rate_limit",
    """WITH RECURSIVE d AS (
      |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), r AS (
      |  SELECT user_id, event_id, us, rn, 1 AS admit, CAST(4 AS BIGINT) AS tok
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.event_id, d.us, d.rn,
      |    CASE WHEN least(5, r.tok + (d.us - r.us) // 100000000) >= 1
      |         THEN 1 ELSE 0 END,
      |    least(5, r.tok + (d.us - r.us) // 100000000)
      |      - CASE WHEN least(5, r.tok + (d.us - r.us) // 100000000) >= 1
      |             THEN 1 ELSE 0 END
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, event_id, CAST(admit AS INT) AS admitted,
      |  CAST(tok AS BIGINT) AS tokens_after
      |FROM r ORDER BY user_id, event_id""") { (s, dir) =>
    import s.implicits._
    val evs = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[graft.streaming.RateLimit.Ev]
    graft.streaming.RateLimit.decide(evs)
      .toDF()
      .select(col("user_id"), col("event_id"),
        col("admitted").cast("int").as("admitted"),
        col("tokens_after").cast("long").as("tokens_after"))
      .orderBy("user_id", "event_id")
  }

  // sink's content must equal the batch table exactly
  q("stream_foreach_sink",
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""") { (s, dir) =>
    Streams.sinkParquet(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  // foreachBatch idempotent upsert (UpsertSink) — the exactly-once
  // batch-sink pattern for plain-file tables: each micro-batch MERGEs
  // its per-user partial (count, cents) into a versioned keyed parquet
  // layout and commits the batchId; a replayed batch (foreachBatch is
  // at-least-once per batchId) finds its commit marker and skips, so
  // retry never double-counts — pinned in StreamingSpec by re-applying
  // a batch and by multi-batch == one-batch parity. The graded path
  // drains the real readStream through the real sink, then reads the
  // table at its committed version. Scale: one keyed shuffle join of
  // table × batch per merge; the `_latest` pointer swap is O(1).
  q("stream_foreachbatch_upsert",
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM events GROUP BY user_id
      |ORDER BY user_id""") { (s, dir) =>
    import graft.streaming.UpsertSink
    val tag = math.abs(dir.hashCode).toString
    val tbl = s"/tmp/graft_io/upsert_tbl_$tag"
    val chk = s"/tmp/graft_io/upsert_chk_$tag"
    UpsertSink.reset(tbl)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(chk)).deleteRecursively()
    val q = Streams.eventsStream(s, dir)
      .select(col("user_id"), cents(col("value")).cast("long").as("c"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        UpsertSink.merge(b, tbl, id); ()
      }
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    UpsertSink.read(s, tbl)
      .select(col("user_id"), col("n_events"), col("cents"))
      .orderBy("user_id")
  }

  // State-store RESCALING — the operational move scan_state_store sets
  // up (r14, verdict ask #7): a stateful query's partition layout is
  // FROZEN into its checkpoint at first start (each state partition is
  // its own store), so changing parallelism means MIGRATING state, not
  // editing a conf. The offline migration this query grades: phase 1
  // runs a per-user count at FOUR state partitions and keeps the
  // checkpoint; phase 2 reads that state back as a table (statestore
  // source — one task per store, no replay) and seeds a NEW query at
  // EIGHT partitions (tws initial state), which processes the remaining
  // events. The stitched readout must equal the single-layout batch
  // aggregate over ALL events — proving no key was lost or double-
  // counted across the re-layout. Scale: both phases are one keyed
  // shuffle each; the migration itself never replays the source.
  q("stream_state_rescale",
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events
      |GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    import s.implicits._
    import graft.streaming.TwsSeeded
    import org.apache.spark.sql.types._
    val tag = math.abs(dir.hashCode).toString
    val base = s"/tmp/graft_io/rescale_$tag"
    import scala.reflect.io.Directory
    new Directory(new java.io.File(base)).deleteRecursively()
    // halves split by event_id parity — a deterministic "history" vs
    // "post-migration traffic" cut that exercises users on both sides
    val ev = Tables(s, dir, "events").select(col("user_id"), col("event_id"))
    // coalesced staging: 32 shards × 2 halves of a ≤600 k-row fixture is
    // pure small-file overhead for the two drains that read them back
    ev.filter(col("event_id") % 2 === 0).coalesce(4).write.parquet(s"$base/h1")
    ev.filter(col("event_id") % 2 =!= 0).coalesce(4).write.parquet(s"$base/h2")
    val halfSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType)))
    // phase 1: count state at 4 partitions, checkpoint retained
    Streams.withTwsConf(s, partitions = 4) {
      val q1 = s.readStream.schema(halfSchema).parquet(s"$base/h1")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"graft_rescale1_$tag")
        .outputMode("complete")
        .option("checkpointLocation", s"$base/chk1")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q1.awaitTermination()
    }
    // phase 2: state OUT as a table, IN as initial state at 8 partitions
    // cached: the seeds frame is consumed twice — as phase-2 initial
    // state and again for the stitched readout — and a second
    // statestore scan would contradict the one-scan migration story
    // (r14 review); catalog-sized, so the cache is cheap
    val seeds = s.read.format("statestore").load(s"$base/chk1")
      .select(col("key.user_id").as("user_id"),
        col("value.count").as("cents"))
      .as[TwsSeeded.Seed]
      .transform(graft.ops.PlanMemo.pin)
    val out = Streams.withTwsConf(s, partitions = 8) {
      Streams.drainToMemory(s, s"graft_rescale2_$tag", {
        val ev2 = s.readStream.schema(halfSchema).parquet(s"$base/h2")
          .select(col("user_id"), lit(1L).as("cents")).as[TwsSeeded.Ev]
        TwsSeeded.totals(ev2, seeds).toDF()
      })
    }
    // stitched readout: phase-2-touched users emit their final total
    // (monotone → MAX, as in stream_tws_initial_state); seeded-but-
    // silent users keep their migrated phase-1 count
    val last = out.groupBy("user_id").agg(max("lifetime_cents").as("n2"))
    seeds.toDF().select(col("user_id"), col("cents").as("n_seed"))
      .join(last, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n2"), col("n_seed")).cast("long").as("n"))
      .orderBy("user_id")
  }

  // CHECKPOINT RESUME under a conf delta — the upgrade walk that pairs
  // with stream_state_rescale (r15, verdict ask #6): rescale showed how
  // to MIGRATE state when the layout must change; this key pins what
  // happens when an operator RESUMES a checkpoint while the session
  // confs have drifted — the checkpoint wins. Phase 1 runs a streaming
  // dropDuplicates at 4 shuffle partitions into a parquet sink and
  // stops; phase 2 appends the other half of the source files and
  // RESUMES the same checkpoint under a drifted session (8
  // partitions): Spark replays the frozen confs from the checkpoint's
  // offset metadata, so the state layout stays 4 partitions (require'd
  // in-run from the state dir fan-out) and dedup state carries across
  // the restart — a user first seen in phase 1 must NOT re-emit in
  // phase 2. The parquet sink's _spark_metadata commit log makes the
  // two-phase output exactly-once. Readout = one row per distinct
  // user. NOT every conf is frozen-and-replayed, though: the
  // state-store CHECKPOINT FORMAT is a hard wall — resuming a v1
  // checkpoint under checkpointFormatVersion=2 fails fast with
  // INVALID_LOG_VERSION (measured; Round15Spec pins it), so a format
  // upgrade is a MIGRATION (stream_state_rescale's export→seed walk),
  // never a restart flag. At scale this is the routine
  // restart-after-deploy: conf drift between submissions must never
  // corrupt or re-shuffle live state.
  q("stream_checkpoint_resume",
    """SELECT DISTINCT user_id FROM events ORDER BY user_id""") { (s, dir) =>
    import org.apache.spark.sql.types._
    val tag = math.abs(dir.hashCode).toString
    val base = s"/tmp/graft_io/chkresume_$tag"
    import scala.reflect.io.Directory
    new Directory(new java.io.File(base)).deleteRecursively()
    val ev = Tables(s, dir, "events").select(col("user_id"), col("event_id"))
    // 2 files per half: the drains' cost is listing + state-store init,
    // not scan parallelism on a ≤600 k-row fixture
    ev.filter(col("event_id") % 2 === 0).coalesce(2)
      .write.parquet(s"$base/src")
    val srcSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType)))
    def drain(): Unit = {
      val q = s.readStream.schema(srcSchema).parquet(s"$base/src")
        .dropDuplicates("user_id").select("user_id")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.engine.Confs.withConfs(s)(
      "spark.sql.shuffle.partitions" -> "4") {
      drain()
    }
    // second half lands in the SAME source dir after the stop
    ev.filter(col("event_id") % 2 =!= 0).coalesce(2)
      .write.mode("append").parquet(s"$base/src")
    graft.engine.Confs.withConfs(s)(
      "spark.sql.shuffle.partitions" -> "8") {
      drain()
    }
    // the checkpoint's layout won over the drifted session conf
    val stateParts = Option(new java.io.File(s"$base/chk/state/0").listFiles)
      .map(_.count(f => f.isDirectory && f.getName.forall(_.isDigit)))
      .getOrElse(0)
    require(stateParts == 4,
      s"resume re-laid state to $stateParts partitions under a conf delta")
    Tables.parquet(s, s"$base/out").select("user_id").orderBy("user_id")
  }

  // CDC upsert through the streaming tier — the events stream read as a
  // changelog on per-user profile rows ('error' ops are deletes, all
  // others upserts), resolved last-writer-wins by EVENT time (ts,
  // event_id), not arrival order, via the keyed state machine in
  // streaming/CdcUpsert.scala (flatMapGroupsWithState; state = one
  // 4-field winner per key). Deleted keys surface with a tombstone flag,
  // the changelog-complete shape a downstream MERGE consumes. The winner
  // is a MAX, so micro-batch boundaries cannot change the result —
  // StreamingSpec pins streaming-mode last-emission parity with this
  // graded batch path.
  q("stream_cdc_upsert",
    """WITH r AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS del,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |SELECT user_id, ts_us, cents, CAST(del AS INT) AS deleted
      |FROM r WHERE rn = 1
      |ORDER BY user_id""") { (s, dir) =>
    import s.implicits._
    val ops = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), Det.cents(col("value")).cast("long").as("cents"),
        (col("event_type") === "error").as("del"))
      .as[graft.streaming.CdcUpsert.Op]
    graft.streaming.CdcUpsert.upserts(ops)
      .toDF()
      .orderBy("user_id")
  }

  // Stationary distribution of the session transition chain — "where does
  // a user session spend its time in the long run": fixed-16-round power
  // iteration over the event-type transition matrix. Scale design: the
  // corpus collapses to the k×k count matrix in ONE user-partitioned
  // window + aggregate (k = event-type catalog, bounded by design — the
  // BPE-merge-table collect precedent), and the iteration runs
  // driver-side in BigInt over ≤ k² integers. Determinism: p lives at
  // 1e12 fixed point and every term floors p(s)·c(s,t)/n(s) in exact
  // integer arithmetic (BigInt here, HUGEINT in the oracle), so the sum
  // order cannot matter; dangling types (no outgoing transitions —
  // absent at the fixture, real at scale) self-loop, the standard
  // PageRank-style mass fix. The oracle unrolls the SAME 16 iterations
  // as chained CTEs. Audit row: formula_audit.audit_markov_steady.
  private val markovIters = 16
  private def markovSteadySql: String = {
    val iters = (1 to markovIters).map { i =>
      s"""p$i AS (
         |  SELECT ty.ty, CAST(COALESCE(SUM(
         |      CAST(p.p AS HUGEINT) * cc.c // nn.n), 0) AS BIGINT) AS p
         |  FROM ty LEFT JOIN cc ON cc.t = ty.ty
         |          LEFT JOIN p${i - 1} p ON p.ty = cc.s
         |          LEFT JOIN nn ON nn.s = cc.s
         |  GROUP BY ty.ty
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH sq AS (
       |  SELECT event_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events
       |), c0 AS (
       |  SELECT event_type AS s, nxt AS t, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2
       |), ty AS (SELECT DISTINCT event_type AS ty FROM events),
       |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ty),
       |cc AS (
       |  SELECT s, t, c FROM c0
       |  UNION ALL
       |  SELECT ty, ty, CAST(1 AS BIGINT) FROM ty
       |  WHERE ty NOT IN (SELECT s FROM c0)
       |), nn AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM cc GROUP BY s),
       |p0 AS (SELECT ty, 1000000000000 // k AS p FROM ty CROSS JOIN k),
       |$iters
       |SELECT ty.ty AS event_type,
       |  CAST(COALESCE(n0.n, 0) AS BIGINT) AS out_transitions,
       |  CAST(pf.p AS DOUBLE) / 1000000000000 AS steady_prob
       |FROM ty
       |LEFT JOIN (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM c0 GROUP BY s) n0
       |  ON ty.ty = n0.s
       |JOIN p$markovIters pf ON ty.ty = pf.ty
       |ORDER BY event_type""".stripMargin
  }

  q("events_markov_steady", markovSteadySql) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Tables(s, dir, "events")
    val countsDf = ev
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("c"))
    val counts = graft.ops.BoundedCollect
      .rows(countsDf, "events_markov_steady transition counts")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val types = graft.ops.BoundedCollect
      .rows(ev.select("event_type").distinct(), "events_markov_steady types")
      .map(_.getString(0)).sorted.toSeq
    val realOut: Map[String, Long] = counts.groupBy(_._1._1)
      .map { case (s0, m) => s0 -> m.values.sum }
    // dangling self-loop fix (types with no outgoing transitions)
    val cm: Seq[(String, String, BigInt)] =
      types.flatMap { s0 =>
        if (realOut.contains(s0))
          types.flatMap(t0 => counts.get((s0, t0))
            .map(c => (s0, t0, BigInt(c))))
        else Seq((s0, s0, BigInt(1)))
      }
    val n: Map[String, BigInt] = cm.groupBy(_._1)
      .map { case (s0, v) => s0 -> v.map(_._3).sum }
    val scale = BigInt(1000000000000L)
    var p: Map[String, BigInt] = types.map(_ -> scale / types.size).toMap
    for (_ <- 1 to markovIters) {
      p = types.map { t0 =>
        t0 -> cm.collect { case (s0, `t0`, c) => p(s0) * c / n(s0) }
          .foldLeft(BigInt(0))(_ + _)
      }.toMap
    }
    import s.implicits._
    types.map(t0 => (t0, realOut.getOrElse(t0, 0L), p(t0).toLong))
      .toDF("event_type", "out_transitions", "pfix")
      .select(col("event_type"),
        col("out_transitions").cast("long").as("out_transitions"),
        (col("pfix").cast("double") / lit(1000000000000L)).as("steady_prob"))
      .orderBy("event_type")
  }

  // Ingest-side near-dup detection: MinHash band buckets into a keyed
  // state store, each bucket remembering its smallest doc_id (the
  // "anchor"); a doc is flagged when ANY of its 8 bands lands in a bucket
  // anchored by a smaller id — the drop/flag-at-ingest decision a
  // streaming corpus pipeline makes BEFORE offline verification (the
  // batch family's llm_dedup_minhash holds the verified-pair contract).
  // flatMapGroupsWithState (NearDedup.bucketHits) runs the same operator
  // in batch (graded here: anchor = bucket min, a pure corpus function)
  // and in streaming (state across micro-batches; in-order parity pinned
  // by StreamingSpec). Scale: state is one long per non-empty bucket,
  // shuffle key is the 8-byte (band, bucket) — never all-pairs. The
  // oracle reuses llm_dedup_minhash's shingle/signature/band CTEs and
  // replays anchor = min over the doc's buckets of the bucket min.
  q("stream_near_dedup",
    s"""WITH ${LlmOps.oShingles},
       |${LlmOps.oMinhashBands},
       |bm AS (
       |  SELECT band, bucket, MIN(doc_id) AS m
       |  FROM band GROUP BY band, bucket
       |),
       |an AS (
       |  SELECT b.doc_id, MIN(bm.m) AS anchor
       |  FROM band b JOIN bm ON b.band = bm.band AND b.bucket = bm.bucket
       |  GROUP BY b.doc_id
       |)
       |SELECT doc_id, anchor,
       |  CAST(CASE WHEN anchor < doc_id THEN 1 ELSE 0 END AS INT) AS is_dup
       |FROM an ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val rows = graft.ops.Dedup.minhashBands(Tables(s, dir, "documents"),
        "text", "doc_id", k = 3, numHashes = 32, bands = 8)
      .select(col("id").as("doc_id"), col("band").cast("int").as("band"),
        col("bucket"))
      .as[graft.streaming.NearDedup.BandRow]
    graft.streaming.NearDedup.bucketHits(rows)
      .groupBy("doc_id")
      .agg(min(col("anchor")).as("anchor"))
      .select(col("doc_id"), col("anchor"),
        (col("anchor") < col("doc_id")).cast("int").as("is_dup"))
      .orderBy("doc_id")
  }
}
