package graft.queries

import graft.ops.PlanMemo
import graft.engine.{Det, QueryPack, Tables}
import graft.ops.BlockWindow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / experimentation operators over the `events` stream table:
  * calendar resampling with forward fill, linear-interpolation gap fill,
  * EWMA smoothing, rolling correlation, Welch's t-test (A/B experiment
  * readout), and RFM segmentation. These are the batch-analytics shapes a
  * feature-store / metrics pipeline runs next to the LLM-data operators.
  *
  * Determinism contract (SURVEY §5.4): every value that crosses an
  * aggregation boundary is integer fixed-point (`Det.fix`/`Det.cents` —
  * BIGINT sums are order-independent and exact in both engines); derived
  * statistics are computed per-row in double with IDENTICAL expression
  * trees on the Spark and DuckDB sides and quantized to 4 dp via the
  * floor(x·10⁴+0.5) form (never `round` — P12).
  */
object TimeSeriesOps extends QueryPack {

  // Resample each user's event stream onto a daily calendar grid and
  // forward-fill the last observed value across gap days — the standard
  // "as-of state per day" shape (feature stores, balance snapshots).
  // Scale shape (100 TB): the grid explode is |user| × |span days| rows —
  // linear in the OUTPUT, never a cross join; the daily-close pick and the
  // fill are one window shuffle each on the high-cardinality user key.
  // Leading nulls cannot occur: each user's grid starts on the user's own
  // first observed day.
  q("ts_resample_ffill",
    """WITH e AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts,
      |    event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), daily AS (
      |  SELECT user_id, day, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, day
      |      ORDER BY ts DESC, event_id DESC) AS rn FROM e
      |  ) WHERE rn = 1
      |), span AS (
      |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
      |), grid AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span
      |)
      |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
      |  CAST(last_value(daily.v IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100 AS v,
      |  CASE WHEN daily.v IS NULL THEN 'fill' ELSE 'obs' END AS src
      |FROM grid g LEFT JOIN daily
      |  ON g.user_id = daily.user_id AND g.day = daily.day
      |ORDER BY g.user_id, day""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"),
        col("ts"), col("event_id"), Det.cents(col("value")).as("v"))
    val wDay = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = e.withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1).select(col("user_id"), col("day"), col("v"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wFill = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        (last(col("v"), ignoreNulls = true).over(wFill).cast("double") / 100).as("v"),
        when(col("v").isNull, "fill").otherwise("obs").as("src"))
      .orderBy("user_id", "day")
  }

  // Same daily grid, but gaps are LINEARLY INTERPOLATED between the
  // surrounding observations instead of held flat — the resampling mode
  // for continuous signals (sensor readings, prices). Neighbor lookup is
  // two ignore-nulls window passes (previous obs from the backward frame,
  // next obs from the forward frame); the interpolation itself is pure
  // per-row IEEE double math on integer-cent endpoints and integer day
  // offsets, so both engines compute bit-identical cells (§5.4 P2/P12).
  q("ts_gap_fill_interp",
    """WITH e AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts,
      |    event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), daily AS (
      |  SELECT user_id, day, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, day
      |      ORDER BY ts DESC, event_id DESC) AS rn FROM e
      |  ) WHERE rn = 1
      |), span AS (
      |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
      |), grid AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span
      |), n AS (
      |  SELECT g.user_id, g.day, daily.v,
      |    last_value(daily.v IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN daily.v IS NOT NULL THEN g.day END IGNORE NULLS)
      |      OVER wp AS pd,
      |    first_value(daily.v IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN daily.v IS NOT NULL THEN g.day END IGNORE NULLS)
      |      OVER wf AS nd
      |  FROM grid g LEFT JOIN daily
      |    ON g.user_id = daily.user_id AND g.day = daily.day
      |  WINDOW
      |    wp AS (PARTITION BY g.user_id ORDER BY g.day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY g.user_id ORDER BY g.day
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE) / 100
      |       ELSE floor((CAST(pv AS DOUBLE)
      |                   + ((CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
      |                      * date_diff('day', pd, day) / date_diff('day', pd, nd)))
      |                  / 100 * 10000 + 0.5) / 10000 END AS v,
      |  CASE WHEN v IS NULL THEN 'interp' ELSE 'obs' END AS src
      |FROM n
      |ORDER BY user_id, day""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"),
        col("ts"), col("event_id"), Det.cents(col("value")).as("v"))
    val wDay = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = e.withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1).select(col("user_id"), col("day"), col("v"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wp = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("day"))
    val n = grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(wp).as("pv"),
        last(obsDay, ignoreNulls = true).over(wp).as("pd"),
        first(col("v"), ignoreNulls = true).over(wf).as("nv"),
        first(obsDay, ignoreNulls = true).over(wf).as("nd"))
    val interp = floor(
      (col("pv").cast("double")
        + ((col("nv").cast("double") - col("pv").cast("double"))
           * datediff(col("day"), col("pd")) / datediff(col("nd"), col("pd"))))
        / 100 * 10000 + lit(0.5)) / 10000
    n.select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        when(col("v").isNotNull, col("v").cast("double") / 100)
          .otherwise(interp).as("v"),
        when(col("v").isNull, "interp").otherwise("obs").as("src"))
      .orderBy("user_id", "day")
  }

  // EWMA smoothing (α = 0.3) of each user's daily-average value series —
  // the anomaly-baseline / trend signal. The recursion y_t = αx_t +
  // (1-α)y_{t-1} is inherently sequential IN TIME but embarrassingly
  // parallel ACROSS users, so each user's (bounded: ≤ calendar days)
  // series folds inside one task via a higher-order `aggregate`, never a
  // driver loop. Daily inputs are 4-dp-quantized BEFORE the fold and the
  // fold's arithmetic is written identically on both sides, so every
  // intermediate double is bit-identical (the oracle folds the same
  // recurrence through a recursive CTE — one iteration per day across all
  // users at once).
  q("ts_ewma",
    """WITH RECURSIVE daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS DOUBLE) / 10000 AS x
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), d AS (
      |  SELECT user_id, day, x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM daily
      |), r AS (
      |  SELECT user_id, day, rn, x, x AS ew FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.day, d.rn, d.x,
      |    CAST(0.3 AS DOUBLE) * d.x + CAST(0.7 AS DOUBLE) * r.ew
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, x,
      |  floor(ew * 10000 + 0.5) / 10000 AS ewma
      |FROM r
      |ORDER BY user_id, day""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        Det.avgFix(col("s1"), 4, col("n")).as("x"))
    val folded = daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("xs"))
      .withColumn("ews", expr(
        "aggregate(xs, CAST(array() AS array<double>), (acc, e) -> " +
          "array_append(acc, CASE WHEN size(acc) = 0 THEN e.x " +
          "ELSE CAST(0.3 AS DOUBLE) * e.x " +
          "+ CAST(0.7 AS DOUBLE) * element_at(acc, -1) END))"))
    folded
      .select(col("user_id"), col("ews"), posexplode(col("xs")))
      .select(col("user_id"),
        date_format(col("col.day"), "yyyy-MM-dd").as("day"),
        col("col.x").as("x"),
        (floor(element_at(col("ews"), col("pos") + 1) * 10000 + lit(0.5)) / 10000)
          .as("ewma"))
      .orderBy("user_id", "day")
  }

  // Rolling Pearson correlation between quantity and revenue over each
  // supplier's last 11 shipments. The frame statistics are five INTEGER
  // window sums (order-independent, exact — §5.4 P2); the correlation is
  // assembled per-row from those BIGINTs in one closed-form double
  // expression, so there is no engine-specific co-moment accumulation
  // (Spark's and DuckDB's built-in `corr` use different update orders and
  // would diverge in the last ulp). Degenerate frames (zero variance on
  // either side) emit NULL via an exact integer test, not a double
  // compare. One window shuffle on the high-cardinality supplier key.
  // (l_orderkey, l_linenumber) is NOT unique in this fixture — measured:
  // duplicate pairs exist with different shipdates — so BOTH the window
  // order and the presentation sort carry (shipdate, x, y) tiebreaks.
  // Rows still tied after that are interchangeable (identical in every
  // column the frame sums read), so frame CONTENT is deterministic even
  // though their relative order is not; the trailing `r NULLS FIRST`
  // pins the presentation order of such twins (DuckDB defaults to NULLS
  // LAST on ASC, Spark to NULLS FIRST — spelled out so both agree).
  q("win_rolling_corr",
    s"""WITH b AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |    strftime(l_shipdate, '%Y-%m-%d') AS ship,
      |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
      |    ${Det.oCents("l_extendedprice")} AS y
      |  FROM lineitem
      |), w AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, ship, x, y,
      |    COUNT(*) OVER fr AS n,
      |    SUM(x) OVER fr AS sx, SUM(y) OVER fr AS sy,
      |    SUM(x * y) OVER fr AS sxy,
      |    SUM(x * x) OVER fr AS sxx, SUM(y * y) OVER fr AS syy
      |  FROM b
      |  WINDOW fr AS (PARTITION BY l_suppkey
      |    ORDER BY ship, l_orderkey, l_linenumber, x, y
      |    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
      |)
      |SELECT l_suppkey, l_orderkey, l_linenumber, ship, x, y,
      |  CAST(n AS BIGINT) AS n,
      |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
      |       ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |                         * CAST(n * syy - sy * sy AS DOUBLE))
      |                  * 10000 + 0.5) / 10000 END AS r
      |FROM w
      |ORDER BY l_suppkey, l_orderkey, l_linenumber, ship, x, y,
      |  r ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    val fr = Window.partitionBy("l_suppkey")
      .orderBy("ship", "l_orderkey", "l_linenumber", "x", "y")
      .rowsBetween(-10, Window.currentRow)
    val b = Tables(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"),
        floor(col("l_quantity") + lit(0.5)).as("x"),
        Det.cents(col("l_extendedprice")).as("y"))
    val w = b.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      col("ship"), col("x"), col("y"),
      count(lit(1)).over(fr).as("n"),
      sum(col("x")).over(fr).as("sx"), sum(col("y")).over(fr).as("sy"),
      sum(col("x") * col("y")).over(fr).as("sxy"),
      sum(col("x") * col("x")).over(fr).as("sxx"),
      sum(col("y") * col("y")).over(fr).as("syy"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    w.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("ship"), col("x"), col("y"),
        col("n").cast("long").as("n"),
        when(vx === 0 || vy === 0, lit(null))
          .otherwise(floor(num / sqrt(vx.cast("double") * vy.cast("double"))
            * 10000 + lit(0.5)) / 10000).as("r"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("ship"), col("x"), col("y"), col("r").asc_nulls_first)
  }

  // Welch's unequal-variance t-test of each event type's mean value
  // against the 'view' baseline — the A/B experiment readout. Group
  // moments are two exact integer sums (Σ 10⁴x and Σ(10⁴x)²), accumulated
  // as DECIMAL(38,0) on the Spark side and HUGEINT (DuckDB's native
  // SUM(BIGINT) result) on the oracle side — both 128-bit-exact, so the
  // per-group sum cannot wrap at ANY row count (a BIGINT accumulator
  // would overflow the squared sum around ~2e6 rows/group at value≈200 —
  // far below corpus scale). Only the per-ROW product must fit int64:
  // |x| ≤ ~3e5 at 4dp, documented here. Both engines then round the same
  // exact integer to the nearest double, so mean/variance/t/df — written
  // with the identical tree in both engines — hash-match. The baseline
  // row broadcasts (one row by construction).
  q("events_ab_welch",
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS s1,
      |    SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)
      |        * CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS s2
      |  FROM events GROUP BY event_type
      |), m AS (
      |  SELECT event_type, n, s1, s2,
      |    CAST(s1 AS DOUBLE) / 10000 / n AS mean,
      |    (CAST(s2 AS DOUBLE) / 100000000
      |     - (CAST(s1 AS DOUBLE) / 10000) * (CAST(s1 AS DOUBLE) / 10000) / n)
      |    / (n - 1) AS vr
      |  FROM st
      |), base AS (SELECT n AS nb, mean AS mb, vr AS vb FROM m
      |            WHERE event_type = 'view')
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  floor(mean * 10000 + 0.5) / 10000 AS mean,
      |  floor((mean - mb) / sqrt(vr / n + vb / nb) * 10000 + 0.5) / 10000 AS t,
      |  floor((vr / n + vb / nb) * (vr / n + vb / nb)
      |        / ((vr / n) * (vr / n) / (n - 1)
      |           + (vb / nb) * (vb / nb) / (nb - 1)) * 10 + 0.5) / 10 AS df
      |FROM m, base
      |WHERE event_type <> 'view'
      |ORDER BY event_type""") { (s, dir) =>
    val f = Det.fix(col("value"), 4)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val st = Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(f.cast(dec38)).as("s1"),
        sum((f * f).cast(dec38)).as("s2"))
    val m = st.select(col("event_type"), col("n"), col("s1"), col("s2"),
      (col("s1").cast("double") / 10000 / col("n")).as("mean"),
      ((col("s2").cast("double") / 100000000L
        - (col("s1").cast("double") / 10000) * (col("s1").cast("double") / 10000)
          / col("n")) / (col("n") - 1)).as("vr"))
    val base = m.filter(col("event_type") === "view")
      .select(col("n").as("nb"), col("mean").as("mb"), col("vr").as("vb"))
    val u = col("vr") / col("n") + col("vb") / col("nb")
    m.filter(col("event_type") =!= "view")
      .crossJoin(broadcast(base))
      .select(col("event_type"), col("n").cast("long").as("n"),
        (floor(col("mean") * 10000 + lit(0.5)) / 10000).as("mean"),
        (floor((col("mean") - col("mb")) / sqrt(u) * 10000 + lit(0.5)) / 10000)
          .as("t"),
        (floor(u * u
          / ((col("vr") / col("n")) * (col("vr") / col("n")) / (col("n") - 1)
            + (col("vb") / col("nb")) * (col("vb") / col("nb")) / (col("nb") - 1))
          * 10 + lit(0.5)) / 10).as("df"))
      .orderBy("event_type")
  }

  // RFM segmentation: per-user Recency / Frequency (purchases) / Monetary
  // (purchase revenue) with quintile scores. The quintile is SQL ntile's
  // exact bucket formula written out over (row_number, total) — NOT the
  // engines' ntile — so both sides share one integer definition, and the
  // Spark row number comes from the two-phase block prefix sum
  // ([[BlockWindow]]): a global ORDER BY window would run in ONE task at
  // 100 TB, the same serialization llm_shard_assign was flagged for in r3.
  // Integer throughout; monetary emitted via one exact cents division.
  q("events_rfm",
    """WITH u AS (
      |  SELECT user_id,
      |    date_diff('day', CAST(max(date_trunc('day', ts)) AS DATE),
      |              DATE '2024-01-30') AS recency,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS f,
      |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0) AS m
      |  FROM events GROUP BY user_id
      |), t AS (SELECT COUNT(*) AS n FROM u), rk AS (
      |  SELECT user_id, recency, f, m,
      |    row_number() OVER (ORDER BY recency, user_id) AS rr,
      |    row_number() OVER (ORDER BY f, user_id) AS rf,
      |    row_number() OVER (ORDER BY m, user_id) AS rm
      |  FROM u
      |)
      |SELECT user_id, CAST(recency AS BIGINT) AS recency,
      |  CAST(f AS BIGINT) AS f, CAST(m AS DOUBLE) / 100 AS m,
      |  CAST(6 - (CASE WHEN rr <= (n // 5 + 1) * (n % 5)
      |    THEN (rr - 1) // (n // 5 + 1) + 1
      |    ELSE n % 5 + (rr - 1 - (n // 5 + 1) * (n % 5)) // (n // 5) + 1 END)
      |    AS INT) AS r_score,
      |  CAST(CASE WHEN rf <= (n // 5 + 1) * (n % 5)
      |    THEN (rf - 1) // (n // 5 + 1) + 1
      |    ELSE n % 5 + (rf - 1 - (n // 5 + 1) * (n % 5)) // (n // 5) + 1 END
      |    AS INT) AS f_score,
      |  CAST(CASE WHEN rm <= (n // 5 + 1) * (n % 5)
      |    THEN (rm - 1) // (n // 5 + 1) + 1
      |    ELSE n % 5 + (rm - 1 - (n // 5 + 1) * (n % 5)) // (n // 5) + 1 END
      |    AS INT) AS m_score
      |FROM rk, t
      |ORDER BY user_id""") { (s, dir) =>
    // fixture-wide last calendar day (FIXTURES.md: events span Jan 2024);
    // a literal keeps "recency" stable across engines instead of racing
    // two max() reductions
    val u = Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(datediff(lit("2024-01-30").cast("date"),
          max(to_date(date_trunc("day", col("ts"))))).as("recency"),
        count(when(col("event_type") === "purchase", 1)).as("f"),
        coalesce(sum(when(col("event_type") === "purchase",
          Det.cents(col("value")))), lit(0L)).as("m"))
    val ranked0 = BlockWindow.rowNumber(u, Seq(), Seq("recency", "user_id"), "rr")
    val ranked1 = BlockWindow.rowNumber(ranked0, Seq(), Seq("f", "user_id"), "rf")
    val ranked = BlockWindow.rowNumber(ranked1, Seq(), Seq("m", "user_id"), "rm")
      .crossJoin(broadcast(u.groupBy().agg(count(lit(1)).as("n"))))
    // ntile's exact bucket math from (rank, n): the first (n mod 5)
    // buckets hold ⌈n/5⌉ rows, the rest ⌊n/5⌋ — integer ops only
    def nt(rn: String): org.apache.spark.sql.Column = expr(
      s"CASE WHEN $rn <= (n div 5 + 1) * (n % 5) " +
        s"THEN ($rn - 1) div (n div 5 + 1) + 1 " +
        s"ELSE n % 5 + ($rn - 1 - (n div 5 + 1) * (n % 5)) div (n div 5) + 1 END")
    ranked.select(col("user_id"), col("recency").cast("long").as("recency"),
        col("f").cast("long").as("f"),
        (col("m").cast("double") / 100).as("m"),
        (lit(6) - nt("rr")).cast("int").as("r_score"),
        nt("rf").cast("int").as("f_score"),
        nt("rm").cast("int").as("m_score"))
      .orderBy("user_id")
  }

  // One-sided CUSUM drift detector per user (slack k = 1.0, alarm h = 10):
  // s_t = max(0, s_{t-1} + (x_t - μ - k)) over the daily-average series,
  // the classic sequential change-point monitor. Same execution shape as
  // ts_ewma: the recurrence folds inside one task per user (bounded by
  // calendar days), parallel across users; μ is the user's own 4-dp mean
  // computed from exact integer sums, so every input to the fold — and
  // therefore every intermediate double — is bit-identical cross-engine.
  q("ts_cusum",
    """WITH RECURSIVE daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS DOUBLE) / 10000 AS x
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), mu AS (
      |  SELECT user_id,
      |    floor(CAST(SUM(CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |          / COUNT(*) + 0.5) / 10000 AS mu
      |  FROM daily GROUP BY user_id
      |), d AS (
      |  SELECT daily.user_id, day, x, mu,
      |    row_number() OVER (PARTITION BY daily.user_id ORDER BY day) AS rn
      |  FROM daily JOIN mu ON daily.user_id = mu.user_id
      |), r AS (
      |  SELECT user_id, day, rn, x, mu,
      |    greatest(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
      |             + (x - mu - CAST(1 AS DOUBLE))) AS s
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.day, d.rn, d.x, d.mu,
      |    greatest(CAST(0 AS DOUBLE), r.s + (d.x - d.mu - CAST(1 AS DOUBLE)))
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, x,
      |  floor(s * 10000 + 0.5) / 10000 AS cusum,
      |  CAST(CASE WHEN floor(s * 10000 + 0.5) / 10000 > 10.0 THEN 1 ELSE 0 END
      |       AS INT) AS alarm
      |FROM r
      |ORDER BY user_id, day""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        Det.avgFix(col("s1"), 4, col("n")).as("x"))
    val mu = daily.groupBy("user_id")
      .agg((floor(sum(Det.fix(col("x"), 4)).cast("double") / count(lit(1))
        + lit(0.5)) / 10000).as("mu"))
    val folded = daily.join(mu, "user_id")
      .groupBy("user_id", "mu")
      .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("xs"))
      .withColumn("ss", expr(
        "aggregate(xs, CAST(array() AS array<double>), (acc, e) -> " +
          "array_append(acc, greatest(CAST(0 AS DOUBLE), " +
          "CASE WHEN size(acc) = 0 THEN CAST(0 AS DOUBLE) " +
          "ELSE element_at(acc, -1) END + (e.x - mu - CAST(1 AS DOUBLE)))))"))
    val cusum4 = floor(element_at(col("ss"), col("pos") + 1) * 10000 + lit(0.5)) / 10000
    folded
      .select(col("user_id"), col("ss"), posexplode(col("xs")))
      .select(col("user_id"),
        date_format(col("col.day"), "yyyy-MM-dd").as("day"),
        col("col.x").as("x"), cusum4.as("cusum"),
        when(cusum4 > 10.0, 1).otherwise(0).cast("int").as("alarm"))
      .orderBy("user_id", "day")
  }

  // Holt double-exponential smoothing (level α = 0.5, trend β = 0.3) with
  // a one-step-ahead forecast — the trend-aware upgrade of ts_ewma. The
  // fold carries a (level, trend) struct per step; the new-trend term
  // repeats the new-level EXPRESSION verbatim instead of simplifying it
  // algebraically, so the oracle's recursive CTE computes the identical
  // IEEE tree (P2: same ops in the same order, not "same math").
  q("ts_holt",
    """WITH RECURSIVE daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS DOUBLE) / 10000 AS x
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), d AS (
      |  SELECT user_id, day, x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM daily
      |), r AS (
      |  SELECT user_id, day, rn, x, x AS l, CAST(0 AS DOUBLE) AS b
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.day, d.rn, d.x,
      |    CAST(0.5 AS DOUBLE) * d.x + CAST(0.5 AS DOUBLE) * (r.l + r.b),
      |    CAST(0.3 AS DOUBLE)
      |      * ((CAST(0.5 AS DOUBLE) * d.x + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
      |      + CAST(0.7 AS DOUBLE) * r.b
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, x,
      |  floor(l * 10000 + 0.5) / 10000 AS level,
      |  floor(b * 10000 + 0.5) / 10000 AS trend,
      |  floor((l + b) * 10000 + 0.5) / 10000 AS forecast
      |FROM r
      |ORDER BY user_id, day""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        Det.avgFix(col("s1"), 4, col("n")).as("x"))
    val folded = daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("xs"))
      .withColumn("lb", expr(
        "aggregate(xs, CAST(array() AS array<struct<l:double,b:double>>), " +
          "(acc, e) -> array_append(acc, CASE WHEN size(acc) = 0 " +
          "THEN named_struct('l', e.x, 'b', CAST(0 AS DOUBLE)) " +
          "ELSE named_struct(" +
          "'l', CAST(0.5 AS DOUBLE) * e.x + CAST(0.5 AS DOUBLE) " +
          "* (element_at(acc, -1).l + element_at(acc, -1).b), " +
          "'b', CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * e.x " +
          "+ CAST(0.5 AS DOUBLE) * (element_at(acc, -1).l + element_at(acc, -1).b)) " +
          "- element_at(acc, -1).l) + CAST(0.7 AS DOUBLE) * element_at(acc, -1).b) " +
          "END))"))
    val st = element_at(col("lb"), col("pos") + 1)
    folded
      .select(col("user_id"), col("lb"), posexplode(col("xs")))
      .select(col("user_id"),
        date_format(col("col.day"), "yyyy-MM-dd").as("day"),
        col("col.x").as("x"),
        (floor(st.getField("l") * 10000 + lit(0.5)) / 10000).as("level"),
        (floor(st.getField("b") * 10000 + lit(0.5)) / 10000).as("trend"),
        (floor((st.getField("l") + st.getField("b")) * 10000 + lit(0.5)) / 10000)
          .as("forecast"))
      .orderBy("user_id", "day")
  }

  // Holt-Winters additive triple smoothing (α = 0.4, β = 0.2, γ = 0.3,
  // weekly season m = 7) — the seasonal upgrade of ts_holt. The fold state
  // is (level, trend, seasonal-queue): the 7-slot queue holds the next
  // seven seasonal components, so s_{t−7} is always the queue head and the
  // one-step forecast is l + b + head. First-cycle seasonals initialize to
  // 0 (deterministic contract; no backcast). As in ts_holt, the new-level
  // EXPRESSION is repeated verbatim inside the trend and seasonal updates
  // so the oracle's recursive CTE computes the identical IEEE tree (P2);
  // the queue shift itself is pure list surgery — no float math.
  q("ts_holt_winters",
    """WITH RECURSIVE daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS DOUBLE) / 10000 AS x
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), d AS (
      |  SELECT user_id, day, x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM daily
      |), r AS (
      |  SELECT user_id, day, rn, x, x AS l, CAST(0 AS DOUBLE) AS b,
      |    [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      |     CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      |     CAST(0 AS DOUBLE)] AS seas
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.day, d.rn, d.x,
      |    CAST(0.4 AS DOUBLE) * (d.x - r.seas[1])
      |      + CAST(0.6 AS DOUBLE) * (r.l + r.b),
      |    CAST(0.2 AS DOUBLE) * ((CAST(0.4 AS DOUBLE) * (d.x - r.seas[1])
      |      + CAST(0.6 AS DOUBLE) * (r.l + r.b)) - r.l)
      |      + CAST(0.8 AS DOUBLE) * r.b,
      |    r.seas[2:7] || [CAST(0.3 AS DOUBLE) * (d.x
      |      - (CAST(0.4 AS DOUBLE) * (d.x - r.seas[1])
      |         + CAST(0.6 AS DOUBLE) * (r.l + r.b)))
      |      + CAST(0.7 AS DOUBLE) * r.seas[1]]
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, x,
      |  floor(l * 10000 + 0.5) / 10000 AS level,
      |  floor(b * 10000 + 0.5) / 10000 AS trend,
      |  floor(seas[7] * 10000 + 0.5) / 10000 AS seasonal,
      |  floor((l + b + seas[1]) * 10000 + 0.5) / 10000 AS forecast
      |FROM r
      |ORDER BY user_id, day""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        Det.avgFix(col("s1"), 4, col("n")).as("x"))
    val prev = "element_at(acc, -1)"
    val s1 = s"element_at($prev.seas, 1)"
    val lnew = s"CAST(0.4 AS DOUBLE) * (e.x - $s1)" +
      s" + CAST(0.6 AS DOUBLE) * ($prev.l + $prev.b)"
    val folded = daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("xs"))
      .withColumn("st", expr(
        "aggregate(xs, " +
          "CAST(array() AS array<struct<l:double,b:double,seas:array<double>>>), " +
          "(acc, e) -> array_append(acc, CASE WHEN size(acc) = 0 " +
          "THEN named_struct('l', e.x, 'b', CAST(0 AS DOUBLE), " +
          "'seas', array_repeat(CAST(0 AS DOUBLE), 7)) " +
          "ELSE named_struct(" +
          s"'l', $lnew, " +
          s"'b', CAST(0.2 AS DOUBLE) * (($lnew) - $prev.l) " +
          s"+ CAST(0.8 AS DOUBLE) * $prev.b, " +
          s"'seas', concat(slice($prev.seas, 2, 6), " +
          s"array(CAST(0.3 AS DOUBLE) * (e.x - ($lnew)) " +
          s"+ CAST(0.7 AS DOUBLE) * $s1)) " +
          ") END))"))
    val sti = element_at(col("st"), col("pos") + 1)
    folded
      .select(col("user_id"), col("st"), posexplode(col("xs")))
      .select(col("user_id"),
        date_format(col("col.day"), "yyyy-MM-dd").as("day"),
        col("col.x").as("x"),
        (floor(sti.getField("l") * 10000 + lit(0.5)) / 10000).as("level"),
        (floor(sti.getField("b") * 10000 + lit(0.5)) / 10000).as("trend"),
        (floor(element_at(sti.getField("seas"), 7) * 10000 + lit(0.5)) / 10000)
          .as("seasonal"),
        (floor((sti.getField("l") + sti.getField("b")
          + element_at(sti.getField("seas"), 1)) * 10000 + lit(0.5)) / 10000)
          .as("forecast"))
      .orderBy("user_id", "day")
  }

  // Lag-1 autocorrelation of each user's daily series — the "is today
  // predictive of tomorrow" screen run before fitting anything fancier.
  // Inputs are the 4-dp daily averages lifted to BIGINT units, so the six
  // pair sums are exact integers (one lag window + one group-by); the
  // correlation assembles per-row exactly like win_rolling_corr. Users
  // with fewer than two observed days drop out (no pairs).
  q("ts_autocorr",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS BIGINT) AS xi
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), p AS (
      |  SELECT user_id, xi AS a,
      |    lag(xi) OVER (PARTITION BY user_id ORDER BY day) AS b
      |  FROM daily
      |), g AS (
      |  SELECT user_id, COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
      |    SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
      |  FROM p WHERE b IS NOT NULL GROUP BY user_id
      |)
      |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
      |  CASE WHEN n * saa - sa * sa = 0 OR n * sbb - sb * sb = 0 THEN NULL
      |       ELSE floor(CAST(n * sab - sa * sb AS DOUBLE)
      |                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
      |                         * CAST(n * sbb - sb * sb AS DOUBLE))
      |                  * 10000 + 0.5) / 10000 END AS r
      |FROM g
      |ORDER BY user_id""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        floor(Det.avgFix(col("s1"), 4, col("n")) * 10000 + lit(0.5)).as("xi"))
    val wl = Window.partitionBy("user_id").orderBy("day")
    val p = daily.select(col("user_id"), col("xi").as("a"),
        lag(col("xi"), 1).over(wl).as("b"))
      .filter(col("b").isNotNull)
    val g = p.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("a").as("sa"), sum("b").as("sb"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
    val va = col("n") * col("saa") - col("sa") * col("sa")
    val vb = col("n") * col("sbb") - col("sb") * col("sb")
    val num = (col("n") * col("sab") - col("sa") * col("sb")).cast("double")
    g.select(col("user_id"), col("n").cast("long").as("n_pairs"),
        when(va === 0 || vb === 0, lit(null))
          .otherwise(floor(num / sqrt(va.cast("double") * vb.cast("double"))
            * 10000 + lit(0.5)) / 10000).as("r"))
      .orderBy("user_id")
  }

  // Day-of-week seasonality profile per event type: mean value per
  // weekday divided by the type's overall mean — the seasonal index a
  // metrics pipeline applies before anomaly thresholds. The weekday comes
  // from integer epoch-day arithmetic anchored on a known Monday
  // (2024-01-01), NOT from the engines' dayofweek builtins (Spark counts
  // Sunday=1, DuckDB Sunday=0 — an avoidable cross-engine seam). The
  // ((d % 7) + 7) % 7 form keeps dow in 0..6 for timestamps BEFORE the
  // anchor too (both engines' % takes the dividend's sign), so the
  // operator is fixture-independent. Exact integer sums throughout; two
  // small aggregates + a broadcast join.
  q("ts_dow_seasonality",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), d AS (
      |  SELECT event_type, dow, COUNT(*) AS c, SUM(v) AS s
      |  FROM e GROUP BY event_type, dow
      |), t AS (
      |  SELECT event_type, SUM(c) AS tc, SUM(s) AS ts FROM d GROUP BY event_type
      |)
      |SELECT d.event_type, dow, CAST(c AS BIGINT) AS n,
      |  floor(CAST(s AS DOUBLE) / 100 / c * 10000 + 0.5) / 10000 AS avg_v,
      |  floor((CAST(s AS DOUBLE) / c) / (CAST(ts AS DOUBLE) / tc) * 10000 + 0.5)
      |    / 10000 AS season_idx
      |FROM d JOIN t ON d.event_type = t.event_type
      |ORDER BY d.event_type, dow""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_type"),
        (((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("dow"),
        Det.cents(col("value")).as("v"))
    val d = e.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("c"), sum("v").as("s"))
    val t = d.groupBy("event_type")
      .agg(sum("c").as("tc"), sum("s").as("ts"))
    d.join(broadcast(t), "event_type")
      .select(col("event_type"), col("dow"), col("c").cast("long").as("n"),
        (floor(col("s").cast("double") / 100 / col("c") * 10000 + lit(0.5))
          / 10000).as("avg_v"),
        (floor((col("s").cast("double") / col("c"))
          / (col("ts").cast("double") / col("tc")) * 10000 + lit(0.5)) / 10000)
          .as("season_idx"))
      .orderBy("event_type", "dow")
  }

  // Pearson χ² test of independence between event type and weekday — "is
  // usage pattern day-of-week dependent". Observed counts and both margins
  // are exact integers; each cell's expectation r·c/n and χ² contribution
  // are per-row closed-form doubles with identical trees (the repeated
  // r·c/n subterm is written out verbatim, not factored differently per
  // engine). Emits the 35 cells, not a pre-summed statistic — a double sum
  // across cells would be aggregation-order-dependent (§5.4 P2); the
  // consumer sums the BIGINT-free terms or reads per-cell deviations.
  q("events_chi2_independence",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow
      |  FROM events
      |), cell AS (
      |  SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY event_type, dow
      |), rt AS (SELECT event_type, SUM(o) AS r FROM cell GROUP BY event_type),
      |ct AS (SELECT dow, SUM(o) AS c FROM cell GROUP BY dow),
      |t AS (SELECT SUM(o) AS n FROM cell)
      |SELECT cell.event_type, cell.dow, CAST(o AS BIGINT) AS observed,
      |  floor(CAST(r AS DOUBLE) * c / n * 10000 + 0.5) / 10000 AS expected,
      |  floor((o - CAST(r AS DOUBLE) * c / n) * (o - CAST(r AS DOUBLE) * c / n)
      |        / (CAST(r AS DOUBLE) * c / n) * 10000 + 0.5) / 10000 AS chi2_term
      |FROM cell JOIN rt USING (event_type) JOIN ct USING (dow), t
      |ORDER BY cell.event_type, cell.dow""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_type"),
        (((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("dow"))
    val cell = e.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rt = cell.groupBy("event_type").agg(sum("o").as("r"))
    val ct = cell.groupBy("dow").agg(sum("o").as("c"))
    val t = cell.groupBy().agg(sum("o").as("n"))
    val ex = col("r").cast("double") * col("c") / col("n")
    cell.join(broadcast(rt), "event_type").join(broadcast(ct), "dow")
      .crossJoin(broadcast(t))
      .select(col("event_type"), col("dow"), col("o").cast("long").as("observed"),
        (floor(ex * 10000 + lit(0.5)) / 10000).as("expected"),
        (floor((col("o") - ex) * (col("o") - ex) / ex * 10000 + lit(0.5)) / 10000)
          .as("chi2_term"))
      .orderBy("event_type", "dow")
  }

  // Seasonally-adjusted anomaly detection: subtract each (type, weekday)'s
  // expected value (integer cents, from the same anchored weekday math as
  // ts_dow_seasonality) and z-score the residual within the event type —
  // the |z| > 3 flags a plain z-score would miss on strongly seasonal
  // metrics (or false-alarm on). Residuals and their moments stay exact
  // BIGINTs end to end; the z assembly is one closed-form double per row.
  // Two broadcast joins (35-row and 5-row frames), no extra shuffle over
  // the event scan.
  q("ts_anomaly_seasonal",
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), m AS (
      |  SELECT event_type, dow,
      |    CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS mc
      |  FROM e GROUP BY event_type, dow
      |), r AS (
      |  SELECT e.event_id, e.event_type, e.dow, e.v, e.v - mc AS res
      |  FROM e JOIN m ON e.event_type = m.event_type AND e.dow = m.dow
      |), st AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(res) AS sr,
      |    SUM(res * res) AS sr2
      |  FROM r GROUP BY event_type
      |)
      |SELECT event_id, r.event_type, dow, CAST(v AS DOUBLE) / 100 AS v,
      |  floor((res - CAST(sr AS DOUBLE) / n)
      |        / sqrt((CAST(sr2 AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
      |               / (n - 1)) * 10000 + 0.5) / 10000 AS z
      |FROM r JOIN st ON r.event_type = st.event_type
      |WHERE abs((res - CAST(sr AS DOUBLE) / n)
      |          / sqrt((CAST(sr2 AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
      |                 / (n - 1))) > 3
      |ORDER BY event_id""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("dow"),
        Det.cents(col("value")).as("v"))
    val m = e.groupBy("event_type", "dow")
      .agg(floor(sum("v").cast("double") / count(lit(1)) + lit(0.5)).as("mc"))
    val r = e.join(broadcast(m), Seq("event_type", "dow"))
      .select(col("event_id"), col("event_type"), col("dow"), col("v"),
        (col("v") - col("mc")).as("res"))
    val st = r.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("res").as("sr"),
        sum(col("res") * col("res")).as("sr2"))
    val z = (col("res") - col("sr").cast("double") / col("n")) /
      sqrt((col("sr2").cast("double")
        - col("sr").cast("double") * col("sr").cast("double") / col("n"))
        / (col("n") - 1))
    r.join(broadcast(st), "event_type")
      .filter(abs(z) > 3)
      .select(col("event_id"), col("event_type"), col("dow"),
        (col("v").cast("double") / 100).as("v"),
        (floor(z * 10000 + lit(0.5)) / 10000).as("z"))
      .orderBy("event_id")
  }

  // Mann-Kendall trend test per user — the nonparametric "is this series
  // drifting" screen (no normality assumption, robust to spikes). S is an
  // exact integer sum of pairwise signs over the ≤ calendar-days daily
  // series (the per-user pair join is T² ≤ ~10³ rows — bounded by the
  // CALENDAR, not the corpus, so it parallelizes across users like the
  // fold family); Var(S) carries the exact tie correction
  // Σt(t−1)(2t+5). The z assembly is the only double expression.
  // Scale caveat, stated rather than hidden: T² is fine for calendar-
  // bounded daily series (a decade is ~7M pairs/user, still one task's
  // work); for per-MINUTE series compute S as rank inversions instead
  // (O(T log T) merge count, same integer determinism) — the pair join is
  // the exact graded shape, not the only implementable one.
  q("ts_mann_kendall",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS BIGINT) AS xi
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), s AS (
      |  SELECT a.user_id,
      |    SUM(CASE WHEN b.xi > a.xi THEN 1 WHEN b.xi < a.xi THEN -1 ELSE 0 END) AS mks
      |  FROM daily a JOIN daily b
      |    ON a.user_id = b.user_id AND a.day < b.day
      |  GROUP BY a.user_id
      |), n AS (SELECT user_id, COUNT(*) AS nd FROM daily GROUP BY user_id),
      |ties AS (
      |  SELECT user_id, COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tcor
      |  FROM (SELECT user_id, xi, COUNT(*) AS t FROM daily
      |        GROUP BY user_id, xi) GROUP BY user_id
      |)
      |SELECT n.user_id, CAST(nd AS BIGINT) AS n_days, CAST(mks AS BIGINT) AS s,
      |  CASE WHEN nd < 2 OR nd * (nd - 1) * (2 * nd + 5) - tcor = 0 THEN NULL
      |       WHEN mks > 0 THEN floor((mks - 1)
      |         / sqrt(CAST(nd * (nd - 1) * (2 * nd + 5) - tcor AS DOUBLE) / 18)
      |         * 10000 + 0.5) / 10000
      |       WHEN mks < 0 THEN floor((mks + 1)
      |         / sqrt(CAST(nd * (nd - 1) * (2 * nd + 5) - tcor AS DOUBLE) / 18)
      |         * 10000 + 0.5) / 10000
      |       ELSE CAST(0 AS DOUBLE) END AS z
      |FROM n JOIN s ON n.user_id = s.user_id JOIN ties ON n.user_id = ties.user_id
      |ORDER BY n.user_id""") { (sp, dir) =>
    val daily = Tables(sp, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        floor(Det.avgFix(col("s1"), 4, col("n")) * 10000 + lit(0.5)).as("xi"))
    val a = daily.select(col("user_id"), col("day").as("da"), col("xi").as("xa"))
    val b = daily.select(col("user_id"), col("day").as("db"), col("xi").as("xb"))
    val s = a.join(b, Seq("user_id")).filter(col("da") < col("db"))
      .groupBy("user_id")
      .agg(sum(when(col("xb") > col("xa"), 1)
        .when(col("xb") < col("xa"), -1).otherwise(0)).as("mks"))
    val n = daily.groupBy("user_id").agg(count(lit(1)).as("nd"))
    val ties = daily.groupBy("user_id", "xi").agg(count(lit(1)).as("t"))
      .groupBy("user_id")
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
        lit(0L)).as("tcor"))
    val varNum = col("nd") * (col("nd") - 1) * (lit(2) * col("nd") + 5) - col("tcor")
    val sd = sqrt(varNum.cast("double") / 18)
    n.join(s, "user_id").join(ties, "user_id")
      .select(col("user_id"), col("nd").cast("long").as("n_days"),
        col("mks").cast("long").as("s"),
        when(col("nd") < 2 || varNum === 0, lit(null))
          .when(col("mks") > 0,
            floor((col("mks") - 1) / sd * 10000 + lit(0.5)) / 10000)
          .when(col("mks") < 0,
            floor((col("mks") + 1) / sd * 10000 + lit(0.5)) / 10000)
          .otherwise(lit(0.0)).as("z"))
      .orderBy("user_id")
  }

  // Theil–Sen robust slope per user: the median of all pairwise slopes —
  // the trend ESTIMATE to Mann-Kendall's trend TEST (insensitive to ~29%
  // outliers). Slopes are per-row doubles from exact integer deltas
  // (identical trees); the exact median picks the middle one/two ranks,
  // and the even-count case averages exactly two doubles — IEEE addition
  // is commutative, so the 2-row AVG is engine-independent even though
  // general double AVG is not. Same bounded per-user pair fan (and the
  // same calendar-bound caveat) as ts_mann_kendall; for very long series
  // the estimator itself is usually swapped for repeated-median on a
  // sample, which this operator's blocking structure already supports.
  q("ts_theil_sen",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS BIGINT) AS xi
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), sl AS (
      |  SELECT a.user_id,
      |    CAST(b.xi - a.xi AS DOUBLE) / date_diff('day', a.day, b.day) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.user_id = b.user_id AND a.day < b.day
      |), rk AS (
      |  SELECT user_id, slope,
      |    row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS c
      |  FROM sl
      |)
      |SELECT user_id, CAST(max(c) AS BIGINT) AS n_pairs,
      |  floor(AVG(slope) / 10000 * 10000 + 0.5) / 10000 AS slope_per_day
      |FROM rk
      |WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2
      |GROUP BY user_id
      |ORDER BY user_id""") { (sp, dir) =>
    val daily = Tables(sp, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        floor(Det.avgFix(col("s1"), 4, col("n")) * 10000 + lit(0.5)).as("xi"))
    val a = daily.select(col("user_id"), col("day").as("da"), col("xi").as("xa"))
    val b = daily.select(col("user_id"), col("day").as("db"), col("xi").as("xb"))
    val sl = a.join(b, Seq("user_id")).filter(col("da") < col("db"))
      .select(col("user_id"),
        ((col("xb") - col("xa")).cast("double")
          / datediff(col("db"), col("da"))).as("slope"))
    val wr = Window.partitionBy("user_id").orderBy("slope")
    val wc = Window.partitionBy("user_id")
    val rk = sl.select(col("user_id"), col("slope"),
      row_number().over(wr).as("rn"), count(lit(1)).over(wc).as("c"))
    rk.filter(col("rn") === expr("(c + 1) div 2") ||
        col("rn") === expr("(c + 2) div 2"))
      .groupBy("user_id")
      .agg(max("c").cast("long").as("n_pairs"),
        (floor(avg("slope") / 10000 * 10000 + lit(0.5)) / 10000)
          .as("slope_per_day"))
      .orderBy("user_id")
  }

  // Signup-cohort conversion funnel with exact time-to-convert
  // percentiles: users cohorted by signup week (integer epoch-second →
  // day → week arithmetic, no calendar builtins), conversion = first
  // purchase at-or-after first signup. Latencies are integer seconds, so
  // the median (exact-rank pick; even counts average exactly two
  // integers — commutative) and the nearest-rank p90 are deterministic
  // without any float percentile machinery. One window-free plan: two
  // conditional aggregates on the user key + one rank window per cohort.
  q("events_funnel_latency",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS sec FROM events
      |), su AS (
      |  SELECT user_id, min(sec) AS s0 FROM e WHERE event_type = 'signup'
      |  GROUP BY user_id
      |), pu AS (
      |  SELECT e.user_id, min(sec) AS p0
      |  FROM e JOIN su ON e.user_id = su.user_id
      |  WHERE event_type = 'purchase' AND sec >= s0
      |  GROUP BY e.user_id
      |), lat AS (
      |  SELECT su.user_id, (s0 // 86400) // 7 AS wk, p0 - s0 AS l
      |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
      |), rk AS (
      |  SELECT wk, l,
      |    row_number() OVER (PARTITION BY wk ORDER BY l, user_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY wk) AS c
      |  FROM lat WHERE l IS NOT NULL
      |), agg AS (
      |  SELECT wk, COUNT(*) AS n_signups, COUNT(l) AS n_conv FROM lat GROUP BY wk
      |), med AS (
      |  SELECT wk, AVG(CAST(l AS DOUBLE)) AS med FROM rk
      |  WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2 GROUP BY wk
      |), p90 AS (
      |  SELECT wk, CAST(l AS BIGINT) AS p90 FROM rk WHERE rn = (9 * c + 9) // 10
      |)
      |SELECT agg.wk AS cohort_week, CAST(n_signups AS BIGINT) AS n_signups,
      |  CAST(n_conv AS BIGINT) AS n_conv,
      |  floor(CAST(n_conv AS DOUBLE) / n_signups * 10000 + 0.5) / 10000 AS conv_rate,
      |  med AS med_latency_s, p90 AS p90_latency_s
      |FROM agg LEFT JOIN med ON agg.wk = med.wk LEFT JOIN p90 ON agg.wk = p90.wk
      |ORDER BY cohort_week""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec"))
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("sec").as("s0"))
    val pu = e.join(su, "user_id")
      .filter(col("event_type") === "purchase" && col("sec") >= col("s0"))
      .groupBy("user_id").agg(min("sec").as("p0"))
    val lat = su.join(pu, Seq("user_id"), "left")
      .select(col("user_id"), expr("(s0 div 86400) div 7").as("wk"),
        (col("p0") - col("s0")).as("l"))
    val wr = Window.partitionBy("wk").orderBy("l", "user_id")
    val wc = Window.partitionBy("wk")
    val rk = lat.filter(col("l").isNotNull)
      .select(col("wk"), col("l"), row_number().over(wr).as("rn"),
        count(lit(1)).over(wc).as("c"))
    val agg = lat.groupBy("wk")
      .agg(count(lit(1)).as("n_signups"), count(col("l")).as("n_conv"))
    val med = rk.filter(col("rn") === expr("(c + 1) div 2") ||
        col("rn") === expr("(c + 2) div 2"))
      .groupBy("wk").agg(avg(col("l").cast("double")).as("med"))
    val p90 = rk.filter(col("rn") === expr("(9 * c + 9) div 10"))
      .select(col("wk"), col("l").cast("long").as("p90"))
    agg.join(med, Seq("wk"), "left").join(p90, Seq("wk"), "left")
      .select(col("wk").as("cohort_week"),
        col("n_signups").cast("long").as("n_signups"),
        col("n_conv").cast("long").as("n_conv"),
        (floor(col("n_conv").cast("double") / col("n_signups") * 10000
          + lit(0.5)) / 10000).as("conv_rate"),
        col("med").as("med_latency_s"), col("p90").as("p90_latency_s"))
      .orderBy("cohort_week")
  }

  // OHLC candle resample — the finance/metrics downsample: per (user,
  // day), first/last/min/max of the value series. Open and close are
  // DETERMINISTIC picks via two row_numbers under the (ts, event_id)
  // total order and its exact reverse (never first()/last() or
  // arg_min/arg_max — P10: engines break value ties differently); both
  // windows share one exchange (same partitioning, two sorts). Money
  // stays integer cents until the final /100 render.
  q("ts_ohlc_resample",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) AS INT) AS day,
      |    ts, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), r AS (
      |  SELECT user_id, day, v,
      |    row_number() OVER (PARTITION BY user_id, day
      |      ORDER BY ts, event_id) AS ra,
      |    row_number() OVER (PARTITION BY user_id, day
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM e
      |)
      |SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MAX(CASE WHEN ra = 1 THEN v END) AS DOUBLE) / 100 AS open,
      |  CAST(MAX(v) AS DOUBLE) / 100 AS high,
      |  CAST(MIN(v) AS DOUBLE) / 100 AS low,
      |  CAST(MAX(CASE WHEN rd = 1 THEN v END) AS DOUBLE) / 100 AS close
      |FROM r GROUP BY user_id, day
      |ORDER BY user_id, day""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"),
        datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")).as("day"),
        col("ts"), col("event_id"), Det.cents(col("value")).as("v"))
    val wa = Window.partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
    val wd = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("ra", row_number().over(wa))
      .withColumn("rd", row_number().over(wd))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).cast("long").as("n"),
        (max(when(col("ra") === 1, col("v"))).cast("double") / 100).as("open"),
        (max("v").cast("double") / 100).as("high"),
        (min("v").cast("double") / 100).as("low"),
        (max(when(col("rd") === 1, col("v"))).cast("double") / 100).as("close"))
      .orderBy("user_id", "day")
  }

  // Inter-arrival-gap profile per user: the burstiness diagnostic (bot
  // detection, rate-limit sizing). Gaps are exact integer seconds from one
  // lag window; median/p90 are exact-rank picks (P13 — the even-count
  // median averages exactly TWO doubles), never interpolating quantiles.
  q("events_inter_arrival",
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) // 1000000 AS sec
      |  FROM events
      |), g AS (
      |  SELECT user_id,
      |    sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM e
      |), rk AS (
      |  SELECT user_id, gap,
      |    row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS c
      |  FROM g WHERE gap IS NOT NULL
      |), med AS (
      |  SELECT user_id, AVG(CAST(gap AS DOUBLE)) AS med FROM rk
      |  WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2 GROUP BY user_id
      |), p90 AS (
      |  SELECT user_id, CAST(gap AS BIGINT) AS p90 FROM rk
      |  WHERE rn = (9 * c + 9) // 10
      |)
      |SELECT rk.user_id, CAST(MAX(c) AS BIGINT) AS n_gaps,
      |  CAST(MIN(gap) AS BIGINT) AS min_gap,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap,
      |  MAX(med) AS med_gap, MAX(p90) AS p90_gap
      |FROM rk JOIN med ON rk.user_id = med.user_id
      |JOIN p90 ON rk.user_id = p90.user_id
      |GROUP BY rk.user_id
      |ORDER BY rk.user_id""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("ts").cast("long").as("sec"))
    val wl = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val g = e.select(col("user_id"),
        (col("sec") - lag("sec", 1).over(wl)).as("gap"))
      .filter(col("gap").isNotNull)
    val wr = Window.partitionBy("user_id").orderBy("gap")
    val wc = Window.partitionBy("user_id")
    val rk = g.select(col("user_id"), col("gap"),
      row_number().over(wr).as("rn"), count(lit(1)).over(wc).as("c"))
    val med = rk.filter(col("rn") === expr("(c + 1) div 2") ||
        col("rn") === expr("(c + 2) div 2"))
      .groupBy("user_id").agg(avg(col("gap").cast("double")).as("med"))
    val p90 = rk.filter(col("rn") === expr("(9 * c + 9) div 10"))
      .select(col("user_id"), col("gap").cast("long").as("p90"))
    rk.join(med, "user_id").join(p90, "user_id")
      .groupBy("user_id")
      .agg(max("c").cast("long").as("n_gaps"),
        min("gap").cast("long").as("min_gap"),
        max("gap").cast("long").as("max_gap"),
        max("med").as("med_gap"), max("p90").as("p90_gap"))
      .orderBy("user_id")
  }

  // Kaplan-Meier survival curve for user churn — time-to-churn with
  // right-censoring, the retention economics readout. Churn event = a
  // user's LAST active day when it precedes the observation end (users
  // still active at the end are censored, never counted as deaths);
  // risk set n_t = users not yet churned before t. The product
  // S(t) = Π (n_i - d_i)/n_i folds as a PURE INTEGER recurrence in 1e-8
  // fixed point (s·(n-d) ≤ 1e12 — no overflow, no floats anywhere), so
  // the curve is bit-identical cross-engine with zero IEEE reasoning:
  // the fold is one aggregate() HOF over the ≤#days-long event-time list
  // (P15's recurrence seam), and every d/n comes from two integer
  // aggregates.
  q("events_survival_km",
    """WITH RECURSIVE lastd AS (
      |  SELECT user_id, max(date_diff('day', DATE '2024-01-01',
      |    CAST(date_trunc('day', ts) AS DATE))) AS last_day
      |  FROM events GROUP BY user_id
      |), ob AS (SELECT max(last_day) AS max_day FROM lastd),
      |tot AS (SELECT COUNT(*) AS n_users FROM lastd),
      |churn AS (
      |  SELECT last_day AS day, COUNT(*) AS d
      |  FROM lastd, ob WHERE last_day < max_day GROUP BY last_day
      |), o AS (
      |  SELECT day, d,
      |    row_number() OVER (ORDER BY day) AS rn,
      |    n_users - COALESCE(SUM(d) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      |  FROM churn, tot
      |), r AS (
      |  SELECT day, d, n, rn, (100000000 * (n - d)) // n AS s
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.day, o.d, o.n, o.rn, (r.s * (o.n - o.d)) // o.n
      |  FROM o JOIN r ON o.rn = r.rn + 1
      |)
      |SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n_at_risk,
      |  CAST(d AS BIGINT) AS n_churned,
      |  CAST(s AS DOUBLE) / 100000000 AS survival
      |FROM r ORDER BY day""") { (s, dir) =>
    val lastd = Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(max(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date"))).as("last_day"))
    val ob = lastd.agg(max("last_day").as("max_day"))
    val tot = lastd.agg(count(lit(1)).as("n_users"))
    val churn = lastd.crossJoin(broadcast(ob))
      .filter(col("last_day") < col("max_day"))
      .groupBy(col("last_day").as("day")).agg(count(lit(1)).as("d"))
    val wp = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val o = churn.crossJoin(broadcast(tot))
      .withColumn("n", col("n_users") - coalesce(sum("d").over(wp), lit(0L)))
    // single ordered fold over the ≤#days churn-day list: integer-only
    val folded = o
      .groupBy()
      .agg(array_sort(collect_list(struct(col("day"), col("d"), col("n")))).as("xs"))
      .withColumn("ss", expr(
        "aggregate(xs, CAST(array() AS array<bigint>), (acc, e) -> " +
          "array_append(acc, (CASE WHEN size(acc) = 0 THEN CAST(100000000 AS BIGINT) " +
          "ELSE element_at(acc, -1) END * (e.n - e.d)) div e.n))"))
    folded.select(col("ss"), posexplode(col("xs")))
      .select(col("col.day").cast("long").as("day"),
        col("col.n").cast("long").as("n_at_risk"),
        col("col.d").cast("long").as("n_churned"),
        (element_at(col("ss"), col("pos") + 1).cast("double") / 100000000L)
          .as("survival"))
      .orderBy("day")
  }

  // Partial autocorrelation (lags 1-3) of the daily-revenue series via the
  // Durbin-Levinson recursion — the ARIMA order-selection diagnostic.
  // P15 shape: deviations from the INTEGER-quantized mean are exact cents,
  // the three lag co-moments are exact BIGINT sums (one lead window over
  // the ~365-row daily frame — global window on an explicitly tiny
  // output, like top-k), and the recursion unrolls as one closed-form
  // double tree per phi, written verbatim in both engines. phi11 = r1;
  // phi22 = (r2-r1²)/(1-r1²); phi33 from the order-2 coefficients.
  q("ts_pacf",
    """WITH daily AS (
      |  SELECT date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
      |  FROM events GROUP BY 1
      |), m AS (
      |  SELECT CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS mu
      |  FROM daily
      |), d AS (
      |  SELECT day, v - mu AS dv,
      |    lead(v - mu, 1) OVER (ORDER BY day) AS d1,
      |    lead(v - mu, 2) OVER (ORDER BY day) AS d2,
      |    lead(v - mu, 3) OVER (ORDER BY day) AS d3
      |  FROM daily, m
      |), s AS (
      |  SELECT CAST(SUM(dv * dv) AS BIGINT) AS s0,
      |    CAST(SUM(CASE WHEN d1 IS NOT NULL THEN dv * d1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN d2 IS NOT NULL THEN dv * d2 ELSE 0 END) AS BIGINT) AS c2,
      |    CAST(SUM(CASE WHEN d3 IS NOT NULL THEN dv * d3 ELSE 0 END) AS BIGINT) AS c3
      |  FROM d
      |), r AS (
      |  SELECT CAST(c1 AS DOUBLE) / s0 AS r1, CAST(c2 AS DOUBLE) / s0 AS r2,
      |    CAST(c3 AS DOUBLE) / s0 AS r3
      |  FROM s
      |), p AS (
      |  SELECT r1, r2, r3,
      |    r1 AS phi11,
      |    (r2 - r1 * r1) / (1 - r1 * r1) AS phi22,
      |    r1 - (r2 - r1 * r1) / (1 - r1 * r1) * r1 AS phi21
      |  FROM r
      |)
      |SELECT floor(r1 * 10000 + 0.5) / 10000 AS r1,
      |  floor(r2 * 10000 + 0.5) / 10000 AS r2,
      |  floor(r3 * 10000 + 0.5) / 10000 AS r3,
      |  floor(phi11 * 10000 + 0.5) / 10000 AS pacf1,
      |  floor(phi22 * 10000 + 0.5) / 10000 AS pacf2,
      |  floor((r3 - phi21 * r2 - phi22 * r1)
      |        / (1 - phi21 * r1 - phi22 * r2) * 10000 + 0.5) / 10000 AS pacf3
      |FROM p""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date")).as("day"))
      .agg(sum(Det.cents(col("value"))).as("v"))
    val m = daily.agg(
      floor(sum("v").cast("double") / count(lit(1)) + lit(0.5)).cast("long").as("mu"))
    val w = Window.orderBy("day")
    val d = daily.crossJoin(broadcast(m))
      .select(col("day"), (col("v") - col("mu")).as("dv"),
        lead(col("v") - col("mu"), 1).over(w).as("d1"),
        lead(col("v") - col("mu"), 2).over(w).as("d2"),
        lead(col("v") - col("mu"), 3).over(w).as("d3"))
    val st = d.agg(
      sum(col("dv") * col("dv")).cast("long").as("s0"),
      sum(when(col("d1").isNotNull, col("dv") * col("d1")).otherwise(0L))
        .cast("long").as("c1"),
      sum(when(col("d2").isNotNull, col("dv") * col("d2")).otherwise(0L))
        .cast("long").as("c2"),
      sum(when(col("d3").isNotNull, col("dv") * col("d3")).otherwise(0L))
        .cast("long").as("c3"))
    val r = st.select((col("c1").cast("double") / col("s0")).as("r1"),
      (col("c2").cast("double") / col("s0")).as("r2"),
      (col("c3").cast("double") / col("s0")).as("r3"))
    val p = r.select(col("r1"), col("r2"), col("r3"),
      col("r1").as("phi11"),
      ((col("r2") - col("r1") * col("r1"))
        / (lit(1) - col("r1") * col("r1"))).as("phi22"),
      (col("r1") - (col("r2") - col("r1") * col("r1"))
        / (lit(1) - col("r1") * col("r1")) * col("r1")).as("phi21"))
    p.select(
      (floor(col("r1") * 10000 + lit(0.5)) / 10000).as("r1"),
      (floor(col("r2") * 10000 + lit(0.5)) / 10000).as("r2"),
      (floor(col("r3") * 10000 + lit(0.5)) / 10000).as("r3"),
      (floor(col("phi11") * 10000 + lit(0.5)) / 10000).as("pacf1"),
      (floor(col("phi22") * 10000 + lit(0.5)) / 10000).as("pacf2"),
      (floor((col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1"))
        / (lit(1) - col("phi21") * col("r1") - col("phi22") * col("r2"))
        * 10000 + lit(0.5)) / 10000).as("pacf3"))
  }

  // Single change-point per event_type over the daily-total series, by the
  // CUSUM argmax — where the centered cumulative sum is farthest from the
  // zero line. ALL-INTEGER score: |S_t|·n = |n·cum_t − t·tot| on cent
  // sums (no mean, no per-step double), promoted 128-bit before the
  // product (P16: n·cum passes int64 once day-count × daily-cents does);
  // the argmax is a row_number pick with earliest-day tiebreak, and the
  // only doubles are the final normalized stat + before/after mean shift,
  // each ONE closed-form expression quantized on both engines. Scale
  // shape: windows run over the per-(type, day) AGGREGATE (|days| rows per
  // type), never the raw stream.
  // Bollinger band breakouts per user: trailing-7-day rolling mean ± 2σ
  // over the daily-mean series, flagging days outside the band — the
  // σ-band cousin of win_hampel's MAD gate. Frame moments (Σv, Σv², n)
  // are exact integers in 4-dp fixed point; mean/σ/flag are per-row
  // closed-form doubles with identical trees (the unquantized-comparison
  // P14 device — only displayed columns are quantized). One shuffle on
  // user_id; frames single-pass over the per-day aggregate.
  q("ts_bollinger",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS BIGINT) AS v4
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT user_id, day, v4,
      |    SUM(v4) OVER fr AS sw,
      |    SUM(CAST(v4 AS HUGEINT) * v4) OVER fr AS qw,
      |    COUNT(*) OVER fr AS nw
      |  FROM daily
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(v4 AS DOUBLE) / 10000 AS x,
      |  CAST(floor(CAST(sw AS DOUBLE) / nw + 0.5) AS DOUBLE) / 10000 AS mid,
      |  CAST(floor(CAST(sw AS DOUBLE) / nw
      |    + 2 * sqrt((CAST(qw AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / nw) / nw)
      |    + 0.5) AS DOUBLE) / 10000 AS upper_band,
      |  CAST(CASE WHEN abs(CAST(v4 AS DOUBLE) - CAST(sw AS DOUBLE) / nw)
      |    > 2 * sqrt((CAST(qw AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / nw) / nw)
      |    THEN 1 ELSE 0 END AS INT) AS breakout
      |FROM w ORDER BY user_id, day""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("cnt"))
      .select(col("user_id"), col("day"),
        floor(col("s1").cast("double") / 10000 / col("cnt") * 10000 + lit(0.5))
          .cast("long").as("v4"))
    val fr = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    val w = daily
      .withColumn("sw", sum("v4").over(fr))
      .withColumn("qw", sum(dec(col("v4")) * col("v4")).over(fr))
      .withColumn("nw", count(lit(1)).over(fr))
    val mean = col("sw").cast("double") / col("nw")
    val sig = sqrt((col("qw").cast("double")
      - col("sw").cast("double") * col("sw").cast("double") / col("nw")) / col("nw"))
    w.select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("v4").cast("double") / 10000).as("x"),
        (floor(mean + lit(0.5)).cast("double") / 10000).as("mid"),
        (floor(mean + lit(2) * sig + lit(0.5)).cast("double") / 10000).as("upper_band"),
        when(abs(col("v4").cast("double") - mean) > lit(2) * sig, 1)
          .otherwise(0).cast("int").as("breakout"))
      .orderBy("user_id", "day")
  }

  // One-way ANOVA of daily revenue across the 7 weekdays — "is there a
  // day-of-week effect in the mean, not just the seasonal index". The
  // 7 groups are FIXED ARITY, so SSB is a closed-form expression over 14
  // named columns (s0²/n0 + … + s6²/n6 − S²/N, written in the identical
  // left-to-right order on both engines) — never an aggregation over
  // per-group doubles, which would be order-nondeterministic. Group sums
  // are exact integers (v² promoted 128-bit per P16) cast to double once.
  // Weekday from the sign-safe ((diff % 7) + 7) % 7 anchor form.
  q("ts_anova_dow",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(((datediff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS q,
      |    CAST(SUM(CASE WHEN dow = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
      |    CAST(SUM(CASE WHEN dow = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
      |    CAST(SUM(CASE WHEN dow = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
      |    CAST(SUM(CASE WHEN dow = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
      |    CAST(SUM(CASE WHEN dow = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4,
      |    CAST(SUM(CASE WHEN dow = 5 THEN 1 ELSE 0 END) AS DOUBLE) AS n5,
      |    CAST(SUM(CASE WHEN dow = 6 THEN 1 ELSE 0 END) AS DOUBLE) AS n6,
      |    CAST(SUM(CASE WHEN dow = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS DOUBLE) AS s0,
      |    CAST(SUM(CASE WHEN dow = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS DOUBLE) AS s1,
      |    CAST(SUM(CASE WHEN dow = 2 THEN CAST(v AS HUGEINT) ELSE 0 END) AS DOUBLE) AS s2,
      |    CAST(SUM(CASE WHEN dow = 3 THEN CAST(v AS HUGEINT) ELSE 0 END) AS DOUBLE) AS s3,
      |    CAST(SUM(CASE WHEN dow = 4 THEN CAST(v AS HUGEINT) ELSE 0 END) AS DOUBLE) AS s4,
      |    CAST(SUM(CASE WHEN dow = 5 THEN CAST(v AS HUGEINT) ELSE 0 END) AS DOUBLE) AS s5,
      |    CAST(SUM(CASE WHEN dow = 6 THEN CAST(v AS HUGEINT) ELSE 0 END) AS DOUBLE) AS s6
      |  FROM daily
      |), f AS (
      |  SELECT n,
      |    s0 * s0 / n0 + s1 * s1 / n1 + s2 * s2 / n2 + s3 * s3 / n3
      |      + s4 * s4 / n4 + s5 * s5 / n5 + s6 * s6 / n6 - s * s / n AS ssb,
      |    q - s * s / n AS sst
      |  FROM m
      |)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(floor((ssb / 6) / ((sst - ssb) / (n - 7)) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS f_stat,
      |  CAST(floor(ssb / sst * 10000 + 0.5) AS DOUBLE) / 10000 AS eta_sq
      |FROM f""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        ((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7 + 7) % 7).cast("int").as("dow"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("v"))
    def ng(g: Int) = sum(when(col("dow") === g, 1L).otherwise(0L))
      .cast("double").as(s"n$g")
    def sg(g: Int) = sum(when(col("dow") === g, dec(col("v")))
      .otherwise(lit(0).cast("decimal(38,0)"))).cast("double").as(s"s$g")
    val m = daily.agg(
      count(lit(1)).cast("double").as("n"),
      sum(dec(col("v"))).cast("double").as("s"),
      sum(dec(col("v")) * col("v")).cast("double").as("q"),
      ng(0), ng(1), ng(2), ng(3), ng(4), ng(5), ng(6),
      sg(0), sg(1), sg(2), sg(3), sg(4), sg(5), sg(6))
    val f = m.select(col("n"), col("q"), col("s"),
      (col("s0") * col("s0") / col("n0") + col("s1") * col("s1") / col("n1")
        + col("s2") * col("s2") / col("n2") + col("s3") * col("s3") / col("n3")
        + col("s4") * col("s4") / col("n4") + col("s5") * col("s5") / col("n5")
        + col("s6") * col("s6") / col("n6")
        - col("s") * col("s") / col("n")).as("ssb"),
      (col("q") - col("s") * col("s") / col("n")).as("sst"))
    f.select(col("n").cast("long").as("n_days"),
      (floor((col("ssb") / 6) / ((col("sst") - col("ssb")) / (col("n") - 7))
        * 10000 + lit(0.5)).cast("double") / 10000).as("f_stat"),
      (floor(col("ssb") / col("sst") * 10000 + lit(0.5)).cast("double")
        / 10000).as("eta_sq"))
  }

  q("ts_changepoint",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT event_type, day, s,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
      |    SUM(s) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(s) OVER (PARTITION BY event_type) AS tot
      |  FROM daily
      |), sc AS (
      |  SELECT event_type, day, t, cum, n, tot,
      |    ABS(CAST(n AS HUGEINT) * cum - CAST(t AS HUGEINT) * tot) AS score,
      |    row_number() OVER (PARTITION BY event_type ORDER BY
      |      ABS(CAST(n AS HUGEINT) * cum - CAST(t AS HUGEINT) * tot) DESC,
      |      day) AS rn
      |  FROM w
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  strftime(day, '%Y-%m-%d') AS cp_day,
      |  CAST(floor(CAST(score AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS cusum_stat,
      |  CASE WHEN t < n THEN
      |    CAST(floor((CAST(tot - cum AS DOUBLE) / (n - t)
      |      - CAST(cum AS DOUBLE) / t) / 100 * 10000 + 0.5) AS DOUBLE) / 10000
      |  END AS mean_shift
      |FROM sc WHERE rn = 1
      |ORDER BY event_type""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("s"))
    val wp = Window.partitionBy("event_type")
    val wo = wp.orderBy("day")
    val w = daily
      .withColumn("t", row_number().over(wo))
      .withColumn("cum",
        sum("s").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("tot", sum("s").over(wp))
      .withColumn("score", abs(dec(col("n")) * col("cum") - dec(col("t")) * col("tot")))
    w.withColumn("rn",
        row_number().over(wp.orderBy(col("score").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        (floor(col("score").cast("double")
          / (col("n").cast("double") * col("tot").cast("double"))
          * 1000000 + lit(0.5)).cast("double") / 1000000).as("cusum_stat"),
        when(col("t") < col("n"),
          floor(((col("tot") - col("cum")).cast("double") / (col("n") - col("t"))
            - col("cum").cast("double") / col("t")) / 100 * 10000 + lit(0.5))
            .cast("double") / 10000).as("mean_shift"))
      .orderBy("event_type")
  }

  // Cutler's 14-day RSI (relative strength index) over the global daily
  // order-revenue series — the momentum readout a metrics dashboard puts
  // next to Bollinger bands. Cutler's SMA variant (not Wilder's recursive
  // EWMA) keeps every window term an exact BIGINT cents delta, so the only
  // double op is one final ratio with an identical tree in both engines.
  // Scale shape (100 TB): the daily pre-aggregation collapses the fact
  // table to |days| rows in one shuffle; the partition-free window after
  // it runs on that tiny frame, not on the corpus.
  q("ts_rsi",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |), d AS (
      |  SELECT day, v, v - lag(v) OVER (ORDER BY day) AS delta FROM daily
      |), w AS (
      |  SELECT day,
      |    SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER fr AS sg,
      |    SUM(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER fr AS sl,
      |    COUNT(delta) OVER fr AS nw
      |  FROM d
      |  WINDOW fr AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CASE WHEN sg + sl = 0 THEN CAST(50.0 AS DOUBLE)
      |    ELSE CAST(floor(CAST(sg AS DOUBLE) * 100 / CAST(sg + sl AS DOUBLE)
      |      * 10000 + 0.5) AS DOUBLE) / 10000 END AS rsi14
      |FROM w WHERE nw = 14 ORDER BY day""") { (s, dir) =>
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
    val wo = Window.orderBy("day")
    val d = daily.withColumn("delta", col("v") - lag("v", 1).over(wo))
    val fr = wo.rowsBetween(-13, 0)
    d.withColumn("sg",
        sum(when(col("delta") > 0, col("delta")).otherwise(0L)).over(fr))
      .withColumn("sl",
        sum(when(col("delta") < 0, -col("delta")).otherwise(0L)).over(fr))
      .withColumn("nw", count(col("delta")).over(fr))
      .filter(col("nw") === 14)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        when(col("sg") + col("sl") === 0, lit(50.0))
          .otherwise(floor(col("sg").cast("double") * 100
            / (col("sg") + col("sl")).cast("double") * 10000 + lit(0.5))
            .cast("double") / 10000).as("rsi14"))
      .orderBy("day")
  }

  // Maximum drawdown of the daily-revenue KPI: largest relative
  // peak-to-trough decline against the running maximum — the "how bad did
  // the metric dip" monitoring readout. Running max and the trough argmax
  // are integer windows; the one double ratio quantizes to 6 dp. The
  // trough tiebreak (deepest dd, then earliest day) and the peak-day pick
  // (earliest day attaining the trough's peak value) are total orders, so
  // the single output row is deterministic in both engines.
  q("ts_drawdown",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |), r AS (
      |  SELECT day, v, MAX(v) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
      |  FROM daily
      |), dd AS (
      |  SELECT day, v, pk,
      |    CAST(floor(CAST(pk - v AS DOUBLE) / CAST(pk AS DOUBLE) * 1000000
      |      + 0.5) AS BIGINT) AS dd6
      |  FROM r
      |), t AS (
      |  SELECT day, v, pk, dd6,
      |    row_number() OVER (ORDER BY dd6 DESC, day) AS rn
      |  FROM dd
      |)
      |SELECT CAST(t.dd6 AS DOUBLE) / 1000000 AS max_drawdown,
      |  strftime((SELECT MIN(day) FROM dd WHERE dd.v = t.pk), '%Y-%m-%d')
      |    AS peak_day,
      |  strftime(t.day, '%Y-%m-%d') AS trough_day,
      |  CAST(t.pk AS DOUBLE) / 100 AS peak_revenue,
      |  CAST(t.v AS DOUBLE) / 100 AS trough_revenue
      |FROM t WHERE rn = 1""") { (s, dir) =>
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
    val wo = Window.orderBy("day")
    val dd = daily
      .withColumn("pk", max("v").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dd6",
        floor((col("pk") - col("v")).cast("double") / col("pk").cast("double")
          * 1000000 + lit(0.5)).cast("long"))
    val trough = dd
      .withColumn("rn", row_number().over(Window.orderBy(col("dd6").desc, col("day"))))
      .filter(col("rn") === 1)
    val peakDay = dd.join(
        broadcast(trough.select(col("pk").as("tpk"))), col("v") === col("tpk"))
      .agg(min("day").as("peak_day_d"))
    trough.crossJoin(broadcast(peakDay))
      .select((col("dd6").cast("double") / 1000000).as("max_drawdown"),
        date_format(col("peak_day_d"), "yyyy-MM-dd").as("peak_day"),
        date_format(col("day"), "yyyy-MM-dd").as("trough_day"),
        (col("pk").cast("double") / 100).as("peak_revenue"),
        (col("v").cast("double") / 100).as("trough_revenue"))
  }

  // Chow structural-break test on the daily-revenue trend: OLS on the
  // full series vs the two halves (break at the integer midpoint index),
  // F = ((RSSp − RSS1 − RSS2)/2) / ((RSS1+RSS2)/(n−4)) — "did the trend
  // change?". All regression moments are exact integers promoted to
  // 128-bit BEFORE the product (P16: Σt·y and Σy² overflow int64 at real
  // scale); slopes/RSS derive per-row in double with identical trees.
  // Scale: one shuffle to the daily frame, then one-row moment frames.
  q("ts_chow_break",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
      |  FROM orders GROUP BY 1
      |), ix AS (
      |  SELECT y, row_number() OVER (ORDER BY day) - 1 AS t,
      |    COUNT(*) OVER () AS n
      |  FROM daily
      |), sg AS (
      |  SELECT CASE WHEN t < n // 2 THEN 0 ELSE 1 END AS seg, t, y FROM ix
      |), m AS (
      |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(t) AS sx, SUM(y) AS sy,
      |    SUM(CAST(t AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(t AS HUGEINT) * t) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM sg GROUP BY seg
      |), p AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(t) AS sx, SUM(y) AS sy,
      |    SUM(CAST(t AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(t AS HUGEINT) * t) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM sg
      |), r AS (
      |  SELECT seg, n,
      |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cxy,
      |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS cxx,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cyy
      |  FROM m
      |), rk AS (
      |  SELECT seg, n, cxy / cxx AS slope, cyy - cxy * cxy / cxx AS rss FROM r
      |), rp AS (
      |  SELECT n,
      |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
      |    - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
      |      * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
      |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
      |      AS rssp
      |  FROM p
      |), fl AS (
      |  SELECT SUM(CASE WHEN seg = 0 THEN slope END) AS slope_pre,
      |    SUM(CASE WHEN seg = 1 THEN slope END) AS slope_post,
      |    SUM(rss) AS rss12, SUM(n) AS nn
      |  FROM rk
      |)
      |SELECT CAST(nn AS BIGINT) AS n_days,
      |  CAST(floor(slope_pre / 100 * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS slope_pre,
      |  CAST(floor(slope_post / 100 * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS slope_post,
      |  CAST(floor((rssp - rss12) / 2 / (rss12 / (nn - 4)) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS f_stat
      |FROM fl CROSS JOIN rp""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("y"))
    val ix = daily
      .withColumn("t", row_number().over(Window.orderBy("day")) - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val sg = ix.select(
      when(col("t") < expr("n div 2"), 0).otherwise(1).as("seg"),
      col("t"), col("y"))
    def moments(g: org.apache.spark.sql.RelationalGroupedDataset) =
      g.agg(count(lit(1)).cast("long").as("n"),
        sum("t").as("sx"), sum("y").as("sy"),
        sum(dec(col("t")) * col("y")).as("sxy"),
        sum(dec(col("t")) * col("t")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"))
    val m = moments(sg.groupBy("seg"))
    val p = moments(sg.groupBy())
    val r = m.select(col("seg"), col("n"),
      (d(col("sxy")) - d(col("sx")) * d(col("sy")) / col("n")).as("cxy"),
      (d(col("sxx")) - d(col("sx")) * d(col("sx")) / col("n")).as("cxx"),
      (d(col("syy")) - d(col("sy")) * d(col("sy")) / col("n")).as("cyy"))
    val rk = r.select(col("seg"), col("n"),
      (col("cxy") / col("cxx")).as("slope"),
      (col("cyy") - col("cxy") * col("cxy") / col("cxx")).as("rss"))
    val cxyP = d(col("sxy")) - d(col("sx")) * d(col("sy")) / col("n")
    val rp = p.select(
      ((d(col("syy")) - d(col("sy")) * d(col("sy")) / col("n"))
        - cxyP * cxyP
          / (d(col("sxx")) - d(col("sx")) * d(col("sx")) / col("n"))).as("rssp"))
    val fl = rk.agg(
      sum(when(col("seg") === 0, col("slope"))).as("slope_pre"),
      sum(when(col("seg") === 1, col("slope"))).as("slope_post"),
      sum("rss").as("rss12"), sum("n").as("nn"))
    fl.crossJoin(broadcast(rp))
      .select(col("nn").cast("long").as("n_days"),
        (floor(col("slope_pre") / 100 * 1000000 + lit(0.5)).cast("double")
          / 1000000).as("slope_pre"),
        (floor(col("slope_post") / 100 * 1000000 + lit(0.5)).cast("double")
          / 1000000).as("slope_post"),
        (floor((col("rssp") - col("rss12")) / 2 / (col("rss12") / (col("nn") - 4))
          * 10000 + lit(0.5)).cast("double") / 10000).as("f_stat"))
  }

  // Per-user exponential time-decay engagement score with half-life =
  // 1 day: score = Σ cents(value) · 2^(−age_days) — the recency-weighted
  // activity feature a ranking / churn model consumes. Dyadic decay keeps
  // it EXACT: each contribution is cents · 2^(40−k) as a BIGINT (k = age
  // capped at 40 — older events contribute < 2^-40 ≈ 1e-12, below the
  // 4 dp output quantum), summed in 128-bit, divided once by 2^40 (a
  // power-of-two division, exact in IEEE). No transcendentals anywhere.
  // Scale: one groupBy(user) shuffle; the ref-day frame is one broadcast row.
  q("events_decay_score",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), ref AS (SELECT MAX(day_id) AS ref_day FROM e
      |), c AS (
      |  SELECT user_id,
      |    cents * (CAST(1 AS BIGINT)
      |      << CAST(40 - LEAST(ref_day - day_id, 40) AS INT)) AS contrib
      |  FROM e CROSS JOIN ref
      |)
      |SELECT user_id,
      |  CAST(floor(CAST(SUM(CAST(contrib AS HUGEINT)) AS DOUBLE)
      |    / 1099511627776 / 100 * 10000 + 0.5) AS DOUBLE) / 10000 AS decay_score
      |FROM c GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day_id"),
        Det.cents(col("value")).cast("long").as("cents"))
    val ref = e.agg(max("day_id").as("ref_day"))
    e.crossJoin(broadcast(ref))
      .select(col("user_id"),
        (col("cents") * expr("shiftleft(1L, cast(40 - least(ref_day - day_id, 40) as int))"))
          .as("contrib"))
      .groupBy("user_id")
      .agg(sum(col("contrib").cast("decimal(38,0)")).as("sc"))
      .select(col("user_id"),
        (floor(col("sc").cast("double") / 1099511627776L / 100 * 10000 + lit(0.5))
          .cast("double") / 10000).as("decay_score"))
      .orderBy("user_id")
  }

  // Peak concurrent sessions per day — the capacity-planning readout: how
  // many 30-min-gap sessions overlap at the busiest instant. Sessions
  // come from the same gap rule as events_sessionize; each contributes an
  // arrival (+1 at start) and a departure (−1 at end+1s, end-inclusive)
  // delta, and the peak is the max of the running sum over the day's
  // sweep. The sweep's total order (t, d, user, session) makes the
  // running sum — and therefore the peak — engine-deterministic.
  // Scale: windows partition by user (sessionize) then by day (sweep);
  // the delta frame is 2×sessions rows, never the raw event stream. A
  // session is attributed to its start day by contract (cross-midnight
  // carry-in counts in the start day), which is what keeps the sweep
  // day-partitioned instead of one global serial pass.
  q("events_concurrent_peak",
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events
      |), b AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN sec - lag(sec) OVER w > 1800
      |         OR lag(sec) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), s AS (
      |  SELECT user_id, sec,
      |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id)
      |      AS BIGINT) AS sid
      |  FROM b
      |), sess AS (
      |  SELECT user_id, sid, MIN(sec) AS t0, MAX(sec) AS t1
      |  FROM s GROUP BY user_id, sid
      |), delta AS (
      |  SELECT user_id, sid, t0 // 86400 AS day_id, t0 AS t, 1 AS d FROM sess
      |  UNION ALL
      |  SELECT user_id, sid, t0 // 86400 AS day_id, t1 + 1 AS t, -1 AS d FROM sess
      |), run AS (
      |  SELECT day_id, t, d,
      |    SUM(d) OVER (PARTITION BY day_id ORDER BY t, d, user_id, sid) AS conc
      |  FROM delta
      |)
      |SELECT day_id, CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
      |  CAST(COUNT(*) AS BIGINT) // 2 AS n_sessions
      |FROM run GROUP BY day_id ORDER BY day_id""") { (s, dir) =>
    val wu = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val sess = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        floor(unix_timestamp(col("ts"))).cast("long").as("sec"))
      .withColumn("brk",
        when(col("sec") - lag("sec", 1).over(wu) > 1800
          || lag("sec", 1).over(wu).isNull, 1).otherwise(0))
      .withColumn("sid", sum("brk").over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("sec").as("t0"), max("sec").as("t1"))
    val delta = sess.select(col("user_id"), col("sid"),
        expr("t0 div 86400").as("day_id"),
        col("t0").as("t"), lit(1).as("d"))
      .unionAll(sess.select(col("user_id"), col("sid"),
        expr("t0 div 86400").as("day_id"),
        (col("t1") + 1).as("t"), lit(-1).as("d")))
    val ws = Window.partitionBy("day_id")
      .orderBy("t", "d", "user_id", "sid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    delta.withColumn("conc", sum("d").over(ws))
      .groupBy("day_id")
      .agg(max("conc").cast("long").as("peak_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_sessions"))
      .orderBy("day_id")
  }

  // Classical additive decomposition of the daily-revenue series
  // (STL-style, moving-average flavor): trend = centered 7-day MA (full
  // windows only), seasonal = day-of-week mean of the detrended series,
  // resid = remainder. All three components stay integer cents until the
  // final /100 emit: the MA divides an exact window sum by 7 and requants
  // via floor(x+0.5) (the P-rule dyadic-tie form, valid for negatives
  // too), and the dow means do the same over exact BIGINT sums. Weekday
  // from anchored integer day arithmetic (fixture-independent form).
  // Scale: one shuffle to |days| rows, then windows/joins on that frame.
  q("ts_stl_decompose",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
      |  FROM orders GROUP BY 1
      |), tr AS (
      |  SELECT day, y, SUM(y) OVER fr AS s7, COUNT(*) OVER fr AS n7
      |  FROM daily
      |  WINDOW fr AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), t AS (
      |  SELECT day, y,
      |    CAST(floor(CAST(s7 AS DOUBLE) / 7 + 0.5) AS BIGINT) AS t7,
      |    y - CAST(floor(CAST(s7 AS DOUBLE) / 7 + 0.5) AS BIGINT) AS detr,
      |    ((date_diff('day', DATE '2024-01-01', day) % 7) + 7) % 7 AS dow
      |  FROM tr WHERE n7 = 7
      |), sm AS (
      |  SELECT dow,
      |    CAST(floor(CAST(SUM(detr) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
      |      AS sdow
      |  FROM t GROUP BY dow
      |)
      |SELECT strftime(t.day, '%Y-%m-%d') AS day,
      |  CAST(y AS DOUBLE) / 100 AS y,
      |  CAST(t7 AS DOUBLE) / 100 AS trend,
      |  CAST(sdow AS DOUBLE) / 100 AS seasonal,
      |  CAST(detr - sdow AS DOUBLE) / 100 AS resid
      |FROM t JOIN sm ON t.dow = sm.dow
      |ORDER BY day""") { (s, dir) =>
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("y"))
    val fr = Window.orderBy("day").rowsBetween(-3, 3)
    val t7 = floor(col("s7").cast("double") / 7 + lit(0.5)).cast("long")
    val t = daily
      .withColumn("s7", sum("y").over(fr))
      .withColumn("n7", count(lit(1)).over(fr))
      .filter(col("n7") === 7)
      .select(col("day"), col("y"), t7.as("t7"), (col("y") - t7).as("detr"),
        expr("((datediff(day, date'2024-01-01') % 7) + 7) % 7").as("dow"))
    val sm = t.groupBy("dow")
      .agg(floor(sum("detr").cast("double") / count(lit(1)) + lit(0.5))
        .cast("long").as("sdow"))
    t.join(broadcast(sm), "dow")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("y").cast("double") / 100).as("y"),
        (col("t7").cast("double") / 100).as("trend"),
        (col("sdow").cast("double") / 100).as("seasonal"),
        ((col("detr") - col("sdow")).cast("double") / 100).as("resid"))
      .orderBy("day")
  }

  // Day-over-day and week-over-week percent change of daily revenue —
  // the two deltas every KPI dashboard leads with. Ratios of exact
  // BIGINT cents with identical double trees; 6 dp.
  q("ts_pct_change",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CAST(v AS DOUBLE) / 100 AS revenue,
      |  CASE WHEN lag(v) OVER w IS NULL THEN NULL
      |    ELSE CAST(floor((CAST(v AS DOUBLE) - CAST(lag(v) OVER w AS DOUBLE))
      |      / CAST(lag(v) OVER w AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)
      |      / 1000000 END AS dod_pct,
      |  CASE WHEN lag(v, 7) OVER w IS NULL THEN NULL
      |    ELSE CAST(floor((CAST(v AS DOUBLE) - CAST(lag(v, 7) OVER w AS DOUBLE))
      |      / CAST(lag(v, 7) OVER w AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)
      |      / 1000000 END AS wow_pct
      |FROM daily WINDOW w AS (ORDER BY day)
      |ORDER BY day""") { (s, dir) =>
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
    val w = Window.orderBy("day")
    def pct(l: org.apache.spark.sql.Column) =
      when(l.isNull, lit(null)).otherwise(
        floor((col("v").cast("double") - l.cast("double")) / l.cast("double")
          * 1000000 + lit(0.5)).cast("double") / 1000000)
    daily
      .withColumn("l1", lag("v", 1).over(w))
      .withColumn("l7", lag("v", 7).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("v").cast("double") / 100).as("revenue"),
        pct(col("l1")).as("dod_pct"),
        pct(col("l7")).as("wow_pct"))
      .orderBy("day")
  }

  // Fast/slow EWMA crossover signals on each event type's daily revenue —
  // the trading-style trend-change detector (golden cross +1 when the
  // fast α=0.5 average climbs through the slow α=0.2 one, death cross
  // −1 on the way down). Same determinism device as ts_ewma: the
  // per-type daily series is a DAY-grain frame, both recursions fold it
  // with the IDENTICAL per-element double tree (Spark higher-order
  // aggregate ≡ DuckDB recursive CTE carrying both accumulators), and
  // the cross test compares the two raw doubles — identical operands on
  // both engines, so the sign sequence matches bit-for-bit. One corpus
  // aggregate; windows only over the bounded daily frame (P15).
  q("ts_ewm_crossover",
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |      AS x
      |  FROM events GROUP BY 1, 2
      |), d AS (
      |  SELECT event_type, day, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily
      |), r AS (
      |  SELECT event_type, day, rn, x, x AS f, x AS sl FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.event_type, d.day, d.rn, d.x,
      |    CAST(0.5 AS DOUBLE) * d.x + CAST(0.5 AS DOUBLE) * r.f,
      |    CAST(0.2 AS DOUBLE) * d.x + CAST(0.8 AS DOUBLE) * r.sl
      |  FROM d JOIN r ON d.event_type = r.event_type AND d.rn = r.rn + 1
      |), sig AS (
      |  SELECT event_type, day, x, f, sl, f > sl AS up,
      |    lag(f > sl) OVER (PARTITION BY event_type ORDER BY day) AS pup
      |  FROM r
      |)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x AS revenue,
      |  floor(f * 10000 + 0.5) / 10000 AS ewma_fast,
      |  floor(sl * 10000 + 0.5) / 10000 AS ewma_slow,
      |  CAST(CASE WHEN pup IS NULL THEN 0
      |    WHEN up AND NOT pup THEN 1
      |    WHEN NOT up AND pup THEN -1 ELSE 0 END AS BIGINT) AS signal
      |FROM sig
      |ORDER BY event_type, day""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg((sum(Det.cents(col("value"))).cast("double") / 100).as("x"))
    val folded = daily
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("xs"))
      .withColumn("fs", expr(
        "aggregate(xs, CAST(array() AS array<double>), (acc, e) -> " +
          "array_append(acc, CASE WHEN size(acc) = 0 THEN e.x " +
          "ELSE CAST(0.5 AS DOUBLE) * e.x " +
          "+ CAST(0.5 AS DOUBLE) * element_at(acc, -1) END))"))
      .withColumn("ss", expr(
        "aggregate(xs, CAST(array() AS array<double>), (acc, e) -> " +
          "array_append(acc, CASE WHEN size(acc) = 0 THEN e.x " +
          "ELSE CAST(0.2 AS DOUBLE) * e.x " +
          "+ CAST(0.8 AS DOUBLE) * element_at(acc, -1) END))"))
    val rows = folded
      .select(col("event_type"), col("fs"), col("ss"), posexplode(col("xs")))
      .select(col("event_type"), col("col.day").as("day"), col("col.x").as("x"),
        element_at(col("fs"), col("pos") + 1).as("f"),
        element_at(col("ss"), col("pos") + 1).as("sl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    val sig = rows.withColumn("up", col("f") > col("sl"))
      .withColumn("pup", lag(col("f") > col("sl"), 1).over(w))
    sig.select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("x").as("revenue"),
        (floor(col("f") * 10000 + lit(0.5)) / 10000).as("ewma_fast"),
        (floor(col("sl") * 10000 + lit(0.5)) / 10000).as("ewma_slow"),
        when(col("pup").isNull, 0L)
          .when(col("up") && !col("pup"), 1L)
          .when(!col("up") && col("pup"), -1L)
          .otherwise(0L).as("signal"))
      .orderBy("event_type", "day")
  }

  // Lagged cross-correlation between the daily 'view' and 'purchase'
  // count series (does today's traffic predict purchases ℓ days later?).
  // Lags 0..7; r(ℓ) is Pearson over the overlapping days, assembled from
  // SIX exact integer sums per lag (n, Σx, Σy, Σxy, Σx², Σy²) — the only
  // doubles are one closed-form tree per lag. Products promote to
  // DECIMAL(38,0)/HUGEINT before multiplying: a daily count at corpus
  // scale is ~1e9 and its square exceeds int64. Plan: one tiny daily
  // aggregate (days × types rows), an 8-way lag expansion of that
  // aggregate (NOT of the raw events), and a broadcast-sized join — the
  // heavy table is touched exactly once.
  q("ts_cross_corr",
    """WITH d AS (
      |  SELECT date_diff('day', DATE '2024-01-01',
      |           CAST(date_trunc('day', ts) AS DATE)) AS day, event_type,
      |         COUNT(*) AS c
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY 1, 2
      |), x AS (SELECT day, c FROM d WHERE event_type = 'view'),
      |y AS (SELECT day, c FROM d WHERE event_type = 'purchase'),
      |l AS (SELECT unnest(range(0, 8)) AS lag),
      |p AS (
      |  SELECT l.lag, x.c AS xv, y.c AS yv
      |  FROM l JOIN x ON TRUE JOIN y ON y.day = x.day + l.lag
      |), st AS (
      |  SELECT lag, COUNT(*) AS n,
      |    CAST(SUM(xv) AS BIGINT) AS sx, CAST(SUM(yv) AS BIGINT) AS sy,
      |    SUM(CAST(xv AS HUGEINT) * yv) AS sxy,
      |    SUM(CAST(xv AS HUGEINT) * xv) AS sxx,
      |    SUM(CAST(yv AS HUGEINT) * yv) AS syy
      |  FROM p GROUP BY lag
      |)
      |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
      |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    * 1000000 + 0.5) / 1000000 AS r
      |FROM st ORDER BY lag""") { (s, dir) =>
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = Tables(s, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val x = d.filter(col("event_type") === "view").select(col("day"), col("c").as("xv"))
    val y = d.filter(col("event_type") === "purchase")
      .select(col("day").as("yday"), col("c").as("yv"))
    val p = x.withColumn("lag", explode(sequence(lit(0), lit(7))))
      .join(y, col("yday") === col("day") + col("lag"))
    val st = p.groupBy("lag").agg(count(lit(1)).as("n"),
      sum("xv").cast("long").as("sx"), sum("yv").cast("long").as("sy"),
      sum(col("xv").cast(dec38) * col("yv")).as("sxy"),
      sum(col("xv").cast(dec38) * col("xv")).as("sxx"),
      sum(col("yv").cast(dec38) * col("yv")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val den = sqrt((nD * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
      * (nD * col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double")))
    st.select(col("lag").cast("long").as("lag"), col("n").cast("long").as("n"),
        (floor(num / den * 1000000 + lit(0.5)) / 1000000).as("r"))
      .orderBy("lag")
  }

  // Periodogram over the daily revenue series: normalized DFT power at
  // candidate periods 2..14 days — the spectral "which cycle is real"
  // companion to ts_dow_seasonality's fixed weekly fold. Determinism: the
  // cos/sin arguments are 2π·(t mod p)/p — at most Σp ≈ 100 DISTINCT
  // angles (the Det.lnFix few-distinct-arguments rationale), and every
  // per-row product (demeaned value × trig) is fixed to integer BEFORE
  // the cross-day sum, so the aggregation is exact and order-free. The
  // demeaned value itself is one double tree over exact integer cents.
  // Plan: one daily aggregate, a 13-way period expansion OF THE DAILY
  // ROWS (not the events), and a 13-group aggregate — the event table is
  // scanned once at any scale.
  q("ts_periodogram",
    """WITH daily AS (
      |  SELECT date_diff('day', DATE '2024-01-01',
      |           CAST(date_trunc('day', ts) AS DATE)) AS t,
      |         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), tot AS (SELECT CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n FROM daily),
      |dm AS (
      |  SELECT t, CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n AS dm
      |  FROM daily, tot
      |), pp AS (SELECT unnest(range(2, 15)) AS p),
      |terms AS (
      |  SELECT p,
      |    CAST(floor(dm * cos(((2 * pi()) * (((t % p) + p) % p)) / p) * 100
      |      + 0.5) AS BIGINT) AS tc,
      |    CAST(floor(dm * sin(((2 * pi()) * (((t % p) + p) % p)) / p) * 100
      |      + 0.5) AS BIGINT) AS tsn,
      |    CAST(floor(dm * dm * 100 + 0.5) AS BIGINT) AS q
      |  FROM dm, pp
      |), st AS (
      |  SELECT p, COUNT(*) AS n, CAST(SUM(tc) AS BIGINT) AS sc,
      |    CAST(SUM(tsn) AS BIGINT) AS ss, CAST(SUM(q) AS BIGINT) AS sq
      |  FROM terms GROUP BY p
      |)
      |SELECT CAST(p AS BIGINT) AS period, CAST(n AS BIGINT) AS n_days,
      |  floor(((CAST(sc AS DOUBLE) / 100) * (CAST(sc AS DOUBLE) / 100)
      |         + (CAST(ss AS DOUBLE) / 100) * (CAST(ss AS DOUBLE) / 100))
      |        / (n * (CAST(sq AS DOUBLE) / 100)) * 1000000 + 0.5)
      |    / 1000000 AS norm_power
      |FROM st ORDER BY period""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date")).as("t"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val tot = daily.groupBy().agg(sum("x").cast("long").as("sx"),
      count(lit(1)).as("n"))
    val dm = daily.crossJoin(broadcast(tot))
      .select(col("t"),
        (col("x").cast("double") - col("sx").cast("double") / col("n")).as("dm"))
    val ang = ((lit(2) * lit(math.Pi)) * (((col("t") % col("p")) + col("p"))
      % col("p"))) / col("p")
    val terms = dm.withColumn("p", explode(sequence(lit(2), lit(14))))
      .select(col("p"),
        floor(col("dm") * cos(ang) * 100 + lit(0.5)).cast("long").as("tc"),
        floor(col("dm") * sin(ang) * 100 + lit(0.5)).cast("long").as("tsn"),
        floor(col("dm") * col("dm") * 100 + lit(0.5)).cast("long").as("q"))
    val st = terms.groupBy("p").agg(count(lit(1)).as("n"),
      sum("tc").cast("long").as("sc"), sum("tsn").cast("long").as("ss"),
      sum("q").cast("long").as("sq"))
    st.select(col("p").cast("long").as("period"),
        col("n").cast("long").as("n_days"),
        (floor(((col("sc").cast("double") / 100) * (col("sc").cast("double") / 100)
          + (col("ss").cast("double") / 100) * (col("ss").cast("double") / 100))
          / (col("n") * (col("sq").cast("double") / 100)) * 1000000 + lit(0.5))
          / 1000000).as("norm_power"))
      .orderBy("period")
  }

  // Local-peak detection on the daily revenue series: a day is a peak
  // when it strictly exceeds the two days on each side (±2 window via
  // lag/lead — pure integer cents comparisons) and its prominence over
  // the higher shoulder clears 5% of the peak. Window is per-series and
  // ROWS-bounded; at corpus scale the daily aggregate is tiny and the
  // event scan is the only linear pass.
  q("ts_peaks",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), w AS (
      |  SELECT day, x,
      |    lag(x, 1) OVER (ORDER BY day) AS p1,
      |    lag(x, 2) OVER (ORDER BY day) AS p2,
      |    lead(x, 1) OVER (ORDER BY day) AS f1,
      |    lead(x, 2) OVER (ORDER BY day) AS f2
      |  FROM d
      |)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CAST(x AS DOUBLE) / 100 AS revenue,
      |  floor((CAST(x AS DOUBLE) - greatest(p1, p2, f1, f2))
      |        / x * 1000000 + 0.5) / 1000000 AS prominence
      |FROM w
      |WHERE p1 IS NOT NULL AND p2 IS NOT NULL
      |  AND f1 IS NOT NULL AND f2 IS NOT NULL
      |  AND x > p1 AND x > p2 AND x > f1 AND x > f2
      |  AND 20 * (x - greatest(p1, p2, f1, f2)) >= x
      |ORDER BY day""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val w = Window.orderBy("day")
    val ww = d
      .withColumn("p1", lag("x", 1).over(w))
      .withColumn("p2", lag("x", 2).over(w))
      .withColumn("f1", lead("x", 1).over(w))
      .withColumn("f2", lead("x", 2).over(w))
    val hi = greatest(col("p1"), col("p2"), col("f1"), col("f2"))
    ww.filter(col("p1").isNotNull && col("p2").isNotNull
        && col("f1").isNotNull && col("f2").isNotNull
        && col("x") > col("p1") && col("x") > col("p2")
        && col("x") > col("f1") && col("x") > col("f2")
        && (col("x") - hi) * 20 >= col("x"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("x").cast("double") / 100).as("revenue"),
        (floor((col("x").cast("double") - hi) / col("x") * 1000000 + lit(0.5))
          / 1000000).as("prominence"))
      .orderBy("day")
  }

  // SLO error-budget burn rate: per-day error share against a 1% SLO,
  // with the 1-day and (trailing) 7-day burn multiples an alerting
  // policy pages on (Google SRE multi-window form). Counts are exact
  // integers; the rolling 7-day sums stay integer via a rows-frame
  // window over the DAILY aggregate (365 rows/year — the window never
  // sees events); rates and burn multiples are single double trees.
  q("events_error_rate_slo",
    """WITH d AS (
      |  SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
      |    COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE event_type = 'error') AS errs
      |  FROM events GROUP BY 1
      |), r AS (
      |  SELECT day, n, errs,
      |    SUM(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |      AS n7,
      |    SUM(errs) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |      AS e7
      |  FROM d
      |)
      |SELECT day, CAST(n AS BIGINT) AS n_events, CAST(errs AS BIGINT) AS n_errors,
      |  floor(CAST(errs AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS error_rate,
      |  floor(CAST(errs AS DOUBLE) / n / 0.01 * 10000 + 0.5) / 10000
      |    AS burn_1d,
      |  floor(CAST(e7 AS DOUBLE) / n7 / 0.01 * 10000 + 0.5) / 10000
      |    AS burn_7d
      |FROM r ORDER BY day""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    val r = d.withColumn("n7", sum("n").over(w))
      .withColumn("e7", sum("errs").over(w))
    r.select(col("day"), col("n").cast("long").as("n_events"),
        col("errs").cast("long").as("n_errors"),
        (floor(col("errs").cast("double") / col("n") * 1000000 + lit(0.5))
          / 1000000).as("error_rate"),
        (floor(col("errs").cast("double") / col("n") / 0.01 * 10000 + lit(0.5))
          / 10000).as("burn_1d"),
        (floor(col("e7").cast("double") / col("n7") / 0.01 * 10000 + lit(0.5))
          / 10000).as("burn_7d"))
      .orderBy("day")
  }

  // Stratified (blocked) treatment-effect estimate: click-vs-view value
  // difference per weekday stratum, plus the stratum-size-weighted ATE —
  // the discrete-covariate form of inverse-propensity weighting, the
  // adjustment that removes day-mix confounding from a naive A/B diff.
  // Per-stratum means assemble from exact integer sums; the overall ATE
  // sums 7 per-stratum double terms AFTER a 1e-4 fix (P2: integer
  // addition only across cells). Two hash aggregates, 7-row frames.
  q("events_ab_stratified",
    """WITH e AS (
      |  SELECT CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow,
      |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE event_type IN ('click', 'view')
      |), st AS (
      |  SELECT dow,
      |    SUM(t) AS nt, SUM(1 - t) AS nc,
      |    SUM(CASE WHEN t = 1 THEN c ELSE 0 END) AS sct,
      |    SUM(CASE WHEN t = 0 THEN c ELSE 0 END) AS scc
      |  FROM e GROUP BY dow
      |), d AS (
      |  SELECT dow, nt, nc,
      |    CAST(sct AS DOUBLE) / 100 / nt AS mt,
      |    CAST(scc AS DOUBLE) / 100 / nc AS mc,
      |    CAST(floor((CAST(sct AS DOUBLE) / 100 / nt
      |                - CAST(scc AS DOUBLE) / 100 / nc)
      |         * (nt + nc) * 10000 + 0.5) AS BIGINT) AS wdfix
      |  FROM st WHERE nt > 0 AND nc > 0
      |), tot AS (SELECT CAST(SUM(nt + nc) AS BIGINT) AS n,
      |                  CAST(SUM(wdfix) AS HUGEINT) AS wsum FROM d)
      |SELECT CAST(dow AS BIGINT) AS stratum,
      |  CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_control,
      |  floor(mt * 10000 + 0.5) / 10000 AS mean_treat,
      |  floor(mc * 10000 + 0.5) / 10000 AS mean_control,
      |  floor((mt - mc) * 10000 + 0.5) / 10000 AS diff
      |FROM d
      |UNION ALL
      |SELECT -1, NULL, NULL, NULL, NULL,
      |  floor(CAST(wsum AS DOUBLE) / 10000 / n * 10000 + 0.5) / 10000
      |FROM tot
      |ORDER BY stratum""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select((((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("dow"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("t"),
        Det.cents(col("value")).cast("long").as("c"))
    val st = e.groupBy("dow").agg(
      sum("t").as("nt"), sum(lit(1L) - col("t")).as("nc"),
      sum(when(col("t") === 1, col("c")).otherwise(0L)).as("sct"),
      sum(when(col("t") === 0, col("c")).otherwise(0L)).as("scc"))
    val mt = col("sct").cast("double") / 100 / col("nt")
    val mc = col("scc").cast("double") / 100 / col("nc")
    val d = st.filter(col("nt") > 0 && col("nc") > 0)
      .select(col("dow"), col("nt"), col("nc"), mt.as("mt"), mc.as("mc"),
        floor((mt - mc) * (col("nt") + col("nc")) * 10000 + lit(0.5))
          .cast("long").as("wdfix"))
    val tot = d.groupBy().agg(sum(col("nt") + col("nc")).cast("long").as("n"),
      sum("wdfix").as("wsum"))
    val per = d.select(col("dow").cast("long").as("stratum"),
      col("nt").cast("long").as("n_treat"), col("nc").cast("long").as("n_control"),
      (floor(col("mt") * 10000 + lit(0.5)) / 10000).as("mean_treat"),
      (floor(col("mc") * 10000 + lit(0.5)) / 10000).as("mean_control"),
      (floor((col("mt") - col("mc")) * 10000 + lit(0.5)) / 10000).as("diff"))
    val overall = tot.select(lit(-1L).as("stratum"),
      lit(null).cast("long").as("n_treat"), lit(null).cast("long").as("n_control"),
      lit(null).cast("double").as("mean_treat"),
      lit(null).cast("double").as("mean_control"),
      (floor(col("wsum").cast("double") / 10000 / col("n") * 10000 + lit(0.5))
        / 10000).as("diff"))
    per.unionAll(overall).orderBy("stratum")
  }

  // Weekday × hour activity matrix with within-day share — the calendar
  // heatmap feeding capacity planning and anomaly baselines. dow uses the
  // sign-safe anchor form; hour from the microsecond epoch (integer
  // division, identical both engines); one hash aggregate over 168 cells
  // plus a broadcast of the per-dow totals.
  q("events_dow_hour_matrix",
    """WITH e AS (
      |  SELECT CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow,
      |    CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour
      |  FROM events
      |), cell AS (
      |  SELECT dow, hour, COUNT(*) AS n FROM e GROUP BY dow, hour
      |), dt AS (SELECT dow, SUM(n) AS dn FROM cell GROUP BY dow)
      |SELECT cell.dow, cell.hour, CAST(n AS BIGINT) AS n_events,
      |  floor(CAST(n AS DOUBLE) / dn * 1000000 + 0.5) / 1000000
      |    AS share_of_dow
      |FROM cell JOIN dt USING (dow)
      |ORDER BY dow, hour""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select((((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("dow"),
        expr("cast((unix_micros(ts) div 3600000000) % 24 as int)").as("hour"))
    val cell = e.groupBy("dow", "hour").agg(count(lit(1)).as("n"))
    val dt = cell.groupBy("dow").agg(sum("n").as("dn"))
    cell.join(broadcast(dt), "dow")
      .select(col("dow"), col("hour"), col("n").cast("long").as("n_events"),
        (floor(col("n").cast("double") / col("dn") * 1000000 + lit(0.5))
          / 1000000).as("share_of_dow"))
      .orderBy("dow", "hour")
  }

  // Exact-duplicate event detection (the ingestion-replay DQ gate):
  // duplicate = identical (user_id, event_type, second-truncated ts,
  // cent value). One hash aggregate on the composite key; the summary is
  // a second tiny aggregate. At corpus scale this is the same
  // one-shuffle digest-groupBy shape as llm_dedup_exact — the key is
  // hashed integers, never raw payloads.
  q("dq_duplicate_rows",
    """WITH k AS (
      |  SELECT user_id, event_type, epoch_us(date_trunc('second', ts)) AS tsec,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2, 3, 4
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_keys,
      |  CAST(SUM(c) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
      |  CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
      |    AS n_redundant_rows,
      |  floor(CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS DOUBLE)
      |        / SUM(c) * 1000000 + 0.5) / 1000000 AS dup_rate
      |FROM k""") { (s, dir) =>
    val k = Tables(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"),
        unix_micros(date_trunc("second", col("ts"))).as("tsec"),
        Det.cents(col("value")).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    k.groupBy()
      .agg(count(lit(1)).cast("long").as("n_distinct_keys"),
        sum("c").cast("long").as("n_rows"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).cast("long").as("n_dup_keys"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).cast("long")
          .as("n_redundant_rows"),
        (floor(sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).cast("double")
          / sum("c") * 1000000 + lit(0.5)) / 1000000).as("dup_rate"))
  }

  // Cart-abandonment funnel by day: of the users who clicked that day,
  // how many never purchased the same day. Two tiny per-(day, user)
  // semi-joined aggregates — the shuffle key is (day, user), so the op
  // is embarrassingly parallel at any scale; the daily readout is a
  // second aggregate over per-day integers.
  q("events_cart_abandonment",
    """WITH cu AS (
      |  SELECT DISTINCT strftime(CAST(date_trunc('day', ts) AS DATE),
      |    '%Y-%m-%d') AS day, user_id
      |  FROM events WHERE event_type = 'click'
      |), pu AS (
      |  SELECT DISTINCT strftime(CAST(date_trunc('day', ts) AS DATE),
      |    '%Y-%m-%d') AS day, user_id
      |  FROM events WHERE event_type = 'purchase'
      |), j AS (
      |  SELECT cu.day, cu.user_id,
      |    CASE WHEN pu.user_id IS NULL THEN 1 ELSE 0 END AS abandoned
      |  FROM cu LEFT JOIN pu ON pu.day = cu.day AND pu.user_id = cu.user_id
      |)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_clickers,
      |  CAST(SUM(abandoned) AS BIGINT) AS n_abandoned,
      |  floor(CAST(SUM(abandoned) AS DOUBLE) / COUNT(*) * 1000000 + 0.5)
      |    / 1000000 AS abandonment_rate
      |FROM j GROUP BY day ORDER BY day""") { (s, dir) =>
    def du(t: String) = Tables(s, dir, "events")
      .filter(col("event_type") === t)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id"))
      .distinct()
    val j = du("click").join(du("purchase").withColumn("hit", lit(1)),
        Seq("day", "user_id"), "left")
      .select(col("day"),
        when(col("hit").isNull, 1L).otherwise(0L).as("abandoned"))
    j.groupBy("day")
      .agg(count(lit(1)).cast("long").as("n_clickers"),
        sum("abandoned").cast("long").as("n_abandoned"),
        (floor(sum("abandoned").cast("double") / count(lit(1)) * 1000000
          + lit(0.5)) / 1000000).as("abandonment_rate"))
      .orderBy("day")
  }

  // Exponential retention-decay fit: regress ln(retention rate) on weeks
  // since signup across every (cohort, age ≥ 1) cell — the one-number
  // summary (decay/week + half-life) of the retention matrix. Cohort
  // size is the cohort's own week-0 active count (every user is active
  // in their signup week by construction), ln(active/size) splits into
  // two INTEGER-argument fixed-point logs (P12/P17), and the OLS slope
  // assembles from exact integer moments (P16). ln 2 is spelled as the
  // same double literal in both engines (libm ln(2) is not blessed).
  // Cohort-week frame in, one row out.
  q("events_retention_decay_fit",
    """WITH first AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort
      |  FROM events GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
      |), ret AS (
      |  SELECT f.cohort,
      |    CAST((epoch(a.wk) - epoch(f.cohort)) / 604800 AS BIGINT) AS w,
      |    CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS active
      |  FROM first f JOIN activity a ON f.user_id = a.user_id
      |  GROUP BY 1, 2
      |), sz AS (SELECT cohort, active AS size FROM ret WHERE w = 0),
      |pts AS (
      |  SELECT r.w AS x,
      |    CAST(floor(ln(CAST(r.active AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |      - CAST(floor(ln(CAST(s.size AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |      AS y
      |  FROM ret r JOIN sz s ON r.cohort = s.cohort
      |  WHERE r.w >= 1 AND r.active > 0
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM pts
      |), f AS (
      |  SELECT n,
      |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) / 1000000
      |      AS slope
      |  FROM m
      |)
      |SELECT CAST(n AS BIGINT) AS n_points,
      |  floor(slope * 1000000 + 0.5) / 1000000 AS decay_per_week,
      |  CASE WHEN slope >= 0 THEN NULL
      |    ELSE floor(CAST(0.6931471805599453 AS DOUBLE) / (-slope) * 10000 + 0.5)
      |         / 10000 END AS half_life_weeks
      |FROM f""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val ev = Tables(s, dir, "events")
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val activity = ev.select(col("user_id").as("a_uid"),
      date_trunc("week", col("ts")).as("wk")).distinct()
    val ret = first.join(activity, col("user_id") === col("a_uid"))
      .groupBy(col("cohort"),
        ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort"))) / 604800)
          .cast("long").as("w"))
      .agg(countDistinct(col("user_id")).as("active"))
      .transform(PlanMemo.pin)
    val sz = ret.filter(col("w") === 0)
      .select(col("cohort").as("c2"), col("active").as("size"))
    val pts = ret.join(sz, col("cohort") === col("c2"))
      .filter(col("w") >= 1 && col("active") > 0)
      .select(col("w").as("x"),
        (Det.lnFix(col("active").cast("double"), 6)
          - Det.lnFix(col("size").cast("double"), 6)).as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"))
    val slope = (m("n").cast("decimal(38,0)") * col("sxy") - col("sx") * col("sy"))
      .cast("double") /
      (m("n").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx"))
        .cast("double") / 1000000
    m.select(col("n").cast("long").as("n_points"),
        slope.as("slope"))
      .select(col("n_points"),
        (floor(col("slope") * 1000000 + lit(0.5)) / 1000000).as("decay_per_week"),
        when(col("slope") >= 0, lit(null).cast("double"))
          .otherwise(floor(lit(0.6931471805599453) / -col("slope") * 10000
            + lit(0.5)) / 10000).as("half_life_weeks"))
  }

  // Lo–MacKinlay variance-ratio test (q=5) on the daily revenue series —
  // the random-walk screen: if increments are iid, the variance of
  // 5-day overlapping changes is 5× the 1-day variance and VR(5)=1;
  // mean-reversion pushes VR below 1, trending above. Both variances
  // come from INTEGER differences of the integer-cents daily series
  // (v_t − v_{t−1} and v_t − v_{t−5}, one lag window each), their
  // moments accumulate 128-bit exact (P16), and VR / the homoskedastic
  // z are one closed-form double tree over those exact integers —
  // identical in both engines, quantized at the output. |days| rows
  // after one day-grained aggregate; no corpus-scale anything.
  q("ts_variance_ratio",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |), lagd AS (
      |  SELECT day, v,
      |    v - lag(v, 1) OVER (ORDER BY day) AS d1,
      |    v - lag(v, 5) OVER (ORDER BY day) AS d5
      |  FROM daily
      |), m1 AS (
      |  SELECT CAST(COUNT(d1) AS BIGINT) AS n1, SUM(CAST(d1 AS HUGEINT)) AS s1,
      |    SUM(CAST(d1 AS HUGEINT) * d1) AS q1
      |  FROM lagd WHERE d1 IS NOT NULL
      |), m5 AS (
      |  SELECT CAST(COUNT(d5) AS BIGINT) AS n5, SUM(CAST(d5 AS HUGEINT)) AS s5,
      |    SUM(CAST(d5 AS HUGEINT) * d5) AS q5
      |  FROM lagd WHERE d5 IS NOT NULL
      |), vr AS (
      |  SELECT n1,
      |    (CAST(q5 AS DOUBLE) - CAST(s5 AS DOUBLE) * CAST(s5 AS DOUBLE) / n5)
      |      / n5 / 5
      |    / ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
      |       / n1) AS v_ratio
      |  FROM m1 CROSS JOIN m5
      |)
      |SELECT CAST(n1 AS BIGINT) AS n_increments,
      |  floor(v_ratio * 1000000 + 0.5) / 1000000 AS vr5,
      |  floor((v_ratio - 1)
      |    * sqrt(CAST(n1 AS DOUBLE) * 3 * 5 / (2 * (2 * 5 - 1) * (5 - 1)))
      |    * 10000 + 0.5) / 10000 AS z
      |FROM vr""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
    val wo = Window.orderBy("day")
    val lagd = daily.select(col("v"),
      (col("v") - lag("v", 1).over(wo)).as("d1"),
      (col("v") - lag("v", 5).over(wo)).as("d5"))
      .transform(PlanMemo.pin)
    val m1 = lagd.filter(col("d1").isNotNull).agg(
      count(col("d1")).as("n1"), sum(dec(col("d1"))).as("s1"),
      sum(dec(col("d1")) * col("d1")).as("q1"))
    val m5 = lagd.filter(col("d5").isNotNull).agg(
      count(col("d5")).as("n5"), sum(dec(col("d5"))).as("s5"),
      sum(dec(col("d5")) * col("d5")).as("q5"))
    val vRatio = ((col("q5").cast("double")
      - col("s5").cast("double") * col("s5").cast("double") / col("n5"))
      / col("n5") / 5) /
      ((col("q1").cast("double")
        - col("s1").cast("double") * col("s1").cast("double") / col("n1"))
        / col("n1"))
    m1.crossJoin(broadcast(m5))
      .select(col("n1").cast("long").as("n_increments"),
        (floor(vRatio * 1000000 + lit(0.5)) / 1000000).as("vr5"),
        (floor((vRatio - 1)
          * sqrt(col("n1").cast("double") * 3 * 5 / (2 * (2 * 5 - 1) * (5 - 1)))
          * 10000 + lit(0.5)) / 10000).as("z"))
  }

  // Wald–Wolfowitz runs test on the daily revenue series against its
  // exact lower median — the "is the sequence of above/below-median days
  // RANDOM" screen (too few runs = sticky regimes, too many =
  // oscillation). The median is the rank-⌈n/2⌉ value by the explicit
  // integer rank formula (the winsorize/deciles precedent — no quantile
  // builtin), ties with the median are excluded (the standard
  // convention), runs count by one lag comparison, and the normal
  // approximation z assembles from exact integer n1, n2, R. |days| rows
  // end to end.
  q("stats_runs_test",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |), med AS (
      |  SELECT v AS m FROM (
      |    SELECT v, row_number() OVER (ORDER BY v, day) AS rn,
      |      COUNT(*) OVER () AS n FROM daily
      |  ) WHERE rn = (n + 1) // 2
      |), sg AS (
      |  SELECT day, CASE WHEN v > m THEN 1 ELSE 0 END AS s
      |  FROM daily CROSS JOIN med WHERE v <> m
      |), runs AS (
      |  SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
      |                   OR lag(s) OVER (ORDER BY day) <> s
      |              THEN 1 ELSE 0 END AS brk
      |  FROM sg
      |), agg AS (
      |  SELECT CAST(SUM(s) AS BIGINT) AS n1,
      |    CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
      |    CAST(SUM(brk) AS BIGINT) AS r
      |  FROM runs
      |)
      |SELECT n1, n2, r,
      |  floor((2.0 * n1 * n2 / (n1 + n2) + 1) * 10000 + 0.5) / 10000
      |    AS expected_runs,
      |  floor((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
      |    / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
      |           / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1)))
      |    * 10000 + 0.5) / 10000 AS z
      |FROM agg""") { (s, dir) =>
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
      .transform(PlanMemo.pin)
    val wm = Window.orderBy("v", "day")
    val med = daily
      .withColumn("rn", row_number().over(wm))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rn") === floor((col("n") + 1) / 2))
      .select(col("v").as("m"))
    val wo = Window.orderBy("day")
    val sg = daily.crossJoin(broadcast(med))
      .filter(col("v") =!= col("m"))
      .select(col("day"), when(col("v") > col("m"), 1).otherwise(0).as("s"))
    val runs = sg.select(col("s"),
      when(lag("s", 1).over(wo).isNull
        || lag("s", 1).over(wo) =!= col("s"), 1).otherwise(0).as("brk"))
    val agg = runs.agg(
      sum("s").cast("long").as("n1"),
      (count(lit(1)) - sum("s")).cast("long").as("n2"),
      sum("brk").cast("long").as("r"))
    val n = col("n1") + col("n2")
    val er = lit(2.0) * col("n1") * col("n2") / n + 1
    agg.select(col("n1"), col("n2"), col("r"),
      (floor(er * 10000 + lit(0.5)) / 10000).as("expected_runs"),
      (floor((col("r") - er)
        / sqrt(lit(2.0) * col("n1") * col("n2")
          * (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2"))
          / (n.cast("double") * n * (n - 1)))
        * 10000 + lit(0.5)) / 10000).as("z"))
  }

  // Granger-style lead-lag test: do yesterday's CLICKS help predict
  // today's purchase REVENUE beyond yesterday's revenue alone? Restricted
  // model y_t ~ y_{t-1} vs unrestricted y_t ~ y_{t-1} + x_{t-1}, compared
  // by the F statistic on the residual-sum-of-squares drop (1 added
  // regressor, n−3 dof). Exact-moment determinism throughout (the
  // ml_linreg_ols scheme): integer-cents daily sums, 128-bit moment
  // accumulators (P16), closed-form Cramer coefficients as identical IEEE
  // trees, and BOTH SSEs accumulated as Σ floor(e²+0.5) integers so the
  // F ratio divides two exactly-agreed quantities. Scale shape: one
  // day-grained aggregate over the stream; the lag frame, moments, and
  // residual passes all run on |days| rows.
  q("ts_granger_lite",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x
      |  FROM events GROUP BY 1
      |), lagged AS (
      |  SELECT day, y, lag(y) OVER (ORDER BY day) AS y1,
      |    lag(x) OVER (ORDER BY day) AS x1
      |  FROM daily
      |), lf AS (SELECT y, y1, x1 FROM lagged WHERE y1 IS NOT NULL),
      |m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(y1 AS HUGEINT)) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(y1 AS HUGEINT) * y1) AS DOUBLE) AS s11,
      |    CAST(SUM(CAST(y1 AS HUGEINT) * x1) AS DOUBLE) AS s12,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s22,
      |    CAST(SUM(CAST(y1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s2y
      |  FROM lf
      |), cr AS (
      |  SELECT *,
      |    (n * s1y - s1 * sy) / (n * s11 - s1 * s1) AS br,
      |    (sy - (n * s1y - s1 * sy) / (n * s11 - s1 * s1) * s1) / n AS ar,
      |    s11 * (s22 * n - s2 * s2) - s12 * (s12 * n - s2 * s1)
      |      + s1 * (s12 * s2 - s22 * s1) AS det,
      |    s1y * (s22 * n - s2 * s2) - s12 * (s2y * n - s2 * sy)
      |      + s1 * (s2y * s2 - s22 * sy) AS deta,
      |    s11 * (s2y * n - sy * s2) - s1y * (s12 * n - s2 * s1)
      |      + s1 * (s12 * sy - s2y * s1) AS detb,
      |    s11 * (s22 * sy - s2 * s2y) - s12 * (s12 * sy - s2y * s1)
      |      + s1y * (s12 * s2 - s22 * s1) AS detc
      |  FROM m
      |), sse AS (
      |  SELECT
      |    SUM(CAST(floor((y - (ar + br * y1)) * (y - (ar + br * y1)) + 0.5)
      |        AS HUGEINT)) AS sse_r,
      |    SUM(CAST(floor((y - (deta / det * y1 + detb / det * x1 + detc / det))
      |        * (y - (deta / det * y1 + detb / det * x1 + detc / det)) + 0.5)
      |        AS HUGEINT)) AS sse_u
      |  FROM lf CROSS JOIN cr
      |)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(floor(deta / det * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_ylag,
      |  CAST(floor(detb / det * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_xlag,
      |  CAST(floor((CAST(sse_r AS DOUBLE) - CAST(sse_u AS DOUBLE))
      |    / (CAST(sse_u AS DOUBLE) / (n - 3)) * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS f_stat
      |FROM cr CROSS JOIN sse""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(
        sum(when(col("event_type") === "purchase",
          Det.cents(col("value")).cast("long")).otherwise(0L)).as("y"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"))
    val wd = Window.orderBy("day")
    val lf = daily
      .select(col("y"), lag("y", 1).over(wd).as("y1"), lag("x", 1).over(wd).as("x1"))
      .filter(col("y1").isNotNull)
      .transform(PlanMemo.pin)
    val m = lf.agg(
      count(lit(1)).cast("double").as("n"),
      sum(dec(col("y1"))).cast("double").as("s1"),
      sum(dec(col("x1"))).cast("double").as("s2"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum(dec(col("y1")) * col("y1")).cast("double").as("s11"),
      sum(dec(col("y1")) * col("x1")).cast("double").as("s12"),
      sum(dec(col("x1")) * col("x1")).cast("double").as("s22"),
      sum(dec(col("y1")) * col("y")).cast("double").as("s1y"),
      sum(dec(col("x1")) * col("y")).cast("double").as("s2y"))
    val br = (col("n") * col("s1y") - col("s1") * col("sy")) /
      (col("n") * col("s11") - col("s1") * col("s1"))
    val cr = m.select(col("*"),
      br.as("br"),
      ((col("sy") - br * col("s1")) / col("n")).as("ar"),
      (col("s11") * (col("s22") * col("n") - col("s2") * col("s2"))
        - col("s12") * (col("s12") * col("n") - col("s2") * col("s1"))
        + col("s1") * (col("s12") * col("s2") - col("s22") * col("s1"))).as("det"),
      (col("s1y") * (col("s22") * col("n") - col("s2") * col("s2"))
        - col("s12") * (col("s2y") * col("n") - col("s2") * col("sy"))
        + col("s1") * (col("s2y") * col("s2") - col("s22") * col("sy"))).as("deta"),
      (col("s11") * (col("s2y") * col("n") - col("sy") * col("s2"))
        - col("s1y") * (col("s12") * col("n") - col("s2") * col("s1"))
        + col("s1") * (col("s12") * col("sy") - col("s2y") * col("s1"))).as("detb"),
      (col("s11") * (col("s22") * col("sy") - col("s2") * col("s2y"))
        - col("s12") * (col("s12") * col("sy") - col("s2y") * col("s1"))
        + col("s1y") * (col("s12") * col("s2") - col("s22") * col("s1"))).as("detc"))
    val er = col("y") - (col("ar") + col("br") * col("y1"))
    val eu = col("y") - (col("deta") / col("det") * col("y1")
      + col("detb") / col("det") * col("x1") + col("detc") / col("det"))
    val sse = lf.crossJoin(broadcast(cr)).agg(
      sum(dec(floor(er * er + lit(0.5)))).as("sse_r"),
      sum(dec(floor(eu * eu + lit(0.5)))).as("sse_u"))
    cr.crossJoin(broadcast(sse))
      .select(col("n").cast("long").as("n_days"),
        (floor(col("deta") / col("det") * 1000000 + lit(0.5)).cast("double")
          / 1000000).as("coef_ylag"),
        (floor(col("detb") / col("det") * 1000000 + lit(0.5)).cast("double")
          / 1000000).as("coef_xlag"),
        (floor((col("sse_r").cast("double") - col("sse_u").cast("double"))
          / (col("sse_u").cast("double") / (col("n") - 3)) * 10000
          + lit(0.5)).cast("double") / 10000).as("f_stat"))
  }

  // AR(2) fit by Yule-Walker on the daily revenue series — the
  // workhorse autoregression a forecasting pipeline fits before anything
  // fancier: phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2), and
  // the innovation-variance ratio 1 - phi1*r1 - phi2*r2. Determinism:
  // the series is mean-centered WITHOUT division (z_t = n*y_t - S, exact
  // int64), the lag products promote to DECIMAL(38,0)/HUGEINT before
  // multiplying (z^2 ~ 1e33 at scale, P16), and r1/r2 are single double
  // divisions of those exact sums feeding identical arithmetic trees.
  // Scale: the corpus collapses to the calendar-bounded daily frame in
  // one aggregate; the lag windows run over that bounded frame. Audit
  // row: formula_audit.audit_ar2.
  q("ts_ar2_yule_walker",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |), st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
      |  FROM daily
      |), z AS (
      |  SELECT day, n * v - s AS z FROM daily CROSS JOIN st
      |), lagged AS (
      |  SELECT z,
      |    lag(z, 1) OVER (ORDER BY day) AS z1,
      |    lag(z, 2) OVER (ORDER BY day) AS z2
      |  FROM z
      |), c AS (
      |  SELECT CAST(SUM(CAST(z AS HUGEINT) * z) AS DOUBLE) AS c0,
      |    CAST(SUM(CASE WHEN z1 IS NULL THEN CAST(0 AS HUGEINT)
      |             ELSE CAST(z AS HUGEINT) * z1 END) AS DOUBLE) AS c1,
      |    CAST(SUM(CASE WHEN z2 IS NULL THEN CAST(0 AS HUGEINT)
      |             ELSE CAST(z AS HUGEINT) * z2 END) AS DOUBLE) AS c2,
      |    MAX((SELECT n FROM st)) AS n
      |  FROM lagged
      |), r AS (SELECT n, c1 / c0 AS r1, c2 / c0 AS r2 FROM c)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  floor(r1 * 1000000 + 0.5) / 1000000 AS r1,
      |  floor(r2 * 1000000 + 0.5) / 1000000 AS r2,
      |  CASE WHEN 1 - r1 * r1 = 0 THEN NULL
      |    ELSE floor(r1 * (1 - r2) / (1 - r1 * r1) * 1000000 + 0.5)
      |      / 1000000 END AS phi1,
      |  CASE WHEN 1 - r1 * r1 = 0 THEN NULL
      |    ELSE floor((r2 - r1 * r1) / (1 - r1 * r1) * 1000000 + 0.5)
      |      / 1000000 END AS phi2,
      |  CASE WHEN 1 - r1 * r1 = 0 THEN NULL
      |    ELSE floor((1 - (r1 * (1 - r2) / (1 - r1 * r1)) * r1
      |      - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2) * 1000000 + 0.5)
      |      / 1000000 END AS noise_ratio
      |FROM r""") { (s, dir) =>
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
    val st = daily.agg(count(lit(1)).cast("long").as("n"),
      sum("v").cast("long").as("s"))
    val z = daily.crossJoin(broadcast(st))
      .select(col("day"), (col("n") * col("v") - col("s")).as("z"), col("n"))
    val wo = Window.orderBy("day")
    val lagged = z.select(col("z"), col("n"),
      lag("z", 1).over(wo).as("z1"), lag("z", 2).over(wo).as("z2"))
    val c = lagged.agg(
      sum(col("z").cast(dec38) * col("z")).cast("double").as("c0"),
      sum(when(col("z1").isNull, lit(0).cast(dec38))
        .otherwise(col("z").cast(dec38) * col("z1"))).cast("double").as("c1"),
      sum(when(col("z2").isNull, lit(0).cast(dec38))
        .otherwise(col("z").cast(dec38) * col("z2"))).cast("double").as("c2"),
      max(col("n")).as("n"))
    val r1 = col("c1") / col("c0")
    val r2 = col("c2") / col("c0")
    val den = lit(1) - r1 * r1
    val phi1 = r1 * (lit(1) - r2) / den
    val phi2 = (r2 - r1 * r1) / den
    def q6(x: org.apache.spark.sql.Column) =
      floor(x * 1000000 + lit(0.5)) / 1000000
    c.select(col("n").cast("long").as("n_days"),
      q6(r1).as("r1"), q6(r2).as("r2"),
      when(den === 0, lit(null)).otherwise(q6(phi1)).as("phi1"),
      when(den === 0, lit(null)).otherwise(q6(phi2)).as("phi2"),
      when(den === 0, lit(null))
        .otherwise(q6(lit(1) - phi1 * r1 - phi2 * r2)).as("noise_ratio"))
  }

  // Durbin–Watson statistic on the mean-detrended daily revenue series —
  // the classic lag-1 serial-correlation screen an econometrics readout
  // runs before trusting OLS standard errors (DW ≈ 2 means no
  // autocorrelation; ≈ 0 strong positive; ≈ 4 strong negative). The
  // detrended residual is scaled by n so it stays INTEGER: u_t = n·v_t − S
  // (v_t daily cents, S the grand sum) — the common n factor cancels in
  // the DW ratio Σ(u_t − u_{t−1})² / Σu_t², so both sums accumulate
  // 128-bit exact (P16) and the statistic is ONE double division at the
  // end, quantized at 1e-6. Scale: the lag window runs over the
  // day-grained aggregate (|days| rows, not corpus-scale — the
  // PlanShapeSpec bounded-frame class); everything else is one
  // aggregation pass. Audit row: formula_audit.audit_durbin_watson.
  q("ts_durbin_watson",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
      |  FROM daily
      |), u AS (
      |  SELECT day, n * v - s AS u FROM daily CROSS JOIN tot
      |), d AS (
      |  SELECT u, u - lag(u) OVER (ORDER BY day) AS du FROM u
      |), agg AS (
      |  SELECT SUM(CAST(u AS HUGEINT) * u) AS den,
      |    SUM(CAST(du AS HUGEINT) * du) AS num
      |  FROM d
      |)
      |SELECT (SELECT n FROM tot) AS n_days,
      |  floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000 + 0.5)
      |    / 1000000 AS dw,
      |  floor((1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2) * 1000000
      |    + 0.5) / 1000000 AS rho_lag1
      |FROM agg""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
    val tot = daily.agg(count(lit(1)).cast("long").as("n"),
      sum("v").cast("long").as("s"))
    val u = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("n") * col("v") - col("s")).as("u"))
    val d = u.select(col("u"),
      (col("u") - lag("u", 1).over(Window.orderBy("day"))).as("du"))
    val agg = d.agg(sum(dec(col("u")) * col("u")).as("den"),
      sum(dec(col("du")) * col("du")).as("num"))
    agg.crossJoin(broadcast(tot))
      .select(col("n").as("n_days"),
        (floor(col("num").cast("double") / col("den").cast("double")
          * 1000000 + lit(0.5)) / 1000000).as("dw"),
        (floor((lit(1) - col("num").cast("double") / col("den").cast("double")
          / 2) * 1000000 + lit(0.5)) / 1000000).as("rho_lag1"))
  }

  // Hurst exponent of the daily revenue series by classical rescaled-range
  // (R/S) analysis — the long-memory diagnostic (H ≈ 0.5 iid, > 0.5
  // trending/persistent, < 0.5 mean-reverting). For each scale
  // w ∈ {16,32,64,128} the series splits into complete w-day chunks; the
  // within-chunk deviations are scaled by w so they stay INTEGER
  // (U_t = w·v_t − S_chunk), the cumulative-deviation range R and the
  // second moment Q = ΣU² accumulate exactly (P16), and
  // R/S = R_w·√w / √Q is one per-chunk double tree on exact integers
  // (√ is IEEE correctly-rounded, so cross-engine safe on ANY double —
  // unlike ln/exp). H is the OLS slope of ln(mean R/S) on ln(w), with
  // both logs on INTEGER arguments only (P12): ln(Σq)−ln(cnt)−ln(10⁶)
  // with the last a pinned 1e12 fixed-point literal. Scale: chunk windows
  // partition by (w, chunk) — fully parallel; the only global window is
  // the day-index row_number over the day-grained aggregate (bounded
  // class). Audit row: formula_audit.audit_hurst.
  q("ts_hurst",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1
      |), idx AS (
      |  SELECT row_number() OVER (ORDER BY day) AS t, v FROM daily
      |), ch AS (
      |  SELECT w, (t - 1) // w AS chunk, t, v
      |  FROM idx CROSS JOIN (SELECT unnest([16, 32, 64, 128]) AS w)
      |), fc AS (
      |  SELECT w, chunk, CAST(SUM(v) AS BIGINT) AS s
      |  FROM ch GROUP BY 1, 2 HAVING COUNT(*) = w
      |), u AS (
      |  SELECT c.w, c.chunk, c.t, c.w * c.v - f.s AS u
      |  FROM ch c JOIN fc f ON c.w = f.w AND c.chunk = f.chunk
      |), cum AS (
      |  SELECT w, chunk, u,
      |    CAST(SUM(u) OVER (PARTITION BY w, chunk ORDER BY t) AS BIGINT) AS cu
      |  FROM u
      |), pc AS (
      |  SELECT w, chunk, MAX(cu) - MIN(cu) AS rw,
      |    SUM(CAST(u AS HUGEINT) * u) AS q
      |  FROM cum GROUP BY 1, 2
      |), rs AS (
      |  SELECT w, CAST(floor(CAST(rw AS DOUBLE) * sqrt(CAST(w AS DOUBLE))
      |    / sqrt(CAST(q AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS q6
      |  FROM pc WHERE q > 0
      |), pts AS (
      |  SELECT
      |    CAST(floor(ln(CAST(w AS DOUBLE)) * 1000000000000 + 0.5) AS BIGINT)
      |      AS x,
      |    CAST(floor(ln(CAST(SUM(q6) AS DOUBLE)) * 1000000000000 + 0.5)
      |        AS BIGINT)
      |      - CAST(floor(ln(CAST(COUNT(*) AS DOUBLE)) * 1000000000000 + 0.5)
      |        AS BIGINT)
      |      - 13815510557964 AS y
      |  FROM rs GROUP BY w
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
      |    SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM pts
      |)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
      |  CAST(n AS BIGINT) AS n_scales,
      |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5) / 1000000
      |    AS hurst
      |FROM m""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("v"))
    val nDays = daily.agg(count(lit(1)).cast("long").as("n_days"))
    val idx = daily.select(
      row_number().over(Window.orderBy("day")).cast("long").as("t"), col("v"))
    val scales = idx.sparkSession.range(1)
      .select(explode(array(lit(16L), lit(32L), lit(64L), lit(128L))).as("w"))
    val ch = idx.crossJoin(broadcast(scales))
      .select(col("w"), ((col("t") - 1) / col("w")).cast("long").as("chunk"),
        col("t"), col("v"))
    val fc = ch.groupBy("w", "chunk")
      .agg(sum("v").cast("long").as("s"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === col("w")).drop("cnt")
    val u = ch.join(fc, Seq("w", "chunk"))
      .select(col("w"), col("chunk"), col("t"),
        (col("w") * col("v") - col("s")).as("u"))
    val cum = u.select(col("w"), col("chunk"), col("u"),
      sum("u").over(Window.partitionBy("w", "chunk").orderBy("t"))
        .cast("long").as("cu"))
    val pc = cum.groupBy("w", "chunk")
      .agg((max("cu") - min("cu")).as("rw"), sum(dec(col("u")) * col("u")).as("q"))
    val rs = pc.filter(col("q") > 0)
      .select(col("w"),
        floor(col("rw").cast("double") * sqrt(col("w").cast("double"))
          / sqrt(col("q").cast("double")) * 1000000 + lit(0.5))
          .cast("long").as("q6"))
    val pts = rs.groupBy("w")
      .agg(sum("q6").as("sq"), count(lit(1)).as("cnt"))
      .select(Det.lnFix(col("w"), 12).cast("long").as("x"),
        (Det.lnFix(col("sq"), 12) - Det.lnFix(col("cnt"), 12)
          - lit(13815510557964L)).cast("long").as("y"))
    val m = pts.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"))
    m.crossJoin(broadcast(nDays))
      .select(col("n_days"), col("n").cast("long").as("n_scales"),
        (floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          * 1000000 + lit(0.5)) / 1000000).as("hurst"))
  }

  // Local-level Kalman filter over each user's daily mean value — the
  // adaptive-gain upgrade of ts_ewma (the gain starts high while the
  // state is uncertain and settles to the steady-state smoothing rate;
  // q = 25 process variance, r = 400 observation variance, p₀ = r).
  // Same recursion machinery as ts_holt: the per-user day series folds
  // through `aggregate` carrying struct state (l, p) in Spark and
  // through WITH RECURSIVE in DuckDB, with the gain/update/variance
  // expressions written as ONE identical IEEE double tree in both
  // engines over the 4-dp-quantized daily inputs (P12; the fold order
  // is the sorted day array, deterministic). Scale: state is O(1) per
  // user, the fold is one collect_list per user partition — embarrassingly
  // parallel across users, the BlockWindow non-case.
  q("ts_kalman_level",
    """WITH RECURSIVE daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS DOUBLE) / 10000 AS x
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), d AS (
      |  SELECT user_id, day, x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM daily
      |), r AS (
      |  SELECT user_id, day, rn, x, x AS l, CAST(400 AS DOUBLE) AS p
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.user_id, d.day, d.rn, d.x,
      |    r.l + (r.p + CAST(25 AS DOUBLE))
      |      / ((r.p + CAST(25 AS DOUBLE)) + CAST(400 AS DOUBLE))
      |      * (d.x - r.l),
      |    (CAST(1 AS DOUBLE) - (r.p + CAST(25 AS DOUBLE))
      |      / ((r.p + CAST(25 AS DOUBLE)) + CAST(400 AS DOUBLE)))
      |      * (r.p + CAST(25 AS DOUBLE))
      |  FROM d JOIN r ON d.user_id = r.user_id AND d.rn = r.rn + 1
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, x,
      |  floor(l * 10000 + 0.5) / 10000 AS level,
      |  floor((p + CAST(25 AS DOUBLE))
      |    / ((p + CAST(25 AS DOUBLE)) + CAST(400 AS DOUBLE))
      |    * 1000000 + 0.5) / 1000000 AS next_gain
      |FROM r
      |ORDER BY user_id, day""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("n"))
      .select(col("user_id"), col("day"),
        Det.avgFix(col("s1"), 4, col("n")).as("x"))
    val folded = daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("xs"))
      .withColumn("lp", expr(
        "aggregate(xs, CAST(array() AS array<struct<l:double,p:double>>), " +
          "(acc, e) -> array_append(acc, CASE WHEN size(acc) = 0 " +
          "THEN named_struct('l', e.x, 'p', CAST(400 AS DOUBLE)) " +
          "ELSE named_struct(" +
          "'l', element_at(acc, -1).l " +
          "+ (element_at(acc, -1).p + CAST(25 AS DOUBLE)) " +
          "/ ((element_at(acc, -1).p + CAST(25 AS DOUBLE)) + CAST(400 AS DOUBLE)) " +
          "* (e.x - element_at(acc, -1).l), " +
          "'p', (CAST(1 AS DOUBLE) - (element_at(acc, -1).p + CAST(25 AS DOUBLE)) " +
          "/ ((element_at(acc, -1).p + CAST(25 AS DOUBLE)) + CAST(400 AS DOUBLE))) " +
          "* (element_at(acc, -1).p + CAST(25 AS DOUBLE))) " +
          "END))"))
    val st = element_at(col("lp"), col("pos") + 1)
    folded
      .select(col("user_id"), col("lp"), posexplode(col("xs")))
      .select(col("user_id"),
        date_format(col("col.day"), "yyyy-MM-dd").as("day"),
        col("col.x").as("x"),
        (floor(st.getField("l") * 10000 + lit(0.5)) / 10000).as("level"),
        (floor((st.getField("p") + lit(25.0))
          / ((st.getField("p") + lit(25.0)) + lit(400.0))
          * 1000000 + lit(0.5)) / 1000000).as("next_gain"))
      .orderBy("user_id", "day")
  }

  // Augmented Dickey-Fuller unit-root test (lag 1, intercept, no trend)
  // on the daily-revenue series: regress dx_t on (x_{t-1}, dx_{t-1}),
  // t-statistic of the x_{t-1} coefficient gamma. The corpus collapses
  // to the calendar-bounded daily frame in one aggregate (dollars, not
  // cents, so every centered second moment and the 2x2 Cramer
  // determinant stay far inside int128); lag/diff ride ONE ordered
  // window over that bounded frame; the 2-regressor OLS solves by the
  // demeaned Cramer ratios over exact 128-bit moments, and the residual
  // variance comes from the RSS identity
  // RSS = Sum y^2 - b0*Sum y - b1*Sum uy - b2*Sum wy - one fixed double
  // tree, quantized at 1e-6. Var(gamma) = sigma^2 * m * Sww / det (the
  // centered-moment form). Audit row: formula_audit.audit_adf.
  q("ts_adf",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) // 100 AS BIGINT)
      |      AS x
      |  FROM events GROUP BY 1
      |), l AS (
      |  SELECT day, x,
      |    lag(x, 1) OVER (ORDER BY day) AS x1,
      |    lag(x, 2) OVER (ORDER BY day) AS x2
      |  FROM d
      |), o AS (
      |  SELECT x - x1 AS y, x1 AS u, x1 - x2 AS w
      |  FROM l WHERE x2 IS NOT NULL
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
      |    CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(u) AS HUGEINT) AS su,
      |    CAST(SUM(w) AS HUGEINT) AS sw,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy, SUM(CAST(u AS HUGEINT) * u) AS suu,
      |    SUM(CAST(w AS HUGEINT) * w) AS sww, SUM(CAST(u AS HUGEINT) * y) AS suy,
      |    SUM(CAST(w AS HUGEINT) * y) AS swy, SUM(CAST(u AS HUGEINT) * w) AS suw
      |  FROM o
      |), c AS (
      |  SELECT m, sy, su, sw, syy, suy, swy,
      |    m * suu - su * su AS cuu, m * sww - sw * sw AS cww,
      |    m * suw - su * sw AS cuw, m * suy - su * sy AS cuy,
      |    m * swy - sw * sy AS cwy
      |  FROM m
      |), b AS (
      |  SELECT CAST(m AS BIGINT) AS mm, syy, sy, suy, swy, cww,
      |    CAST(cuu * cww - cuw * cuw AS DOUBLE) AS det,
      |    CAST(cuy * cww - cuw * cwy AS DOUBLE) AS n1,
      |    CAST(cuu * cwy - cuw * cuy AS DOUBLE) AS n2
      |  FROM c
      |), f AS (
      |  SELECT mm, cww, det,
      |    n1 / det AS g, n2 / det AS phi,
      |    (CAST(sy AS DOUBLE) - n1 / det * CAST(su_d AS DOUBLE)
      |      - n2 / det * CAST(sw_d AS DOUBLE)) / mm AS b0,
      |    CAST(syy AS DOUBLE) AS syyd, CAST(sy AS DOUBLE) AS syd,
      |    CAST(suy AS DOUBLE) AS suyd, CAST(swy AS DOUBLE) AS swyd
      |  FROM b, (SELECT su AS su_d, sw AS sw_d FROM m)
      |), t AS (
      |  SELECT mm, g, phi,
      |    (syyd - b0 * syd - g * suyd - phi * swyd) / (mm - 3) AS s2,
      |    CAST(cww AS DOUBLE) / det AS invuu
      |  FROM f
      |)
      |SELECT CAST(mm AS BIGINT) AS n_obs,
      |  floor(g * 1000000 + 0.5) / 1000000 AS gamma,
      |  floor(phi * 1000000 + 0.5) / 1000000 AS phi,
      |  floor(g / sqrt(s2 * mm * invuu) * 1000000 + 0.5) / 1000000
      |    AS adf_t
      |FROM t""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val d = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(expr("sum(cast(floor(value * 100 + 0.5) as bigint)) div 100")
        .cast("long").as("x"))
    val wD = Window.orderBy("day")
    val l = d.select(col("day"), col("x"),
      lag(col("x"), 1).over(wD).as("x1"), lag(col("x"), 2).over(wD).as("x2"))
    val o = l.filter(col("x2").isNotNull)
      .select((col("x") - col("x1")).as("y"), col("x1").as("u"),
        (col("x1") - col("x2")).as("w"))
    val m = o.agg(count(lit(1)).cast("decimal(38,0)").as("m"),
      sum("y").cast("decimal(38,0)").as("sy"),
      sum("u").cast("decimal(38,0)").as("su"),
      sum("w").cast("decimal(38,0)").as("sw"),
      sum(dec(col("y")) * col("y")).as("syy"),
      sum(dec(col("u")) * col("u")).as("suu"),
      sum(dec(col("w")) * col("w")).as("sww"),
      sum(dec(col("u")) * col("y")).as("suy"),
      sum(dec(col("w")) * col("y")).as("swy"),
      sum(dec(col("u")) * col("w")).as("suw"))
    val cuu = col("m") * col("suu") - col("su") * col("su")
    val cww = col("m") * col("sww") - col("sw") * col("sw")
    val cuw = col("m") * col("suw") - col("su") * col("sw")
    val cuy = col("m") * col("suy") - col("su") * col("sy")
    val cwy = col("m") * col("swy") - col("sw") * col("sy")
    val det = (cuu * cww - cuw * cuw).cast("double")
    val n1 = (cuy * cww - cuw * cwy).cast("double")
    val n2 = (cuu * cwy - cuw * cuy).cast("double")
    val g = n1 / det
    val phi = n2 / det
    val b0 = (col("sy").cast("double") - g * col("su").cast("double")
      - phi * col("sw").cast("double")) / col("m").cast("double")
    val s2 = (col("syy").cast("double") - b0 * col("sy").cast("double")
      - g * col("suy").cast("double") - phi * col("swy").cast("double")) /
      (col("m").cast("double") - 3)
    val invuu = cww.cast("double") / det
    m.select(col("m").cast("long").as("n_obs"),
      (floor(g * 1000000 + lit(0.5)) / 1000000).as("gamma"),
      (floor(phi * 1000000 + lit(0.5)) / 1000000).as("phi"),
      (floor(g / sqrt(s2 * col("m").cast("double") * invuu) * 1000000
        + lit(0.5)) / 1000000).as("adf_t"))
  }

  // KPSS level-stationarity test on the daily-revenue series — the
  // complement of ts_adf_test (ADF's null is a unit root; KPSS's null is
  // stationarity, so the pair gives the standard four-quadrant verdict).
  // η = n⁻²·Σₜ Sₜ² / λ̂ where Sₜ are partial sums of the demeaned series
  // and λ̂ is the Bartlett-window long-run variance with L=4 lags.
  // Exactness device: demeaning is scaled through n (ẽₜ = n·xₜ − Σx,
  // exact integers), so partial sums and all lag products are exact
  // 128-bit integers; Bartlett weights wₗ = 1−l/5 are cleared to
  // integers by multiplying numerator and denominator by 5:
  // η = 5·ΣS̃² / (n·(5γ̃₀ + 2·Σ(5−l)·γ̃ₗ)). One double division at the
  // end, quantized 1e-6 (5% critical value for level KPSS: 0.463).
  // The corpus collapses to the calendar-bounded daily frame in one
  // pass; the window runs over that Aggregate-bounded frame only.
  // Audit row: formula_audit.audit_kpss.
  q("ts_kpss",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx FROM daily),
      |d AS (SELECT day, n * x - sx AS e, n FROM daily, st),
      |c AS (
      |  SELECT n, e,
      |    SUM(e) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS s,
      |    lag(e, 1) OVER (ORDER BY day) AS e1,
      |    lag(e, 2) OVER (ORDER BY day) AS e2,
      |    lag(e, 3) OVER (ORDER BY day) AS e3,
      |    lag(e, 4) OVER (ORDER BY day) AS e4
      |  FROM d
      |), m AS (
      |  SELECT n, SUM(CAST(s AS HUGEINT) * s) AS ss,
      |    SUM(CAST(e AS HUGEINT) * e) AS g0,
      |    SUM(CAST(e AS HUGEINT) * e1) AS g1, SUM(CAST(e AS HUGEINT) * e2) AS g2,
      |    SUM(CAST(e AS HUGEINT) * e3) AS g3, SUM(CAST(e AS HUGEINT) * e4) AS g4
      |  FROM c GROUP BY n
      |)
      |SELECT n AS n_days,
      |  CAST(floor(5.0 * CAST(ss AS DOUBLE)
      |    / (CAST(n AS DOUBLE)
      |       * CAST(5 * g0 + 2 * (4 * g1 + 3 * g2 + 2 * g3 + g4) AS DOUBLE))
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS kpss_stat
      |FROM m""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val st = daily.agg(count(lit(1)).cast("long").as("n"), sum("x").as("sx"))
    val d = daily.crossJoin(broadcast(st))
      .select(col("day"), (col("n") * col("x") - col("sx")).as("e"), col("n"))
    val wo = Window.orderBy("day")
    val c = d.select(col("n"), col("e"),
      sum("e").over(wo.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("s"),
      lag(col("e"), 1).over(wo).as("e1"), lag(col("e"), 2).over(wo).as("e2"),
      lag(col("e"), 3).over(wo).as("e3"), lag(col("e"), 4).over(wo).as("e4"))
    val m = c.groupBy("n").agg(sum(dec(col("s")) * col("s")).as("ss"),
      sum(dec(col("e")) * col("e")).as("g0"),
      sum(dec(col("e")) * col("e1")).as("g1"),
      sum(dec(col("e")) * col("e2")).as("g2"),
      sum(dec(col("e")) * col("e3")).as("g3"),
      sum(dec(col("e")) * col("e4")).as("g4"))
    val lam = (lit(5) * col("g0")
      + lit(2) * (lit(4) * col("g1") + lit(3) * col("g2")
        + lit(2) * col("g3") + col("g4"))).cast("double")
    m.select(col("n").as("n_days"),
      (floor(lit(5.0) * col("ss").cast("double")
        / (col("n").cast("double") * lam) * 1000000 + lit(0.5))
        .cast("double") / 1000000).as("kpss_stat"))
  }

  // Attribution-window sensitivity: what fraction of purchases has a
  // SAME-USER click within 1h / 6h / 24h before it — the number that
  // decides the attribution window before events_attribution commits to
  // one. One pass: the last-click timestamp rides forward through each
  // user's ordered stream via last(..., ignoreNulls) over an
  // unbounded-preceding frame (a partitioned window, no self-join and
  // no per-threshold rescan); each purchase then answers all three
  // thresholds from its one click-gap. Exact microsecond gaps and
  // integer counts in both engines.
  q("events_conversion_window_sweep",
    """WITH st AS (
      |  SELECT user_id, ts, event_type,
      |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS last_click_us
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), p AS (
      |  SELECT epoch_us(ts) - last_click_us AS gap_us
      |  FROM st WHERE event_type = 'purchase'
      |), t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |    CAST(SUM(CASE WHEN gap_us <= 3600000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS w1h,
      |    CAST(SUM(CASE WHEN gap_us <= 21600000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS w6h,
      |    CAST(SUM(CASE WHEN gap_us <= 86400000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS w24h
      |  FROM p
      |)
      |SELECT window_h, attributed,
      |  CAST(floor(CAST(attributed AS DOUBLE) / n_purchases * 1000000
      |    + 0.5) AS DOUBLE) / 1000000 AS conversion_rate
      |FROM (
      |  SELECT n_purchases, 1 AS window_h, w1h AS attributed FROM t
      |  UNION ALL SELECT n_purchases, 6, w6h FROM t
      |  UNION ALL SELECT n_purchases, 24, w24h FROM t
      |) ORDER BY window_h""") { (s, dir) =>
    val st = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"),
        max(when(col("event_type") === "click", unix_micros(col("ts"))))
          .over(Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1))
          .as("last_click_us"))
    val p = st.filter(col("event_type") === "purchase")
      .select((unix_micros(col("ts")) - col("last_click_us")).as("gap_us"))
    val t = p.agg(count(lit(1)).cast("long").as("n_purchases"),
      sum(when(col("gap_us") <= 3600000000L, 1L).otherwise(0L)).cast("long")
        .as("w1h"),
      sum(when(col("gap_us") <= 21600000000L, 1L).otherwise(0L))
        .cast("long").as("w6h"),
      sum(when(col("gap_us") <= 86400000000L, 1L).otherwise(0L))
        .cast("long").as("w24h"))
      .localCheckpoint()
    def row(h: Int, c: String) = t.select(col("n_purchases"),
      lit(h).as("window_h"), col(c).as("attributed"))
    row(1, "w1h").unionByName(row(6, "w6h")).unionByName(row(24, "w24h"))
      .select(col("window_h"), col("attributed"),
        (floor(col("attributed").cast("double") / col("n_purchases")
          * 1000000 + lit(0.5)).cast("double") / 1000000)
          .as("conversion_rate"))
      .orderBy("window_h")
  }

  // Weibull fit of per-user inter-purchase times by median-rank
  // regression — the reliability-engineering view of purchase cadence:
  // shape k < 1 means bursty ("failures" cluster early), k ≈ 1 memoryless
  // (exponential), k > 1 aging. Linearization ln(−ln(1−F)) = k·ln t −
  // k·ln λ over the SECOND-granularity gap histogram (the Mann-Whitney
  // device: per-user partitioned lags → integer-second histogram →
  // cumulative mid-ranks, so no corpus-scale global sort exists in the
  // plan). x = lnFix of integer seconds; y quantizes the rank transform
  // at 1e-8 per distinct gap value; weighted OLS moments are exact
  // 128-bit integers.
  // Audit row: formula_audit.audit_weibull.
  q("events_weibull_fit",
    """WITH g AS (
      |  SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id))) // 1000000 AS t
      |  FROM events WHERE event_type = 'purchase'
      |), h AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM g
      |  WHERE t IS NOT NULL AND t > 0 GROUP BY t
      |), r AS (
      |  SELECT t, c,
      |    COALESCE(SUM(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS cb,
      |    (SELECT SUM(c) FROM h) AS n
      |  FROM h
      |), xy AS (
      |  SELECT c,
      |    CAST(floor(ln(CAST(t AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
      |      AS x,
      |    CAST(floor(ln(-ln(1 - (CAST(cb AS DOUBLE) + (c + 1) / 2.0 - 0.3)
      |      / (CAST(n AS DOUBLE) + 0.4))) * 100000000 + 0.5) AS BIGINT)
      |      AS y
      |  FROM r
      |), m AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS w,
      |    SUM(CAST(c AS HUGEINT) * x) AS sx, SUM(CAST(c AS HUGEINT) * y) AS sy,
      |    SUM(CAST(c AS HUGEINT) * x * x) AS sxx,
      |    SUM(CAST(c AS HUGEINT) * x * y) AS sxy,
      |    SUM(CAST(c AS HUGEINT) * y * y) AS syy
      |  FROM xy
      |)
      |SELECT w AS n_gaps,
      |  CAST(floor(CAST(w * sxy - sx * sy AS DOUBLE)
      |    / CAST(w * sxx - sx * sx AS DOUBLE) * 10 * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS shape_k,
      |  CAST(floor(exp(-((CAST(sy AS DOUBLE) / 100000000
      |      - CAST(w * sxy - sx * sy AS DOUBLE)
      |        / CAST(w * sxx - sx * sx AS DOUBLE) * 10
      |        * (CAST(sx AS DOUBLE) / 1000000000)) / w)
      |    / (CAST(w * sxy - sx * sy AS DOUBLE)
      |       / CAST(w * sxx - sx * sx AS DOUBLE) * 10)) * 10 + 0.5)
      |    AS DOUBLE) / 10 AS scale_sec,
      |  CAST(floor(CAST(w * sxy - sx * sy AS DOUBLE)
      |    * CAST(w * sxy - sx * sy AS DOUBLE)
      |    / CAST(w * sxx - sx * sx AS DOUBLE)
      |    / CAST(w * syy - sy * sy AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS r2
      |FROM m""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val g = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(expr("(unix_micros(ts) - unix_micros(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id))) div 1000000")
        .as("t"))
    val h = g.filter(col("t").isNotNull && col("t") > 0)
      .groupBy("t").agg(count(lit(1)).cast("long").as("c"))
    val n = h.agg(sum("c").as("n"))
    val r = h.crossJoin(broadcast(n)).select(col("t"), col("c"), col("n"),
      coalesce(sum("c").over(Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("cb"))
    val xy = r.select(col("c"),
      Det.lnFix(col("t"), 9).as("x"),
      floor(log(-log(lit(1) - (col("cb").cast("double")
        + (col("c") + 1) / lit(2.0) - 0.3)
        / (col("n").cast("double") + 0.4))) * 100000000L + lit(0.5))
        .cast("long").as("y"))
    val m = xy.agg(sum("c").cast("long").as("w"),
      sum(dec(col("c")) * col("x")).as("sx"),
      sum(dec(col("c")) * col("y")).as("sy"),
      sum(dec(col("c")) * col("x") * col("x")).as("sxx"),
      sum(dec(col("c")) * col("x") * col("y")).as("sxy"),
      sum(dec(col("c")) * col("y") * col("y")).as("syy"))
    val num = (dec(col("w")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = (dec(col("w")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val deny = (dec(col("w")) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    // x is at 1e-9 scale and y at 1e-8, so the raw slope carries a
    // factor 10 — the * 10 restores the unit slope, same as the oracle
    val k = num / den * 10
    m.select(col("w").as("n_gaps"),
      (floor(k * 1000000 + lit(0.5)).cast("double") / 1000000).as("shape_k"),
      (floor(exp(-((col("sy").cast("double") / 100000000L
        - k * (col("sx").cast("double") / 1000000000L)) / col("w")) / k)
        * 10 + lit(0.5)).cast("double") / 10).as("scale_sec"),
      (floor(num * num / den / deny * 1000000 + lit(0.5)).cast("double")
        / 1000000).as("r2"))
  }

  // Session-count sensitivity sweep: how many sessions would the corpus
  // split into at 5/15/30/60-minute inactivity thresholds — the tuning
  // readout BEFORE committing a sessionize gap (events_sessionize runs
  // ONE threshold; picking it blind is the classic mistake). One pass:
  // per-user ordered gaps via a partitioned lag, then each threshold is
  // a conditional count over the same gap column — four answers for the
  // price of one shuffle. Sessions = users + gap-exceedances (each
  // exceedance opens one new session); exact integer counting.
  q("events_session_sweep",
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id)) AS gap_us
      |  FROM events
      |), u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |         FROM events)
      |SELECT threshold_min,
      |  CAST(n_users + exceed AS BIGINT) AS n_sessions,
      |  CAST(floor(CAST(n_users + exceed AS DOUBLE) / n_users * 10000
      |    + 0.5) AS DOUBLE) / 10000 AS sessions_per_user
      |FROM (
      |  SELECT 5 AS threshold_min,
      |    CAST(SUM(CASE WHEN gap_us > 300000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS exceed FROM g
      |  UNION ALL SELECT 15,
      |    CAST(SUM(CASE WHEN gap_us > 900000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) FROM g
      |  UNION ALL SELECT 30,
      |    CAST(SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) FROM g
      |  UNION ALL SELECT 60,
      |    CAST(SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) FROM g
      |), u ORDER BY threshold_min""") { (s, dir) =>
    val g = Tables(s, dir, "events").select(col("user_id"),
      (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1)
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))))
        .as("gap_us"))
      .localCheckpoint()
    val u = Tables(s, dir, "events")
      .agg(countDistinct("user_id").cast("long").as("n_users"))
    def row(mins: Int) = g.agg(
      sum(when(col("gap_us") > mins * 60L * 1000000L, 1L).otherwise(0L))
        .cast("long").as("exceed"))
      .select(lit(mins).as("threshold_min"), col("exceed"))
    val sweep = row(5).unionByName(row(15)).unionByName(row(30))
      .unionByName(row(60))
    sweep.crossJoin(broadcast(u))
      .select(col("threshold_min"),
        (col("n_users") + col("exceed")).cast("long").as("n_sessions"),
        (floor((col("n_users") + col("exceed")).cast("double")
          / col("n_users") * 10000 + lit(0.5)).cast("double") / 10000)
          .as("sessions_per_user"))
      .orderBy("threshold_min")
  }

  // Cumulative distinct-user growth curve by day — computed by the
  // first-appearance device, NOT a running COUNT(DISTINCT) window (that
  // would re-scan every prefix): each user contributes one row at their
  // first-ever day (one aggregate), and the cumulative user count is a
  // plain cumsum over the calendar-bounded per-day new-user counts.
  // Also reports the day's share of the final total — the adoption
  // S-curve a growth team plots first.
  q("events_cumulative_users",
    """WITH fu AS (
      |  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d
      |  FROM events GROUP BY user_id
      |), nd AS (
      |  SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM fu GROUP BY d
      |), c AS (
      |  SELECT d, new_users,
      |    SUM(new_users) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS cum,
      |    (SELECT SUM(new_users) FROM nd) AS total
      |  FROM nd
      |)
      |SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
      |  CAST(cum AS BIGINT) AS cum_users,
      |  CAST(floor(CAST(cum AS DOUBLE) / total * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS frac_of_total
      |FROM c ORDER BY day""") { (s, dir) =>
    val fu = Tables(s, dir, "events").groupBy("user_id")
      .agg(min(to_date(date_trunc("day", col("ts")))).as("d"))
    val nd = fu.groupBy("d").agg(count(lit(1)).cast("long").as("new_users"))
    val tot = nd.agg(sum("new_users").as("total"))
    nd.crossJoin(broadcast(tot))
      .select(col("d"), col("new_users"), col("total"),
        sum("new_users").over(Window.orderBy("d").rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("cum"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum").cast("long").as("cum_users"),
        (floor(col("cum").cast("double") / col("total") * 1000000
          + lit(0.5)).cast("double") / 1000000).as("frac_of_total"))
      .orderBy("day")
  }

  // Up/down streak profile of the daily-revenue series via the classic
  // gaps-and-islands device: a day is "up" when revenue strictly beat
  // the previous day (flat counts as down — documented); consecutive
  // same-direction days share an island id rn − rn_within_direction, a
  // pure window subtraction with no self-join. Longest streak, streak
  // count, and mean length per direction — the trader's-eye complement
  // to ts_runs_test's global randomness verdict. Both windows run over
  // the Aggregate-bounded daily frame.
  q("ts_streaks",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), d AS (
      |  SELECT day, CASE WHEN x > lag(x) OVER (ORDER BY day) THEN 'up'
      |    ELSE 'down' END AS dir
      |  FROM daily
      |  QUALIFY lag(x) OVER (ORDER BY day) IS NOT NULL
      |), isl AS (
      |  SELECT dir,
      |    row_number() OVER (ORDER BY day)
      |      - row_number() OVER (PARTITION BY dir ORDER BY day) AS grp
      |  FROM d
      |), st AS (
      |  SELECT dir, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY dir, grp
      |)
      |SELECT dir, CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |  CAST(MAX(len) AS BIGINT) AS longest,
      |  CAST(SUM(len) AS BIGINT) AS n_days,
      |  CAST(floor(CAST(SUM(len) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS mean_len
      |FROM st GROUP BY dir ORDER BY dir""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val wo = Window.orderBy("day")
    val d = daily.select(col("day"), col("x"), lag(col("x"), 1).over(wo)
        .as("px"))
      .filter(col("px").isNotNull)
      .select(col("day"),
        when(col("x") > col("px"), "up").otherwise("down").as("dirn"))
    val isl = d.select(col("dirn"),
      (row_number().over(Window.orderBy("day"))
        - row_number().over(Window.partitionBy("dirn").orderBy("day")))
        .as("grp"))
    val st = isl.groupBy("dirn", "grp")
      .agg(count(lit(1)).cast("long").as("len"))
    st.groupBy("dirn").agg(count(lit(1)).cast("long").as("n_streaks"),
      max("len").cast("long").as("longest"),
      sum("len").cast("long").as("n_days"),
      (floor(sum("len").cast("double") / count(lit(1)) * 10000 + lit(0.5))
        .cast("double") / 10000).as("mean_len"))
      .select(col("dirn").as("dir"), col("n_streaks"), col("longest"),
        col("n_days"), col("mean_len"))
      .orderBy("dir")
  }

  // Forecast-accuracy metric battery for the seasonal-naive(7) daily
  // forecast per event type — MAE/RMSE alone (ts_backtest_snaive) hide
  // scale effects; MAPE/sMAPE/MASE are what a forecasting pipeline
  // actually compares models on. All error sums are exact integers:
  // |e| in cents, e² promoted to 128-bit, per-day percentage errors
  // quantized to 1e-8 integers before the mean (over x>0 days for
  // MAPE, x+f>0 for sMAPE — documented conventions), and MASE clears
  // its double division entirely: MASE = Σ|e|·n_d / (n_eval·Σd) with d
  // the lag-1 naive in-sample errors, so numerator and denominator are
  // exact 128-bit integer products. Windows are event_type-partitioned.
  // Audit row: formula_audit.audit_forecast_metrics.
  q("ts_forecast_metrics",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1, 2
      |), lagged AS (
      |  SELECT event_type, x,
      |    lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS x7,
      |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1
      |  FROM daily
      |), e AS (
      |  SELECT event_type,
      |    CAST(COUNT(x7) AS BIGINT) AS n_eval,
      |    CAST(SUM(abs(x - x7)) AS HUGEINT) AS sae,
      |    SUM(CAST(x - x7 AS HUGEINT) * (x - x7)) AS sse,
      |    CAST(SUM(CASE WHEN x7 IS NOT NULL AND x > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pos,
      |    CAST(SUM(CASE WHEN x7 IS NOT NULL AND x > 0 THEN
      |      CAST(floor(CAST(abs(x - x7) AS DOUBLE) / x * 100000000 + 0.5)
      |        AS BIGINT) ELSE 0 END) AS HUGEINT) AS sape,
      |    CAST(SUM(CASE WHEN x7 IS NOT NULL AND x + x7 > 0 THEN
      |      CAST(floor(2 * CAST(abs(x - x7) AS DOUBLE) / (x + x7)
      |        * 100000000 + 0.5) AS BIGINT) ELSE 0 END) AS HUGEINT)
      |      AS ssmape,
      |    CAST(SUM(CASE WHEN x7 IS NOT NULL AND x + x7 > 0 THEN 1 ELSE 0
      |      END) AS BIGINT) AS n_sm,
      |    CAST(COUNT(x1) AS BIGINT) AS n_d,
      |    CAST(SUM(abs(x - x1)) AS HUGEINT) AS sd
      |  FROM lagged GROUP BY event_type
      |)
      |SELECT event_type, n_eval,
      |  CAST(floor(CAST(sae AS DOUBLE) / n_eval / 100 * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS mae_usd,
      |  CAST(floor(sqrt(CAST(sse AS DOUBLE) / n_eval) / 100 * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS rmse_usd,
      |  CAST(floor(CAST(sape AS DOUBLE) / 100000000 / n_pos * 1000000
      |    + 0.5) AS DOUBLE) / 1000000 AS mape,
      |  CAST(floor(CAST(ssmape AS DOUBLE) / 100000000 / n_sm * 1000000
      |    + 0.5) AS DOUBLE) / 1000000 AS smape,
      |  CAST(floor(CAST(sae * n_d AS DOUBLE) / CAST(n_eval * sd AS DOUBLE)
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS mase
      |FROM e ORDER BY event_type""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val wo = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily.select(col("event_type"), col("x"),
      lag(col("x"), 7).over(wo).as("x7"), lag(col("x"), 1).over(wo).as("x1"))
    val ae = abs(col("x") - col("x7"))
    val e = lagged.groupBy("event_type").agg(
      count(col("x7")).cast("long").as("n_eval"),
      sum(ae).cast("decimal(38,0)").as("sae"),
      sum(dec(col("x") - col("x7")) * (col("x") - col("x7"))).as("sse"),
      sum(when(col("x7").isNotNull && col("x") > 0, 1L).otherwise(0L))
        .cast("long").as("n_pos"),
      sum(when(col("x7").isNotNull && col("x") > 0,
        floor(ae.cast("double") / col("x") * 100000000L + lit(0.5))
          .cast("long")).otherwise(0L)).cast("decimal(38,0)").as("sape"),
      sum(when(col("x7").isNotNull && col("x") + col("x7") > 0,
        floor(lit(2) * ae.cast("double") / (col("x") + col("x7"))
          * 100000000L + lit(0.5)).cast("long")).otherwise(0L))
        .cast("decimal(38,0)").as("ssmape"),
      sum(when(col("x7").isNotNull && col("x") + col("x7") > 0, 1L)
        .otherwise(0L)).cast("long").as("n_sm"),
      count(col("x1")).cast("long").as("n_d"),
      sum(abs(col("x") - col("x1"))).cast("decimal(38,0)").as("sd"))
    e.select(col("event_type"), col("n_eval"),
      (floor(col("sae").cast("double") / col("n_eval") / 100 * 10000
        + lit(0.5)).cast("double") / 10000).as("mae_usd"),
      (floor(sqrt(col("sse").cast("double") / col("n_eval")) / 100 * 10000
        + lit(0.5)).cast("double") / 10000).as("rmse_usd"),
      (floor(col("sape").cast("double") / 100000000L / col("n_pos")
        * 1000000 + lit(0.5)).cast("double") / 1000000).as("mape"),
      (floor(col("ssmape").cast("double") / 100000000L / col("n_sm")
        * 1000000 + lit(0.5)).cast("double") / 1000000).as("smape"),
      (floor((col("sae") * col("n_d")).cast("double")
        / (dec(col("n_eval")) * col("sd")).cast("double") * 1000000
        + lit(0.5)).cast("double") / 1000000).as("mase"))
      .orderBy("event_type")
  }

  // Sample entropy (m=2, r=0.2σ) of the hourly-revenue series — the
  // template-matching complexity measure that completes the trio with
  // ts_permutation_entropy (ordinal) and events_entropy_rate (symbolic):
  // SampEn = −ln(A/B) where B counts pairs of length-2 templates within
  // Chebyshev tolerance r and A the same for length-3. The tolerance
  // r = ⌊0.2·σ̂⌋ floors to an integer CENTS radius from exact moments, so
  // every match predicate compares integers and A/B are exact counts;
  // SampEn is a difference of integer-argument lnFix values. Pair
  // counting is the textbook O(n²) template cross over the
  // calendar-bounded hourly frame (720 rows/month at ANY corpus size —
  // the corpus collapses to the spine in one aggregation pass; a
  // continuous deployment would bucket templates by ⌊x/r⌋ to prune,
  // which changes nothing here). Pairs use i<j (both counts halve,
  // the ratio is unchanged — documented convention).
  // Audit row: formula_audit.audit_sampen.
  q("ts_sample_entropy",
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS h,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), idx AS (
      |  SELECT row_number() OVER (ORDER BY h) AS i, x FROM hourly
      |), mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS s, SUM(CAST(x AS HUGEINT) * x) AS q
      |  FROM idx
      |), tol AS (
      |  SELECT n, CAST(floor(0.2 * sqrt(CAST(n * q - s * s AS DOUBLE)
      |    / n / (n - 1))) AS BIGINT) AS r
      |  FROM mo
      |), t AS (
      |  SELECT i, x,
      |    lead(x, 1) OVER (ORDER BY i) AS x1,
      |    lead(x, 2) OVER (ORDER BY i) AS x2
      |  FROM idx
      |), b2 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS b
      |  FROM (SELECT * FROM t WHERE x1 IS NOT NULL) a
      |  JOIN (SELECT * FROM t WHERE x1 IS NOT NULL) c ON a.i < c.i
      |  CROSS JOIN tol
      |  WHERE abs(a.x - c.x) <= r AND abs(a.x1 - c.x1) <= r
      |), a3 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS a
      |  FROM (SELECT * FROM t WHERE x2 IS NOT NULL) a
      |  JOIN (SELECT * FROM t WHERE x2 IS NOT NULL) c ON a.i < c.i
      |  CROSS JOIN tol
      |  WHERE abs(a.x - c.x) <= r AND abs(a.x1 - c.x1) <= r
      |    AND abs(a.x2 - c.x2) <= r
      |)
      |SELECT n AS n_periods, r AS r_cents, b AS b_count, a AS a_count,
      |  CASE WHEN a = 0 OR b = 0 THEN NULL
      |    ELSE CAST(floor(CAST(
      |      CAST(floor(ln(CAST(b AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
      |      - CAST(floor(ln(CAST(a AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
      |      AS DOUBLE) / 1000000000 * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    END AS sampen
      |FROM tol, b2, a3""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val hourly = Tables(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val idx = hourly.select(
      row_number().over(Window.orderBy("h")).cast("long").as("i"), col("x"))
      .localCheckpoint()
    val mo = idx.agg(count(lit(1)).cast("long").as("n"),
      sum("x").cast("decimal(38,0)").as("s"),
      sum(dec(col("x")) * col("x")).as("q"))
    val tol = mo.select(col("n"),
      floor(lit(0.2) * sqrt((dec(col("n")) * col("q") - col("s") * col("s"))
        .cast("double") / col("n") / (col("n") - 1))).cast("long").as("r"))
    val wo = Window.orderBy("i")
    val t = idx.select(col("i"), col("x"),
      lead(col("x"), 1).over(wo).as("x1"), lead(col("x"), 2).over(wo).as("x2"))
      .localCheckpoint()
    def side(cols: Seq[String], nn: String) = t
      .filter(col(cols.last).isNotNull)
      .select(col("i").as(s"${nn}_i") +: cols.map(c => col(c).as(s"${nn}_$c")): _*)
    def pairCount(mDim: Int) = {
      val cs = Seq("x", "x1", "x2").take(mDim)
      val a = side(cs, "a")
      val c = side(cs, "c")
      val cond = cs.map(cn => abs(col(s"a_$cn") - col(s"c_$cn")) <= col("r"))
        .reduce(_ && _)
      a.join(c, col("a_i") < col("c_i")).crossJoin(broadcast(tol))
        .filter(cond)
        .agg(count(lit(1)).cast("long").as(if (mDim == 2) "b" else "a"))
    }
    val b2 = pairCount(2)
    val a3 = pairCount(3)
    broadcast(tol).crossJoin(broadcast(b2)).crossJoin(broadcast(a3))
      .select(col("n").as("n_periods"), col("r").as("r_cents"),
        col("b").as("b_count"), col("a").as("a_count"),
        when(col("a") === 0 || col("b") === 0, lit(null).cast("double"))
          .otherwise(floor((Det.lnFix(col("b"), 9) - Det.lnFix(col("a"), 9))
            .cast("double") / 1000000000L * 1000000 + lit(0.5))
            .cast("double") / 1000000).as("sampen"))
  }

  // Croston's method for intermittent demand plus the Syntetos-Boylan
  // classification — the standard forecaster when most periods have ZERO
  // demand (spare parts, rare expensive purchases) and plain EWMA
  // undershoots between spikes. Demand series: hourly revenue from
  // purchases over 90 (sparse by construction); the spine is the
  // distinct event-hour grid. Croston keeps two EWMAs (α=0.2): demand
  // size z over nonzero periods and inter-demand interval p; forecast =
  // z/p per period. The fold runs over the collected nonzero-demand
  // array (calendar-bounded, the ts_ewma device) with the identical
  // per-step IEEE tree replayed by the oracle's recursive CTE — no
  // per-step quantization needed because both engines fold the same
  // exact integer inputs in the same order. ADI and CV² (exact integer
  // moments) give the SBC quadrant: smooth / intermittent / erratic /
  // lumpy at the textbook 1.32 / 0.49 cutoffs.
  // Audit row: formula_audit.audit_croston.
  q("ts_croston",
    """WITH RECURSIVE spine AS (
      |  SELECT date_trunc('hour', ts) AS h FROM events GROUP BY 1
      |), dem AS (
      |  SELECT date_trunc('hour', ts) AS h,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS q
      |  FROM events WHERE event_type = 'purchase' AND value > 90 GROUP BY 1
      |), g AS (
      |  SELECT row_number() OVER (ORDER BY s.h) AS rn, COALESCE(d.q, 0) AS q
      |  FROM spine s LEFT JOIN dem d ON s.h = d.h
      |), nz AS (
      |  SELECT row_number() OVER (ORDER BY rn) AS rn2, rn, q
      |  FROM g WHERE q > 0
      |), r AS (
      |  SELECT rn2, rn, CAST(q AS DOUBLE) AS z, CAST(rn AS DOUBLE) AS p,
      |    rn AS prev
      |  FROM nz WHERE rn2 = 1
      |  UNION ALL
      |  SELECT nz.rn2, nz.rn,
      |    CAST(0.2 AS DOUBLE) * nz.q + CAST(0.8 AS DOUBLE) * r.z,
      |    CAST(0.2 AS DOUBLE) * (nz.rn - r.prev) + CAST(0.8 AS DOUBLE) * r.p,
      |    nz.rn
      |  FROM nz JOIN r ON nz.rn2 = r.rn2 + 1
      |), last AS (
      |  SELECT z, p FROM r ORDER BY rn2 DESC LIMIT 1
      |), st AS (
      |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_periods,
      |    CAST(COUNT(*) AS BIGINT) AS n_demand,
      |    CAST(SUM(q) AS HUGEINT) AS s, SUM(CAST(q AS HUGEINT) * q) AS qq
      |  FROM nz
      |)
      |SELECT n_periods, n_demand,
      |  CAST(floor(CAST(n_periods AS DOUBLE) / n_demand * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS adi,
      |  CAST(floor(CAST(n_demand * qq - s * s AS DOUBLE)
      |    / CAST(s AS DOUBLE) / CAST(s AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS cv2,
      |  CAST(floor(z / p / 100 * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS croston_forecast_usd,
      |  CASE
      |    WHEN CAST(n_periods AS DOUBLE) / n_demand < 1.32
      |      AND CAST(n_demand * qq - s * s AS DOUBLE)
      |        / CAST(s AS DOUBLE) / CAST(s AS DOUBLE) < 0.49 THEN 'smooth'
      |    WHEN CAST(n_demand * qq - s * s AS DOUBLE)
      |        / CAST(s AS DOUBLE) / CAST(s AS DOUBLE) < 0.49
      |      THEN 'intermittent'
      |    WHEN CAST(n_periods AS DOUBLE) / n_demand < 1.32 THEN 'erratic'
      |    ELSE 'lumpy' END AS sbc_class
      |FROM st, last""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val ev = Tables(s, dir, "events")
    val spine = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c")).select("h")
    val dem = ev.filter(col("event_type") === "purchase" && col("value") > 90)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("q"))
    val g = spine.join(dem, Seq("h"), "left")
      .select(row_number().over(Window.orderBy("h")).cast("long").as("rn"),
        coalesce(col("q"), lit(0L)).as("q"))
    val nz = g.filter(col("q") > 0)
      .select(row_number().over(Window.orderBy("rn")).cast("long").as("rn2"),
        col("rn"), col("q"))
      .localCheckpoint()
    val folded = nz
      .agg(array_sort(collect_list(struct(col("rn2"), col("rn"), col("q"))))
        .as("xs"))
      .select(expr(
        "aggregate(xs, named_struct('z', CAST(-1 AS DOUBLE), " +
          "'p', CAST(0 AS DOUBLE), 'prev', CAST(0 AS DOUBLE)), " +
          "(acc, e) -> CASE WHEN acc.z < 0 THEN named_struct(" +
          "'z', CAST(e.q AS DOUBLE), 'p', CAST(e.rn AS DOUBLE), " +
          "'prev', CAST(e.rn AS DOUBLE)) " +
          "ELSE named_struct(" +
          "'z', CAST(0.2 AS DOUBLE) * e.q + CAST(0.8 AS DOUBLE) * acc.z, " +
          "'p', CAST(0.2 AS DOUBLE) * (e.rn - acc.prev) " +
          "+ CAST(0.8 AS DOUBLE) * acc.p, " +
          "'prev', CAST(e.rn AS DOUBLE)) END).z AS z"),
        expr(
          "aggregate(xs, named_struct('z', CAST(-1 AS DOUBLE), " +
            "'p', CAST(0 AS DOUBLE), 'prev', CAST(0 AS DOUBLE)), " +
            "(acc, e) -> CASE WHEN acc.z < 0 THEN named_struct(" +
            "'z', CAST(e.q AS DOUBLE), 'p', CAST(e.rn AS DOUBLE), " +
            "'prev', CAST(e.rn AS DOUBLE)) " +
            "ELSE named_struct(" +
            "'z', CAST(0.2 AS DOUBLE) * e.q + CAST(0.8 AS DOUBLE) * acc.z, " +
            "'p', CAST(0.2 AS DOUBLE) * (e.rn - acc.prev) " +
            "+ CAST(0.8 AS DOUBLE) * acc.p, " +
            "'prev', CAST(e.rn AS DOUBLE)) END).p AS p"))
    val nTot = g.agg(count(lit(1)).cast("long").as("n_periods"))
    val st = nz.agg(count(lit(1)).cast("long").as("n_demand"),
      sum("q").cast("decimal(38,0)").as("s"),
      sum(dec(col("q")) * col("q")).as("qq"))
      .crossJoin(broadcast(nTot))
    val cv2 = (dec(col("n_demand")) * col("qq") - col("s") * col("s"))
      .cast("double") / col("s").cast("double") / col("s").cast("double")
    val adi = col("n_periods").cast("double") / col("n_demand")
    st.crossJoin(broadcast(folded)).select(
      col("n_periods"), col("n_demand"),
      (floor(adi * 10000 + lit(0.5)).cast("double") / 10000).as("adi"),
      (floor(cv2 * 1000000 + lit(0.5)).cast("double") / 1000000).as("cv2"),
      (floor(col("z") / col("p") / 100 * 10000 + lit(0.5)).cast("double")
        / 10000).as("croston_forecast_usd"),
      when(adi < 1.32 && cv2 < 0.49, "smooth")
        .when(cv2 < 0.49, "intermittent")
        .when(adi < 1.32, "erratic")
        .otherwise("lumpy").as("sbc_class"))
  }

  // Haar wavelet energy decomposition (3 levels) of the daily-revenue
  // series — which timescale carries the variation: day-to-day noise
  // (level 1), ~4-day swings (level 2), or week-scale structure
  // (level 3)? Unnormalized integer Haar: at each level, consecutive
  // pairs of the previous approximation fold into sum (next
  // approximation) and difference (detail); orthonormal energy at
  // level l is Σ d² / 2^l because the unnormalized coefficients carry
  // √2 per level. Every sum/difference is an exact integer (cents), so
  // the only doubles are the three final energy readouts. Pair indexing
  // needs no re-sort after level 1: the pair id (i div 2) is itself the
  // dense order-preserving index of the next level. Incomplete trailing
  // pairs are dropped per level (documented; n need not be a power of
  // 2). The windows run over the Aggregate-bounded daily frame only.
  // Audit row: formula_audit.audit_haar.
  q("ts_haar_energy",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), l0 AS (
      |  SELECT row_number() OVER (ORDER BY day) - 1 AS i, x FROM daily
      |), l1 AS (
      |  SELECT i // 2 AS i,
      |    SUM(CASE WHEN i % 2 = 0 THEN x ELSE 0 END)
      |      - SUM(CASE WHEN i % 2 = 1 THEN x ELSE 0 END) AS d,
      |    SUM(x) AS a
      |  FROM l0 GROUP BY i // 2 HAVING COUNT(*) = 2
      |), l2 AS (
      |  SELECT i // 2 AS i,
      |    SUM(CASE WHEN i % 2 = 0 THEN a ELSE 0 END)
      |      - SUM(CASE WHEN i % 2 = 1 THEN a ELSE 0 END) AS d,
      |    SUM(a) AS a
      |  FROM l1 GROUP BY i // 2 HAVING COUNT(*) = 2
      |), l3 AS (
      |  SELECT i // 2 AS i,
      |    SUM(CASE WHEN i % 2 = 0 THEN a ELSE 0 END)
      |      - SUM(CASE WHEN i % 2 = 1 THEN a ELSE 0 END) AS d,
      |    SUM(a) AS a
      |  FROM l2 GROUP BY i // 2 HAVING COUNT(*) = 2
      |), e AS (
      |  SELECT 1 AS level, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    SUM(CAST(d AS HUGEINT) * d) * 4 AS e2s
      |  FROM l1
      |  UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT),
      |    SUM(CAST(d AS HUGEINT) * d) * 2 FROM l2
      |  UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT),
      |    SUM(CAST(d AS HUGEINT) * d) * 1 FROM l3
      |), t AS (SELECT SUM(e2s) AS te FROM e)
      |SELECT level, n_pairs,
      |  CAST(floor(CAST(e2s AS DOUBLE) / 8 + 0.5) AS DOUBLE) / 10000
      |    AS energy_usd2,
      |  CAST(floor(CAST(e2s AS DOUBLE) / CAST(te AS DOUBLE) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS share
      |FROM e, t ORDER BY level""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val l0 = daily.select(
      (row_number().over(Window.orderBy("day")) - 1).cast("long").as("i"),
      col("x"))
    def fold(prev: org.apache.spark.sql.DataFrame) =
      prev.select(expr("i div 2").as("p"), (col("i") % 2).as("pos"), col("x"))
        .groupBy("p").agg(
          (sum(when(col("pos") === 0, col("x")).otherwise(0L))
            - sum(when(col("pos") === 1, col("x")).otherwise(0L))).as("d"),
          sum("x").as("a"), count(lit(1)).as("cnt"))
        .filter(col("cnt") === 2)
        .select(col("p").as("i"), col("d"), col("a").as("x"))
    val l1 = fold(l0)
    val l2 = fold(l1)
    val l3 = fold(l2)
    def energy(lvl: Int, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n_pairs"),
        (sum(dec(col("d")) * col("d")) * lit(1L << (3 - lvl))).as("e2s"))
        .select(lit(lvl).as("level"), col("n_pairs"), col("e2s"))
    val e = energy(1, l1).unionByName(energy(2, l2)).unionByName(energy(3, l3))
      .localCheckpoint()
    val t = e.agg(sum("e2s").as("te"))
    e.crossJoin(broadcast(t)).select(col("level"), col("n_pairs"),
      (floor(col("e2s").cast("double") / 8 + lit(0.5)).cast("double")
        / 10000).as("energy_usd2"),
      (floor(col("e2s").cast("double") / col("te").cast("double") * 1000000
        + lit(0.5)).cast("double") / 1000000).as("share"))
      .orderBy("level")
  }

  // Permutation entropy (Bandt-Pompe, embedding dimension 3) of the
  // daily-revenue series — the ordinal-pattern complexity measure:
  // white noise → all 6 patterns equally likely (PE ≈ 1), a monotone
  // trend → one pattern dominates (PE → 0). Each day maps to the rank
  // pattern of (xₜ, xₜ₊₁, xₜ₊₂); ties rank by time order (stable), so
  // the pattern is a pure CASE chain over the three ≤ comparisons —
  // only 6 of the 8 boolean combinations are consistent. Entropy uses
  // the integer-argument lnFix device over the ≤6 pattern counts;
  // normalization divides by the fixed 1e-8-quantized ln 6. The window
  // runs over the Aggregate-bounded daily frame only.
  // Audit row: formula_audit.audit_perm_entropy.
  q("ts_permutation_entropy",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), tri AS (
      |  SELECT x AS a,
      |    lead(x, 1) OVER (ORDER BY day) AS b,
      |    lead(x, 2) OVER (ORDER BY day) AS c
      |  FROM daily
      |), pat AS (
      |  SELECT CASE
      |      WHEN a <= b AND b <= c THEN 0
      |      WHEN a <= b AND NOT b <= c AND a <= c THEN 1
      |      WHEN a <= b THEN 2
      |      WHEN NOT a <= b AND b <= c AND a <= c THEN 3
      |      WHEN b <= c THEN 4
      |      ELSE 5 END AS p
      |  FROM tri WHERE c IS NOT NULL
      |), pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM pat GROUP BY p),
      |m AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS n_patterns,
      |    SUM(CAST(c AS HUGEINT)
      |      * CAST(floor(ln(CAST(c AS DOUBLE)) * 100000000 + 0.5) AS BIGINT))
      |      AS slnc
      |  FROM pc
      |)
      |SELECT n AS n_triples, n_patterns,
      |  CAST(floor((CAST(floor(ln(CAST(n AS DOUBLE)) * 100000000 + 0.5) AS DOUBLE)
      |      / 100000000
      |      - CAST(slnc AS DOUBLE) / 100000000 / n) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS h_perm,
      |  CAST(floor((CAST(floor(ln(CAST(n AS DOUBLE)) * 100000000 + 0.5) AS DOUBLE)
      |      / 100000000
      |      - CAST(slnc AS DOUBLE) / 100000000 / n) / 1.79175947 * 1000000
      |    + 0.5) AS DOUBLE) / 1000000 AS pe_norm
      |FROM m""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val wo = Window.orderBy("day")
    val tri = daily.select(col("x").as("a"),
      lead(col("x"), 1).over(wo).as("b"), lead(col("x"), 2).over(wo).as("c"))
    val pat = tri.filter(col("c").isNotNull).select(
      when(col("a") <= col("b") && col("b") <= col("c"), 0)
        .when(col("a") <= col("b") && !(col("b") <= col("c"))
          && col("a") <= col("c"), 1)
        .when(col("a") <= col("b"), 2)
        .when(!(col("a") <= col("b")) && col("b") <= col("c")
          && col("a") <= col("c"), 3)
        .when(col("b") <= col("c"), 4)
        .otherwise(5).as("p"))
    val pc = pat.groupBy("p").agg(count(lit(1)).cast("long").as("c"))
    val m = pc.agg(sum("c").cast("long").as("n"),
      count(lit(1)).cast("long").as("n_patterns"),
      sum(dec(col("c")) * Det.lnFix(col("c"), 8)).as("slnc"))
    val h = (Det.lnFix(col("n"), 8).cast("double") / 100000000L
      - col("slnc").cast("double") / 100000000L / col("n"))
    m.select(col("n").as("n_triples"), col("n_patterns"),
      (floor(h * 1000000 + lit(0.5)).cast("double") / 1000000).as("h_perm"),
      (floor(h / lit(1.79175947) * 1000000 + lit(0.5)).cast("double")
        / 1000000).as("pe_norm"))
  }
}
