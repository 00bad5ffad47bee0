package graft.queries

import graft.engine.{Det, QueryPack, Tables}
import graft.ops.BlockWindow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / dataset-management operators rounding out the
  * experimentation and corpus-curation surface: a rank-sum test, revenue
  * concentration, exact sampling quotas, deterministic epoch shuffling,
  * robust (winsorized) aggregation, 2-D density, and column profiling.
  *
  * Determinism contract (SURVEY §5.4): integer fixed-point across every
  * aggregation boundary; derived doubles computed per-row with IDENTICAL
  * IEEE trees on both engines and quantized via the floor(x·10^s+0.5)
  * form (P12). Wide integer accumulators promote to DECIMAL(38,0) /
  * HUGEINT BEFORE the product when a per-row term can approach int64
  * (P16 — outputs stay BIGINT/DOUBLE; HUGEINT never escapes the oracle).
  */
object StatsOps extends QueryPack {

  // Mann-Whitney U (Wilcoxon rank-sum) between click and purchase values —
  // the non-parametric A/B readout next to events_ab_welch's t-test.
  // Scale design: NEVER ranks rows. The U statistic only needs the value
  // HISTOGRAM per group: U1 = Σ_v c1(v)·(C2(<v) + c2(v)/2), so the plan is
  // one hash aggregate over distinct cent-values (domain-bounded, ~6.6k
  // cells at sf0.01 and value-range-bounded at any corpus size) plus one
  // ordered cumsum over that histogram — not a global sort of the events.
  // All-integer core: 2·U1 stays integral; the per-cell product
  // c1·(2·C2+c2) is promoted to 128-bit BEFORE multiplying (n1·n2 exceeds
  // int64 once both arms pass ~3e9 rows).
  q("events_ab_mannwhitney",
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), hist AS (
      |  SELECT v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      |  FROM ev GROUP BY v
      |), h2 AS (
      |  SELECT *, COALESCE(SUM(c2) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum2
      |  FROM hist
      |), a AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |    SUM(CAST(c1 AS HUGEINT) * (2 * cum2 + c2)) AS two_u1
      |  FROM h2
      |)
      |SELECT n1, n2,
      |  CAST(two_u1 AS DOUBLE) / 2 AS u1,
      |  CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - CAST(two_u1 AS DOUBLE) / 2 AS u2,
      |  CAST(floor((CAST(two_u1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) - 1)
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS rank_biserial
      |FROM a""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), Det.cents(col("value")).cast("long").as("v"))
    val hist = ev.groupBy("v").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val h2 = hist.withColumn("cum2", coalesce(sum("c2").over(w), lit(0L)))
    val a = h2.agg(
      sum("c1").as("n1"), sum("c2").as("n2"),
      sum((Det.wide(col("c1")) * (lit(2) * col("cum2") + col("c2"))))
        .as("two_u1"))
    a.select(col("n1"), col("n2"),
      (col("two_u1").cast("double") / 2).as("u1"),
      (col("n1").cast("double") * col("n2").cast("double")
        - col("two_u1").cast("double") / 2).as("u2"),
      Det.quant(col("two_u1").cast("double") /
        (col("n1").cast("double") * col("n2").cast("double")) - 1, 6).as("rank_biserial"))
  }

  // Revenue concentration per event type: the minimum number of users
  // covering ≥80% of value (the "how top-heavy is this metric" readout)
  // plus the exact top-10 share. The 80% test stays integral —
  // 5·cum ≥ 4·total avoids the 0.8·total double entirely. Scale shape:
  // the window ranks PER-USER AGGREGATES (|users| rows, orders of
  // magnitude below |events|), partitioned by type — the standard
  // heavy-hitter cumsum, never a sort of the raw stream.
  q("events_pareto_coverage",
    """WITH pu AS (
      |  SELECT event_type, user_id,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s
      |  FROM events GROUP BY event_type, user_id
      |), r AS (
      |  SELECT event_type, user_id, s,
      |    row_number() OVER (PARTITION BY event_type ORDER BY s DESC, user_id) AS rn,
      |    SUM(s) OVER (PARTITION BY event_type ORDER BY s DESC, user_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(s) OVER (PARTITION BY event_type) AS tot
      |  FROM pu
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(MIN(CASE WHEN 5 * cum >= 4 * tot THEN rn END) AS BIGINT) AS k80,
      |  CAST(floor(CAST(SUM(CASE WHEN rn <= 10 THEN s ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(tot) AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS top10_share
      |FROM r GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    val pu = Tables(s, dir, "events")
      .groupBy("event_type", "user_id")
      .agg(sum(Det.cents(col("value")).cast("long")).as("s"))
    val wo = Window.partitionBy("event_type").orderBy(col("s").desc, col("user_id"))
    val r = pu
      .withColumn("rn", row_number().over(wo))
      .withColumn("cum",
        sum("s").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum("s").over(Window.partitionBy("event_type")))
    r.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        // row_number is INT — lift to BIGINT to match the oracle's cast
        min(when(lit(5) * col("cum") >= lit(4) * col("tot"), col("rn")))
          .cast("long").as("k80"),
        Det.quant(sum(when(col("rn") <= 10, col("s")).otherwise(0L)).cast("double")
          / max("tot").cast("double"), 6).as("top10_share"))
      .orderBy("event_type")
  }

  // Largest-remainder (Hamilton) apportionment of a fixed sampling budget
  // across (source, lang) cells proportional to cell counts — the exact
  // quota step of stratified corpus sampling (quotas sum to the target by
  // construction; floor shares + the L largest remainders get +1).
  // Pure integer arithmetic end-to-end; the remainder-rank window runs
  // over CELLS (|sources|×|langs|, ~100), never documents.
  q("llm_sampling_quota",
    """WITH cells AS (
      |  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
      |), t AS (SELECT SUM(n) AS total FROM cells),
      |sh AS (
      |  SELECT source, lang, n,
      |    (200 * n) // total AS base, (200 * n) % total AS rem
      |  FROM cells, t
      |), l AS (SELECT 200 - SUM(base) AS leftover FROM sh),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, source, lang) AS rn FROM sh
      |)
      |SELECT source, lang, CAST(n AS BIGINT) AS n_docs,
      |  CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
      |FROM rk, l ORDER BY source, lang""") { (s, dir) =>
    val cells = Tables(s, dir, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val t = cells.agg(sum("n").as("total"))
    val sh = cells.crossJoin(broadcast(t))
      .withColumn("base", expr("(200 * n) div total"))
      .withColumn("rem", (lit(200) * col("n")) % col("total"))
    val l = sh.agg((lit(200) - sum("base")).as("leftover"))
    val rk = sh.withColumn("rn",
      row_number().over(Window.orderBy(col("rem").desc, col("source"), col("lang"))))
    rk.crossJoin(broadcast(l))
      .select(col("source"), col("lang"), col("n").as("n_docs"),
        (col("base") + when(col("rn") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy("source", "lang")
  }

  // Deterministic epoch shuffle: per training epoch, document order is
  // row_number over md5(epoch ':' doc_id) — a stable, engine-independent
  // permutation (md5 hex is identical everywhere, unlike engine hash
  // seeds), so a resumed job replays the exact order. Graded on the first
  // 64 positions of 3 epochs; InferWindowGroupLimit pushes the rn ≤ 64
  // filter to a per-partition group-limit BEFORE the per-epoch shuffle, so
  // at corpus scale this is a distributed top-k, not a global sort.
  q("llm_shuffle_epoch",
    """SELECT epoch, pos, doc_id FROM (
      |  SELECT e.epoch, d.doc_id,
      |    row_number() OVER (PARTITION BY e.epoch
      |      ORDER BY md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)))
      |      AS pos
      |  FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) e
      |) WHERE pos <= 64 ORDER BY epoch, pos""") { (s, dir) =>
    val d = Tables(s, dir, "documents").select("doc_id")
      .withColumn("epoch", explode(array(lit(0), lit(1), lit(2))))
    val key = md5(concat(col("epoch").cast("string"), lit(":"),
      col("doc_id").cast("string")))
    d.withColumn("pos", row_number().over(Window.partitionBy("epoch").orderBy(key)))
      .filter(col("pos") <= 64)
      // row_number is INT; DuckDB's is BIGINT — align the output schema
      .select(col("epoch"), col("pos").cast("long").as("pos"), col("doc_id"))
      .orderBy("epoch", "pos")
  }

  // Winsorized mean of order value per status — robust aggregation with
  // the clamp bounds at the exact discrete p10/p90 (the ceil(p·n)-th
  // smallest value, derived by BOTH engines from the same rank formula
  // rather than either engine's quantile builtin). Scale design: no
  // per-row window anywhere — the percentiles come from a cumulative
  // count over the per-status VALUE HISTOGRAM, and the winsorized sum is
  // Σ count·clamp(v) over the same histogram, so every pass is
  // histogram-sized (distinct cent-values), not row-sized.
  q("agg_winsorize",
    """WITH h AS (
      |  SELECT o_orderstatus AS st,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v, COUNT(*) AS c
      |  FROM orders GROUP BY 1, 2
      |), h2 AS (
      |  SELECT *, SUM(c) OVER (PARTITION BY st ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
      |    SUM(c) OVER (PARTITION BY st) AS n
      |  FROM h
      |), b AS (
      |  SELECT st, CAST(MAX(n) AS BIGINT) AS n,
      |    MIN(CASE WHEN cc >= (n + 9) // 10 THEN v END) AS lo,
      |    MIN(CASE WHEN cc >= (9 * n + 9) // 10 THEN v END) AS hi
      |  FROM h2 GROUP BY st
      |)
      |SELECT h.st AS o_orderstatus, b.n,
      |  CAST(b.lo AS DOUBLE) / 100 AS p10,
      |  CAST(b.hi AS DOUBLE) / 100 AS p90,
      |  CAST(floor(CAST(SUM(h.c * least(greatest(h.v, b.lo), b.hi)) AS DOUBLE)
      |    / 100 / MAX(b.n) * 10000 + 0.5) AS DOUBLE) / 10000 AS wmean
      |FROM h JOIN b ON h.st = b.st
      |GROUP BY h.st, b.n, b.lo, b.hi ORDER BY o_orderstatus""") { (s, dir) =>
    val h = Tables(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("st"),
        Det.cents(col("o_totalprice")).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val wst = Window.partitionBy("st")
    val wcc = wst.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h2 = h.withColumn("cc", sum("c").over(wcc))
      .withColumn("n", sum("c").over(wst))
    // integer div: Column./ is ALWAYS double division in Spark, unlike
    // DuckDB's // — the ceil(p·n) thresholds must stay integral.
    // The clamp bounds ride WINDOW aggregates over the SAME st partition
    // the cumsum already established (r15, guide §2.4: a window keyed like
    // the preceding window needs no second shuffle) instead of the old
    // groupBy(st)+join-back — same values on every row, 6 exchanges → 2
    // in the final plan, and the histogram is never re-derived for the
    // join's second input. Arithmetic identical → same oracle hash.
    val h3 = h2
      .withColumn("lo",
        min(when(col("cc") >= expr("(n + 9) div 10"), col("v"))).over(wst))
      .withColumn("hi",
        min(when(col("cc") >= expr("(9 * n + 9) div 10"), col("v"))).over(wst))
    h3.groupBy(col("st").as("o_orderstatus"), col("n"), col("lo"), col("hi"))
      .agg(Det.quant(sum(col("c") * least(greatest(col("v"), col("lo")), col("hi")))
          .cast("double") / 100 / max("n"), 4).as("wmean"))
      .select(col("o_orderstatus"), col("n"),
        (col("lo").cast("double") / 100).as("p10"),
        (col("hi").cast("double") / 100).as("p90"), col("wmean"))
      .orderBy("o_orderstatus")
  }

  // 2-D histogram (quantity × price-band density grid with revenue per
  // cell) — the heatmap feed. Bucket keys are plain per-row floor
  // arithmetic, so the whole query is one two-phase hash aggregate.
  q("agg_histogram2d",
    s"""SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_band,
      |  CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_band,
      |  COUNT(*) AS n, ${Det.oMoney("l_extendedprice")} AS revenue
      |FROM lineitem GROUP BY 1, 2 ORDER BY qty_band, price_band""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy(floor(col("l_quantity") / 10).as("qty_band"),
        floor(col("l_extendedprice") / 10000).as("price_band"))
      .agg(count(lit(1)).as("n"),
        Det.money(sum(Det.cents(col("l_extendedprice")))).as("revenue"))
      .orderBy("qty_band", "price_band")
  }

  // Burstiness / bot screen: each user's peak event count inside ANY
  // trailing 60-second window. The RANGE frame is value-based (epoch
  // seconds), so simultaneous events are counted in full in both engines.
  // Scale shape: one window shuffle on the high-cardinality user key —
  // the same partitioning events_sessionize already rides.
  q("events_burst_rate",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events
      |), b AS (
      |  SELECT user_id, COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
      |    RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS burst
      |  FROM e
      |)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(MAX(burst) AS BIGINT) AS max_burst_60s
      |FROM b GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"), col("ts").cast("long").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-59, 0)
    e.withColumn("burst", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("burst").as("max_burst_60s"))
      .orderBy("user_id")
  }

  // Zipf log-log slope of the token frequency curve per language — the
  // "is this corpus natural text" diagnostic (natural language ≈ −1).
  // ln stays on INTEGER arguments only (ranks 1..100 and integer counts —
  // Det.lnFix's safe set); the regression moments are 128-bit exact
  // (x ≈ ln(100)·10⁸ ⇒ Σx² ≈ 5e19 wraps int64 — P16 promote BEFORE the
  // product); the slope is one closed-form double tree over those exact
  // integers. Rank window is per-lang over token COUNTS, not tokens.
  q("text_zipf_slope",
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(lower(text), ' ')) AS token FROM documents
      |), tf AS (
      |  SELECT lang, token, COUNT(*) AS f FROM tok GROUP BY lang, token
      |), rk AS (
      |  SELECT lang, token, f,
      |    row_number() OVER (PARTITION BY lang ORDER BY f DESC, token) AS r
      |  FROM tf
      |), pts AS (
      |  SELECT lang,
      |    CAST(floor(ln(CAST(r AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS x,
      |    CAST(floor(ln(CAST(f AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS y
      |  FROM rk WHERE r <= 100
      |), mom AS (
      |  SELECT lang, COUNT(*) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM pts GROUP BY lang
      |)
      |SELECT lang, CAST(n AS BIGINT) AS n_points,
      |  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS zipf_slope
      |FROM mom ORDER BY lang""") { (s, dir) =>
    import graft.ops.TextOps
    val tf = Tables(s, dir, "documents")
      .select(col("lang"), explode(TextOps.tokens(lower(col("text")))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("f"))
    val rk = tf.withColumn("r", row_number().over(
      Window.partitionBy("lang").orderBy(col("f").desc, col("token"))))
      .filter(col("r") <= 100)
    val pts = rk.select(col("lang"),
      Det.lnFix(col("r"), 8).cast("long").as("x"),
      Det.lnFix(col("f"), 8).cast("long").as("y"))
    val mom = pts.groupBy("lang").agg(count(lit(1)).as("n"),
      sum(Det.wide(col("x"))).as("sx"), sum(Det.wide(col("y"))).as("sy"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"),
      sum(Det.wide(col("x")) * col("y")).as("sxy"))
    mom.select(col("lang"), col("n").as("n_points"),
        Det.quant((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6).as("zipf_slope"))
      .orderBy("lang")
  }

  // Ljung-Box portmanteau test (lags 1–5) on the global daily-revenue
  // series — "is there ANY autocorrelation left" after a model fit.
  // P15 shape: deviations from the INTEGER-quantized mean are exact
  // BIGINTs; the six co-moments are 128-bit-promoted products summed over
  // the tiny daily frame (ONE lag window, ~series-length rows); each ρ_k
  // is quantized to 8 dp BEFORE entering the single written-out Q tree,
  // so both engines square and sum identical doubles.
  q("ts_ljung_box",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1
      |), st AS (SELECT COUNT(*) AS n, SUM(x) // COUNT(*) AS m FROM daily),
      |d AS (SELECT day, x - m AS dv FROM daily, st),
      |lagged AS (
      |  SELECT dv,
      |    lag(dv, 1) OVER (ORDER BY day) AS d1,
      |    lag(dv, 2) OVER (ORDER BY day) AS d2,
      |    lag(dv, 3) OVER (ORDER BY day) AS d3,
      |    lag(dv, 4) OVER (ORDER BY day) AS d4,
      |    lag(dv, 5) OVER (ORDER BY day) AS d5
      |  FROM d
      |), mom AS (
      |  SELECT SUM(CAST(dv AS HUGEINT) * dv) AS c0,
      |    SUM(CAST(dv AS HUGEINT) * d1) AS c1, SUM(CAST(dv AS HUGEINT) * d2) AS c2,
      |    SUM(CAST(dv AS HUGEINT) * d3) AS c3, SUM(CAST(dv AS HUGEINT) * d4) AS c4,
      |    SUM(CAST(dv AS HUGEINT) * d5) AS c5
      |  FROM lagged
      |), r AS (
      |  SELECT (SELECT CAST(n AS BIGINT) FROM st) AS n,
      |    CAST(floor(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) * 100000000 + 0.5) AS DOUBLE) / 100000000 AS r1,
      |    CAST(floor(CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) * 100000000 + 0.5) AS DOUBLE) / 100000000 AS r2,
      |    CAST(floor(CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) * 100000000 + 0.5) AS DOUBLE) / 100000000 AS r3,
      |    CAST(floor(CAST(c4 AS DOUBLE) / CAST(c0 AS DOUBLE) * 100000000 + 0.5) AS DOUBLE) / 100000000 AS r4,
      |    CAST(floor(CAST(c5 AS DOUBLE) / CAST(c0 AS DOUBLE) * 100000000 + 0.5) AS DOUBLE) / 100000000 AS r5
      |  FROM mom
      |)
      |SELECT n AS n_days, r1, r2, r3, r4, r5,
      |  CAST(floor(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2)
      |    * (r1 * r1 / (CAST(n AS DOUBLE) - 1) + r2 * r2 / (CAST(n AS DOUBLE) - 2)
      |       + r3 * r3 / (CAST(n AS DOUBLE) - 3) + r4 * r4 / (CAST(n AS DOUBLE) - 4)
      |       + r5 * r5 / (CAST(n AS DOUBLE) - 5)) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS q_stat
      |FROM r""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val st = daily.agg(count(lit(1)).as("n"), expr("sum(x) div count(*)").as("m"))
    val d = daily.crossJoin(broadcast(st))
      .select(col("day"), (col("x") - col("m")).as("dv"), col("n"))
    val wo = Window.orderBy("day")
    val lagged = d.select(col("n") +: (col("dv") +:
      (1 to 5).map(k => lag(col("dv"), k).over(wo).as(s"d$k"))): _*)
    val mom = lagged.groupBy("n").agg(
      sum(Det.wide(col("dv")) * col("dv")).as("c0"),
      sum(Det.wide(col("dv")) * col("d1")).as("c1"),
      sum(Det.wide(col("dv")) * col("d2")).as("c2"),
      sum(Det.wide(col("dv")) * col("d3")).as("c3"),
      sum(Det.wide(col("dv")) * col("d4")).as("c4"),
      sum(Det.wide(col("dv")) * col("d5")).as("c5"))
    def rho(k: Int) = Det.quant(col(s"c$k").cast("double") / col("c0").cast("double"), 8).as(s"r$k")
    val r = mom.select(col("n") +: (1 to 5).map(rho): _*)
    val nd = col("n").cast("double")
    r.select(col("n").as("n_days"), col("r1"), col("r2"), col("r3"), col("r4"), col("r5"),
      Det.quant(nd * (nd + 2)
        * (col("r1") * col("r1") / (nd - 1) + col("r2") * col("r2") / (nd - 2)
          + col("r3") * col("r3") / (nd - 3) + col("r4") * col("r4") / (nd - 4)
          + col("r5") * col("r5") / (nd - 5)), 6).as("q_stat"))
  }

  // 7-observation rolling exact median of each user's daily value — the
  // robust trend line a dashboard draws over noisy per-day averages.
  // The frame is ROWS-bounded (≤7 elements), so the in-frame sort is O(1)
  // per row; the even case averages exactly TWO doubles (P13). One window
  // shuffle on the user key.
  q("ts_rolling_median",
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 10000 / COUNT(*) * 10000 + 0.5) AS BIGINT) AS xi
      |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |), wnd AS (
      |  SELECT user_id, day,
      |    list_sort(list(xi) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS xs
      |  FROM daily
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(len(xs) AS BIGINT) AS n_win,
      |  CASE WHEN len(xs) % 2 = 1
      |    THEN CAST(xs[(len(xs) + 1) // 2] AS DOUBLE) / 10000
      |    ELSE CAST(xs[len(xs) // 2] + xs[len(xs) // 2 + 1] AS DOUBLE) / 2 / 10000
      |  END AS med7
      |FROM wnd ORDER BY user_id, day""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.fix(col("value"), 4)).as("s1"), count(lit(1)).as("cnt"))
      .select(col("user_id"), col("day"),
        Det.fix(Det.avgFix(col("s1"), 4, col("cnt")), 4)
          .cast("long").as("xi"))
    val w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    val wnd = daily.select(col("user_id"), col("day"),
      array_sort(collect_list("xi").over(w7)).as("xs"))
    val k = size(col("xs"))
    wnd.select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        k.cast("long").as("n_win"),
        when(k % 2 === 1,
          element_at(col("xs"), ((k + 1) / 2).cast("int")).cast("double") / 10000)
          .otherwise((element_at(col("xs"), (k / 2).cast("int"))
            + element_at(col("xs"), (k / 2 + 1).cast("int"))).cast("double") / 2 / 10000)
          .as("med7"))
      .orderBy("user_id", "day")
  }

  // Difference-in-differences estimator: treat = odd user_id, post =
  // day ≥ Jan 16 — the quasi-experimental readout when randomization
  // isn't available. One conditional aggregate produces all four cell
  // means (exact integer cents → 4-dp quantized doubles); the DiD is a
  // single arithmetic tree over those four quantized means, so both
  // engines subtract identical doubles.
  q("events_diff_in_diff",
    """WITH c AS (
      |  SELECT (user_id % 2 = 1) AS treat,
      |    (CAST(date_trunc('day', ts) AS DATE) >= DATE '2024-01-16') AS post,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), cells AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_tpre,
      |    CAST(floor(CAST(SUM(CASE WHEN treat AND NOT post THEN v END) AS DOUBLE) / 100
      |      / SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) * 10000 + 0.5) AS DOUBLE) / 10000 AS m_tpre,
      |    CAST(SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_tpost,
      |    CAST(floor(CAST(SUM(CASE WHEN treat AND post THEN v END) AS DOUBLE) / 100
      |      / SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) * 10000 + 0.5) AS DOUBLE) / 10000 AS m_tpost,
      |    CAST(SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_cpre,
      |    CAST(floor(CAST(SUM(CASE WHEN NOT treat AND NOT post THEN v END) AS DOUBLE) / 100
      |      / SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) * 10000 + 0.5) AS DOUBLE) / 10000 AS m_cpre,
      |    CAST(SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_cpost,
      |    CAST(floor(CAST(SUM(CASE WHEN NOT treat AND post THEN v END) AS DOUBLE) / 100
      |      / SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) * 10000 + 0.5) AS DOUBLE) / 10000 AS m_cpost
      |  FROM c
      |)
      |SELECT *, (m_tpost - m_tpre) - (m_cpost - m_cpre) AS did FROM cells""") { (s, dir) =>
    val c = Tables(s, dir, "events").select(
      (col("user_id") % 2 === 1).as("treat"),
      (to_date(date_trunc("day", col("ts"))) >= lit("2024-01-16").cast("date")).as("post"),
      Det.cents(col("value")).cast("long").as("v"))
    def cell(name: String, p: org.apache.spark.sql.Column) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$name"),
      Det.quant(sum(when(p, col("v"))).cast("double") / 100
        / sum(when(p, 1L).otherwise(0L)), 4).as(s"m_$name"))
    val aggs = cell("tpre", col("treat") && !col("post")) ++
      cell("tpost", col("treat") && col("post")) ++
      cell("cpre", !col("treat") && !col("post")) ++
      cell("cpost", !col("treat") && col("post"))
    c.agg(aggs.head, aggs.tail: _*)
      .withColumn("did",
        (col("m_tpost") - col("m_tpre")) - (col("m_cpost") - col("m_cpre")))
  }

  // Rolling-origin backtest of the naive lag-7-observation forecast per
  // event type: MAE and mean bias of "this day looks like 7 observed days
  // ago". Residuals are exact integer cents (|x−x7| never touches a
  // float), so the error metrics are avgFix-quantized exacts. One lag
  // window over the tiny (type, day) frame.
  q("ts_backtest_snaive",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1, 2
      |), f AS (
      |  SELECT event_type, x,
      |    lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS x7
      |  FROM daily
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
      |  CAST(floor(CAST(SUM(ABS(x - x7)) AS DOUBLE) / 100 / COUNT(*) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS mae,
      |  CAST(floor(CAST(SUM(x - x7) AS DOUBLE) / 100 / COUNT(*) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS bias
      |FROM f WHERE x7 IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val f = daily.select(col("event_type"), col("x"),
        lag(col("x"), 7).over(Window.partitionBy("event_type").orderBy("day")).as("x7"))
      .filter(col("x7").isNotNull)
    f.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        Det.quant(sum(abs(col("x") - col("x7"))).cast("double") / 100 / count(lit(1)), 4).as("mae"),
        Det.quant(sum(col("x") - col("x7")).cast("double") / 100 / count(lit(1)), 4).as("bias"))
      .orderBy("event_type")
  }

  // Train/eval contamination check: fraction of each eval document's
  // distinct 5-gram shingles that appear ANYWHERE in the train split
  // (doc_id % 10 = 0 ⇒ eval) — the decontamination gate run before any
  // benchmark claim. Scale design: Spark joins on xxhash64(shingle)
  // (8-byte keys, collision odds ~n²/2^65 — the same seam every Dedup
  // operator documents), distinct-per-side BEFORE the join; the train
  // side is a semi-join-shaped left join on the hash key, linear in
  // corpus shingle volume. The oracle joins the raw shingle strings.
  q("llm_contamination",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 3),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
      |      || ' ' || tk[i+4])) AS s
      |  FROM t
      |), e AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |tr AS (SELECT DISTINCT sg FROM e WHERE doc_id % 10 <> 0),
      |ev AS (SELECT doc_id, sg FROM e WHERE doc_id % 10 = 0)
      |SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN tr.sg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contaminated,
      |  CAST(floor(CAST(SUM(CASE WHEN tr.sg IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) * 10000 + 0.5) AS DOUBLE) / 10000 AS frac
      |FROM ev LEFT JOIN tr ON ev.sg = tr.sg
      |GROUP BY ev.doc_id ORDER BY ev.doc_id""") { (s, dir) =>
    import graft.ops.TextOps
    val sh = Tables(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(col("tk"), 5))).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("h"))
    val train = sh.filter(col("doc_id") % 10 =!= 0).select("h").distinct()
      .withColumn("hit", lit(1L))
    sh.filter(col("doc_id") % 10 === 0)
      .join(train, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"),
        Det.quant(sum(coalesce(col("hit"), lit(0L))).cast("double") / count(lit(1)), 4).as("frac"))
      .orderBy("doc_id")
  }

  // Tukey 1.5×IQR outlier gate per event type with EXACT discrete
  // quartiles — the boxplot companion to the MAD/Hampel/seasonal anomaly
  // family. The fences stay integral: v < q1 − 1.5·IQR becomes
  // 2v < 2·q1 − 3·IQR (IQR in cents is an integer), so no float ever
  // enters the comparison. Same histogram machinery as agg_winsorize —
  // every pass is distinct-cent-value-sized, not row-sized.
  q("dq_anomaly_iqr",
    """WITH h AS (
      |  SELECT event_type AS et, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2
      |), h2 AS (
      |  SELECT *, SUM(c) OVER (PARTITION BY et ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
      |    SUM(c) OVER (PARTITION BY et) AS n
      |  FROM h
      |), b AS (
      |  SELECT et, CAST(MAX(n) AS BIGINT) AS n,
      |    MIN(CASE WHEN cc >= (n + 3) // 4 THEN v END) AS q1,
      |    MIN(CASE WHEN cc >= (3 * n + 3) // 4 THEN v END) AS q3
      |  FROM h2 GROUP BY et
      |)
      |SELECT h.et AS event_type, b.n,
      |  CAST(b.q1 AS DOUBLE) / 100 AS q1, CAST(b.q3 AS DOUBLE) / 100 AS q3,
      |  CAST(SUM(CASE WHEN 2 * h.v < 2 * b.q1 - 3 * (b.q3 - b.q1)
      |             OR 2 * h.v > 2 * b.q3 + 3 * (b.q3 - b.q1)
      |           THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM h JOIN b ON h.et = b.et
      |GROUP BY h.et, b.n, b.q1, b.q3 ORDER BY event_type""") { (s, dir) =>
    val h = Tables(s, dir, "events")
      .groupBy(col("event_type").as("et"), Det.cents(col("value")).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val wcc = Window.partitionBy("et").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h2 = h.withColumn("cc", sum("c").over(wcc))
      .withColumn("n", sum("c").over(Window.partitionBy("et")))
    val b = h2.groupBy("et").agg(max("n").as("n"),
      min(when(col("cc") >= expr("(n + 3) div 4"), col("v"))).as("q1"),
      min(when(col("cc") >= expr("(3 * n + 3) div 4"), col("v"))).as("q3"))
    val iqr = col("q3") - col("q1")
    h.join(b.withColumnRenamed("et", "bet"), col("et") === col("bet"))
      .groupBy(col("et").as("event_type"), col("n"), col("q1"), col("q3"))
      .agg(sum(when(lit(2) * col("v") < lit(2) * col("q1") - lit(3) * iqr
          || lit(2) * col("v") > lit(2) * col("q3") + lit(3) * iqr,
        col("c")).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"),
        (col("q1").cast("double") / 100).as("q1"),
        (col("q3").cast("double") / 100).as("q3"), col("n_outliers"))
      .orderBy("event_type")
  }

  // Cohort LTV curve: users grouped by first-seen week, cumulative
  // purchase revenue per user tracked across week offsets — the
  // lifetime-value readout next to events_retention_cohorts' count
  // matrix. Weeks come from integer epoch-day arithmetic anchored on
  // Monday 2024-01-01 (never the engines' week builtins — P12 family).
  // Shapes: one per-user min aggregate, one join back on the user key,
  // one (cohort, offset) aggregate; the cumsum window runs over ≤#weeks²
  // cells.
  q("events_cohort_ltv",
    """WITH fd AS (
      |  SELECT user_id,
      |    min(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE))) // 7 AS cohort_week
      |  FROM events GROUP BY user_id
      |), cs AS (SELECT cohort_week, COUNT(*) AS n_users FROM fd GROUP BY 1),
      |rev AS (
      |  SELECT fd.cohort_week,
      |    date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', e.ts) AS DATE)) // 7 - fd.cohort_week AS week_offset,
      |    SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS r
      |  FROM events e JOIN fd ON e.user_id = fd.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2
      |), cum AS (
      |  SELECT cohort_week, week_offset,
      |    SUM(r) OVER (PARTITION BY cohort_week ORDER BY week_offset
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r
      |  FROM rev
      |)
      |SELECT c.cohort_week, c.week_offset, cs.n_users,
      |  CAST(c.cum_r AS DOUBLE) / 100 AS cum_revenue,
      |  CAST(floor(CAST(c.cum_r AS DOUBLE) / 100 / cs.n_users * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS ltv_per_user
      |FROM cum c JOIN cs ON c.cohort_week = cs.cohort_week
      |ORDER BY c.cohort_week, week_offset""") { (s, dir) =>
    val fd = Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(expr("min(datediff(to_date(date_trunc('day', ts)), date'2024-01-01')) div 7")
        .as("cohort_week"))
    val cs = fd.groupBy("cohort_week").agg(count(lit(1)).as("n_users"))
    val rev = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("datediff(to_date(date_trunc('day', ts)), date'2024-01-01') div 7")
          .as("wk"),
        Det.cents(col("value")).cast("long").as("vc"))
      .join(fd, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(sum("vc").as("r"))
    val cum = rev.withColumn("cum_r",
      sum("r").over(Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.join(cs, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        (col("cum_r").cast("double") / 100).as("cum_revenue"),
        Det.quant(col("cum_r").cast("double") / 100 / col("n_users"), 4).as("ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  // Weekly-seasonality strength per event type: the STL-style
  // F_s = max(0, 1 − SSR/SST) where the seasonal component is the
  // integer-quantized day-of-week mean. Every sum of squares is a
  // 128-bit-promoted exact integer (P16); the ratio is one double tree.
  // Weekday from anchored integer day arithmetic (((diff % 7) + 7) % 7 —
  // fixture-independent, the r4 ADVICE form).
  q("ts_seasonal_strength",
    """WITH daily AS (
      |  SELECT event_type AS et, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
      |  FROM events GROUP BY 1, 2
      |), dw AS (
      |  SELECT *, ((date_diff('day', DATE '2024-01-01', day) % 7) + 7) % 7 AS dow
      |  FROM daily
      |), sm AS (
      |  SELECT et, dow, SUM(x) // COUNT(*) AS s FROM dw GROUP BY et, dow
      |), gm AS (
      |  SELECT et, SUM(x) // COUNT(*) AS m FROM dw GROUP BY et
      |), j AS (
      |  SELECT dw.et, dw.x, sm.s, gm.m FROM dw
      |  JOIN sm ON dw.et = sm.et AND dw.dow = sm.dow
      |  JOIN gm ON dw.et = gm.et
      |), agg AS (
      |  SELECT et, COUNT(*) AS n_days,
      |    SUM(CAST(x - s AS HUGEINT) * (x - s)) AS ssr,
      |    SUM(CAST(x - m AS HUGEINT) * (x - m)) AS sst
      |  FROM j GROUP BY et
      |)
      |SELECT et AS event_type, CAST(n_days AS BIGINT) AS n_days,
      |  CASE WHEN sst = 0 THEN NULL
      |    ELSE greatest(0.0, CAST(floor((1 - CAST(ssr AS DOUBLE) / CAST(sst AS DOUBLE))
      |      * 1000000 + 0.5) AS DOUBLE) / 1000000) END AS seasonal_strength
      |FROM agg ORDER BY event_type""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type").as("et"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val dw = daily.withColumn("dow",
      expr("((datediff(day, date'2024-01-01') % 7) + 7) % 7"))
    val sm = dw.groupBy("et", "dow").agg(expr("sum(x) div count(*)").as("s"))
    val gm = dw.groupBy("et").agg(expr("sum(x) div count(*)").as("m"))
    val j = dw.join(sm, Seq("et", "dow")).join(gm, Seq("et"))
    val agg = j.groupBy("et").agg(count(lit(1)).as("n_days"),
      sum(Det.wide(col("x") - col("s")) * (col("x") - col("s"))).as("ssr"),
      sum(Det.wide(col("x") - col("m")) * (col("x") - col("m"))).as("sst"))
    agg.select(col("et").as("event_type"), col("n_days"),
        when(col("sst") === 0, lit(null)).otherwise(
          greatest(lit(0.0),
            Det.quant(lit(1) - col("ssr").cast("double") / col("sst").cast("double"), 6)))
          .as("seasonal_strength"))
      .orderBy("event_type")
  }

  // Value-distribution entropy per column (nats, plus the 0..1 normalized
  // form) — the uniqueness/skew summary next to dq_column_profile's
  // min/max. H = ln(n) − Σ c·ln(c)/n decomposes into ln over INTEGER
  // arguments only (counts — Det.lnFix's safe set, P12): Σ c·lnFix(c) is
  // an exact 128-bit integer, and the assembly is one double tree over
  // exact integers. One groupBy per column over dimension-sized value
  // domains.
  q("dq_value_entropy",
    { def side(cn: String, c: String) =
        s"""SELECT '$cn' AS column_name, CAST(SUM(c) AS BIGINT) AS n,
           |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
           |  CAST(floor((CAST(floor(ln(CAST(SUM(c) AS DOUBLE)) * 100000000 + 0.5) AS DOUBLE) / 100000000
           |    - CAST(SUM(CAST(c AS HUGEINT) * CAST(floor(ln(CAST(c AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
           |      / 100000000 / SUM(c)) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS entropy,
           |  CASE WHEN COUNT(*) = 1 THEN NULL
           |    ELSE CAST(floor((CAST(floor(ln(CAST(SUM(c) AS DOUBLE)) * 100000000 + 0.5) AS DOUBLE) / 100000000
           |      - CAST(SUM(CAST(c AS HUGEINT) * CAST(floor(ln(CAST(c AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
           |        / 100000000 / SUM(c))
           |      / (CAST(floor(ln(CAST(COUNT(*) AS DOUBLE)) * 100000000 + 0.5) AS DOUBLE) / 100000000)
           |      * 1000000 + 0.5) AS DOUBLE) / 1000000 END AS entropy_norm
           |FROM (SELECT $c, COUNT(*) AS c FROM orders GROUP BY $c)""".stripMargin
      Seq(side("o_custkey", "o_custkey"), side("o_orderpriority", "o_orderpriority"),
        side("o_orderstatus", "o_orderstatus"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
    }) { (s, dir) =>
    val o = Tables(s, dir, "orders")
    def side(cn: String) = {
      val counts = o.groupBy(cn).agg(count(lit(1)).as("c"))
      val lnN = Det.quant(log(sum("c").cast("double")), 8)
      val lnD = Det.quant(log(count(lit(1)).cast("double")), 8)
      val sLn = sum(Det.wide(col("c")) * Det.lnFix(col("c"), 8))
        .cast("double") / 100000000 / sum("c")
      counts.agg(
        sum("c").as("n"), count(lit(1)).as("n_distinct"),
        Det.quant(lnN - sLn, 6)
          .as("entropy"),
        when(count(lit(1)) === 1, lit(null)).otherwise(
          Det.quant((lnN - sLn) / lnD, 6))
          .as("entropy_norm"))
        .select(lit(cn).as("column_name"), col("n"), col("n_distinct"),
          col("entropy"), col("entropy_norm"))
    }
    side("o_custkey").unionByName(side("o_orderpriority"))
      .unionByName(side("o_orderstatus"))
      .orderBy("column_name")
  }

  // Audience overlap between event types: distinct-user co-occurrence
  // with Jaccard and lift — "do clickers also purchase". Scale shape:
  // the self-join runs over DISTINCT (user, type) rows (≤5 per user —
  // orders of magnitude below the event stream) on the user key, fanout
  // bounded by #types² per user; totals broadcast.
  q("events_type_overlap",
    """WITH pu AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), tot AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
      |per AS (SELECT event_type, COUNT(*) AS n FROM pu GROUP BY event_type),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
      |  FROM pu a JOIN pu b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, pa.n AS n_a, pb.n AS n_b, n_both,
      |  CAST(floor(CAST(n_both AS DOUBLE) / (pa.n + pb.n - n_both) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS jaccard,
      |  CAST(floor(CAST(n_both AS DOUBLE) * nu / (CAST(pa.n AS DOUBLE) * pb.n)
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS lift
      |FROM pairs JOIN per pa ON pairs.type_a = pa.event_type
      |JOIN per pb ON pairs.type_b = pb.event_type
      |CROSS JOIN tot
      |ORDER BY type_a, type_b""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val pu = ev.select("user_id", "event_type").distinct()
    val tot = ev.agg(countDistinct("user_id").as("nu"))
    val per = pu.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = pu.as("a").join(pu.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(per.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(per.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        Det.quant(col("n_both").cast("double") / (col("n_a") + col("n_b") - col("n_both")),
          6).as("jaccard"),
        Det.quant(col("n_both").cast("double") * col("nu")
          / (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
      .orderBy("type_a", "type_b")
  }

  // Deterministic train/val/test split by md5(doc_id) hex range — the
  // same document lands in the same split in any engine, any run, any
  // cluster (leakage-proof by construction; '0'-'b' ⇒ 12/16 train,
  // 'c'-'d' val, 'e'-'f' test). Reports per-lang proportions. One scan +
  // one dimension-sized aggregate.
  q("llm_dataset_split",
    """WITH s AS (
      |  SELECT lang,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
      |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents
      |), lt AS (SELECT lang, COUNT(*) AS n_lang FROM s GROUP BY lang)
      |SELECT s.lang, split, COUNT(*) AS n_docs,
      |  CAST(floor(CAST(COUNT(*) AS DOUBLE) / MAX(n_lang) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS frac_of_lang
      |FROM s JOIN lt ON s.lang = lt.lang
      |GROUP BY s.lang, split ORDER BY s.lang, split""") { (s, dir) =>
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val sp = Tables(s, dir, "documents")
      .select(col("lang"),
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test").as("split"))
    val lt = sp.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    sp.join(broadcast(lt), "lang")
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        Det.quant(count(lit(1)).cast("double") / max("n_lang"), 4).as("frac_of_lang"))
      .orderBy("lang", "split")
  }

  // Sequential pattern mining: the top-20 event-type trigrams across
  // per-user ordered streams — one step past events_markov_transitions'
  // bigram matrix (funnel discovery, bot-signature detection). Two lead
  // windows share ONE user-key shuffle; the count aggregate runs on
  // ≤|types|³ distinct patterns.
  q("events_seq_trigrams",
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
      |  FROM events
      |)
      |SELECT event_type || '>' || t2 || '>' || t3 AS pattern, COUNT(*) AS n
      |FROM o WHERE t3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, pattern LIMIT 20""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("pattern"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pattern"))
      .limit(20)
  }

  // Backfill planner: the expected (type, ingestion-shard, day) grid —
  // each type's own min..max calendar span × 32 hash shards — minus the
  // cells that actually landed → the partition list a scheduler must
  // re-run. The grid explode is |types| × 32 × |span| rows — linear in
  // the OUTPUT like ts_resample_ffill; the anti-join runs on the full
  // grid key.
  q("etl_backfill_plan",
    """WITH obs AS (
      |  SELECT DISTINCT event_type, user_id % 32 AS shard,
      |    CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events
      |), span AS (
      |  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1
      |), gridd AS (
      |  SELECT event_type,
      |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span
      |), grid AS (
      |  SELECT event_type, CAST(sh.shard AS BIGINT) AS shard, day
      |  FROM gridd CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS shard) sh
      |)
      |SELECT g.event_type, g.shard, strftime(g.day, '%Y-%m-%d') AS missing_day
      |FROM grid g ANTI JOIN obs
      |  ON g.event_type = obs.event_type AND g.shard = obs.shard AND g.day = obs.day
      |ORDER BY event_type, shard, missing_day""") { (s, dir) =>
    val obs = Tables(s, dir, "events")
      .select(col("event_type"), (col("user_id") % 32).as("shard"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .distinct()
    val grid = obs.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(31L))).as("shard"),
        col("d0"), col("d1"))
      .select(col("event_type"), col("shard"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    grid.join(obs, Seq("event_type", "shard", "day"), "left_anti")
      .select(col("event_type"), col("shard"),
        date_format(col("day"), "yyyy-MM-dd").as("missing_day"))
      .orderBy("event_type", "shard", "missing_day")
  }

  // Column-level profile of orders (count / nulls / distinct / min / max
  // as strings) — the dataset-card companion for relational tables. One
  // aggregate pass computes every column's stats; stack() unpivots the
  // single result row into one row per column. Double columns are
  // excluded by design: double→string rendering is engine-specific, and
  // dq_expectations / llm_dataset_card already profile numeric ranges.
  q("dq_column_profile",
    """SELECT * FROM (
      |  SELECT 'o_custkey' AS column_name, COUNT(*) AS n,
      |    COUNT(*) - COUNT(o_custkey) AS n_null,
      |    COUNT(DISTINCT o_custkey) AS n_distinct,
      |    CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
      |    CAST(MAX(o_custkey) AS VARCHAR) AS max_s FROM orders
      |  UNION ALL
      |  SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
      |    COUNT(DISTINCT CAST(o_orderdate AS DATE)),
      |    CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR),
      |    CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
      |    COUNT(DISTINCT o_orderkey), CAST(MIN(o_orderkey) AS VARCHAR),
      |    CAST(MAX(o_orderkey) AS VARCHAR) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
      |    COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
      |    MAX(o_orderpriority) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
      |    COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus),
      |    MAX(o_orderstatus) FROM orders
      |) ORDER BY column_name""") { (s, dir) =>
    // one independent two-phase aggregate per column, unioned — NOT a
    // single agg with five COUNT(DISTINCT)s, which Catalyst plans as a
    // 5× Expand of every row before a multi-pass distinct aggregate
    // (measured: 2.4 s vs 0.4 s at sf0.1; at 100 TB the Expand is a 5×
    // scan amplification). Each branch prunes to its own column, the
    // five branches are tiny independent plans, and the union is 5 rows.
    val o = Tables(s, dir, "orders")
      .withColumn("o_orderdate_d", to_date(col("o_orderdate")))
    def prof(name: String, c: String) =
      o.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(c))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_s"),
        max(col(c)).cast("string").as("max_s"))
        .select(lit(name).as("column_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    val cols = Seq("o_custkey" -> "o_custkey", "o_orderdate" -> "o_orderdate_d",
      "o_orderkey" -> "o_orderkey", "o_orderpriority" -> "o_orderpriority",
      "o_orderstatus" -> "o_orderstatus")
    cols.map { case (n, c) => prof(n, c) }
      .reduce(_ unionByName _)
      .orderBy("column_name")
  }

  // Pearson correlation matrix over lineitem's numeric measures — the
  // feature-selection / collinearity card. ONE aggregate pass collects all
  // nine 128-bit-exact co-moments (P16 promote BEFORE the product:
  // price-cents² ≈ 1e14/row wraps int64 near 1e5 rows); each pairwise r is
  // then a single closed-form double tree over those exact integers —
  // sqrt is IEEE-exact (unlike ln), so no fixed-point detour is needed
  // before the final 6-dp quantization. Never a corr() built-in: Spark and
  // DuckDB accumulate running co-moments in engine-specific order.
  q("agg_corr_matrix",
    """WITH v AS (
      |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x2,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x3
      |  FROM lineitem
      |), m AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x2 AS HUGEINT)) AS s2,
      |    SUM(CAST(x3 AS HUGEINT)) AS s3,
      |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11, SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
      |    SUM(CAST(x3 AS HUGEINT) * x3) AS s33,
      |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12, SUM(CAST(x1 AS HUGEINT) * x3) AS s13,
      |    SUM(CAST(x2 AS HUGEINT) * x3) AS s23
      |  FROM v
      |)
      |SELECT pair, CAST(n AS BIGINT) AS n,
      |  CAST(floor((CAST(n AS DOUBLE) * sxy - sx * sy)
      |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
      |       * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS corr
      |FROM (
      |  SELECT 'quantity~price' AS pair, n, CAST(s1 AS DOUBLE) AS sx,
      |    CAST(s2 AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS sxx,
      |    CAST(s22 AS DOUBLE) AS syy, CAST(s12 AS DOUBLE) AS sxy FROM m
      |  UNION ALL
      |  SELECT 'quantity~discount', n, CAST(s1 AS DOUBLE), CAST(s3 AS DOUBLE),
      |    CAST(s11 AS DOUBLE), CAST(s33 AS DOUBLE), CAST(s13 AS DOUBLE) FROM m
      |  UNION ALL
      |  SELECT 'price~discount', n, CAST(s2 AS DOUBLE), CAST(s3 AS DOUBLE),
      |    CAST(s22 AS DOUBLE), CAST(s33 AS DOUBLE), CAST(s23 AS DOUBLE) FROM m
      |)
      |ORDER BY pair""") { (s, dir) =>
    val v = Tables(s, dir, "lineitem").select(
      Det.fix(col("l_quantity"), 0).cast("long").as("x1"),
      Det.cents(col("l_extendedprice")).cast("long").as("x2"),
      Det.fix(col("l_discount"), 2).cast("long").as("x3"))
    val m = v.agg(count(lit(1)).as("n"),
      sum(Det.wide(col("x1"))).as("s1"), sum(Det.wide(col("x2"))).as("s2"),
      sum(Det.wide(col("x3"))).as("s3"),
      sum(Det.wide(col("x1")) * col("x1")).as("s11"),
      sum(Det.wide(col("x2")) * col("x2")).as("s22"),
      sum(Det.wide(col("x3")) * col("x3")).as("s33"),
      sum(Det.wide(col("x1")) * col("x2")).as("s12"),
      sum(Det.wide(col("x1")) * col("x3")).as("s13"),
      sum(Det.wide(col("x2")) * col("x3")).as("s23"))
    val rows = m.select(
      expr("stack(3, " +
        "'quantity~price', CAST(s1 AS DOUBLE), CAST(s2 AS DOUBLE), CAST(s11 AS DOUBLE), CAST(s22 AS DOUBLE), CAST(s12 AS DOUBLE), " +
        "'quantity~discount', CAST(s1 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(s11 AS DOUBLE), CAST(s33 AS DOUBLE), CAST(s13 AS DOUBLE), " +
        "'price~discount', CAST(s2 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(s22 AS DOUBLE), CAST(s33 AS DOUBLE), CAST(s23 AS DOUBLE)" +
        ") AS (pair, sx, sy, sxx, syy, sxy)"),
      col("n"))
    rows.select(col("pair"), col("n").cast("long").as("n"),
        Det.quant((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n").cast("double") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n").cast("double") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
      .orderBy("pair")
  }

  // New-vs-returning daily split — the growth-accounting card every
  // product dashboard leads with. The distinct (user, day) frame is one
  // hash aggregate; the first-seen day is a user-key window over that
  // already-reduced frame (≤ users×days rows, never raw events); the
  // final day-sized aggregate is dimension-bounded.
  q("events_new_vs_returning",
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events
      |), w AS (
      |  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS d0 FROM ud
      |), g AS (
      |  SELECT day, SUM(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS n_new,
      |    SUM(CASE WHEN day > d0 THEN 1 ELSE 0 END) AS n_ret
      |  FROM w GROUP BY day
      |)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CAST(n_new AS BIGINT) AS new_users, CAST(n_ret AS BIGINT) AS returning_users
      |FROM g ORDER BY day""") { (s, dir) =>
    val ud = Tables(s, dir, "events")
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .distinct()
    val w = ud.withColumn("d0", min("day").over(Window.partitionBy("user_id")))
    w.groupBy("day")
      .agg(sum(when(col("day") === col("d0"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") > col("d0"), 1L).otherwise(0L)).as("returning_users"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("returning_users"))
      .orderBy("day")
  }

  // Candidate-key discovery on orders: |distinct(key)| vs |rows| per
  // candidate — the uniqueness half of dq_functional_dependency's
  // dependency card. Each candidate is ONE exact-distinct hash aggregate
  // over a pruned projection (no multi-distinct Expand blowup); the union
  // is candidate-count-sized.
  q("dq_key_candidates",
    """SELECT 'o_custkey' AS candidate, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT o_custkey) AS n_distinct,
      |  COUNT(*) = COUNT(DISTINCT o_custkey) AS is_key
      |FROM orders
      |UNION ALL
      |SELECT 'o_custkey,o_orderdate', COUNT(*),
      |  COUNT(DISTINCT (o_custkey, o_orderdate)),
      |  COUNT(*) = COUNT(DISTINCT (o_custkey, o_orderdate))
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderkey', COUNT(*), COUNT(DISTINCT o_orderkey),
      |  COUNT(*) = COUNT(DISTINCT o_orderkey)
      |FROM orders
      |ORDER BY candidate""") { (s, dir) =>
    val o = Tables(s, dir, "orders")
    def cand(name: String, cols0: Seq[String]) = o
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(cols0.head), cols0.tail.map(col): _*).as("n_distinct"))
      .select(lit(name).as("candidate"), col("n_rows"), col("n_distinct"),
        (col("n_rows") === col("n_distinct")).as("is_key"))
    cand("o_custkey", Seq("o_custkey"))
      .unionAll(cand("o_custkey,o_orderdate", Seq("o_custkey", "o_orderdate")))
      .unionAll(cand("o_orderkey", Seq("o_orderkey")))
      .orderBy("candidate")
  }

  // Spearman rank correlation between the daily revenue and daily volume
  // series — the monotone-association companion to win_rolling_corr's
  // Pearson. Ranks are row_number with a (value, day) tiebreak — fully
  // deterministic in both engines (no averaged tie ranks) — computed over
  // the DAY-sized aggregate, never the raw events (P15: windows above
  // Aggregate); Σd² is integer-exact, ρ is one closed-form double tree.
  q("ts_spearman",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS rev, COUNT(*) AS vol
      |  FROM events GROUP BY day
      |), r AS (
      |  SELECT day,
      |    row_number() OVER (ORDER BY rev, day) AS rx,
      |    row_number() OVER (ORDER BY vol, day) AS ry
      |  FROM d
      |), a AS (
      |  SELECT COUNT(*) AS n, SUM((rx - ry) * (rx - ry)) AS sd2 FROM r
      |)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(floor((1 - 6.0 * sd2 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)))
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS spearman_rho
      |FROM a""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("rev"),
        count(lit(1)).as("vol"))
    val r = d.select(col("day"),
      row_number().over(Window.orderBy("rev", "day")).as("rx"),
      row_number().over(Window.orderBy("vol", "day")).as("ry"))
    val a = r.agg(count(lit(1)).as("n"),
      sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("sd2"))
    a.select(col("n").cast("long").as("n_days"),
      Det.quant(lit(1) - lit(6.0) * col("sd2")
          / (col("n").cast("double") * (col("n").cast("double") * col("n") - 1)),
            6).as("spearman_rho"))
  }

  // Ingestion-freshness report per event type: last-landed timestamp, lag
  // behind the freshest type in whole seconds, and trailing-24h volume —
  // the staleness monitor a scheduler alerts on. One type-sized aggregate
  // (max + conditional count vs the global max, broadcast back); integer
  // epoch-second arithmetic end to end.
  q("dq_freshness",
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 AS sec FROM events
      |), g AS (
      |  SELECT MAX(sec) AS gmax FROM e
      |), t AS (
      |  SELECT event_type, MAX(sec) AS tmax,
      |    SUM(CASE WHEN sec > (SELECT gmax FROM g) - 86400 THEN 1 ELSE 0 END) AS n_24h
      |  FROM e GROUP BY event_type
      |)
      |SELECT event_type, CAST(tmax AS BIGINT) AS last_sec,
      |  CAST((SELECT gmax FROM g) - tmax AS BIGINT) AS lag_sec,
      |  CAST(n_24h AS BIGINT) AS n_last_24h
      |FROM t ORDER BY event_type""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_type"), col("ts").cast("long").as("sec"))
    val gmax = e.agg(max("sec").as("gmax"))
    val t = e.crossJoin(broadcast(gmax))
      .groupBy("event_type")
      .agg(max("sec").as("tmax"),
        sum(when(col("sec") > col("gmax") - 86400L, 1L).otherwise(0L)).as("n_24h"),
        max("gmax").as("gmax"))
    t.select(col("event_type"), col("tmax").as("last_sec"),
        (col("gmax") - col("tmax")).as("lag_sec"), col("n_24h").as("n_last_24h"))
      .orderBy("event_type")
  }

  // Multinomial naive-Bayes language classifier, trained and evaluated in
  // one query: md5-split the corpus 50/50 (leakage-proof, same device as
  // llm_dataset_split), train per-(lang, token) Laplace-smoothed counts,
  // score every held-out doc against every lang, and emit the confusion
  // matrix. The whole pipeline is integer-exact: every ln runs on INTEGER
  // arguments (counts — Det.lnFix's safe set, P12) and the per-doc scores
  // are Σ c·lnFix products in 128-bit accumulators (P16), so argmax ties
  // are exact and broken by lang. Scale shape: training is ONE
  // (lang, token) hash aggregate; scoring is ONE token-key shuffle join
  // (test-token × vocab-entry, never docs × vocab); the doc × |langs|
  // score frame is linear in the test set with a dimension-sized
  // broadcast; the argmax is a |langs|-group window per doc.
  q("ml_naive_bayes",
    """WITH d AS (
      |  SELECT doc_id, lang, lower(text) AS t,
      |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7' AS is_train
      |  FROM documents
      |), tok AS (
      |  SELECT doc_id, lang, is_train, unnest(string_split(t, ' ')) AS token FROM d
      |), tt AS (
      |  SELECT lang, token, COUNT(*) AS c FROM tok WHERE is_train GROUP BY lang, token
      |), lt AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS t_l FROM tt GROUP BY lang
      |), ld AS (
      |  SELECT lang, COUNT(*) AS d_l FROM d WHERE is_train GROUP BY lang
      |), vv AS (
      |  SELECT COUNT(DISTINCT token) AS v FROM tt
      |), te AS (
      |  SELECT doc_id, token, COUNT(*) AS cdt FROM tok WHERE NOT is_train
      |  GROUP BY doc_id, token
      |), tn AS (
      |  SELECT doc_id, CAST(SUM(cdt) AS BIGINT) AS n_d FROM te GROUP BY doc_id
      |), td AS (
      |  SELECT doc_id, lang AS actual FROM d WHERE NOT is_train
      |), mt AS (
      |  SELECT te.doc_id, tt.lang,
      |    SUM(CAST(cdt AS HUGEINT)
      |      * CAST(floor(ln(CAST(c + 1 AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)) AS s_match
      |  FROM te JOIN tt ON te.token = tt.token
      |  GROUP BY te.doc_id, tt.lang
      |), base AS (
      |  SELECT td.doc_id, td.actual, lt.lang,
      |    COALESCE(mt.s_match, 0)
      |      - CAST(tn.n_d AS HUGEINT)
      |        * CAST(floor(ln(CAST(lt.t_l + (SELECT v FROM vv) AS DOUBLE))
      |            * 100000000 + 0.5) AS BIGINT)
      |      + CAST(floor(ln(CAST(ld.d_l AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)
      |      AS score
      |  FROM td
      |  JOIN tn ON td.doc_id = tn.doc_id
      |  CROSS JOIN lt
      |  JOIN ld ON ld.lang = lt.lang
      |  LEFT JOIN mt ON mt.doc_id = td.doc_id AND mt.lang = lt.lang
      |), pr AS (
      |  SELECT doc_id, actual, lang AS pred,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      |  FROM base
      |)
      |SELECT actual AS actual_lang, pred AS pred_lang, COUNT(*) AS n_docs
      |FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    val d0 = Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
      (substring(md5(col("doc_id").cast("string")), 1, 1) <= "7").as("is_train"))
    // per-doc token counts come from the session-shared TextOps
    // .docTermCounts memo (same lowercased whitespace tokenization) joined
    // with the narrow (doc_id, lang, is_train) dimension — the corpus text
    // is not re-tokenized here, and both the train aggregate and the test
    // frame read the one memoized frame
    val tok = graft.ops.TextOps.docTermCounts(s, dir)
      .join(d0, "doc_id")
      .select(col("doc_id"), col("lang"), col("is_train"),
        col("term").as("token"), col("tf"))
    val tt = tok.filter(col("is_train"))
      .groupBy("lang", "token").agg(sum("tf").as("c"))
    val lt = tt.groupBy("lang").agg(sum("c").cast("long").as("t_l"))
    val ld = d0.filter(col("is_train")).groupBy("lang").agg(count(lit(1)).as("d_l"))
    val vv = tt.agg(countDistinct(col("token")).as("v"))
    val te = tok.filter(!col("is_train"))
      .select(col("doc_id"), col("token"), col("tf").as("cdt"))
    val tn = te.groupBy("doc_id").agg(sum("cdt").cast("long").as("n_d"))
    val td = d0.filter(!col("is_train")).select(col("doc_id"), col("lang").as("actual"))
    // mt's doc_id is RENAMED before the join: td and mt now both descend
    // from the same memoized frame, so a td("doc_id") === mt("doc_id")
    // condition degenerates to a trivially-true same-attribute predicate
    val mt = te.join(tt.withColumnRenamed("lang", "plang"), "token")
      .groupBy(col("doc_id"), col("plang"))
      .agg(sum(Det.wide(col("cdt")) * Det.lnFix(col("c") + 1, 8).cast("long")).as("s_match"))
      .withColumnRenamed("doc_id", "mdoc")
    val langs = broadcast(lt.join(ld, "lang").crossJoin(vv))
    val base = td.join(tn, "doc_id").crossJoin(langs)
      .join(mt, col("doc_id") === col("mdoc") && col("lang") === col("plang"), "left")
      .select(col("doc_id"), col("actual"), col("lang"),
        (coalesce(col("s_match"), Det.wide(lit(0)))
          - Det.wide(col("n_d")) * Det.lnFix(col("t_l") + col("v"), 8).cast("long")
          + Det.lnFix(col("d_l"), 8).cast("long")).as("score"))
    val pr = base.withColumn("rn", row_number().over(
      Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))))
      .filter(col("rn") === 1)
    pr.groupBy(col("actual").as("actual_lang"), col("lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual_lang", "pred_lang")
  }

  // Two-sample Kolmogorov–Smirnov D between click and purchase value
  // distributions — the distribution-shift companion to the location tests
  // (Welch, Mann-Whitney). Same never-rank-rows scale design as
  // events_ab_mannwhitney: D = max_v |F1(v) − F2(v)| needs only the
  // cent-value HISTOGRAM (domain-bounded cells) + one ordered cumsum, so
  // the plan is a hash aggregate + windows over the tiny histogram, never
  // a sort of the raw stream. All-integer core: the numerator
  // |cum1·n2 − cum2·n1| is exact 128-bit (P16: promote BEFORE the product
  // — cum·tot passes int64 once both arms pass ~3e9 rows); argmax row is
  // picked by (num DESC, v ASC) row_number, ONE double division at the end.
  q("events_ks_test",
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), hist AS (
      |  SELECT v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      |  FROM ev GROUP BY v
      |), h2 AS (
      |  SELECT v,
      |    SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
      |    SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
      |    SUM(c1) OVER () AS tot1, SUM(c2) OVER () AS tot2
      |  FROM hist
      |), sc AS (
      |  SELECT v, tot1, tot2,
      |    ABS(CAST(cum1 AS HUGEINT) * tot2 - CAST(cum2 AS HUGEINT) * tot1) AS num,
      |    row_number() OVER (ORDER BY
      |      ABS(CAST(cum1 AS HUGEINT) * tot2 - CAST(cum2 AS HUGEINT) * tot1) DESC,
      |      v) AS rn
      |  FROM h2
      |)
      |SELECT CAST(tot1 AS BIGINT) AS n1, CAST(tot2 AS BIGINT) AS n2,
      |  CAST(floor(CAST(num AS DOUBLE)
      |    / (CAST(tot1 AS DOUBLE) * CAST(tot2 AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS ks_d,
      |  CAST(v AS DOUBLE) / 100 AS at_value
      |FROM sc WHERE rn = 1""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), Det.cents(col("value")).cast("long").as("v"))
    val hist = ev.groupBy("v").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
    val wc = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy()
    val h2 = hist
      .withColumn("cum1", sum("c1").over(wc))
      .withColumn("cum2", sum("c2").over(wc))
      .withColumn("tot1", sum("c1").over(wt))
      .withColumn("tot2", sum("c2").over(wt))
      .withColumn("num",
        abs(Det.wide(col("cum1")) * col("tot2") - Det.wide(col("cum2")) * col("tot1")))
    h2.withColumn("rn",
        row_number().over(Window.orderBy(col("num").desc, col("v"))))
      .filter(col("rn") === 1)
      .select(col("tot1").as("n1"), col("tot2").as("n2"),
        Det.quant(col("num").cast("double")
          / (col("tot1").cast("double") * col("tot2").cast("double")), 6).as("ks_d"),
        (col("v").cast("double") / 100).as("at_value"))
  }

  // Two-feature OLS with intercept: daily purchase revenue (cents) ~
  // a·clicks + b·active_users + c, solved in closed form by Cramer's rule
  // on the normal equations. Determinism: every moment (Σx, Σx², Σxy, …)
  // is an EXACT integer accumulated 128-bit (P16), cast to double exactly
  // once; the determinants and coefficients are then fixed chains of
  // IEEE ops over those nine doubles — identical expression trees on both
  // engines (the pacf3/rolling-corr precedent), quantized only at the
  // output. Scale shape: one day-grained aggregate over the stream (the
  // regression itself runs on |days| rows → a 1-row frame); at any corpus
  // size the moments stay exact and the 3×3 solve is O(1).
  q("ml_linreg_ols",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x1,
      |    COUNT(DISTINCT user_id) AS x2,
      |    SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
      |  FROM events GROUP BY 1
      |), m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      |  FROM daily
      |), d AS (
      |  SELECT *,
      |    s11 * (s22 * n - s2 * s2) - s12 * (s12 * n - s2 * s1)
      |      + s1 * (s12 * s2 - s22 * s1) AS det,
      |    s1y * (s22 * n - s2 * s2) - s12 * (s2y * n - s2 * sy)
      |      + s1 * (s2y * s2 - s22 * sy) AS deta,
      |    s11 * (s2y * n - sy * s2) - s1y * (s12 * n - s2 * s1)
      |      + s1 * (s12 * sy - s2y * s1) AS detb,
      |    s11 * (s22 * sy - s2 * s2y) - s12 * (s12 * sy - s2y * s1)
      |      + s1y * (s12 * s2 - s22 * s1) AS detc
      |  FROM m
      |), r AS (
      |  SELECT y - (deta / det * x1 + detb / det * x2 + detc / det) AS e
      |  FROM daily CROSS JOIN d
      |), sse AS (
      |  SELECT SUM(CAST(floor(e * e + 0.5) AS HUGEINT)) AS sse FROM r
      |)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(floor(deta / det * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_clicks,
      |  CAST(floor(detb / det * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_users,
      |  CAST(floor(detc / det * 100 + 0.5) AS DOUBLE) / 100 AS intercept,
      |  CAST(floor((1 - CAST(sse AS DOUBLE) / (syy - sy * sy / n))
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS r2
      |FROM d CROSS JOIN sse""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x1"),
        countDistinct(col("user_id")).as("x2"),
        sum(when(col("event_type") === "purchase",
          Det.cents(col("value")).cast("long")).otherwise(0L)).as("y"))
    val m = daily.agg(
      count(lit(1)).cast("double").as("n"),
      sum(Det.wide(col("x1"))).cast("double").as("s1"),
      sum(Det.wide(col("x2"))).cast("double").as("s2"),
      sum(Det.wide(col("y"))).cast("double").as("sy"),
      sum(Det.wide(col("x1")) * col("x1")).cast("double").as("s11"),
      sum(Det.wide(col("x1")) * col("x2")).cast("double").as("s12"),
      sum(Det.wide(col("x2")) * col("x2")).cast("double").as("s22"),
      sum(Det.wide(col("x1")) * col("y")).cast("double").as("s1y"),
      sum(Det.wide(col("x2")) * col("y")).cast("double").as("s2y"),
      sum(Det.wide(col("y")) * col("y")).cast("double").as("syy"))
    val d = m
      .withColumn("det",
        col("s11") * (col("s22") * col("n") - col("s2") * col("s2"))
          - col("s12") * (col("s12") * col("n") - col("s2") * col("s1"))
          + col("s1") * (col("s12") * col("s2") - col("s22") * col("s1")))
      .withColumn("deta",
        col("s1y") * (col("s22") * col("n") - col("s2") * col("s2"))
          - col("s12") * (col("s2y") * col("n") - col("s2") * col("sy"))
          + col("s1") * (col("s2y") * col("s2") - col("s22") * col("sy")))
      .withColumn("detb",
        col("s11") * (col("s2y") * col("n") - col("sy") * col("s2"))
          - col("s1y") * (col("s12") * col("n") - col("s2") * col("s1"))
          + col("s1") * (col("s12") * col("sy") - col("s2y") * col("s1")))
      .withColumn("detc",
        // cofactor of the intercept column: the middle minor is
        // det[[s12, s2y], [s1, sy]] = s12·sy − s2y·s1 (a transposed-index
        // slip here once shifted the whole fit by the intercept — caught
        // by the ts_granger_lite nested-model F ≥ 0 invariant, which no
        // same-tree oracle can see)
        col("s11") * (col("s22") * col("sy") - col("s2") * col("s2y"))
          - col("s12") * (col("s12") * col("sy") - col("s2y") * col("s1"))
          + col("s1y") * (col("s12") * col("s2") - col("s22") * col("s1")))
    // SSE by a second residual pass, NOT the one-pass syy − a·s1y − …
    // identity: with a near-singular system (collinear features at tiny
    // fixtures) the identity cancels catastrophically and can even go
    // negative; Σ floor(e²+0.5) is exact-integer, non-negative, and keeps
    // r2 ≤ 1 by construction. Per-day residual² must stay under 2^53 for
    // the floored double to be integer-exact — ~9×10^7 currency units of
    // daily miss, far past any realistic series.
    val r = daily.crossJoin(broadcast(d))
      .select((col("y") - (col("deta") / col("det") * col("x1")
        + col("detb") / col("det") * col("x2")
        + col("detc") / col("det"))).as("e"))
    val sse = r.agg(sum(Det.wide(Det.half(col("e") * col("e")))).as("sse"))
    d.crossJoin(broadcast(sse)).select(
      col("n").cast("long").as("n_days"),
      Det.quant(col("deta") / col("det"), 6).as("coef_clicks"),
      Det.quant(col("detb") / col("det"), 6).as("coef_users"),
      Det.quant(col("detc") / col("det"), 2).as("intercept"),
      Det.quant(lit(1) - col("sse").cast("double")
        / (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"))
  }

  // Kruskal-Wallis H: the k-group generalization of the Mann-Whitney rank
  // test (does ANY event type's value distribution differ?). Same scale
  // design as events_ab_mannwhitney: ranks are NEVER assigned to rows —
  // the mid-rank of a tied cent-value v is (2·C(<v) + t(v) + 1)/2, all
  // integers off the value HISTOGRAM, so the plan is one hash aggregate
  // over distinct cents plus one |distinct|-sized cumsum. The only
  // cross-group double sum is quantized to integers first (P12); per-group
  // rank sums ride 128-bit. Integer-quantum bound: the n·dev² term stays
  // under int64 to ~1e18 rank-units — promote the floor to a pre-scaled
  // decimal if a corpus ever crosses it.
  q("stats_kruskal_wallis",
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), hist AS (
      |  SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY event_type, v
      |), vt AS (
      |  SELECT v, SUM(c) AS t FROM hist GROUP BY v
      |), vc AS (
      |  SELECT v, t, COALESCE(SUM(t) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM vt
      |), rg AS (
      |  SELECT h.event_type, CAST(SUM(h.c) AS BIGINT) AS n,
      |    SUM(CAST(h.c AS HUGEINT) * (2 * vc.cb + vc.t + 1)) AS r2
      |  FROM hist h JOIN vc ON h.v = vc.v GROUP BY h.event_type
      |), tot AS (SELECT SUM(n) AS nn FROM rg),
      |tie AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tq FROM vt),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(nn) AS nn,
      |    SUM(CAST(floor(CAST(n AS DOUBLE)
      |      * (CAST(r2 AS DOUBLE) / (2 * CAST(n AS DOUBLE))
      |         - (CAST(nn AS DOUBLE) + 1) / 2)
      |      * (CAST(r2 AS DOUBLE) / (2 * CAST(n AS DOUBLE))
      |         - (CAST(nn AS DOUBLE) + 1) / 2) + 0.5) AS HUGEINT)) AS s4
      |  FROM rg CROSS JOIN tot
      |), f AS (
      |  SELECT k, CAST(nn AS BIGINT) AS n,
      |    12 * CAST(s4 AS DOUBLE)
      |      / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1)) AS h_raw,
      |    1 - CAST(tq AS DOUBLE)
      |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |         - CAST(nn AS DOUBLE)) AS corr
      |  FROM s CROSS JOIN tie
      |)
      |SELECT k, n,
      |  CAST(floor(h_raw * 1000000 + 0.5) AS DOUBLE) / 1000000 AS h,
      |  CAST(floor(h_raw / corr * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS h_tie_corrected
      |FROM f""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), Det.cents(col("value")).cast("long").as("v"))
    val hist = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    val vt = hist.groupBy("v").agg(sum("c").as("t"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val vc = vt.withColumn("cb", coalesce(sum("t").over(w), lit(0L)))
    val rg = hist.join(vc, Seq("v"))
      .groupBy("event_type")
      .agg(sum("c").cast("long").as("n"),
        sum(Det.wide(col("c")) * (lit(2) * col("cb") + col("t") + 1)).as("r2"))
    val tot = rg.agg(sum("n").as("nn"))
    val tie = vt.agg(sum(Det.wide(col("t")) * col("t") * col("t") - col("t"))
      .as("tq"))
    val rb = col("r2").cast("double") / (lit(2) * col("n").cast("double"))
    val dev = rb - (col("nn").cast("double") + 1) / 2
    val st = rg.crossJoin(broadcast(tot))
      .agg(count(lit(1)).cast("long").as("k"), max("nn").as("nn"),
        sum(Det.wide(Det.half(col("n").cast("double") * dev * dev))).as("s4"))
    val f = st.crossJoin(broadcast(tie))
      .select(col("k"), col("nn").cast("long").as("n"),
        (lit(12) * col("s4").cast("double") /
          (col("nn").cast("double") * (col("nn").cast("double") + 1)))
          .as("h_raw"),
        (lit(1) - col("tq").cast("double")
          / (col("nn").cast("double") * col("nn").cast("double") * col("nn").cast("double") -
            col("nn").cast("double")))
          .as("corr"))
    f.select(col("k"), col("n"),
      Det.quant(col("h_raw"), 6)
        .as("h"),
      Det.quant(col("h_raw") / col("corr"), 6).as("h_tie_corrected"))
  }

  // Kendall tau-b trend test per event type: is the DAILY MEAN value
  // drifting over time? Pairwise concordance is computed on the ~90-row
  // daily aggregate (never the raw stream — the classic O(n²) statistic
  // becomes tractable by aggregating first), and mean comparisons cross-
  // multiply integer (sum, count) pairs — s_i·c_j vs s_j·c_i — so no
  // division touches the concordance decision. Day ties are impossible
  // (grouped by day); the value-tie correction rides the y side of the
  // tau-b denominator.
  q("stats_kendall_tau",
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s,
      |    COUNT(*) AS c
      |  FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
      |), p AS (
      |  SELECT a.event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n0,
      |    CAST(SUM(CASE
      |      WHEN CAST(b.s AS HUGEINT) * a.c > CAST(a.s AS HUGEINT) * b.c THEN 1
      |      WHEN CAST(b.s AS HUGEINT) * a.c < CAST(a.s AS HUGEINT) * b.c THEN -1
      |      ELSE 0 END) AS BIGINT) AS cd,
      |    CAST(SUM(CASE
      |      WHEN CAST(b.s AS HUGEINT) * a.c = CAST(a.s AS HUGEINT) * b.c
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tt
      |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY a.event_type
      |)
      |SELECT event_type, n0, cd,
      |  CAST(floor(CAST(cd AS DOUBLE)
      |    / sqrt(CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - CAST(tt AS DOUBLE)))
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS tau_b
      |FROM p ORDER BY event_type""") { (s, dir) =>
    val dd = Tables(s, dir, "events")
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("s"),
        count(lit(1)).as("c"))
    val bs = Det.wide(col("b.s")) * col("a.c")
    val as_ = Det.wide(col("a.s")) * col("b.c")
    val p = dd.as("a")
      .join(dd.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(count(lit(1)).cast("long").as("n0"),
        sum(when(bs > as_, 1L).when(bs < as_, -1L).otherwise(0L))
          .cast("long").as("cd"),
        sum(when(bs === as_, 1L).otherwise(0L)).cast("long").as("tt"))
    p.select(col("event_type"), col("n0"), col("cd"),
      Det.quant(col("cd").cast("double") /
        sqrt(col("n0").cast("double") * (col("n0").cast("double") - col("tt").cast("double"))),
          6).as("tau_b"))
      .orderBy("event_type")
  }

  // Levene's homogeneity-of-variance test (mean-centered form) across
  // event types — the gate before trusting a pooled-variance t-test.
  // Scale-integer core: the per-row deviation |x_ij − x̄_g| is carried as
  // the INTEGER |n_g·x_ij − s_g| (value × group count minus group sum), so
  // both absolute and squared deviation sums are exact 128-bit integers;
  // each group contributes three numbers and every division happens on the
  // k-row group frame. Cross-group sums are integer-quantized first (P12).
  q("stats_levene",
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s
      |  FROM ev GROUP BY event_type
      |), z AS (
      |  SELECT ev.event_type,
      |    abs(CAST(g.n * ev.v - g.s AS HUGEINT)) AS a
      |  FROM ev JOIN g ON ev.event_type = g.event_type
      |), zg AS (
      |  SELECT z.event_type, MAX(g.n) AS n, SUM(a) AS sa, SUM(a * a) AS sb
      |  FROM z JOIN g ON z.event_type = g.event_type GROUP BY z.event_type
      |), q AS (
      |  SELECT event_type, n, sa,
      |    CAST(sa AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS zb,
      |    CAST(sb AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |      AS wg
      |  FROM zg
      |), t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
      |    SUM(CAST(floor(CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5)
      |      AS HUGEINT)) AS szb,
      |    SUM(CAST(floor(wg * 10000 + 0.5) AS HUGEINT)) AS sden
      |  FROM q
      |), m AS (
      |  SELECT k, nn, sden,
      |    CAST(szb AS DOUBLE) / 10000 / CAST(nn AS DOUBLE) AS zbar FROM t
      |), u AS (
      |  SELECT m.k, m.nn, m.sden,
      |    SUM(CAST(floor(CAST(q.n AS DOUBLE) * (q.zb - m.zbar) * (q.zb - m.zbar)
      |      * 10000 + 0.5) AS HUGEINT)) AS snum
      |  FROM q CROSS JOIN m GROUP BY m.k, m.nn, m.sden
      |)
      |SELECT k, nn AS n,
      |  CAST(floor((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
      |    / (CAST(k AS DOUBLE) - 1)
      |    * (CAST(snum AS DOUBLE) / CAST(sden AS DOUBLE))
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS w
      |FROM u""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), Det.cents(col("value")).cast("long").as("v"))
    val g = ev.groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"), sum("v").as("s"))
    val z = ev.join(broadcast(g), Seq("event_type"))
      .select(col("event_type"),
        abs(Det.wide(col("n") * col("v") - col("s"))).as("a"))
    val zg = z.join(broadcast(g.select(col("event_type"), col("n"))),
        Seq("event_type"))
      .groupBy("event_type")
      .agg(max("n").as("n"), sum("a").as("sa"),
        sum(col("a") * col("a")).as("sb"))
    val q_ = zg.select(col("event_type"), col("n"), col("sa"),
      (col("sa").cast("double") / (col("n").cast("double") * col("n").cast("double"))).as("zb"),
      (col("sb").cast("double") / (col("n").cast("double") * col("n").cast("double"))
        - col("sa").cast("double") * col("sa").cast("double")
          / (col("n").cast("double") * col("n").cast("double") * col("n").cast("double"))).as("wg"))
    val t = q_
      .agg(count(lit(1)).cast("long").as("k"), sum("n").cast("long").as("nn"),
        sum(Det.wide(Det.fix(col("sa").cast("double") / col("n").cast("double"), 4)))
          .as("szb"),
        sum(Det.wide(Det.fix(col("wg"), 4))).as("sden"))
    val m = t.select(col("k"), col("nn"), col("sden"),
      (col("szb").cast("double") / 10000 / col("nn").cast("double")).as("zbar"))
    val u = q_.crossJoin(broadcast(m))
      .groupBy("k", "nn", "sden")
      .agg(sum(Det.wide(Det.fix(col("n").cast("double") * (col("zb") - col("zbar"))
        * (col("zb") - col("zbar")), 4))).as("snum"))
    u.select(col("k"), col("nn").as("n"),
      Det.quant((col("nn").cast("double") - col("k").cast("double")) / (col("k").cast("double") - 1)
        * (col("snum").cast("double") / col("sden").cast("double")), 6).as("w"))
  }

  // Delta-method inference for a RATIO metric (revenue per event): the
  // unit of randomization is the user, so naive per-event variance is
  // wrong — the correct standard error linearizes R = Σx/Σy around the
  // user-level moments: var(R) ≈ (var(x) − 2R·cov(x,y) + R²·var(y)) /
  // (n·ȳ²). Arms are the user-id parity; all six moments per arm are
  // exact 128-bit integer sums and the z statistic is one quantized
  // double tree. The ratio-metric machinery every experimentation
  // platform implements once and reuses everywhere.
  q("events_ratio_metric_delta",
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x,
      |    COUNT(*) AS y
      |  FROM events GROUP BY user_id, user_id % 2
      |), m AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM u GROUP BY arm
      |), r AS (
      |  SELECT arm, n,
      |    CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
      |    (CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1) AS vx,
      |    (CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1) AS vy,
      |    (CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1) AS cxy
      |  FROM m
      |), se AS (
      |  SELECT arm, n, ratio,
      |    (vx - 2 * ratio * cxy + ratio * ratio * vy)
      |      / (CAST(n AS DOUBLE) * ybar * ybar) AS se2
      |  FROM r
      |), w AS (
      |  SELECT
      |    MAX(CASE WHEN arm = 0 THEN ratio END) AS r0,
      |    MAX(CASE WHEN arm = 1 THEN ratio END) AS r1,
      |    MAX(CASE WHEN arm = 0 THEN se2 END) AS se20,
      |    MAX(CASE WHEN arm = 1 THEN se2 END) AS se21,
      |    CAST(SUM(n) AS BIGINT) AS n_users
      |  FROM se
      |)
      |SELECT n_users,
      |  CAST(floor(r0 / 100 * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS ratio_control,
      |  CAST(floor(r1 / 100 * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS ratio_treat,
      |  CAST(floor((r1 - r0) / 100 * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS diff,
      |  CAST(floor((r1 - r0) / sqrt(se20 + se21) * 10000 + 0.5) AS DOUBLE)
      |    / 10000 AS z
      |FROM w""") { (s, dir) =>
    val u = Tables(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"),
        count(lit(1)).as("y"))
    val m = u.groupBy("arm")
      .agg(count(lit(1)).cast("long").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(Det.wide(col("x")) * col("x")).as("sxx"),
        sum(Det.wide(col("y")) * col("y")).as("syy"),
        sum(Det.wide(col("x")) * col("y")).as("sxy"))
    val r = m.select(col("arm"), col("n"),
      (col("sx").cast("double") / col("sy").cast("double")).as("ratio"),
      (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
      ((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") /
        col("n").cast("double"))
        / (col("n").cast("double") - 1)).as("vx"),
      ((col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double") /
        col("n").cast("double"))
        / (col("n").cast("double") - 1)).as("vy"),
      ((col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") /
        col("n").cast("double"))
        / (col("n").cast("double") - 1)).as("cxy"))
    val se = r.select(col("arm"), col("n"), col("ratio"),
      ((col("vx") - lit(2) * col("ratio") * col("cxy")
        + col("ratio") * col("ratio") * col("vy"))
        / (col("n").cast("double") * col("ybar") * col("ybar"))).as("se2"))
    val w = se.agg(
      max(when(col("arm") === 0, col("ratio"))).as("r0"),
      max(when(col("arm") === 1, col("ratio"))).as("r1"),
      max(when(col("arm") === 0, col("se2"))).as("se20"),
      max(when(col("arm") === 1, col("se2"))).as("se21"),
      sum("n").cast("long").as("n_users"))
    w.select(col("n_users"),
      Det.quant(col("r0") / 100, 4)
        .as("ratio_control"),
      Det.quant(col("r1") / 100, 4)
        .as("ratio_treat"),
      Det.quant((col("r1") - col("r0")) / 100, 4).as("diff"),
      Det.quant((col("r1") - col("r0")) / sqrt(col("se20") + col("se21")), 4).as("z"))
  }

  // Per-segment uplift readout: treatment-vs-control mean post-period
  // spend, segmented by PRE-period spend quartile — segmenting on a
  // pre-treatment covariate is the leakage-free form (segmenting on the
  // outcome would fabricate uplift). Arms are the deterministic user-id
  // parity (as events_ab_cuped); the pre/post split is the integer
  // midpoint of the time span. All moments are exact integer sums;
  // uplift and relative lift are single-row quantized doubles per
  // segment. The heterogeneous-treatment-effect table every experiment
  // review reads after the topline.
  q("events_uplift_by_segment",
    """WITH ev AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), sp AS (
      |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev
      |), u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    SUM(CASE WHEN us < mid THEN cents ELSE 0 END) AS x,
      |    SUM(CASE WHEN us >= mid THEN cents ELSE 0 END) AS y
      |  FROM ev CROSS JOIN sp GROUP BY user_id, user_id % 2
      |), seg AS (
      |  SELECT user_id, arm, y, ntile(4) OVER (ORDER BY x, user_id) AS segment
      |  FROM u
      |), g AS (
      |  SELECT segment,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS s0,
      |    SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS s1
      |  FROM seg GROUP BY segment
      |), m AS (
      |  SELECT segment, n0, n1,
      |    CAST(s0 AS DOUBLE) / NULLIF(n0, 0) AS m0,
      |    CAST(s1 AS DOUBLE) / NULLIF(n1, 0) AS m1
      |  FROM g
      |)
      |SELECT segment, n0, n1,
      |  CAST(floor(m0 / 100 * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_control,
      |  CAST(floor(m1 / 100 * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_treat,
      |  CAST(floor((m1 - m0) / 100 * 10000 + 0.5) AS DOUBLE) / 10000 AS uplift,
      |  CAST(floor((m1 - m0) / NULLIF(m0, 0) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS rel_lift
      |FROM m ORDER BY segment""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        Det.cents(col("value")).cast("long").as("cents"))
    val sp = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val u = ev.crossJoin(broadcast(sp))
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(sum(when(col("us") < col("mid"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("us") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
    // quartile assignment via BlockWindow.ntile: the per-user frame grows
    // with the corpus, so Spark's unpartitioned ntile window (ONE task for
    // every user) is the r7 verdict's scale-killer shape — the block-prefix
    // rank keeps it range-partitioned with identical ANSI bucket edges
    val seg = BlockWindow
      .ntile(u, 4, Nil, Seq("x", "user_id"), "segment")
      .select(col("user_id"), col("arm"), col("y"), col("segment"))
    val g = seg.groupBy("segment")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("s1"))
    // an empty arm (or a zero control mean) gives NULL, not an ANSI
    // DIVIDE_BY_ZERO: at sf0.001 segment 4 has no control users
    val m0 = col("s0").cast("double") / nullif(col("n0"), lit(0L))
    val m1 = col("s1").cast("double") / nullif(col("n1"), lit(0L))
    g.select(col("segment"), col("n0"), col("n1"),
        Det.quant(m0 / 100, 4)
          .as("mean_control"),
        Det.quant(m1 / 100, 4)
          .as("mean_treat"),
        Det.quant((m1 - m0) / 100, 4)
          .as("uplift"),
        Det.quant((m1 - m0) / nullif(m0, lit(0.0)), 6)
          .as("rel_lift"))
      .orderBy("segment")
  }

  // Sample-ratio-mismatch (SRM) check — the first gate every experiment
  // readout must pass: do the md5-split arm sizes match the designed
  // 50/50 allocation? The chi-square statistic against the expected
  // split is exact integer arithmetic until one final quantized double
  // ((n0−n1)²/N for two equal arms); the verdict threshold 3.841 (95th
  // pct of χ²₁) is a pinned literal, not a distribution lookup. Runs per
  // event type so a per-stratum imbalance can't hide in the pooled total.
  q("events_srm_check",
    """WITH ev AS (
      |  SELECT event_type,
      |    CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1 END AS arm
      |  FROM events
      |), g AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM ev GROUP BY event_type
      |)
      |SELECT event_type, n0, n1,
      |  CAST(floor(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
      |    / CAST(n0 + n1 AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS chi2,
      |  CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
      |    > CAST(3.841 AS DOUBLE) AS srm_flag
      |FROM g ORDER BY event_type""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        when(substring(md5(col("event_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0).otherwise(1)
          .as("arm"))
    val g = ev.groupBy("event_type")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("n1"))
    val chi = ((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double") /
      (col("n0") + col("n1")).cast("double")
    g.select(col("event_type"), col("n0"), col("n1"),
        Det.quant(chi, 6).as("chi2"),
        (chi > lit(3.841)).as("srm_flag"))
      .orderBy("event_type")
  }

  // Count-min sketch heavy hitters, fully deterministic and therefore
  // fully ORACLE-ABLE (unlike probabilistic-seed sketches): d=4 hash rows
  // × w=64 buckets, bucket = two md5 hex nibbles of (user_id:i). The
  // sketch build is one ×4 expand + hash aggregate (256 cells — the
  // mergeable, fixed-size state a 1000-executor rollup ships instead of
  // per-key counts); estimates are the min over the 4 rows and provably
  // ≥ the exact count. The exact top-5 twin rides the same scan so the
  // report shows estimate vs truth inflation per key.
  q("agg_count_min",
    """WITH ev AS (SELECT user_id FROM events),
      |ii AS (SELECT unnest(generate_series(1, 4)) AS i),
      |hb AS (
      |  SELECT ii.i,
      |    ((instr('0123456789abcdef', substring(
      |        md5(CAST(user_id AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)),
      |        1, 1)) - 1) * 16
      |     + instr('0123456789abcdef', substring(
      |        md5(CAST(user_id AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)),
      |        2, 1)) - 1) % 64 AS bucket
      |  FROM ev CROSS JOIN ii
      |), cms AS (
      |  SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM hb GROUP BY i, bucket
      |), topk AS (
      |  SELECT user_id, exact_n, rk FROM (
      |    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n,
      |      row_number() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
      |    FROM ev GROUP BY user_id
      |  ) WHERE rk <= 5
      |), tb AS (
      |  SELECT t.user_id, t.exact_n, t.rk, ii.i,
      |    ((instr('0123456789abcdef', substring(
      |        md5(CAST(t.user_id AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)),
      |        1, 1)) - 1) * 16
      |     + instr('0123456789abcdef', substring(
      |        md5(CAST(t.user_id AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)),
      |        2, 1)) - 1) % 64 AS bucket
      |  FROM topk t CROSS JOIN ii
      |)
      |SELECT tb.user_id, tb.exact_n AS exact_n, MIN(cms.c) AS cms_est,
      |  CAST(MIN(cms.c) * 10000 // tb.exact_n AS DOUBLE) / 10000 AS inflation
      |FROM tb JOIN cms ON tb.i = cms.i AND tb.bucket = cms.bucket
      |GROUP BY tb.user_id, tb.exact_n, tb.rk
      |ORDER BY tb.rk""") { (s, dir) =>
    import s.implicits._
    // fan the skinny key column before the aggregate (r15): the events
    // fixture arrives as ONE scan split, so everything downstream of the
    // scan would otherwise run in that 1-task stage.
    val ev = graft.engine.Tables.fan(
      Tables(s, dir, "events").select("user_id"))
    val ii = (1 to 4).toDF("i")
    // one md5 per (key, i) instead of two: the oracle's two hex-nibble
    // instr() lookups spell d1*16 + d2 = the first BYTE of the digest,
    // which conv(hex2, 16, 10) yields from a single md5 call. Values are
    // identical (md5 is deterministic), only the Spark expression differs.
    def bucket(idCol: String) =
      expr(s"CAST(conv(substring(" +
        s"md5(CAST($idCol AS STRING) || ':' || CAST(i AS STRING)), 1, 2)," +
        s" 16, 10) AS INT) % 64")
    // r16 (guide §2.3 "aggregate before you shuffle"): the sketch counts
    // per (i, bucket) are sums of PER-USER counts, so aggregate the corpus
    // by user_id ONCE and run the ×4 md5 expand over distinct users (1.5k
    // at sf0.1 vs 100k events) — md5 drops from 8/event to 4/user, and
    // the sketch and exact-top-k branches share one aggregation subtree.
    // Alternating-A/B ratio 0.85 at sf0.1 (DevAb, min-of-4 noop rounds).
    val perUser = ev.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("exact_n"))
    val cms = perUser.crossJoin(broadcast(ii))
      .select(col("i"), bucket("user_id").as("bucket"), col("exact_n"))
      .groupBy("i", "bucket").agg(sum("exact_n").as("c"))
    // top-5 via TakeOrdered (orderBy.limit), rank assigned on the 5-row
    // result (r15): the old unpartitioned row_number window moved every
    // per-user count to one task and fully sorted it; the heap-based
    // TakeOrderedAndProject is parallel and the 5 surviving rows get the
    // identical rk under the identical (exact_n desc, user_id) order.
    val topk = perUser
      .orderBy(col("exact_n").desc, col("user_id"))
      .limit(5)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("exact_n").desc, col("user_id"))))
    val tb = topk.crossJoin(broadcast(ii))
      .select(col("user_id"), col("exact_n"), col("rk"), col("i"),
        bucket("user_id").as("bucket"))
    tb.join(cms, Seq("i", "bucket"))
      .groupBy("user_id", "exact_n", "rk")
      .agg(min("c").as("cms_est"))
      .orderBy("rk")
      .select(col("user_id"), col("exact_n"), col("cms_est"),
        (expr("cms_est * 10000 div exact_n").cast("double") / 10000)
          .as("inflation"))
  }

  // Deterministic Bayesian-bootstrap confidence interval for the mean
  // purchase value: 100 replicates weight every row by a hex nibble
  // (0..15) of its own md5 digests — a discrete Rubin-style resample that
  // is bit-identical across engines, runs, and cluster sizes (no RNG
  // state to coordinate). Four digests per row supply 100 nibbles
  // (25 used per digest); replicate means quantize at 6 dp BEFORE the
  // rank, so the 5th/95th order statistics select identically in both
  // engines. Plan shape: scan → digest projection → ×100 expand →
  // partial aggregate (only B×2 integers shuffle) → 100-row rank.
  q("stats_bootstrap_ci",
    """WITH ev AS (
      |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |), hv AS (
      |  SELECT cents,
      |    md5(CAST(event_id AS VARCHAR) || ':1') AS h1,
      |    md5(CAST(event_id AS VARCHAR) || ':2') AS h2,
      |    md5(CAST(event_id AS VARCHAR) || ':3') AS h3,
      |    md5(CAST(event_id AS VARCHAR) || ':4') AS h4
      |  FROM ev
      |), bb AS (SELECT unnest(generate_series(1, 100)) AS b),
      |pb AS (
      |  SELECT bb.b, cents,
      |    instr('0123456789abcdef', substring(
      |      CASE WHEN bb.b <= 25 THEN h1 WHEN bb.b <= 50 THEN h2
      |           WHEN bb.b <= 75 THEN h3 ELSE h4 END,
      |      ((bb.b - 1) % 25) + 1, 1)) - 1 AS w
      |  FROM hv CROSS JOIN bb
      |), rep AS (
      |  SELECT b, SUM(w * cents) AS sw, SUM(w) AS tw FROM pb GROUP BY b
      |), rm AS (
      |  SELECT b, CAST(floor(CAST(sw AS DOUBLE) / CAST(tw AS DOUBLE) / 100
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS m
      |  FROM rep
      |), r AS (
      |  SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM rm
      |), pt AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(floor(CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100
      |      * 1000000 + 0.5) AS DOUBLE) / 1000000 AS mean
      |  FROM ev
      |)
      |SELECT pt.n, pt.mean,
      |  MIN(CASE WHEN rn = 5 THEN m END) AS ci_lo,
      |  MIN(CASE WHEN rn = 95 THEN m END) AS ci_hi
      |FROM r CROSS JOIN pt GROUP BY pt.n, pt.mean""") { (s, dir) =>
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), Det.cents(col("value")).cast("long").as("cents"))
    def h(r: Int) = md5(concat(col("event_id").cast("string"), lit(s":$r")))
    val hv = ev.select(col("cents"),
      h(1).as("h1"), h(2).as("h2"), h(3).as("h3"), h(4).as("h4"))
    val bb = (1 to 100).toDF("b")
    val pb = hv.crossJoin(bb)
      .select(col("b"), col("cents"),
        (expr("instr('0123456789abcdef', substring(" +
          "CASE WHEN b <= 25 THEN h1 WHEN b <= 50 THEN h2 " +
          "WHEN b <= 75 THEN h3 ELSE h4 END, " +
          "((b - 1) % 25) + 1, 1))") - 1).as("w"))
    val rep = pb.groupBy("b")
      .agg(sum(Det.wide(col("w") * col("cents"))).as("sw"),
        sum(Det.wide(col("w"))).as("tw"))
    val rm = rep.select(col("b"),
      Det.quant(col("sw").cast("double") / col("tw").cast("double") / 100, 6).as("m"))
    val r = rm.select(col("m"),
      row_number().over(Window.orderBy(col("m"), col("b"))).as("rn"))
    val pt = ev.agg(count(lit(1)).cast("long").as("n"),
      Det.quant(sum("cents").cast("double") / count(lit(1)) / 100, 6).as("mean"))
    r.crossJoin(broadcast(pt))
      .groupBy("n", "mean")
      .agg(min(when(col("rn") === 5, col("m"))).as("ci_lo"),
        min(when(col("rn") === 95, col("m"))).as("ci_hi"))
      .select(col("n"), col("mean"), col("ci_lo"), col("ci_hi"))
  }

  // Monte-Carlo permutation (randomization) test of the click-vs-purchase
  // mean difference — the distribution-free p-value when normality can't
  // be assumed and no erf/Φ is available cross-engine. 100 deterministic
  // relabelings come from md5(b:event_id) (first hex nibble < '8' → arm
  // 0), and every |T_b| ≥ |T_obs| comparison is EXACT: mean differences
  // are compared by 128-bit cross-multiplication, no division or float
  // anywhere until the reported statistic. Scale shape: the ×100 expand
  // collapses map-side to 100 partial-moment cells per partition — only
  // B×4 integers ever shuffle, so the plan survives any corpus size.
  q("stats_permutation_test",
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), obs AS (
      |  SELECT SUM(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) AS s0,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n0,
      |    SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS s1,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n1
      |  FROM ev
      |), bb AS (SELECT unnest(generate_series(1, 100)) AS b),
      |hv AS (
      |  SELECT cents, md5(CAST(event_id AS VARCHAR)) AS h FROM ev
      |), pb AS (
      |  SELECT bb.b, cents,
      |    (instr('0123456789abcdef',
      |       substring(h, ((bb.b - 1) // 4) + 1, 1)) - 1)
      |    // (CASE WHEN (bb.b - 1) % 4 = 0 THEN 1
      |             WHEN (bb.b - 1) % 4 = 1 THEN 2
      |             WHEN (bb.b - 1) % 4 = 2 THEN 4 ELSE 8 END) % 2 AS arm
      |  FROM hv CROSS JOIN bb
      |), perm AS (
      |  SELECT b,
      |    SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS s0,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
      |    SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS s1,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
      |  FROM pb GROUP BY b
      |), cmp AS (
      |  SELECT p.b,
      |    CASE WHEN abs(CAST(p.s0 AS HUGEINT) * p.n1
      |                  - CAST(p.s1 AS HUGEINT) * p.n0)
      |           * CAST(o.n0 AS HUGEINT) * o.n1
      |         >= abs(CAST(o.s0 AS HUGEINT) * o.n1
      |                - CAST(o.s1 AS HUGEINT) * o.n0)
      |           * CAST(p.n0 AS HUGEINT) * p.n1
      |    THEN 1 ELSE 0 END AS ge
      |  FROM perm p CROSS JOIN obs o
      |)
      |SELECT CAST(100 AS BIGINT) AS n_perm,
      |  CAST(floor((CAST(o.s0 AS DOUBLE) / 100 / o.n0
      |    - CAST(o.s1 AS DOUBLE) / 100 / o.n1) * 10000 + 0.5) AS DOUBLE)
      |    / 10000 AS t_obs,
      |  CAST(SUM(ge) AS BIGINT) AS n_extreme,
      |  CAST(floor((CAST(SUM(ge) AS DOUBLE) + 1) / 101 * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS p_value
      |FROM cmp CROSS JOIN obs o
      |GROUP BY o.s0, o.n0, o.s1, o.n1""") { (s, dir) =>
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("event_type"),
        Det.cents(col("value")).cast("long").as("cents"))
    val obs = ev.agg(
      sum(when(col("event_type") === "click", col("cents")).otherwise(0L)).as("s0"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n0"),
      sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L)).as("s1"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n1"))
    val bb = (1 to 100).toDF("b")
    // ONE md5 per ROW, not per (b, row): the 128-bit digest carries all
    // 100 permutation bits — permutation b reads bit (b−1) of the hex
    // string (nibble (b−1)//4, bit (b−1)%4). Cuts the dominant hash work
    // 100× on the expand; at corpus scale the per-row cost is one digest
    // plus 100 integer bit-extracts.
    val hv = ev.select(col("cents"),
      md5(col("event_id").cast("string")).as("h"))
    val pb = hv.crossJoin(bb)
      .select(col("b"), col("cents"),
        expr("((instr('0123456789abcdef', substring(h, ((b - 1) div 4) + 1, 1))"
          + " - 1) div (CASE WHEN (b - 1) % 4 = 0 THEN 1"
          + " WHEN (b - 1) % 4 = 1 THEN 2"
          + " WHEN (b - 1) % 4 = 2 THEN 4 ELSE 8 END)) % 2")
          .as("arm"))
    val perm = pb
      .groupBy("b")
      .agg(sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("s1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
    val cmp = perm.as("p").crossJoin(broadcast(obs.as("o")))
      .select(col("p.b"),
        when(abs(Det.wide(col("p.s0")) * col("p.n1")
            - Det.wide(col("p.s1")) * col("p.n0"))
            * Det.wide(col("o.n0")) * col("o.n1")
          >= abs(Det.wide(col("o.s0")) * col("o.n1")
            - Det.wide(col("o.s1")) * col("o.n0"))
            * Det.wide(col("p.n0")) * col("p.n1"), 1L).otherwise(0L).as("ge"),
        col("o.s0"), col("o.n0"), col("o.s1"), col("o.n1"))
    cmp.groupBy("s0", "n0", "s1", "n1")
      .agg(sum("ge").cast("long").as("n_extreme"))
      .select(lit(100L).as("n_perm"),
        Det.quant(col("s0").cast("double") / 100 / col("n0")
          - col("s1").cast("double") / 100 / col("n1"), 4).as("t_obs"),
        col("n_extreme"),
        Det.quant((col("n_extreme").cast("double") + 1) / 101, 6).as("p_value"))
  }

  // Experiment power analysis against the 'view' baseline: the minimum
  // detectable effect at 80% power / 5% two-sided alpha (z_α/2 + z_β
  // pinned to the literal 2.8 both engines evaluate identically), and the
  // per-arm sample size needed to detect a 5% relative lift. Group
  // moments are the same exact 128-bit integer sums as events_ab_welch;
  // every derived double is a single-row identical-tree expression.
  q("events_ab_power",
    """WITH st AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS s1,
      |    SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)
      |        * CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS s2
      |  FROM events GROUP BY event_type
      |), m AS (
      |  SELECT event_type, n,
      |    CAST(s1 AS DOUBLE) / 10000 / n AS mean,
      |    (CAST(s2 AS DOUBLE) / 100000000
      |     - (CAST(s1 AS DOUBLE) / 10000) * (CAST(s1 AS DOUBLE) / 10000) / n)
      |    / (n - 1) AS vr
      |  FROM st
      |), base AS (SELECT n AS nb, mean AS mb, vr AS vb FROM m
      |            WHERE event_type = 'view')
      |SELECT event_type, n,
      |  CAST(floor(CAST(2.8 AS DOUBLE) * sqrt(vr / n + vb / nb) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS mde_abs,
      |  CAST(floor(CAST(2.8 AS DOUBLE) * sqrt(vr / n + vb / nb) / mb
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS mde_rel,
      |  CAST(ceil(CAST(2.8 AS DOUBLE) * CAST(2.8 AS DOUBLE) * (vr + vb)
      |    / ((CAST(0.05 AS DOUBLE) * mb) * (CAST(0.05 AS DOUBLE) * mb)))
      |    AS BIGINT) AS n_per_arm_5pct
      |FROM m, base
      |WHERE event_type <> 'view'
      |ORDER BY event_type""") { (s, dir) =>
    val f = Det.fix(col("value"), 4)
    val st = Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"), sum(Det.wide(f)).as("s1"),
        sum(Det.wide(f * f)).as("s2"))
    val m = st.select(col("event_type"), col("n"),
      (col("s1").cast("double") / 10000 / col("n")).as("mean"),
      ((col("s2").cast("double") / 100000000L
        - (col("s1").cast("double") / 10000) * (col("s1").cast("double") / 10000)
          / col("n")) / (col("n") - 1)).as("vr"))
    val base = m.filter(col("event_type") === "view")
      .select(col("n").as("nb"), col("mean").as("mb"), col("vr").as("vb"))
    val se = sqrt(col("vr") / col("n") + col("vb") / col("nb"))
    m.filter(col("event_type") =!= "view")
      .crossJoin(broadcast(base))
      .select(col("event_type"), col("n"),
        Det.quant(lit(2.8) * se, 4)
          .as("mde_abs"),
        Det.quant(lit(2.8) * se / col("mb"), 6).as("mde_rel"),
        ceil(lit(2.8) * lit(2.8) * (col("vr") + col("vb"))
          / ((lit(0.05) * col("mb")) * (lit(0.05) * col("mb"))))
          .cast("long").as("n_per_arm_5pct"))
      .orderBy("event_type")
  }

  // CUPED variance reduction — the standard pre-experiment covariate
  // adjustment: each user's pre-period spend X predicts their post-period
  // spend Y, and Y_adj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) strips the
  // predictable component from the experiment readout. The pre/post split
  // is the integer midpoint of the observed time span; arms are the
  // deterministic user_id parity. All moments (ΣX, ΣY, ΣXY, ΣX², ΣY²) are
  // exact integers promoted to 128-bit BEFORE the product (P16); θ and the
  // per-arm variances derive from single-row moment frames — no cross-row
  // double sums anywhere.
  q("events_ab_cuped",
    """WITH ev AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), sp AS (
      |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev
      |), u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    SUM(CASE WHEN us < mid THEN cents ELSE 0 END) AS x,
      |    SUM(CASE WHEN us >= mid THEN cents ELSE 0 END) AS y
      |  FROM ev CROSS JOIN sp GROUP BY user_id, user_id % 2
      |), gm AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM u
      |), th AS (
      |  SELECT n, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
      |    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
      |      AS theta
      |  FROM gm
      |), am AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS na,
      |    SUM(x) AS sxa, SUM(y) AS sya,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxya,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxxa,
      |    SUM(CAST(y AS HUGEINT) * y) AS syya
      |  FROM u GROUP BY arm
      |), f AS (
      |  SELECT arm, na, theta,
      |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS ybar,
      |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS xbara, xbar,
      |    (CAST(syya AS DOUBLE)
      |      - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE) / CAST(na AS DOUBLE))
      |      / (CAST(na AS DOUBLE) - 1) AS vy,
      |    (CAST(sxya AS DOUBLE)
      |      - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE) / CAST(na AS DOUBLE))
      |      / (CAST(na AS DOUBLE) - 1) AS cxy,
      |    (CAST(sxxa AS DOUBLE)
      |      - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE))
      |      / (CAST(na AS DOUBLE) - 1) AS vx
      |  FROM am CROSS JOIN th
      |)
      |SELECT arm, na AS n_users,
      |  CAST(floor(ybar / 100 * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_y,
      |  CAST(floor((ybar - theta * (xbara - xbar)) / 100 * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS mean_y_cuped,
      |  CAST(floor(theta * 1000000 + 0.5) AS DOUBLE) / 1000000 AS theta,
      |  CAST(floor((1 - (vy - 2 * theta * cxy + theta * theta * vx) / vy)
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS var_reduction
      |FROM f ORDER BY arm""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        Det.cents(col("value")).cast("long").as("cents"))
    val sp = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val u = ev.crossJoin(broadcast(sp))
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(sum(when(col("us") < col("mid"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("us") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
    val gm = u.agg(count(lit(1)).cast("long").as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(Det.wide(col("x")) * col("y")).as("sxy"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"))
    val th = gm.select(col("n"), (col("sx").cast("double") / col("n").cast("double")).as("xbar"),
      ((Det.wide(col("n")) * col("sxy") - Det.wide(col("sx")) * col("sy")).cast("double")
        / (Det.wide(col("n")) * col("sxx") - Det.wide(col("sx")) * col("sx")).cast("double"))
        .as("theta"))
    val am = u.groupBy("arm")
      .agg(count(lit(1)).cast("long").as("na"),
        sum("x").as("sxa"), sum("y").as("sya"),
        sum(Det.wide(col("x")) * col("y")).as("sxya"),
        sum(Det.wide(col("x")) * col("x")).as("sxxa"),
        sum(Det.wide(col("y")) * col("y")).as("syya"))
    val f = am.crossJoin(broadcast(th))
      .select(col("arm"), col("na"), col("theta"),
        (col("sya").cast("double") / col("na").cast("double")).as("ybar"),
        (col("sxa").cast("double") / col("na").cast("double")).as("xbara"), col("xbar"),
        ((col("syya").cast("double") - col("sya").cast("double") * col("sya").cast("double") /
          col("na").cast("double"))
          / (col("na").cast("double") - 1)).as("vy"),
        ((col("sxya").cast("double") - col("sxa").cast("double") * col("sya").cast("double") /
          col("na").cast("double"))
          / (col("na").cast("double") - 1)).as("cxy"),
        ((col("sxxa").cast("double") - col("sxa").cast("double") * col("sxa").cast("double") /
          col("na").cast("double"))
          / (col("na").cast("double") - 1)).as("vx"))
    f.select(col("arm"), col("na").as("n_users"),
      Det.quant(col("ybar") / 100, 4)
        .as("mean_y"),
      Det.quant((col("ybar") - col("theta") * (col("xbara") - col("xbar")))
        / 100, 4).as("mean_y_cuped"),
      Det.quant(col("theta"), 6)
        .as("theta"),
      Det.quant(lit(1) - (col("vy") - lit(2) * col("theta") * col("cxy")
        + col("theta") * col("theta") * col("vx")) / col("vy"), 6).as("var_reduction"))
      .orderBy("arm")
  }

  // Weekly growth accounting — the new / retained / resurrected / churned
  // decomposition of the active-user count (the "growth accounting
  // identity" every consumer-metrics stack reports). Activity collapses
  // to distinct (user, week) rows in one shuffle; classification is pure
  // integer window arithmetic per user (first week, gap to previous
  // active week), and churn is the identity active(w-1) − retained(w)
  // computed with one lag over the weekly rollup. Invariant (pinned in
  // Round7Spec): new + retained + resurrected = active, every week.
  q("events_growth_accounting",
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 // 7 AS wk
      |  FROM events
      |), u AS (
      |  SELECT user_id, wk,
      |    MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
      |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      |  FROM e
      |), c AS (
      |  SELECT wk,
      |    CAST(COUNT(*) AS BIGINT) AS n_active,
      |    CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(SUM(CASE WHEN wk > first_wk AND prev_wk < wk - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM u GROUP BY wk
      |)
      |SELECT wk, n_active, n_new, n_retained, n_resurrected,
      |  COALESCE(lag(n_active) OVER (ORDER BY wk), 0) - n_retained
      |    AS n_churned
      |FROM c ORDER BY wk""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 86400 div 7").as("wk"))
      .distinct()
    val wu = Window.partitionBy("user_id")
    val u = e
      .withColumn("first_wk", min("wk").over(wu))
      .withColumn("prev_wk", lag("wk", 1).over(wu.orderBy("wk")))
    val c = u.groupBy("wk")
      .agg(count(lit(1)).cast("long").as("n_active"),
        sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L))
          .cast("long").as("n_new"),
        sum(when(col("prev_wk") === col("wk") - 1, 1L).otherwise(0L))
          .cast("long").as("n_retained"),
        sum(when(col("wk") > col("first_wk") && col("prev_wk") < col("wk") - 1,
          1L).otherwise(0L)).cast("long").as("n_resurrected"))
    c.withColumn("n_churned",
        coalesce(lag("n_active", 1).over(Window.orderBy("wk")), lit(0L))
          - col("n_retained"))
      .orderBy("wk")
  }

  // Engagement depth curve: for each threshold k = 1..28, the share of
  // users with at least k distinct active days — the L28-style power-user
  // curve. One distinct-day rollup per user, then the tiny per-user frame
  // meets the 28-row threshold grid; at any scale the crossed frame is
  // |users|·28, linear in users.
  q("events_engagement_curve",
    """WITH ad AS (
      |  SELECT user_id,
      |    CAST(COUNT(DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400)
      |      AS BIGINT) AS days
      |  FROM events GROUP BY user_id
      |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM ad
      |), ks AS (SELECT CAST(unnest(generate_series(1, 28)) AS BIGINT) AS k)
      |SELECT k,
      |  CAST(SUM(CASE WHEN days >= k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS users_ge,
      |  CAST(floor(CAST(SUM(CASE WHEN days >= k THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(n_users) AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS pct
      |FROM ad CROSS JOIN ks CROSS JOIN n
      |GROUP BY k ORDER BY k""") { (s, dir) =>
    val ad = Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(countDistinct(expr("unix_timestamp(ts) div 86400")).cast("long")
        .as("days"))
    val n = ad.agg(count(lit(1)).cast("long").as("n_users"))
    val ks = Tables(s, dir, "events").sparkSession.range(1, 29)
      .select(col("id").as("k"))
    ad.crossJoin(broadcast(ks)).crossJoin(broadcast(n))
      .groupBy("k")
      .agg(sum(when(col("days") >= col("k"), 1L).otherwise(0L)).cast("long")
          .as("users_ge"),
        Det.quant(sum(when(col("days") >= col("k"), 1L).otherwise(0L))
          .cast("double") / max("n_users").cast("double"), 6).as("pct"))
      .orderBy("k")
  }

  // Bayesian conversion readout per experiment arm: user-level purchase
  // conversion under a uniform Beta(1,1) prior — posterior mean
  // (1+s)/(2+n) and a ±2σ normal-approximation interval from the exact
  // Beta variance. Everything is rational arithmetic over exact integer
  // (s, n) plus one sqrt — conjugacy is what makes a BAYESIAN readout
  // oracle-exact. Arms are the deterministic user-id parity; one shuffle
  // to user grain, one to the two-arm rollup.
  q("events_ab_conversion_bayes",
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id, user_id % 2
      |), m AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(conv) AS BIGINT) AS s
      |  FROM u GROUP BY arm
      |)
      |SELECT arm, n, s,
      |  CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS rate,
      |  CAST(floor(CAST(1 + s AS DOUBLE) / CAST(2 + n AS DOUBLE) * 1000000
      |    + 0.5) AS DOUBLE) / 1000000 AS post_mean,
      |  CAST(floor((CAST(1 + s AS DOUBLE) / CAST(2 + n AS DOUBLE)
      |    - 2 * sqrt(CAST(1 + s AS DOUBLE) * CAST(1 + n - s AS DOUBLE)
      |      / (CAST(2 + n AS DOUBLE) * CAST(2 + n AS DOUBLE)
      |         * CAST(3 + n AS DOUBLE)))) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS ci_lo,
      |  CAST(floor((CAST(1 + s AS DOUBLE) / CAST(2 + n AS DOUBLE)
      |    + 2 * sqrt(CAST(1 + s AS DOUBLE) * CAST(1 + n - s AS DOUBLE)
      |      / (CAST(2 + n AS DOUBLE) * CAST(2 + n AS DOUBLE)
      |         * CAST(3 + n AS DOUBLE)))) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS ci_hi
      |FROM m ORDER BY arm""") { (s, dir) =>
    val u = Tables(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
    val m = u.groupBy("arm")
      .agg(count(lit(1)).cast("long").as("n"), sum("conv").cast("long").as("s"))
    val pm = (col("s") + 1).cast("double") / (col("n") + 2).cast("double")
    val sd = lit(2) * sqrt((col("s") + 1).cast("double")
      * (col("n") - col("s") + 1).cast("double")
      / ((col("n") + 2).cast("double") * (col("n") + 2).cast("double")
        * (col("n") + 3).cast("double")))
    m.select(col("arm"), col("n"), col("s"),
        Det.quant(col("s").cast("double") / col("n").cast("double"), 6).as("rate"),
        Det.quant(pm, 6).as("post_mean"),
        Det.quant(pm - sd, 6).as("ci_lo"),
        Det.quant(pm + sd, 6).as("ci_hi"))
      .orderBy("arm")
  }

  // Hour-of-day load profile per event type: peak hour, its traffic
  // share, and the Herfindahl concentration index Σ share² — "is this
  // event type bursty or flat across the day". Shares are rational over
  // exact counts; HHI promotes the squared counts to 128-bit before the
  // sum (P16) and divides once by n². Hour from integer epoch math, so
  // the profile is timezone-fixed (UTC) and engine-identical.
  q("events_hourly_concentration",
    """WITH h AS (
      |  SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600
      |    AS hour, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |), t AS (
      |  SELECT event_type, SUM(c) AS n, SUM(CAST(c AS HUGEINT) * c) AS ssq
      |  FROM h GROUP BY event_type
      |), pk AS (
      |  SELECT event_type, hour AS peak_hour, c AS peak_c FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type
      |      ORDER BY c DESC, hour) AS rn FROM h) WHERE rn = 1
      |)
      |SELECT t.event_type, CAST(pk.peak_hour AS BIGINT) AS peak_hour,
      |  CAST(floor(CAST(pk.peak_c AS DOUBLE) / CAST(t.n AS DOUBLE) * 1000000
      |    + 0.5) AS DOUBLE) / 1000000 AS peak_share,
      |  CAST(floor(CAST(t.ssq AS DOUBLE)
      |    / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS hhi
      |FROM t JOIN pk USING (event_type)
      |ORDER BY event_type""") { (s, dir) =>
    val h = Tables(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(unix_timestamp(ts) % 86400) div 3600").as("hour"))
      .agg(count(lit(1)).cast("long").as("c"))
    val t = h.groupBy("event_type")
      .agg(sum("c").as("n"), sum(Det.wide(col("c")) * col("c")).as("ssq"))
    val pk = h.withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("c").desc, col("hour"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("hour").as("peak_hour"), col("c").as("peak_c"))
    t.join(pk, "event_type")
      .select(col("event_type"), col("peak_hour").cast("long").as("peak_hour"),
        Det.quant(col("peak_c").cast("double") / col("n").cast("double"), 6).as("peak_share"),
        Det.quant(col("ssq").cast("double")
          / (col("n").cast("double") * col("n").cast("double")), 6).as("hhi"))
      .orderBy("event_type")
  }

  // Benjamini-Hochberg FDR step-up over the (event_type × weekday) grid:
  // each cell tests "does this cell's mean value differ from the global
  // mean" via a z-score, and the BH procedure controls the false-discovery
  // rate across all ~35 simultaneous tests — the multiple-comparisons
  // guard every per-segment experiment readout needs. P-values are the
  // distribution-free Chebyshev bound p = min(1, 1/z²) (documented,
  // pluggable: rational in the z-score, so no normal CDF — which neither
  // engine ships — enters the graded tree). Scale shape: one hash
  // aggregate to the cell grid (|types|·7 rows), then window ranks over
  // that tiny frame; the corpus is touched exactly once. The step-up
  // "largest i with p_i ≤ i·α/m, reject all ranks ≤ that i" is a MAX
  // window over the same frame — no driver-side loop.
  q("stats_fdr_bh",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), cell AS (
      |  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s
      |  FROM e GROUP BY event_type, dow
      |), g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(v) AS BIGINT) AS sg,
      |    CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS sq
      |  FROM e
      |), z AS (
      |  SELECT event_type, dow, n,
      |    (CAST(s AS DOUBLE) / n - CAST(sg AS DOUBLE) / ng)
      |      / sqrt((sq - CAST(sg AS DOUBLE) * sg / ng) / (ng - 1) / n) AS zv
      |  FROM cell, g
      |), p AS (
      |  SELECT *, CASE WHEN zv * zv >= 1 THEN 1 / (zv * zv) ELSE 1.0 END AS pv
      |  FROM z
      |), r AS (
      |  SELECT *, row_number() OVER (ORDER BY pv, event_type, dow) AS i,
      |    COUNT(*) OVER () AS m FROM p
      |), k AS (
      |  SELECT *, MAX(CASE WHEN pv <= CAST(i AS DOUBLE) * 0.1 / m
      |    THEN i ELSE 0 END) OVER () AS imax FROM r
      |)
      |SELECT event_type, CAST(dow AS BIGINT) AS dow, n,
      |  floor(zv * 10000 + 0.5) / 10000 AS z,
      |  floor(pv * 1000000 + 0.5) / 1000000 AS p,
      |  CAST(i AS BIGINT) AS p_rank,
      |  CAST(CASE WHEN i <= imax THEN 1 ELSE 0 END AS BIGINT) AS bh_reject,
      |  CAST(CASE WHEN pv <= 0.1 / m THEN 1 ELSE 0 END AS BIGINT)
      |    AS bonf_reject
      |FROM k ORDER BY event_type, dow""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_type"),
        (((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("dow"),
        Det.cents(col("value")).cast("long").as("v"))
    val cell = e.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val g = e.agg(count(lit(1)).as("ng"), sum("v").as("sg"),
      sum(Det.wide(col("v") * col("v"))).cast("double").as("sq"))
    val z = cell.crossJoin(broadcast(g))
      .withColumn("zv", (col("s").cast("double") / col("n") - col("sg").cast("double") / col("ng"))
        / sqrt((col("sq") - col("sg").cast("double") * col("sg") / col("ng"))
          / (col("ng") - 1) / col("n")))
    val p = z.withColumn("pv",
      when(col("zv") * col("zv") >= 1, lit(1.0) / (col("zv") * col("zv")))
        .otherwise(lit(1.0)))
    val r = p
      .withColumn("i", row_number().over(
        Window.orderBy(col("pv"), col("event_type"), col("dow"))))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy()))
    val k = r.withColumn("imax",
      max(when(col("pv") <= col("i").cast("double") * 0.1 / col("m"), col("i"))
        .otherwise(lit(0))).over(Window.partitionBy()))
    k.select(col("event_type"), col("dow").cast("long").as("dow"), col("n"),
        Det.quant(col("zv"), 4).as("z"), Det.quant(col("pv"), 6).as("p"),
        col("i").cast("long").as("p_rank"),
        when(col("i") <= col("imax"), 1L).otherwise(0L).as("bh_reject"),
        when(col("pv") <= lit(0.1) / col("m"), 1L).otherwise(0L)
          .as("bonf_reject"))
      .orderBy("event_type", "dow")
  }

  // Mutual information between event type and weekday — "does WHAT users
  // do depend on WHEN": MI, the two marginal entropies, and normalized
  // MI = MI/√(H_x·H_y). Every logarithm is integer-argument (cell and
  // marginal COUNTS, per Det.lnFix's P12 contract), every sum is an exact
  // 128-bit integer sum of count×lnFix products, and the final assembly
  // is a handful of IEEE doubles built by the identical tree in both
  // engines (√ is exactly rounded by IEEE-754, so NMI is safe). Scale
  // shape: ONE corpus aggregate to the |X|·|Y| cell grid; marginals
  // re-aggregate the grid, never the corpus.
  q("stats_mutual_information",
    """WITH e AS (
      |  SELECT event_type AS x,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS y
      |  FROM events
      |), cxy AS (
      |  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY x, y
      |), cx AS (SELECT x, SUM(c) AS c FROM cxy GROUP BY x),
      |cy AS (SELECT y, SUM(c) AS c FROM cxy GROUP BY y),
      |n AS (SELECT SUM(c) AS n FROM cxy),
      |ln AS (SELECT n, CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
      |  AS BIGINT) AS l_n FROM n),
      |minum AS (
      |  SELECT SUM(CAST(cxy.c AS HUGEINT) *
      |    (CAST(floor(ln(CAST(cxy.c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |     + l_n
      |     - CAST(floor(ln(CAST(cx.c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |     - CAST(floor(ln(CAST(cy.c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)))
      |    AS w
      |  FROM cxy JOIN cx USING (x) JOIN cy USING (y), ln
      |), hx AS (
      |  SELECT SUM(CAST(c AS HUGEINT)
      |    * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS w
      |  FROM cx
      |), hy AS (
      |  SELECT SUM(CAST(c AS HUGEINT)
      |    * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS w
      |  FROM cy
      |), fin AS (
      |  SELECT CAST(ln.n AS BIGINT) AS n,
      |    CAST(minum.w AS DOUBLE) / 1000000 / ln.n AS mi,
      |    CAST(ln.l_n AS DOUBLE) / 1000000
      |      - CAST(hx.w AS DOUBLE) / 1000000 / ln.n AS h_x,
      |    CAST(ln.l_n AS DOUBLE) / 1000000
      |      - CAST(hy.w AS DOUBLE) / 1000000 / ln.n AS h_y
      |  FROM ln, minum, hx, hy
      |)
      |SELECT n, floor(mi * 1000000 + 0.5) / 1000000 AS mi,
      |  floor(h_x * 1000000 + 0.5) / 1000000 AS h_x,
      |  floor(h_y * 1000000 + 0.5) / 1000000 AS h_y,
      |  floor(mi / sqrt(h_x * h_y) * 1000000 + 0.5) / 1000000 AS nmi
      |FROM fin""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_type").as("x"),
        (((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("y"))
    val cxy = e.groupBy("x", "y").agg(count(lit(1)).as("c"))
    val cx = cxy.groupBy("x").agg(sum("c").as("cx"))
    val cy = cxy.groupBy("y").agg(sum("c").as("cy"))
    val n = cxy.agg(sum("c").as("n"))
      .withColumn("l_n", Det.lnFix(col("n"), 6).cast("long"))
    val minum = cxy.join(broadcast(cx), "x").join(broadcast(cy), "y")
      .crossJoin(broadcast(n))
      .agg(sum(Det.wide(col("c")) * (Det.lnFix(col("c"), 6).cast("long")
        + col("l_n") - Det.lnFix(col("cx"), 6).cast("long")
        - Det.lnFix(col("cy"), 6).cast("long"))).as("w"))
    val hx = cx.agg(sum(Det.wide(col("cx")) * Det.lnFix(col("cx"), 6).cast("long"))
      .as("w"))
    val hy = cy.agg(sum(Det.wide(col("cy")) * Det.lnFix(col("cy"), 6).cast("long"))
      .as("w"))
    val fin = n.crossJoin(broadcast(minum))
      .crossJoin(broadcast(hx.select(col("w").as("wx"))))
      .crossJoin(broadcast(hy.select(col("w").as("wy"))))
      .select(col("n").cast("long").as("n"),
        (col("w").cast("double") / 1000000 / col("n")).as("mi"),
        (col("l_n").cast("double") / 1000000
          - col("wx").cast("double") / 1000000 / col("n")).as("h_x"),
        (col("l_n").cast("double") / 1000000
          - col("wy").cast("double") / 1000000 / col("n")).as("h_y"))
    fin.select(col("n"), Det.quant(col("mi"), 6).as("mi"),
      Det.quant(col("h_x"), 6).as("h_x"), Det.quant(col("h_y"), 6).as("h_y"),
      Det.quant(col("mi") / sqrt(col("h_x") * col("h_y")), 6).as("nmi"))
  }

  // Theil T inequality index of spend per event type — the decomposable
  // inequality measure next to agg_gini: T = (1/S)·Σ x·ln x − ln(S/n)
  // over integer cent values x > 0. Both log families are
  // integer-argument (per-row cents, and the two corpus totals S and n),
  // the x·lnFix(x) products accumulate in 128-bit exactly, and the final
  // expression is four IEEE doubles. Scale: one hash aggregate per event
  // type; the distinct-cents domain bounds the lnFix argument set.
  q("agg_theil_index",
    """WITH e AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      |  FROM events WHERE value > 0
      |), a AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    SUM(CAST(x AS HUGEINT)
      |      * CAST(floor(ln(CAST(x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
      |      AS w
      |  FROM e GROUP BY event_type
      |)
      |SELECT event_type, n,
      |  CAST(s AS DOUBLE) / 100 AS total_value,
      |  floor((CAST(w AS DOUBLE) / 1000000 / s
      |    - (CAST(floor(ln(CAST(s AS DOUBLE)) * 1000000 + 0.5) AS DOUBLE)
      |       - CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS DOUBLE))
      |      / 1000000) * 1000000 + 0.5) / 1000000 AS theil_t
      |FROM a ORDER BY event_type""") { (s, dir) =>
    val e = Tables(s, dir, "events").filter(col("value") > 0)
      .select(col("event_type"), Det.cents(col("value")).cast("long").as("x"))
    val a = e.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("x").as("s"),
      sum(Det.wide(col("x")) * Det.lnFix(col("x"), 6).cast("long"))
        .as("w"))
    a.select(col("event_type"), col("n"),
        (col("s").cast("double") / 100).as("total_value"),
        Det.quant(col("w").cast("double") / 1000000 / col("s")
          - (Det.lnFix(col("s"), 6).cast("double")
            - Det.lnFix(col("n"), 6).cast("double")) / 1000000, 6).as("theil_t"))
      .orderBy("event_type")
  }

  // Poisson overdispersion check on daily arrival counts per event type:
  // dispersion index D = var/mean of the per-day counts and the
  // chi-square statistic (k−1)·D — "is this arrival process Poisson or
  // bursty", the standard sanity gate before rate-based alerting (a
  // Poisson process has D ≈ 1; D ≫ 1 means clumped arrivals). Daily
  // counts are exact integers from one corpus aggregate; moments are
  // exact integer sums over the tiny per-day frame.
  q("events_overdispersion",
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |), a AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(c) AS BIGINT) AS s,
      |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS sq
      |  FROM d GROUP BY event_type
      |)
      |SELECT event_type, k, s,
      |  floor(CAST(s AS DOUBLE) / k * 10000 + 0.5) / 10000 AS mean_daily,
      |  floor((sq - CAST(s AS DOUBLE) * s / k) / (k - 1)
      |    / (CAST(s AS DOUBLE) / k) * 10000 + 0.5) / 10000 AS dispersion,
      |  floor((sq - CAST(s AS DOUBLE) * s / k)
      |    / (CAST(s AS DOUBLE) / k) * 10000 + 0.5) / 10000 AS chi2
      |FROM a ORDER BY event_type""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("c"))
    val a = d.groupBy("event_type").agg(
      count(lit(1)).as("k"), sum("c").as("s"),
      sum(Det.wide(col("c")) * col("c")).cast("double").as("sq"))
    def dd(c: String) = col(c).cast("double")
    a.select(col("event_type"), col("k"), col("s"),
        Det.quant(dd("s") / col("k"), 4).as("mean_daily"),
        Det.quant((col("sq") - dd("s") * col("s") / col("k")) / (col("k") - 1)
          / (dd("s") / col("k")), 4).as("dispersion"),
        Det.quant((col("sq") - dd("s") * col("s") / col("k"))
          / (dd("s") / col("k")), 4).as("chi2"))
      .orderBy("event_type")
  }

  // Paired t-test of per-user mean spend, first half of the window vs
  // second half (split at Jan 16) — the within-subject experiment readout
  // that cancels user-level variance, complementing the independent-arm
  // events_ab_welch. Per-user half means are rationals of exact integer
  // sums; the per-user DIFFERENCE is quantized to 6-dp fixed point
  // BEFORE the cross-user aggregation (P2: never sum raw doubles), so
  // Σd and Σd² are exact integers and t = mean/√(var/n) is a pure IEEE
  // tail. Scale: one user-grain aggregate (conditional sums, no join),
  // then a scalar reduce.
  q("stats_ttest_paired",
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS s1,
      |    COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |      THEN 1 END) AS k1,
      |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS s2,
      |    COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
      |      THEN 1 END) AS k2
      |  FROM events GROUP BY user_id
      |), d AS (
      |  SELECT CAST(floor((CAST(s1 AS DOUBLE) / 100 / k1
      |    - CAST(s2 AS DOUBLE) / 100 / k2) * 1000000 + 0.5) AS BIGINT) AS di
      |  FROM u WHERE k1 > 0 AND k2 > 0
      |), a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(di) AS BIGINT) AS sd,
      |    CAST(SUM(CAST(di AS HUGEINT) * di) AS DOUBLE) AS sq
      |  FROM d
      |)
      |SELECT n,
      |  floor(CAST(sd AS DOUBLE) / 1000000 / n * 10000 + 0.5) / 10000
      |    AS mean_diff,
      |  floor(CAST(sd AS DOUBLE) / 1000000 / n
      |    / sqrt(((sq - CAST(sd AS DOUBLE) * sd / n) / (n - 1))
      |      / 1000000 / 1000000 / n) * 10000 + 0.5) / 10000 AS t,
      |  n - 1 AS df
      |FROM a""") { (s, dir) =>
    val half = col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")
    val u = Tables(s, dir, "events").groupBy("user_id").agg(
      sum(when(half, Det.cents(col("value")).cast("long"))).as("s1"),
      count(when(half, lit(1))).as("k1"),
      sum(when(!half, Det.cents(col("value")).cast("long"))).as("s2"),
      count(when(!half, lit(1))).as("k2"))
    val d = u.filter(col("k1") > 0 && col("k2") > 0)
      .select(Det.fix(col("s1").cast("double") / 100 / col("k1")
        - col("s2").cast("double") / 100 / col("k2"), 6)
        .cast("long").as("di"))
    val a = d.agg(count(lit(1)).as("n"), sum("di").as("sd"),
      sum(Det.wide(col("di")) * col("di")).cast("double").as("sq"))
    def dd(c: String) = col(c).cast("double")
    a.select(col("n"),
      Det.quant(dd("sd") / 1000000 / col("n"), 4).as("mean_diff"),
      Det.quant(dd("sd") / 1000000 / col("n")
        / sqrt(((col("sq") - dd("sd") * col("sd") / col("n")) / (col("n") - 1))
          / 1000000 / 1000000 / col("n")), 4).as("t"),
      (col("n") - 1).as("df"))
  }

  // Quantile normalization of spend across event types — map every
  // distinct per-type value to the GLOBAL value at the same quantile
  // (the cross-source distribution equalizer; ties take the standard
  // mid-rank). Scale design: NO per-row ranking anywhere. Both sides
  // reduce to domain-bounded cent-value HISTOGRAMS (the Mann-Whitney
  // trick), and the "global value at quantile q" lookup is a single
  // merge-scan: per-type quantile requests and global cumulative-count
  // boundaries union into one frame ordered by key DESC, and a
  // last_value IGNORE NULLS carry assigns each request the smallest
  // boundary with cum ≥ q·n — one window over the distinct-value frame
  // instead of a quadratic range join. Tags break (key) ties so a
  // boundary always precedes coincident requests in the scan; the carry
  // is total because the cum = n boundary is the scan's first row.
  // Doubles: q = (2·cp + c + 1)/(2·n_g) and key = q·n are identical
  // IEEE trees; the carry compares sort keys only.
  q("stats_quantile_normalize",
    """WITH e AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), gh AS (
      |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2
      |), gt AS (
      |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS ng FROM gh GROUP BY 1
      |), gc AS (
      |  SELECT event_type, v, c,
      |    CAST(COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cp
      |  FROM gh
      |), hc AS (
      |  SELECT vg, CAST(SUM(cg) OVER (ORDER BY vg
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM (SELECT v AS vg, CAST(COUNT(*) AS BIGINT) AS cg
      |        FROM e GROUP BY v)
      |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
      |req AS (
      |  SELECT g.event_type, g.v, g.c,
      |    (2 * CAST(g.cp AS DOUBLE) + g.c + 1) / (2 * t.ng) AS q
      |  FROM gc g JOIN gt t USING (event_type)
      |), uni AS (
      |  SELECT q * n AS key, 0 AS tag, event_type, v, c, q,
      |    CAST(NULL AS BIGINT) AS vg
      |  FROM req, nn
      |  UNION ALL
      |  SELECT CAST(cum AS DOUBLE), 1, NULL, NULL, NULL, NULL, vg FROM hc
      |), carry AS (
      |  SELECT *, last_value(vg IGNORE NULLS) OVER (
      |    ORDER BY key DESC, tag DESC, COALESCE(event_type, ''),
      |             COALESCE(v, -1)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tgt
      |  FROM uni
      |)
      |SELECT event_type, CAST(v AS DOUBLE) / 100 AS value, c AS n_rows,
      |  floor(q * 1000000 + 0.5) / 1000000 AS quantile,
      |  CAST(tgt AS DOUBLE) / 100 AS qn_value
      |FROM carry WHERE tag = 0
      |ORDER BY event_type, value""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_type"), Det.cents(col("value")).cast("long").as("v"))
    val gh = e.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    val gt = gh.groupBy("event_type").agg(sum("c").as("ng"))
    val wp = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val gc = gh.withColumn("cp",
      coalesce(sum("c").over(wp), lit(0L)).cast("long"))
    val wg = Window.orderBy("vg")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hc = e.groupBy(col("v").as("vg")).agg(count(lit(1)).as("cg"))
      .withColumn("cum", sum("cg").over(wg).cast("long"))
    val nn = e.agg(count(lit(1)).as("n"))
    val req = gc.join(broadcast(gt), "event_type")
      .select(col("event_type"), col("v"), col("c"),
        ((lit(2) * col("cp").cast("double") + col("c") + 1)
          / (lit(2) * col("ng"))).as("q"))
    val uni = req.crossJoin(broadcast(nn))
      .select((col("q") * col("n")).as("key"), lit(0).as("tag"),
        col("event_type"), col("v"), col("c"), col("q"),
        lit(null).cast("long").as("vg"))
      .unionAll(hc.select(col("cum").cast("double").as("key"), lit(1).as("tag"),
        lit(null).cast("string").as("event_type"),
        lit(null).cast("long").as("v"), lit(null).cast("long").as("c"),
        lit(null).cast("double").as("q"), col("vg")))
    val wc = Window.orderBy(col("key").desc, col("tag").desc,
        coalesce(col("event_type"), lit("")), coalesce(col("v"), lit(-1L)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uni.withColumn("tgt", last(col("vg"), ignoreNulls = true).over(wc))
      .filter(col("tag") === 0)
      .select(col("event_type"), (col("v").cast("double") / 100).as("value"),
        col("c").as("n_rows"),
        Det.quant(col("q"), 6).as("quantile"),
        (col("tgt").cast("double") / 100).as("qn_value"))
      .orderBy("event_type", "value")
  }

  // Jarque-Bera normality test per event type: JB = n/6·(S² + K²/4) from
  // the SAME exact integer power sums as agg_skew_kurtosis (s1..s4 as
  // DECIMAL(38,0)/HUGEINT — cents⁴ per row exceeds int64). One hash
  // aggregate; the moment → S/K → JB assembly is a single closed-form
  // double tree per group, identical in both engines, then one P12
  // quantization. reject_5pct compares the PRE-rounding JB against the
  // χ²₂ 95% critical value 5.991 — a boundary tie needs JB within one ulp
  // of 5.991..., unobservable. Scale: map-side partials reduce to one row
  // per (type × partition); output is k rows.
  q("stats_jarque_bera",
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s1,
      |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)
      |      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s2,
      |    SUM(CAST(floor(value * 100 + 0.5) AS HUGEINT)
      |      * CAST(floor(value * 100 + 0.5) AS BIGINT)
      |      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s3,
      |    SUM(CAST(floor(value * 100 + 0.5) AS HUGEINT)
      |      * CAST(floor(value * 100 + 0.5) AS BIGINT)
      |      * CAST(floor(value * 100 + 0.5) AS BIGINT)
      |      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s4
      |  FROM events GROUP BY event_type
      |), m AS (
      |  SELECT event_type, n, CAST(s1 AS DOUBLE) / n AS a1,
      |    CAST(s2 AS DOUBLE) / n AS a2, CAST(s3 AS DOUBLE) / n AS a3,
      |    CAST(s4 AS DOUBLE) / n AS a4
      |  FROM st
      |), c AS (
      |  SELECT event_type, n,
      |    a2 - a1 * a1 AS m2,
      |    a3 - 3 * a1 * a2 + 2 * a1 * a1 * a1 AS m3,
      |    a4 - 4 * a1 * a3 + 6 * a1 * a1 * a2 - 3 * a1 * a1 * a1 * a1 AS m4
      |  FROM m
      |), j AS (
      |  SELECT event_type, n,
      |    CAST(n AS DOUBLE) / 6
      |      * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
      |         + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4) AS jb
      |  FROM c
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  floor(jb * 10000 + 0.5) / 10000 AS jb,
      |  CAST(jb > 5.991464547107979 AS INT) AS reject_5pct
      |FROM j ORDER BY event_type""") { (s, dir) =>
    val v = Det.cents(col("value"))
    val st = Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(Det.wide(v)).as("s1"),
        sum(Det.wide(v * v)).as("s2"),
        sum(Det.wide(v) * v * v).as("s3"),
        sum(Det.wide(v) * v * v * v).as("s4"))
    val m = st.select(col("event_type"), col("n"),
      (col("s1").cast("double") / col("n")).as("a1"),
      (col("s2").cast("double") / col("n")).as("a2"),
      (col("s3").cast("double") / col("n")).as("a3"),
      (col("s4").cast("double") / col("n")).as("a4"))
    val c = m.select(col("event_type"), col("n"),
      (col("a2") - col("a1") * col("a1")).as("m2"),
      (col("a3") - lit(3) * col("a1") * col("a2")
        + lit(2) * col("a1") * col("a1") * col("a1")).as("m3"),
      (col("a4") - lit(4) * col("a1") * col("a3")
        + lit(6) * col("a1") * col("a1") * col("a2")
        - lit(3) * col("a1") * col("a1") * col("a1") * col("a1")).as("m4"))
    val skew = col("m3") / (col("m2") * sqrt(col("m2")))
    val kurt = col("m4") / (col("m2") * col("m2")) - lit(3)
    val j = c.select(col("event_type"), col("n"),
      (col("n").cast("double") / 6
        * (skew * skew + kurt * kurt / 4)).as("jb"))
    j.select(col("event_type"), col("n").cast("long").as("n"),
        Det.quant(col("jb"), 4).as("jb"),
        (col("jb") > lit(5.991464547107979)).cast("int").as("reject_5pct"))
      .orderBy("event_type")
  }

  // Chi-square goodness-of-fit of the event-type mix against a uniform
  // null. Closed all-integer form: χ² = Σ(oᵢ−n/k)²/(n/k) = (k·Σoᵢ²−n²)/n,
  // so the whole statistic is two exact integer aggregates (Σoᵢ promoted
  // products to HUGEINT/DECIMAL — oᵢ² wraps int64 once a type passes ~3e9
  // rows) and ONE double division at the end. One k-row hash aggregate;
  // nothing rank- or order-dependent.
  q("stats_chisq_gof",
    """WITH cell AS (
      |  SELECT event_type, COUNT(*) AS o FROM events GROUP BY event_type
      |), t AS (
      |  SELECT COUNT(*) AS k, CAST(SUM(o) AS BIGINT) AS n,
      |    SUM(CAST(o AS HUGEINT) * o) AS s2
      |  FROM cell
      |)
      |SELECT CAST(k AS BIGINT) AS k, n, CAST(k - 1 AS BIGINT) AS dof,
      |  floor((CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE)
      |         - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / n * 10000 + 0.5)
      |    / 10000 AS chi2
      |FROM t""") { (s, dir) =>
    val cell = Tables(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("o"))
    cell.groupBy()
      .agg(count(lit(1)).as("k"), sum(col("o")).cast("long").as("n"),
        sum(Det.wide(col("o")) * col("o")).as("s2"))
      .select(col("k").cast("long").as("k"), col("n"),
        (col("k") - 1).cast("long").as("dof"),
        Det.quant((col("k").cast("double") * col("s2").cast("double")
          - col("n").cast("double") * col("n").cast("double")) / col("n"), 4).as("chi2"))
  }

  // Wilcoxon signed-rank test on per-user paired counts (clicks vs
  // purchases). Scale design mirrors events_ab_mannwhitney: the statistic
  // never ranks users — it only needs the histogram of |d| with
  // positive/negative splits. Average rank of the cell at |d| is
  // cum(<|d|) + (c+1)/2, so 2·W⁺ = Σ pos·(2·cum + c + 1) stays integral;
  // the per-cell product is promoted to 128-bit BEFORE multiplying. The
  // normal approximation z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24) is the
  // untied textbook form (tie correction deliberately omitted — both
  // engines compute the identical formula, which is the contract). Plan:
  // one user aggregate, one |d|-histogram aggregate (domain-bounded
  // cells), one ordered cumsum over that histogram.
  q("stats_wilcoxon_signed",
    """WITH u AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'click')
      |      - COUNT(*) FILTER (WHERE event_type = 'purchase') AS d
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY user_id
      |), nz AS (SELECT d FROM u WHERE d <> 0
      |), hist AS (
      |  SELECT abs(d) AS ad,
      |    COUNT(*) FILTER (WHERE d > 0) AS pos, COUNT(*) AS c
      |  FROM nz GROUP BY abs(d)
      |), h2 AS (
      |  SELECT *, COALESCE(SUM(c) OVER (ORDER BY ad
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM hist
      |), a AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    SUM(CAST(pos AS HUGEINT) * (2 * cum + c + 1)) AS two_w
      |  FROM h2
      |)
      |SELECT n, CAST(two_w AS DOUBLE) / 2 AS w_plus,
      |  floor((CAST(two_w AS DOUBLE) / 2
      |         - CAST(n AS DOUBLE) * (n + 1) / 4)
      |        / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24)
      |        * 10000 + 0.5) / 10000 AS z
      |FROM a""") { (s, dir) =>
    val u = Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("user_id")
      .agg((sum(when(col("event_type") === "click", 1L).otherwise(0L))
        - sum(when(col("event_type") === "purchase", 1L).otherwise(0L))).as("d"))
    val hist = u.filter(col("d") =!= 0)
      .groupBy(abs(col("d")).as("ad"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("c"))
    val w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    val h2 = hist.withColumn("cum", coalesce(sum(col("c")).over(w), lit(0L)))
    val a = h2.groupBy()
      .agg(sum(col("c")).cast("long").as("n"),
        sum(Det.wide(col("pos")) * (col("cum") * 2 + col("c") + 1)).as("two_w"))
    val nD = col("n").cast("double")
    a.select(col("n"), (col("two_w").cast("double") / 2).as("w_plus"),
      Det.quant((col("two_w").cast("double") / 2 - nD * (col("n") + 1) / 4)
        / sqrt(nD * (col("n") + 1) * (col("n") * 2 + 1) / 24), 4).as("z"))
  }

  // Cramér's V effect size for the (weekday × event type) contingency —
  // the "is the association MATERIAL, not just significant" companion to
  // events_chi2_independence. P2 discipline: the per-cell χ² term is a
  // derived double, so each cell is quantized to a fixed-point BIGINT
  // (floor(term·10⁶+0.5)) BEFORE the cross-cell sum — integer addition is
  // order-independent; summing the raw double terms is not. The χ² the
  // statistic uses is therefore "sum of 6-dp-rounded cell terms", stated
  // here and computed identically in both engines (35 cells ⇒ ≤3.5e-5
  // absolute deviation from the unrounded value, far inside the 6-dp
  // output). dow uses the sign-safe ((diff%7)+7)%7 anchor form.
  q("stats_cramers_v",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS INT) AS dow
      |  FROM events
      |), cell AS (
      |  SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY event_type, dow
      |), rt AS (SELECT event_type, SUM(o) AS r FROM cell GROUP BY event_type),
      |ct AS (SELECT dow, SUM(o) AS c FROM cell GROUP BY dow),
      |t AS (SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS nr,
      |      COUNT(DISTINCT dow) AS nc FROM cell),
      |fx AS (
      |  SELECT CAST(floor(
      |      (o - CAST(r AS DOUBLE) * c / n) * (o - CAST(r AS DOUBLE) * c / n)
      |      / (CAST(r AS DOUBLE) * c / n) * 1000000 + 0.5) AS BIGINT) AS term
      |  FROM cell JOIN rt USING (event_type) JOIN ct USING (dow), t
      |), s AS (
      |  SELECT CAST(SUM(term) AS DOUBLE) / 1000000 AS chi2 FROM fx
      |)
      |SELECT CAST(n AS BIGINT) AS n, floor(chi2 * 10000 + 0.5) / 10000 AS chi2,
      |  CAST(least(nr - 1, nc - 1) AS BIGINT) AS dof_min,
      |  floor(sqrt(chi2 / (n * least(nr - 1, nc - 1))) * 1000000 + 0.5)
      |    / 1000000 AS cramers_v
      |FROM s, t""") { (s, dir) =>
    val e = Tables(s, dir, "events")
      .select(col("event_type"),
        (((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("int").as("dow"))
    val cell = e.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rt = cell.groupBy("event_type").agg(sum("o").as("r"))
    val ct = cell.groupBy("dow").agg(sum("o").as("c"))
    // one distinct column per aggregate: two distinct columns in one
    // aggregate plan an Expand whose key order follows expression ids,
    // so the plan text would depend on what the session ran before
    val t = cell.groupBy().agg(sum("o").as("n"), countDistinct("event_type").as("nr"))
      .crossJoin(cell.groupBy().agg(countDistinct("dow").as("nc")))
    val ex = col("r").cast("double") * col("c") / col("n")
    val fx = cell.join(broadcast(rt), "event_type").join(broadcast(ct), "dow")
      .crossJoin(broadcast(t))
      .select(Det.fix((col("o") - ex) * (col("o") - ex) / ex, 6)
        .cast("long").as("term"))
    val sdf = fx.groupBy().agg((sum("term").cast("double") / 1000000).as("chi2"))
    sdf.crossJoin(broadcast(t))
      .select(col("n").cast("long").as("n"),
        Det.quant(col("chi2"), 4).as("chi2"),
        least(col("nr") - 1, col("nc") - 1).cast("long").as("dof_min"),
        Det.quant(sqrt(col("chi2") / (col("n") * least(col("nr") - 1, col("nc") - 1))),
          6).as("cramers_v"))
  }

  // Per-user ML feature-vector assembly — the feature-store handoff: one
  // aggregate builds event-type counts, recency, and monetary value, then
  // packs them into a feature vector (plus named columns for audit).
  // Every element is exact integer arithmetic divided once. One shuffle
  // on user_id; at 100 TB this is the canonical map-side-combinable
  // profile aggregate. The vector is rendered as a comma-joined STRING at
  // the output seam because the driver's pandas checker cannot lexsort
  // array cells (CORRECTNESS_r08 red cell); the monetary element is
  // rendered from integer cents with abs()-based digits so the
  // floor-vs-truncate division divergence (Spark div truncates toward
  // zero, DuckDB // floors) can never bite on a negative amount. The
  // array<double>-typed form stays golden-tested in StatsOpsSpec.
  q("ml_feature_vector",
    """WITH u AS (
      |  SELECT user_id,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |    date_diff('day', CAST(max(date_trunc('day', ts)) AS DATE),
      |              DATE '2024-01-30') AS recency,
      |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0) AS mon
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id,
      |  CAST(n_view AS VARCHAR) || ',' || CAST(n_click AS VARCHAR) || ','
      |    || CAST(n_purchase AS VARCHAR) || ',' || CAST(recency AS VARCHAR)
      |    || ',' || (CASE WHEN mon < 0 THEN '-' ELSE '' END)
      |    || CAST(abs(mon) // 100 AS VARCHAR) || '.'
      |    || lpad(CAST(abs(mon) % 100 AS VARCHAR), 2, '0') AS features,
      |  CAST(n_purchase AS BIGINT) AS n_purchase,
      |  CAST(recency AS BIGINT) AS recency_days,
      |  CAST(mon AS DOUBLE) / 100 AS monetary
      |FROM u ORDER BY user_id""") { (s, dir) =>
    val u = Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"),
        datediff(lit("2024-01-30").cast("date"),
          to_date(max(date_trunc("day", col("ts"))))).as("recency"),
        coalesce(sum(when(col("event_type") === "purchase",
          Det.cents(col("value")).cast("long"))), lit(0L)).as("mon"))
    val monStr = concat(
      when(col("mon") < 0, lit("-")).otherwise(lit("")),
      expr("abs(mon) div 100").cast("string"), lit("."),
      lpad(expr("abs(mon) % 100").cast("string"), 2, "0"))
    u.select(col("user_id"),
        concat_ws(",", col("n_view").cast("string"),
          col("n_click").cast("string"), col("n_purchase").cast("string"),
          col("recency").cast("string"), monStr).as("features"),
        col("n_purchase").cast("long").as("n_purchase"),
        col("recency").cast("long").as("recency_days"),
        (col("mon").cast("double") / 100).as("monetary"))
      .orderBy("user_id")
  }

  // Single-feature decision stump: the best gini-impurity split of
  // `value` for predicting purchase-vs-view — the interpretable baseline
  // (and boosting weak learner) a feature-audit runs before any real
  // model. Scale design mirrors events_ab_mannwhitney: candidate
  // thresholds are the DISTINCT cent-values (domain-bounded histogram,
  // never a row sort), cumulative class counts come from one ordered
  // window over that histogram, and every candidate's weighted gini is a
  // closed-form double tree over exact integer counts — ranked by its
  // 8-dp fixed-point image with the threshold as tiebreak, so the argmin
  // is integer-deterministic. One events pass, one histogram window, one
  // top-1 pick.
  q("ml_decision_stump",
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), hist AS (
      |  SELECT v, SUM(y) AS h1, COUNT(*) - SUM(y) AS h0
      |  FROM ev GROUP BY v
      |), cum AS (
      |  SELECT v,
      |    SUM(h1) OVER (ORDER BY v) AS l1, SUM(h0) OVER (ORDER BY v) AS l0
      |  FROM hist
      |), t AS (
      |  SELECT CAST(SUM(h1) AS BIGINT) AS t1, CAST(SUM(h0) AS BIGINT) AS t0
      |  FROM hist
      |), g AS (
      |  SELECT v, l1, l0, t1 - l1 AS r1, t0 - l0 AS r0, t1, t0,
      |    ((l1 + l0) - (CAST(l1 AS DOUBLE) * l1 + CAST(l0 AS DOUBLE) * l0)
      |       / (l1 + l0)
      |     + (t1 - l1 + t0 - l0)
      |     - (CAST(t1 - l1 AS DOUBLE) * (t1 - l1)
      |        + CAST(t0 - l0 AS DOUBLE) * (t0 - l0))
      |       / (t1 - l1 + t0 - l0))
      |    / (t1 + t0) AS wg
      |  FROM cum, t
      |  WHERE l1 + l0 > 0 AND (t1 - l1) + (t0 - l0) > 0
      |), rk AS (
      |  SELECT *, row_number() OVER (
      |    ORDER BY CAST(floor(wg * 100000000 + 0.5) AS BIGINT), v) AS rn
      |  FROM g
      |)
      |SELECT CAST(v AS DOUBLE) / 100 AS threshold,
      |  CAST(l1 AS BIGINT) AS left_pos, CAST(l0 AS BIGINT) AS left_neg,
      |  CAST(r1 AS BIGINT) AS right_pos, CAST(r0 AS BIGINT) AS right_neg,
      |  floor((1 - (CAST(t1 AS DOUBLE) * t1 + CAST(t0 AS DOUBLE) * t0)
      |      / (CAST(t1 + t0 AS DOUBLE) * (t1 + t0))) * 1000000 + 0.5)
      |    / 1000000 AS gini_parent,
      |  floor(wg * 1000000 + 0.5) / 1000000 AS gini_split
      |FROM rk WHERE rn = 1""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(Det.cents(col("value")).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val hist = ev.groupBy("v")
      .agg(sum("y").as("h1"), (count(lit(1)) - sum("y")).as("h0"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.select(col("v"), sum("h1").over(w).as("l1"),
      sum("h0").over(w).as("l0"))
    val t = hist.groupBy().agg(sum("h1").cast("long").as("t1"),
      sum("h0").cast("long").as("t0"))
    val r1 = col("t1") - col("l1")
    val r0 = col("t0") - col("l0")
    // association mirrors the oracle exactly: ((A - B) + C) - D, then /G
    val wg = ((col("l1") + col("l0"))
      - (col("l1").cast("double") * col("l1")
        + col("l0").cast("double") * col("l0")) / (col("l1") + col("l0"))
      + (r1 + r0)
      - (r1.cast("double") * r1 + r0.cast("double") * r0) / (r1 + r0)) /
      (col("t1") + col("t0"))
    val g = cum.crossJoin(broadcast(t))
      .filter(col("l1") + col("l0") > 0 && r1 + r0 > 0)
      .select(col("v"), col("l1"), col("l0"), r1.as("r1"), r0.as("r0"),
        col("t1"), col("t0"), wg.as("wg"))
    val rk = g.withColumn("rn", row_number().over(
      Window.orderBy(Det.fix(col("wg"), 8).cast("long"),
        col("v"))))
    rk.filter(col("rn") === 1)
      .select((col("v").cast("double") / 100).as("threshold"),
        col("l1").cast("long").as("left_pos"), col("l0").cast("long").as("left_neg"),
        col("r1").cast("long").as("right_pos"), col("r0").cast("long").as("right_neg"),
        Det.quant(lit(1) - (col("t1").cast("double") * col("t1")
          + col("t0").cast("double") * col("t0"))
          / ((col("t1") + col("t0")).cast("double") * (col("t1") + col("t0"))),
            6).as("gini_parent"),
        Det.quant(col("wg"), 6).as("gini_split"))
  }

  /** Unrolled-CTE oracle for ml_cox_ph (the logreg/BPE promote device):
    * `iters` Newton steps on the Breslow partial likelihood become CTE
    * pairs. With a BINARY covariate the risk-set exponential sums have
    * the closed form r0 + r1·e^β, so each step needs exactly ONE exp()
    * call (P17 trivially) and the score/information terms are one fixed
    * double tree per event day, quantized to 1e-12 integers and summed
    * exactly (the per-day frame is calendar-bounded, but integer sums
    * make the reduction order-independent anyway); β re-quantizes at
    * 1e-9 per step. */
  private def coxOracleSql(iters: Int): String = {
    val head =
      """WITH lastd AS (
        |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
        |    max(date_diff('day', DATE '2024-01-01',
        |      CAST(date_trunc('day', ts) AS DATE))) AS t
        |  FROM events GROUP BY user_id
        |), ob AS (SELECT max(t) AS max_day FROM lastd),
        |pv AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nl0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nl1
        |  FROM lastd GROUP BY t
        |), rc AS (
        |  SELECT t, nl0, nl1,
        |    CAST(SUM(nl0) OVER (ORDER BY t DESC) AS BIGINT) AS r0,
        |    CAST(SUM(nl1) OVER (ORDER BY t DESC) AS BIGINT) AS r1
        |  FROM pv
        |), base AS (
        |  SELECT t, nl0 AS d0, nl1 AS d1, r0, r1 FROM rc, ob
        |  WHERE t < max_day
        |),
        |b0_ AS (SELECT 0.0 AS b)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT CAST(SUM(u12) AS HUGEINT) AS u, CAST(SUM(i12) AS HUGEINT)
         |      AS i
         |  FROM (
         |    SELECT
         |      CAST(floor((d1 - (d0 + d1) * (r1 * eb) / (r0 + r1 * eb))
         |        * 1000000000000 + 0.5) AS BIGINT) AS u12,
         |      CAST(floor((d0 + d1) * (r0 * (r1 * eb))
         |        / ((r0 + r1 * eb) * (r0 + r1 * eb))
         |        * 1000000000000 + 0.5) AS BIGINT) AS i12
         |    FROM (SELECT base.*, exp(b) AS eb FROM base, b${k - 1}_)
         |  )
         |),
         |b${k}_ AS (
         |  SELECT floor((b + CAST(u AS DOUBLE) / CAST(i AS DOUBLE))
         |    * 1000000000 + 0.5) / 1000000000 AS b
         |  FROM s$k, b${k - 1}_
         |)""".stripMargin
    }
    val tail =
      s"""t AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(CASE WHEN t < max_day AND arm = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS events_arm0,
         |    CAST(SUM(CASE WHEN t < max_day AND arm = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS events_arm1
         |  FROM lastd, ob
         |)
         |SELECT n_users, events_arm0, events_arm1,
         |  floor(b * 1000000 + 0.5) / 1000000 AS beta,
         |  floor(exp(b) * 1000000 + 0.5) / 1000000 AS hazard_ratio
         |FROM t, b${iters}_""".stripMargin
    (Seq(head) ++ steps :+ tail).mkString(",\n")
  }

  // Area under the precision-recall curve (average precision) for the
  // purchase-vs-view value classifier — the imbalanced-data counterpart
  // to ml_roc_auc's integral and the scalar summary of ml_lift_gains'
  // table: AP = Σ_t ΔR_t·P_t over DESCENDING distinct score thresholds
  // (step-wise interpolation, the standard AP definition). Everything
  // runs on the cents histogram: cumulative TP/FP from one ordered
  // window, each threshold's ΔR·P term quantized to a 1e-12 integer so
  // the reduction is exact and order-independent. Ties share one
  // threshold (both engines identically). Audit row:
  // formula_audit.audit_auc_pr.
  q("ml_auc_pr",
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), h AS (
      |  SELECT v, CAST(SUM(y) AS BIGINT) AS n1, CAST(COUNT(*) - SUM(y)
      |    AS BIGINT) AS n0
      |  FROM ev GROUP BY v
      |), t AS (
      |  SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n0) AS BIGINT) AS t0
      |  FROM h
      |), c AS (
      |  SELECT v, n1,
      |    CAST(SUM(n1) OVER (ORDER BY v DESC) AS BIGINT) AS tp,
      |    CAST(SUM(n0) OVER (ORDER BY v DESC) AS BIGINT) AS fp
      |  FROM h
      |), terms AS (
      |  SELECT CAST(SUM(CAST(floor(CAST(n1 AS DOUBLE) / t1
      |    * (CAST(tp AS DOUBLE) / (tp + fp))
      |    * 1000000000000 + 0.5) AS BIGINT)) AS HUGEINT) AS ap12
      |  FROM c, t WHERE n1 > 0
      |)
      |SELECT t1 AS n_pos, t0 AS n_neg,
      |  floor(CAST(t1 AS DOUBLE) / (t1 + t0) * 1000000 + 0.5) / 1000000
      |    AS baseline_prec,
      |  floor(CAST(ap12 AS DOUBLE) / 1000000 + 0.5) / 1000000 AS auc_pr
      |FROM terms, t""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(Det.cents(col("value")).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val h = ev.groupBy("v").agg(sum("y").cast("long").as("n1"),
      (count(lit(1)) - sum("y")).cast("long").as("n0"))
    val t = h.agg(sum("n1").cast("long").as("t1"),
      sum("n0").cast("long").as("t0"))
    val wDesc = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = h.select(col("v"), col("n1"),
      sum("n1").over(wDesc).cast("long").as("tp"),
      sum("n0").over(wDesc).cast("long").as("fp"))
    val term = Det.fix(col("n1").cast("double") / col("t1")
      * (col("tp").cast("double") / (col("tp") + col("fp"))), 12).cast("long")
    val terms = c.crossJoin(broadcast(t)).filter(col("n1") > 0)
      .agg(Det.wide(sum(term)).as("ap12"))
    terms.crossJoin(broadcast(t))
      .select(col("t1").as("n_pos"), col("t0").as("n_neg"),
        Det.quant(col("t1").cast("double") / (col("t1") + col("t0")), 6).as("baseline_prec"),
        (Det.half(col("ap12").cast("double") / 1000000) / 1000000)
          .as("auc_pr"))
  }

  // Cronbach's alpha over the five per-user event-type counts treated as
  // test items — the internal-consistency reliability coefficient
  // (α = k/(k−1)·(1 − Σ item variances / variance of the item SUM)):
  // do the activity dimensions move together per user? All five item
  // variances and the total variance come from one pass of exact 128-bit
  // moments over the pivoted per-user count matrix; α is one fixed
  // double tree, quantized. Population (n) variances in both engines.
  // Audit row: formula_audit.audit_cronbach.
  q("stats_cronbach_alpha",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS i1,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS i2,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS i3,
      |    CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS i4,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS i5
      |  FROM events GROUP BY user_id
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(i1) AS HUGEINT) AS s1, SUM(CAST(i1 AS HUGEINT) * i1) AS q1,
      |    CAST(SUM(i2) AS HUGEINT) AS s2, SUM(CAST(i2 AS HUGEINT) * i2) AS q2,
      |    CAST(SUM(i3) AS HUGEINT) AS s3, SUM(CAST(i3 AS HUGEINT) * i3) AS q3,
      |    CAST(SUM(i4) AS HUGEINT) AS s4, SUM(CAST(i4 AS HUGEINT) * i4) AS q4,
      |    CAST(SUM(i5) AS HUGEINT) AS s5, SUM(CAST(i5 AS HUGEINT) * i5) AS q5,
      |    CAST(SUM(i1 + i2 + i3 + i4 + i5) AS HUGEINT) AS st,
      |    SUM(CAST(i1 + i2 + i3 + i4 + i5 AS HUGEINT)
      |      * (i1 + i2 + i3 + i4 + i5)) AS qt
      |  FROM u
      |)
      |SELECT CAST(n AS BIGINT) AS n_users,
      |  floor((CAST(n * q1 - s1 * s1 AS DOUBLE) + CAST(n * q2 - s2 * s2 AS DOUBLE)
      |    + CAST(n * q3 - s3 * s3 AS DOUBLE) + CAST(n * q4 - s4 * s4 AS DOUBLE)
      |    + CAST(n * q5 - s5 * s5 AS DOUBLE))
      |    / CAST(n * qt - st * st AS DOUBLE) * 1000000 + 0.5) / 1000000
      |    AS item_var_share,
      |  floor(5.0 / 4.0 * (1 -
      |    (CAST(n * q1 - s1 * s1 AS DOUBLE) + CAST(n * q2 - s2 * s2 AS DOUBLE)
      |     + CAST(n * q3 - s3 * s3 AS DOUBLE) + CAST(n * q4 - s4 * s4 AS DOUBLE)
      |     + CAST(n * q5 - s5 * s5 AS DOUBLE))
      |    / CAST(n * qt - st * st AS DOUBLE)) * 1000000 + 0.5) / 1000000
      |    AS cronbach_alpha
      |FROM m""") { (s, dir) =>
    def item(et: String) =
      sum(when(col("event_type") === et, 1L).otherwise(0L)).cast("long")
    val u = Tables(s, dir, "events").groupBy("user_id")
      .agg(item("view").as("i1"), item("click").as("i2"),
        item("purchase").as("i3"), item("signup").as("i4"),
        item("error").as("i5"))
      .withColumn("it",
        col("i1") + col("i2") + col("i3") + col("i4") + col("i5"))
    val m = u.agg(Det.wide(count(lit(1))).as("n"),
      Det.wide(sum("i1")).as("s1"), sum(Det.wide(col("i1")) * col("i1")).as("q1"),
      Det.wide(sum("i2")).as("s2"), sum(Det.wide(col("i2")) * col("i2")).as("q2"),
      Det.wide(sum("i3")).as("s3"), sum(Det.wide(col("i3")) * col("i3")).as("q3"),
      Det.wide(sum("i4")).as("s4"), sum(Det.wide(col("i4")) * col("i4")).as("q4"),
      Det.wide(sum("i5")).as("s5"), sum(Det.wide(col("i5")) * col("i5")).as("q5"),
      Det.wide(sum("it")).as("st"), sum(Det.wide(col("it")) * col("it")).as("qt"))
    def cv(q: String, sS: String) =
      (col("n") * col(q) - col(sS) * col(sS)).cast("double")
    val share = (cv("q1", "s1") + cv("q2", "s2") + cv("q3", "s3")
      + cv("q4", "s4") + cv("q5", "s5")) / cv("qt", "st")
    m.select(col("n").cast("long").as("n_users"),
      Det.quant(share, 6).as("item_var_share"),
      Det.quant(lit(5.0) / lit(4.0) * (lit(1) - share), 6).as("cronbach_alpha"))
  }

  // Cochran-Mantel-Haenszel test of the arm × purchase association
  // STRATIFIED by day-of-week — the confound-adjusted 2×2 readout
  // events_chi2_independence can't give (a dow imbalance between arms
  // would fake or mask a marginal association; CMH pools the per-stratum
  // evidence instead). Per stratum: observed arm-1 purchases a_k,
  // hypergeometric expectation E_k = n1k·m1k/T_k and variance
  // V_k = n1k·n0k·m1k·m0k/(T_k²(T_k−1)); χ² = (Σa − ΣE)²/ΣV, plus the
  // Mantel-Haenszel pooled odds ratio Σ(a·d/T)/Σ(b·c/T). E/V/OR terms
  // quantize to 1e-12 (OR terms 1e-6) integers per stratum, so every
  // reduction is exact; the stratum frame is the 7-row dow catalog.
  // Audit row: formula_audit.audit_cmh.
  q("events_cmh_test",
    """WITH ev AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS BIGINT)
      |      AS dow
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), k AS (
      |  SELECT dow,
      |    CAST(SUM(CASE WHEN arm = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN arm = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN arm = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN arm = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM ev GROUP BY dow
      |), t AS (
      |  SELECT dow, a, b, c, d, a + b AS n1, c + d AS n0, a + c AS m1,
      |    b + d AS m0, a + b + c + d AS tt
      |  FROM k
      |), s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
      |    CAST(SUM(a) AS BIGINT) AS sum_a,
      |    CAST(SUM(CAST(floor(CAST(n1 AS DOUBLE) * m1 / tt
      |      * 1000000000000 + 0.5) AS BIGINT)) AS HUGEINT) AS e12,
      |    CAST(SUM(CAST(floor(CAST(n1 AS DOUBLE) * n0 * m1 / tt * m0
      |      / (CAST(tt AS DOUBLE) * (tt - 1))
      |      * 1000000000000 + 0.5) AS BIGINT)) AS HUGEINT) AS v12,
      |    CAST(SUM(CAST(floor(CAST(a AS DOUBLE) * d / tt * 1000000 + 0.5)
      |      AS BIGINT)) AS HUGEINT) AS ad6,
      |    CAST(SUM(CAST(floor(CAST(b AS DOUBLE) * c / tt * 1000000 + 0.5)
      |      AS BIGINT)) AS HUGEINT) AS bc6
      |  FROM t
      |)
      |SELECT n_strata, sum_a,
      |  floor(CAST(e12 AS DOUBLE) / 1000000 + 0.5) / 1000000 AS expected_a,
      |  floor((sum_a - CAST(e12 AS DOUBLE) / 1000000000000)
      |    * (sum_a - CAST(e12 AS DOUBLE) / 1000000000000)
      |    / (CAST(v12 AS DOUBLE) / 1000000000000) * 1000000 + 0.5)
      |    / 1000000 AS cmh_chi2,
      |  floor(CAST(ad6 AS DOUBLE) / CAST(bc6 AS DOUBLE) * 1000000 + 0.5)
      |    / 1000000 AS or_mh
      |FROM s""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select((col("user_id") % 2).cast("long").as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
        (((datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("long").as("dow"))
    val k = ev.groupBy("dow").agg(
      sum(when(col("arm") === 1 && col("y") === 1, 1L).otherwise(0L))
        .cast("long").as("a"),
      sum(when(col("arm") === 1 && col("y") === 0, 1L).otherwise(0L))
        .cast("long").as("b"),
      sum(when(col("arm") === 0 && col("y") === 1, 1L).otherwise(0L))
        .cast("long").as("c"),
      sum(when(col("arm") === 0 && col("y") === 0, 1L).otherwise(0L))
        .cast("long").as("d"))
    val t = k.select(col("a"), col("b"), col("c"), col("d"),
      (col("a") + col("b")).as("n1"), (col("c") + col("d")).as("n0"),
      (col("a") + col("c")).as("m1"), (col("b") + col("d")).as("m0"),
      (col("a") + col("b") + col("c") + col("d")).as("tt"))
    val e12 = Det.fix(col("n1").cast("double") * col("m1") / col("tt"), 12).cast("long")
    val v12 = Det.fix(col("n1").cast("double") * col("n0") * col("m1")
      / col("tt") * col("m0")
      / (col("tt").cast("double") * (col("tt") - 1)), 12).cast("long")
    val ad6 = Det.fix(col("a").cast("double") * col("d") / col("tt"), 6).cast("long")
    val bc6 = Det.fix(col("b").cast("double") * col("c") / col("tt"), 6).cast("long")
    val sAgg = t.agg(count(lit(1)).cast("long").as("n_strata"),
      sum("a").cast("long").as("sum_a"),
      Det.wide(sum(e12)).as("e12"),
      Det.wide(sum(v12)).as("v12"),
      Det.wide(sum(ad6)).as("ad6"),
      Det.wide(sum(bc6)).as("bc6"))
    sAgg.select(col("n_strata"), col("sum_a"),
      (Det.half(col("e12").cast("double") / 1000000) / 1000000)
        .as("expected_a"),
      Det.quant((col("sum_a") - col("e12").cast("double") / 1000000000000L)
        * (col("sum_a") - col("e12").cast("double") / 1000000000000L)
        / (col("v12").cast("double") / 1000000000000L), 6).as("cmh_chi2"),
      Det.quant(col("ad6").cast("double") / col("bc6").cast("double"), 6).as("or_mh"))
  }

  // Breusch-Pagan heteroscedasticity test on the daily-revenue trend OLS
  // (the ml_cooks_distance regression): if residual VARIANCE grows with
  // the regressor, the OLS standard errors everywhere else are suspect.
  // LM = n·R² of the auxiliary regression of squared residuals on the
  // day index. The squared residual is quantized to a 1e-2 integer per
  // day (magnitude ~1e12 — far inside int64), so the auxiliary moments
  // are exact 128-bit integers and R² is one fixed double tree. The
  // corpus collapses to the calendar-bounded daily frame in one pass.
  // Audit row: formula_audit.audit_bp.
  q("stats_breusch_pagan",
    """WITH d AS (
      |  SELECT CAST(date_diff('day', DATE '2024-01-01',
      |    CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS x,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) // 100 AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    CAST(SUM(y) AS HUGEINT) AS sy, SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM d
      |), b AS (
      |  SELECT n, sx, sxx,
      |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |      AS b1,
      |    (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      / CAST(n AS DOUBLE) AS b0
      |  FROM m
      |), e AS (
      |  SELECT d.x,
      |    CAST(floor((CAST(d.y AS DOUBLE) - b0 - b1 * d.x)
      |      * (CAST(d.y AS DOUBLE) - b0 - b1 * d.x) * 100 + 0.5) AS BIGINT)
      |      AS e2
      |  FROM d, b
      |), a AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    CAST(SUM(e2) AS HUGEINT) AS se, SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * e2) AS sxe,
      |    SUM(CAST(e2 AS HUGEINT) * e2) AS see
      |  FROM e
      |)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  floor(CAST((n * sxe - sx * se) AS DOUBLE)
      |    * CAST((n * sxe - sx * se) AS DOUBLE)
      |    / (CAST(n * sxx - sx * sx AS DOUBLE)
      |       * CAST(n * see - se * se AS DOUBLE)) * 1000000 + 0.5) / 1000000
      |    AS r2_aux,
      |  floor(CAST(n AS DOUBLE)
      |    * (CAST((n * sxe - sx * se) AS DOUBLE)
      |       * CAST((n * sxe - sx * se) AS DOUBLE)
      |       / (CAST(n * sxx - sx * sx AS DOUBLE)
      |          * CAST(n * see - se * se AS DOUBLE))) * 1000000 + 0.5)
      |    / 1000000 AS bp_lm
      |FROM a""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .groupBy(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date")).cast("long").as("x"))
      .agg(expr("sum(cast(floor(value * 100 + 0.5) as bigint)) div 100")
        .cast("long").as("y"))
      .localCheckpoint()
    val m = d.agg(Det.wide(count(lit(1))).as("n"),
      Det.wide(sum("x")).as("sx"),
      Det.wide(sum("y")).as("sy"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"),
      sum(Det.wide(col("x")) * col("y")).as("sxy"))
    val b1 = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val b0 = (col("sy").cast("double")
      - (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        * col("sx").cast("double")) / col("n").cast("double")
    val bFrame = m.select(b1.as("b1"), b0.as("b0"))
    val resid = col("y").cast("double") - col("b0") - col("b1") * col("x")
    val e = d.crossJoin(broadcast(bFrame))
      .select(col("x"),
        Det.fix(resid * resid, 2).cast("long").as("e2"))
    val a = e.agg(Det.wide(count(lit(1))).as("n"),
      Det.wide(sum("x")).as("sx"),
      Det.wide(sum("e2")).as("se"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"),
      sum(Det.wide(col("x")) * col("e2")).as("sxe"),
      sum(Det.wide(col("e2")) * col("e2")).as("see"))
    val cxe = (col("n") * col("sxe") - col("sx") * col("se")).cast("double")
    val r2 = cxe * cxe /
      ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        * (col("n") * col("see") - col("se") * col("se")).cast("double"))
    a.select(col("n").cast("long").as("n_days"),
      Det.quant(r2, 6).as("r2_aux"),
      Det.quant(col("n").cast("double") * r2, 6)
        .as("bp_lm"))
  }

  // Wilson score interval for each arm's purchase-conversion rate — the
  // CI every A/B dashboard should print instead of the Wald interval
  // (Wald collapses at extreme p̂ and small n; Wilson stays inside
  // [0,1]). z is the literal 1.96; everything else is one fixed double
  // tree over exact integer (converters, users) counts per arm,
  // quantized at 1e-6. Two hash aggregates, 2-row output. Audit row:
  // formula_audit.audit_wilson.
  q("stats_wilson_ci",
    """WITH u AS (
      |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS conv
      |  FROM events GROUP BY 1, 2
      |), a AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT)
      |    AS x
      |  FROM u GROUP BY arm
      |)
      |SELECT arm, n, x,
      |  floor(CAST(x AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS phat,
      |  floor(((CAST(x AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
      |    - 1.96 * sqrt(CAST(x AS DOUBLE) / n * (1 - CAST(x AS DOUBLE) / n)
      |        / n + 1.96 * 1.96 / (4.0 * n * n)))
      |    / (1 + 1.96 * 1.96 / n)) * 1000000 + 0.5) / 1000000 AS wilson_lo,
      |  floor(((CAST(x AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
      |    + 1.96 * sqrt(CAST(x AS DOUBLE) / n * (1 - CAST(x AS DOUBLE) / n)
      |        / n + 1.96 * 1.96 / (4.0 * n * n)))
      |    / (1 + 1.96 * 1.96 / n)) * 1000000 + 0.5) / 1000000 AS wilson_hi
      |FROM a ORDER BY arm""") { (s, dir) =>
    val u = Tables(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).cast("long").as("arm"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .cast("long").as("conv"))
    val a = u.groupBy("arm").agg(count(lit(1)).cast("long").as("n"),
      sum("conv").cast("long").as("x"))
    val p = col("x").cast("double") / col("n")
    val z2 = lit(1.96) * lit(1.96)
    val half = lit(1.96) * sqrt(p * (lit(1) - p) / col("n")
      + z2 / (lit(4.0) * col("n") * col("n")))
    val den = lit(1) + z2 / col("n")
    a.select(col("arm"), col("n"), col("x"),
        Det.quant(p, 6).as("phat"),
        Det.quant((p + z2 / (lit(2) * col("n")) - half) / den, 6).as("wilson_lo"),
        Det.quant((p + z2 / (lit(2) * col("n")) + half) / den, 6).as("wilson_hi"))
      .orderBy("arm")
  }

  // Diurnal harmonic fit — amplitude and phase of the 24-hour activity
  // cycle by OLS of hourly event counts on (sin, cos) of the hour angle:
  // the compact seasonality readout next to ts_dow_seasonality's
  // categorical means. The regressors are sin/cos QUANTIZED to 1e-6
  // integers per distinct hour (24 single-argument libm calls — P17), so
  // every moment is an exact 128-bit integer and the demeaned 2×2 Cramer
  // solve is one fixed double tree; amplitude/phase via one sqrt and one
  // atan2 (single call, quantized). Audit row:
  // formula_audit.audit_diurnal.
  q("ts_diurnal_harmonic",
    """WITH h AS (
      |  SELECT CAST(hour(ts) AS BIGINT) AS hr, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1
      |), r AS (
      |  SELECT hr, c,
      |    CAST(floor(sin(2 * pi() * hr / 24) * 1000000 + 0.5) AS BIGINT) AS s6,
      |    CAST(floor(cos(2 * pi() * hr / 24) * 1000000 + 0.5) AS BIGINT) AS k6
      |  FROM h
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m, CAST(SUM(c) AS HUGEINT) AS sy,
      |    CAST(SUM(s6) AS HUGEINT) AS su, CAST(SUM(k6) AS HUGEINT) AS sw,
      |    SUM(CAST(s6 AS HUGEINT) * s6) AS suu,
      |    SUM(CAST(k6 AS HUGEINT) * k6) AS sww,
      |    SUM(CAST(s6 AS HUGEINT) * k6) AS suw,
      |    SUM(CAST(s6 AS HUGEINT) * c) AS suy,
      |    SUM(CAST(k6 AS HUGEINT) * c) AS swy
      |  FROM r
      |), b AS (
      |  SELECT CAST(m AS BIGINT) AS mm, sy,
      |    CAST((m * suy - su * sy) * (m * sww - sw * sw)
      |       - (m * suw - su * sw) * (m * swy - sw * sy) AS DOUBLE)
      |    / CAST((m * suu - su * su) * (m * sww - sw * sw)
      |       - (m * suw - su * sw) * (m * suw - su * sw) AS DOUBLE)
      |      * 1000000 AS b1,
      |    CAST((m * suu - su * su) * (m * swy - sw * sy)
      |       - (m * suw - su * sw) * (m * suy - su * sy) AS DOUBLE)
      |    / CAST((m * suu - su * su) * (m * sww - sw * sw)
      |       - (m * suw - su * sw) * (m * suw - su * sw) AS DOUBLE)
      |      * 1000000 AS b2
      |  FROM m
      |)
      |SELECT mm AS n_hours,
      |  floor(CAST(sy AS DOUBLE) / mm * 1000000 + 0.5) / 1000000 AS mean_count,
      |  floor(b1 * 1000000 + 0.5) / 1000000 AS beta_sin,
      |  floor(b2 * 1000000 + 0.5) / 1000000 AS beta_cos,
      |  floor(sqrt(b1 * b1 + b2 * b2) * 1000000 + 0.5) / 1000000 AS amplitude,
      |  floor(atan2(b2, b1) * 1000000 + 0.5) / 1000000 AS phase
      |FROM b""") { (s, dir) =>
    val h = Tables(s, dir, "events")
      .groupBy(hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).cast("long").as("c"))
    val r = h.select(col("hr"), col("c"),
      Det.fix(sin(lit(2) * lit(math.Pi) * col("hr") / 24), 6)
        .cast("long").as("s6"),
      Det.fix(cos(lit(2) * lit(math.Pi) * col("hr") / 24), 6)
        .cast("long").as("k6"))
    val m = r.agg(Det.wide(count(lit(1))).as("m"),
      Det.wide(sum("c")).as("sy"),
      Det.wide(sum("s6")).as("su"),
      Det.wide(sum("k6")).as("sw"),
      sum(Det.wide(col("s6")) * col("s6")).as("suu"),
      sum(Det.wide(col("k6")) * col("k6")).as("sww"),
      sum(Det.wide(col("s6")) * col("k6")).as("suw"),
      sum(Det.wide(col("s6")) * col("c")).as("suy"),
      sum(Det.wide(col("k6")) * col("c")).as("swy"))
    val cuu = col("m") * col("suu") - col("su") * col("su")
    val cww = col("m") * col("sww") - col("sw") * col("sw")
    val cuw = col("m") * col("suw") - col("su") * col("sw")
    val cuy = col("m") * col("suy") - col("su") * col("sy")
    val cwy = col("m") * col("swy") - col("sw") * col("sy")
    val det = (cuu * cww - cuw * cuw).cast("double")
    val b1 = (cuy * cww - cuw * cwy).cast("double") / det * 1000000
    val b2 = (cuu * cwy - cuw * cuy).cast("double") / det * 1000000
    m.select(col("m").cast("long").as("n_hours"),
      Det.quant(col("sy").cast("double") / col("m"), 6).as("mean_count"),
      Det.quant(b1, 6).as("beta_sin"),
      Det.quant(b2, 6).as("beta_cos"),
      Det.quant(sqrt(b1 * b1 + b2 * b2), 6)
        .as("amplitude"),
      Det.quant(atan2(b2, b1), 6).as("phase"))
  }

  // Poisson incidence-rate ratio between the user-parity arms — the
  // count-data analogue of the conversion A/B readouts: events per user
  // in each arm, rate ratio, and the Wald z on the log scale with the
  // Poisson SE √(1/C0 + 1/C1). With a binary covariate the Poisson GLM
  // MLE IS this closed form (log link saturates), so no iterations. The
  // two ln() calls take ONE argument each (P17 trivially) and every
  // other number is exact-integer or a one-division double, quantized.
  // Audit row: formula_audit.audit_rate_ratio.
  q("stats_rate_ratio",
    """WITH u AS (
      |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |), a AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS c
      |  FROM u GROUP BY arm
      |), w AS (
      |  SELECT
      |    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
      |    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN arm = 0 THEN c END) AS c0,
      |    MAX(CASE WHEN arm = 1 THEN c END) AS c1
      |  FROM a
      |)
      |SELECT n0, n1, c0, c1,
      |  floor(CAST(c0 AS DOUBLE) / n0 * 1000000 + 0.5) / 1000000 AS rate0,
      |  floor(CAST(c1 AS DOUBLE) / n1 * 1000000 + 0.5) / 1000000 AS rate1,
      |  floor(CAST(c1 AS DOUBLE) / n1 / (CAST(c0 AS DOUBLE) / n0)
      |    * 1000000 + 0.5) / 1000000 AS rate_ratio,
      |  floor(ln(CAST(c1 AS DOUBLE) / n1 / (CAST(c0 AS DOUBLE) / n0))
      |    * 1000000 + 0.5) / 1000000 AS log_rr,
      |  floor(ln(CAST(c1 AS DOUBLE) / n1 / (CAST(c0 AS DOUBLE) / n0))
      |    / sqrt(1.0 / c0 + 1.0 / c1) * 1000000 + 0.5) / 1000000 AS wald_z
      |FROM w""") { (s, dir) =>
    val u = Tables(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).cast("long").as("arm"))
      .agg(count(lit(1)).cast("long").as("c"))
    val a = u.groupBy("arm").agg(count(lit(1)).cast("long").as("n"),
      sum("c").cast("long").as("c"))
    val w = a.agg(
      max(when(col("arm") === 0, col("n"))).as("n0"),
      max(when(col("arm") === 1, col("n"))).as("n1"),
      max(when(col("arm") === 0, col("c"))).as("c0"),
      max(when(col("arm") === 1, col("c"))).as("c1"))
    val rr = col("c1").cast("double") / col("n1") /
      (col("c0").cast("double") / col("n0"))
    w.select(col("n0"), col("n1"), col("c0"), col("c1"),
      Det.quant(col("c0").cast("double") / col("n0"), 6).as("rate0"),
      Det.quant(col("c1").cast("double") / col("n1"), 6).as("rate1"),
      Det.quant(rr, 6).as("rate_ratio"),
      Det.quant(log(rr), 6).as("log_rr"),
      Det.quant(log(rr) / sqrt(lit(1.0) / col("c0") + lit(1.0) / col("c1")), 6).as("wald_z"))
  }

  // Log-rank test between the two survival arms — completes the survival
  // trio (events_survival_km curve → THIS test → ml_cox_ph model): is the
  // churn-time difference between arms significant at all, before asking
  // for its hazard ratio. Per event day, observed-vs-expected arm-1
  // events under the shared-hazard null (E1 = d·r1/r, hypergeometric
  // variance V = d·(r1/r)·(r0/r)·(r−d)/(r−1)); χ² = (ΣO1 − ΣE1)²/ΣV.
  // The per-day E and V terms are quantized to 1e-12 integers and summed
  // exactly (order-independent reduction); the frame is calendar-bounded.
  // No iterations — pure single-pass SQL on both engines. Audit row:
  // formula_audit.audit_logrank.
  q("events_logrank_test",
    """WITH lastd AS (
      |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
      |    max(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE))) AS t
      |  FROM events GROUP BY user_id
      |), ob AS (SELECT max(t) AS max_day FROM lastd),
      |pv AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nl0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nl1
      |  FROM lastd GROUP BY t
      |), rc AS (
      |  SELECT t, nl0, nl1,
      |    CAST(SUM(nl0) OVER (ORDER BY t DESC) AS BIGINT) AS r0,
      |    CAST(SUM(nl1) OVER (ORDER BY t DESC) AS BIGINT) AS r1
      |  FROM pv
      |), base AS (
      |  SELECT t, nl0 AS d0, nl1 AS d1, r0, r1, r0 + r1 AS r,
      |    nl0 + nl1 AS d
      |  FROM rc, ob WHERE t < max_day
      |), terms AS (
      |  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
      |    CAST(SUM(CAST(floor(CAST(d AS DOUBLE) * r1 / r
      |      * 1000000000000 + 0.5) AS BIGINT)) AS HUGEINT) AS e12,
      |    CAST(SUM(CAST(floor(CAST(d AS DOUBLE) * r1 / r * (CAST(r0 AS
      |      DOUBLE) / r) * (r - d) / greatest(r - 1, 1)
      |      * 1000000000000 + 0.5) AS BIGINT)) AS HUGEINT) AS v12
      |  FROM base
      |)
      |SELECT o1 AS events_arm1,
      |  floor(CAST(e12 AS DOUBLE) / 1000000 + 0.5) / 1000000 AS expected_arm1,
      |  floor((o1 - CAST(e12 AS DOUBLE) / 1000000000000)
      |    * (o1 - CAST(e12 AS DOUBLE) / 1000000000000)
      |    / (CAST(v12 AS DOUBLE) / 1000000000000) * 1000000 + 0.5)
      |    / 1000000 AS logrank_chi2
      |FROM terms""") { (s, dir) =>
    val lastd = Tables(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).cast("long").as("arm"))
      .agg(max(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date"))).cast("long").as("t"))
    val pv = lastd.groupBy("t")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("nl0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("nl1"))
    val ob = lastd.agg(max("t").as("max_day"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val rc = pv.select(col("t"), col("nl0"), col("nl1"),
      sum("nl0").over(wDesc).cast("long").as("r0"),
      sum("nl1").over(wDesc).cast("long").as("r1"))
    val base = rc.crossJoin(broadcast(ob)).filter(col("t") < col("max_day"))
      .select(col("nl0").as("d0"), col("nl1").as("d1"),
        col("r0"), col("r1"), (col("r0") + col("r1")).as("r"),
        (col("nl0") + col("nl1")).as("d"))
    val e12t = Det.fix(col("d").cast("double") * col("r1") / col("r"), 12).cast("long")
    val v12t = Det.fix(col("d").cast("double") * col("r1") / col("r")
      * (col("r0").cast("double") / col("r")) * (col("r") - col("d"))
      / greatest(col("r") - 1, lit(1L)), 12).cast("long")
    val terms = base.agg(sum("d1").cast("long").as("o1"),
      Det.wide(sum(e12t)).as("e12"),
      Det.wide(sum(v12t)).as("v12"))
    terms.select(col("o1").as("events_arm1"),
      (Det.half(col("e12").cast("double") / 1000000) / 1000000)
        .as("expected_arm1"),
      Det.quant((col("o1") - col("e12").cast("double") / 1000000000000L)
        * (col("o1") - col("e12").cast("double") / 1000000000000L)
        / (col("v12").cast("double") / 1000000000000L), 6).as("logrank_chi2"))
  }

  // Cox proportional-hazards fit of the churn survival time against the
  // user_id-parity arm (Breslow ties) — the survival MODEL next to
  // events_survival_km's nonparametric curve: the hazard-ratio readout an
  // experimentation platform wants from time-to-churn data ("arm 1 churns
  // e^β times faster"). With a binary covariate every risk-set
  // exponential sum collapses to r0 + r1·e^β, so three Newton steps on
  // the partial likelihood run over the CALENDAR-BOUNDED per-day frame —
  // the corpus is touched once (last-activity aggregate), the same
  // histogram-not-corpus shape as ml_logreg_newton. Graded plan collects
  // the per-day frame via ops.BoundedCollect and replays the identical
  // fixed-point Newton; oracle unrolled per coxOracleSql. Audit row:
  // formula_audit.audit_cox (plain-float Newton refit).
  q("ml_cox_ph", coxOracleSql(3)) { (s, dir) =>
    val lastd = Tables(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).cast("long").as("arm"))
      .agg(max(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date"))).cast("long").as("t"))
    val pv = lastd.groupBy("t")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("long").as("nl0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("long").as("nl1"))
    val rows = graft.ops.BoundedCollect.rows(pv, "cox per-day frame")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val maxDay = rows.map(_._1).max
    // reverse-cumulative risk counts, then the event-day base frame
    var cr0 = 0L
    var cr1 = 0L
    val base = rows.reverse.map { case (t, nl0, nl1) =>
      cr0 += nl0; cr1 += nl1; (t, nl0, nl1, cr0, cr1)
    }.reverse.filter(_._1 < maxDay)
    var b = 0.0
    for (_ <- 1 to 3) {
      val eb = math.exp(b)
      var u = BigInt(0)
      var i = BigInt(0)
      for ((_, d0, d1, r0, r1) <- base) {
        u += Det.fix(d1 - (d0 + d1) * (r1 * eb) / (r0 + r1 * eb), 12)
        i += Det.fix((d0 + d1) * (r0 * (r1 * eb))
          / ((r0 + r1 * eb) * (r0 + r1 * eb)), 12)
      }
      b = Det.quant(b + u.toDouble / i.toDouble, 9)
    }
    val nUsers = rows.map(r => r._2 + r._3).sum
    val ev0 = base.map(_._2).sum
    val ev1 = base.map(_._3).sum
    import s.implicits._
    Seq((nUsers, ev0, ev1, Det.quant(b, 6), Det.quant(math.exp(b), 6)))
      .toDF("n_users", "events_arm0", "events_arm1", "beta", "hazard_ratio")
  }

  /** One tree-node CTE block for ml_tree_depth2: candidate splits over
    * BOTH features (value cents, hour) from the node's 2-D histogram
    * `src`, cumulative class counts per feature marginal, the stump's
    * exact weighted-gini double tree, and the argmin pick ranked on the
    * 1e-8 fixed-point image with (feature, threshold) tiebreak. */
  private def treeNodeCtes(tag: String, src: String): String =
    s"""c$tag AS (
       |  SELECT feat, thr,
       |    SUM(h1) OVER (PARTITION BY feat ORDER BY thr) AS l1,
       |    SUM(h0) OVER (PARTITION BY feat ORDER BY thr) AS l0
       |  FROM (
       |    SELECT 'v' AS feat, v AS thr, SUM(n1) AS h1, SUM(n0) AS h0
       |    FROM $src GROUP BY v
       |    UNION ALL
       |    SELECT 'hr', hr, SUM(n1), SUM(n0) FROM $src GROUP BY hr
       |  )
       |), t$tag AS (
       |  SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n0) AS BIGINT) AS t0
       |  FROM $src
       |), g$tag AS (
       |  SELECT feat, thr, l1, l0, t1 - l1 AS r1, t0 - l0 AS r0, t1, t0,
       |    ((l1 + l0) - (CAST(l1 AS DOUBLE) * l1 + CAST(l0 AS DOUBLE) * l0)
       |       / (l1 + l0)
       |     + (t1 - l1 + t0 - l0)
       |     - (CAST(t1 - l1 AS DOUBLE) * (t1 - l1)
       |        + CAST(t0 - l0 AS DOUBLE) * (t0 - l0))
       |       / (t1 - l1 + t0 - l0))
       |    / (t1 + t0) AS wg
       |  FROM c$tag, t$tag
       |  WHERE l1 + l0 > 0 AND (t1 - l1) + (t0 - l0) > 0
       |), p$tag AS (
       |  SELECT feat, thr, t1, t0, wg, row_number() OVER (
       |    ORDER BY CAST(floor(wg * 100000000 + 0.5) AS BIGINT), feat, thr)
       |    AS rn
       |  FROM g$tag
       |)""".stripMargin

  // Depth-2 decision tree over TWO features (value cents, hour of day) —
  // real recursive tree induction, not a single stump: the root picks the
  // gini-optimal (feature, threshold) pair, then each child re-runs the
  // identical search on its conditioned sub-histogram. Everything runs on
  // the (v, hr) 2-D histogram (domain-bounded: ≤10⁴ × 24 — the corpus is
  // touched once); each node's LIMIT-1 argmin is collected through
  // BoundedCollect and conditions the children as literal predicates —
  // the classic distributed-histogram / driver-recursion split every
  // scalable tree learner (PLANET, XGBoost's approx mode) uses. Each
  // argmin is the stump's integer-deterministic fixed-point rank with
  // (feature, threshold) tiebreak, so both engines pick the identical
  // unique minimum. Audit row: formula_audit.audit_tree2 (an
  // independent greedy induction over raw rows).
  q("ml_tree_depth2",
    s"""WITH ev AS (
       |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
       |    CAST(hour(ts) AS BIGINT) AS hr,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |  FROM events WHERE event_type IN ('purchase', 'view')
       |), h2 AS (
       |  SELECT v, hr, CAST(SUM(y) AS BIGINT) AS n1,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS n0
       |  FROM ev GROUP BY v, hr
       |),
       |${treeNodeCtes("root", "h2")},
       |r AS (SELECT feat, thr FROM proot WHERE rn = 1),
       |h2l AS (
       |  SELECT h2.* FROM h2, r
       |  WHERE (r.feat = 'v' AND h2.v <= r.thr)
       |     OR (r.feat = 'hr' AND h2.hr <= r.thr)
       |),
       |h2r AS (
       |  SELECT h2.* FROM h2, r
       |  WHERE NOT ((r.feat = 'v' AND h2.v <= r.thr)
       |          OR (r.feat = 'hr' AND h2.hr <= r.thr))
       |),
       |${treeNodeCtes("l", "h2l")},
       |${treeNodeCtes("rr", "h2r")}
       |SELECT * FROM (
       |  SELECT 'root' AS node, feat, CAST(thr AS BIGINT) AS threshold,
       |    CAST(t1 + t0 AS BIGINT) AS n, t1 AS n_pos,
       |    floor(wg * 1000000 + 0.5) / 1000000 AS gini_split
       |  FROM proot WHERE rn = 1
       |  UNION ALL
       |  SELECT 'left', feat, CAST(thr AS BIGINT), CAST(t1 + t0 AS BIGINT),
       |    t1, floor(wg * 1000000 + 0.5) / 1000000
       |  FROM pl WHERE rn = 1
       |  UNION ALL
       |  SELECT 'right', feat, CAST(thr AS BIGINT), CAST(t1 + t0 AS BIGINT),
       |    t1, floor(wg * 1000000 + 0.5) / 1000000
       |  FROM prr WHERE rn = 1
       |) ORDER BY node""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(Det.cents(col("value")).cast("long").as("v"),
        hour(col("ts")).cast("long").as("hr"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val h2 = ev.groupBy("v", "hr")
      .agg(sum("y").cast("long").as("n1"),
        (count(lit(1)) - sum("y")).cast("long").as("n0"))
      .localCheckpoint()
    // one node's best (feature, threshold): the stump machinery over the
    // union of both feature marginals, ranked on the 1e-8 wg image
    def bestSplit(node: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      def cand(feat: String) = {
        val hist = node.groupBy(col(feat).as("thr"))
          .agg(sum("n1").as("h1"), sum("n0").as("h0"))
        val w = Window.partitionBy(lit(feat))
          .orderBy("thr").rowsBetween(Window.unboundedPreceding, 0)
        hist.select(lit(feat).as("feat"), col("thr"),
          sum("h1").over(w).as("l1"), sum("h0").over(w).as("l0"))
      }
      val cands = cand("v").unionByName(cand("hr"))
      val t = node.agg(sum("n1").cast("long").as("t1"),
        sum("n0").cast("long").as("t0"))
      val r1 = col("t1") - col("l1")
      val r0 = col("t0") - col("l0")
      val wg = ((col("l1") + col("l0"))
        - (col("l1").cast("double") * col("l1")
          + col("l0").cast("double") * col("l0")) / (col("l1") + col("l0"))
        + (r1 + r0)
        - (r1.cast("double") * r1 + r0.cast("double") * r0) / (r1 + r0)) /
        (col("t1") + col("t0"))
      // argmin via orderBy+limit(1) — plans as TakeOrderedAndProject
      // (per-partition heap + driver merge), not a single-task rank
      // window; same (wg8, feat, thr) total order as the oracle's
      // row_number (both pick the identical unique minimum)
      cands.crossJoin(broadcast(t))
        .filter(col("l1") + col("l0") > 0 && r1 + r0 > 0)
        .select(col("feat"), col("thr"), col("t1"), col("t0"), wg.as("wg"),
          Det.fix(wg, 8).cast("long").as("wg8"))
        .orderBy(col("wg8"), col("feat"), col("thr"))
        .limit(1)
    }
    // The three argmin rows are LIMIT-1-bounded, so the recursion runs as
    // a driver program (the BoundedCollect pattern the Bradley-Terry fit
    // uses): collect the root choice, condition each child's histogram
    // with a LITERAL predicate, collect the child argmins. The r9 shape —
    // children conditioned via crossJoin(broadcast(1-row choice)) — was
    // plan-pure but paid a lazily-nested broadcast-job chain per node;
    // per-node work on the checkpointed histogram is unchanged and the
    // output is built from the identical cells (floor/divide replayed on
    // the identical doubles).
    import org.apache.spark.sql.Row
    // headOption, not head: a node whose conditioned histogram has a
    // single cell yields NO valid split (bestSplit's both-sides-nonempty
    // filter removes every candidate) — the oracle's `WHERE rn = 1` then
    // emits no row for that node, and so must we (the r10 review caught
    // the .head crash on this edge; unreachable on graded fixtures).
    def pick(node: org.apache.spark.sql.DataFrame, ctx: String): Option[Row] =
      graft.ops.BoundedCollect.rows(bestSplit(node),
        s"ml_tree_depth2 $ctx argmin (LIMIT 1)").headOption
    def out(name: String, r: Row): (String, String, Long, Long, Long, Double) =
      (name, r.getAs[String]("feat"), r.getAs[Long]("thr"),
        r.getAs[Long]("t1") + r.getAs[Long]("t0"), r.getAs[Long]("t1"),
        Det.quant(r.getAs[Double]("wg"), 6))
    val rows = pick(h2, "root") match {
      case None => Seq.empty[(String, String, Long, Long, Long, Double)]
      case Some(root) =>
        val leftPred =
          if (root.getAs[String]("feat") == "v")
            col("v") <= root.getAs[Long]("thr")
          else col("hr") <= root.getAs[Long]("thr")
        Seq("root" -> Some(root), "left" -> pick(h2.filter(leftPred), "left"),
            "right" -> pick(h2.filter(!leftPred), "right"))
          .collect { case (n, Some(r)) => out(n, r) }
    }
    import s.implicits._
    rows.toDF("node", "feat", "threshold", "n", "n_pos", "gini_split")
      .orderBy("node")
  }

  // Cohen's d (pooled-SD standardized mean difference) of each event
  // type's value against the 'view' baseline, with Hedges' g small-sample
  // correction — the effect-size readout next to events_ab_welch's
  // significance test. Same exact-moment scheme as welch: the two group
  // moments are integer sums at 4 dp accumulated DECIMAL(38,0)/HUGEINT
  // (P16 — cannot wrap at any row count), and every derived double
  // (mean, variance, pooled SD, d, g) is the identical IEEE tree on both
  // engines, quantized once at the output. One two-phase hash aggregate
  // over the stream; the per-type frame is |types| rows.
  q("stats_cohens_d",
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS s1,
      |    SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)
      |        * CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS s2
      |  FROM events GROUP BY event_type
      |), m AS (
      |  SELECT event_type, n,
      |    CAST(s1 AS DOUBLE) / 10000 / n AS mean,
      |    (CAST(s2 AS DOUBLE) / 100000000
      |     - (CAST(s1 AS DOUBLE) / 10000) * (CAST(s1 AS DOUBLE) / 10000) / n)
      |    / (n - 1) AS vr
      |  FROM st
      |), base AS (SELECT n AS nb, mean AS mb, vr AS vb FROM m
      |            WHERE event_type = 'view')
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  floor((mean - mb) / sqrt(((n - 1) * vr + (nb - 1) * vb) / (n + nb - 2))
      |    * 10000 + 0.5) / 10000 AS d,
      |  floor((mean - mb) / sqrt(((n - 1) * vr + (nb - 1) * vb) / (n + nb - 2))
      |    * (1 - CAST(3 AS DOUBLE) / (4 * (n + nb) - 9)) * 10000 + 0.5) / 10000 AS g
      |FROM m, base
      |WHERE event_type <> 'view'
      |ORDER BY event_type""") { (s, dir) =>
    val f = Det.fix(col("value"), 4)
    val st = Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(Det.wide(f)).as("s1"),
        sum(Det.wide(f * f)).as("s2"))
    val m = st.select(col("event_type"), col("n"),
      (col("s1").cast("double") / 10000 / col("n")).as("mean"),
      ((col("s2").cast("double") / 100000000L
        - (col("s1").cast("double") / 10000) * (col("s1").cast("double") / 10000)
          / col("n")) / (col("n") - 1)).as("vr"))
    val base = m.filter(col("event_type") === "view")
      .select(col("n").as("nb"), col("mean").as("mb"), col("vr").as("vb"))
    val sp = sqrt(((col("n") - 1) * col("vr") + (col("nb") - 1) * col("vb"))
      / (col("n") + col("nb") - 2))
    val d = (col("mean") - col("mb")) / sp
    m.filter(col("event_type") =!= "view")
      .crossJoin(broadcast(base))
      .select(col("event_type"), col("n").cast("long").as("n"),
        Det.quant(d, 4).as("d"),
        Det.quant(d * (lit(1) - lit(3).cast("double")
          / (lit(4) * (col("n") + col("nb")) - 9)), 4)
          .as("g"))
      .orderBy("event_type")
  }

  // Jensen–Shannon divergence between each event type's early-month and
  // late-month value distributions (day-of-month ≤ 15 vs > 15) — the
  // symmetric, bounded drift metric completing the PSI/KS/KL family.
  // Distributions are 5-unit value bins with add-one smoothing over the
  // union of observed bins. Deterministic core: with smoothed counts
  // c1,c2 and totals N1,N2, p/m = 2·c1·N2/(c1·N2+c2·N1); the count
  // products feeding ln are computed in DOUBLE with the identical
  // left-associated tree in both engines (int64 products would wrap in
  // Spark and ERROR in DuckDB once a smoothed bin count passes ~2e5 —
  // the r7 advice finding; exact below 2^53, same IEEE rounding above),
  // and the Σ c·lnFix terms promote c to DECIMAL(38,0)/HUGEINT BEFORE
  // the multiply, so the per-row product can never wrap at any row
  // count (P16). One hash aggregate over the stream → bin histogram
  // (value-range-bounded, ~112 cells per type here); everything after
  // is per-bin math on that bounded frame.
  q("dq_drift_jsd",
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(floor(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE) / 500) AS BIGINT) AS b,
      |    CASE WHEN extract(day FROM ts) <= 15 THEN 0 ELSE 1 END AS half
      |  FROM events
      |), h AS (
      |  SELECT event_type, b,
      |    SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) + 1 AS c1,
      |    SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) + 1 AS c2
      |  FROM ev GROUP BY event_type, b
      |), n AS (
      |  SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2, COUNT(*) AS n_bins
      |  FROM h GROUP BY event_type
      |), t AS (
      |  SELECT h.event_type,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * (CAST(floor(ln(2.0 * c1 * n2) * 1000000000000 + 0.5) AS BIGINT)
      |               - CAST(floor(ln(CAST(c1 AS DOUBLE) * n2 + CAST(c2 AS DOUBLE) * n1) * 1000000000000 + 0.5) AS BIGINT)))
      |      AS DOUBLE) / MAX(n1) AS ta,
      |    CAST(SUM(CAST(c2 AS HUGEINT) * (CAST(floor(ln(2.0 * c2 * n1) * 1000000000000 + 0.5) AS BIGINT)
      |               - CAST(floor(ln(CAST(c1 AS DOUBLE) * n2 + CAST(c2 AS DOUBLE) * n1) * 1000000000000 + 0.5) AS BIGINT)))
      |      AS DOUBLE) / MAX(n2) AS tb,
      |    MAX(n1) AS n1, MAX(n2) AS n2, MAX(n_bins) AS n_bins
      |  FROM h JOIN n ON h.event_type = n.event_type
      |  GROUP BY h.event_type
      |)
      |SELECT event_type,
      |  floor((ta + tb) / 2000000000000 * 1000000 + 0.5) / 1000000 AS jsd_nats,
      |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(n_bins AS BIGINT) AS n_bins
      |FROM t ORDER BY event_type""") { (s, dir) =>
    val cv = Det.cents(col("value")).cast("long")
    val ev = Tables(s, dir, "events").select(col("event_type"),
      floor((cv.cast("double") / 500)).cast("long").as("b"),
      when(dayofmonth(col("ts")) <= 15, 0).otherwise(1).as("half"))
    val h = ev.groupBy("event_type", "b").agg(
      (sum(when(col("half") === 0, 1L).otherwise(0L)) + 1).as("c1"),
      (sum(when(col("half") === 1, 1L).otherwise(0L)) + 1).as("c2"))
    val n = h.groupBy("event_type").agg(
      sum(col("c1")).cast("long").as("n1"),
      sum(col("c2")).cast("long").as("n2"),
      count(lit(1)).as("n_bins"))
    def lnf(x: org.apache.spark.sql.Column) = Det.lnFix(x.cast("double"), 12)
    val joined = h.join(n, "event_type")
    // ln args built in DOUBLE (left-associated, mirroring the oracle's
    // 2.0*c1*n2 tree) so the products can't wrap int64; the c·lnFix row
    // products promote c to decimal(38,0) BEFORE multiplying (oracle:
    // HUGEINT) — both engines then sum exact integers at any row count
    val mArg = (col("c1").cast("double") * col("n2")) +
      (col("c2").cast("double") * col("n1"))
    val ta = sum(Det.wide(col("c1"))
      * Det.wide(lnf(lit(2.0) * col("c1") * col("n2")) - lnf(mArg)))
      .cast("double") / max(col("n1"))
    val tb = sum(Det.wide(col("c2"))
      * Det.wide(lnf(lit(2.0) * col("c2") * col("n1")) - lnf(mArg)))
      .cast("double") / max(col("n2"))
    joined.groupBy("event_type")
      .agg(ta.as("ta"), tb.as("tb"), max(col("n1")).as("n1"),
        max(col("n2")).as("n2"), max(col("n_bins")).as("n_bins"))
      .select(col("event_type"),
        Det.quant((col("ta") + col("tb")) / 2000000000000L, 6).as("jsd_nats"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("n_bins").cast("long").as("n_bins"))
      .orderBy("event_type")
  }

  // Friedman test — the k-related-samples nonparametric ANOVA closing the
  // rank-test family (Mann-Whitney / Kruskal-Wallis / Wilcoxon ship
  // already): do the event types' DAILY revenue levels differ, treating
  // each complete day as a matched block? Blocks = days where every type
  // traded (a deterministic completeness rule — Friedman requires full
  // blocks); within each day the k daily sums are ranked with exact
  // average-rank tie handling kept INTEGRAL by the 2x-scaled rank
  // identity 2*avg_rank = 2*rank + ties - 1. Q = 3*S/(n*k*(k+1)) -
  // 3*n*(k+1) with S = SUM of squared 2x rank sums / ... all moments are
  // exact integers until one final quantized double. Scale: the corpus
  // collapses to the (day x type) frame in one aggregate; every window
  // is day-partitioned (calendar-bounded frames); the statistic reduces
  // a k-row frame. Audit row: formula_audit.audit_friedman.
  q("stats_friedman_test",
    """WITH ev AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), d AS (
      |  SELECT day, event_type, CAST(SUM(cents) AS BIGINT) AS v
      |  FROM ev GROUP BY 1, 2
      |), kk AS (
      |  SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
      |), full_days AS (
      |  SELECT day FROM d GROUP BY day
      |  HAVING COUNT(*) = (SELECT k FROM kk)
      |), r AS (
      |  SELECT d.day, d.event_type,
      |    2 * rank() OVER (PARTITION BY d.day ORDER BY d.v)
      |      + COUNT(*) OVER (PARTITION BY d.day, d.v) - 1 AS r2
      |  FROM d JOIN full_days USING (day)
      |), rs AS (
      |  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2sum
      |  FROM r GROUP BY event_type
      |), agg AS (
      |  SELECT CAST(SUM(r2sum * r2sum) AS BIGINT) AS s2,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM full_days) AS n,
      |    (SELECT k FROM kk) AS k
      |  FROM rs
      |)
      |SELECT n AS n_blocks, CAST(k AS INT) AS k, s2 AS sum_rank2_sq,
      |  floor((CAST(3 * s2 AS DOUBLE) / CAST(n * k * (k + 1) AS DOUBLE)
      |    - CAST(3 * n * (k + 1) AS DOUBLE)) * 1000000 + 0.5) / 1000000
      |    AS friedman_q
      |FROM agg""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(to_date(date_trunc("day", col("ts"))).as("day"),
        col("event_type"), Det.cents(col("value")).cast("long").as("cents"))
    val d = ev.groupBy("day", "event_type")
      .agg(sum("cents").cast("long").as("v"))
    val kk = ev.agg(countDistinct("event_type").as("k"))
    val fullDays = d.groupBy("day").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(kk))
      .filter(col("c") === col("k")).select("day")
    val r = d.join(fullDays, "day")
      .select(col("event_type"),
        (lit(2) * rank().over(Window.partitionBy("day").orderBy("v"))
          + count(lit(1)).over(Window.partitionBy("day", "v")) - 1).as("r2"))
    val rs = r.groupBy("event_type").agg(sum("r2").cast("long").as("r2sum"))
    rs.agg(sum(col("r2sum") * col("r2sum")).cast("long").as("s2"))
      .crossJoin(broadcast(
        fullDays.agg(count(lit(1)).cast("long").as("n"))))
      .crossJoin(broadcast(kk.select(col("k").cast("long").as("k"))))
      .select(col("n").as("n_blocks"), col("k").cast("int").as("k"),
        col("s2").as("sum_rank2_sq"),
        Det.quant((lit(3) * col("s2")).cast("double")
          / (col("n") * col("k") * (col("k") + 1)).cast("double")
          - (lit(3) * col("n") * (col("k") + 1)).cast("double"), 6).as("friedman_q"))
  }

  // Sequential probability ratio test (Wald SPRT) on the purchase
  // conversion stream, per md5-free parity arm — the always-valid
  // monitoring statistic an experimentation platform evaluates after
  // EVERY event instead of at a fixed horizon. H0: p = 0.10 vs H1:
  // p = 0.12, alpha = beta = 0.05; the log-likelihood increments are
  // PINNED 1e12 fixed-point integer literals (floor(ln(1.2)*1e12+0.5)
  // etc. — the Det.scala portable-constant idiom, no runtime
  // transcendentals), so the cumulative LLR is exact integer arithmetic:
  // llr(t) = conv(t)*182321556794 + (t - conv(t))*(-22472855852),
  // boundaries +/- ln(19)*1e12. Scale design: the per-arm cumulative
  // counts run through BlockWindow.runningSum (arm has TWO values — the
  // exact few-distinct-keys shape the two-phase block prefix exists
  // for), the per-row products promote to DECIMAL(38,0)/HUGEINT (P16),
  // and the report collapses to one row per arm. Audit row:
  // formula_audit.audit_sprt.
  q("events_ab_sequential_sprt",
    """WITH ev AS (
      |  SELECT user_id % 2 AS arm, ts, event_id,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      |  FROM events
      |), c AS (
      |  SELECT arm, ts, event_id, conv,
      |    CAST(SUM(conv) OVER w AS BIGINT) AS s_cum,
      |    CAST(row_number() OVER w AS BIGINT) AS rn
      |  FROM ev
      |  WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id)
      |), l AS (
      |  SELECT arm, rn, s_cum,
      |    CAST(s_cum AS HUGEINT) * 182321556794
      |      + CAST(rn - s_cum AS HUGEINT) * (-22472855852) AS llr
      |  FROM c
      |), g AS (
      |  SELECT arm, CAST(MAX(rn) AS BIGINT) AS n_events,
      |    CAST(MAX(s_cum) AS BIGINT) AS n_conversions,
      |    arg_max(llr, rn) AS llr_final_fix,
      |    MIN(CASE WHEN llr >= 2944438979166 THEN rn END) AS cross_h1,
      |    MIN(CASE WHEN llr <= -2944438979166 THEN rn END) AS cross_h0
      |  FROM l GROUP BY arm
      |)
      |SELECT CAST(arm AS BIGINT) AS arm, n_events, n_conversions,
      |  floor(CAST(llr_final_fix AS DOUBLE) / 1000000000000 * 1000000
      |    + 0.5) / 1000000 AS llr_final,
      |  CAST(cross_h1 AS BIGINT) AS first_cross_h1,
      |  CAST(cross_h0 AS BIGINT) AS first_cross_h0,
      |  CASE
      |    WHEN cross_h1 IS NOT NULL
      |     AND (cross_h0 IS NULL OR cross_h1 < cross_h0) THEN 'accept_h1'
      |    WHEN cross_h0 IS NOT NULL
      |     AND (cross_h1 IS NULL OR cross_h0 < cross_h1) THEN 'accept_h0'
      |    ELSE 'continue' END AS decision
      |FROM g ORDER BY arm""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select((col("user_id") % 2).as("arm"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
    val cum = BlockWindow.runningSum(
      BlockWindow.rowNumber(ev, Seq("arm"), Seq("ts", "event_id"), "rn"),
      Seq("arm"), Seq("ts", "event_id"), col("conv"), "s_cum")
    val l = cum.select(col("arm"), col("rn").cast("long").as("rn"),
      col("s_cum"),
      (Det.wide(col("s_cum")) * lit(182321556794L)
        + Det.wide(col("rn").cast("long") - col("s_cum"))
          * lit(-22472855852L)).as("llr"))
    val g = l.groupBy("arm").agg(
      max("rn").cast("long").as("n_events"),
      max("s_cum").cast("long").as("n_conversions"),
      max_by(col("llr"), col("rn")).as("llr_final_fix"),
      min(when(col("llr") >= Det.wide(lit(2944438979166L)), col("rn")))
        .as("cross_h1"),
      min(when(col("llr") <= Det.wide(lit(-2944438979166L)), col("rn")))
        .as("cross_h0"))
    g.select(col("arm").cast("long").as("arm"), col("n_events"),
        col("n_conversions"),
        Det.quant(col("llr_final_fix").cast("double") / 1000000000000L, 6).as("llr_final"),
        col("cross_h1").cast("long").as("first_cross_h1"),
        col("cross_h0").cast("long").as("first_cross_h0"),
        when(col("cross_h1").isNotNull
            && (col("cross_h0").isNull || col("cross_h1") < col("cross_h0")),
          "accept_h1")
          .when(col("cross_h0").isNotNull
            && (col("cross_h1").isNull || col("cross_h0") < col("cross_h1")),
            "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy("arm")
  }

  // McNemar's test for paired binary outcomes — "did the same user's
  // purchase behavior change between their FIRST and LAST active week?"
  // Each user whose activity spans ≥ 14 days is one matched pair
  // (x_first, x_last) of converted-in-window indicators over the user's
  // own first and last 7 active-span days (user-relative windows — a
  // calendar-half split saturates on any long-lived fixture: every
  // user converts in both halves and the statistic degenerates to 0/0).
  // Only the discordant counts n10 (converted then stopped) and n01
  // (started converting) carry signal, and χ² = (n10−n01)²/(n10+n01)
  // (plus the Edwards continuity-corrected form) is exact integer
  // arithmetic until one final double division (P12). Scale: one
  // groupBy(user) span pass and one span-join back (both shuffles on the
  // user key); single-row output. Audit: formula_audit.audit_mcnemar.
  q("stats_mcnemar",
    """WITH e AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    event_type
      |  FROM events
      |), span AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM e GROUP BY 1
      |), per AS (
      |  SELECT e.user_id,
      |    MAX(CASE WHEN e.day < s.d0 + INTERVAL 7 DAY
      |          AND e.event_type = 'purchase' THEN 1 ELSE 0 END) AS xa,
      |    MAX(CASE WHEN e.day > s.d1 - INTERVAL 7 DAY
      |          AND e.event_type = 'purchase' THEN 1 ELSE 0 END) AS xb
      |  FROM e JOIN span s ON e.user_id = s.user_id
      |  WHERE date_diff('day', s.d0, s.d1) >= 14
      |  GROUP BY 1
      |), agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(CASE WHEN xa = 1 AND xb = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n10,
      |    CAST(SUM(CASE WHEN xa = 0 AND xb = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n01
      |  FROM per
      |)
      |SELECT n_pairs, n10, n01,
      |  CASE WHEN n10 + n01 = 0 THEN NULL ELSE
      |    floor(CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01)
      |      * 1000000 + 0.5) / 1000000 END AS chi2,
      |  CASE WHEN n10 + n01 = 0 THEN NULL ELSE
      |    floor(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)
      |      / (n10 + n01) * 1000000 + 0.5) / 1000000 END AS chi2_cc
      |FROM agg""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
    val span = ev.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val per = ev.join(span, "user_id")
      .filter(datediff(col("d1"), col("d0")) >= 14)
      .groupBy("user_id")
      .agg(
        max(when(col("day") < date_add(col("d0"), 7)
          && col("event_type") === "purchase", 1).otherwise(0)).as("xa"),
        max(when(col("day") > date_sub(col("d1"), 7)
          && col("event_type") === "purchase", 1).otherwise(0)).as("xb"))
    val agg = per
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(when(col("xa") === 1 && col("xb") === 0, 1).otherwise(0))
          .cast("long").as("n10"),
        sum(when(col("xa") === 0 && col("xb") === 1, 1).otherwise(0))
          .cast("long").as("n01"))
    val disc = col("n10") + col("n01")
    agg.select(col("n_pairs"), col("n10"), col("n01"),
      when(disc === 0, lit(null).cast("double"))
        .otherwise(Det.quant(((col("n10") - col("n01"))
          * (col("n10") - col("n01"))).cast("double") / disc, 6)).as("chi2"),
      when(disc === 0, lit(null).cast("double"))
        .otherwise(Det.quant(((abs(col("n10") - col("n01")) - 1)
          * (abs(col("n10") - col("n01")) - 1)).cast("double") / disc, 6)).as("chi2_cc"))
  }

  // Cochran's Q test — "does within-week participation differ across the
  // k event types?" Each ACTIVE USER-WEEK is a block with a 0/1
  // indicator per event type (the k-treatment generalization of
  // McNemar; the block grain is the user-week, not the user, because on
  // any long-lived fixture every user eventually does every type and a
  // per-user design degenerates to all-constant blocks). With column
  // totals C_j, row totals R_i, and N = ΣR_i, the statistic is
  // Q = (k−1)(k·ΣC_j² − N²) / (k·N − ΣR_i²) — every term an exact
  // integer, promoted to DECIMAL(38,0)/HUGEINT before the products so
  // the identity holds at any block cardinality (P16), one double
  // division at the end (P12). Blocks with all-0 or all-k rows provably
  // cancel out of Q, so no row filtering is needed. Scale: the
  // block × type grid is |user-weeks|·k rows with k catalog-bounded
  // (broadcast the type list); row/column totals are one shuffle each;
  // single-row output. Audit row: formula_audit.audit_cochran_q.
  q("stats_cochran_q",
    """WITH x AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk, event_type
      |  FROM events
      |), blocks AS (SELECT DISTINCT user_id, wk FROM x),
      |types AS (SELECT DISTINCT event_type FROM x),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
      |grid AS (
      |  SELECT b.user_id, b.wk, t.event_type,
      |    CASE WHEN x.user_id IS NULL THEN 0 ELSE 1 END AS x
      |  FROM blocks b CROSS JOIN types t
      |  LEFT JOIN x ON b.user_id = x.user_id AND b.wk = x.wk
      |    AND t.event_type = x.event_type
      |), rowt AS (
      |  SELECT user_id, wk, CAST(SUM(x) AS BIGINT) AS r
      |  FROM grid GROUP BY 1, 2
      |), colt AS (
      |  SELECT event_type, CAST(SUM(x) AS BIGINT) AS c FROM grid GROUP BY 1
      |), agg AS (
      |  SELECT
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rowt) AS n_blocks,
      |    (SELECT CAST(SUM(r) AS HUGEINT) FROM rowt) AS n,
      |    (SELECT SUM(CAST(c AS HUGEINT) * c) FROM colt) AS sc2,
      |    (SELECT CAST(SUM(r * r) AS HUGEINT) FROM rowt) AS sr2,
      |    (SELECT CAST(k AS HUGEINT) FROM kk) AS k
      |)
      |SELECT n_blocks, CAST(k AS INT) AS k, CAST(sc2 AS BIGINT) AS sum_col_sq,
      |  CASE WHEN k * n - sr2 = 0 THEN NULL ELSE
      |    floor(CAST((k - 1) * (k * sc2 - n * n) AS DOUBLE)
      |      / CAST(k * n - sr2 AS DOUBLE) * 1000000 + 0.5) / 1000000 END
      |    AS cochran_q
      |FROM agg""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"),
        col("event_type"))
    val x = ev.distinct().withColumn("hit", lit(1L))
    val blocks = ev.select("user_id", "wk").distinct()
    val types = ev.select("event_type").distinct()
    val kk = types.agg(count(lit(1)).cast("long").as("k"))
    val grid = blocks.crossJoin(broadcast(types))
      .join(x, Seq("user_id", "wk", "event_type"), "left")
      .select(col("user_id"), col("wk"), col("event_type"),
        coalesce(col("hit"), lit(0L)).as("x"))
    val rowt = grid.groupBy("user_id", "wk")
      .agg(sum("x").cast("long").as("r"))
    val colt = grid.groupBy("event_type").agg(sum("x").cast("long").as("c"))
    val aggR = rowt.agg(count(lit(1)).cast("long").as("n_blocks"),
      Det.wide(sum("r")).as("n"),
      Det.wide(sum(col("r") * col("r"))).as("sr2"))
    val aggC = colt.agg(sum(Det.wide(col("c")) * col("c")).as("sc2"))
    aggR.crossJoin(broadcast(aggC)).crossJoin(broadcast(kk))
      .select(col("n_blocks"), col("k").cast("int").as("k"),
        col("sc2").cast("long").as("sum_col_sq"),
        when(Det.wide(col("k")) * col("n") - col("sr2") === 0,
          lit(null).cast("double"))
          .otherwise(Det.quant(((Det.wide(col("k")) - 1)
            * (Det.wide(col("k")) * col("sc2") - col("n") * col("n")))
            .cast("double")
            / (Det.wide(col("k")) * col("n") - col("sr2")).cast("double"), 6)).as("cochran_q"))
  }

  // ROC AUC of `value` as a purchase-vs-view classifier score, by the
  // exact Mann-Whitney rank identity with midrank tie handling:
  // AUC = Σ_v c₁(v)·(2·cum₀(<v) + c₀(v)) / (2·n₁·n₀) — the model-eval
  // companion to ml_decision_stump. Same never-rank-rows scale design as
  // events_ks_test: only the cent-value HISTOGRAM is windowed
  // (domain-bounded cells), the numerator is exact 128-bit integer
  // (P16: c₁·n₀ terms pass int64 once both classes pass ~3e9 rows), and
  // AUC/Gini are ONE double division at the end (P12). Single-row
  // output. Audit row: formula_audit.audit_roc_auc.
  q("ml_roc_auc",
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), hist AS (
      |  SELECT v, CAST(SUM(y) AS BIGINT) AS c1,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS c0
      |  FROM ev GROUP BY v
      |), cum AS (
      |  SELECT v, c1, c0,
      |    COALESCE(SUM(c0) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
      |  FROM hist
      |), agg AS (
      |  SELECT SUM(CAST(c1 AS HUGEINT) * (2 * CAST(cum0 AS HUGEINT) + c0))
      |      AS num,
      |    (SELECT CAST(SUM(c1) AS BIGINT) FROM hist) AS n1,
      |    (SELECT CAST(SUM(c0) AS BIGINT) FROM hist) AS n0
      |  FROM cum
      |)
      |SELECT n1 AS n_pos, n0 AS n_neg,
      |  floor(CAST(num AS DOUBLE)
      |    / (2 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) * 1000000 + 0.5)
      |    / 1000000 AS auc,
      |  floor((CAST(num AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) - 1) * 1000000 + 0.5)
      |    / 1000000 AS gini
      |FROM agg""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(Det.cents(col("value")).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val hist = ev.groupBy("v").agg(sum("y").cast("long").as("c1"),
      (count(lit(1)) - sum("y")).cast("long").as("c0"))
    val wx = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cum0", coalesce(sum("c0").over(wx), lit(0L)))
    val tot = hist.agg(sum("c1").cast("long").as("n1"),
      sum("c0").cast("long").as("n0"))
    val agg = cum.agg(
      sum(Det.wide(col("c1")) * (lit(2) * Det.wide(col("cum0")) + col("c0"))).as("num"))
    agg.crossJoin(broadcast(tot))
      .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
        Det.quant(col("num").cast("double")
          / (lit(2) * col("n1").cast("double") * col("n0").cast("double")), 6).as("auc"),
        Det.quant(col("num").cast("double")
          / (col("n1").cast("double") * col("n0").cast("double")) - 1, 6).as("gini"))
  }

  // Expected calibration error of the per-bucket empirical conversion
  // model: md5-split purchase/view events 50/50 (the leakage-proof
  // device shared with ml_naive_bayes), learn each 25-dollar value
  // bucket's train purchase rate as its predicted confidence, and
  // measure ECE = Σ_b (n_b/N)·|acc_b − conf_b| on the held-out half.
  // Per-bucket |acc − conf| is one double tree over four exact integer
  // counts quantized at 1e-8 (P12), so the weighted sum accumulates as
  // exact integers over the ≤16-bucket catalog frame and divides once.
  // Convention: the tr↔te INNER join means ECE is computed over the
  // JOINT support — a bucket seen in only one half contributes to
  // neither n_test nor the weight mass (no train conf exists to compare
  // a test-only bucket against; deliberate, and both engines agree).
  // Bucketing clamps v at 0 first (greatest) so the assignment is pure
  // non-negative integer division — without the clamp Spark's
  // `div` (truncate toward zero) and DuckDB's `//` (floor) would
  // diverge on a negative amount. Scale: two hash aggregates on the
  // bucket key, one catalog-sized join; single-row output. Audit row:
  // formula_audit.audit_ece.
  q("ml_calibration_ece",
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
      |    substring(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '7' AS is_train
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), b AS (
      |  SELECT LEAST(GREATEST(v, 0) // 2500, 15) AS bucket, y, is_train
      |  FROM ev
      |), tr AS (
      |  SELECT bucket, CAST(SUM(y) AS BIGINT) AS n1t,
      |    CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM b WHERE is_train GROUP BY bucket
      |), te AS (
      |  SELECT bucket, CAST(SUM(y) AS BIGINT) AS n1e,
      |    CAST(COUNT(*) AS BIGINT) AS ne
      |  FROM b WHERE NOT is_train GROUP BY bucket
      |), j AS (
      |  SELECT te.bucket, n1t, nt, n1e, ne,
      |    CAST(floor(abs(CAST(n1e AS DOUBLE) / ne - CAST(n1t AS DOUBLE) / nt)
      |      * 100000000 + 0.5) AS BIGINT) AS gap8
      |  FROM te JOIN tr ON te.bucket = tr.bucket
      |), agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(SUM(ne) AS BIGINT) AS n_test,
      |    SUM(CAST(ne AS HUGEINT) * gap8) AS wsum,
      |    CAST(MAX(gap8) AS BIGINT) AS maxgap8
      |  FROM j
      |)
      |SELECT n_buckets, n_test,
      |  floor(CAST(wsum AS DOUBLE) / n_test / 100000000 * 1000000 + 0.5)
      |    / 1000000 AS ece,
      |  CAST(maxgap8 AS DOUBLE) / 100000000 AS max_gap
      |FROM agg""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(Det.cents(col("value")).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
        (substring(md5(col("event_id").cast("string")), 1, 1) <= "7")
          .as("is_train"))
    val b = ev.select(least(expr("greatest(v, 0L) div 2500"), lit(15L))
      .as("bucket"), col("y"), col("is_train"))
    val tr = b.filter(col("is_train")).groupBy("bucket")
      .agg(sum("y").cast("long").as("n1t"), count(lit(1)).as("nt"))
    val te = b.filter(!col("is_train")).groupBy("bucket")
      .agg(sum("y").cast("long").as("n1e"), count(lit(1)).as("ne"))
    val j = te.join(tr, "bucket")
      .select(col("ne"),
        Det.fix(abs(col("n1e").cast("double") / col("ne")
          - col("n1t").cast("double") / col("nt")), 8)
          .cast("long").as("gap8"))
    j.agg(count(lit(1)).cast("long").as("n_buckets"),
        sum("ne").cast("long").as("n_test"),
        sum(Det.wide(col("ne")) * col("gap8")).as("wsum"),
        max("gap8").as("maxgap8"))
      .select(col("n_buckets"), col("n_test"),
        Det.quant(col("wsum").cast("double") / col("n_test") / 100000000, 6).as("ece"),
        (col("maxgap8").cast("double") / 100000000).as("max_gap"))
  }

  // 5-fold cross-validated simple OLS (l_extendedprice ~ l_quantity),
  // the model-selection harness pattern: deterministic fold assignment
  // by (orderkey + linenumber) mod 5, each fold's TRAIN moments obtained
  // as global-minus-fold (so training needs ONE aggregation pass, not
  // 5), coefficients by the closed-form Cramer ratios over exact 128-bit
  // moments (P16), per-row test residuals as one IEEE double tree over
  // the exact integer numerators quantized to integer cents, and
  // per-fold RMSE from the exact squared-cent sums (√ is IEEE
  // correctly-rounded — cross-engine safe). Scale: two passes over the
  // fact table, 5-row coefficient broadcast, 5-row output. Audit row:
  // formula_audit.audit_kfold_cv.
  q("ml_kfold_cv",
    """WITH li AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
      |    (l_orderkey + l_linenumber) % 5 AS fold
      |  FROM lineitem
      |), g AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    CAST(SUM(y) AS HUGEINT) AS sy, SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM li
      |), f AS (
      |  SELECT fold, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM li GROUP BY fold
      |), co AS (
      |  SELECT fold, g.n - f.n AS n_train,
      |    (g.n - f.n) * (g.sxx - f.sxx) - (g.sx - f.sx) * (g.sx - f.sx) AS d,
      |    (g.n - f.n) * (g.sxy - f.sxy) - (g.sx - f.sx) * (g.sy - f.sy) AS bn,
      |    (g.sy - f.sy) * (g.sxx - f.sxx) - (g.sx - f.sx) * (g.sxy - f.sxy)
      |      AS an
      |  FROM f CROSS JOIN g
      |), e AS (
      |  SELECT li.fold,
      |    CAST(floor(CAST(li.y AS DOUBLE) - CAST(an AS DOUBLE) / CAST(d AS DOUBLE)
      |      - CAST(bn AS DOUBLE) / CAST(d AS DOUBLE) * li.x + 0.5) AS BIGINT)
      |      AS ef
      |  FROM li JOIN co ON li.fold = co.fold
      |), r AS (
      |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_test,
      |    SUM(CAST(ef AS HUGEINT) * ef) AS sq
      |  FROM e GROUP BY fold
      |)
      |SELECT r.fold AS fold, CAST(co.n_train AS BIGINT) AS n_train, n_test,
      |  floor(CAST(bn AS DOUBLE) / CAST(d AS DOUBLE) / 100 * 1000000 + 0.5)
      |    / 1000000 AS slope,
      |  floor(CAST(an AS DOUBLE) / CAST(d AS DOUBLE) / 100 * 10000 + 0.5)
      |    / 10000 AS intercept,
      |  floor(sqrt(CAST(sq AS DOUBLE) / n_test) * 100 + 0.5) / 10000 AS rmse
      |FROM r JOIN co ON r.fold = co.fold
      |ORDER BY fold""") { (s, dir) =>
    val li = Tables(s, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("x"),
        Det.cents(col("l_extendedprice")).cast("long").as("y"),
        ((col("l_orderkey") + col("l_linenumber")) % 5).as("fold"))
    val g = li.agg(Det.wide(count(lit(1))).as("gn"),
      sum(Det.wide(col("x"))).as("gsx"), sum(Det.wide(col("y"))).as("gsy"),
      sum(Det.wide(col("x")) * col("x")).as("gsxx"),
      sum(Det.wide(col("x")) * col("y")).as("gsxy"))
    val f = li.groupBy("fold").agg(Det.wide(count(lit(1))).as("fn"),
      sum(Det.wide(col("x"))).as("fsx"), sum(Det.wide(col("y"))).as("fsy"),
      sum(Det.wide(col("x")) * col("x")).as("fsxx"),
      sum(Det.wide(col("x")) * col("y")).as("fsxy"))
    val co = f.crossJoin(broadcast(g)).select(col("fold"),
      (col("gn") - col("fn")).as("n_train"),
      ((col("gn") - col("fn")) * (col("gsxx") - col("fsxx"))
        - (col("gsx") - col("fsx")) * (col("gsx") - col("fsx"))).as("d"),
      ((col("gn") - col("fn")) * (col("gsxy") - col("fsxy"))
        - (col("gsx") - col("fsx")) * (col("gsy") - col("fsy"))).as("bn"),
      ((col("gsy") - col("fsy")) * (col("gsxx") - col("fsxx"))
        - (col("gsx") - col("fsx")) * (col("gsxy") - col("fsxy"))).as("an"))
    val e = li.join(broadcast(co), "fold")
      .select(col("fold"),
        Det.half(col("y").cast("double")
          - col("an").cast("double") / col("d").cast("double")
          - col("bn").cast("double") / col("d").cast("double") * col("x")).cast("long").as("ef"))
    val r = e.groupBy("fold").agg(count(lit(1)).cast("long").as("n_test"),
      sum(Det.wide(col("ef")) * col("ef")).as("sq"))
    r.join(broadcast(co), "fold")
      .select(col("fold"), col("n_train").cast("long").as("n_train"),
        col("n_test"),
        Det.quant(col("bn").cast("double") / col("d").cast("double") / 100, 6).as("slope"),
        Det.quant(col("an").cast("double") / col("d").cast("double") / 100, 4).as("intercept"),
        (Det.fix(sqrt(col("sq").cast("double") / col("n_test")), 2) / 10000).as("rmse"))
      .orderBy("fold")
  }

  // Precision/recall curve — the operating-point readout ROC AUC
  // deliberately integrates away: the full confusion matrix plus
  // precision, recall, F1 and accuracy at each of four fixed cent
  // thresholds of the purchase-vs-view classifier. One corpus pass (the
  // threshold frame is a 4-row broadcast expand before the partial
  // aggregate); every metric is a one-division double over exact integer
  // counts, zero-guarded identically in both engines (a threshold above
  // every value yields precision 0 by convention, not NaN — NaN never
  // crosses the engine seam). Audit row: formula_audit.audit_pr_f1.
  q("ml_pr_f1",
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), t AS (
      |  SELECT unnest([1000, 2500, 5000, 7500]) AS thr
      |), cm AS (
      |  SELECT thr,
      |    CAST(SUM(CASE WHEN v >= thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN v >= thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN v < thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN v < thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM ev, t GROUP BY thr
      |)
      |SELECT CAST(thr AS BIGINT) AS thr_cents, tp, fp, fn, tn,
      |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE
      |    floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000 + 0.5) / 1000000
      |  END AS prec,
      |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE
      |    floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000 + 0.5) / 1000000
      |  END AS rec,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0 ELSE
      |    floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) * 1000000 + 0.5)
      |      / 1000000
      |  END AS f1,
      |  floor(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) * 1000000 + 0.5)
      |    / 1000000 AS acc
      |FROM cm ORDER BY thr_cents""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(Det.cents(col("value")).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val thr = { import s.implicits._; Seq(1000L, 2500L, 5000L, 7500L).toDF("thr") }
    val cm = ev.crossJoin(broadcast(thr)).groupBy("thr")
      .agg(
        sum(when(col("v") >= col("thr") && col("y") === 1, 1L).otherwise(0L))
          .cast("long").as("tp"),
        sum(when(col("v") >= col("thr") && col("y") === 0, 1L).otherwise(0L))
          .cast("long").as("fp"),
        sum(when(col("v") < col("thr") && col("y") === 1, 1L).otherwise(0L))
          .cast("long").as("fn"),
        sum(when(col("v") < col("thr") && col("y") === 0, 1L).otherwise(0L))
          .cast("long").as("tn"))
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, lit(0.0)).otherwise(
        Det.quant(num.cast("double") / den, 6))
    cm.select(col("thr").cast("long").as("thr_cents"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        ratio(col("tp"), col("tp") + col("fp")).as("prec"),
        ratio(col("tp"), col("tp") + col("fn")).as("rec"),
        ratio(lit(2) * col("tp"), lit(2) * col("tp") + col("fp") + col("fn"))
          .as("f1"),
        Det.quant((col("tp") + col("tn")).cast("double")
          / (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("acc"))
      .orderBy("thr_cents")
  }

  // Partial correlation of lineitem quantity and extended price
  // CONTROLLING for discount — the confound-adjusted association a naive
  // pairwise correlation matrix (agg_corr_matrix) can't answer. The
  // three pairwise correlations come from one pass of exact 128-bit
  // moments (P16 promotion before every product — price cents squared
  // times row count passes int64); the recursion
  // r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²)) is one
  // fixed double tree over those moments, quantized at 1e-6. Scale: one
  // map-side-combinable aggregate, single-row output. Audit row:
  // formula_audit.audit_partial_corr.
  q("stats_partial_corr",
    """WITH li AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
      |  FROM lineitem
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(z) AS HUGEINT) AS sz,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
      |    SUM(CAST(z AS HUGEINT) * z) AS szz, SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * z) AS sxz, SUM(CAST(y AS HUGEINT) * z) AS syz
      |  FROM li
      |), r AS (
      |  SELECT CAST(n AS BIGINT) AS nn,
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |           * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
      |    CAST(n * sxz - sx * sz AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |           * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
      |    CAST(n * syz - sy * sz AS DOUBLE)
      |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
      |           * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      |  FROM m
      |)
      |SELECT nn AS n,
      |  floor(rxy * 1000000 + 0.5) / 1000000 AS r_xy,
      |  floor(rxz * 1000000 + 0.5) / 1000000 AS r_xz,
      |  floor(ryz * 1000000 + 0.5) / 1000000 AS r_yz,
      |  floor((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
      |    * 1000000 + 0.5) / 1000000 AS r_xy_given_z
      |FROM r""") { (s, dir) =>
    val li = Tables(s, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("x"),
        Det.cents(col("l_extendedprice")).cast("long").as("y"),
        Det.cents(col("l_discount")).cast("long").as("z"))
    val m = li.agg(Det.wide(count(lit(1))).as("n"),
      Det.wide(sum("x")).as("sx"),
      Det.wide(sum("y")).as("sy"),
      Det.wide(sum("z")).as("sz"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"),
      sum(Det.wide(col("y")) * col("y")).as("syy"),
      sum(Det.wide(col("z")) * col("z")).as("szz"),
      sum(Det.wide(col("x")) * col("y")).as("sxy"),
      sum(Det.wide(col("x")) * col("z")).as("sxz"),
      sum(Det.wide(col("y")) * col("z")).as("syz"))
    val rxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        * (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    val rxz = (col("n") * col("sxz") - col("sx") * col("sz")).cast("double") /
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        * (col("n") * col("szz") - col("sz") * col("sz")).cast("double"))
    val ryz = (col("n") * col("syz") - col("sy") * col("sz")).cast("double") /
      sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")
        * (col("n") * col("szz") - col("sz") * col("sz")).cast("double"))
    m.select(col("n").cast("long").as("n"),
      Det.quant(rxy, 6).as("r_xy"),
      Det.quant(rxz, 6).as("r_xz"),
      Det.quant(ryz, 6).as("r_yz"),
      Det.quant((rxy - rxz * ryz)
        / sqrt((lit(1) - rxz * rxz) * (lit(1) - ryz * ryz)), 6).as("r_xy_given_z"))
  }

  // Cumulative gains / lift table by score decile — the campaign-targeting
  // readout (top-scored decile captures what share of purchasers?) that
  // complements ml_pr_f1's fixed thresholds and ml_roc_auc's integral.
  // Deciles are VALUE-RANKED off the cents histogram, never a corpus
  // ntile: decile(v) = ⌊(#rows with higher v)·10/n⌋, so every row of
  // equal score lands in one decile (deterministic under ties — an ANSI
  // ntile would split a tie run by arbitrary physical order) and the
  // assignment is one window over the ≤10⁴-row histogram, not a
  // single-task corpus sort. Capture and lift are one-division doubles
  // over exact integer counts. Audit row: formula_audit.audit_lift.
  q("ml_lift_gains",
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), h AS (
      |  SELECT v, CAST(SUM(y) AS BIGINT) AS n1, CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM ev GROUP BY v
      |), t AS (
      |  SELECT CAST(SUM(n1) AS BIGINT) AS tot1, CAST(SUM(nt) AS BIGINT) AS totn
      |  FROM h
      |), c AS (
      |  SELECT v, n1, nt,
      |    CAST(COALESCE(SUM(nt) OVER (ORDER BY v DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cumhi
      |  FROM h
      |), d AS (
      |  SELECT CAST(cumhi * 10 // totn AS BIGINT) AS decile,
      |    CAST(SUM(nt) AS BIGINT) AS n_rows, CAST(SUM(n1) AS BIGINT) AS n_pos
      |  FROM c, t GROUP BY 1
      |), g AS (
      |  SELECT decile, n_rows, n_pos,
      |    CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
      |  FROM d
      |)
      |SELECT decile, n_rows, n_pos,
      |  floor(CAST(cum_pos AS DOUBLE) / tot1 * 1000000 + 0.5) / 1000000
      |    AS capture,
      |  floor(CAST(n_pos AS DOUBLE) / n_rows
      |    / (CAST(tot1 AS DOUBLE) / totn) * 1000000 + 0.5) / 1000000 AS lift
      |FROM g, t ORDER BY decile""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(Det.cents(col("value")).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val h = ev.groupBy("v").agg(sum("y").cast("long").as("n1"),
      count(lit(1)).cast("long").as("nt"))
    val t = h.agg(sum("n1").cast("long").as("tot1"),
      sum("nt").cast("long").as("totn"))
    val wHi = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = h.select(col("v"), col("n1"), col("nt"),
      coalesce(sum("nt").over(wHi), lit(0L)).cast("long").as("cumhi"))
    val d = c.crossJoin(broadcast(t))
      .groupBy(expr("cumhi * 10 div totn").cast("long").as("decile"))
      .agg(sum("nt").cast("long").as("n_rows"), sum("n1").cast("long").as("n_pos"))
    val g = d.select(col("decile"), col("n_rows"), col("n_pos"),
      sum("n_pos").over(Window.orderBy("decile")).cast("long").as("cum_pos"))
    g.crossJoin(broadcast(t))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        Det.quant(col("cum_pos").cast("double") / col("tot1"), 6).as("capture"),
        Det.quant(col("n_pos").cast("double") / col("n_rows")
          / (col("tot1").cast("double") / col("totn")), 6).as("lift"))
      .orderBy("decile")
  }

  // Generalized ESD (iterated Grubbs, 3 rounds unrolled) over the daily
  // revenue series — the multi-outlier extension stats_grubbs can't do
  // (a second outlier masks the first in a single Grubbs pass). Each
  // round recomputes the exact integer moments over the REMAINING days
  // and ranks on |n·x − S| (integer-deterministic, day tiebreak); the
  // removal chain is three CTE blocks over the calendar-bounded daily
  // frame — same unroll device as the BPE/Newton oracles. Emits (round,
  // day, value, esd_r) for the 3 candidate outliers in removal order.
  // Audit row: formula_audit.audit_esd.
  q("events_anomaly_esd",
    """WITH d0 AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1
      |), m1 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx FROM d0
      |), o1 AS (
      |  SELECT day, x, abs(CAST(n AS HUGEINT) * x - sx) AS adev, n, sx, sxx
      |  FROM d0, m1 ORDER BY adev DESC, day LIMIT 1
      |), d1 AS (SELECT day, x FROM d0 WHERE day <> (SELECT day FROM o1)
      |), m2 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx FROM d1
      |), o2 AS (
      |  SELECT day, x, abs(CAST(n AS HUGEINT) * x - sx) AS adev, n, sx, sxx
      |  FROM d1, m2 ORDER BY adev DESC, day LIMIT 1
      |), d2 AS (SELECT day, x FROM d1 WHERE day <> (SELECT day FROM o2)
      |), m3 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx FROM d2
      |), o3 AS (
      |  SELECT day, x, abs(CAST(n AS HUGEINT) * x - sx) AS adev, n, sx, sxx
      |  FROM d2, m3 ORDER BY adev DESC, day LIMIT 1
      |)
      |SELECT * FROM (
      |  SELECT CAST(1 AS INT) AS round, day, CAST(x AS BIGINT) AS day_cents,
      |    floor(CAST(adev AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000 + 0.5)
      |      / 1000000 AS esd_r
      |  FROM o1
      |  UNION ALL SELECT 2, day, CAST(x AS BIGINT),
      |    floor(CAST(adev AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000 + 0.5)
      |      / 1000000 FROM o2
      |  UNION ALL SELECT 3, day, CAST(x AS BIGINT),
      |    floor(CAST(adev AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000 + 0.5)
      |      / 1000000 FROM o3
      |) ORDER BY round""") { (s, dir) =>
    val d0 = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).cast("long").as("x"))
      .localCheckpoint()
    def pick(d: org.apache.spark.sql.DataFrame) = {
      val m = d.agg(Det.wide(count(lit(1))).as("n"),
        Det.wide(sum("x")).as("sx"),
        sum(Det.wide(col("x")) * col("x")).as("sxx"))
      d.crossJoin(broadcast(m))
        .select(col("day"), col("x"), col("n"), col("sx"), col("sxx"),
          abs(col("n") * col("x") - col("sx")).as("adev"))
        .orderBy(col("adev").desc, col("day")).limit(1)
    }
    def row(o: org.apache.spark.sql.DataFrame, r: Int) =
      o.select(lit(r).cast("int").as("round"), col("day"),
        col("x").cast("long").as("day_cents"),
        Det.quant(col("adev").cast("double")
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")), 6).as("esd_r"))
    val o1 = pick(d0).localCheckpoint()
    val d1 = d0.join(o1.select(col("day")), Seq("day"), "left_anti")
    val o2 = pick(d1).localCheckpoint()
    val d2 = d1.join(o2.select(col("day")), Seq("day"), "left_anti")
    val o3 = pick(d2).localCheckpoint()
    row(o1, 1).unionByName(row(o2, 2)).unionByName(row(o3, 3))
      .orderBy("round")
  }

  // Grubbs outlier statistic over the daily-revenue series: G =
  // max|x − mean| / sd, with the deviation ranked on the EXACT integer
  // |n·x − S| (so the argmax day is integer-deterministic, day as
  // tiebreak) and G evaluated by the algebraic identity
  // G = max|n·x − S| / √(n·Σx² − S²) — everything inside the one sqrt
  // and one division is an exact 128-bit integer. Scale: corpus → daily
  // aggregate (calendar-bounded) → single-row reduce. Audit row:
  // formula_audit.audit_grubbs.
  q("stats_grubbs",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM d
      |), dev AS (
      |  SELECT day, x, abs(CAST(n AS HUGEINT) * x - sx) AS adev
      |  FROM d, m
      |  ORDER BY adev DESC, day LIMIT 1
      |)
      |SELECT CAST(n AS BIGINT) AS n_days, dev.day AS outlier_day,
      |  CAST(dev.x AS BIGINT) AS outlier_cents,
      |  floor(CAST(adev AS DOUBLE) / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |    * 1000000 + 0.5) / 1000000 AS grubbs_g
      |FROM dev, m""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).cast("long").as("x"))
    val m = d.agg(Det.wide(count(lit(1))).as("n"),
      Det.wide(sum("x")).as("sx"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"))
    val dev = d.crossJoin(broadcast(m))
      .select(col("day"), col("x"), col("n"), col("sx"), col("sxx"),
        abs(col("n") * col("x") - col("sx")).as("adev"))
      .orderBy(col("adev").desc, col("day")).limit(1)
    dev.select(col("n").cast("long").as("n_days"),
      col("day").as("outlier_day"), col("x").cast("long").as("outlier_cents"),
      Det.quant(col("adev").cast("double")
        / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")), 6).as("grubbs_g"))
  }

  /** Unrolled-CTE oracle for ml_logreg_newton (the BPE/k-means promote
    * device): `iters` Newton steps become `iters` CTE pairs. All Newton
    * state is HUGEINT-exact between the two quantization seams — the
    * sigmoid is fixed at 1e-4 (p4) per DISTINCT cents value (P17: the
    * exp() argument set is the ≤10⁴-value histogram domain per step, so
    * the libm seam carries the same bounded-argument rationale as
    * fn_geo_haversine), and the coefficients are re-quantized at 1e-9
    * after each step, so both engines enter every iteration with
    * IDENTICAL state. Gradient/Hessian scale bookkeeping (x = v/1e4,
    * p = p4/1e4): g0 = G0/1e4, g1 = G1/1e8, h00 = H00/1e8,
    * h01 = H01/1e12, h11 = H11/1e16 ⇒ db0 = (H11·G0 − H01·G1)·1e4/D,
    * db1 = (H00·G1 − H01·G0)·1e8/D with D = H00·H11 − H01² — every
    * integer stays under ~9e30 ≪ int128. */
  private def logregOracleSql(iters: Int): String = {
    val head =
      """WITH hist AS (
        |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1
        |),
        |b0_ AS (SELECT 0.0 AS b0, 0.0 AS b1)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT CAST(SUM(n1 * (10000 - p4) - n0 * p4) AS HUGEINT) AS g0,
         |    CAST(SUM(v * (n1 * (10000 - p4) - n0 * p4)) AS HUGEINT) AS g1,
         |    SUM(CAST((n1 + n0) AS HUGEINT) * (p4 * (10000 - p4))) AS h00,
         |    SUM(CAST(v * (n1 + n0) AS HUGEINT) * (p4 * (10000 - p4))) AS h01,
         |    SUM(CAST(v AS HUGEINT) * v * (n1 + n0) * (p4 * (10000 - p4)))
         |      AS h11
         |  FROM (
         |    SELECT v, n1, n0,
         |      CAST(floor(10000.0 / (1.0 + exp(-(b0 + b1 * (v / 10000.0))))
         |        + 0.5) AS BIGINT) AS p4
         |    FROM hist, b${k - 1}_
         |  )
         |),
         |b${k}_ AS (
         |  SELECT
         |    floor((b0 + CAST(h11 * g0 - h01 * g1 AS DOUBLE)
         |      / CAST(h00 * h11 - h01 * h01 AS DOUBLE) * 10000.0)
         |      * 1000000000 + 0.5) / 1000000000 AS b0,
         |    floor((b1 + CAST(h00 * g1 - h01 * g0 AS DOUBLE)
         |      / CAST(h00 * h11 - h01 * h01 AS DOUBLE) * 100000000.0)
         |      * 1000000000 + 0.5) / 1000000000 AS b1
         |  FROM s$k, b${k - 1}_
         |)""".stripMargin
    }
    val tail =
      s"""t AS (
         |  SELECT CAST(SUM(n1 + n0) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN b0 + b1 * (v / 10000.0) > 0 THEN n1 ELSE n0
         |      END) AS BIGINT) AS correct
         |  FROM hist, b${iters}_
         |)
         |SELECT n,
         |  floor(b0 * 1000000 + 0.5) / 1000000 AS b0,
         |  floor(b1 * 1000000 + 0.5) / 1000000 AS b1,
         |  floor(CAST(correct AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         |    AS train_acc
         |FROM t, b${iters}_""".stripMargin
    (Seq(head) ++ steps :+ tail).mkString(",\n")
  }

  // Isotonic (monotone) calibration of the bucket conversion curve — the
  // PAV fit, computed NOT by the sequential pool-adjacent-violators loop
  // but by its closed-form minimax identity
  //   fit_i = max_{j ≤ i} min_{k ≥ i} wavg(j, k)
  // (Barlow et al. 1972), which is pure relational algebra: cumulative
  // sums over the ≤16-bucket frame, one bucket³ triple join (bounded by
  // the CATALOG bucket count, never the corpus), min-then-max aggregates.
  // Every wavg is one division of exact integers, so both engines
  // produce bit-identical doubles and the max/min pick identically.
  // Complements ml_calibration_ece: that measures miscalibration, this
  // REPAIRS it (the standard post-hoc calibrator a model gate applies).
  // Audit row: formula_audit.audit_isotonic (independent sequential PAV
  // implementation — a genuinely different algorithm, same fit).
  q("ml_isotonic_calibration",
    """WITH ev AS (
      |  SELECT LEAST(GREATEST(CAST(floor(value * 100 + 0.5) AS BIGINT), 0)
      |      // 2500, 15) AS b,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |), bk AS (
      |  SELECT b, CAST(SUM(y) AS BIGINT) AS n1, CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM ev GROUP BY b
      |), cu AS (
      |  SELECT b, n1, nt,
      |    CAST(SUM(n1) OVER (ORDER BY b) AS BIGINT) AS c1,
      |    CAST(SUM(nt) OVER (ORDER BY b) AS BIGINT) AS ct
      |  FROM bk
      |), pr AS (
      |  SELECT j.b AS j, k.b AS k,
      |    CAST(k.c1 - j.c1 + j.n1 AS DOUBLE) / (k.ct - j.ct + j.nt) AS avgjk
      |  FROM cu j JOIN cu k ON j.b <= k.b
      |), mn AS (
      |  SELECT i.b AS i, pr.j, MIN(pr.avgjk) AS m
      |  FROM cu i JOIN pr ON pr.j <= i.b AND i.b <= pr.k
      |  GROUP BY i.b, pr.j
      |), fit AS (
      |  SELECT i, MAX(m) AS iso FROM mn GROUP BY i
      |)
      |SELECT bk.b AS bucket, bk.nt, bk.n1,
      |  floor(CAST(bk.n1 AS DOUBLE) / bk.nt * 1000000 + 0.5) / 1000000
      |    AS raw_rate,
      |  floor(iso * 1000000 + 0.5) / 1000000 AS iso_rate
      |FROM bk JOIN fit ON fit.i = bk.b
      |ORDER BY bucket""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(least(expr(
        "greatest(cast(floor(value * 100 + 0.5) as bigint), cast(0 as bigint)) div 2500"),
        lit(15L)).as("b"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val bk = ev.groupBy("b").agg(sum("y").cast("long").as("n1"),
      count(lit(1)).cast("long").as("nt"))
    val wb = Window.orderBy("b")
    val cu = bk.select(col("b"), col("n1"), col("nt"),
      sum("n1").over(wb).cast("long").as("c1"),
      sum("nt").over(wb).cast("long").as("ct"))
    val j = cu.select(col("b").as("j"), col("n1").as("jn1"),
      col("nt").as("jnt"), col("c1").as("jc1"), col("ct").as("jct"))
    val k = cu.select(col("b").as("k"), col("c1").as("kc1"), col("ct").as("kct"))
    val pr = j.join(k, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("kc1") - col("jc1") + col("jn1")).cast("double")
          / (col("kct") - col("jct") + col("jnt"))).as("avgjk"))
    val mn = cu.select(col("b").as("i"))
      .join(pr, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy("i", "j").agg(min("avgjk").as("m"))
    val fit = mn.groupBy("i").agg(max("m").as("iso"))
    bk.join(fit, col("i") === col("b"))
      .select(col("b").as("bucket"), col("nt"), col("n1"),
        Det.quant(col("n1").cast("double") / col("nt"), 6).as("raw_rate"),
        Det.quant(col("iso"), 6).as("iso_rate"))
      .orderBy("bucket")
  }

  // Negative-binomial fit of the per-user event-count distribution by the
  // method of moments — the overdispersed count model a Poisson
  // assumption fails on (events_overdispersion DETECTS the
  // overdispersion; this fits the model that accommodates it):
  // p = mean/var, r = mean²/(var − mean), both from exact integer
  // user-count moments per event type. Types whose sample variance does
  // not exceed the mean (no overdispersion) emit r = 0, p = 1 — the
  // degenerate-Poisson convention, encoded identically in both engines.
  // Scale: two hash aggregates (user × type counts, then type moments).
  // Audit row: formula_audit.audit_negbin.
  q("stats_negbin_fit",
    """WITH uc AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(c) AS HUGEINT) AS s, SUM(CAST(c AS HUGEINT) * c) AS s2
      |  FROM uc GROUP BY event_type
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n_users,
      |  floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
      |    / 1000000 AS mean_count,
      |  floor(CAST(n * s2 - s * s AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1000000 + 0.5)
      |    / 1000000 AS var_count,
      |  CASE WHEN CAST(n * s2 - s * s AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |      <= CAST(s AS DOUBLE) / CAST(n AS DOUBLE) THEN 0.0 ELSE
      |    floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n * s2 - s * s AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000 + 0.5)
      |      / 1000000
      |  END AS nb_r,
      |  CASE WHEN CAST(n * s2 - s * s AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |      <= CAST(s AS DOUBLE) / CAST(n AS DOUBLE) THEN 1.0 ELSE
      |    floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n * s2 - s * s AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 1000000 + 0.5)
      |      / 1000000
      |  END AS nb_p
      |FROM m ORDER BY event_type""") { (s, dir) =>
    val uc = Tables(s, dir, "events")
      .groupBy("event_type", "user_id").agg(count(lit(1)).cast("long").as("c"))
    val m = uc.groupBy("event_type")
      .agg(Det.wide(count(lit(1))).as("n"),
        Det.wide(sum("c")).as("s"),
        sum(Det.wide(col("c")) * col("c")).as("s2"))
    val mean = col("s").cast("double") / col("n").cast("double")
    val vr = (col("n") * col("s2") - col("s") * col("s")).cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    m.select(col("event_type"), col("n").cast("long").as("n_users"),
        Det.quant(mean, 6).as("mean_count"),
        Det.quant(vr, 6).as("var_count"),
        when(vr <= mean, lit(0.0)).otherwise(
          Det.quant(mean * mean / (vr - mean), 6))
          .as("nb_r"),
        when(vr <= mean, lit(1.0)).otherwise(
          Det.quant(mean / vr, 6)).as("nb_p"))
      .orderBy("event_type")
  }

  // Cook's distance per day on the daily-revenue-vs-time OLS — the
  // influence diagnostic that answers which single day is DRIVING the
  // fitted trend (a spike day can own the slope; residual size alone
  // can't see it because high-leverage points pull the line toward
  // themselves). Corpus → calendar-bounded daily aggregate; one broadcast
  // moment frame; per-day leverage via the all-integer identity
  // h_i = 1/n + (n·x_i − Sx)² / (n·(n·Sxx − Sx²)), residuals and RSS via
  // the moment identity RSS = Syy − b0·Sy − b1·Sxy, and
  // D_i = e²·h / (2·s²·(1−h)²) as one fixed double tree, quantized.
  // Audit row: formula_audit.audit_cooks.
  q("ml_cooks_distance",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS x,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) // 100 AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
      |    CAST(SUM(y) AS HUGEINT) AS sy, SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM d
      |), b AS (
      |  SELECT n, sx, sy, sxx, sxy, syy,
      |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |      AS b1
      |  FROM m
      |), f AS (
      |  SELECT n, sx, sxx, b1,
      |    (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
      |      AS b0,
      |    (CAST(syy AS DOUBLE)
      |      - (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
      |        * CAST(sy AS DOUBLE)
      |      - b1 * CAST(sxy AS DOUBLE)) / (CAST(n AS DOUBLE) - 2) AS s2
      |  FROM b
      |)
      |SELECT day, CAST(d.x AS BIGINT) AS day_idx, d.y AS revenue_dollars,
      |  floor((CAST(d.y AS DOUBLE) - b0 - b1 * d.x) * 10000 + 0.5) / 10000
      |    AS residual,
      |  floor((1.0 / CAST(n AS DOUBLE)
      |    + CAST((n * d.x - sx) * (n * d.x - sx) AS DOUBLE)
      |      / CAST(n * (n * sxx - sx * sx) AS DOUBLE)) * 1000000 + 0.5)
      |    / 1000000 AS leverage,
      |  floor(
      |    (CAST(d.y AS DOUBLE) - b0 - b1 * d.x)
      |      * (CAST(d.y AS DOUBLE) - b0 - b1 * d.x)
      |      * (1.0 / CAST(n AS DOUBLE)
      |        + CAST((n * d.x - sx) * (n * d.x - sx) AS DOUBLE)
      |          / CAST(n * (n * sxx - sx * sx) AS DOUBLE))
      |      / (2 * s2
      |        * (1 - (1.0 / CAST(n AS DOUBLE)
      |          + CAST((n * d.x - sx) * (n * d.x - sx) AS DOUBLE)
      |            / CAST(n * (n * sxx - sx * sx) AS DOUBLE)))
      |        * (1 - (1.0 / CAST(n AS DOUBLE)
      |          + CAST((n * d.x - sx) * (n * d.x - sx) AS DOUBLE)
      |            / CAST(n * (n * sxx - sx * sx) AS DOUBLE))))
      |    * 1000000 + 0.5) / 1000000 AS cooks_d
      |FROM d, f ORDER BY day""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        datediff(to_date(date_trunc("day", col("ts"))),
          lit("2024-01-01").cast("date")).cast("long").as("x"))
      .agg(expr("sum(cast(floor(value * 100 + 0.5) as bigint)) div 100")
        .cast("long").as("y"))
    val m = d.agg(Det.wide(count(lit(1))).as("n"),
      Det.wide(sum("x")).as("sx"),
      Det.wide(sum("y")).as("sy"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"),
      sum(Det.wide(col("x")) * col("y")).as("sxy"),
      sum(Det.wide(col("y")) * col("y")).as("syy"))
    val b1 = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val b0 = (col("sy").cast("double") - b1 * col("sx").cast("double")) /
      col("n").cast("double")
    val s2 = (col("syy").cast("double") - b0 * col("sy").cast("double")
      - b1 * col("sxy").cast("double")) / (col("n").cast("double") - 2)
    val e = col("y").cast("double") - b0 - b1 * col("x")
    val h = lit(1.0) / col("n").cast("double") +
      ((col("n") * col("x") - col("sx")) * (col("n") * col("x") - col("sx")))
        .cast("double") /
      (col("n") * (col("n") * col("sxx") - col("sx") * col("sx"))).cast("double")
    d.crossJoin(broadcast(m))
      .select(col("day"), col("x").cast("long").as("day_idx"),
        col("y").as("revenue_dollars"),
        Det.quant(e, 4).as("residual"),
        Det.quant(h, 6).as("leverage"),
        Det.quant(e * e * h / (lit(2) * s2 * (lit(1) - h) * (lit(1) - h)), 6).as("cooks_d"))
      .orderBy("day")
  }

  /** Unrolled-CTE oracle for ml_gmm_em: moment-derived deterministic init
    * (μ = mean ∓ sd, shared variance, w = 0.5) then `iters` E+M steps as
    * CTE layers. Responsibilities are quantized at 1e-6 per DISTINCT
    * cents value (P17 — the exp() argument set is the histogram domain ×
    * 2 components per step) and parameters re-quantized at 1e-9 after
    * each M step, so both engines enter every round with identical
    * state; the weighted sums between the seams are HUGEINT-exact
    * (c·r6·v² ≤ 6e19 ≪ int128). An underflow tie (both scaled
    * likelihoods 0.0) falls back to responsibility 0.5 in both engines.
    * Each M step is TWO CTE layers because the new variance references
    * the already-quantized new mean. */
  private def gmmOracleSql(iters: Int): String = {
    val head =
      """WITH hist AS (
        |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1
        |),
        |mom AS (
        |  SELECT CAST(SUM(c) AS HUGEINT) AS n, CAST(SUM(c * v) AS HUGEINT) AS s,
        |    SUM(CAST(c AS HUGEINT) * v * v) AS s2
        |  FROM hist
        |),
        |g0a AS (
        |  SELECT CAST(n AS BIGINT) AS n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mean,
        |    sqrt(CAST(n * s2 - s * s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100000000.0) AS sd
        |  FROM mom
        |),
        |g0 AS (
        |  SELECT n, 0.5 AS w1,
        |    floor((mean - sd) * 1000000000 + 0.5) / 1000000000 AS mu1,
        |    floor((mean + sd) * 1000000000 + 0.5) / 1000000000 AS mu2,
        |    greatest(floor(sd * sd * 1000000000 + 0.5) / 1000000000,
        |             0.00000001) AS v1,
        |    greatest(floor(sd * sd * 1000000000 + 0.5) / 1000000000,
        |             0.00000001) AS v2
        |  FROM g0a
        |)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""e$k AS (
         |  SELECT SUM(c * r6) AS rr1, SUM(c * (1000000 - r6)) AS rr2,
         |    SUM(CAST(c * r6 AS HUGEINT) * v) AS m1,
         |    SUM(CAST(c * (1000000 - r6) AS HUGEINT) * v) AS m2,
         |    SUM(CAST(c * r6 AS HUGEINT) * v * v) AS q1,
         |    SUM(CAST(c * (1000000 - r6) AS HUGEINT) * v * v) AS q2,
         |    CAST(SUM(c) AS BIGINT) AS n
         |  FROM (
         |    SELECT v, c, CAST(floor(
         |      (CASE WHEN l1 + l2 > 0 THEN l1 / (l1 + l2) ELSE 0.5 END)
         |      * 1000000 + 0.5) AS BIGINT) AS r6
         |    FROM (
         |      SELECT v, c,
         |        w1 * exp(-((v / 10000.0 - mu1) * (v / 10000.0 - mu1))
         |          / (2 * v1)) / sqrt(v1) AS l1,
         |        (1 - w1) * exp(-((v / 10000.0 - mu2) * (v / 10000.0 - mu2))
         |          / (2 * v2)) / sqrt(v2) AS l2
         |      FROM hist, g${k - 1}
         |    )
         |  )
         |),
         |g${k}a AS (
         |  SELECT n,
         |    floor(CAST(rr1 AS DOUBLE) / 1000000.0 / n * 1000000000 + 0.5)
         |      / 1000000000 AS w1,
         |    floor(CAST(m1 AS DOUBLE) / CAST(rr1 AS DOUBLE) / 10000.0
         |      * 1000000000 + 0.5) / 1000000000 AS mu1,
         |    floor(CAST(m2 AS DOUBLE) / CAST(rr2 AS DOUBLE) / 10000.0
         |      * 1000000000 + 0.5) / 1000000000 AS mu2,
         |    rr1, rr2, q1, q2
         |  FROM e$k
         |),
         |g$k AS (
         |  SELECT n, w1, mu1, mu2,
         |    greatest(floor((CAST(q1 AS DOUBLE) / CAST(rr1 AS DOUBLE)
         |      / 100000000.0 - mu1 * mu1) * 1000000000 + 0.5) / 1000000000,
         |      0.00000001) AS v1,
         |    greatest(floor((CAST(q2 AS DOUBLE) / CAST(rr2 AS DOUBLE)
         |      / 100000000.0 - mu2 * mu2) * 1000000000 + 0.5) / 1000000000,
         |      0.00000001) AS v2
         |  FROM g${k}a
         |)""".stripMargin
    }
    val tail =
      s"""SELECT CAST(n AS BIGINT) AS n,
         |  floor(w1 * 1000000 + 0.5) / 1000000 AS w1,
         |  floor(mu1 * 1000000 + 0.5) / 1000000 AS mu1,
         |  floor(v1 * 1000000 + 0.5) / 1000000 AS var1,
         |  floor(mu2 * 1000000 + 0.5) / 1000000 AS mu2,
         |  floor(v2 * 1000000 + 0.5) / 1000000 AS var2
         |FROM g$iters""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  // Two-component 1-D Gaussian mixture by EM — the first DENSITY model in
  // the inventory (value-distribution decomposition: is spend one
  // population or two?). Same histogram-not-corpus shape as
  // ml_logreg_newton: one aggregate collapses events to the ≤10⁴-row
  // cents histogram, and all EM rounds run over that domain-bounded
  // frame — corpus-free iterations at 100 TB. Deterministic init from
  // exact moments (μ = mean ∓ sd, shared variance, w = ½); the graded
  // plan collects the histogram through ops.BoundedCollect and replays
  // the identical fixed-point EM in exact BigInt; the oracle unrolls the
  // 3 rounds (see gmmOracleSql for the quantization seams). Audit row:
  // formula_audit.audit_gmm (plain-float EM refit within the
  // quantization budget).
  q("ml_gmm_em", gmmOracleSql(3)) { (s, dir) =>
    val histDf = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(Det.cents(col("value")).cast("long").as("v"))
      .agg(count(lit(1)).cast("long").as("c"))
    val hist = graft.ops.BoundedCollect.rows(histDf, "gmm cents histogram")
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = hist.map(_._2).sum
    val sN = BigInt(n)
    val sS = hist.map { case (v, c) => BigInt(c * v) }.sum
    val sS2 = hist.map { case (v, c) => BigInt(c) * v * v }.sum
    val mean = sS.toDouble / sN.toDouble / 10000.0
    val sd = math.sqrt((sN * sS2 - sS * sS).toDouble
      / (sN.toDouble * sN.toDouble) / 1e8)
    var w1 = 0.5
    var mu1 = Det.quant(mean - sd, 9)
    var mu2 = Det.quant(mean + sd, 9)
    var v1 = math.max(Det.quant(sd * sd, 9), 1e-8)
    var v2 = math.max(Det.quant(sd * sd, 9), 1e-8)
    for (_ <- 1 to 3) {
      var rr1, rr2, m1, m2, q1, q2 = BigInt(0)
      for ((v, c) <- hist) {
        val x = v / 10000.0
        val l1 = w1 * math.exp(-((x - mu1) * (x - mu1)) / (2 * v1)) / math.sqrt(v1)
        val l2 = (1 - w1) * math.exp(-((x - mu2) * (x - mu2)) / (2 * v2)) / math.sqrt(v2)
        val r6 = Det.fix(if (l1 + l2 > 0) l1 / (l1 + l2) else 0.5, 6)
        rr1 += c * r6
        rr2 += c * (1000000L - r6)
        m1 += BigInt(c * r6) * v
        m2 += BigInt(c * (1000000L - r6)) * v
        q1 += BigInt(c * r6) * v * v
        q2 += BigInt(c * (1000000L - r6)) * v * v
      }
      w1 = Det.quant(rr1.toDouble / 1e6 / n, 9)
      mu1 = Det.quant(m1.toDouble / rr1.toDouble / 10000.0, 9)
      mu2 = Det.quant(m2.toDouble / rr2.toDouble / 10000.0, 9)
      v1 = math.max(Det.quant(q1.toDouble / rr1.toDouble / 1e8 - mu1 * mu1, 9), 1e-8)
      v2 = math.max(Det.quant(q2.toDouble / rr2.toDouble / 1e8 - mu2 * mu2, 9), 1e-8)
    }
    import s.implicits._
    Seq((n, Det.quant(w1, 6), Det.quant(mu1, 6), Det.quant(v1, 6),
        Det.quant(mu2, 6), Det.quant(v2, 6)))
      .toDF("n", "w1", "mu1", "var1", "mu2", "var2")
  }

  // Logistic regression (purchase-vs-view on the cent value) by Newton's
  // method — the first NON-linear model in the inventory, built on the
  // histogram-not-corpus shape every iterative op here uses: ONE corpus
  // aggregate collapses events to the ≤10⁴-row (cents, n1, n0) frame,
  // and all 3 Newton steps run over that domain-bounded frame — at
  // 100 TB the iterations are corpus-free (the same reduction that makes
  // BPE vocab-bounded). The graded plan collects the histogram through
  // ops.BoundedCollect (aggregate-bounded — the events_markov_steady
  // driver-solve class) and replays the identical fixed-point Newton
  // arithmetic in exact BigInt; the oracle unrolls the 3 steps as CTE
  // pairs (see logregOracleSql for the determinism contract and scale
  // bookkeeping). Audit row: formula_audit.audit_logreg (re-fits with
  // float Newton and checks agreement to the quantization budget).
  q("ml_logreg_newton", logregOracleSql(3)) { (s, dir) =>
    val histDf = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(Det.cents(col("value")).cast("long").as("v"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("long").as("n1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("long").as("n0"))
    val hist = graft.ops.BoundedCollect.rows(histDf, "logreg cents histogram")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var b0 = 0.0
    var b1 = 0.0
    for (_ <- 1 to 3) {
      var g0, g1, h00, h01, h11 = BigInt(0)
      for ((v, n1, n0) <- hist) {
        val z = b0 + b1 * (v / 10000.0)
        val p4 = Det.half(10000.0 / (1.0 + math.exp(-z))).toLong
        val w8 = p4 * (10000L - p4)
        val gc = n1 * (10000L - p4) - n0 * p4
        g0 += gc
        g1 += v * gc
        h00 += BigInt(n1 + n0) * w8
        h01 += BigInt(v * (n1 + n0)) * w8
        h11 += BigInt(v) * v * (n1 + n0) * w8
      }
      val det = (h00 * h11 - h01 * h01).toDouble
      b0 = Det.quant(b0 + (h11 * g0 - h01 * g1).toDouble / det * 10000.0, 9)
      b1 = Det.quant(b1 + (h00 * g1 - h01 * g0).toDouble / det * 100000000.0, 9)
    }
    val n = hist.map { case (_, n1, n0) => n1 + n0 }.sum
    val correct = hist.map { case (v, n1, n0) =>
      if (b0 + b1 * (v / 10000.0) > 0) n1 else n0
    }.sum
    import s.implicits._
    Seq((n, Det.quant(b0, 6), Det.quant(b1, 6), Det.quant(correct.toDouble / n, 6)))
      .toDF("n", "b0", "b1", "train_acc")
  }

  // Ridge regression (L2-penalized OLS) of daily purchase revenue on
  // daily clicks and distinct users — the regularized twin of
  // ml_linreg_ols for when the two activity features are collinear
  // (daily clicks and daily actives move together, so the OLS solve
  // sits near-singular and the coefficients blow up in opposite
  // directions; the ridge path is what a feature pipeline actually
  // ships). Normal equations (X'X + λ·diag(1,1,0))β = X'y — the
  // intercept is NOT penalized, hence the 0 in the diagonal — solved
  // by the same Cramer cofactor expansion over exact 128-bit integer
  // moments, with λ = 1000 fixed and documented. shrink_ratio compares
  // the penalized coefficient norm against the λ=0 (OLS) solve from
  // the SAME moments: < 1 by construction when the penalty bites.
  // Audit row: formula_audit.audit_ridge.
  q("ml_ridge_regression",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x1,
      |    COUNT(DISTINCT user_id) AS x2,
      |    SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
      |  FROM events GROUP BY 1
      |), m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) + 1000.0 AS u,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS s11,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS s12,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) + 1000.0 AS v,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS s22,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y
      |  FROM daily
      |), d AS (
      |  SELECT *,
      |    u * (v * n - s2 * s2) - s12 * (s12 * n - s2 * s1)
      |      + s1 * (s12 * s2 - v * s1) AS det,
      |    s1y * (v * n - s2 * s2) - s12 * (s2y * n - s2 * sy)
      |      + s1 * (s2y * s2 - v * sy) AS deta,
      |    u * (s2y * n - sy * s2) - s1y * (s12 * n - s2 * s1)
      |      + s1 * (s12 * sy - s2y * s1) AS detb,
      |    u * (v * sy - s2 * s2y) - s12 * (s12 * sy - s2y * s1)
      |      + s1y * (s12 * s2 - v * s1) AS detc,
      |    s11 * (s22 * n - s2 * s2) - s12 * (s12 * n - s2 * s1)
      |      + s1 * (s12 * s2 - s22 * s1) AS det0,
      |    s1y * (s22 * n - s2 * s2) - s12 * (s2y * n - s2 * sy)
      |      + s1 * (s2y * s2 - s22 * sy) AS deta0,
      |    s11 * (s2y * n - sy * s2) - s1y * (s12 * n - s2 * s1)
      |      + s1 * (s12 * sy - s2y * s1) AS detb0
      |  FROM m
      |)
      |SELECT CAST(n AS BIGINT) AS n_days, CAST(1000.0 AS DOUBLE) AS lambda,
      |  CAST(floor(deta / det * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_clicks,
      |  CAST(floor(detb / det * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_users,
      |  CAST(floor(detc / det * 100 + 0.5) AS DOUBLE) / 100 AS intercept,
      |  CAST(floor(sqrt(((deta / det) * (deta / det) + (detb / det) * (detb / det))
      |      / ((deta0 / det0) * (deta0 / det0) + (detb0 / det0) * (detb0 / det0)))
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS shrink_ratio
      |FROM d""") { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x1"),
        countDistinct(col("user_id")).as("x2"),
        sum(when(col("event_type") === "purchase",
          Det.cents(col("value")).cast("long")).otherwise(0L)).as("y"))
    val m = daily.agg(
      count(lit(1)).cast("double").as("n"),
      sum(Det.wide(col("x1"))).cast("double").as("s1"),
      sum(Det.wide(col("x2"))).cast("double").as("s2"),
      sum(Det.wide(col("y"))).cast("double").as("sy"),
      (sum(Det.wide(col("x1")) * col("x1")).cast("double") + lit(1000.0)).as("u"),
      sum(Det.wide(col("x1")) * col("x1")).cast("double").as("s11"),
      sum(Det.wide(col("x1")) * col("x2")).cast("double").as("s12"),
      (sum(Det.wide(col("x2")) * col("x2")).cast("double") + lit(1000.0)).as("v"),
      sum(Det.wide(col("x2")) * col("x2")).cast("double").as("s22"),
      sum(Det.wide(col("x1")) * col("y")).cast("double").as("s1y"),
      sum(Det.wide(col("x2")) * col("y")).cast("double").as("s2y"))
    def cramer(a11: String, a22: String) = Seq(
      (col(a11) * (col(a22) * col("n") - col("s2") * col("s2"))
        - col("s12") * (col("s12") * col("n") - col("s2") * col("s1"))
        + col("s1") * (col("s12") * col("s2") - col(a22) * col("s1"))),
      (col("s1y") * (col(a22) * col("n") - col("s2") * col("s2"))
        - col("s12") * (col("s2y") * col("n") - col("s2") * col("sy"))
        + col("s1") * (col("s2y") * col("s2") - col(a22) * col("sy"))),
      (col(a11) * (col("s2y") * col("n") - col("sy") * col("s2"))
        - col("s1y") * (col("s12") * col("n") - col("s2") * col("s1"))
        + col("s1") * (col("s12") * col("sy") - col("s2y") * col("s1"))))
    val Seq(det, deta, detb) = cramer("u", "v")
    val detc = (col("u") * (col("v") * col("sy") - col("s2") * col("s2y"))
      - col("s12") * (col("s12") * col("sy") - col("s2y") * col("s1"))
      + col("s1y") * (col("s12") * col("s2") - col("v") * col("s1")))
    val Seq(det0, deta0, detb0) = cramer("s11", "s22")
    val d = m.withColumn("det", det).withColumn("deta", deta)
      .withColumn("detb", detb).withColumn("detc", detc)
      .withColumn("det0", det0).withColumn("deta0", deta0)
      .withColumn("detb0", detb0)
    val ar = col("deta") / col("det")
    val br = col("detb") / col("det")
    val ao = col("deta0") / col("det0")
    val bo = col("detb0") / col("det0")
    d.select(col("n").cast("long").as("n_days"), lit(1000.0).as("lambda"),
      Det.quant(ar, 6)
        .as("coef_clicks"),
      Det.quant(br, 6)
        .as("coef_users"),
      Det.quant(col("detc") / col("det"), 2)
        .as("intercept"),
      Det.quant(sqrt((ar * ar + br * br) / (ao * ao + bo * bo)), 6).as("shrink_ratio"))
  }

  // Bartlett's test of variance homogeneity of event value across the
  // five event types — the parametric gate before pooling variances in
  // events_ab_welch-style analyses (Levene/Brown-Forsythe are the robust
  // siblings; Bartlett is the sensitive-but-powerful classic).
  // T = [(N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(Sᵢ²)] / C with
  // C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)).
  // Cross-engine ln discipline: each group variance is quantized to a
  // 1e-6 integer (s2fix) from EXACT 128-bit moments (nᵢ·qᵢ − sᵢ²), so
  // every ln argument is an integer (Det.lnFix contract) — and the
  // ln(10⁶) scale constants cancel exactly between the pooled and
  // per-group terms because Σ(nᵢ−1) = N−k. The 1/(nᵢ−1) correction
  // terms quantize to 1e-12 integers per group (k=5 rows), so the sum
  // is exact; T and C meet only in the final one-row double tree. The
  // corpus collapses to the k-row group frame in one pass.
  // Audit row: formula_audit.audit_bartlett.
  q("stats_bartlett",
    """WITH g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s,
      |    SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT)
      |        * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS q
      |  FROM events GROUP BY event_type
      |), f AS (
      |  SELECT n,
      |    CAST(floor(CAST(n * q - s * s AS DOUBLE) / n / (n - 1) * 1000000
      |      + 0.5) AS BIGINT) AS s2fix,
      |    CAST(floor(1.0 / (n - 1) * 1000000000000 + 0.5) AS BIGINT) AS invfix
      |  FROM g
      |), a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nt,
      |    SUM(CAST(n - 1 AS HUGEINT) * s2fix) AS pooled,
      |    SUM(CAST(n - 1 AS HUGEINT)
      |      * CAST(floor(ln(CAST(s2fix AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT))
      |      AS slns,
      |    CAST(SUM(invfix) AS BIGINT) AS sinv
      |  FROM f
      |)
      |SELECT nt AS n_total, k AS k_groups,
      |  CAST(floor((1.0 + (CAST(sinv AS DOUBLE) / 1000000000000
      |      - 1.0 / (nt - k)) / (3.0 * (k - 1))) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS corr_c,
      |  CAST(floor(CAST(CAST(nt - k AS HUGEINT)
      |        * (CAST(floor(ln(CAST(pooled AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
      |           - CAST(floor(ln(CAST(nt - k AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT))
      |        - slns AS DOUBLE) / 1000000000
      |    / (1.0 + (CAST(sinv AS DOUBLE) / 1000000000000 - 1.0 / (nt - k))
      |       / (3.0 * (k - 1))) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS chi2_bartlett
      |FROM a""") { (s, dir) =>
    val v = Det.cents(col("value")).cast("long")
    val g = Tables(s, dir, "events").groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"),
        Det.wide(sum(v)).as("s"),
        sum(Det.wide(v) * v).as("q"))
    val f = g.select(col("n"),
      Det.fix((Det.wide(col("n")) * col("q") - col("s") * col("s")).cast("double")
        / col("n") / (col("n") - 1), 6).cast("long")
        .as("s2fix"),
      Det.fix(lit(1.0) / (col("n") - 1), 12)
        .cast("long").as("invfix"))
    val a = f.agg(count(lit(1)).cast("long").as("k"),
      sum("n").cast("long").as("nt"),
      sum(Det.wide(col("n") - 1) * col("s2fix")).as("pooled"),
      sum(Det.wide(col("n") - 1) * Det.lnFix(col("s2fix"), 9)).as("slns"),
      sum("invfix").cast("long").as("sinv"))
    val corrC = lit(1.0) + (col("sinv").cast("double") / 1000000000000L
      - lit(1.0) / (col("nt") - col("k"))) / (lit(3.0) * (col("k") - 1))
    val t9 = (Det.wide(col("nt") - col("k"))
      * (Det.lnFix(col("pooled"), 9) - Det.lnFix(col("nt") - col("k"), 9))
      - col("slns")).cast("double") / 1000000000L
    a.select(col("nt").as("n_total"), col("k").as("k_groups"),
      Det.quant(corrC, 6)
        .as("corr_c"),
      Det.quant(t9 / corrC, 6)
        .as("chi2_bartlett"))
  }

  // Fisher's exact test on the 2×2 (lang = 'en') × (n_chars > 500)
  // document table — the small-margin exact sibling of
  // events_chi2_independence (χ² is asymptotic; exact p-values are what
  // a curation pipeline needs on small strata like a rare language or a
  // pilot source). Cross-engine exactness device: ln k! is a CUMSUM of
  // integer-argument lnFix values over m = 0..N (one windowed pass over
  // a generated frame, exact BIGINT), so every hypergeometric
  // log-probability is an exact integer at 1e-9 scale; per-support-point
  // p(k) = exp(lnp) quantizes to a 1e-12 integer per row (identical IEEE
  // exp tree — same boundary-probability argument as Det.lnFix), and the
  // two-sided rule "sum p(k) over k with p(k) ≤ p(observed)" compares
  // QUANTIZED integers, so set membership is deterministic in both
  // engines. Scale note: exact Fisher is for bounded tables by nature —
  // at corpus-scale margins the χ² twin takes over; the lnfact frame is
  // O(N) through one cumsum and the support collapses to the ±12σ
  // window where p(k) survives 1e-12 quantization (everything outside
  // floors to 0 and cannot change any output cell).
  // Audit row: formula_audit.audit_fisher.
  q("stats_fisher_exact",
    """WITH r AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ra,
      |    CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS rb
      |  FROM documents
      |), t AS (
      |  SELECT CAST(SUM(ra * rb) AS BIGINT) AS a,
      |    CAST(SUM(ra * (1 - rb)) AS BIGINT) AS b,
      |    CAST(SUM((1 - ra) * rb) AS BIGINT) AS c,
      |    CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS d
      |  FROM r
      |), mg AS (
      |  SELECT *, a + b AS r1, c + d AS r0, a + c AS c1, b + d AS c0,
      |    a + b + c + d AS nn
      |  FROM t
      |), lf AS (
      |  SELECT m, SUM(CASE WHEN m = 0 THEN 0
      |      ELSE CAST(floor(ln(CAST(m AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
      |    END) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS lf
      |  FROM (SELECT unnest(generate_series(0, (SELECT nn FROM mg))) AS m)
      |), cst AS (
      |  SELECT mg.*, l1.lf + l2.lf + l3.lf + l4.lf - l5.lf AS constc
      |  FROM mg JOIN lf l1 ON l1.m = mg.r1 JOIN lf l2 ON l2.m = mg.r0
      |    JOIN lf l3 ON l3.m = mg.c1 JOIN lf l4 ON l4.m = mg.c0
      |    JOIN lf l5 ON l5.m = mg.nn
      |), sgrid AS (
      |  SELECT cst.*,
      |    unnest(generate_series(greatest(0, c1 - r0), least(r1, c1))) AS k
      |  FROM cst
      |), sup AS (
      |  SELECT s.*,
      |    CAST(floor(exp(CAST(constc - lk.lf - l6.lf - l7.lf - l8.lf AS DOUBLE)
      |      / 1000000000) * 1000000000000 + 0.5) AS BIGINT) AS pfix
      |  FROM sgrid s JOIN lf lk ON lk.m = s.k
      |    JOIN lf l6 ON l6.m = s.r1 - s.k
      |    JOIN lf l7 ON l7.m = s.c1 - s.k
      |    JOIN lf l8 ON l8.m = s.r0 - s.c1 + s.k
      |), pobs AS (SELECT pfix AS pobsfix FROM sup WHERE k = a)
      |SELECT nn AS n_docs, a, b, c, d,
      |  CAST(pobsfix AS DOUBLE) / 1000000000000 AS p_obs,
      |  CAST(SUM(CASE WHEN pfix <= pobsfix THEN pfix ELSE 0 END) AS DOUBLE)
      |    / 1000000000000 AS p_two_sided,
      |  CAST(SUM(CASE WHEN k >= a THEN pfix ELSE 0 END) AS DOUBLE)
      |    / 1000000000000 AS p_greater,
      |  CASE WHEN b * c = 0 THEN NULL
      |    ELSE CAST(floor(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
      |      * 1000000 + 0.5) AS DOUBLE) / 1000000 END AS odds_ratio
      |FROM sup, pobs
      |GROUP BY nn, a, b, c, d, pobsfix""") { (s, dir) =>
    val docs = Tables(s, dir, "documents").select(
      when(col("lang") === "en", 1L).otherwise(0L).as("ra"),
      when(col("n_chars") > 500, 1L).otherwise(0L).as("rb"))
    val t = docs.agg(
      sum(col("ra") * col("rb")).cast("long").as("a"),
      sum(col("ra") * (lit(1) - col("rb"))).cast("long").as("b"),
      sum((lit(1) - col("ra")) * col("rb")).cast("long").as("c"),
      sum((lit(1) - col("ra")) * (lit(1) - col("rb"))).cast("long").as("d"))
    val mg = t.select(col("a"), col("b"), col("c"), col("d"),
      (col("a") + col("b")).as("r1"), (col("c") + col("d")).as("r0"),
      (col("a") + col("c")).as("c1"), (col("b") + col("d")).as("c0"),
      (col("a") + col("b") + col("c") + col("d")).as("nn"))
      .localCheckpoint()
    val lf = mg.select(explode(sequence(lit(0L), col("nn"))).as("m"))
      .select(col("m"),
        sum(when(col("m") === 0, 0L).otherwise(Det.lnFix(col("m"), 9)))
          .over(Window.orderBy("m").rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("lf"))
      .localCheckpoint()
    def lfAt(key: org.apache.spark.sql.Column, alias: String) =
      broadcast(lf.select(col("m").as(s"${alias}_m"), col("lf").as(alias)))
    val cst = mg
      .join(lfAt(col("r1"), "lf1"), col("r1") === col("lf1_m"))
      .join(lfAt(col("r0"), "lf2"), col("r0") === col("lf2_m"))
      .join(lfAt(col("c1"), "lf3"), col("c1") === col("lf3_m"))
      .join(lfAt(col("c0"), "lf4"), col("c0") === col("lf4_m"))
      .join(lfAt(col("nn"), "lf5"), col("nn") === col("lf5_m"))
      .withColumn("constc", col("lf1") + col("lf2") + col("lf3")
        + col("lf4") - col("lf5"))
    val sgrid = cst.withColumn("k",
      explode(sequence(greatest(lit(0L), col("c1") - col("r0")),
        least(col("r1"), col("c1")))))
    val sup = sgrid
      .join(lfAt(col("k"), "lfk"), col("k") === col("lfk_m"))
      .join(lfAt(lit(0L), "lf6"), col("r1") - col("k") === col("lf6_m"))
      .join(lfAt(lit(0L), "lf7"), col("c1") - col("k") === col("lf7_m"))
      .join(lfAt(lit(0L), "lf8"),
        col("r0") - col("c1") + col("k") === col("lf8_m"))
      .withColumn("pfix",
        Det.fix(exp((col("constc") - col("lfk") - col("lf6") - col("lf7")
          - col("lf8")).cast("double") / 1000000000L), 12).cast("long"))
    val pobs = sup.filter(col("k") === col("a"))
      .select(col("pfix").as("pobsfix"))
    sup.crossJoin(broadcast(pobs))
      .groupBy("nn", "a", "b", "c", "d", "pobsfix")
      .agg(
        sum(when(col("pfix") <= col("pobsfix"), col("pfix")).otherwise(0L))
          .as("ptwo"),
        sum(when(col("k") >= col("a"), col("pfix")).otherwise(0L))
          .as("pgt"))
      .select(col("nn").as("n_docs"), col("a"), col("b"), col("c"), col("d"),
        (col("pobsfix").cast("double") / 1000000000000L).as("p_obs"),
        (col("ptwo").cast("double") / 1000000000000L).as("p_two_sided"),
        (col("pgt").cast("double") / 1000000000000L).as("p_greater"),
        when(col("b") * col("c") === 0, lit(null).cast("double"))
          .otherwise(Det.quant(col("a").cast("double") * col("d")
            / (col("b").cast("double") * col("c")), 6)).as("odds_ratio"))
  }

  // Theil's uncertainty coefficient U(event_type | dow) — the asymmetric
  // "how much does knowing the day-of-week tell you about the event mix"
  // association readout that Cramér's V (symmetric, χ²-based) can't
  // split by direction. U(X|Y) = I(X;Y)/H(X) from the 5×7 joint count
  // table. All entropy sums use the integer-argument lnFix device
  // (counts only), so every reduction is an exact 128-bit integer sum:
  // N·10⁸·H(X) = N·lnFix(N) − Σₓ nₓ·lnFix(nₓ), and
  // N·10⁸·I = Σ n_xy·lnFix(n_xy) + N·lnFix(N) − Σ nₓ·lnFix(nₓ)
  //   − Σ n_y·lnFix(n_y); the ratios meet in one final double tree.
  // Audit row: formula_audit.audit_theil_u.
  q("stats_theil_u",
    """WITH ev AS (
      |  SELECT event_type AS x,
      |    CAST(((date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS BIGINT)
      |      AS y
      |  FROM events
      |), j AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY x, y),
      |ax AS (
      |  SELECT SUM(CAST(cx AS HUGEINT)
      |    * CAST(floor(ln(CAST(cx AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)) AS sx
      |  FROM (SELECT x, SUM(c) AS cx FROM j GROUP BY x)
      |), ay AS (
      |  SELECT SUM(CAST(cy AS HUGEINT)
      |    * CAST(floor(ln(CAST(cy AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)) AS sy
      |  FROM (SELECT y, SUM(c) AS cy FROM j GROUP BY y)
      |), aj AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    SUM(CAST(c AS HUGEINT)
      |      * CAST(floor(ln(CAST(c AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)) AS sxy
      |  FROM j
      |), m AS (
      |  SELECT n, sxy, sx, sy,
      |    CAST(n AS HUGEINT)
      |      * CAST(floor(ln(CAST(n AS DOUBLE)) * 100000000 + 0.5) AS BIGINT)
      |      AS nlnn
      |  FROM aj, ax, ay
      |)
      |SELECT n AS n_events,
      |  CAST(floor(CAST(sxy + nlnn - sx - sy AS DOUBLE) / 100000000 / n
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS mi_nats,
      |  CAST(floor(CAST(sxy + nlnn - sx - sy AS DOUBLE)
      |    / CAST(nlnn - sx AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS u_x_given_y,
      |  CAST(floor(CAST(sxy + nlnn - sx - sy AS DOUBLE)
      |    / CAST(nlnn - sy AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS u_y_given_x
      |FROM m""") { (s, dir) =>
    val ev = Tables(s, dir, "events").select(col("event_type").as("x"),
      (((datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date")) % 7) + 7) % 7).cast("long").as("y"))
    val j = ev.groupBy("x", "y").agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint()
    val ax = j.groupBy("x").agg(sum("c").as("cx"))
      .agg(sum(Det.wide(col("cx")) * Det.lnFix(col("cx"), 8)).as("sx"))
    val ay = j.groupBy("y").agg(sum("c").as("cy"))
      .agg(sum(Det.wide(col("cy")) * Det.lnFix(col("cy"), 8)).as("sy"))
    val aj = j.agg(sum("c").cast("long").as("n"),
      sum(Det.wide(col("c")) * Det.lnFix(col("c"), 8)).as("sxy"))
    val m = aj.crossJoin(broadcast(ax)).crossJoin(broadcast(ay))
      .withColumn("nlnn", Det.wide(col("n")) * Det.lnFix(col("n"), 8))
    val mi = (col("sxy") + col("nlnn") - col("sx") - col("sy")).cast("double")
    m.select(col("n").as("n_events"),
      Det.quant(mi / 100000000L / col("n"), 6).as("mi_nats"),
      Det.quant(mi / (col("nlnn") - col("sx")).cast("double"), 6).as("u_x_given_y"),
      Det.quant(mi / (col("nlnn") - col("sy")).cast("double"), 6).as("u_y_given_x"))
  }

  // Paired sign test: on how many days did purchase revenue beat click
  // revenue — the assumption-free paired-location test that completes
  // the nonparametric battery (wilcoxon-signed uses magnitudes; the
  // sign test survives even ordinal-only data). Exact integer day
  // counts (ties dropped, documented); the normal-approximation
  // z = (2k − n)/√n is one double tree.
  // Audit row: formula_audit.audit_sign_test.
  q("stats_sign_test",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS p,
      |    SUM(CASE WHEN event_type = 'click'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS c
      |  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1
      |), t AS (
      |  SELECT CAST(SUM(CASE WHEN p > c THEN 1 ELSE 0 END) AS BIGINT) AS k,
      |    CAST(SUM(CASE WHEN p <> c THEN 1 ELSE 0 END) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS n_days
      |  FROM d
      |)
      |SELECT n_days, n AS n_untied, k AS n_purchase_wins,
      |  CAST(floor((2.0 * k - n) / sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS sign_z
      |FROM t""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(when(col("event_type") === "purchase",
        Det.cents(col("value")).cast("long")).otherwise(0L)).as("p"),
        sum(when(col("event_type") === "click",
          Det.cents(col("value")).cast("long")).otherwise(0L)).as("c"))
    val t = d.agg(
      sum(when(col("p") > col("c"), 1L).otherwise(0L)).cast("long").as("k"),
      sum(when(col("p") =!= col("c"), 1L).otherwise(0L)).cast("long")
        .as("n"),
      count(lit(1)).cast("long").as("n_days"))
    t.select(col("n_days"), col("n").as("n_untied"),
      col("k").as("n_purchase_wins"),
      Det.quant((lit(2.0) * col("k") - col("n"))
        / sqrt(col("n").cast("double")), 6).as("sign_z"))
  }

  // Mix-shift decomposition of the average event value between the
  // first and second half of the observation window — the "why did the
  // metric move" readout: Δ = Σ(w₂−w₁)·m₁ (mix effect: traffic moved
  // between event types) + Σw₂·(m₂−m₁) (rate effect: types themselves
  // changed), the Oaxaca/Blinder-style split every metrics review asks
  // for. Periods split at the median day (integer day-count rule).
  // Weights and means come from exact integer cent moments; each
  // segment row is one fixed double tree quantized at 1e-6.
  // Audit row: formula_audit.audit_mix_shift.
  q("events_mix_shift",
    """WITH ev AS (
      |  SELECT event_type,
      |    CASE WHEN date_diff('day', DATE '2024-01-01',
      |      CAST(date_trunc('day', ts) AS DATE)) < 15 THEN 1 ELSE 2 END
      |      AS period,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |), g AS (
      |  SELECT event_type, period, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS HUGEINT) AS s
      |  FROM ev GROUP BY 1, 2
      |), tot AS (
      |  SELECT period, CAST(SUM(n) AS BIGINT) AS nt FROM g GROUP BY period
      |), f AS (
      |  SELECT g.event_type,
      |    MAX(CASE WHEN g.period = 1
      |      THEN CAST(g.n AS DOUBLE) / t.nt END) AS w1,
      |    MAX(CASE WHEN g.period = 2
      |      THEN CAST(g.n AS DOUBLE) / t.nt END) AS w2,
      |    MAX(CASE WHEN g.period = 1
      |      THEN CAST(g.s AS DOUBLE) / g.n / 100 END) AS m1,
      |    MAX(CASE WHEN g.period = 2
      |      THEN CAST(g.s AS DOUBLE) / g.n / 100 END) AS m2
      |  FROM g JOIN tot t ON g.period = t.period
      |  GROUP BY g.event_type
      |)
      |SELECT event_type,
      |  CAST(floor(w1 * 1000000 + 0.5) AS DOUBLE) / 1000000 AS w1,
      |  CAST(floor(w2 * 1000000 + 0.5) AS DOUBLE) / 1000000 AS w2,
      |  CAST(floor(m1 * 10000 + 0.5) AS DOUBLE) / 10000 AS m1_usd,
      |  CAST(floor(m2 * 10000 + 0.5) AS DOUBLE) / 10000 AS m2_usd,
      |  CAST(floor((w2 - w1) * m1 * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS mix_effect_usd,
      |  CAST(floor(w2 * (m2 - m1) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS rate_effect_usd
      |FROM f ORDER BY event_type""") { (s, dir) =>
    val ev = Tables(s, dir, "events").select(col("event_type"),
      when(datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date")) < 15, 1).otherwise(2).as("period"),
      Det.cents(col("value")).cast("long").as("v"))
    val g = ev.groupBy("event_type", "period")
      .agg(count(lit(1)).cast("long").as("n"),
        Det.wide(sum("v")).as("s"))
    val tot = g.groupBy("period").agg(sum("n").cast("long").as("nt"))
    val j = g.join(broadcast(tot), Seq("period"))
    val f = j.groupBy("event_type").agg(
      max(when(col("period") === 1,
        col("n").cast("double") / col("nt"))).as("w1"),
      max(when(col("period") === 2,
        col("n").cast("double") / col("nt"))).as("w2"),
      max(when(col("period") === 1,
        col("s").cast("double") / col("n") / 100)).as("m1"),
      max(when(col("period") === 2,
        col("s").cast("double") / col("n") / 100)).as("m2"))
    f.select(col("event_type"),
      Det.quant(col("w1"), 6)
        .as("w1"),
      Det.quant(col("w2"), 6)
        .as("w2"),
      Det.quant(col("m1"), 4)
        .as("m1_usd"),
      Det.quant(col("m2"), 4)
        .as("m2_usd"),
      Det.quant((col("w2") - col("w1")) * col("m1"), 6).as("mix_effect_usd"),
      Det.quant(col("w2") * (col("m2") - col("m1")), 6).as("rate_effect_usd"))
      .orderBy("event_type")
  }

  // Price elasticity of demand from the order book — the log-log OLS
  // slope of quantity on unit price over lineitem (β < 0 means demand
  // falls as price rises; |β| > 1 is elastic). Unit price quantizes to
  // integer cents per row, so both lnFix coordinates have integer
  // arguments and every regression moment is an exact 128-bit integer;
  // β, the intercept, and R² are final double trees. The corpus
  // collapses to one aggregation pass — no per-row output.
  // Audit row: formula_audit.audit_elasticity.
  q("stats_price_elasticity",
    """WITH li AS (
      |  SELECT
      |    CAST(floor(ln(CAST(CAST(floor(l_extendedprice / l_quantity * 100
      |      + 0.5) AS BIGINT) AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS x,
      |    CAST(floor(ln(CAST(CAST(floor(l_quantity + 0.5) AS BIGINT)
      |      AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS y
      |  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM li
      |)
      |SELECT n AS n_lines,
      |  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS elasticity,
      |  CAST(floor((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / n / 1000000000 * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS intercept_ln,
      |  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |    * CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE)
      |    / CAST(n * syy - sy * sy AS DOUBLE) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS r2
      |FROM m""") { (s, dir) =>
    val li = Tables(s, dir, "lineitem")
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .select(
        Det.lnFix(Det.fix(col("l_extendedprice") / col("l_quantity"), 2).cast("long"), 9).as("x"),
        Det.lnFix(Det.half(col("l_quantity")).cast("long"), 9)
          .as("y"))
    val m = li.agg(count(lit(1)).cast("long").as("n"),
      Det.wide(sum("x")).as("sx"),
      Det.wide(sum("y")).as("sy"),
      sum(Det.wide(col("x")) * col("x")).as("sxx"),
      sum(Det.wide(col("x")) * col("y")).as("sxy"),
      sum(Det.wide(col("y")) * col("y")).as("syy"))
    val num = (Det.wide(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = (Det.wide(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val deny = (Det.wide(col("n")) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    m.select(col("n").as("n_lines"),
      Det.quant(num / den, 6)
        .as("elasticity"),
      Det.quant((col("sy").cast("double") - num / den
        * col("sx").cast("double")) / col("n") / 1000000000L, 6).as("intercept_ln"),
      Det.quant(num * num / den / deny, 6).as("r2"))
  }

  // Mood's median test between the two arms on purchase value — the
  // rank-free two-sample location test that stays valid under wildly
  // unequal variances where the t-test family wobbles. The pooled
  // median is the exact LOWER median from the value histogram (first
  // cent value whose doubled cumulative count reaches n — an integer
  // rule, no interpolation, identical in both engines); ties at the
  // median are excluded (documented); χ² comes from the exact 2×2
  // above/below table with 128-bit margin products.
  // Audit row: formula_audit.audit_mood_median.
  q("stats_mood_median",
    """WITH ev AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'
      |), hist AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY v
      |), med AS (
      |  SELECT MIN(v) AS m FROM (
      |    SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS cum, (SELECT SUM(c) FROM hist) AS n
      |    FROM hist) WHERE cum * 2 >= n
      |), t AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 1 AND v > m THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN arm = 1 AND v < m THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN arm = 0 AND v > m THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN arm = 0 AND v < m THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    MAX(m) AS m
      |  FROM ev, med
      |)
      |SELECT CAST(m AS DOUBLE) / 100 AS median_usd, a AS n1_above,
      |  b AS n1_below, c AS n0_above, d AS n0_below,
      |  CAST(floor(CAST(a + b + c + d AS DOUBLE)
      |    * (CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c AS DOUBLE)
      |       * CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c AS DOUBLE))
      |    / CAST(CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
      |      AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS chi2
      |FROM t""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).cast("long").as("arm"),
        Det.cents(col("value")).cast("long").as("v"))
      .localCheckpoint()
    val hist = ev.groupBy("v").agg(count(lit(1)).cast("long").as("c"))
    val n = hist.agg(sum("c").as("n"))
    val med = hist.crossJoin(broadcast(n))
      .select(col("v"), col("n"),
        sum("c").over(Window.orderBy("v").rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("cum"))
      .filter(col("cum") * 2 >= col("n"))
      .agg(min("v").as("m"))
    val t = ev.crossJoin(broadcast(med)).agg(
      sum(when(col("arm") === 1 && col("v") > col("m"), 1L).otherwise(0L))
        .cast("long").as("a"),
      sum(when(col("arm") === 1 && col("v") < col("m"), 1L).otherwise(0L))
        .cast("long").as("b"),
      sum(when(col("arm") === 0 && col("v") > col("m"), 1L).otherwise(0L))
        .cast("long").as("c"),
      sum(when(col("arm") === 0 && col("v") < col("m"), 1L).otherwise(0L))
        .cast("long").as("d"),
      max("m").as("m"))
    val diff = (Det.wide(col("a")) * col("d") - Det.wide(col("b")) * col("c"))
      .cast("double")
    t.select((col("m").cast("double") / 100).as("median_usd"),
      col("a").as("n1_above"), col("b").as("n1_below"),
      col("c").as("n0_above"), col("d").as("n0_below"),
      Det.quant((col("a") + col("b") + col("c") + col("d")).cast("double")
        * (diff * diff)
        / (Det.wide(col("a") + col("b")) * (col("c") + col("d"))
          * (col("a") + col("c")) * (col("b") + col("d"))).cast("double"), 6).as("chi2"))
  }

  // Capture-recapture (Lincoln-Petersen + Chapman) estimate of the total
  // user population from two overlapping "samples" — clickers and
  // purchasers: N̂ = n₁·n₂/m from the marked-overlap m, the classic
  // ecology estimator that data teams reuse to size populations only
  // partially observed by any one event stream. The fixture lets us
  // grade the estimator against the TRUE user count (coverage_ratio).
  // One pass to per-user flags, exact integer counts, 128-bit products
  // before the division; Chapman's (n₁+1)(n₂+1)/(m+1) − 1 corrects the
  // small-overlap bias.
  // Audit row: formula_audit.audit_capture_recapture.
  q("stats_capture_recapture",
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s1,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s2
      |  FROM events GROUP BY user_id
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS actual_users,
      |    CAST(SUM(s1) AS BIGINT) AS n1, CAST(SUM(s2) AS BIGINT) AS n2,
      |    CAST(SUM(s1 * s2) AS BIGINT) AS overlap
      |  FROM u
      |)
      |SELECT n1, n2, overlap, actual_users,
      |  CAST(floor(CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) / overlap * 100
      |    + 0.5) AS DOUBLE) / 100 AS lp_estimate,
      |  CAST(floor((CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) AS DOUBLE)
      |    / (overlap + 1) - 1) * 100 + 0.5) AS DOUBLE) / 100
      |    AS chapman_estimate,
      |  CAST(floor((CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) AS DOUBLE)
      |    / (overlap + 1) - 1) / actual_users * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS coverage_ratio
      |FROM m""") { (s, dir) =>
    val u = Tables(s, dir, "events").groupBy("user_id").agg(
      max(when(col("event_type") === "click", 1L).otherwise(0L)).as("s1"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s2"))
    val m = u.agg(count(lit(1)).cast("long").as("actual_users"),
      sum("s1").cast("long").as("n1"), sum("s2").cast("long").as("n2"),
      sum(col("s1") * col("s2")).cast("long").as("overlap"))
    val chap = ((Det.wide(col("n1") + 1) * (col("n2") + 1)).cast("double")
      / (col("overlap") + 1) - 1)
    m.select(col("n1"), col("n2"), col("overlap"), col("actual_users"),
      Det.quant((Det.wide(col("n1")) * col("n2")).cast("double") / col("overlap"),
        2).as("lp_estimate"),
      Det.quant(chap, 2)
        .as("chapman_estimate"),
      Det.quant(chap / col("actual_users"), 6).as("coverage_ratio"))
  }

  // Bhattacharyya coefficient / distance and Hellinger distance between
  // the purchase and click value distributions ($5 buckets) — the
  // geometry-of-distributions readouts next to dq_drift_psi (bin-ratio
  // based) and dq_drift_jsd (entropy based): Hellinger is a true metric,
  // so it composes into downstream thresholds cleanly. Per-bucket
  // √(c₁·c₀) quantizes to a 1e-6 integer (sqrt of an exact 128-bit
  // product), the sum is exact, and BC normalizes by one √(N₁·N₀);
  // D_B = −ln(BC) is one bounded-argument log. Buckets come from
  // integer floor-division of cents — no float binning.
  // Audit row: formula_audit.audit_bhattacharyya.
  q("stats_bhattacharyya",
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 500 AS b,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE event_type IN ('purchase', 'click')
      |), h AS (
      |  SELECT b, CAST(SUM(y) AS BIGINT) AS c1,
      |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS c0
      |  FROM ev GROUP BY b
      |), m AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c0) AS BIGINT) AS n0,
      |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(SUM(CAST(floor(sqrt(CAST(CAST(c1 AS HUGEINT) * c0 AS DOUBLE))
      |      * 1000000 + 0.5) AS BIGINT)) AS HUGEINT) AS sbc
      |  FROM h
      |)
      |SELECT n1, n0, n_buckets,
      |  CAST(floor(CAST(sbc AS DOUBLE) / 1000000
      |    / sqrt(CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS bc_coef,
      |  CAST(floor(-ln(CAST(sbc AS DOUBLE) / 1000000
      |    / sqrt(CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE))) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS bhattacharyya_d,
      |  CAST(floor(sqrt(1 - CAST(sbc AS DOUBLE) / 1000000
      |    / sqrt(CAST(CAST(n1 AS HUGEINT) * n0 AS DOUBLE))) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS hellinger
      |FROM m""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 500")
        .as("b"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val h = ev.groupBy("b").agg(sum("y").cast("long").as("c1"),
      (count(lit(1)) - sum("y")).cast("long").as("c0"))
    val m = h.agg(sum("c1").cast("long").as("n1"),
      sum("c0").cast("long").as("n0"),
      count(lit(1)).cast("long").as("n_buckets"),
      Det.wide(sum(Det.fix(sqrt((Det.wide(col("c1")) * col("c0")).cast("double")),
        6).cast("long"))).as("sbc"))
    val bc = col("sbc").cast("double") / 1000000L /
      sqrt((Det.wide(col("n1")) * col("n0")).cast("double"))
    m.select(col("n1"), col("n0"), col("n_buckets"),
      Det.quant(bc, 6).as("bc_coef"),
      Det.quant(-log(bc), 6)
        .as("bhattacharyya_d"),
      Det.quant(sqrt(lit(1) - bc), 6).as("hellinger"))
  }

  /** Unrolled-CTE oracle for ml_adaboost_stumps: each boosting round is
    * one CTE block (cumsum → ORDER BY/LIMIT-1 argmin stump → integer α →
    * reweighted cells). Weights are 1e6-scaled integers per example; α
    * is an integer at 1e-9 via the lnFix device on the (GREATEST-guarded)
    * weight sums; the reweight multiplies integer weights by exp(±α) and
    * floors back to integers (one distinct exp argument per round — the
    * P17 bounded-argument libm seam); the final vote H = Σ α₉·h(v) is an
    * exact integer comparison, no doubles anywhere in the verdict. */
  private def adaboostOracleSql(rounds: Int): String = {
    val head =
      """WITH hist AS (
        |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1
        |),
        |w0 AS (SELECT v, n1 * 1000000 AS wp, n0 * 1000000 AS wn FROM hist)""".stripMargin
    val steps = (1 to rounds).map { k =>
      val p = k - 1
      s"""tot$k AS (
         |  SELECT CAST(SUM(wp) AS BIGINT) AS wpt, CAST(SUM(wn) AS BIGINT) AS wnt,
         |    CAST(SUM(wp + wn) AS BIGINT) AS wt
         |  FROM w$p
         |), cum$k AS (
         |  SELECT v, wp, wn,
         |    COALESCE(SUM(wp) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND 1 PRECEDING), 0) AS cpl,
         |    COALESCE(SUM(wn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND 1 PRECEDING), 0) AS cnl
         |  FROM w$p
         |), best$k AS (
         |  SELECT err, dir, theta, wt,
         |    (CAST(floor(ln(CAST(GREATEST(wt - err, 1) AS DOUBLE))
         |       * 1000000000 + 0.5) AS BIGINT)
         |     - CAST(floor(ln(CAST(GREATEST(err, 1) AS DOUBLE))
         |       * 1000000000 + 0.5) AS BIGINT)) // 2 AS al9
         |  FROM (
         |    SELECT CAST(cpl + wnt - cnl AS BIGINT) AS err, 0 AS dir,
         |      v AS theta, wt FROM cum$k, tot$k
         |    UNION ALL
         |    SELECT CAST(wpt - cpl + cnl AS BIGINT), 1, v, wt
         |    FROM cum$k, tot$k
         |  ) ORDER BY err, dir, theta LIMIT 1
         |), w$k AS (
         |  SELECT w.v,
         |    CAST(floor(w.wp * exp(CASE WHEN (b.dir = 0 AND w.v >= b.theta)
         |        OR (b.dir = 1 AND w.v < b.theta)
         |      THEN -CAST(b.al9 AS DOUBLE) / 1000000000
         |      ELSE CAST(b.al9 AS DOUBLE) / 1000000000 END) + 0.5) AS BIGINT)
         |      AS wp,
         |    CAST(floor(w.wn * exp(CASE WHEN (b.dir = 0 AND w.v >= b.theta)
         |        OR (b.dir = 1 AND w.v < b.theta)
         |      THEN CAST(b.al9 AS DOUBLE) / 1000000000
         |      ELSE -CAST(b.al9 AS DOUBLE) / 1000000000 END) + 0.5) AS BIGINT)
         |      AS wn
         |  FROM w$p w, best$k b
         |)""".stripMargin
    }
    val votes = (1 to rounds).map { k =>
      s"""CASE WHEN (b$k.dir = 0 AND hist.v >= b$k.theta)
         |  OR (b$k.dir = 1 AND hist.v < b$k.theta)
         |  THEN b$k.al9 ELSE -b$k.al9 END""".stripMargin
        .replace("\n", " ")
    }.mkString(" + ")
    val bestRefs = (1 to rounds).map(k => s"best$k b$k").mkString(", ")
    val roundCols = (1 to rounds).map { k =>
      s"""  CAST(b$k.theta AS BIGINT) AS r${k}_theta_cents,
         |  CASE WHEN b$k.dir = 0 THEN 'ge' ELSE 'lt' END AS r${k}_dir,
         |  CAST(floor(CAST(b$k.err AS DOUBLE) / b$k.wt * 1000000 + 0.5)
         |    AS DOUBLE) / 1000000 AS r${k}_eps,
         |  CAST(floor(CAST(b$k.al9 AS DOUBLE) / 1000000000 * 1000000 + 0.5)
         |    AS DOUBLE) / 1000000 AS r${k}_alpha,""".stripMargin
    }.mkString("\n")
    val tail =
      s"""t AS (
         |  SELECT CAST(SUM(n1 + n0) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN $votes > 0 THEN n1 ELSE n0 END) AS BIGINT)
         |      AS correct
         |  FROM hist, $bestRefs
         |)
         |SELECT n,
         |$roundCols
         |  CAST(floor(CAST(correct AS DOUBLE) / n * 1000000 + 0.5) AS DOUBLE)
         |    / 1000000 AS train_acc
         |FROM t, $bestRefs""".stripMargin
    (Seq(head) ++ steps :+ tail).mkString(",\n")
  }

  // AdaBoost with decision stumps (2 rounds) on the purchase-vs-view
  // value histogram — the canonical ensemble method next to
  // ml_decision_stump (one weak learner) and ml_tree_depth2 (one deep
  // learner): boosting REWEIGHTS what the previous stump got wrong.
  // Exactness devices: stumps are value-threshold rules, so per-example
  // weights depend only on the (value, label) CELL — boosting over the
  // domain-bounded histogram is exact, never per-row. Weights are
  // 1e6-scaled integers; each round's stump is an ORDER BY (err, dir, θ)
  // LIMIT 1 argmin over integer cumsum errors; α₉ is an integer from
  // the lnFix device on GREATEST-guarded weight sums; the reweight is
  // the round's ONE exp() call floored back to integer cells (P17);
  // and the final vote Σ ±α₉ is an integer comparison — the train
  // accuracy has no float path at all.
  // Audit row: formula_audit.audit_adaboost.
  q("ml_adaboost_stumps", adaboostOracleSql(2)) { (s, dir) =>
    val hist = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(Det.cents(col("value")).cast("long").as("v"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .cast("long").as("n1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("long").as("n0"))
      .localCheckpoint()
    val w0 = hist.select(col("v"), (col("n1") * 1000000L).as("wp"),
      (col("n0") * 1000000L).as("wn"))
    def boostRound(w: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val tot = w.agg(sum("wp").cast("long").as("wpt"),
        sum("wn").cast("long").as("wnt"),
        sum(col("wp") + col("wn")).cast("long").as("wt"))
      val wPrev = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = w.select(col("v"), col("wp"), col("wn"),
        coalesce(sum("wp").over(wPrev), lit(0L)).as("cpl"),
        coalesce(sum("wn").over(wPrev), lit(0L)).as("cnl"))
        .crossJoin(broadcast(tot))
      val cand = cum.select(
        (col("cpl") + col("wnt") - col("cnl")).cast("long").as("err"),
        lit(0).as("dir"), col("v").as("theta"), col("wt"))
        .unionByName(cum.select(
          (col("wpt") - col("cpl") + col("cnl")).cast("long").as("err"),
          lit(1).as("dir"), col("v").as("theta"), col("wt")))
      val best = cand.orderBy("err", "dir", "theta").limit(1)
        .withColumn("al9", expr(
          "(CAST(floor(ln(CAST(GREATEST(wt - err, 1) AS DOUBLE)) " +
            "* 1000000000 + 0.5) AS BIGINT) " +
            "- CAST(floor(ln(CAST(GREATEST(err, 1) AS DOUBLE)) " +
            "* 1000000000 + 0.5) AS BIGINT)) div 2"))
        .localCheckpoint()
      val predPos = (col("dir") === 0 && col("v") >= col("theta")) ||
        (col("dir") === 1 && col("v") < col("theta"))
      val alpha = col("al9").cast("double") / 1000000000L
      val nextW = w.crossJoin(broadcast(best)).select(col("v"),
        Det.half(col("wp") * exp(when(predPos, -alpha).otherwise(alpha))).cast("long").as("wp"),
        Det.half(col("wn") * exp(when(predPos, alpha).otherwise(-alpha))).cast("long").as("wn"))
      (best, nextW)
    }
    val (b1, w1) = boostRound(w0)
    val (b2, _) = boostRound(w1)
    def vote(b: String) =
      when((col(s"${b}_dir") === 0 && col("v") >= col(s"${b}_theta")) ||
        (col(s"${b}_dir") === 1 && col("v") < col(s"${b}_theta")),
        col(s"${b}_al9")).otherwise(-col(s"${b}_al9"))
    def tagged(b: org.apache.spark.sql.DataFrame, nn: String) = broadcast(
      b.select(col("err").as(s"${nn}_err"), col("dir").as(s"${nn}_dir"),
        col("theta").as(s"${nn}_theta"), col("wt").as(s"${nn}_wt"),
        col("al9").as(s"${nn}_al9")))
    val t = hist.crossJoin(tagged(b1, "b1")).crossJoin(tagged(b2, "b2"))
      .agg(sum(col("n1") + col("n0")).cast("long").as("n"),
        sum(when(vote("b1") + vote("b2") > 0, col("n1")).otherwise(col("n0")))
          .cast("long").as("correct"))
    def roundCols(nn: String, idx: Int) = Seq(
      col(s"${nn}_theta").cast("long").as(s"r${idx}_theta_cents"),
      when(col(s"${nn}_dir") === 0, "ge").otherwise("lt").as(s"r${idx}_dir"),
      Det.quant(col(s"${nn}_err").cast("double") / col(s"${nn}_wt"), 6).as(s"r${idx}_eps"),
      Det.quant(col(s"${nn}_al9").cast("double") / 1000000000L, 6).as(s"r${idx}_alpha"))
    t.crossJoin(tagged(b1, "b1")).crossJoin(tagged(b2, "b2"))
      .select(col("n") +: (roundCols("b1", 1) ++ roundCols("b2", 2)
        :+ (Det.quant(col("correct").cast("double") / col("n"), 6).as("train_acc"))): _*)
  }

  // Benjamini–Hochberg FDR correction — the multiple-testing control a
  // metrics pipeline needs the moment it runs one test per segment: one
  // chi²-independence test per (event_type × 6-hour bin) over the DENSE
  // user-parity × 3-value-bucket grid (a zero-count cell still
  // contributes its expected mass; dof = 2 so p = exp(−χ²/2) is CLOSED
  // FORM — no incomplete-gamma), then reject the k smallest p-values
  // where k = max{i : p(i) ≤ (i/m)·α}, α = 0.05 and m IS the test count
  // (never hardcoded — segments can vanish at small SF). Exactness:
  // cell χ² terms quantize to 1e-9 BIGINTs before the sum (order-free);
  // p quantizes to p9; the BH boundary cross-multiplies integers
  // (p9·m ≤ i·α·1e9), so the accept/reject frontier is an integer
  // comparison in both engines.
  // Audit row: formula_audit.audit_bh_fdr.
  q("stats_bh_fdr",
    """WITH ev AS (
      |  SELECT event_type, (EXTRACT(hour FROM ts) // 6) AS hbin,
      |    user_id % 2 AS arm,
      |    CAST(CASE WHEN value < 20 THEN 0 WHEN value < 55 THEN 1 ELSE 2 END
      |      AS BIGINT) AS vb
      |  FROM events
      |), grid AS (
      |  SELECT g.event_type, g.hbin, a.arm, v.vb
      |  FROM (SELECT DISTINCT event_type, hbin FROM ev) g
      |  CROSS JOIN (SELECT unnest(range(0, 2)) AS arm) a
      |  CROSS JOIN (SELECT unnest(range(0, 3)) AS vb) v
      |), cells AS (
      |  SELECT gr.event_type, gr.hbin, gr.arm, gr.vb,
      |    CAST(COALESCE(c.o, 0) AS BIGINT) AS o
      |  FROM grid gr LEFT JOIN (
      |    SELECT event_type, hbin, arm, vb, COUNT(*) AS o
      |    FROM ev GROUP BY 1, 2, 3, 4) c
      |  ON gr.event_type = c.event_type AND gr.hbin = c.hbin
      |    AND gr.arm = c.arm AND gr.vb = c.vb
      |), mg AS (
      |  SELECT event_type, hbin, arm, vb, o,
      |    CAST(SUM(o) OVER (PARTITION BY event_type, hbin, arm) AS BIGINT) AS rt,
      |    CAST(SUM(o) OVER (PARTITION BY event_type, hbin, vb) AS BIGINT) AS ct,
      |    CAST(SUM(o) OVER (PARTITION BY event_type, hbin) AS BIGINT) AS n
      |  FROM cells
      |), chi AS (
      |  SELECT event_type, hbin,
      |    CAST(SUM(CASE WHEN rt > 0 AND ct > 0 THEN CAST(floor(
      |      (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
      |      * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
      |      / (CAST(rt AS DOUBLE) * ct / n) * 1000000000 + 0.5) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS chi9
      |  FROM mg GROUP BY 1, 2
      |), p AS (
      |  SELECT event_type, hbin, chi9,
      |    CAST(floor(exp(-(CAST(chi9 AS DOUBLE) / 1000000000) / 2)
      |      * 1000000000 + 0.5) AS BIGINT) AS p9
      |  FROM chi
      |), rk AS (
      |  SELECT *, row_number() OVER (ORDER BY p9, event_type, hbin) AS rnk,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m
      |  FROM p
      |), kstar AS (
      |  SELECT COALESCE(MAX(CASE WHEN p9 * m <= rnk * 50000000 THEN rnk END),
      |    0) AS k FROM rk
      |)
      |SELECT event_type, CAST(hbin AS INT) AS hbin,
      |  floor(CAST(chi9 AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000
      |    AS chi2,
      |  CAST(p9 AS DOUBLE) / 1000000000 AS p_value,
      |  CAST(rnk AS BIGINT) AS p_rank,
      |  (rnk <= k) AS rejected
      |FROM rk, kstar ORDER BY p_rank""") { (s, dir) =>
    val ev = Tables(s, dir, "events").select(col("event_type"),
      floor(hour(col("ts")) / 6).cast("long").as("hbin"),
      (col("user_id") % 2).as("arm"),
      when(col("value") < 20, 0L).when(col("value") < 55, 1L).otherwise(2L)
        .as("vb"))
    // dense 2×3 cell grid per test group: a zero-count cell still
    // contributes its expected mass e to χ² ((0−e)²/e = e) — summing only
    // OBSERVED cells understates the statistic on sparse segments
    val grid = ev.select("event_type", "hbin").distinct()
      .crossJoin(broadcast(s.range(0, 2).select(col("id").as("arm"))))
      .crossJoin(broadcast(s.range(0, 3).select(col("id").as("vb"))))
    val cells = grid.join(
        ev.groupBy("event_type", "hbin", "arm", "vb")
          .agg(count(lit(1)).as("oc")),
        Seq("event_type", "hbin", "arm", "vb"), "left")
      .select(col("event_type"), col("hbin"), col("arm"), col("vb"),
        coalesce(col("oc"), lit(0L)).cast("long").as("o"))
    def wOver(ks: String*) = Window.partitionBy(ks.map(col): _*)
    val mg = cells.select(col("event_type"), col("hbin"), col("o"),
      sum("o").over(wOver("event_type", "hbin", "arm")).cast("long").as("rt"),
      sum("o").over(wOver("event_type", "hbin", "vb")).cast("long").as("ct"),
      sum("o").over(wOver("event_type", "hbin")).cast("long").as("n"))
    val e = col("rt").cast("double") * col("ct") / col("n")
    val chi = mg.groupBy("event_type", "hbin")
      .agg(sum(when(col("rt") > 0 && col("ct") > 0,
        Det.fix((col("o").cast("double") - e) * (col("o").cast("double") - e)
          / e, 9).cast("long")).otherwise(0L))
        .cast("long").as("chi9"))
    val p = chi.select(col("event_type"), col("hbin"), col("chi9"),
      Det.fix(exp(-(col("chi9").cast("double") / 1000000000L) / 2), 9).cast("long").as("p9"))
    val rk = p.withColumn("rnk",
        row_number().over(Window.orderBy("p9", "event_type", "hbin")))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy()).cast("long"))
    // m is DERIVED from the test count (cross-multiplied, exact
    // integers): p(i) ≤ (i/m)·α ⇔ p9·m ≤ i·α·1e9, α = 0.05
    val kstar = rk.agg(coalesce(max(when(
      col("p9") * col("m") <= col("rnk") * 50000000L,
      col("rnk"))), lit(0)).as("k"))
    rk.crossJoin(broadcast(kstar))
      .select(col("event_type"), col("hbin").cast("int").as("hbin"),
        Det.quant(col("chi9").cast("double") / 1000000000L, 6).as("chi2"),
        (col("p9").cast("double") / 1000000000L).as("p_value"),
        col("rnk").cast("long").as("p_rank"),
        (col("rnk") <= col("k")).as("rejected"))
      .orderBy("p_rank")
  }

  // Hashing-trick featurizer (feature hashing): vocabulary-free feature →
  // bucket mapping via an 8-bit slice of md5 (2 hex digits = the classic
  // hash & mask low-bits form; a positional base-16 fold modulo a power
  // of two would silently kill every digit above the low two) —
  // the fixed-width featurizer that needs NO vocabulary broadcast or
  // fit pass, which at 100 TB is the difference between a map-only
  // stage and a two-pass dictionary build. Graded readout is the
  // collision profile (load → bucket count histogram + occupancy +
  // distinct-token count), the quantity that sizes the bucket budget.
  // Hex digits decode via ascii() arithmetic — same tree in both
  // engines; md5 is identical by definition.
  q("ml_feature_hashing",
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      |  FROM documents
      |), tok AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(w)),
      |    i -> w[i] || ' ' || w[i + 1])) AS t
      |  FROM tk WHERE len(w) >= 2
      |), hx AS (
      |  SELECT t, md5(t) AS m FROM tok WHERE t <> ''
      |), bk AS (
      |  SELECT t,
      |    (ascii(substring(m, 1, 1))
      |        - CASE WHEN ascii(substring(m, 1, 1)) >= 97 THEN 87 ELSE 48 END)
      |      * 16
      |     + (ascii(substring(m, 2, 1))
      |        - CASE WHEN ascii(substring(m, 2, 1)) >= 97 THEN 87 ELSE 48 END)
      |    AS bucket
      |  FROM hx
      |), load AS (
      |  SELECT bucket, COUNT(*) AS n_tokens FROM bk GROUP BY bucket
      |)
      |SELECT CAST(n_tokens AS BIGINT) AS bucket_load,
      |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_at_load
      |FROM load GROUP BY n_tokens ORDER BY bucket_load""") { (s, dir) =>
    def hexAt(i: Int) = {
      val a = ascii(substring(col("m"), i, 1))
      a - when(a >= 97, 87).otherwise(48)
    }
    // features = distinct token BIGRAMS (the fixture unigram vocabulary
    // is ~31 words — bigrams give the collision profile something to
    // profile), hashed into 256 buckets. Empty words are dropped BEFORE
    // bigram construction on both sides (r12 advice): Spark's split()
    // (Java regex) drops trailing empty tokens while DuckDB's
    // string_split keeps them, so a doc ending in a space would
    // otherwise create oracle-only bigrams — the explicit filter makes
    // parity hold by construction instead of by fixture luck.
    val tok = Tables(s, dir, "documents")
      .select(filter(split(lower(col("text")), " "),
        x => x =!= "").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
        .as("t"))
      .distinct()
      .filter(col("t") =!= "")
    val bk = tok.select(col("t"), md5(col("t")).as("m"))
      .select(col("t"), (hexAt(1) * 16 + hexAt(2)).as("bucket"))
    bk.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
      .groupBy(col("n_tokens").cast("long").as("bucket_load"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum("n_tokens").cast("long").as("tokens_at_load"))
      .orderBy("bucket_load")
  }

  // Gradient-boosted regression stumps (squared loss, 2 rounds) — the
  // third ensemble next to ml_decision_stump (one learner) and
  // ml_adaboost_stumps (reweighting): boosting here fits each stump to
  // the RESIDUALS of the model so far, which for squared loss IS
  // gradient boosting. Exactness devices: target = integer cents,
  // feature = hour-of-day, so the whole chain runs on the 24-row hour
  // histogram — a leaf update is constant per side, hence the residual
  // MOMENTS update in closed integer form (s' = s − n·c, s2' = s2 −
  // 2·c·s + n·c²) with no per-row recompute, ever. Split argmin ranks
  // the two-sided SSE by its 1e-2 fixed image with the hour tiebreak;
  // leaves are floor-of-double integer-cent means (the kmeans device);
  // each round's RSS is an exact BIGINT Σs2. At 100 TB: ONE pass over
  // events builds the histogram; both boosting rounds are arithmetic on
  // 24 broadcast rows.
  // Audit row: formula_audit.audit_gbt_stumps.
  q("ml_gbt_stumps",
    """WITH ev AS (
      |  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      |  FROM events
      |), hist AS (
      |  SELECT h, CAST(COUNT(*) AS BIGINT) AS nh, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(y * y) AS BIGINT) AS sy2
      |  FROM ev GROUP BY h
      |), base AS (
      |  SELECT CAST(SUM(nh) AS BIGINT) AS n,
      |    CAST(floor(CAST(SUM(sy) AS DOUBLE) / CAST(SUM(nh) AS BIGINT) + 0.5)
      |      AS BIGINT) AS m0
      |  FROM hist
      |), h0 AS (
      |  SELECT h, nh, sy - nh * m0 AS s,
      |    sy2 - 2 * m0 * sy + nh * m0 * m0 AS s2
      |  FROM hist, base
      |), cum1 AS (
      |  SELECT h, CAST(SUM(nh) OVER w AS BIGINT) AS nl,
      |    CAST(SUM(s) OVER w AS BIGINT) AS sl,
      |    CAST(SUM(s2) OVER w AS BIGINT) AS s2l,
      |    CAST(SUM(nh) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(s) OVER () AS BIGINT) AS st,
      |    CAST(SUM(s2) OVER () AS BIGINT) AS s2t
      |  FROM h0 WINDOW w AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND CURRENT ROW)
      |), best1 AS (
      |  SELECT h AS theta,
      |    CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS lc,
      |    CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS rc
      |  FROM cum1 WHERE nt - nl > 0
      |  ORDER BY CAST(floor(((CAST(s2l AS DOUBLE)
      |      - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl)
      |    + (CAST(s2t - s2l AS DOUBLE)
      |      - CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (nt - nl)))
      |    * 100 + 0.5) AS BIGINT), h
      |  LIMIT 1
      |), h1 AS (
      |  SELECT h, nh,
      |    s - nh * (CASE WHEN h <= theta THEN lc ELSE rc END) AS s,
      |    s2 - 2 * (CASE WHEN h <= theta THEN lc ELSE rc END) * s
      |      + nh * (CASE WHEN h <= theta THEN lc ELSE rc END)
      |           * (CASE WHEN h <= theta THEN lc ELSE rc END) AS s2
      |  FROM h0, best1
      |), cum2 AS (
      |  SELECT h, CAST(SUM(nh) OVER w AS BIGINT) AS nl,
      |    CAST(SUM(s) OVER w AS BIGINT) AS sl,
      |    CAST(SUM(s2) OVER w AS BIGINT) AS s2l,
      |    CAST(SUM(nh) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(s) OVER () AS BIGINT) AS st,
      |    CAST(SUM(s2) OVER () AS BIGINT) AS s2t
      |  FROM h1 WINDOW w AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND CURRENT ROW)
      |), best2 AS (
      |  SELECT h AS theta,
      |    CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS lc,
      |    CAST(floor(CAST(st - sl AS DOUBLE) / (nt - nl) + 0.5) AS BIGINT) AS rc
      |  FROM cum2 WHERE nt - nl > 0
      |  ORDER BY CAST(floor(((CAST(s2l AS DOUBLE)
      |      - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl)
      |    + (CAST(s2t - s2l AS DOUBLE)
      |      - CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (nt - nl)))
      |    * 100 + 0.5) AS BIGINT), h
      |  LIMIT 1
      |), h2 AS (
      |  SELECT h, nh,
      |    s - nh * (CASE WHEN h <= theta THEN lc ELSE rc END) AS s,
      |    s2 - 2 * (CASE WHEN h <= theta THEN lc ELSE rc END) * s
      |      + nh * (CASE WHEN h <= theta THEN lc ELSE rc END)
      |           * (CASE WHEN h <= theta THEN lc ELSE rc END) AS s2
      |  FROM h1, best2
      |), rss AS (
      |  SELECT (SELECT CAST(SUM(s2) AS BIGINT) FROM h0) AS rss0,
      |    (SELECT CAST(SUM(s2) AS BIGINT) FROM h1) AS rss1,
      |    (SELECT CAST(SUM(s2) AS BIGINT) FROM h2) AS rss2
      |)
      |SELECT n, CAST(m0 AS DOUBLE) / 100 AS f0_usd,
      |  CAST(rss0 AS DOUBLE) / 10000 AS rss0_usd2,
      |  (SELECT CAST(theta AS BIGINT) FROM best1) AS r1_theta_hour,
      |  (SELECT CAST(lc AS DOUBLE) / 100 FROM best1) AS r1_left_usd,
      |  (SELECT CAST(rc AS DOUBLE) / 100 FROM best1) AS r1_right_usd,
      |  CAST(rss1 AS DOUBLE) / 10000 AS rss1_usd2,
      |  (SELECT CAST(theta AS BIGINT) FROM best2) AS r2_theta_hour,
      |  (SELECT CAST(lc AS DOUBLE) / 100 FROM best2) AS r2_left_usd,
      |  (SELECT CAST(rc AS DOUBLE) / 100 FROM best2) AS r2_right_usd,
      |  CAST(rss2 AS DOUBLE) / 10000 AS rss2_usd2
      |FROM base, rss""") { (s, dir) =>
    import org.apache.spark.sql.DataFrame
    val ev = Tables(s, dir, "events").select(
      hour(col("ts")).cast("long").as("h"),
      Det.cents(col("value")).cast("long").as("y"))
    // r16 negative result (VERDICT ask #6), measured and REJECTED: lazy
    // checkpoints on the round frames (single-plan unrolled structure)
    // regressed this family ~25-40% both in DevProfile (gbt wall
    // 0.92 → 1.22 s, adaboost 0.85 → 1.98 s, planning-dominated) and in a
    // 9-key bench subset — the per-round eager materialization is what
    // keeps each round's AQE/broadcast work OUT of the nested execution
    // of the final action. Eager stays.
    val hist = ev.groupBy("h").agg(count(lit(1)).cast("long").as("nh"),
      sum("y").as("sy"), sum(col("y") * col("y")).as("sy2"))
      .localCheckpoint()
    val base = hist.agg(sum("nh").cast("long").as("n"),
      Det.half(sum("sy").cast("double") / sum("nh").cast("long"))
        .cast("long").as("m0"))
    val h0 = hist.crossJoin(broadcast(base)).select(col("h"), col("nh"),
      (col("sy") - col("nh") * col("m0")).as("s"),
      (col("sy2") - lit(2L) * col("m0") * col("sy")
        + col("nh") * col("m0") * col("m0")).as("s2"))
      .localCheckpoint()
    def boostRound(hPrev: DataFrame): (DataFrame, DataFrame) = {
      val wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
      val tot = hPrev.agg(sum("nh").cast("long").as("nt"),
        sum("s").cast("long").as("st"), sum("s2").cast("long").as("s2t"))
      val cum = hPrev
        .select(col("h"), sum("nh").over(wc).cast("long").as("nl"),
          sum("s").over(wc).cast("long").as("sl"),
          sum("s2").over(wc).cast("long").as("s2l"))
        .crossJoin(broadcast(tot))
      val sse = ((col("s2l").cast("double")
        - col("sl").cast("double") * col("sl").cast("double") / col("nl"))
        + ((col("s2t") - col("s2l")).cast("double")
          - (col("st") - col("sl")).cast("double")
            * (col("st") - col("sl")).cast("double")
            / (col("nt") - col("nl"))))
      val best = cum.filter(col("nt") - col("nl") > 0)
        .select(col("h").as("theta"),
          Det.half(col("sl").cast("double") / col("nl"))
            .cast("long").as("lc"),
          Det.half((col("st") - col("sl")).cast("double")
            / (col("nt") - col("nl"))).cast("long").as("rc"),
          Det.fix(sse, 2).cast("long").as("rank"))
        .orderBy("rank", "theta").limit(1)
        .select("theta", "lc", "rc")
        .localCheckpoint()
      val c = when(col("h") <= col("theta"), col("lc")).otherwise(col("rc"))
      val next = hPrev.crossJoin(broadcast(best)).select(col("h"), col("nh"),
        (col("s") - col("nh") * c).as("s"),
        (col("s2") - lit(2L) * c * col("s") + col("nh") * c * c).as("s2"))
        .localCheckpoint()
      (best, next)
    }
    val (b1, h1) = boostRound(h0)
    val (b2, h2) = boostRound(h1)
    def rssOf(hk: DataFrame, nm: String) =
      broadcast(hk.agg(sum("s2").cast("long").as(nm)))
    def leafCols(b: DataFrame, idx: Int) = broadcast(b.select(
      col("theta").cast("long").as(s"r${idx}_theta_hour"),
      (col("lc").cast("double") / 100).as(s"r${idx}_left_usd"),
      (col("rc").cast("double") / 100).as(s"r${idx}_right_usd")))
    base.crossJoin(rssOf(h0, "rss0")).crossJoin(rssOf(h1, "rss1"))
      .crossJoin(rssOf(h2, "rss2"))
      .crossJoin(leafCols(b1, 1)).crossJoin(leafCols(b2, 2))
      .select(col("n"), (col("m0").cast("double") / 100).as("f0_usd"),
        (col("rss0").cast("double") / 10000).as("rss0_usd2"),
        col("r1_theta_hour"), col("r1_left_usd"), col("r1_right_usd"),
        (col("rss1").cast("double") / 10000).as("rss1_usd2"),
        col("r2_theta_hour"), col("r2_left_usd"), col("r2_right_usd"),
        (col("rss2").cast("double") / 10000).as("rss2_usd2"))
  }

  // TOST equivalence test (two one-sided tests) of purchase value
  // between the two arms — the readout events_ab_welch cannot give: a
  // non-significant difference is NOT evidence of equivalence; TOST is.
  // With margin δ = $0.50, the arms are equivalent at α=0.05 iff
  // t_lower = (Δ+δ)/se > z₀.₉₅ AND t_upper = (Δ−δ)/se < −z₀.₉₅
  // (z-approximation 1.6449 — the Welch df is in the thousands here,
  // documented). Means and Welch se come from exact integer cent
  // moments (128-bit variance numerators); the verdict branches on the
  // identical doubles in both engines.
  // Audit row: formula_audit.audit_tost.
  q("stats_tost_equivalence",
    """WITH ev AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'
      |), g AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS HUGEINT) AS s, SUM(CAST(v AS HUGEINT) * v) AS q
      |  FROM ev GROUP BY arm
      |), m AS (
      |  SELECT
      |    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
      |    MAX(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) / n END) AS mu1,
      |    MAX(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) / n END) AS mu0,
      |    MAX(CASE WHEN arm = 1 THEN CAST(n * q - s * s AS DOUBLE)
      |      / n / (n - 1) / n END) AS se1,
      |    MAX(CASE WHEN arm = 0 THEN CAST(n * q - s * s AS DOUBLE)
      |      / n / (n - 1) / n END) AS se0
      |  FROM g
      |)
      |SELECT n1, n0,
      |  CAST(floor((mu1 - mu0) / 100 * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS diff_usd,
      |  CAST(floor(sqrt(se1 + se0) / 100 * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS se_usd,
      |  CAST(floor((mu1 - mu0 + 50) / sqrt(se1 + se0) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS t_lower,
      |  CAST(floor((mu1 - mu0 - 50) / sqrt(se1 + se0) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS t_upper,
      |  (mu1 - mu0 + 50) / sqrt(se1 + se0) > 1.6449
      |    AND (mu1 - mu0 - 50) / sqrt(se1 + se0) < -1.6449 AS equivalent
      |FROM m""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).cast("long").as("arm"),
        Det.cents(col("value")).cast("long").as("v"))
    val g = ev.groupBy("arm").agg(count(lit(1)).cast("long").as("n"),
      Det.wide(sum("v")).as("s"),
      sum(Det.wide(col("v")) * col("v")).as("q"))
    def pick(arm: Int, e: org.apache.spark.sql.Column) =
      max(when(col("arm") === arm, e))
    val seTerm = (Det.wide(col("n")) * col("q") - col("s") * col("s"))
      .cast("double") / col("n") / (col("n") - 1) / col("n")
    val m = g.agg(
      pick(1, col("n")).as("n1"), pick(0, col("n")).as("n0"),
      pick(1, col("s").cast("double") / col("n")).as("mu1"),
      pick(0, col("s").cast("double") / col("n")).as("mu0"),
      pick(1, seTerm).as("se1"), pick(0, seTerm).as("se0"))
    val se = sqrt(col("se1") + col("se0"))
    val dmu = col("mu1") - col("mu0")
    m.select(col("n1"), col("n0"),
      Det.quant(dmu / 100, 4)
        .as("diff_usd"),
      Det.quant(se / 100, 4)
        .as("se_usd"),
      Det.quant((dmu + 50) / se, 4)
        .as("t_lower"),
      Det.quant((dmu - 50) / se, 4)
        .as("t_upper"),
      ((dmu + 50) / se > 1.6449 && (dmu - 50) / se < -1.6449)
        .as("equivalent"))
  }

  // Anderson-Darling normality test of the daily-revenue series — the
  // tail-weighted member of the normality battery next to
  // stats_jarque_bera (moment-based): A-D powers up exactly where JB is
  // blind (tail departures with near-normal skew/kurtosis).
  // A² = −n − (1/n)·Σᵢ (2i−1)·[ln Φ(zᵢ) + ln(1−Φ(z_{n+1−i}))], folded
  // into ONE pass by pairing each rank i with its mirror weight:
  // per-row term = (2i−1)·lnΦ(z) + (2(n−i)+1)·ln(1−Φ(z)). Φ is the
  // Abramowitz-Stegun 26.2.17 rational polynomial (|ε|<7.5e-8) written
  // as the identical IEEE tree in both engines; each row's term
  // quantizes to a 1e-9 integer before the exact sum (ln-of-double
  // boundary risk per row ~1e-7 — the documented Det.lnFix trade, here
  // over a calendar-bounded row count). Modified statistic
  // A*² = A²·(1 + 0.75/n + 2.25/n²); 5% critical value 0.752.
  // Audit row: formula_audit.audit_anderson_darling.
  q("stats_anderson_darling", {
    val phi = (z: String) =>
      s"""(CASE WHEN $z >= 0 THEN
         |  1 - 0.3989422804014327 * exp(-($z) * ($z) / 2)
         |    * ((((1.330274429 / (1 + 0.2316419 * ($z)) - 1.821255978)
         |      / (1 + 0.2316419 * ($z)) + 1.781477937)
         |      / (1 + 0.2316419 * ($z)) - 0.356563782)
         |      / (1 + 0.2316419 * ($z)) + 0.319381530)
         |      / (1 + 0.2316419 * ($z))
         |ELSE 0.3989422804014327 * exp(-($z) * ($z) / 2)
         |    * ((((1.330274429 / (1 - 0.2316419 * ($z)) - 1.821255978)
         |      / (1 - 0.2316419 * ($z)) + 1.781477937)
         |      / (1 - 0.2316419 * ($z)) - 0.356563782)
         |      / (1 - 0.2316419 * ($z)) + 0.319381530)
         |      / (1 - 0.2316419 * ($z)) END)""".stripMargin
        .replace("\n", " ").replaceAll(" +", " ")
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
       |  FROM events GROUP BY 1
       |), m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS HUGEINT) AS s, SUM(CAST(x AS HUGEINT) * x) AS q
       |  FROM daily
       |), z AS (
       |  SELECT n,
       |    row_number() OVER (ORDER BY x, day) AS i,
       |    (x - CAST(s AS DOUBLE) / n)
       |      / sqrt(CAST(n * q - s * s AS DOUBLE) / n / (n - 1)) AS zv
       |  FROM daily, m
       |), t AS (
       |  SELECT n, CAST(floor(
       |    ((2 * i - 1) * ln(${phi("zv")})
       |     + (2 * (n - i) + 1) * ln(1 - ${phi("zv")})) * 1000000000 + 0.5)
       |    AS BIGINT) AS term
       |  FROM z
       |)
       |SELECT n AS n_days,
       |  CAST(floor((-CAST(n AS DOUBLE)
       |      - CAST(SUM(term) AS DOUBLE) / 1000000000 / n) * 1000000 + 0.5)
       |    AS DOUBLE) / 1000000 AS a2,
       |  CAST(floor((-CAST(n AS DOUBLE)
       |      - CAST(SUM(term) AS DOUBLE) / 1000000000 / n)
       |    * (1 + 0.75 / n + 2.25 / (CAST(n AS DOUBLE) * n)) * 1000000 + 0.5)
       |    AS DOUBLE) / 1000000 AS a2_star
       |FROM t GROUP BY n""".stripMargin
  }) { (s, dir) =>
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(Det.cents(col("value")).cast("long")).as("x"))
    val m = daily.agg(count(lit(1)).cast("long").as("n"),
      Det.wide(sum("x")).as("s"),
      sum(Det.wide(col("x")) * col("x")).as("q"))
    def phiOf(z: org.apache.spark.sql.Column) = {
      // left-associated exactly as the oracle spells it:
      // ((0.3989…· exp)·E) / t, E = ((((b5/t − b4)/t + b3)/t − b2)/t + b1)
      def half(t: org.apache.spark.sql.Column, zz: org.apache.spark.sql.Column) =
        lit(0.3989422804014327) * exp(-zz * zz / 2) *
          ((((lit(1.330274429) / t - 1.821255978) / t + 1.781477937) / t
            - 0.356563782) / t + 0.319381530) / t
      when(z >= 0, lit(1) - half(lit(1) + lit(0.2316419) * z, z))
        .otherwise(half(lit(1) - lit(0.2316419) * z, z))
    }
    val zf = daily.crossJoin(broadcast(m)).select(col("n"),
      row_number().over(Window.orderBy("x", "day")).as("i"),
      ((col("x") - col("s").cast("double") / col("n"))
        / sqrt((Det.wide(col("n")) * col("q") - col("s") * col("s")).cast("double")
          / col("n") / (col("n") - 1))).as("zv"))
    val t = zf.select(col("n"),
      Det.fix((lit(2) * col("i") - 1) * log(phiOf(col("zv")))
        + (lit(2) * (col("n") - col("i")) + 1)
          * log(lit(1) - phiOf(col("zv"))), 9)
        .cast("long").as("term"))
    val a2 = (-col("n").cast("double")
      - sum("term").cast("double") / 1000000000L / col("n"))
    t.groupBy("n").agg(
      Det.quant(a2, 6).as("a2"),
      Det.quant(a2 * (lit(1) + lit(0.75) / col("n")
        + lit(2.25) / (col("n").cast("double") * col("n"))), 6).as("a2_star"))
      .select(col("n").as("n_days"), col("a2"), col("a2_star"))
  }

  // Bass diffusion fit of daily signup adoption — the classic
  // innovation/imitation growth model (n_t = p·m + (q−p)·N_{t−1} −
  // (q/m)·N²_{t−1}): a growth team reads p (external pull), q (viral
  // push), m (market size), and the implied peak time from three OLS
  // coefficients. The discrete-Bass regression of daily signups on
  // cumulative signups and its square reuses the Cramer cofactor solve
  // over exact 128-bit integer moments (N ≤ total signups keeps N⁴
  // inside 128 bits far past 10⁹ users); m is the negative root of
  // c·m² + b·m + a = 0, p = a/m, q = −c·m, t* = ln(q/p)/(p+q). When the
  // fitted c is non-negative (no saturation signal in the window) the
  // model is invalid and the derived outputs are NULL by the same
  // deterministic guard in both engines.
  // Audit row: formula_audit.audit_bass.
  q("events_bass_diffusion",
    """WITH d AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM events WHERE event_type = 'signup' GROUP BY 1
      |), c AS (
      |  SELECT day, nt,
      |    COALESCE(SUM(nt) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM d
      |), m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(cum AS HUGEINT)) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(cum AS HUGEINT) * cum) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(nt AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(cum AS HUGEINT) * cum * cum) AS DOUBLE) AS s3,
      |    CAST(SUM(CAST(cum AS HUGEINT) * cum * cum * cum) AS DOUBLE) AS s4,
      |    CAST(SUM(CAST(cum AS HUGEINT) * nt) AS DOUBLE) AS s1y,
      |    CAST(SUM(CAST(cum AS HUGEINT) * cum * nt) AS DOUBLE) AS s2y
      |  FROM c
      |), f AS (
      |  SELECT
      |    (s2 * (s4 * n - s2 * s2) - s3 * (s3 * n - s2 * s1)
      |      + s1 * (s3 * s2 - s4 * s1)) AS det,
      |    (s1y * (s4 * n - s2 * s2) - s3 * (s2y * n - s2 * sy)
      |      + s1 * (s2y * s2 - s4 * sy)) AS detb,
      |    (s2 * (s2y * n - sy * s2) - s1y * (s3 * n - s2 * s1)
      |      + s1 * (s3 * sy - s2y * s1)) AS detc,
      |    (s2 * (s4 * sy - s2 * s2y) - s3 * (s3 * sy - s2y * s1)
      |      + s1y * (s3 * s2 - s4 * s1)) AS deta
      |  FROM m
      |), coefs AS (
      |  SELECT deta / det AS a, detb / det AS b, detc / det AS cc FROM f
      |), root AS (
      |  SELECT a, b, cc,
      |    CASE WHEN cc < 0 AND b * b - 4 * a * cc >= 0
      |      THEN (-b - sqrt(b * b - 4 * a * cc)) / (2 * cc) END AS mm
      |  FROM coefs
      |)
      |SELECT
      |  CAST(floor(a * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_a,
      |  CAST(floor(b * 1000000 + 0.5) AS DOUBLE) / 1000000 AS coef_b,
      |  CAST(floor(cc * 1000000000 + 0.5) AS DOUBLE) / 1000000000 AS coef_c,
      |  CAST(floor(mm * 100 + 0.5) AS DOUBLE) / 100 AS market_m,
      |  CAST(floor(a / mm * 1000000 + 0.5) AS DOUBLE) / 1000000 AS p_innov,
      |  CAST(floor(-cc * mm * 1000000 + 0.5) AS DOUBLE) / 1000000 AS q_imit,
      |  CAST(floor(ln((-cc * mm) / (a / mm)) / (a / mm + (-cc * mm))
      |    * 10000 + 0.5) AS DOUBLE) / 10000 AS peak_t
      |FROM root""") { (s, dir) =>
    val d = Tables(s, dir, "events")
      .filter(col("event_type") === "signup")
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).cast("long").as("nt"))
    val c = d.select(col("day"), col("nt"),
      coalesce(sum("nt").over(Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("cum"))
    val m = c.agg(count(lit(1)).cast("double").as("n"),
      sum(Det.wide(col("cum"))).cast("double").as("s1"),
      sum(Det.wide(col("cum")) * col("cum")).cast("double").as("s2"),
      sum(Det.wide(col("nt"))).cast("double").as("sy"),
      sum(Det.wide(col("cum")) * col("cum") * col("cum")).cast("double").as("s3"),
      sum(Det.wide(col("cum")) * col("cum") * col("cum") * col("cum"))
        .cast("double").as("s4"),
      sum(Det.wide(col("cum")) * col("nt")).cast("double").as("s1y"),
      sum(Det.wide(col("cum")) * col("cum") * col("nt")).cast("double").as("s2y"))
    val f = m.select(
      (col("s2") * (col("s4") * col("n") - col("s2") * col("s2"))
        - col("s3") * (col("s3") * col("n") - col("s2") * col("s1"))
        + col("s1") * (col("s3") * col("s2") - col("s4") * col("s1")))
        .as("det"),
      (col("s1y") * (col("s4") * col("n") - col("s2") * col("s2"))
        - col("s3") * (col("s2y") * col("n") - col("s2") * col("sy"))
        + col("s1") * (col("s2y") * col("s2") - col("s4") * col("sy")))
        .as("detb"),
      (col("s2") * (col("s2y") * col("n") - col("sy") * col("s2"))
        - col("s1y") * (col("s3") * col("n") - col("s2") * col("s1"))
        + col("s1") * (col("s3") * col("sy") - col("s2y") * col("s1")))
        .as("detc"),
      (col("s2") * (col("s4") * col("sy") - col("s2") * col("s2y"))
        - col("s3") * (col("s3") * col("sy") - col("s2y") * col("s1"))
        + col("s1y") * (col("s3") * col("s2") - col("s4") * col("s1")))
        .as("deta"))
    val coefs = f.select((col("deta") / col("det")).as("a"),
      (col("detb") / col("det")).as("b"), (col("detc") / col("det")).as("cc"))
    val root = coefs.withColumn("mm",
      when(col("cc") < 0 && col("b") * col("b") - lit(4) * col("a") * col("cc") >= 0,
        (-col("b") - sqrt(col("b") * col("b") - lit(4) * col("a") * col("cc")))
          / (lit(2) * col("cc"))))
    val p = col("a") / col("mm")
    val q6 = -col("cc") * col("mm")
    root.select(
      Det.quant(col("a"), 6)
        .as("coef_a"),
      Det.quant(col("b"), 6)
        .as("coef_b"),
      Det.quant(col("cc"), 9)
        .as("coef_c"),
      Det.quant(col("mm"), 2).as("market_m"),
      Det.quant(p, 6).as("p_innov"),
      Det.quant(q6, 6).as("q_imit"),
      Det.quant(log(q6 / p) / (p + q6), 4).as("peak_t"))
  }

  // Gamma distribution fit (method of moments) of purchase values — the
  // standard positive-skew model for transaction amounts; the (shape,
  // scale) pair feeds anomaly thresholds and synthetic-data generators
  // downstream. k̂ = μ²/σ², θ̂ = σ²/μ with POPULATION variance
  // (documented), all from one pass of exact integer cent moments:
  // σ²·n² = n·Σv² − (Σv)² is an exact 128-bit integer, so shape and
  // scale are single double trees over integers, quantized 1e-6.
  // Audit row: formula_audit.audit_gamma_fit.
  q("stats_gamma_fit",
    """WITH v AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'
      |    AND floor(value * 100 + 0.5) > 0
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS HUGEINT) AS s,
      |    SUM(CAST(v AS HUGEINT) * v) AS q
      |  FROM v
      |)
      |SELECT n,
      |  CAST(floor(CAST(s AS DOUBLE) / n / 100 * 10000 + 0.5) AS DOUBLE)
      |    / 10000 AS mean_usd,
      |  CAST(floor(CAST(n * q - s * s AS DOUBLE) / CAST(n AS DOUBLE)
      |    / CAST(n AS DOUBLE) / 10000 * 10000 + 0.5) AS DOUBLE) / 10000
      |    AS var_usd2,
      |  CAST(floor(CAST(s AS DOUBLE) * s / CAST(n * q - s * s AS DOUBLE)
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS shape,
      |  CAST(floor(CAST(n * q - s * s AS DOUBLE) / CAST(n AS DOUBLE)
      |    / CAST(s AS DOUBLE) / 100 * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS scale_usd
      |FROM m""") { (s, dir) =>
    val v = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(Det.cents(col("value")).cast("long").as("v"))
      .filter(col("v") > 0)
    val m = v.agg(count(lit(1)).cast("long").as("n"),
      Det.wide(sum("v")).as("s"),
      sum(Det.wide(col("v")) * col("v")).as("q"))
    val varNum = (Det.wide(col("n")) * col("q") - col("s") * col("s"))
      .cast("double")
    m.select(col("n"),
      Det.quant(col("s").cast("double") / col("n") / 100, 4).as("mean_usd"),
      Det.quant(varNum / col("n").cast("double") / col("n").cast("double")
        / 10000, 4).as("var_usd2"),
      Det.quant(col("s").cast("double") * col("s") / varNum, 6).as("shape"),
      Det.quant(varNum / col("n").cast("double") / col("s").cast("double")
        / 100, 6).as("scale_usd"))
  }

  // Cohen's kappa between two heuristic document-quality raters — the
  // chance-corrected agreement readout a curation pipeline needs before
  // trusting a cheap filter as a proxy for an expensive one. Rater A
  // flags docs longer than 500 chars; rater B flags docs with more than
  // 80 whitespace tokens. κ = (p_o − p_e)/(1 − p_e) from the exact 2×2
  // integer table (expected agreement from the margin products, 128-bit
  // before the multiply); one final double tree, quantized 1e-6.
  // Audit row: formula_audit.audit_cohen_kappa.
  q("ml_cohen_kappa",
    """WITH r AS (
      |  SELECT CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS ra,
      |    CASE WHEN len(string_split(text, ' ')) > 80 THEN 1 ELSE 0 END AS rb
      |  FROM documents
      |), t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(ra * rb) AS BIGINT) AS n11,
      |    CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
      |    CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
      |    CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
      |  FROM r
      |)
      |SELECT n AS n_docs, n11, n10, n01, n00,
      |  CAST(floor(CAST(n11 + n00 AS DOUBLE) / n * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS p_obs,
      |  CAST(floor(CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |      + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE)
      |    / n / n * 1000000 + 0.5) AS DOUBLE) / 1000000 AS p_exp,
      |  CAST(floor((CAST(n11 + n00 AS DOUBLE) / n
      |      - CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |        + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE) / n / n)
      |    / (1.0 - CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |        + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE) / n / n)
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS kappa
      |FROM t""") { (s, dir) =>
    val r = Tables(s, dir, "documents").select(
      when(col("n_chars") > 500, 1L).otherwise(0L).as("ra"),
      when(size(split(col("text"), " ")) > 80, 1L).otherwise(0L).as("rb"))
    val t = r.agg(count(lit(1)).cast("long").as("n"),
      sum(col("ra") * col("rb")).cast("long").as("n11"),
      sum(col("ra") * (lit(1) - col("rb"))).cast("long").as("n10"),
      sum((lit(1) - col("ra")) * col("rb")).cast("long").as("n01"),
      sum((lit(1) - col("ra")) * (lit(1) - col("rb"))).cast("long").as("n00"))
    val pObs = (col("n11") + col("n00")).cast("double") / col("n")
    val pExp = (Det.wide(col("n11") + col("n10")) * (col("n11") + col("n01"))
      + Det.wide(col("n01") + col("n00")) * (col("n10") + col("n00")))
      .cast("double") / col("n") / col("n")
    t.select(col("n").as("n_docs"), col("n11"), col("n10"), col("n01"),
      col("n00"),
      Det.quant(pObs, 6).as("p_obs"),
      Det.quant(pExp, 6).as("p_exp"),
      Det.quant((pObs - pExp) / (lit(1.0) - pExp), 6).as("kappa"))
  }
}
