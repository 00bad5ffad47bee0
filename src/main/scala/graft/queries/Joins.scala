package graft.queries

import graft.engine.{Det, QueryPack, Tables}
import graft.ops.AsofJoin
import org.apache.spark.sql.functions._

/** Join operators (SURVEY §2.3).
  *
  * Scale notes: dimension sides (region/nation/customer/part) stay far
  * below `spark.sql.autoBroadcastJoinThreshold`, so Catalyst plans
  * broadcast-hash joins with no shuffle of the fact side; `join_broadcast`
  * pins the hint explicitly. The as-of join is a library operator with one
  * shuffle and linear work (see [[graft.ops.AsofJoin]]).
  */
object Joins extends QueryPack {
  import Det._

  q("join_inner_equi",
    """SELECT o.o_orderkey, c.c_name
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o.o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders").as("o")
      .join(Tables(s, dir, "customer").as("c"),
        col("o.o_custkey") === col("c.c_custkey"), "inner")
      .select(col("o.o_orderkey"), col("c.c_name"))
      .orderBy("o_orderkey")
  }

  q("join_left_outer",
    """SELECT c.c_custkey, o.o_orderkey
      |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |ORDER BY c.c_custkey ASC NULLS FIRST, o.o_orderkey ASC NULLS FIRST""") { (s, dir) =>
    Tables(s, dir, "customer").as("c")
      .join(Tables(s, dir, "orders").as("o"),
        col("o.o_custkey") === col("c.c_custkey"), "left")
      .select(col("c.c_custkey"), col("o.o_orderkey"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  q("join_right_outer",
    """SELECT o.o_orderkey, c.c_custkey
      |FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY c.c_custkey ASC NULLS FIRST, o.o_orderkey ASC NULLS FIRST""") { (s, dir) =>
    Tables(s, dir, "orders").as("o")
      .join(Tables(s, dir, "customer").as("c"),
        col("o.o_custkey") === col("c.c_custkey"), "right")
      .select(col("o.o_orderkey"), col("c.c_custkey"))
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  q("join_full_outer",
    """SELECT n.n_nationkey, s.s_suppkey
      |FROM nation n FULL JOIN supplier s ON s.s_nationkey = n.n_nationkey
      |ORDER BY n.n_nationkey ASC NULLS FIRST, s.s_suppkey ASC NULLS FIRST""") { (s, dir) =>
    Tables(s, dir, "nation").as("n")
      .join(Tables(s, dir, "supplier").as("s"),
        col("s.s_nationkey") === col("n.n_nationkey"), "full")
      .select(col("n.n_nationkey"), col("s.s_suppkey"))
      .orderBy(col("n_nationkey").asc_nulls_first, col("s_suppkey").asc_nulls_first)
  }

  q("join_semi",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
      |ORDER BY c_custkey""") { (s, dir) =>
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders").filter(col("o_totalprice") > 150000),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  q("join_anti",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""") { (s, dir) =>
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  q("join_broadcast",
    s"""SELECT p.p_brand,
      |  ${oMoney("l.l_extendedprice * (1 - l.l_discount)")} AS promo_revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_type LIKE 'PROMO%'
      |GROUP BY p.p_brand
      |ORDER BY p.p_brand""") { (s, dir) =>
    Tables(s, dir, "lineitem").as("l")
      .join(broadcast(Tables(s, dir, "part").filter(col("p_type").like("PROMO%"))).as("p"),
        col("l.l_partkey") === col("p.p_partkey"))
      .groupBy("p_brand")
      .agg(
        money(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("promo_revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")
  }

  q("join_theta_range",
    """SELECT a.user_id, COUNT(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.ts < b.ts
      |GROUP BY a.user_id
      |ORDER BY a.user_id""") { (s, dir) =>
    val e = Tables(s, dir, "events")
    e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.ts") < col("b.ts"))
      .groupBy(col("a.user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  q("join_cross",
    """SELECT r.r_name, n.n_name
      |FROM region r CROSS JOIN nation n
      |ORDER BY r.r_name, n.n_name""") { (s, dir) =>
    Tables(s, dir, "region").as("r")
      .crossJoin(Tables(s, dir, "nation").as("n"))
      .select(col("r.r_name"), col("n.n_name"))
      .orderBy("r_name", "n_name")
  }

  q("join_asof",
    """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
      |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
      |         row_number() OVER (PARTITION BY e.event_id
      |                            ORDER BY o.o_orderdate DESC NULLS LAST,
      |                                     o.o_orderkey DESC NULLS LAST) AS rn
      |  FROM events e LEFT JOIN orders o
      |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |) WHERE rn = 1
      |ORDER BY event_id""") { (s, dir) =>
    val events = Tables(s, dir, "events").select("event_id", "user_id", "ts")
    val orders = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    AsofJoin(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"), tiebreak = "o_orderkey")
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  // As-of with a staleness tolerance: the backward match is DISCARDED
  // (payload nulled, event kept) when the matched order is more than 30
  // days older than the event — the "quote too stale to use" contract of
  // financial as-of joins. Composes the single-shuffle AsofJoin with a
  // post-join validity mask; no second scan, no extra shuffle.
  q("join_asof_tolerance",
    """SELECT event_id, user_id,
      |  CASE WHEN staleness <= 30 THEN o_orderkey END AS o_orderkey,
      |  CASE WHEN staleness <= 30 THEN staleness END AS staleness_days
      |FROM (
      |  SELECT event_id, user_id, o_orderkey,
      |    date_diff('day', CAST(o_orderdate AS DATE),
      |      CAST(date_trunc('day', ts) AS DATE)) AS staleness
      |  FROM (
      |    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
      |           row_number() OVER (PARTITION BY e.event_id
      |                              ORDER BY o.o_orderdate DESC NULLS LAST,
      |                                       o.o_orderkey DESC NULLS LAST) AS rn
      |    FROM events e LEFT JOIN orders o
      |      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |  ) WHERE rn = 1
      |)
      |ORDER BY event_id""") { (s, dir) =>
    val events = Tables(s, dir, "events").select("event_id", "user_id", "ts")
    val orders = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    val joined = AsofJoin(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_orderdate"), tiebreak = "o_orderkey")
      .withColumn("staleness",
        datediff(to_date(date_trunc("day", col("ts"))),
          col("o_orderdate").cast("date")))
    joined.select(col("event_id"), col("user_id"),
        when(col("staleness") <= 30, col("o_orderkey")).as("o_orderkey"),
        when(col("staleness") <= 30, col("staleness")).as("staleness_days"))
      .orderBy("event_id")
  }

  // FORWARD as-of: each order ↔ that customer's earliest event at-or-after
  // the order date (the "next upcoming match" direction; ties resolve to
  // the smallest event_id). Customers with no events exercise the
  // left-outer null path.
  q("join_asof_forward",
    """SELECT o_orderkey, o_custkey, event_id, ev_us FROM (
      |  SELECT o.o_orderkey, o.o_custkey, e.event_id,
      |         CAST(epoch_us(e.ts) AS BIGINT) AS ev_us,
      |         row_number() OVER (PARTITION BY o.o_orderkey
      |                            ORDER BY e.ts ASC NULLS LAST,
      |                                     e.event_id ASC NULLS LAST) AS rn
      |  FROM orders o LEFT JOIN events e
      |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |) WHERE rn = 1
      |ORDER BY o_orderkey""") { (s, dir) =>
    val orders = Tables(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val events = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
    AsofJoin(orders, events,
        leftKey = "o_custkey", rightKey = "user_id",
        leftTs = "o_orderdate", rightTs = "ts",
        payload = Seq("event_id", "ts"), tiebreak = "event_id",
        direction = "forward")
      .select(col("o_orderkey"), col("o_custkey"), col("event_id"),
        unix_micros(col("ts")).as("ev_us"))
      .orderBy("o_orderkey")
  }

  // NEAREST as-of (pandas merge_asof direction="nearest"): each purchase ↔
  // the same user's click with minimal |Δts|; |Δ| ties go to the earlier
  // (backward) click, equal-ts duplicates to its max event_id. Two linear
  // carry passes — the oracle's per-key cross join is what this avoids.
  q("join_asof_nearest",
    """SELECT p_id, user_id, click_id, click_us FROM (
      |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS click_id,
      |         CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
      |         row_number() OVER (PARTITION BY p.event_id
      |           ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC NULLS LAST,
      |                    c.ts ASC NULLS LAST,
      |                    CASE WHEN c.ts <= p.ts THEN -c.event_id
      |                         ELSE c.event_id END ASC NULLS LAST) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON c.user_id = p.user_id
      |) WHERE rn = 1
      |ORDER BY p_id""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    AsofJoin.nearest(purchases, clicks,
        leftKey = "user_id", rightKey = "c_uid",
        leftTs = "ts", rightTs = "c_ts",
        payload = Seq("click_id", "c_ts"), tiebreak = "click_id",
        leftId = "p_id")
      .select(col("p_id"), col("user_id"), col("click_id"),
        unix_micros(col("c_ts")).as("click_us"))
      .orderBy("p_id")
  }

  // same as-of semantics through the NATIVE tier-(c) operator (custom
  // LogicalPlan + SparkStrategy + SparkPlan merge exec) — graded against
  // the identical DuckDB oracle as the library-op form above
  q("join_asof_native",
    """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
      |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
      |         row_number() OVER (PARTITION BY e.event_id
      |                            ORDER BY o.o_orderdate DESC NULLS LAST,
      |                                     o.o_orderkey DESC NULLS LAST) AS rn
      |  FROM events e LEFT JOIN orders o
      |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |) WHERE rn = 1
      |ORDER BY event_id""") { (s, dir) =>
    val events = Tables(s, dir, "events").select("event_id", "user_id", "ts")
    val orders = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_orderdate"),
        col("o_orderkey"), col("o_totalprice"))
    graft.plans.AsofNative.join(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"), tiebreak = "o_orderkey")
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  q("join_interval",
    """SELECT a.event_id, COUNT(b.event_id) AS n_within_hour
      |FROM events a LEFT JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      |GROUP BY a.event_id
      |ORDER BY a.event_id""") { (s, dir) =>
    val e = Tables(s, dir, "events")
    e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("b.ts") > col("a.ts")
          && col("b.ts") <= col("a.ts") + expr("INTERVAL 1 HOUR"), "left")
      .groupBy(col("a.event_id"))
      .agg(count(col("b.event_id")).as("n_within_hour"))
      .orderBy("event_id")
  }

  // PURE range predicate (no equi key): Spark alone would plan a
  // nested-loop join; ops.RangeJoin buckets the time axis so it becomes a
  // shuffled equi-join on bucket id + exact filter (RangeJoinSpec pins the
  // no-nested-loop plan). Windows = the 5 busiest hours, derived
  // deterministically from the data itself.
  q("join_range_bucketed",
    """WITH hb AS (
      |  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n FROM events GROUP BY 1
      |), iv AS (
      |  SELECT CAST(epoch_us(h) AS BIGINT) AS lo_us,
      |         CAST(epoch_us(h) AS BIGINT) + 3599999999 AS hi_us
      |  FROM hb ORDER BY n DESC, h LIMIT 5
      |)
      |SELECT iv.lo_us, COUNT(*) AS n_events
      |FROM events e JOIN iv
      |  ON CAST(epoch_us(e.ts) AS BIGINT) BETWEEN iv.lo_us AND iv.hi_us
      |GROUP BY iv.lo_us
      |ORDER BY iv.lo_us""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val iv = Tables(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("h"))
      .limit(5)
      .select(unix_micros(col("h")).as("lo_us"),
        (unix_micros(col("h")) + lit(3599999999L)).as("hi_us"))
    graft.ops.RangeJoin.pointInInterval(ev, col("ts_us"), iv,
        col("lo_us"), col("hi_us"), bucketWidth = 15L * 60 * 1000000)
      .groupBy("lo_us")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("lo_us")
  }

  // salted implementation must be bit-identical to the plain join —
  // the oracle IS the unsalted SQL
  q("join_skew_salted",
    s"""SELECT o.o_orderstatus,
      |  COUNT(*) AS n_lines,
      |  ${oMoney("l.l_extendedprice")} AS total
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderstatus
      |ORDER BY o.o_orderstatus""") { (s, dir) =>
    graft.ops.SkewJoin.saltedEquiJoin(
        Tables(s, dir, "lineitem"), Tables(s, dir, "orders"),
        "l_orderkey", "o_orderkey",
        saltSource = Seq("l_orderkey", "l_linenumber"), buckets = 8)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        money(sum(cents(col("l_extendedprice")))).as("total"))
      .orderBy("o_orderstatus")
  }

  // dynamic partition pruning: the fact table is laid out partitioned by
  // the join column; a selective predicate on the dim side becomes a
  // runtime `dynamicpruningexpression` PartitionFilter on the fact scan,
  // so pruned partitions are never read. THE mechanism that makes
  // dim-filtered fact joins cheap on a 100 TB hive layout (pinned in
  // PlanShapeSpec). The dim must be file-backed: a VALUES relation folds
  // to a LocalRelation and loses the selective-filter detection.
  q("join_dpp",
    s"""WITH flag_dim AS (
      |  SELECT * FROM (VALUES ('A', 'keep'), ('R', 'keep'), ('N', 'drop')) t(flag, action)
      |)
      |SELECT l_returnflag, COUNT(*) AS n, ${oMoney("l_extendedprice")} AS revenue
      |FROM lineitem JOIN flag_dim ON l_returnflag = flag
      |WHERE action = 'keep'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""") { (s, dir) =>
    import s.implicits._
    val factPath = "/tmp/graft_io/dpp_lineitem"
    val dimPath = "/tmp/graft_io/dpp_flagdim"
    // repartition by the partition column before the write (r15): the
    // one-split scan otherwise writes all three hive partitions from ONE
    // task; hash-distributing on l_returnflag writes them in parallel and
    // yields one file per partition value instead of files×tasks — the
    // guide §6 layout (fewer, larger files) the DPP read then lists.
    Tables(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_returnflag")
      .repartition(col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(factPath)
    Seq(("A", "keep"), ("R", "keep"), ("N", "drop")).toDF("flag", "action")
      .write.mode("overwrite").parquet(dimPath)
    val fact = Tables.parquet(s, factPath)
    val dim = Tables.parquet(s, dimPath).filter(col("action") === "keep")
    fact.join(dim, col("l_returnflag") === col("flag"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        money(sum(cents(col("l_extendedprice")))).as("revenue"))
      .orderBy("l_returnflag")
  }

  // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
  // each other instead of vanishing — the semantics ETL reconciliation
  // needs when "unknown" buckets on both sides must pair up. Nulls are
  // derived (the graded tables are NULL-free): bucket 0 becomes NULL on
  // both sides and still joins.
  q("join_null_safe",
    """SELECT o_orderkey, r_regionkey
      |FROM (SELECT o_orderkey, nullif(o_custkey % 5, 0) AS k FROM orders) o
      |JOIN (SELECT r_regionkey, nullif(r_regionkey, 0) AS k FROM region) r
      |  ON o.k IS NOT DISTINCT FROM r.k
      |ORDER BY o_orderkey, r_regionkey""") { (s, dir) =>
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), expr("nullif(o_custkey % 5, 0)").as("k"))
    val r = Tables(s, dir, "region")
      .select(col("r_regionkey"), expr("nullif(r_regionkey, 0)").as("k2"))
    o.join(broadcast(r), col("k") <=> col("k2"))
      .select(col("o_orderkey"), col("r_regionkey"))
      .orderBy("o_orderkey", "r_regionkey")
  }

  q("join_multiway",
    s"""SELECT r.r_name, n.n_name,
      |  ${oMoney("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name, n.n_name
      |ORDER BY r.r_name, n.n_name""") { (s, dir) =>
    Tables(s, dir, "lineitem").as("l")
      .join(Tables(s, dir, "orders").as("o"), col("l.l_orderkey") === col("o.o_orderkey"))
      .join(Tables(s, dir, "customer").as("c"), col("o.o_custkey") === col("c.c_custkey"))
      .join(broadcast(Tables(s, dir, "nation").as("n")), col("c.c_nationkey") === col("n.n_nationkey"))
      .join(broadcast(Tables(s, dir, "region").as("r")), col("n.n_regionkey") === col("r.r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        money(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("r_name", "n_name")
  }

  // Grid-blocked 2-D neighbor join: users as points (spend dollars ×
  // activity), pairs within L2 radius 50. One side explodes into its 3×3
  // cell neighborhood and the join runs on the CELL KEY — a pure hash
  // equi-join, never a BETWEEN range join (which Spark would plan as a
  // nested-loop). Each candidate pair matches in exactly one cell (the
  // probe's own), so no post-dedup is needed; the exact distance filter
  // is all-integer (dx² + dy² ≤ r²). The standard spatial-binning shape:
  // at 100 TB the cell key is the shuffle key and density skew is handled
  // like any hot join key (salt the heavy cells).
  q("join_spatial_grid",
    """WITH ev AS (
      |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), u AS (
      |  SELECT user_id, SUM(cents) // 100 AS x, COUNT(*) * 10 AS y
      |  FROM ev GROUP BY user_id
      |), g AS (
      |  SELECT user_id, x, y, x // 50 AS cx, y // 50 AS cy FROM u
      |), ae AS (
      |  SELECT user_id, x, y, cx + ox.o AS cx, cy + oy.o AS cy
      |  FROM g
      |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) ox
      |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) oy
      |), pair AS (
      |  SELECT a.user_id AS user_a, b.user_id AS user_b,
      |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
      |  FROM ae a JOIN g b
      |    ON a.cx = b.cx AND a.cy = b.cy AND a.user_id < b.user_id
      |)
      |SELECT user_a, user_b, CAST(dist2 AS BIGINT) AS dist2
      |FROM pair WHERE dist2 <= 2500
      |ORDER BY dist2, user_a, user_b LIMIT 50""") { (s, dir) =>
    val u = Tables(s, dir, "events")
      .select(col("user_id"), Det.cents(col("value")).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(expr("sum(cents) div 100").as("x"),
        (count(lit(1)) * 10).as("y"))
    val g = u.select(col("user_id"), col("x"), col("y"),
      expr("x div 50").as("cx"), expr("y div 50").as("cy"))
    val off = g.sparkSession.range(1).select(
      explode(array(lit(-1), lit(0), lit(1))).as("o"))
    val ae = g
      .crossJoin(broadcast(off.select(col("o").as("ox"))))
      .crossJoin(broadcast(off.select(col("o").as("oy"))))
      .select(col("user_id"), col("x"), col("y"),
        (col("cx") + col("ox")).as("cx"), (col("cy") + col("oy")).as("cy"))
    val pair = ae.as("a")
      .join(g.as("b"),
        col("a.cx") === col("b.cx") && col("a.cy") === col("b.cy")
          && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
        ((col("a.x") - col("b.x")) * (col("a.x") - col("b.x"))
          + (col("a.y") - col("b.y")) * (col("a.y") - col("b.y"))).as("dist2"))
    pair.filter(col("dist2") <= 2500)
      .select(col("user_a"), col("user_b"), col("dist2").cast("long").as("dist2"))
      .orderBy("dist2", "user_a", "user_b")
      .limit(50)
  }
}
