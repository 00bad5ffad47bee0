package graft.queries

import graft.engine.{Det, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, row_number}

/** Subquery shapes through the engine's SQL surface (Spark's parser IS the
  * engine's parser — SURVEY §7 non-goals). Catalyst decorrelates the
  * correlated forms into joins (RewriteCorrelatedScalarSubquery /
  * PullupCorrelatedPredicates, §4), so these plan as ordinary shuffles at
  * scale, not per-row lookups.
  */
object Subqueries extends QueryPack {

  /** Register the graded tables as temp views once per session+dir —
    * the ONE list every SQL-surface query shares (r13 review: it had
    * been re-inlined per query). */
  private def registerViews(s: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events")
      .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))

  private def withViews(s: SparkSession, dir: String)(sql: String): DataFrame = {
    registerViews(s, dir)
    s.sql(sql)
  }

  // Inline VALUES relation joined against a real table — the SQL-surface
  // shape for small hand-authored mapping tables (tier maps, enum
  // renames) without a file source. The literal relation broadcasts by
  // construction.
  q("sql_values_join",
    """WITH tiers(r_regionkey, tier) AS (
      |  VALUES (0, 'legacy'), (1, 'growth'), (2, 'growth'), (3, 'core'), (4, 'core')
      |)
      |SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n_nations
      |FROM nation n JOIN tiers t ON n.n_regionkey = t.r_regionkey
      |GROUP BY t.tier ORDER BY t.tier""") { (s, dir) =>
    withViews(s, dir)(
      """WITH tiers AS (
        |  SELECT * FROM VALUES (0, 'legacy'), (1, 'growth'), (2, 'growth'),
        |    (3, 'core'), (4, 'core') AS t(r_regionkey, tier)
        |)
        |SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n_nations
        |FROM nation n JOIN tiers t ON n.n_regionkey = t.r_regionkey
        |GROUP BY t.tier ORDER BY t.tier""".stripMargin)
  }

  q("sub_scalar_correlated",
    """SELECT c_custkey,
      |  (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |ORDER BY c_custkey""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin)
  }

  // Correlated EXISTS / NOT EXISTS — the remaining decorrelation shapes
  // next to IN/NOT IN/scalar: Catalyst rewrites them to semi/anti joins
  // (same plan class the §2.3 joins pin), so they scale as one shuffle.
  q("sub_exists_correlated",
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
      |                    AND o2.o_totalprice < 1000)
      |ORDER BY c_custkey""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
        |                    AND o2.o_totalprice < 1000)
        |ORDER BY c_custkey""".stripMargin)
  }

  q("sub_in",
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      |ORDER BY o_orderkey""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |ORDER BY o_orderkey""".stripMargin)
  }

  q("sub_not_in",
    """SELECT s_suppkey FROM supplier
      |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
      |ORDER BY s_suppkey""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT s_suppkey FROM supplier
        |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY s_suppkey""".stripMargin)
  }

  // recursive CTE (Spark 4 UnionLoop): a 12-row month spine generated by
  // recursion, left-joined to orders — the date-spine idiom that reports
  // months with zero orders instead of omitting them
  q("sql_recursive_cte",
    """WITH RECURSIVE months(m) AS (
      |  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
      |)
      |SELECT CAST(m.m AS INT) AS month, COUNT(o.o_orderkey) AS n_orders
      |FROM months m LEFT JOIN orders o ON month(o.o_orderdate) = m.m
      |GROUP BY m.m
      |ORDER BY month""") { (s, dir) =>
    withViews(s, dir)(
      """WITH RECURSIVE months(m) AS (
        |  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
        |)
        |SELECT CAST(m.m AS INT) AS month, COUNT(o.o_orderkey) AS n_orders
        |FROM months m LEFT JOIN orders o ON month(o.o_orderdate) = m.m
        |GROUP BY m.m
        |ORDER BY month""".stripMargin)
  }

  // lateral correlated subquery with per-row LIMIT: top-2 nations per
  // region without a window function — Catalyst decorrelates it into a
  // ranked join, so it shuffles once like the window form would
  q("sql_lateral",
    """SELECT r.r_name, l.n_name
      |FROM region r, LATERAL (
      |  SELECT n_name FROM nation n WHERE n.n_regionkey = r.r_regionkey
      |  ORDER BY n_name LIMIT 2
      |) l
      |ORDER BY r.r_name, l.n_name""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT r.r_name, l.n_name
        |FROM region r JOIN LATERAL (
        |  SELECT n_name FROM nation n WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY n_name LIMIT 2
        |) l
        |ORDER BY r.r_name, l.n_name""".stripMargin)
  }

  // GROUP BY ALL / ORDER BY ALL — the analyst-ergonomics shorthand both
  // engines resolve identically (group on every non-aggregate select item,
  // order on every output column left-to-right)
  q("sql_by_all",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders
      |GROUP BY ALL
      |ORDER BY ALL""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)
  }

  // Spark 4 SQL pipe syntax (|>): linear dataflow SQL where each stage
  // reads top-to-bottom — the ergonomics layer over the identical logical
  // plan. The oracle is the classic spelling; parity shows the pipes are
  // pure sugar (same groupBy/filter/sort plan, no new semantics).
  q("sql_pipe_ops",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100 AS total_usd
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, dir) =>
    withViews(s, dir)(
      """FROM orders
        ||> WHERE o_orderstatus = 'F'
        ||> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
        |     CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |       AS DOUBLE) / 100 AS total_usd
        |   GROUP BY o_orderpriority
        ||> ORDER BY o_orderpriority""".stripMargin)
  }

  // Session variables + EXECUTE IMMEDIATE (Spark 4 SQL scripting
  // surface): a declared variable parameterizes a dynamically-built
  // statement via a ? placeholder — the safe-templating primitive that
  // replaces string-splicing in orchestration SQL. The oracle inlines
  // the constant; parity shows variable binding changes nothing.
  q("sql_exec_immediate",
    """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
      |ORDER BY o_custkey""") { (s, dir) =>
    registerViews(s, dir)
    s.sql("DECLARE OR REPLACE VARIABLE graft_min_orders BIGINT")
    s.sql("SET VAR graft_min_orders = 12")
    s.sql("""EXECUTE IMMEDIATE
      'SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
       FROM orders GROUP BY o_custkey HAVING COUNT(*) >= ?
       ORDER BY o_custkey' USING graft_min_orders""")
  }

  // SQL scripting (Spark 4, spark.sql.scripting.enabled): a BEGIN…END
  // block with DECLARE / WHILE / SET and a scalar subquery per
  // iteration — the procedural surface a migration from stored-proc
  // warehouses hits first. The script folds 12 monthly integer-cent
  // order totals into one running variable; the oracle states the same
  // quantity non-procedurally (months 1–12 are exhaustive), so the
  // control flow itself is what is being graded. Scale: each iteration
  // is an independent aggregate the engine plans normally — scripting
  // sequences queries, it does not row-loop. The WHILE body's scalar
  // subquery reads a CACHED 12-row month-totals frame aggregated once
  // up front (r13 review: the loop previously re-scanned `orders` 12×
  // by construction — same DECLARE/WHILE/SET + per-iteration scalar
  // subquery surface, ~12× less I/O). Remaining cost is the scripting
  // interpreter itself: each iteration re-plans ~3 statements (WHILE
  // condition + two SETs) with the current variable bindings, ~75 ms
  // per statement execution — A/B-measured identical for the cached
  // and 12-scan forms at sf0.1, so the bench row floors near ~2.7 s
  // regardless of I/O. The script window also drops shuffle.partitions
  // to 1 and AQE off (snapshot/restored): every statement's frame is
  // ≤12 rows, so 32-partition exchanges and AQE re-planning are pure
  // per-statement overhead there.
  q("sql_scripting_while",
    """SELECT CAST(12 AS INT) AS months_folded,
      |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100 AS total_price
      |FROM orders""") { (s, dir) =>
    registerViews(s, dir)
    import org.apache.spark.sql.functions.{month, sum}
    val months = s.table("orders")
      .groupBy(month(col("o_orderdate")).as("mth"))
      .agg(sum(Det.cents(col("o_totalprice")).cast("long")).as("mcents"))
      .coalesce(1).transform(graft.ops.PlanMemo.pin)
    months.count() // materialize before the loop so iterations hit cache
    months.createOrReplaceTempView("graft_month_cents")
    try graft.engine.Confs.withConfs(s)(
      "spark.sql.scripting.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false") { s.sql(
      """BEGIN
        |  DECLARE m INT DEFAULT 1;
        |  DECLARE cents BIGINT DEFAULT 0;
        |  WHILE m <= 12 DO
        |    SET cents = cents + (
        |      SELECT COALESCE(SUM(mcents), 0)
        |      FROM graft_month_cents WHERE mth = m);
        |    SET m = m + 1;
        |  END WHILE;
        |  SELECT CAST(m - 1 AS INT) AS months_folded,
        |    CAST(cents AS DOUBLE) / 100 AS total_price;
        |END""".stripMargin)
    }
    finally {
      // SET evaluates its scalar subquery eagerly per iteration, so the
      // returned frame no longer references the view — safe to release
      graft.ops.PlanMemo.unpin(months)
      s.catalog.dropTempView("graft_month_cents")
    }
  }

  q("sql_cte",
    """WITH big AS (
      |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) >= 12
      |)
      |SELECT c.c_custkey, c.c_mktsegment, b.n
      |FROM big b JOIN customer c ON c.c_custkey = b.o_custkey
      |ORDER BY c.c_custkey""") { (s, dir) =>
    withViews(s, dir)(
      """WITH big AS (
        |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) >= 12
        |)
        |SELECT c.c_custkey, c.c_mktsegment, b.n
        |FROM big b JOIN customer c ON c.c_custkey = b.o_custkey
        |ORDER BY c.c_custkey""".stripMargin)
  }

  // QUALIFY surface parity: DuckDB's QUALIFY clause filters on a window
  // result; Spark has no QUALIFY, so the engine spells it as the derived-
  // table rewrite — the exact desugaring every QUALIFY implementation
  // performs. Same plan class as topk_per_group: one shuffle on the
  // partition key, WindowGroupLimit-prunable rank filter.
  q("sql_qualify",
    """SELECT c_nationkey, c_custkey, c_acctbal
      |FROM customer
      |QUALIFY row_number() OVER (PARTITION BY c_nationkey
      |                           ORDER BY c_acctbal DESC NULLS LAST, c_custkey) <= 3
      |ORDER BY c_nationkey, c_custkey""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS rn
        |  FROM customer
        |) WHERE rn <= 3
        |ORDER BY c_nationkey, c_custkey""".stripMargin)
  }

  // SELECT * EXCLUDE / REPLACE surface parity: DuckDB's star modifiers
  // drop the priority column and normalize the money column in place; Spark has no EXCLUDE/REPLACE syntax, so the engine spells the
  // identical projection as drop + withColumn — the desugaring those
  // modifiers perform. Column pruning makes the dropped column vanish
  // from the parquet scan (ReadSchema excludes o_orderpriority), so the
  // sugar costs nothing at any scale.
  q("sql_select_exclude",
    """SELECT * EXCLUDE (o_orderpriority)
      |  REPLACE (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |           AS o_totalprice)
      |FROM orders
      |WHERE o_orderkey <= 1000
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .filter(col("o_orderkey") <= 1000)
      .drop("o_orderpriority")
      .withColumn("o_totalprice", Det.cents(col("o_totalprice")).cast("long"))
      .orderBy("o_orderkey")
  }

  // Named WINDOW clause parity (SQL:2003 WINDOW w AS (...)): both parsers
  // support the named-window desugar; the plan is identical to inlining
  // the spec at each call site — one shuffle on the partition key, both
  // functions sharing the frame.
  q("sql_window_clause",
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER w AS rn,
      |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w
      |    AS DOUBLE) / 100 AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, rn""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w
        |    AS DOUBLE) / 100 AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, rn""".stripMargin)
  }

  // ASOF JOIN surface parity: the oracle uses DuckDB's native
  // `ASOF LEFT JOIN` syntax; the engine runs the library as-of join
  // (ops/AsofJoin — union-tag + running last over ONE shuffle, no range
  // blowup). A hash match proves the library operator implements exactly
  // the SQL:2023-style ASOF semantics (latest right row with ts ≤ left
  // ts, left-outer on misses). The right side is pre-deduped to unique
  // (key, ts) in BOTH engines — ASOF tie order among equal timestamps is
  // engine-unspecified, the only nondeterminism seam.
  q("sql_asof_syntax",
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                                 ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1
      |)
      |SELECT e.event_id, o.o_orderkey,
      |  CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      |FROM events e
      |ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""") { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)
    val o = Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val e = Tables(s, dir, "events").select("event_id", "user_id", "ts")
    graft.ops.AsofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"), "o_orderkey")
      .select(col("event_id"), col("o_orderkey"),
        Det.cents(col("o_totalprice")).cast("long").as("price_cents"))
      .orderBy("event_id")
  }

  // DISTINCT ON parity: latest order per customer. The oracle uses
  // DuckDB's Postgres-style DISTINCT ON (.. ORDER BY ..); Spark has no
  // DISTINCT ON, so the engine spells the identical semantics as the
  // row_number()=1 pick — one shuffle on the DISTINCT ON key, and Spark's
  // WindowGroupLimit pushes the rank-1 filter into the sort so only one
  // row per key survives the exchange (same plan class as topk_per_group,
  // hence linear at any key cardinality). Tiebreak on o_orderkey makes
  // the pick total (P1).
  q("sql_distinct_on",
    """SELECT DISTINCT ON (o_custkey)
      |  o_custkey, o_orderkey, o_orderdate, o_orderstatus
      |FROM orders
      |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""") { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
      .orderBy("o_custkey")
  }

  // SQL PIVOT clause — Spark's native `PIVOT (agg FOR col IN (...))`
  // syntax, graded against the conditional-aggregation desugaring (the
  // portable ANSI form DuckDB runs). Physically identical to a plain
  // two-phase hash aggregate: pivot columns are CASE-WHEN partials, so
  // the fact scan shuffles one row per group — no extra pass per pivot
  // value. Quantities are exact small integers in double; the BIGINT
  // cast is exact, and the oracle re-casts DuckDB's HUGEINT sum (P16).
  q("sql_pivot",
    """SELECT l_returnflag AS flag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_o,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_f
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY flag""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT * FROM (
        |  SELECT l_returnflag AS flag, l_linestatus AS st,
        |         CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem
        |) PIVOT (SUM(qty) FOR st IN ('O' AS qty_o, 'F' AS qty_f))
        |ORDER BY flag""".stripMargin)
  }

  // SQL UNPIVOT clause — Spark's native `UNPIVOT (val FOR metric IN ...)`
  // over a per-flag metric table, graded against the UNION ALL desugaring.
  // The unpivot runs on the already-aggregated frame (|flags| rows), so
  // the wide→long expansion is free at any corpus size; only the one
  // upstream hash aggregate touches the fact table.
  q("sql_unpivot",
    """WITH a AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |    COUNT(*) AS cnt,
      |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT flag, metric, val FROM (
      |  SELECT flag, 'qty' AS metric, qty AS val FROM a
      |  UNION ALL SELECT flag, 'cnt', cnt FROM a
      |  UNION ALL SELECT flag, 'cents', cents FROM a
      |) ORDER BY flag, metric""") { (s, dir) =>
    withViews(s, dir)(
      """WITH a AS (
        |  SELECT l_returnflag AS flag,
        |    SUM(CAST(l_quantity AS BIGINT)) AS qty,
        |    COUNT(*) AS cnt,
        |    SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT flag, metric, val
        |FROM a UNPIVOT (val FOR metric IN (qty, cnt, cents))
        |ORDER BY flag, metric""".stripMargin)
  }

  // Lateral column aliases (Spark 3.4+): a SELECT item referencing a
  // SIBLING alias — here a whole derivation chain (cents → total_usd →
  // avg_usd) through an aggregate context, the pattern that otherwise
  // forces a nested subquery per derivation step. Both engines resolve
  // the chain by inline substitution, so the plan is the ordinary
  // one-level aggregate — pure parser ergonomics, zero plan cost.
  q("sql_lateral_alias",
    """SELECT o_orderstatus AS st,
      |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
      |  CAST(cents AS DOUBLE) / 100 AS total_usd,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  round(total_usd / n, 4) AS avg_usd
      |FROM orders GROUP BY o_orderstatus ORDER BY st""") { (s, dir) =>
    withViews(s, dir)(
      """SELECT o_orderstatus AS st,
        |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(cents AS DOUBLE) / 100 AS total_usd,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  round(total_usd / n, 4) AS avg_usd
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin)
  }

  // IDENTIFIER() clause (Spark 4): table AND column names parameterized
  // by session variables — the injection-safe replacement for splicing
  // identifiers into SQL strings (the templating half that EXECUTE
  // IMMEDIATE's ?-placeholders can't reach: ? binds VALUES, IDENTIFIER
  // binds NAMES). The oracle inlines the identifiers; parity shows the
  // indirection resolves to the identical plan — same scan, same
  // aggregate, nothing dynamic survives analysis.
  q("sql_identifier",
    """SELECT o_orderstatus AS k, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY k""") { (s, dir) =>
    registerViews(s, dir)
    s.sql("DECLARE OR REPLACE VARIABLE graft_tab STRING")
    s.sql("DECLARE OR REPLACE VARIABLE graft_key STRING")
    s.sql("SET VAR graft_tab = 'orders'")
    s.sql("SET VAR graft_key = 'o_orderstatus'")
    s.sql(
      """SELECT IDENTIFIER(graft_key) AS k, CAST(COUNT(*) AS BIGINT) AS n
        |FROM IDENTIFIER(graft_tab)
        |GROUP BY IDENTIFIER(graft_key) ORDER BY k""".stripMargin)
  }
}
