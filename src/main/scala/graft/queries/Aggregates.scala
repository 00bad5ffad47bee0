package graft.queries

import graft.engine.{Det, QueryPack, Tables}
import graft.functions.WAvgFix
import org.apache.spark.sql.{Encoders, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators beyond the flagship (SURVEY §2.4).
  *
  * Scale notes: everything here is a two-phase hash aggregate (partial map-
  * side combine → shuffle one row per group per partition → final).
  * `collect_*` forms fall back to ObjectHashAggregate — acceptable because
  * group counts are dimension-sized; never collect over a fact-sized group.
  */
object Aggregates extends QueryPack {
  import Det._

  q("agg_global",
    s"""SELECT COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  ${oMoney("l_extendedprice")} AS total_price
      |FROM lineitem""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        money(sum(cents(col("l_extendedprice")))).as("total_price"))
  }

  q("agg_count_distinct",
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""") { (s, dir) =>
    Tables(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")
  }

  // HLL sketches are not bitwise-comparable across engines → declared, no oracle
  qNo("agg_approx_distinct") { (s, dir) =>
    Tables(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"))
      .orderBy("o_orderstatus")
  }

  // Datasketches HLL: per-group sketches, then the global figure from
  // hll_union_agg over the SKETCHES — re-aggregation without rescanning,
  // the mergeable-summary pattern every 100 TB rollup pipeline relies on.
  // Register-max estimates are insertion-order-independent → golden-stable.
  qNo("agg_hll_sketch") { (s, dir) =>
    val sk = Tables(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
    sk.select(col("o_orderstatus"), expr("hll_sketch_estimate(sk)").as("n_custs"))
      .unionByName(sk.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_custs"))
        .select(lit("ALL").as("o_orderstatus"), col("n_custs")))
      .orderBy("o_orderstatus")
  }

  // Cross-shard sketch merge — the flow a 100 TB deployment actually
  // runs: each of 16 hash shards builds its OWN HLL sketch of the users
  // it saw (one partial per shard, bytes not rows on the wire), and the
  // per-type answer is the union of the shard sketches. Estimates are
  // tolerance-checked against exact DuckDB distinct counts in
  // tools/oracle_check.py (a broken merge is off by orders of magnitude,
  // not by the sketch's ~2% rsd); the golden hash pins determinism.
  qNo("agg_hll_union") { (s, dir) =>
    val shard = Tables(s, dir, "events")
      .groupBy(col("event_type"), (col("user_id") % 16).as("shard"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    shard.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_users"))
      .orderBy("event_type")
  }

  q("agg_grouping_sets",
    """SELECT GROUPING(r_name) AS gr, GROUPING(n_name) AS gn,
      |  r_name, n_name, COUNT(*) AS n_custs
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
      |ORDER BY gr, gn, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""") { (s, dir) =>
    Tables(s, dir, "customer").as("c")
      .join(broadcast(Tables(s, dir, "nation").as("n")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(s, dir, "region").as("r")), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
        col("r_name"), col("n_name"))
      .agg(grouping(col("r_name")).as("gr"), grouping(col("n_name")).as("gn"),
        count(lit(1)).as("n_custs"))
      .select("gr", "gn", "r_name", "n_name", "n_custs")
      .orderBy(col("gr"), col("gn"),
        col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  q("agg_rollup",
    s"""SELECT GROUPING(r_name) AS gr, GROUPING(n_name) AS gn,
      |  r_name, n_name,
      |  ${oMoney("s_acctbal")} AS total_bal
      |FROM supplier s
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY gr, gn, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""") { (s, dir) =>
    Tables(s, dir, "supplier").as("s")
      .join(broadcast(Tables(s, dir, "nation").as("n")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(s, dir, "region").as("r")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping(col("r_name")).as("gr"), grouping(col("n_name")).as("gn"),
        money(sum(cents(col("s_acctbal")))).as("total_bal"))
      .select("gr", "gn", "r_name", "n_name", "total_bal")
      .orderBy(col("gr"), col("gn"),
        col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  q("agg_cube",
    """SELECT GROUPING(l_returnflag) AS gf, GROUPING(l_linestatus) AS gs,
      |  l_returnflag, l_linestatus, COUNT(*) AS n_lines
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gf, gs, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).as("gf"), grouping(col("l_linestatus")).as("gs"),
        count(lit(1)).as("n_lines"))
      .select("gf", "gs", "l_returnflag", "l_linestatus", "n_lines")
      .orderBy(col("gf"), col("gs"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  q("agg_having",
    """SELECT l_suppkey, COUNT(*) AS n_lines
      |FROM lineitem
      |GROUP BY l_suppkey
      |HAVING COUNT(*) > 550
      |ORDER BY l_suppkey""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"))
      .filter(col("n_lines") > 550)
      .orderBy("l_suppkey")
  }

  q("agg_collect_sorted",
    """SELECT n_regionkey AS r_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY r_regionkey""") { (s, dir) =>
    Tables(s, dir, "nation")
      .groupBy(col("n_regionkey").as("r_regionkey"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_regionkey")
  }

  q("agg_string_agg",
    """SELECT c_nationkey, string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""") { (s, dir) =>
    Tables(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segments"))
      .orderBy("c_nationkey")
  }

  // P2 applies to stats too: stddev/var/corr/covar over raw doubles differ
  // between Spark's partial-merge and DuckDB's sequential accumulation.
  // Instead: exact integer moment sums (fixed-point per row), then the
  // co-moment formulas spelled identically in both engines. Scales: qty
  // centi-units (x100), price whole units (x1 — squared sums must fit
  // int64 at sf0.1), discount basis points (x10000); corr is scale-free.
  q("agg_stats",
    """SELECT l_returnflag,
      |  round(sqrt((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
      |             / (CAST(n AS DOUBLE)*(n-1)) / 10000), 3) AS sd_qty,
      |  round((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
      |        / (CAST(n AS DOUBLE)*(n-1)) / 10000, 3) AS var_qty,
      |  round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
      |        / (sqrt(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
      |         * sqrt(CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)), 6) AS corr_qty_price,
      |  round((CAST(n AS DOUBLE)*sxd - CAST(sx AS DOUBLE)*sd)
      |        / (CAST(n AS DOUBLE)*(n-1)) / 1000000, 6) AS covar_qty_disc
      |FROM (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(qx) AS sx, SUM(qx*qx) AS sxx,
      |    SUM(pd) AS sy, SUM(pd*pd) AS syy,
      |    SUM(qx*pd) AS sxy,
      |    SUM(df) AS sd, SUM(qx*df) AS sxd
      |  FROM (
      |    SELECT l_returnflag,
      |      CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qx,
      |      CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS pd,
      |      CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS df
      |    FROM lineitem)
      |  GROUP BY l_returnflag)
      |ORDER BY l_returnflag""") { (s, dir) =>
    val base = Tables(s, dir, "lineitem").select(col("l_returnflag"),
      fix(col("l_quantity"), 2).as("qx"),
      fix(col("l_extendedprice"), 0).as("pd"),
      fix(col("l_discount"), 4).as("df"))
    val m = base.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(col("qx")).as("sx"), sum(col("qx") * col("qx")).as("sxx"),
      sum(col("pd")).as("sy"), sum(col("pd") * col("pd")).as("syy"),
      sum(col("qx") * col("pd")).as("sxy"),
      sum(col("df")).as("sd"), sum(col("qx") * col("df")).as("sxd"))
    val nD = col("n").cast("double")
    val varFix = (nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx")) /
      (nD * (col("n") - 1))
    m.select(col("l_returnflag"),
        round(sqrt(varFix / 10000), 3).as("sd_qty"),
        round(varFix / 10000, 3).as("var_qty"),
        round((nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy"))
          / (sqrt(nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx"))
            * sqrt(nD * col("syy").cast("double") - col("sy").cast("double") * col("sy"))),
              6).as("corr_qty_price"),
        round((nD * col("sxd").cast("double") - col("sx").cast("double") * col("sd"))
          / (nD * (col("n") - 1)) / 1000000, 6).as("covar_qty_disc"))
      .orderBy("l_returnflag")
  }

  q("agg_median_percentile",
    """SELECT l_returnflag,
      |  round(median(l_quantity), 4) AS med_qty,
      |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(median(col("l_quantity")), 4).as("med_qty"),
        round(F.percentile(col("l_quantity"), lit(0.9)), 4).as("p90_qty"))
      .orderBy("l_returnflag")
  }

  q("agg_pivot",
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""") { (s, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)  // explicit value list — deterministic columns (P10)
      .agg(count(lit(1)))
    p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  q("agg_unpivot",
    """SELECT p_partkey, key, val FROM (
      |  SELECT p_partkey, 'p_retailprice' AS key, p_retailprice AS val FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'p_size' AS key, CAST(p_size AS DOUBLE) AS val FROM part
      |)
      |ORDER BY p_partkey, key""") { (s, dir) =>
    Tables(s, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")), Array(col("p_retailprice"), col("p_size")), "key", "val")
      .orderBy("p_partkey", "key")
  }

  // fixed-width histogram via pure bucket arithmetic (no histogram UDAF
  // needed): floor(v / width) is a plain per-row expression, so the
  // histogram is an ordinary two-phase hash aggregate at any scale
  q("agg_histogram",
    s"""SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS bucket, COUNT(*) AS n,
      |  ${Det.oAvg4("l_quantity")} AS avg_qty
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY 1""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy(floor(col("l_quantity") / 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        Det.avg4(sum(cents(col("l_quantity"))), count(lit(1))).as("avg_qty"))
      .orderBy("bucket")
  }

  // grouping()/grouping_id(): distinguish "NULL because subtotal row" from
  // "NULL because the data is NULL" in rollup outputs — without it a
  // consumer cannot tell totals apart from null-keyed groups
  q("agg_grouping_id",
    """SELECT coalesce(o_orderstatus, '<total>') AS status,
      |  coalesce(o_orderpriority, '<total>') AS prio,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY gid, status, prio""") { (s, dir) =>
    Tables(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("<total>")).as("status"),
        coalesce(col("o_orderpriority"), lit("<total>")).as("prio"),
        col("g_status"), col("gid"), col("n"))
      .orderBy("gid", "status", "prio")
  }

  // ordered DISTINCT string aggregation — dedup inside the aggregate, with
  // an explicit WITHIN GROUP order so the concatenation is deterministic
  q("agg_listagg_distinct",
    """SELECT c_nationkey,
      |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""") { (s, dir) =>
    Tables(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(expr("listagg(DISTINCT c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment)")
        .as("segs"))
      .orderBy("c_nationkey")
  }

  // approx_top_k (Spark 4.1): the frequent-items sketch — heavy hitters
  // without an exact group-by, constant-size and mergeable, the 100 TB
  // answer to "top values of a high-cardinality column" (the exact
  // group-by is the graded twin everywhere else; this grades the sketch
  // surface itself). On this fixture the sketch IS exact — 5 distinct
  // types against a 10 000-item tracker can never evict a counter, and
  // the per-type counts are well separated — so the oracle states exact
  // top-3 frequencies with no tolerance band. The struct array explodes
  // to (item, cnt) rows; rank order is (cnt DESC, item) on both sides.
  q("agg_approx_topk",
    """SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM events GROUP BY event_type
      |ORDER BY cnt DESC, item LIMIT 3""") { (s, dir) =>
    Tables(s, dir, "events")
      .agg(expr("approx_top_k(event_type, 3)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
  }

  // The approx_top_k MERGEABLE workflow (accumulate → combine →
  // estimate): per-shard sketch states built independently, OR-merged
  // without rescanning — the heavy-hitters analogue of the HLL-union
  // rollup (agg_hll_union) and the bitmap re-merge (agg_bitmap_native).
  // Shards here are user_id%4 slices standing in for partitions/days;
  // at 100 TB the accumulate states are what a rollup table stores.
  // Exact on this fixture for the same reason as agg_approx_topk.
  q("agg_approx_topk_union",
    """SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM events GROUP BY event_type
      |ORDER BY cnt DESC, item LIMIT 3""") { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy(col("user_id") % 4)
      .agg(expr("approx_top_k_accumulate(event_type)").as("st"))
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(st), 3)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
  }

  // Theta sketches (Spark 4.1): the distinct-count sketch family whose
  // edge over HLL is SET ALGEBRA — union AND intersection AND difference
  // of audiences from stored sketches, no rescan. Graded readouts: per-
  // type audience sizes, the re-merged any-type union, click∩purchase,
  // and click∖purchase. Exactness: a theta sketch stays in exact mode
  // (theta = 1, every hash retained) until it exceeds its nominal 2^12
  // entries — the fixture's user universe (150 at sf0.01, ~2k at sf0.1)
  // never does, so every estimate is the exact integer the oracle
  // states. At production cardinalities the same plan degrades to the
  // sketch's published error, which is the point: audience overlap at
  // 100 TB from kilobyte summaries.
  q("agg_theta_setops",
    """SELECT event_type AS audience,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT 'any', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
      |UNION ALL
      |SELECT 'click_and_purchase', CAST((
      |  SELECT COUNT(*) FROM (
      |    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |    INTERSECT
      |    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |) AS BIGINT)
      |UNION ALL
      |SELECT 'click_not_purchase', CAST((
      |  SELECT COUNT(*) FROM (
      |    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |    EXCEPT
      |    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |) AS BIGINT)
      |ORDER BY audience""") { (s, dir) =>
    // ONE pass over events builds every sketch (r13 review): the
    // per-type frame, plus click/purchase sketches as conditional global
    // aggregates — always exactly one row even if a type is absent from
    // the input (theta_sketch_agg over all-NULL = the empty sketch,
    // estimate 0, matching the oracle's unconditional scalar rows; the
    // prior filter+crossJoin form silently DROPPED the set-op rows on an
    // empty side). localCheckpoint materializes the 6 sketch rows once
    // for their four consumers without pinning a CacheManager entry for
    // the session (the prior persist leaked one per (session, dir)).
    val ev = Tables(s, dir, "events")
    val sk = ev.groupBy("event_type")
      .agg(expr("theta_sketch_agg(user_id)").as("s"))
      .localCheckpoint()
    val ab = ev.agg(
      expr("theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END)")
        .as("a"),
      expr("theta_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END)")
        .as("b"))
      .localCheckpoint()
    def est(e: String) = expr(s"CAST(theta_sketch_estimate($e) AS BIGINT)")
    val per = sk.select(col("event_type").as("audience"),
      est("s").as("n_users"))
    val any = sk.agg(expr("theta_union_agg(s)").as("u"))
      .select(lit("any").as("audience"), est("u").as("n_users"))
    val both = ab.select(lit("click_and_purchase").as("audience"),
      est("theta_intersection(a, b)").as("n_users"))
    val only = ab.select(lit("click_not_purchase").as("audience"),
      est("theta_difference(a, b)").as("n_users"))
    per.unionByName(any).unionByName(both).unionByName(only)
      .orderBy("audience")
  }

  // VARIANT as a GROUPING KEY (r13): Spark 4.1's VARIANT is not
  // orderable, so `groupBy($"v")` fails analysis outright
  // (GROUP_EXPRESSION_TYPE_IS_NOT_ORDERABLE — pinned in
  // Round13Spec so the round notices when that changes). The
  // engine-correct pattern a user needs TODAY is canonicalize-then-
  // group: to_json(variant) is a true canonical form — object keys are
  // emitted SORTED and numbers normalized ('{"b":1,"a":2.50}' and
  // '{"a":2.5,"b":1}' render identically), so semantically-equal
  // variants land in one group regardless of source formatting. The
  // shuffle key is the canonical string (bounded by the variant's own
  // size); the oracle reconstructs the same canonical rendering from
  // the JSON source. Complements fn_variant_nested (variant as an
  // EXTRACTION source) with variant as the GROUP identity.
  q("agg_variant_group",
    """SELECT '{"k":' || CAST(CAST(props->>'$.k' AS BIGINT) AS VARCHAR) || '}'
      |    AS vkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    AS sum_value
      |FROM events
      |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
    Tables(s, dir, "events")
      .select(parse_json(col("props")).as("v"), cents(col("value")).as("c"))
      .groupBy(to_json(col("v")).as("vkey"))
      .agg(count(lit(1)).cast("long").as("n"),
        money(sum("c")).as("sum_value"))
      .orderBy("vkey")
  }

  // exact COUNT DISTINCT via mergeable bitmaps: stage 1 builds one bitmap
  // per (group, id-bucket) — a partial any executor can compute locally —
  // stage 2 sums per-bucket cardinalities. Unlike HLL this is EXACT, and
  // unlike count(distinct) the partials are tiny fixed-size blobs that
  // merge associatively: the 100 TB distinct-rollup layout (store bitmaps,
  // re-aggregate without rescanning). Oracle: plain COUNT(DISTINCT).
  // The NATIVE bitmap-aggregate surface (Spark 3.5+ bitmap_construct_agg /
  // bitmap_count / bitmap_or_agg over bitmap_bit_position buckets) next
  // to agg_bitmap_distinct's hand-rolled twin: per-bucket bitmaps OR-merge
  // associatively, so exact distinct counts roll up from shards without
  // re-scanning — the mergeable-summary layout a 100 TB rollup stores.
  // Graded readout: per-status distinct customers via the bitmap chain +
  // a re-merged global distinct from the SAME per-status bitmaps; the
  // oracle states the semantics directly as COUNT(DISTINCT).
  q("agg_bitmap_native",
    """SELECT o_orderstatus,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
      |  CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT)
      |    AS n_cust_total
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""") { (s, dir) =>
    val o = Tables(s, dir, "orders")
    // bucketed bitmap per (status, bucket): values map to
    // (bitmap_bucket_number, bitmap_bit_position); counts sum per status;
    // the GLOBAL count re-merges the per-status bitmaps with
    // bitmap_or_agg — no second scan of orders
    val perBucket = o.select(col("o_orderstatus"),
        expr("bitmap_bucket_number(o_custkey)").as("bkt"),
        expr("bitmap_bit_position(o_custkey)").as("pos"))
      .groupBy("o_orderstatus", "bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    val perStatus = perBucket.groupBy("o_orderstatus")
      .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_cust"))
    val global = perBucket.groupBy("bkt")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_cust_total"))
    perStatus.crossJoin(broadcast(global))
      .select(col("o_orderstatus"), col("n_cust"), col("n_cust_total"))
      .orderBy("o_orderstatus")
  }

  q("agg_bitmap_distinct",
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""") { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_users"))
      .orderBy("event_type")
  }

  // incremental re-aggregation: daily partial aggregates are materialized
  // once (the "nightly" run), then monthly totals re-aggregate the partials
  // WITHOUT rescanning the fact table — sums of exact integer cents are
  // mergeable, so the rollup is lossless. At 100 TB this is the difference
  // between scanning 365 daily summaries and re-scanning a year of facts.
  // The oracle aggregates the facts directly: both routes must agree.
  q("agg_incremental_rollup",
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |  l_returnflag, CAST(SUM(cnt_rows) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS DOUBLE) / 100 AS revenue
      |FROM (
      |  SELECT date_trunc('day', l_shipdate) AS day, l_shipdate, l_returnflag,
      |    1 AS cnt_rows, ${Det.oCents("l_extendedprice")} AS cents
      |  FROM lineitem
      |)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""") { (s, dir) =>
    val partials = "/tmp/graft_io/daily_partials"
    Tables(s, dir, "lineitem")
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"), col("l_returnflag"))
      .agg(count(lit(1)).as("cnt_rows"),
        sum(cents(col("l_extendedprice"))).as("cents"))
      .write.mode("overwrite").parquet(partials)
    Tables.parquet(s, partials)
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"),
        col("l_returnflag"))
      .agg(sum(col("cnt_rows")).as("n"),
        (sum(col("cents")).cast("double") / 100).as("revenue"))
      .orderBy("month", "l_returnflag")
  }

  // FILTER-clause aggregates: several differently-filtered measures in ONE
  // pass over the fact table (the alternative — one scan per measure —
  // multiplies I/O at 100 TB). Spark evaluates the same FILTER syntax.
  q("agg_filter_clause",
    """SELECT l_returnflag,
      |  COUNT(*) AS n_all,
      |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
      |  CAST(COALESCE(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |         FILTER (WHERE l_discount > 0.05), 0) AS DOUBLE) / 100 AS disc_rev
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_all"),
        expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_big"),
        (coalesce(expr(
            "sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint)) " +
            "FILTER (WHERE l_discount > 0.05)"), lit(0L))
          .cast("double") / 100).as("disc_rev"))
      .orderBy("l_returnflag")
  }

  // deterministic MODE: most frequent value per group, ties to the
  // smallest value (built-in mode() picks an arbitrary tie survivor — P10
  // bans that); spelled as count + arg_min over (-count, value)
  q("agg_mode",
    """SELECT o_custkey, mode_prio FROM (
      |  SELECT o_custkey, o_orderpriority AS mode_prio,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      |  FROM orders
      |  GROUP BY o_custkey, o_orderpriority
      |) WHERE rn = 1
      |ORDER BY o_custkey""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(s, dir, "orders")
      .groupBy("o_custkey", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("cnt").desc, col("o_orderpriority"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("mode_prio"))
      .orderBy("o_custkey")
  }

  // GK-sketch percentiles: bounded-memory quantiles for fact-scale groups
  // (exact percentile materializes the group; the sketch never does).
  // Sketch merge internals are engine-specific → rows-only + golden, like
  // the HLL family. At golden scale the sketch is exact (n < accuracy).
  // Scalar p50/p95 columns (not an array<double>): the driver's pandas
  // canonicalization cannot hash ndarray cells, so the array form made this
  // the one query of 184 it could not even row-count.
  qNo("agg_approx_percentile") { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("pcts"))
      .select(col("event_type"),
        round(element_at(col("pcts"), 1), 6).as("p50"),
        round(element_at(col("pcts"), 2), 6).as("p95"))
      .orderBy("event_type")
  }

  // arg-max/arg-min: "the row that attains the extreme", the lookup every
  // report builder needs without a self-join. Ties broken deterministically
  // by folding the unique customer key into the ordering value (P10):
  // cents(acctbal) * 100000 + custkey is injective while custkey < 100000
  // (15 k at the largest graded SF).
  q("agg_argminmax",
    s"""SELECT c_nationkey,
      |  arg_max(c_name, ${oCents("c_acctbal")} * 100000 + c_custkey) AS richest,
      |  arg_min(c_name, ${oCents("c_acctbal")} * 100000 + c_custkey) AS poorest
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""") { (s, dir) =>
    val ordKey = cents(col("c_acctbal")).cast("long") * 100000 + col("c_custkey")
    Tables(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(max_by(col("c_name"), ordKey).as("richest"),
        min_by(col("c_name"), ordKey).as("poorest"))
      .orderBy("c_nationkey")
  }

  q("agg_udaf_wavg",
    s"""SELECT l_returnflag,
      |  round(CAST(SUM(${oCents("l_extendedprice")} * ${oCents("l_quantity")}) AS DOUBLE)
      |        / SUM(${oCents("l_quantity")}) / 100, 4) AS wavg_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""") { (s, dir) =>
    val wavg = F.udaf(new WAvgFix(), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(wavg(cents(col("l_extendedprice")), cents(col("l_quantity"))) / 100, 4)
        .as("wavg_price"))
      .orderBy("l_returnflag")
  }

  // Market-basket co-occurrence — association-rule mining's support and
  // confidence for part pairs bought in the same order. The candidate
  // join is per-order (equi-join on the order key, a < b canonical), so
  // work scales with Σ basket², never corpus²; supports/confidences are
  // per-row doubles from exact counts. Top 20 by support, full tiebreak.
  q("agg_market_basket",
    """WITH i AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |), n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM i),
      |pc AS (SELECT p, COUNT(*) AS np FROM i GROUP BY p),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS nab
      |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2
      |)
      |SELECT pa, pb, CAST(nab AS BIGINT) AS n_both,
      |  round(CAST(nab AS DOUBLE) / n_orders, 6) AS support,
      |  round(CAST(nab AS DOUBLE) / ca.np, 6) AS confidence
      |FROM pairs JOIN pc ca ON pairs.pa = ca.p CROSS JOIN n
      |ORDER BY n_both DESC, pa, pb LIMIT 20""") { (s, dir) =>
    val i = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .transform(graft.ops.PlanMemo.pin)
    val nOrders = i.agg(countDistinct("o").as("n_orders"))
    val pc = i.groupBy("p").agg(count(lit(1)).as("np"))
    // co-purchase pairs from each basket's SORTED in-array combinations
    // (≤ C(7,2) per TPC-H order). Replaces the basket self-join: one
    // shuffle branch instead of two over the (order, part) frame, and
    // pair generation stays basket-bounded with no second corpus-frame
    // exchange at any scale. r16: the nested transform/struct HOF was the
    // repo's biggest interpreted hot path (CodegenFallback, 25.6 s summed
    // task time) — two chained generators emit the same (pa, pb) rows
    // through whole-stage codegen: posexplode pins each element's 0-based
    // position, explode(slice(arr, pos + 2, ...)) yields its later
    // partners (slice clamps past the end; explode drops empty tails).
    val pairs = i.groupBy("o")
      .agg(array_sort(collect_list(col("p"))).as("arr"))
      .select(col("arr"), posexplode(col("arr")).as(Seq("ia", "pa")))
      .select(col("pa"),
        explode(slice(col("arr"), col("ia") + 2, size(col("arr")))).as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("nab"))
    pairs
      .join(pc.select(col("p").as("pa"), col("np")), "pa")
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("nab").cast("long").as("n_both"),
        round(col("nab").cast("double") / col("n_orders"), 6).as("support"),
        round(col("nab").cast("double") / col("np"), 6).as("confidence"))
      .orderBy(col("n_both").desc, col("pa"), col("pb"))
      .limit(20)
  }

  // Weighted median (quantity-weighted price) — the robust center a
  // pricing dashboard wants when line sizes differ: smallest value whose
  // cumulative weight reaches half the total. All-integer compare
  // (cents × BIGINT weights), so cross-engine determinism is free; one
  // ordered window + one aggregate on the group key.
  q("agg_weighted_median",
    """WITH v AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
      |  FROM lineitem
      |), r AS (
      |  SELECT g, c, w,
      |    SUM(w) OVER (PARTITION BY g ORDER BY c, l_orderkey, l_linenumber
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY g) AS tw
      |  FROM v
      |)
      |SELECT g,
      |  CAST(min(CASE WHEN 2 * cw >= tw THEN c END) AS DOUBLE) / 100 AS wmedian
      |FROM r GROUP BY g ORDER BY g""") { (s, dir) =>
    val v = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        Det.cents(col("l_extendedprice")).cast("long").as("c"),
        col("l_quantity").cast("long").as("w"),
        col("l_orderkey"), col("l_linenumber"))
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("c"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("g")
    v.withColumn("cw", sum(col("w")).over(wOrd))
      .withColumn("tw", sum(col("w")).over(wAll))
      .groupBy("g")
      .agg((min(when(col("cw") * 2 >= col("tw"), col("c"))).cast("double") / 100)
        .as("wmedian"))
      .orderBy("g")
  }

  // Weighted percentiles (p25/p50/p90 of price, quantity-weighted) via
  // the histogram form: weights first collapse onto DISTINCT cent values
  // (one hash aggregate — the only corpus-sized pass), then one ordered
  // cumsum over the value-domain-bounded histogram and an all-integer
  // nearest-rank pick (100·cw ≥ p100·tw — no doubles anywhere near the
  // boundary). Generalizes agg_weighted_median without its per-row
  // window: the window here runs over the histogram, not the table.
  q("agg_weighted_percentile",
    """WITH v AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem
      |), h AS (
      |  SELECT g, c, CAST(SUM(w) AS BIGINT) AS w FROM v GROUP BY g, c
      |), r AS (
      |  SELECT g, c, w,
      |    CAST(SUM(w) OVER (PARTITION BY g ORDER BY c) AS BIGINT) AS cw,
      |    CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS tw
      |  FROM h
      |), p AS (SELECT unnest([25, 50, 90]) AS p100)
      |SELECT g, CAST(p100 AS DOUBLE) / 100 AS pct,
      |  CAST(min(CASE WHEN 100 * cw >= p100 * tw THEN c END) AS DOUBLE) / 100
      |    AS wpct_value
      |FROM r, p GROUP BY g, p100 ORDER BY g, pct""") { (s, dir) =>
    val v = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        Det.cents(col("l_extendedprice")).cast("long").as("c"),
        col("l_quantity").cast("long").as("w"))
    val h = v.groupBy("g", "c").agg(sum("w").as("w"))
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy("c")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val r = h.withColumn("cw", sum("w").over(wOrd))
      .withColumn("tw", sum("w").over(wAll))
    val p = s.range(0, 3).select(
      element_at(array(lit(25L), lit(50L), lit(90L)), (col("id") + 1).cast("int"))
        .as("p100"))
    r.crossJoin(broadcast(p))
      .groupBy("g", "p100")
      .agg((min(when(col("cw") * 100 >= col("p100") * col("tw"), col("c")))
        .cast("double") / 100).as("wpct_value"))
      .select(col("g"), (col("p100").cast("double") / 100).as("pct"),
        col("wpct_value"))
      .orderBy("g", "pct")
  }

  // Gini concentration of order value per status — the inequality metric a
  // revenue dashboard tracks. Rank formula G = 2·Σ(rk·x)/(n·Σx) − (n+1)/n
  // over cents: every sum is exact BIGINT (tie blocks contribute c·Σrk, so
  // the arbitrary order WITHIN a tie cannot move the total), and the final
  // expression is per-row double math on those integers — deterministic.
  // Scale: one window + one aggregate on the group key; at corpora where
  // Σ(rk·x) nears 2^63 the fix is per-group scaling, not a new plan.
  q("agg_gini",
    """WITH v AS (
      |  SELECT o_orderstatus AS s,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |  FROM orders
      |), r AS (
      |  SELECT s, c, row_number() OVER (PARTITION BY s ORDER BY c) AS rk
      |  FROM v
      |)
      |SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
      |  round(2.0 * CAST(SUM(rk * c) AS DOUBLE) / (COUNT(*) * CAST(SUM(c) AS DOUBLE))
      |        - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
      |FROM r GROUP BY s ORDER BY s""") { (s, dir) =>
    val v = Tables(s, dir, "orders")
      .select(col("o_orderstatus").as("s"),
        Det.cents(col("o_totalprice")).cast("long").as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s").orderBy("c")
    v.withColumn("rk", row_number().over(w))
      .groupBy("s")
      .agg(count(lit(1)).as("n"), sum(col("rk") * col("c")).as("src"),
        sum(col("c")).as("sc"))
      .select(col("s"), col("n").cast("long").as("n"),
        round(lit(2.0) * col("src").cast("double") / (col("n") * col("sc").cast("double"))
          - (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
      .orderBy("s")
  }

  // Skewness / excess kurtosis per event type from exact integer power
  // sums — NEVER the engines' skewness()/kurtosis() builtins (their
  // streaming central-moment updates are aggregation-order-dependent in
  // the last ulp, the same reason agg_stats rounds and win_rolling_corr
  // avoids corr()). S1..S4 accumulate as DECIMAL(38,0)/HUGEINT (cents⁴ ≈
  // 1.6e17 per row — an int64 sum wraps within ~60 rows); the moment
  // assembly is one closed-form double tree per group, identical both
  // engines, dimensionless so the cents scale cancels.
  q("agg_skew_kurtosis",
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
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  floor(m3 / (m2 * sqrt(m2)) * 10000 + 0.5) / 10000 AS skewness,
      |  floor((m4 / (m2 * m2) - 3) * 10000 + 0.5) / 10000 AS kurtosis
      |FROM c ORDER BY event_type""") { (s, dir) =>
    val v = Det.cents(col("value"))
    val st = Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(Det.wide(v)).as("s1"),
        sum(Det.wide(v * v)).as("s2"),
        // promote BEFORE the 3rd/4th power: cents⁴ at value≈550 already
        // exceeds int64 per ROW (the fixture max 490 leaves only 1.6×
        // headroom); decimal×long stays exact at any plausible magnitude
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
    c.select(col("event_type"), col("n").cast("long").as("n"),
      Det.quant(col("m3") / (col("m2") * sqrt(col("m2"))), 4).as("skewness"),
      Det.quant(col("m4") / (col("m2") * col("m2")) - lit(3), 4).as("kurtosis"))
      .orderBy("event_type")
  }

  // Boolean and bitwise aggregate surface (bool_and/bool_or,
  // bit_and/bit_or/bit_xor) — the SQL-parity aggregates a DQ rule engine
  // leans on ("does EVERY row satisfy X", set-membership bitmasks).
  // Booleans are cast to INT at the output seam (the driver's
  // canonicalizer hashes bool presentation differently per engine — same
  // rationale as the DECIMAL/HUGEINT bans). All codegen'd built-ins; one
  // hash aggregate, map-side partials do the reduction.
  q("agg_bitops",
    """SELECT event_type,
      |  CAST(bool_and(value > 1) AS INT) AS all_over_1,
      |  CAST(bool_or(value > 400) AS INT) AS any_over_400,
      |  CAST(bit_and(user_id) AS BIGINT) AS band,
      |  CAST(bit_or(user_id) AS BIGINT) AS bor,
      |  CAST(bit_xor(user_id) AS BIGINT) AS bxor
      |FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(
        expr("bool_and(value > 1)").cast("int").as("all_over_1"),
        expr("bool_or(value > 400)").cast("int").as("any_over_400"),
        expr("bit_and(user_id)").cast("long").as("band"),
        expr("bit_or(user_id)").cast("long").as("bor"),
        expr("bit_xor(user_id)").cast("long").as("bxor"))
      .orderBy("event_type")
  }

  // SUM(DISTINCT) / AVG(DISTINCT) — the dedup-before-aggregate SQL
  // surface, on exact integer cents so the distinct set is well-defined
  // cross-engine (distinct doubles would be representation-dependent).
  q("agg_sum_distinct",
    """SELECT l_returnflag,
      |  CAST(SUM(DISTINCT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 100 AS sum_distinct_qty,
      |  CAST(COUNT(DISTINCT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
      |    AS BIGINT) AS n_distinct_qty,
      |  CAST(floor(CAST(SUM(DISTINCT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / COUNT(DISTINCT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
      |    / 100 * 10000 + 0.5) AS DOUBLE) / 10000 AS avg_distinct_qty
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""") { (s, dir) =>
    val q100 = Det.cents(col("l_quantity")).cast("long")
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg((sum_distinct(q100).cast("double") / 100).as("sum_distinct_qty"),
        countDistinct(q100).cast("long").as("n_distinct_qty"),
        Det.quant(sum_distinct(q100).cast("double") / countDistinct(q100)
          / 100, 4)
          .as("avg_distinct_qty"))
      .orderBy("l_returnflag")
  }

  // EXACT deciles per group — percentile_disc(q) for q = 10..90 — from
  // the value HISTOGRAM, never a per-row sort: the pick "smallest v with
  // cum ≥ ⌈q·n/10⌉" rewrites as the all-integer predicate cum·10 ≥ q·n,
  // so the whole query is integer arithmetic over a domain-bounded count
  // frame (the same scale shape as the Mann-Whitney rank trick). The
  // exact twin to agg_approx_percentile's sketch: at 100 TB the
  // histogram is |group|×|distinct cents| rows, and the decile grid
  // joins a 9-row broadcast.
  q("agg_exact_deciles",
    """WITH h AS (
      |  SELECT event_type AS et, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |), cum AS (
      |  SELECT et, v, c, SUM(c) OVER (PARTITION BY et ORDER BY v) AS cc,
      |    SUM(c) OVER (PARTITION BY et) AS n
      |  FROM h
      |), qs AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS q)
      |SELECT et AS event_type, CAST(q * 10 AS BIGINT) AS pct,
      |  CAST(MIN(CASE WHEN cc * 10 >= q * n THEN v END) AS DOUBLE) / 100
      |    AS value
      |FROM cum CROSS JOIN qs
      |GROUP BY et, q ORDER BY event_type, pct""") { (s, dir) =>
    val h = Tables(s, dir, "events")
      .groupBy(col("event_type").as("et"),
        Det.cents(col("value")).cast("long").as("v"))
      .agg(count(lit(1)).cast("long").as("c"))
    val wp = Window.partitionBy("et")
    val cum = h
      .withColumn("cc", sum("c").over(wp.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(wp))
    val qs = h.sparkSession.range(1, 10).select(col("id").as("q"))
    cum.crossJoin(broadcast(qs))
      .groupBy(col("et"), col("q"))
      .agg(min(when(col("cc") * 10 >= col("q") * col("n"), col("v")))
        .cast("double").as("v100"))
      .select(col("et").as("event_type"), (col("q") * 10).cast("long").as("pct"),
        (col("v100") / 100).as("value"))
      .orderBy("event_type", "pct")
  }

  // Lorenz curve deciles per order status: the cumulative REVENUE share
  // held by the bottom d·10% of orders — the curve behind agg_gini's
  // scalar. Exact rank semantics with tie-aware partial bins: the bottom
  // r = ceil(d·n/10) orders' value is the cumulative bin sum minus the
  // over-counted (cc − r) copies of the boundary bin's value — ALL
  // integer math on the value HISTOGRAM (never a row sort; the
  // winsorize/deciles scale argument), one double division per output
  // cell. Monotone by construction; Round10 checks convexity.
  q("agg_lorenz_deciles",
    """WITH h AS (
      |  SELECT o_orderstatus AS st,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1, 2
      |), cum AS (
      |  SELECT st, v, c,
      |    SUM(c) OVER (PARTITION BY st ORDER BY v) AS cc,
      |    SUM(v * c) OVER (PARTITION BY st ORDER BY v) AS cv,
      |    SUM(c) OVER (PARTITION BY st) AS n,
      |    SUM(v * c) OVER (PARTITION BY st) AS tv
      |  FROM h
      |), qs AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS q),
      |pick AS (
      |  SELECT st, q, MAX(n) AS n,
      |    MIN(CASE WHEN cc * 10 >= q * n THEN v END) AS bv
      |  FROM cum CROSS JOIN qs GROUP BY st, q
      |)
      |SELECT cum.st AS o_orderstatus, CAST(pick.q * 10 AS BIGINT) AS pct,
      |  floor((CAST(cv AS DOUBLE)
      |         - CAST(cc - (pick.q * cum.n + 9) // 10 AS DOUBLE) * cum.v)
      |    / CAST(tv AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bottom_share
      |FROM pick JOIN cum ON pick.st = cum.st AND pick.bv = cum.v
      |ORDER BY o_orderstatus, pct""") { (s, dir) =>
    val h = Tables(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("st"),
        Det.cents(col("o_totalprice")).cast("long").as("v"))
      .agg(count(lit(1)).cast("long").as("c"))
    val wp = Window.partitionBy("st")
    val wo = wp.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h
      .withColumn("cc", sum("c").over(wo))
      .withColumn("cv", sum(col("v") * col("c")).over(wo))
      .withColumn("n", sum("c").over(wp))
      .withColumn("tv", sum(col("v") * col("c")).over(wp))
    val qs = h.sparkSession.range(1, 11).select(col("id").as("q"))
    // The decile row's (v, cc, cv) ride INSIDE the threshold pick (r15):
    // bv = MIN v satisfying the rank condition, and struct comparison is
    // lexicographic-by-first-field, so min(when(cond, struct(v, cc, cv)))
    // selects exactly the old join-back's row WITH its cumulative values —
    // deleting the pick⋈cum join that re-derived the whole histogram +
    // window pass a second time (7 exchanges → 3, one window pass).
    // Identical arithmetic on identical picked values → same oracle hash.
    val pick = cum.crossJoin(broadcast(qs))
      .groupBy("st", "q")
      .agg(max("n").as("n"), max("tv").as("tv"),
        min(when(col("cc") * 10 >= col("q") * col("n"),
          struct(col("v"), col("cc"), col("cv")))).as("b"))
    pick
      .select(col("st").as("o_orderstatus"),
        (col("q") * 10).cast("long").as("pct"),
        Det.quant((col("b.cv").cast("double")
          - (col("b.cc") - expr("(q * n + 9) div 10")).cast("double")
            * col("b.v"))
          / col("tv").cast("double"), 6)
          .as("bottom_share"))
      .orderBy("o_orderstatus", "pct")
  }

  // Mergeable equi-log quantile summaries — the 100 TB percentile
  // pattern next to the HLL/bitmap rollups: each shard (order status
  // here) reduces to a CONSTANT-size sketch of ~7%-wide log-value
  // buckets carrying (count, min, max); sketches OR-merge exactly
  // (counts add, bounds min/max — all associative), and any quantile
  // query answers from the merged sketch with a guaranteed ≤ one-bucket
  // (~7% relative) error band [est_lo, est_hi]. The bucket index is the
  // integer-argument fixed-point ln divided by a fixed integer (P17 —
  // no transcendental leaves the blessed set), so shard summaries are
  // bit-identical in both engines. At scale this turns "p99 of a year"
  // into "merge 365 few-hundred-row summaries".
  q("agg_quantile_summary_merge",
    """WITH v AS (
      |  SELECT o_orderstatus AS shard,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |  FROM orders
      |), sk AS (
      |  SELECT shard,
      |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) // 68000
      |      AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS cnt,
      |    MIN(c) AS lo, MAX(c) AS hi
      |  FROM v GROUP BY 1, 2
      |), merged AS (
      |  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cnt,
      |    MIN(lo) AS lo, MAX(hi) AS hi
      |  FROM sk GROUP BY bucket
      |), cum AS (
      |  SELECT bucket, cnt, lo, hi,
      |    SUM(cnt) OVER (ORDER BY bucket) AS cc,
      |    SUM(cnt) OVER () AS n
      |  FROM merged
      |), qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct)
      |SELECT pct,
      |  CAST(MIN(CASE WHEN cc * 100 >= pct * n THEN lo END) AS DOUBLE) / 100
      |    AS est_lo,
      |  CAST(MIN(CASE WHEN cc * 100 >= pct * n THEN hi END) AS DOUBLE) / 100
      |    AS est_hi,
      |  CAST(MIN(CASE WHEN cc * 100 >= pct * n THEN bucket END) AS BIGINT)
      |    AS bucket
      |FROM cum CROSS JOIN qs GROUP BY pct ORDER BY pct""") { (s, dir) =>
    val v = Tables(s, dir, "orders")
      .select(col("o_orderstatus").as("shard"),
        Det.cents(col("o_totalprice")).cast("long").as("c"))
    val sk = v.groupBy(col("shard"),
        expr(s"CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) div 68000")
          .as("bucket"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        min("c").as("lo"), max("c").as("hi"))
    val merged = sk.groupBy("bucket")
      .agg(sum("cnt").cast("long").as("cnt"),
        min("lo").as("lo"), max("hi").as("hi"))
    val cum = merged
      .withColumn("cc", sum("cnt").over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
    val qs = v.sparkSession.range(0, 3)
      .select(element_at(array(lit(50L), lit(90L), lit(99L)),
        (col("id") + 1).cast("int")).as("pct"))
    cum.crossJoin(broadcast(qs))
      .groupBy("pct")
      .agg(
        (min(when(col("cc") * 100 >= col("pct") * col("n"), col("lo")))
          .cast("double") / 100).as("est_lo"),
        (min(when(col("cc") * 100 >= col("pct") * col("n"), col("hi")))
          .cast("double") / 100).as("est_hi"),
        min(when(col("cc") * 100 >= col("pct") * col("n"), col("bucket")))
          .cast("long").as("bucket"))
      .orderBy("pct")
  }

  // Pythagorean mean battery over purchase values — arithmetic,
  // geometric, and harmonic means in one pass (the AM ≥ GM ≥ HM chain a
  // pricing analysis reads together; harmonic is THE mean for rates).
  // Exactness: the geometric mean is exp of the mean of integer-argument
  // lnFix values (exact 128-bit sum, one bounded-argument exp); the
  // harmonic mean needs no floats at all until the output — Σ 10¹²//v is
  // an exact integer floor-division sum in both engines.
  q("agg_geo_harmonic_mean",
    """WITH v AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'
      |    AND floor(value * 100 + 0.5) > 0
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(v) AS HUGEINT) AS s,
      |    SUM(CAST(CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000000 + 0.5)
      |      AS BIGINT) AS HUGEINT)) AS slnv,
      |    CAST(SUM(1000000000000 // v) AS HUGEINT) AS hinv
      |  FROM v
      |)
      |SELECT n,
      |  CAST(floor(CAST(s AS DOUBLE) / n / 100 * 10000 + 0.5) AS DOUBLE)
      |    / 10000 AS arith_usd,
      |  CAST(floor(exp(CAST(slnv AS DOUBLE) / n / 1000000000) / 100 * 10000
      |    + 0.5) AS DOUBLE) / 10000 AS geo_usd,
      |  CAST(floor(CAST(n AS DOUBLE) * 1000000000000 / CAST(hinv AS DOUBLE)
      |    / 100 * 10000 + 0.5) AS DOUBLE) / 10000 AS harmonic_usd
      |FROM m""") { (s, dir) =>
    import org.apache.spark.sql.functions._
    val v = graft.engine.Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(Det.cents(col("value")).cast("long").as("v"))
      .filter(col("v") > 0)
    val m = v.agg(count(lit(1)).cast("long").as("n"),
      Det.wide(sum("v")).as("s"),
      sum(Det.wide(Det.lnFix(col("v"), 9)))
        .as("slnv"),
      Det.wide(sum(expr("1000000000000 div v"))).as("hinv"))
    m.select(col("n"),
      Det.quant(col("s").cast("double") / col("n") / 100, 4).as("arith_usd"),
      Det.quant(exp(col("slnv").cast("double") / col("n") / 1000000000L) / 100, 4).as("geo_usd"),
      Det.quant(col("n").cast("double") * 1000000000000L
        / col("hinv").cast("double") / 100, 4).as("harmonic_usd"))
  }
}
