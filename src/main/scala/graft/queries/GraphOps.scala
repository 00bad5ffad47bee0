package graft.queries

import graft.engine.{QueryPack, Tables}
import graft.ops.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over a derived trade graph (beyond SURVEY §2 core).
  *
  * The graph: nation → nation "trade" edges, one per distinct
  * (supplier nation, customer nation) pair observed in the order book —
  * derived by the 4-way lineitem ⋈ orders ⋈ customer ⋈ supplier join, so
  * the graded queries exercise graph analytics AND a realistic fact-to-
  * dimension edge extraction in one plan. At 100 TB the derivation is the
  * usual star join (dimension sides broadcast, fact side never shuffled —
  * see BenchPlanSpec's star-join pin); the analytics run on the collapsed
  * edge list, which is orders of magnitude smaller than the fact table.
  */
object GraphOps extends QueryPack {

  // Session-memoized like strongTradeEdges below, and for the same
  // reason: ~10 graded consumers (katz/pagerank/reciprocity/degree/
  // adamic-adar/...) share this 4-way fact join, which is the ONLY
  // fact-scale work in the family — the collapsed edge list is
  // |nations|²-bounded (≤625 rows), so the checkpoint costs nothing and
  // every consumer after the first skips the lineitem scan.
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    graft.ops.PlanMemo.byDir(s, dir, "GraphOps.tradeEdges") {
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .distinct()
        // |nations|² ≤ 625 rows by construction (a DIMENSION-bounded
        // collapse, not a corpus one) — one partition, so each downstream
        // BSP stage schedules 1 task instead of 32 near-empty ones.
        // persist, NOT localCheckpoint: a checkpoint erases the logical
        // plan into an opaque LogicalRDD, which would blind graph_hits'
        // BoundedCollect proof (the distinct IS the visible bound) and
        // the plan-shape pins; the cached plan keeps the Aggregate.
        .coalesce(1)
        .transform(graft.ops.PlanMemo.pin)
    }

  private val oracleEdges =
    """edges AS (
      |  SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE s.s_nationkey <> c.c_nationkey
      |)""".stripMargin

  private val prIters = 5

  // The oracle unrolls the BSP rounds as chained CTEs (r1..r5 generated
  // from the same iteration count the Spark loop uses): DuckDB's recursive
  // CTEs disallow aggregation over the recursive reference, and unrolling
  // keeps the per-round arithmetic — integer contributions, integer sums,
  // per-row double update — spelled identically to Graph.pageRank.
  private def prRound(k: Int): String =
    s"""r$k AS (
       |  SELECT n.id,
       |    CAST(floor(150000 + CAST(0.85 AS DOUBLE) * CAST(COALESCE(m.s, 0) AS DOUBLE) + 0.5) AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst, SUM(CAST(floor(CAST(r.r AS DOUBLE) / d.d) AS BIGINT)) AS s
       |    FROM edges e JOIN r${k - 1} r ON e.src = r.id JOIN deg d ON e.src = d.src
       |    GROUP BY e.dst) m ON n.id = m.dst
       |)""".stripMargin

  q("graph_pagerank",
    s"""WITH $oracleEdges,
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${(1 to prIters).map(prRound).mkString(",\n")}
       |SELECT nn.n_name, CAST(r.r AS DOUBLE) / 1000000 AS pr
       |FROM r$prIters r JOIN nation nn ON r.id = nn.n_nationkey
       |ORDER BY pr DESC, n_name""") { (s, dir) =>
    Graph.pageRank(tradeEdges(s, dir), prIters)
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), (col("r").cast("double") / 1000000).as("pr"))
      .orderBy(col("pr").desc, col("n_name"))
  }

  // Personalized PageRank — teleport restricted to the region-0 nations:
  // "how relevant is each nation to ASIA-0's trade neighborhood". Same
  // unrolled integer-BSP oracle as graph_pagerank with a seed-gated
  // teleport term and seed-only init; non-seed mass comes strictly from
  // propagation, so seed locality is visible in the ranking.
  private def pprRound(k: Int): String =
    s"""p$k AS (
       |  SELECT n.id,
       |    CAST(floor(CAST(n.seed AS DOUBLE) * 150000
       |      + CAST(0.85 AS DOUBLE) * CAST(COALESCE(m.s, 0) AS DOUBLE) + 0.5)
       |      AS BIGINT) AS r
       |  FROM snodes n LEFT JOIN (
       |    SELECT e.dst, SUM(CAST(floor(CAST(r.r AS DOUBLE) / d.d) AS BIGINT)) AS s
       |    FROM edges e JOIN p${k - 1} r ON e.src = r.id JOIN deg d ON e.src = d.src
       |    GROUP BY e.dst) m ON n.id = m.dst
       |)""".stripMargin

  q("graph_ppr",
    s"""WITH $oracleEdges,
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |snodes AS (
       |  SELECT nodes.id,
       |    CASE WHEN nn.n_regionkey = 0 THEN 1 ELSE 0 END AS seed
       |  FROM nodes JOIN nation nn ON nodes.id = nn.n_nationkey
       |),
       |p0 AS (SELECT id, CAST(seed * 1000000 AS BIGINT) AS r FROM snodes),
       |${(1 to prIters).map(pprRound).mkString(",\n")}
       |SELECT nn.n_name, CAST(nn.n_regionkey = 0 AS BOOLEAN) AS is_seed,
       |  CAST(r.r AS DOUBLE) / 1000000 AS ppr
       |FROM p$prIters r JOIN nation nn ON r.id = nn.n_nationkey
       |ORDER BY ppr DESC, n_name""") { (s, dir) =>
    val seeds = Tables(s, dir, "nation").filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").as("id"))
    Graph.personalizedPageRank(tradeEdges(s, dir), seeds, prIters)
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), (col("n_regionkey") === 0).as("is_seed"),
        (col("r").cast("double") / 1000000).as("ppr"))
      .orderBy(col("ppr").desc, col("n_name"))
  }

  q("graph_triangle_count",
    s"""WITH $oracleEdges,
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)
       |SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
       |FROM und e1
       |JOIN und e2 ON e1.b = e2.a
       |JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
       |ORDER BY na, nb, nc""") { (s, dir) =>
    Graph.triangles(tradeEdges(s, dir))
      .orderBy("na", "nb", "nc")
  }

  // Degree-oriented triangle enumeration — identical output to
  // graph_triangle_count (the oracle IS the naive form's SQL), different
  // plan: edges orient toward the (degree, id)-larger endpoint, bounding
  // wedge fanout by O(√m) per vertex instead of d² at hub vertices — the
  // skew-proof 100 TB form (see Graph.trianglesOriented).
  q("graph_triangle_oriented",
    s"""WITH $oracleEdges,
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)
       |SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
       |FROM und e1
       |JOIN und e2 ON e1.b = e2.a
       |JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
       |ORDER BY na, nb, nc""") { (s, dir) =>
    Graph.trianglesOriented(tradeEdges(s, dir))
      .orderBy("na", "nb", "nc")
  }

  // Hub ranking by undirected degree — the cheap structural profile a
  // pipeline computes before deciding partitioning for the expensive
  // analytics above (skewed hubs → salting); one symmetrized aggregate.
  q("graph_degree_topk",
    s"""WITH $oracleEdges,
       |sym AS (SELECT src AS id, dst AS nbr FROM edges
       |        UNION SELECT dst, src FROM edges)
       |SELECT nn.n_name, CAST(COUNT(*) AS BIGINT) AS degree
       |FROM sym JOIN nation nn ON sym.id = nn.n_nationkey
       |GROUP BY nn.n_name
       |ORDER BY degree DESC, n_name LIMIT 10""") { (s, dir) =>
    val e = tradeEdges(s, dir)
    val sym = e.select(col("src").as("id"), col("dst").as("nbr"))
      .union(e.select(col("dst").as("id"), col("src").as("nbr")))
      .distinct()
    sym.join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("n_name"))
      .limit(10)
  }

  // Neighbor-set Jaccard — the classic link-prediction / role-similarity
  // feature: two nodes are structurally similar when their neighborhoods
  // overlap. Candidates come from the WEDGE join (pairs sharing ≥1
  // neighbor), the same neighbor-blocked sub-quadratic shape as shingle
  // blocking in text dedup — never an all-pairs node join; at 100 TB the
  // hub-fanout guard is the same df-cap / orientation trick the triangle
  // and dedup operators already carry. Counts exact; one double division
  // per surviving pair.
  q("graph_neighbor_jaccard",
    s"""WITH $oracleEdges,
       |sym AS (SELECT src AS id, dst AS nbr FROM edges
       |        UNION SELECT dst, src FROM edges),
       |deg AS (SELECT id, COUNT(*) AS n FROM sym GROUP BY id),
       |inter AS (
       |  SELECT x.id AS node_a, y.id AS node_b, COUNT(*) AS shared
       |  FROM sym x JOIN sym y ON x.nbr = y.nbr AND x.id < y.id
       |  GROUP BY x.id, y.id
       |)
       |SELECT node_a, node_b, CAST(shared AS BIGINT) AS shared,
       |  round(CAST(shared AS DOUBLE) / (da.n + db.n - shared), 4) AS jaccard
       |FROM inter
       |JOIN deg da ON node_a = da.id JOIN deg db ON node_b = db.id
       |WHERE CAST(shared AS DOUBLE) / (da.n + db.n - shared)
       |      >= CAST(0.5 AS DOUBLE)
       |ORDER BY node_a, node_b""") { (s, dir) =>
    val e = tradeEdges(s, dir)
    val sym = e.select(col("src").as("id"), col("dst").as("nbr"))
      .union(e.select(col("dst").as("id"), col("src").as("nbr")))
      .distinct()
    val deg = sym.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sym.as("x")
      .join(sym.as("y"), col("x.nbr") === col("y.nbr") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("node_a"), col("y.id").as("node_b"))
      .agg(count(lit(1)).as("shared"))
    // raw-expression filter, quantized select (P14)
    val j = col("shared").cast("double") / (col("da.n") + col("db.n") - col("shared"))
    inter
      .join(deg.as("da"), col("node_a") === col("da.id"))
      .join(deg.as("db"), col("node_b") === col("db.id"))
      .filter(j >= lit(0.5))
      .select(col("node_a"), col("node_b"),
        col("shared").cast("long").as("shared"), round(j, 4).as("jaccard"))
      .orderBy("node_a", "node_b")
  }

  // ---- Weight-thresholded graph for the component/path analytics ----
  // Keeping only edges with weight ≥ 2× the exact median edge weight makes
  // the (otherwise complete) trade graph sparse, and the RELATIVE
  // threshold keeps it similarly sparse at every corpus scale — an
  // absolute cut would re-densify at 10× the data. The median is the
  // exact lower-median row (row_number selection with a full tiebreak,
  // same device as the winsorize/IQR family) over the EDGE table — a
  // |E|-sized frame, never the fact table.
  // Session-memoized: FIVE graded consumers (cc/bfs/kcore/modularity/
  // assortativity) share the 4-way fact join + median threshold, which is
  // the only fact-scale work in the family — each consumer's BSP rounds
  // run on the collapsed |E|-sized frame.
  private def strongTradeEdges(s: SparkSession, dir: String): DataFrame =
    graft.ops.PlanMemo.byDir(s, dir, "GraphOps.strongTradeEdges") {
      strongTradeEdgesBuild(s, dir)
        .transform(graft.ops.PlanMemo.pin)
    }

  private def strongTradeEdgesBuild(s: SparkSession, dir: String): DataFrame = {
    val we = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val ww = org.apache.spark.sql.expressions.Window.orderBy("w", "src", "dst")
    val med = we
      .select(col("w"), row_number().over(ww).as("rn"),
        count(lit(1)).over().as("cnt"))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("w").as("mw"))
    we.crossJoin(broadcast(med)).filter(col("w") >= lit(2) * col("mw"))
      .select(col("src"), col("dst"))
  }

  private val oracleStrongEdges =
    """we AS (
      |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE s.s_nationkey <> c.c_nationkey
      |  GROUP BY 1, 2
      |), med AS (
      |  SELECT w AS mw FROM (
      |    SELECT w, row_number() OVER (ORDER BY w, src, dst) AS rn,
      |      COUNT(*) OVER () AS cnt FROM we
      |  ) WHERE rn = (cnt + 1) // 2
      |), ke AS (
      |  SELECT src, dst FROM we WHERE w >= 2 * (SELECT mw FROM med)
      |), sym AS (
      |  SELECT src, dst FROM ke WHERE src <> dst
      |  UNION SELECT dst, src FROM ke WHERE src <> dst
      |), nodes AS (SELECT DISTINCT src AS id FROM sym)""".stripMargin

  private val ccIters = 8

  // Each unrolled round references its predecessor EXACTLY ONCE: the
  // self-loop rows in symx fold "keep own label" into the same MIN, so the
  // CTE chain stays linear under inlining. A round shaped as
  // `CASE ... FROM c(k-1) LEFT JOIN (agg over c(k-1))` references it twice
  // and inlines to 2^k evaluations of the whole edge-derivation join —
  // observed to spill the oracle engine to disk at k=8.
  private def ccRound(k: Int): String =
    s"""c$k AS (
       |  SELECT s.src AS id, MIN(c.comp) AS comp
       |  FROM symx s JOIN c${k - 1} c ON s.dst = c.id GROUP BY s.src
       |)""".stripMargin

  // Connected components of the strong-trade graph — "which nation blocs
  // only trade heavily among themselves". Fixed-round min-label BSP
  // (rounds ≥ diameter of the thresholded graph); both engines run the
  // IDENTICAL unrolled rounds, so the output is deterministic by
  // construction, converged or not. The oracle unrolls the rounds as
  // chained CTEs exactly like graph_pagerank's.
  q("graph_cc",
    s"""WITH $oracleStrongEdges,
       |symx AS (SELECT src, dst FROM sym UNION ALL SELECT id, id FROM nodes),
       |c0 AS (SELECT id, id AS comp FROM nodes),
       |${(1 to ccIters).map(ccRound).mkString(",\n")}
       |SELECT nn.n_name, CAST(c.comp AS BIGINT) AS component
       |FROM c$ccIters c JOIN nation nn ON c.id = nn.n_nationkey
       |ORDER BY component, n_name""") { (s, dir) =>
    Graph.labelPropagate(strongTradeEdges(s, dir), ccIters)
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("comp").as("component"))
      .orderBy("component", "n_name")
  }

  // Newman modularity of the REGION partition on the strong-trade graph —
  // "do the heavy-trade blocs align with geography?". Exact-integer core:
  // with M = |symmetric edge list| (= 2·edges), E2_c = both-endpoint-in-c
  // directed edge count, D_c = degree sum, each region's contribution is
  // (E2_c·M − D_c²)/M² and Q = Σ numerators / M² — numerators accumulate
  // 128-bit (P16), ONE double division per output. Scale shape: two
  // broadcast-joinable maps (node→region, node→degree) over the collapsed
  // edge list; nothing fact-scale.
  q("graph_modularity",
    s"""WITH $oracleStrongEdges,
       |cm AS (SELECT n_nationkey AS id, n_regionkey AS comp FROM nation),
       |mm AS (SELECT COUNT(*) AS m2 FROM sym),
       |deg AS (SELECT src AS id, COUNT(*) AS dg FROM sym GROUP BY src),
       |dc AS (
       |  SELECT cm.comp, SUM(dg) AS d_c
       |  FROM deg JOIN cm ON deg.id = cm.id GROUP BY cm.comp
       |), ec AS (
       |  SELECT a.comp, COUNT(*) AS e2_c
       |  FROM sym s JOIN cm a ON s.src = a.id JOIN cm b ON s.dst = b.id
       |  WHERE a.comp = b.comp GROUP BY a.comp
       |), nu AS (
       |  SELECT dc.comp, COALESCE(ec.e2_c, 0) AS e2_c, dc.d_c,
       |    CAST(COALESCE(ec.e2_c, 0) AS HUGEINT) * m2
       |      - CAST(dc.d_c AS HUGEINT) * dc.d_c AS num, m2
       |  FROM dc LEFT JOIN ec ON dc.comp = ec.comp CROSS JOIN mm
       |)
       |SELECT r.r_name, CAST(e2_c // 2 AS BIGINT) AS intra_edges,
       |  CAST(d_c AS BIGINT) AS degree_sum,
       |  CAST(floor(CAST(num AS DOUBLE) / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
       |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS contribution,
       |  CAST(floor(CAST((SELECT SUM(num) FROM nu) AS DOUBLE)
       |    / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
       |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS q_total
       |FROM nu JOIN region r ON nu.comp = r.r_regionkey
       |ORDER BY r_name""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val fwd = strongTradeEdges(s, dir).filter(col("src") =!= col("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val cm = Tables(s, dir, "nation")
      .select(col("n_nationkey").as("id"), col("n_regionkey").as("comp"))
    val mm = sym.agg(count(lit(1)).as("m2"))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
    val dc = deg.join(broadcast(cm), "id").groupBy("comp").agg(sum("dg").as("d_c"))
    val ec = sym
      .join(broadcast(cm.select(col("id").as("sid"), col("comp").as("ca"))),
        col("src") === col("sid"))
      .join(broadcast(cm.select(col("id").as("did"), col("comp").as("cb"))),
        col("dst") === col("did"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comp")).agg(count(lit(1)).as("e2_c"))
    val nu = dc.join(ec, Seq("comp"), "left").crossJoin(broadcast(mm))
      .select(col("comp"), coalesce(col("e2_c"), lit(0L)).as("e2_c"), col("d_c"),
        (dec(coalesce(col("e2_c"), lit(0L))) * col("m2")
          - dec(col("d_c")) * col("d_c")).as("num"), col("m2"))
      .localCheckpoint()
    val tot = nu.agg(sum("num").as("num_tot"))
    nu.crossJoin(broadcast(tot))
      .join(Tables(s, dir, "region"), col("comp") === col("r_regionkey"))
      .select(col("r_name"),
        expr("e2_c div 2").cast("long").as("intra_edges"),
        col("d_c").cast("long").as("degree_sum"),
        (floor(col("num").cast("double")
          / (col("m2").cast("double") * col("m2").cast("double"))
          * 1000000 + lit(0.5)).cast("double") / 1000000).as("contribution"),
        (floor(col("num_tot").cast("double")
          / (col("m2").cast("double") * col("m2").cast("double"))
          * 1000000 + lit(0.5)).cast("double") / 1000000).as("q_total"))
      .orderBy("r_name")
  }

  // Degree assortativity of the strong-trade graph — Pearson correlation
  // of endpoint degrees over the symmetric edge list (negative =
  // hub-to-leaf "exporter feeds satellites" topology). Exact-integer
  // moments (degrees joined onto edges, 128-bit Σxy/Σx²; P16) cast to
  // double once; r is one closed-form chain incl. IEEE sqrt (correctly
  // rounded, engine-identical). Degree map broadcasts over the edge list.
  q("graph_assortativity",
    s"""WITH $oracleStrongEdges,
       |deg AS (SELECT src AS id, COUNT(*) AS dg FROM sym GROUP BY src),
       |xy AS (
       |  SELECT a.dg AS x, b.dg AS y
       |  FROM sym s JOIN deg a ON s.src = a.id JOIN deg b ON s.dst = b.id
       |), m AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS mm,
       |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
       |    CAST(COUNT(*) AS BIGINT) AS m_directed
       |  FROM xy
       |)
       |SELECT CAST(m_directed // 2 AS BIGINT) AS m_edges,
       |  CAST(floor((mm * sxy - sx * sy)
       |    / sqrt((mm * sxx - sx * sx) * (mm * syy - sy * sy))
       |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS assortativity
       |FROM m""") { (s, dir) =>
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val fwd = strongTradeEdges(s, dir).filter(col("src") =!= col("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
    val xy = sym
      .join(broadcast(deg.select(col("id").as("ia"), col("dg").as("x"))),
        col("src") === col("ia"))
      .join(broadcast(deg.select(col("id").as("ib"), col("dg").as("y"))),
        col("dst") === col("ib"))
      .select(col("x"), col("y"))
    val m = xy.agg(
      count(lit(1)).cast("double").as("mm"),
      sum(dec(col("x"))).cast("double").as("sx"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum(dec(col("x")) * col("y")).cast("double").as("sxy"),
      sum(dec(col("x")) * col("x")).cast("double").as("sxx"),
      sum(dec(col("y")) * col("y")).cast("double").as("syy"),
      count(lit(1)).cast("long").as("m_directed"))
    m.select(expr("m_directed div 2").cast("long").as("m_edges"),
      (floor((col("mm") * col("sxy") - col("sx") * col("sy"))
        / sqrt((col("mm") * col("sxx") - col("sx") * col("sx"))
          * (col("mm") * col("syy") - col("sy") * col("sy")))
        * 1000000 + lit(0.5)).cast("double") / 1000000).as("assortativity"))
  }

  private val bfsIters = 6

  // Same linear-chain device as ccRound: weight-0 self-loops in symw let
  // MIN(d + w) express "min(own d, 1 + min neighbor d)" in one aggregate
  // (MIN skips NULL distances in both engines), one predecessor reference.
  private def bfsRound(k: Int): String =
    s"""b$k AS (
       |  SELECT s.src AS id, MIN(b.d + s.w) AS d
       |  FROM symw s JOIN b${k - 1} b ON s.dst = b.id GROUP BY s.src
       |)""".stripMargin

  // BFS hop distance from the minimum-id node of the strong-trade graph —
  // "how many strong-trade hops separate each bloc member from the
  // anchor". Same unrolled fixed-round BSP as graph_cc; nodes outside the
  // explored radius (or in another component) surface as NULL.
  private val kcK = 2
  private val kcRounds = 4

  // Each peel round references its predecessor ONCE by computing both
  // endpoint degrees as window counts over the same edge scan (symmetric
  // list ⇒ partition-by-src count IS the degree) — the same linear-chain
  // discipline as ccRound/bfsRound, just with windows instead of a
  // self-join so the degree filter needs no second reference.
  private def kcRound(r: Int): String =
    s"""e$r AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      COUNT(*) OVER (PARTITION BY src) AS ds,
       |      COUNT(*) OVER (PARTITION BY dst) AS dd
       |    FROM e${r - 1}
       |  ) WHERE ds >= $kcK AND dd >= $kcK
       |)""".stripMargin

  // k-core of the strong-trade graph (k = 2, fixed 4 peel rounds) — the
  // "mutually-committed trade bloc" skeleton: nodes kept only while ≥ k
  // strong partners themselves survive. Deterministic converged or not;
  // both engines run the identical rounds.
  q("graph_kcore",
    s"""WITH $oracleStrongEdges,
       |e0 AS (SELECT src, dst FROM sym),
       |${(1 to kcRounds).map(kcRound).mkString(",\n")}
       |SELECT nn.n_name, CAST(j.degree AS BIGINT) AS degree
       |FROM (SELECT src AS id, COUNT(*) AS degree FROM e$kcRounds GROUP BY src) j
       |JOIN nation nn ON j.id = nn.n_nationkey
       |ORDER BY n_name""") { (s, dir) =>
    Graph.kCorePeel(strongTradeEdges(s, dir), kcK, kcRounds)
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("degree").cast("long").as("degree"))
      .orderBy("n_name")
  }

  // HITS hubs & authorities, 3 BSP rounds over the directed trade graph —
  // the second classic link-analysis fixed point next to PageRank, and a
  // different propagation shape (two alternating half-rounds per round).
  // Normalization, the usual float hazard of HITS, is INTEGER: each
  // half-round rescales scores to ·1e6 by floor division by the round's
  // max, so both engines carry identical BIGINTs and the oracle unrolls
  // the same 3 rounds as chained CTEs with scalar-subquery maxima. Same
  // BSP seam as graph_pagerank (edge frame persisted once; per-round
  // frames are |V|-sized).
  private val hitsIters = 3

  private def hitsRound(k: Int): String =
    s"""a${k}r AS (
       |  SELECT n.id, COALESCE(m.s, 0) AS ar FROM nodes n LEFT JOIN (
       |    SELECT e.dst, SUM(h${k - 1}.h) AS s FROM edges e
       |    JOIN h${k - 1} ON e.src = h${k - 1}.id GROUP BY e.dst) m
       |  ON n.id = m.dst
       |), a$k AS (
       |  SELECT id, ar * 1000000 // (SELECT MAX(ar) FROM a${k}r) AS a
       |  FROM a${k}r
       |), h${k}r AS (
       |  SELECT n.id, COALESCE(m.s, 0) AS hr FROM nodes n LEFT JOIN (
       |    SELECT e.src, SUM(a$k.a) AS s FROM edges e
       |    JOIN a$k ON e.dst = a$k.id GROUP BY e.src) m
       |  ON n.id = m.src
       |), h$k AS (
       |  SELECT id, hr * 1000000 // (SELECT MAX(hr) FROM h${k}r) AS h
       |  FROM h${k}r
       |)""".stripMargin

  q("graph_hits",
    s"""WITH $oracleEdges,
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |${(1 to hitsIters).map(hitsRound).mkString(",\n")}
       |SELECT nn.n_name,
       |  CAST(h$hitsIters.h AS DOUBLE) / 1000000 AS hub,
       |  CAST(a$hitsIters.a AS DOUBLE) / 1000000 AS authority
       |FROM h$hitsIters JOIN a$hitsIters ON h$hitsIters.id = a$hitsIters.id
       |JOIN nation nn ON h$hitsIters.id = nn.n_nationkey
       |ORDER BY n_name""") { (s, dir) =>
    // The DISTINCT nation-pair edge derivation is the corpus-scale work
    // and stays distributed (4-way join over lineitem). The graph it
    // yields is CATALOG-bounded — ≤25 nations, ≤600 directed edges,
    // corpus-independent — so the HITS rounds run driver-side over the
    // collected edge list with the identical integer arithmetic
    // (Long `/` on nonnegative values ≡ `div`/`//`), the same
    // bounded-collect class as Linalg's moment matrix. Formerly 3 rounds
    // of tiny Spark jobs with localCheckpoint lineage cuts: 4.8 s at
    // sf0.1; now one collect job + microseconds. Corpus-sized graphs
    // (doc dedup CC, user graphs) keep the distributed BSP path in
    // ops/Graph — this shortcut is only valid when |V| is bounded by the
    // CATALOG, not the corpus.
    val edges = graft.ops.BoundedCollect.rows(tradeEdges(s, dir), "HITS edge list")
      .map(r => (r.getInt(0), r.getInt(1)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val inByDst = edges.groupBy(_._2)
    val outBySrc = edges.groupBy(_._1)
    var h = nodes.map(_ -> 1000000L).toMap
    var a = Map.empty[Int, Long]
    for (_ <- 1 to hitsIters) {
      val ar = nodes.map(id =>
        id -> inByDst.getOrElse(id, Array.empty[(Int, Int)])
          .iterator.map(e => h(e._1)).sum).toMap
      val ma = ar.values.max
      a = ar.map { case (k, v) => k -> v * 1000000L / ma }
      val hr = nodes.map(id =>
        id -> outBySrc.getOrElse(id, Array.empty[(Int, Int)])
          .iterator.map(e => a(e._2)).sum).toMap
      val mh = hr.values.max
      h = hr.map { case (k, v) => k -> v * 1000000L / mh }
    }
    val spark = s
    import spark.implicits._
    val haDf = nodes.map(id => (id, h(id), a(id))).toSeq.toDF("id", "h", "a")
    haDf.join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"),
        (col("h").cast("double") / 1000000).as("hub"),
        (col("a").cast("double") / 1000000).as("authority"))
      .orderBy("n_name")
  }

  // Adamic-Adar link prediction: candidate pairs come from the WEDGE join
  // (same neighbor-blocked sub-quadratic shape as graph_neighbor_jaccard —
  // never all-pairs), each common neighbor w contributing 1/ln(deg(w)).
  // Determinism: the only transcendental is ln over the tiny integer
  // degree domain (common neighbors have deg ≥ 2 by construction, so
  // ln > 0), quantized PER NEIGHBOR to a 6-dp integer before the pair sum —
  // the cross-row double-sum-order trap (SURVEY §5.4) never opens.
  q("graph_adamic_adar",
    s"""WITH $oracleEdges,
       |sym AS (SELECT src AS id, dst AS nbr FROM edges
       |        UNION SELECT dst, src FROM edges),
       |deg AS (SELECT id, COUNT(*) AS n FROM sym GROUP BY id),
       |term AS (
       |  SELECT id, CAST(floor(1000000.0 / ln(CAST(n AS DOUBLE)) + 0.5) AS BIGINT) AS t
       |  FROM deg WHERE n >= 2
       |)
       |SELECT x.id AS node_a, y.id AS node_b,
       |  CAST(COUNT(*) AS BIGINT) AS shared,
       |  CAST(SUM(tm.t) AS DOUBLE) / 1000000 AS aa_score
       |FROM sym x JOIN sym y ON x.nbr = y.nbr AND x.id < y.id
       |JOIN term tm ON x.nbr = tm.id
       |GROUP BY x.id, y.id
       |ORDER BY aa_score DESC, node_a, node_b LIMIT 20""") { (s, dir) =>
    val e = tradeEdges(s, dir)
    val sym = e.select(col("src").as("id"), col("dst").as("nbr"))
      .union(e.select(col("dst").as("id"), col("src").as("nbr")))
      .distinct()
    val term = sym.groupBy("id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("id"),
        floor(lit(1000000.0) / log(col("n").cast("double")) + lit(0.5))
          .cast("long").as("t"))
    sym.as("x")
      .join(sym.as("y"), col("x.nbr") === col("y.nbr") && col("x.id") < col("y.id"))
      .join(term.as("tm"), col("x.nbr") === col("tm.id"))
      .groupBy(col("x.id").as("node_a"), col("y.id").as("node_b"))
      .agg(count(lit(1)).cast("long").as("shared"),
        (sum(col("tm.t")).cast("double") / 1000000).as("aa_score"))
      .orderBy(col("aa_score").desc, col("node_a"), col("node_b"))
      .limit(20)
  }

  // Local clustering coefficient: 2·tri(v) / (deg(v)·(deg(v)−1)), the
  // per-node "how clique-like is my neighborhood" readout. Per-vertex
  // triangle counts reuse the oriented (a<b<c) triangle enumeration —
  // each triangle credits all three corners — so the plan never expands
  // beyond the |E|-sized wedge join. The coefficient is INTEGER floor
  // division at 6 dp: both engines floor the same exact integer ratio,
  // no float division anywhere.
  q("graph_clustering_coeff",
    s"""WITH $oracleEdges,
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
       |sym AS (SELECT a AS id, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT id, COUNT(*) AS d FROM sym GROUP BY id),
       |tri AS (
       |  SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
       |  FROM und e1
       |  JOIN und e2 ON e1.b = e2.a
       |  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
       |), pv AS (
       |  SELECT v, COUNT(*) AS t FROM (
       |    SELECT na AS v FROM tri UNION ALL SELECT nb FROM tri
       |    UNION ALL SELECT nc FROM tri) GROUP BY v
       |)
       |SELECT nn.n_name, CAST(deg.d AS BIGINT) AS degree,
       |  CAST(COALESCE(pv.t, 0) AS BIGINT) AS triangles,
       |  CASE WHEN deg.d < 2 THEN CAST(0 AS DOUBLE)
       |    ELSE CAST((2 * COALESCE(pv.t, 0) * 1000000) // (deg.d * (deg.d - 1))
       |      AS DOUBLE) / 1000000 END AS clustering
       |FROM deg LEFT JOIN pv ON deg.id = pv.v
       |JOIN nation nn ON deg.id = nn.n_nationkey
       |ORDER BY n_name""") { (s, dir) =>
    val e = tradeEdges(s, dir)
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val sym = und.select(col("a").as("id"), col("b").as("nbr"))
      .union(und.select(col("b").as("id"), col("a").as("nbr")))
    val deg = sym.groupBy("id").agg(count(lit(1)).as("d"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("na"), col("e1.b").as("nb"), col("e2.b").as("nc"))
    val pv = tri.select(col("na").as("v"))
      .union(tri.select(col("nb").as("v")))
      .union(tri.select(col("nc").as("v")))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(pv, col("id") === col("v"), "left")
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("d").cast("long").as("degree"),
        coalesce(col("t"), lit(0L)).cast("long").as("triangles"),
        when(col("d") < 2, lit(0.0)).otherwise(
          expr("(2 * coalesce(t, 0) * 1000000) div (d * (d - 1))")
            .cast("double") / 1000000).as("clustering"))
      .orderBy("n_name")
  }

  q("graph_bfs_dist",
    s"""WITH $oracleStrongEdges,
       |symw AS (SELECT src, dst, 1 AS w FROM sym
       |         UNION ALL SELECT id, id, 0 FROM nodes),
       |b0 AS (
       |  SELECT id, CASE WHEN id = (SELECT MIN(id) FROM nodes)
       |    THEN 0 ELSE NULL END AS d
       |  FROM nodes
       |),
       |${(1 to bfsIters).map(bfsRound).mkString(",\n")}
       |SELECT nn.n_name, CAST(b.d AS BIGINT) AS dist
       |FROM b$bfsIters b JOIN nation nn ON b.id = nn.n_nationkey
       |ORDER BY n_name""") { (s, dir) =>
    Graph.bfsDist(strongTradeEdges(s, dir), bfsIters)
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("d").cast("long").as("dist"))
      .orderBy("n_name")
  }

  // Katz centrality truncated at 3 path lengths with dyadic attenuation
  // β = 1/2 (Graph.katz): katz8 = 4·p1 + 2·p2 + p3 in 1/8 units, where
  // p_r counts directed trade paths of length r ending at the nation —
  // exact integer path counts, so the centrality ranking is
  // engine-deterministic with no floating point at all. The oracle is the
  // same three sparse matvecs as chained CTEs.
  q("graph_katz",
    s"""WITH $oracleEdges,
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |p1 AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS p
       |       FROM edges GROUP BY dst),
       |p2 AS (SELECT e.dst AS id, SUM(p.p) AS p
       |       FROM edges e JOIN p1 p ON e.src = p.id GROUP BY e.dst),
       |p3 AS (SELECT e.dst AS id, SUM(p.p) AS p
       |       FROM edges e JOIN p2 p ON e.src = p.id GROUP BY e.dst)
       |SELECT nn.n_name,
       |  CAST(4 * COALESCE(p1.p, 0) + 2 * COALESCE(p2.p, 0)
       |    + COALESCE(p3.p, 0) AS BIGINT) AS katz8
       |FROM nodes n
       |LEFT JOIN p1 ON n.id = p1.id
       |LEFT JOIN p2 ON n.id = p2.id
       |LEFT JOIN p3 ON n.id = p3.id
       |JOIN nation nn ON n.id = nn.n_nationkey
       |ORDER BY katz8 DESC, n_name""") { (s, dir) =>
    Graph.katz(tradeEdges(s, dir), rounds = 3)
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("katz").as("katz8"))
      .orderBy(col("katz8").desc, col("n_name"))
  }

  // Edge reciprocity of the directed trade graph: the share of edges
  // whose reverse edge also exists — the standard directed-network
  // symmetry diagnostic. One semi-join of the edge list against its own
  // swap; the ratio is a single double division over two exact counts.
  q("graph_reciprocity",
    s"""WITH $oracleEdges,
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       |    CAST(SUM(CASE WHEN EXISTS (
       |      SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal
       |  FROM edges e
       |)
       |SELECT n_edges, n_reciprocal,
       |  CAST(floor(CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE)
       |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS reciprocity
       |FROM m""") { (s, dir) =>
    val e = tradeEdges(s, dir)
    val recip = e.join(e.select(col("dst").as("r_src"), col("src").as("r_dst")),
        col("src") === col("r_src") && col("dst") === col("r_dst"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_reciprocal"))
    e.agg(count(lit(1)).cast("long").as("n_edges"))
      .crossJoin(broadcast(recip))
      .select(col("n_edges"), col("n_reciprocal"),
        (floor(col("n_reciprocal").cast("double") / col("n_edges").cast("double")
          * 1000000 + lit(0.5)).cast("double") / 1000000).as("reciprocity"))
  }

  // Strongly connected components of the DIRECTED strong-trade graph
  // (w ≥ 2·median edges — the same sparsified edge set the BFS/k-core
  // family rides): which nation blocs trade mutually, directly or through
  // intermediaries, and which nations sit outside every cycle. Exact via
  // Graph.scc's transitive-closure path doubling (5 rounds covers paths
  // ≤ 32 > |nations|); the oracle is the recursive-CTE closure with the
  // identical mutual-reach MIN. The fact-scale work is the shared
  // star-join edge derivation; the closure runs on the collapsed
  // dimension-bounded graph (see Graph.scc's scale note for the FW-BW
  // web-scale alternative).
  q("graph_scc",
    s"""WITH RECURSIVE $oracleStrongEdges,
       |dn AS (SELECT src AS id FROM ke UNION SELECT dst FROM ke),
       |reach AS (
       |  SELECT id AS src, id AS dst FROM dn
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN ke e ON r.dst = e.src
       |),
       |scc AS (
       |  SELECT r1.src AS id, MIN(r1.dst) AS sid
       |  FROM reach r1 JOIN reach r2
       |    ON r2.src = r1.dst AND r2.dst = r1.src
       |  GROUP BY r1.src
       |),
       |sz AS (SELECT sid, CAST(COUNT(*) AS BIGINT) AS m FROM scc GROUP BY sid)
       |SELECT nn.n_name, CAST(s.sid AS BIGINT) AS scc_id, z.m AS scc_size
       |FROM scc s JOIN sz z ON s.sid = z.sid
       |JOIN nation nn ON s.id = nn.n_nationkey
       |ORDER BY n_name""") { (s, dir) =>
    val comp = Graph.scc(strongTradeEdges(s, dir), doublingRounds = 5)
    val sz = comp.groupBy("scc_id").agg(count(lit(1)).cast("long").as("scc_size"))
    comp.join(sz, "scc_id")
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("scc_id").cast("long").as("scc_id"),
        col("scc_size"))
      .orderBy("n_name")
  }

  private val apIters = 6

  // One all-pairs relax round, keyed by BFS source — bfsRound with the
  // (s, v) composite state instead of v (same self-loop MIN(d+w) device).
  private def apRound(k: Int): String =
    s"""p$k AS (
       |  SELECT p.s AS s, e.dst AS v, MIN(p.d + e.w) AS d
       |  FROM symw e JOIN p${k - 1} p ON p.v = e.src
       |  GROUP BY p.s, e.dst
       |)""".stripMargin

  // Wasserman-Faust closeness centrality of every nation in the strong-
  // trade graph: C(s) = ((r−1)/(n−1)) · ((r−1)/Σd) over the r nodes
  // reachable from s within the fixed BFS radius — the disconnected-
  // graph-safe normalization (isolates score exactly 0 via an integer
  // Σd = 0 test, not a double compare). Runs every BFS source
  // simultaneously: Graph.allPairsDist's relax frame is bounded by
  // |V|² reached pairs, sane only because nodes are a collapsed
  // dimension; billion-node closeness swaps in sampled pivots /
  // HyperBall sketches (see the Scaladoc). The oracle unrolls the same
  // rounds with (s, v) keys.
  q("graph_closeness",
    s"""WITH $oracleStrongEdges,
       |symw AS (SELECT src, dst, 1 AS w FROM sym
       |         UNION ALL SELECT id, id, 0 FROM nodes),
       |p0 AS (SELECT id AS s, id AS v, 0 AS d FROM nodes),
       |${(1 to apIters).map(apRound).mkString(",\n")},
       |agg AS (
       |  SELECT s, CAST(COUNT(*) AS BIGINT) AS r, CAST(SUM(d) AS BIGINT) AS sd
       |  FROM p$apIters GROUP BY s
       |), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)
       |SELECT nn.n_name, a.r AS n_reachable, a.sd AS sum_dist,
       |  CASE WHEN a.sd = 0 THEN 0.0 ELSE
       |    floor((CAST(a.r - 1 AS DOUBLE) / (n - 1))
       |      * (CAST(a.r - 1 AS DOUBLE) / a.sd) * 1000000 + 0.5) / 1000000
       |  END AS closeness
       |FROM agg a CROSS JOIN cnt JOIN nation nn ON a.s = nn.n_nationkey
       |ORDER BY n_name""") { (s, dir) =>
    val d = Graph.allPairsDist(strongTradeEdges(s, dir), apIters)
    val agg = d.groupBy("s")
      .agg(count(lit(1)).cast("long").as("r"), sum("d").cast("long").as("sd"))
    val cnt = agg.agg(count(lit(1)).cast("long").as("n"))
    agg.crossJoin(broadcast(cnt))
      .join(Tables(s, dir, "nation"), col("s") === col("n_nationkey"))
      .select(col("n_name"), col("r").as("n_reachable"),
        col("sd").as("sum_dist"),
        when(col("sd") === 0, lit(0.0)).otherwise(
          floor(((col("r") - 1).cast("double") / (col("n") - 1))
            * ((col("r") - 1).cast("double") / col("sd")) * 1000000
            + lit(0.5)).cast("double") / 1000000).as("closeness"))
      .orderBy("n_name")
  }

  // Shortest-path hop-length DISTRIBUTION over all unordered reachable
  // pairs of the strong-trade graph — the small-world readout (average
  // path length + effective diameter fall straight out of cum_share).
  // Rides the same all-sources relax frame as graph_closeness (bounded
  // by |V|² pairs on the collapsed dimension graph; billion-node twins
  // sample pivots); the histogram/cumshare math is all-integer with one
  // double division per row.
  q("graph_path_length_dist",
    s"""WITH $oracleStrongEdges,
       |symw AS (SELECT src, dst, 1 AS w FROM sym
       |         UNION ALL SELECT id, id, 0 FROM nodes),
       |p0 AS (SELECT id AS s, id AS v, 0 AS d FROM nodes),
       |${(1 to apIters).map(apRound).mkString(",\n")},
       |pairs AS (SELECT d FROM p$apIters WHERE s < v),
       |h AS (SELECT d AS hops, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |      FROM pairs GROUP BY d),
       |c AS (
       |  SELECT hops, n_pairs,
       |    SUM(n_pairs) OVER (ORDER BY hops) AS cum,
       |    SUM(n_pairs) OVER () AS tot
       |  FROM h
       |)
       |SELECT CAST(hops AS BIGINT) AS hops, n_pairs,
       |  floor(CAST(cum AS DOUBLE) / tot * 1000000 + 0.5) / 1000000
       |    AS cum_share
       |FROM c ORDER BY hops""") { (s, dir) =>
    val d = Graph.allPairsDist(strongTradeEdges(s, dir), apIters)
      .filter(col("s") < col("v"))
    val h = d.groupBy(col("d").as("hops"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    val wc = Window.orderBy("hops")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cum", sum("n_pairs").over(wc))
      .withColumn("tot", sum("n_pairs").over(
        Window.partitionBy()))
      .select(col("hops").cast("long").as("hops"), col("n_pairs"),
        (floor(col("cum").cast("double") / col("tot") * 1000000 + lit(0.5))
          / 1000000).as("cum_share"))
      .orderBy("hops")
  }

  private val lpaIters = 3

  // Each unrolled vote references its predecessor once (the ccRound
  // inlining constraint): join neighbors → count labels → rank-1 pick
  // with the (count DESC, label ASC) deterministic tie-break.
  private def lpaRound(k: Int): String =
    s"""l$k AS (
       |  SELECT v AS id, label FROM (
       |    SELECT s.src AS v, c.label, COUNT(*) AS cnt,
       |      row_number() OVER (PARTITION BY s.src
       |        ORDER BY COUNT(*) DESC, c.label) AS rn
       |    FROM sym s JOIN l${k - 1} c ON s.dst = c.id
       |    GROUP BY s.src, c.label
       |  ) WHERE rn = 1
       |)""".stripMargin

  // Community detection by mode-label propagation (LPA) on the
  // strong-trade graph — the frequency-vote sibling of graph_cc's
  // min-label components: labels converge to dense trade blocs rather
  // than mere reachability classes. Fixed 3 synchronous rounds with the
  // (count DESC, label ASC) tie-break run identically in both engines,
  // so the output is deterministic converged or not. Scale shape: per
  // round one shuffle on dst (the join) + one on (v,label) (the vote) +
  // a WindowGroupLimit rank-1 pick — the same bounded-round BSP seam as
  // pagerank/cc, linear in |edges| per round at any graph size.
  q("graph_community_lpa",
    s"""WITH $oracleStrongEdges,
       |l0 AS (SELECT id, id AS label FROM nodes),
       |${(1 to lpaIters).map(lpaRound).mkString(",\n")}
       |SELECT nn.n_name, CAST(l.label AS BIGINT) AS community
       |FROM l$lpaIters l JOIN nation nn ON l.id = nn.n_nationkey
       |ORDER BY community, n_name""") { (s, dir) =>
    Graph.modeLabelPropagate(strongTradeEdges(s, dir), lpaIters)
      .join(Tables(s, dir, "nation"), col("id") === col("n_nationkey"))
      .select(col("n_name"), col("label").as("community"))
      .orderBy("community", "n_name")
  }

  // Degree power-law readout over the customer-supplier TRADE graph (the
  // bipartite fact-derived graph, thousands of nodes — the nation graph
  // is too small for a tail): per-customer partner degree, then the Zipf
  // slope of the top-100 log-log degree-rank curve — the "is this graph
  // scale-free" diagnostic run before choosing partitioning for graph
  // jobs (power-law degrees are exactly where hub-key skew comes from).
  // Determinism: degrees and ranks are integers, both logs go through
  // the integer-argument fixed-point lnFix (P12), the OLS moments
  // promote to DECIMAL(38,0)/HUGEINT, and the slope is one quantized
  // double — the text_zipf_slope discipline on a graph frame. Scale: one
  // fact join collapses to the distinct edge list; the rank window runs
  // over the degree AGGREGATE (node-bounded, detector-proof). Audit row:
  // formula_audit.audit_degree_powerlaw.
  q("graph_degree_powerlaw",
    """WITH edges AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), deg AS (
      |  SELECT cust, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY cust
      |), rk AS (
      |  SELECT d, row_number() OVER (ORDER BY d DESC, cust) AS r FROM deg
      |), pts AS (
      |  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS x,
      |    CAST(floor(ln(CAST(d AS DOUBLE)) * 100000000 + 0.5) AS BIGINT) AS y
      |  FROM rk WHERE r <= 100
      |), mom AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM pts
      |), st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |    CAST(SUM(d) AS BIGINT) AS n_edges, CAST(MAX(d) AS BIGINT) AS max_degree
      |  FROM deg
      |)
      |SELECT st.n_nodes, st.n_edges, st.max_degree,
      |  CAST(mom.n AS BIGINT) AS n_points,
      |  CAST(floor(CAST(mom.n * mom.sxy - mom.sx * mom.sy AS DOUBLE)
      |    / CAST(mom.n * mom.sxx - mom.sx * mom.sx AS DOUBLE) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS degree_slope
      |FROM mom CROSS JOIN st""") { (s, dir) =>
    import graft.engine.Det
    val edges = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val deg = edges.groupBy("cust").agg(count(lit(1)).cast("long").as("d"))
    // r16: only ranks r <= 100 survive, so take the top 100 via
    // orderBy.limit (TakeOrderedAndProject — per-partition heap + driver
    // merge) and assign row_number on the 100-row result instead of
    // moving EVERY customer's degree to one task under an unpartitioned
    // window. Identical (d desc, cust) total order → identical ranks.
    val rk = deg.orderBy(col("d").desc, col("cust")).limit(100)
      .withColumn("r",
        row_number().over(Window.orderBy(col("d").desc, col("cust"))))
    val pts = rk.select(Det.lnFix(col("r"), 8).cast("long").as("x"),
      Det.lnFix(col("d"), 8).cast("long").as("y"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val mom = pts.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"))
    val st = deg.agg(count(lit(1)).cast("long").as("n_nodes"),
      sum("d").cast("long").as("n_edges"),
      max("d").cast("long").as("max_degree"))
    mom.crossJoin(broadcast(st))
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("n").cast("long").as("n_points"),
        (floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          * 1000000 + lit(0.5)).cast("double") / 1000000).as("degree_slope"))
  }

  // Rich-club coefficient at k=8 — do the highest-degree trade hubs
  // preferentially trade with EACH OTHER? φ(k) = 2·E_k / (k·(k−1)) over
  // the undirected edges whose both endpoints sit in the top-k degree
  // set (degree-desc, nationkey tiebreak — deterministic membership).
  // φ ≈ 1 means the hubs form a near-clique (the "rich club"); compare
  // against graph_assortativity's global correlation. All counting is
  // exact integers over the collapsed ≤25-node edge list; the top-k set
  // is a broadcast semi-join, never a shuffle of the edge frame.
  q("graph_rich_club",
    s"""WITH $oracleEdges,
       |und AS (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges
       |), sym AS (
       |  SELECT a AS id FROM und UNION ALL SELECT b FROM und
       |), deg AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
       |  FROM sym GROUP BY id
       |), topk AS (
       |  SELECT id FROM deg ORDER BY degree DESC, id LIMIT 8
       |)
       |SELECT CAST(8 AS BIGINT) AS k,
       |  CAST(COUNT(*) AS BIGINT) AS n_edges_within,
       |  CAST(floor(2.0 * COUNT(*) / (8 * 7) * 1000000 + 0.5) AS DOUBLE)
       |    / 1000000 AS phi
       |FROM und
       |WHERE a IN (SELECT id FROM topk) AND b IN (SELECT id FROM topk)""") {
    (s, dir) =>
    val e = tradeEdges(s, dir)
    val und = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).cast("long").as("degree"))
    val topk = deg.orderBy(col("degree").desc, col("id")).limit(8)
      .select(col("id"))
    und
      .join(broadcast(topk.select(col("id").as("ta"))),
        col("a") === col("ta"), "left_semi")
      .join(broadcast(topk.select(col("id").as("tb"))),
        col("b") === col("tb"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_edges_within"))
      .select(lit(8L).as("k"), col("n_edges_within"),
        (floor(lit(2.0) * col("n_edges_within") / (8 * 7) * 1000000
          + lit(0.5)).cast("double") / 1000000).as("phi"))
  }
}
