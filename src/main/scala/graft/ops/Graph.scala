package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge-list DataFrames (beyond SURVEY §2 core —
  * the iterative-BSP family next to [[Dedup.connectedComponents]]).
  *
  * Scale design (100 TB): an edge list is just a two-column table, so every
  * step here is a shuffle-on-key join/aggregate — the exact plan GraphX
  * lowers to, with no extra dependency and full Catalyst/AQE participation.
  * PageRank is one join + one aggregate per BSP round with the rank state
  * localCheckpointed (same seam as the CC loop: cut the iterative lineage,
  * re-plan each round at runtime). Checkpoints here are LAZY (r15: no loop
  * in this file takes a mid-loop driver decision — unlike the CC loop's
  * observe-based convergence test — so the eager per-round materialization
  * job bought nothing; the logical plan is cut to a LogicalRDD and the
  * physical plan is fixed at `.toRdd` either way). The PageRank loop
  * additionally runs under [[withLoopConfs]] (AQE scoped off + measured
  * loop sizing: bench-min 1.40 → 0.91 s pagerank, 1.02 → 0.66 s ppr at
  * sf0.1, byte-identical output); the OTHER loops measured WORSE under
  * the same window (their per-round shuffle reads a 32/64-partition
  * cached union, which AQE's runtime coalescing handles better than any
  * static size — bfs_dist 0.93 → 1.79 s regression, reverted), so they
  * keep AQE on. Triangle enumeration is the classic
  * two-join canonical-ordering form; at web scale the standard refinement
  * is degree-orientation (orient each edge toward the higher-degree vertex,
  * bounding per-vertex fanout by arboricity) — a pre-ranking step on the
  * same plan shape, not a different algorithm.
  */
object Graph {

  /** Scoped confs for a fixed-round BSP loop over `sized` (a persisted
    * frame whose row count ≈ the per-round shuffle volume): shuffle
    * partitions derived from the MEASURED row count (the scale-adaptive
    * sizing AQE would otherwise do round by round), and AQE off for the
    * window (r15 measure: with AQE on, each round's `.toRdd` — forced by
    * localCheckpoint, lazy or not — runs getFinalPhysicalPlan, which
    * executes every query stage of the round synchronously: one blocking
    * job plus a re-optimization pass per shuffle per round, ~0.18 s/round
    * of pure driver time on the 625-edge nation graph; with AQE off and
    * LAZY checkpoints the whole loop defers to ONE action's stage DAG).
    * Results are identical either way — only scheduling changes. Skew on
    * pathological graphs at cluster scale is the documented trade: flip
    * AQE back on per session and the loops run exactly as before r15.
    * Returns body(nRows) so callers can reuse the measured count. */
  private def withLoopConfs[T](sized: DataFrame)(body: Long => T): T = {
    val spark = sized.sparkSession
    val n = sized.count()
    val para = spark.sparkContext.defaultParallelism.toLong
    // one partition per ~250k edge rows, 1..parallelism: with AQE scoped
    // off there is no runtime coalescing, so the static size must not
    // overshoot — a dimension-bounded graph (hundreds of rows) runs its
    // rounds in ONE task (measured: the para/4 floor of the CC loop made
    // each 8-task round stage cost more than the round's compute here),
    // while a 2M-edge graph still fans to 9+ partitions and a corpus-scale
    // graph saturates the cluster.
    val loopParts = math.max(1L, math.min(para, n / 250000L + 1L))
    graft.engine.Confs.withConfs(spark)(
      "spark.sql.shuffle.partitions" -> loopParts.toString,
      "spark.sql.adaptive.enabled" -> "false") { body(n) }
  }

  /** Katz centrality, truncated at `rounds` path lengths with dyadic
    * attenuation β = 1/2: katz(v) = Σ_{r=1..rounds} β^r · paths_r(v)
    * (directed paths of length r ending at v). Path counts are exact
    * BIGINTs (each round is one sparse matvec: join on src, sum on dst),
    * and with β dyadic the weighted sum stays integer in units of
    * 2^-rounds — no floating point anywhere, fully engine-deterministic.
    * Scale: `rounds` key-shuffles over the edge list, same shape as a
    * pageRank round; path counts grow like (mean in-degree)^r, still far
    * inside int64 for any r this truncation makes sense at. Returns
    * (id, katz) with katz in 2^-rounds units. */
  def katz(edges: DataFrame, rounds: Int): DataFrame = {
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .transform(PlanMemo.pin)
    val nodes = fwd.select(col("src").as("id"))
      .union(fwd.select(col("dst").as("id"))).distinct()
    var pr = fwd.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).cast("long").as("p"))
    var acc = pr.select(col("id"), (col("p") * (1L << (rounds - 1))).as("k"))
    for (r <- 2 to rounds) {
      pr = fwd.join(pr, fwd("src") === pr("id"))
        .groupBy(col("dst")).agg(sum("p").as("p"))
        .select(col("dst").as("id"), col("p"))
      acc = acc.join(pr.select(col("id"), (col("p") * (1L << (rounds - r))).as("w")),
          Seq("id"), "full")
        .select(col("id"),
          (coalesce(col("k"), lit(0L)) + coalesce(col("w"), lit(0L))).as("k"))
    }
    nodes.join(acc, Seq("id"), "left")
      .select(col("id"), coalesce(col("k"), lit(0L)).as("katz"))
  }

  /** Fixed-iteration PageRank in integer micro-units.
    *
    * Cross-engine determinism (SURVEY §5.4 P2): ranks are BIGINT millionths.
    * Per-edge contribution `floor(rank / outdeg)` and the per-round update
    * `floor(0.15e6 + 0.85·Σ + 0.5)` are per-row IEEE double ops on integer
    * inputs — bit-identical in Spark and DuckDB — and the only aggregation
    * is an integer SUM, which no ordering can perturb. The result is an
    * exactly-reproducible rank vector (documented micro-unit quantization;
    * the usual float PageRank differs run-to-run at the ulp level anyway).
    *
    * Dangling vertices (no out-edges) keep the teleport mass only — the
    * simple variant; redistribution is one extra broadcast scalar per round
    * if ever needed. Returns (id, r) with r in micro-units.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    prLoop(edges, None, iters)

  /** Personalized PageRank: [[pageRank]] with the teleport mass restricted
    * to a SEED set — the "relevance to these nodes" ranking behind
    * related-item and local-community queries. Same integer fixed point
    * (1e6-scaled ranks, exact-rational floors): seeds start at 1e6 and
    * receive the 0.15 teleport each round; non-seeds start at 0 and live
    * off propagated mass alone. Identical BSP shape and costs. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int): DataFrame =
    prLoop(edges, Some(seeds), iters)

  /** The shared BSP loop behind [[pageRank]] (seedsOpt = None: every node
    * seeds — uniform teleport, uniform init) and [[personalizedPageRank]]
    * (seed-gated teleport and init). Kept as ONE implementation so the
    * loop's scale devices — edge-frame persist, loop-sized shuffle
    * partitions, localCheckpoint lineage cuts, exact-rational floors —
    * cannot drift between the two rankings. Note the global variant does
    * NOT join a seed frame at all: broadcasting an all-nodes "seed set"
    * would broadcast the node table, corpus-sized on a real graph. */
  private def prLoop(edges: DataFrame, seedsOpt: Option[DataFrame],
                     iters: Int): DataFrame = {
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // (src, dst, outdeg) is consumed once per round under the same join key
    // — persist the joined form so rounds pay a cached scan, not the
    // upstream edge derivation (often a multiway join) each time
    val deg = fwd.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = fwd.join(deg, "src").transform(PlanMemo.pin)
    // materialize the (possibly expensive) upstream edge derivation ONCE,
    // outside the loop, and size the loop's shuffles to the edge count —
    // the same seam as the CC loop: an iterative plan pays scheduling for
    // every shuffle partition every round, and a derived graph is often
    // orders of magnitude smaller than the tables it came from (the nation
    // trade graph is ~600 edges out of a 600k-row star join).
    withLoopConfs(withDeg) { _ =>
      val bare = fwd.select(col("src").as("id"))
        .union(fwd.select(col("dst").as("id")))
        .distinct()
      val nodes = seedsOpt match {
        case Some(seeds) => bare
          .join(broadcast(seeds.select(col("id"), lit(1L).as("seed"))),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("seed"), lit(0L)).as("seed"))
          .transform(PlanMemo.pin)
        case None => bare.select(col("id"), lit(1L).as("seed"))
          .transform(PlanMemo.pin)
      }
      var ranks = nodes
        .select(col("id"), (col("seed") * 1000000L).as("r"))
        .localCheckpoint(eager = false)
      for (_ <- 0 until iters) {
        val contribs = withDeg
          .join(ranks, withDeg("src") === ranks("id"))
          .select(col("dst"),
            // exact-rational floor survives the double division: |r| < 2^53
            // and the true quotient is ≥ 1/outdeg away from any integer it
            // doesn't equal, far beyond one ulp at these magnitudes
            floor(col("r").cast("double") / col("outdeg")).cast("long").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
        ranks = nodes
          .join(contribs, nodes("id") === contribs("dst"), "left")
          .select(col("id"),
            floor(col("seed").cast("double") * 150000.0
              + lit(0.85) * coalesce(col("s"), lit(0L)).cast("double")
              + lit(0.5)).cast("long").as("r"))
          .localCheckpoint(eager = false)
      }
      ranks
    }
  }


  /** Fixed-round min-label propagation (connected components) over an
    * undirected edge list: comp₀(v) = v, compₖ(v) = min(compₖ₋₁(v),
    * min over neighbors compₖ₋₁(u)). Converges once k reaches the graph
    * diameter; callers pick k ≥ the expected diameter, and because BOTH
    * engines run the identical k rounds, the output is deterministic even
    * pre-convergence. One join + one integer-MIN aggregate per round —
    * the same BSP seam as [[pageRank]] (localCheckpoint lineage cuts);
    * for unbounded-diameter graphs at 100 TB the pointer-jumping variant
    * in [[Dedup.connectedComponents]] (O(log d) rounds) is the scale
    * path — this fixed-round form exists for bounded-diameter analytics
    * graphs where the unrolled plan is cheaper than the adaptive loop. */
  def labelPropagate(edges: DataFrame, iters: Int): DataFrame = {
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(PlanMemo.pin)
    val nodes = sym.select(col("src").as("id")).distinct()
      .transform(PlanMemo.pin)
    // Self-loops fold the "keep own label" min into the SAME neighbor
    // aggregate, so each round is ONE join + MIN referencing the previous
    // round exactly once — essential for the oracle twin, where a round
    // referencing its predecessor twice inlines exponentially in engines
    // without CTE materialization (observed: 2^8 re-evaluations spilled
    // DuckDB to disk), and one fewer join per round here too.
    val symx = sym.union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .transform(PlanMemo.pin)
    var comp = nodes.select(col("id"), col("id").as("comp")).localCheckpoint(eager = false)
    for (_ <- 0 until iters) {
      comp = symx.join(comp, symx("dst") === comp("id"))
        .groupBy(symx("src").as("gid")).agg(min("comp").as("comp"))
        .select(col("gid").as("id"), col("comp"))
        .localCheckpoint(eager = false)
    }
    comp
  }

  /** Fixed-round synchronous label-propagation COMMUNITY detection
    * (mode-label LPA, Raghavan et al. 2007): label₀(v) = v, labelₖ(v) =
    * the most frequent label among v's neighbors at round k−1, ties
    * broken by the smallest label. Unlike [[labelPropagate]]'s MIN
    * (which computes connected components), the frequency vote settles
    * into dense blocs — communities — and the deterministic tie-break
    * plus fixed round count make the pre-convergence output identical in
    * both engines. Every node of the symmetrized graph has ≥1 neighbor
    * by construction, so the neighbors-only vote is total. Per round:
    * one join + one count aggregate + a WindowGroupLimit rank-1 pick —
    * each round references its predecessor exactly once (the oracle-twin
    * inlining constraint, see [[labelPropagate]]). */
  def modeLabelPropagate(edges: DataFrame, iters: Int): DataFrame = {
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(PlanMemo.pin)
    val nodes = sym.select(col("src").as("id")).distinct()
    var lab = nodes.select(col("id"), col("id").as("label")).localCheckpoint(eager = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(col("cnt").desc, col("label"))
    for (_ <- 0 until iters) {
      lab = sym.join(lab, sym("dst") === lab("id"))
        .groupBy(sym("src").as("v"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v").as("id"), col("label"))
        .localCheckpoint(eager = false)
    }
    lab
  }

  /** Fixed-round BFS shortest hop-distance from the minimum-id node:
    * d₀(source) = 0, dₖ(v) = min(dₖ₋₁(v), 1 + min over neighbors
    * dₖ₋₁(u)); unreached nodes stay NULL. Same determinism argument and
    * BSP plan shape as [[labelPropagate]] — one relax join + integer-MIN
    * aggregate per round, k bounds the radius explored. */
  def bfsDist(edges: DataFrame, iters: Int): DataFrame = {
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(PlanMemo.pin)
    val nodes = sym.select(col("src").as("id")).distinct()
      .transform(PlanMemo.pin)
    // Weight-0 self-loops make the relax step a single join + MIN(d + w)
    // (MIN skips NULL-distance neighbors in both engines; the self-loop
    // guarantees every node keeps a row), referencing the previous round
    // once — same linear-chain rationale as [[labelPropagate]].
    val symw = sym.select(col("src"), col("dst"), lit(1L).as("w"))
      .union(nodes.select(col("id").as("src"), col("id").as("dst"), lit(0L).as("w")))
      .transform(PlanMemo.pin)
    val srcNode = nodes.agg(min("id").as("sid"))
    var dist = nodes.crossJoin(broadcast(srcNode))
      .select(col("id"),
        when(col("id") === col("sid"), lit(0L)).otherwise(lit(null).cast("long")).as("d"))
      .localCheckpoint(eager = false)
    for (_ <- 0 until iters) {
      dist = symw.join(dist, symw("dst") === dist("id"))
        .groupBy(symw("src").as("gid")).agg(min(col("d") + col("w")).as("d"))
        .select(col("gid").as("id"), col("d"))
        .localCheckpoint(eager = false)
    }
    dist
  }

  /** Fixed-round k-core peel: each round drops every edge with an endpoint
    * of current degree < k in the surviving subgraph; after `rounds` rounds
    * the surviving nodes approximate (and, once stable, equal) the k-core.
    * Returns (id, degree) for surviving nodes. Deterministic converged or
    * not — both engines run the identical round count. One degree
    * aggregate + two semi-join-shaped filters per round over the edge
    * list; the symmetric list makes out-degree = degree, so no second
    * aggregate is needed. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    var sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(eager = false)
    for (_ <- 0 until rounds) {
      val keep = sym.groupBy(col("src").as("kid")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("kid"))
      sym = sym
        .join(keep, sym("src") === keep("kid"), "left_semi")
        .join(keep.select(col("kid").as("kid2")), sym("dst") === col("kid2"), "left_semi")
        .localCheckpoint(eager = false)
    }
    sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
  }

  /** Every triangle in the undirected graph, emitted once as an ordered
    * (a < b < c) triple. Canonical-ordering enumeration: orient each edge
    * low→high, then a triangle is exactly one (a,b)-(b,c) wedge closed by
    * (a,c) — two equi-joins, no post-dedup. */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .transform(PlanMemo.pin)
    und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("na"), col("e1.b").as("nb"), col("e2.b").as("nc"))
  }

  /** [[triangles]] with degree orientation — the web-scale form. Plain
    * id-ordering enumerates every wedge at its lowest-ID vertex, so a hub
    * with degree d that happens to have a small id fans out d²/2 wedge
    * candidates (the skew bomb on power-law graphs). Orienting each edge
    * toward its (degree, id)-larger endpoint instead bounds every vertex's
    * OUT-degree by O(√m) — a wedge only forms at a vertex that points to
    * both others — so total wedge candidates fall from Σd² to O(m^1.5), the
    * optimal bound (Cohen's MapReduce triangle counting / the standard
    * compact-forward algorithm). Same two equi-joins, same output: each
    * triangle found exactly once at its ≺-smallest vertex, re-emitted as
    * the sorted (na < nb < nc) triple, so callers and the oracle cannot
    * tell the plans apart. */
  def trianglesOriented(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .transform(PlanMemo.pin)
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    // total order ≺ = (degree, id); ori holds u→v with key(u) < key(v),
    // carrying v's key so wedges can be ordered without re-joining degrees
    val ori = und
      .join(deg.select(col("id").as("a"), struct(col("dg"), col("id")).as("ka")), "a")
      .join(deg.select(col("id").as("b"), struct(col("dg"), col("id")).as("kb")), "b")
      .select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("u"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("v"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kv"))
      .transform(PlanMemo.pin)
    val closing = ori.select(col("u").as("cv"), col("v").as("cw"))
    ori.as("e1")
      .join(ori.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
      // the closing edge is oriented e1.v → e2.v by transitivity of ≺
      .join(closing,
        col("cv") === col("e1.v") && col("cw") === col("e2.v"))
      .select(array_sort(array(col("e1.u"), col("e1.v"), col("e2.v"))).as("t"))
      .select(element_at(col("t"), 1).as("na"),
        element_at(col("t"), 2).as("nb"),
        element_at(col("t"), 3).as("nc"))
  }

  /** Exact strongly connected components of a DIRECTED edge list via
    * transitive-closure path doubling: after r doubling rounds the reach
    * relation contains every path of length ≤ 2^r, so r ≥ log₂|V| is
    * exact; the SCC id of v is then MIN over the mutual-reach set
    * (closure ∩ its own transpose — v and u are mutually reachable iff
    * both (v,u) and (u,v) are in the closure). Fully deterministic: pure
    * set algebra on integer pairs, no floating point.
    *
    * Scale: closure is O(|V|²) pairs and is only the right algorithm
    * because the node domain here is a collapsed DIMENSION (nations) —
    * the 100 TB term in any consumer's plan is the fact-table star join
    * that derives the edges, not this bounded closure. Web-scale SCC on
    * a billion-node graph swaps this for FW-BW pivot decomposition
    * (forward ∩ backward reach from a pivot, recurse on the remainder) —
    * same join-per-round plan shape, different work bound. Each round
    * localCheckpoints to cut the iterative lineage (the CC-loop seam). */
  def scc(edges: DataFrame, doublingRounds: Int): DataFrame = {
    val de = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val nodes = de.select(col("src").as("id")).union(de.select(col("dst")))
      .distinct().transform(PlanMemo.pin)
    // seed with the identity so every node owns a reach row and the
    // mutual-reach MIN below is total (a singleton SCC is {v} itself)
    var reach = de
      .union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .distinct().localCheckpoint(eager = false)
    for (_ <- 0 until doublingRounds) {
      val hop = reach.as("a").join(reach.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      reach = reach.union(hop).distinct().localCheckpoint(eager = false)
    }
    val mutual = reach
      .intersect(reach.select(col("dst").as("src"), col("src").as("dst")))
    mutual.groupBy(col("src").as("id")).agg(min("dst").as("scc_id"))
  }

  /** Fixed-round all-pairs shortest hop distances (undirected): the
    * [[bfsDist]] relax loop keyed by (source, node) instead of node, so
    * every node is a BFS source simultaneously — one join + integer-MIN
    * aggregate per round over a frame bounded by |V|·|V| REACHED pairs.
    * Exact once iters ≥ graph diameter; unreached pairs are simply
    * absent. Only sane on a dimension-bounded node set (here: nations) —
    * billion-node closeness estimation swaps this for sampled pivots
    * (HyperBall-style sketches), same per-round plan shape. */
  def allPairsDist(edges: DataFrame, iters: Int): DataFrame = {
    val fwd = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(PlanMemo.pin)
    val nodes = sym.select(col("src").as("id")).distinct()
      .transform(PlanMemo.pin)
    // weight-0 self-loops: one join + MIN(d+w) per round carries the
    // previous distance forward — the single-predecessor-reference shape
    // shared with bfsDist/labelPropagate (and their oracle CTE chains)
    val symw = sym.select(col("src"), col("dst"), lit(1L).as("w"))
      .union(nodes.select(col("id").as("src"), col("id").as("dst"), lit(0L).as("w")))
      .transform(PlanMemo.pin)
    var dist = nodes.select(col("id").as("s"), col("id").as("v"), lit(0L).as("d"))
      .localCheckpoint(eager = false)
    for (_ <- 0 until iters) {
      dist = symw.join(dist, dist("v") === symw("src"))
        .groupBy(dist("s").as("gs"), symw("dst").as("gv"))
        .agg(min(col("d") + col("w")).as("d"))
        .select(col("gs").as("s"), col("gv").as("v"), col("d"))
        .localCheckpoint(eager = false)
    }
    dist
  }
}
