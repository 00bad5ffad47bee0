package graft.ops

import graft.engine.Det
import graft.engine.Tables.fan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §2.9).
  *
  * Scale design (100 TB): brute force is O(|probes|·|corpus|) — correct
  * baseline, used when probes are few. The LSH path buckets the corpus by
  * random-hyperplane sign bits so each probe only meets its bucket
  * (expected corpus/2^bits candidates), which is the standard
  * shuffle-friendly ANN layout: bucket id is the join key, no pair blowup.
  * Both paths share the same scoring expression, so swapping them is a
  * plan change, not a semantics change.
  */
object Sim {

  /** Sequential-fold dot product in double — matches the oracle's
    * list_reduce association exactly (0.0 + x == x in IEEE). Routed
    * through the native codegen DotProduct expression: same fold order,
    * ~10× faster than interpreted zip_with/aggregate lambdas (the
    * pairwise queries evaluate millions of 64-dim dots). Installs graft
    * into the active session; the Sim entry points also install into
    * their input's session, since getActiveSession is a thread-local and
    * is None on pool threads created before the session. */
  def dot(a: Column, b: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.GraftSession.install)
    call_function("graft_dot", a, b)
  }

  def norm2(a: Column): Column = dot(a, a)

  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Broadcast `df` only when the optimizer's size estimate fits under
    * `graft.sim.broadcastThreshold` (bytes, default 512 MB — sized for the
    * driver+executor memory of a typical large-cluster profile, not for
    * this box). Over the threshold the hint is simply omitted and the join
    * planner picks from stats: an equi-join becomes a shuffle hash/sort-
    * merge join, a theta join a partitioned nested-loop — same semantics,
    * no assume-it-fits-in-memory seam. This was the one unconditional
    * `broadcast()` in the §2.9 family (r3 verdict hygiene item). Exposed
    * repo-wide (r13): any frame whose cardinality the CALLER cannot bound
    * (group keys, cell×code cross terms) must route through this gate
    * rather than an unconditional hint — the r12 100× stress OOMed on
    * exactly the unconditional form. */
  private[graft] def maybeBroadcast(df: DataFrame): DataFrame = {
    val threshold = df.sparkSession.conf
      .get("graft.sim.broadcastThreshold", (512L << 20).toString).toLong
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
      broadcast(df)
    else df
  }

  /** cosine = dot / (sqrt(|a|²) * sqrt(|b|²)), association fixed. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** [[cosine]] with the per-vector norms precomputed: inside a pairwise
    * join, inlining `cosine` evaluates THREE dim-length dot products per
    * PAIR; hoisting `sqrt(norm2(e))` to a per-ROW column leaves one dot per
    * pair — a 3× flop cut on the O(n²)/candidate hot paths. Bit-identical
    * output: the norm is the same expression over the same row evaluated
    * once instead of n times, and the divide/multiply order is unchanged. */
  private def cosinePre(d: Column, na: Column, nb: Column): Column =
    d / (na * nb)

  /** (vec_id, e, nrm) projection every pairwise path scores from. */
  private def withNorm(v: DataFrame): DataFrame =
    v.withColumn("nrm", sqrt(dot(col("e"), col("e"))))

  /** Brute-force top-k neighbors for each probe (rounded-sim ranking with
    * id tiebreak — deterministic). */
  def cosineTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val p = withNorm(probes.select(col("vec_id").as("probe_id"),
        asDouble(col("embedding")).as("e")))
      .select(col("probe_id"), col("e").as("pe"), col("nrm").as("pn"))
    val c = withNorm(corpus.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .select(col("vec_id"), col("e").as("ce"), col("nrm").as("cn"))
    val scored = fan(p).crossJoin(maybeBroadcast(c))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosinePre(dot(col("pe"), col("ce")), col("pn"), col("cn")), 4).as("sim"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): greedily pick `selectK` of the probe's `candK` nearest
    * neighbors, each round choosing argmax λ·sim(q,d) −
    * (1−λ)·max_{s∈S} sim(d,s) with λ=0.5 — at which the ranking equals
    * argmax of the INTEGER quantity su − max(pij) (both 4-dp-fixed sims),
    * so every greedy pick is an exact integer argmax with id tiebreak,
    * engine-deterministic. Scale shape: one corpus pass scores the
    * candidate pool (the same brute-force/LSH seam as cosineTopK); the
    * pool is persisted (candK rows) and every MMR round after it touches
    * only candK²-row broadcast frames — the greedy loop never rescans the
    * corpus. Returns (pick_order, vec_id, sim, mmr). */
  def mmrDiversify(corpus: DataFrame, probeId: Long,
                   candK: Int, selectK: Int): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val c = withNorm(corpus.select(col("vec_id"), asDouble(col("embedding")).as("e")))
    val cand = c.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(c.filter(col("vec_id") === probeId)
        .select(col("e").as("pe"), col("nrm").as("pn"))))
      .select(col("vec_id"), col("e"),
        Det.fix(round(cosinePre(dot(col("pe"), col("e")), col("pn"), col("nrm")), 4),
          4).cast("long").as("su"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("su").desc, col("vec_id"))))
      .filter(col("rn") <= candK)
    // The corpus scoring pass above is the distributed work (one scan +
    // one top-candK rank). Everything after touches only the candK-row
    // pool — bounded by the REQUEST, corpus-independent — so the pair
    // matrix and the greedy argmax loop run driver-side over the
    // collected pool with the identical arithmetic (sequential dot,
    // Spark's BigDecimal HALF_UP round(…,4), integer fixed-point argmax
    // with id tiebreak). Formerly candK²-row Spark frames + selectK
    // rank-1 jobs: 2.1 s at sf0.1 → the one collect job.
    val rows = BoundedCollect.rows(cand.orderBy("rn"), "Sim.mmrDiversify pool")
    val ids = rows.map(_.getLong(0))
    val su = rows.map(_.getLong(2))
    val es = rows.map(_.getSeq[Double](1).toArray)
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val n = ids.length
    val nrm = es.map(a => math.sqrt(dotL(a, a)))
    val pij = Array.tabulate(n, n)((i, j) =>
      if (i == j) 0L
      else Det.fix(round4(dotL(es(i), es(j)) / (nrm(i) * nrm(j))), 4))
    // greedy MMR: round 1 takes the top-su candidate (pool is rn-sorted)
    val picked = scala.collection.mutable.ArrayBuffer((1, ids(0), su(0), su(0)))
    val inSel = scala.collection.mutable.Set(0)
    for (r <- 2 to math.min(selectK, n)) {
      var bi = -1
      var bm = Long.MinValue
      var i = 0
      while (i < n) {
        if (!inSel(i)) {
          var mp = Long.MinValue
          inSel.foreach { j => if (pij(i)(j) > mp) mp = pij(i)(j) }
          val m = su(i) - mp
          // argmax with lowest-id tiebreak (ids strictly ordered by
          // (su desc, id) already, so first-seen at equal m wins = lowest
          // rank = the distributed row_number pick)
          if (m > bm || (m == bm && bi >= 0 && ids(i) < ids(bi))) {
            bm = m; bi = i
          }
        }
        i += 1
      }
      picked += ((r, ids(bi), su(bi), bm))
      inSel += bi
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    picked.toSeq.map { case (po, id, s, m) =>
      (po, id, s.toDouble / 10000, m.toDouble / 10000)
    }.toDF("pick_order", "vec_id", "sim", "mmr")
      .orderBy("pick_order")
  }

  /** Brute-force max-inner-product top-k (MIPS) — the retrieval scorer
    * when magnitude carries signal (popularity-weighted embeddings), so
    * normalizing to cosine would be wrong. Same fan × size-gated-broadcast
    * shape as [[cosineTopK]]; at corpus scale the standard reduction
    * (augment vectors with sqrt(M²-|x|²) and run cosine LSH) reuses the
    * banded machinery above unchanged. */
  def mipsTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val p = probes.select(col("vec_id").as("probe_id"), asDouble(col("embedding")).as("pe"))
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("ce"))
    val scored = fan(p).crossJoin(maybeBroadcast(c))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot(col("pe"), col("ce")), 4).as("score"))
    val w = Window.partitionBy("probe_id").orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Radius query: every corpus vector within cosine ≥ tau of each probe.
    * Orientation matters at scale: the CORPUS streams (never broadcast,
    * never collected) while the probe set is size-gated-broadcast — a
    * radius scan's big side is always the corpus, so this is one linear
    * pass over it per batch of probes. For tau ≥ [[lshEffectiveTau]] with
    * a large probe set, [[nearDupPairsBlocked]]'s banded candidate join is
    * the sub-linear path (same scoring expression — swap is plan-only). */
  def rangeSearch(probes: DataFrame, corpus: DataFrame, tau: Double): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val p = withNorm(probes.select(col("vec_id").as("probe_id"),
        asDouble(col("embedding")).as("e")))
      .select(col("probe_id"), col("e").as("pe"), col("nrm").as("pn"))
    val c = withNorm(corpus.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .select(col("vec_id"), col("e").as("ce"), col("nrm").as("cn"))
    fan(c).crossJoin(maybeBroadcast(p))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosinePre(dot(col("pe"), col("ce")), col("pn"), col("cn")), 4).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** All pairs with sim ≥ tau inside each label block. */
  def pairwiseThreshold(corpus: DataFrame, tau: Double): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val v = withNorm(fan(corpus).select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("e")))
    v.as("a").join(maybeBroadcast(v).as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(cosinePre(dot(col("a.e"), col("b.e")),
          col("a.nrm"), col("b.nrm")), 4).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** The threshold below which hyperplane-LSH banding stops being able to
    * combine near-1 recall with real pruning. Two vectors at cosine s agree
    * on a random hyperplane with p = 1 - arccos(s)/π, and the default
    * (b=32, r=8) banding misses a pair with (1-p^8)^32: 1.4e-4 at s = 0.85,
    * 3.8e-3 at 0.80, 7.8% at 0.65 — while random bulk pairs (p = 0.5) are
    * still admitted at ≈12%. 0.8 is the point where the boundary-pair miss
    * rate stays sub-1% AND pruning is real; below it the exact join is the
    * only implementation honoring threshold-join semantics. Real embedding
    * dedup (dup pairs at s ≥ 0.9 over a near-orthogonal bulk) sits firmly
    * above, where the miss rate is ~1e-6 or less. */
  val lshEffectiveTau = 0.8

  /** The corpus's embedding dimensionality, read from the data itself: one
    * row of one (pruned) column — a trivial plan-time job, the same class
    * of driver-side planning action as a range-partitioner sample. Keys the
    * hyperplane-table width so dispatch can never be misled by a
    * caller-asserted dim (ADVICE r3: a 768-dim corpus passed without an
    * explicit dim used to throw deep in execution). Empty corpus → the
    * legacy default width; any LSH result on it is empty anyway. */
  def inferDim(corpus: DataFrame): Int =
    BoundedCollect.rows(corpus.select(size(col("embedding")).as("d")).limit(1),
      "Sim.inferDim probe") match {
      case Array(r) if !r.isNullAt(0) && r.getInt(0) > 0 => r.getInt(0)
      case _ => graft.functions.LshBands.defaultDim
    }

  /** Embedding-space near-duplicate pairs with cosine ≥ tau. Dispatches on
    * tau alone: the realistic near-dup regime (tau ≥ [[lshEffectiveTau]])
    * runs banded-LSH blocking + exact verification on candidates only —
    * the 100 TB shape, pinned equal to the exhaustive twin on planted
    * duplicates by SimBlockedSpec — with the hyperplane table sized from
    * the corpus's actual dimensionality ([[inferDim]] when the caller
    * doesn't know it; dim ≤ 0 means infer), so real 768–4096-dim
    * embeddings stay on the blocked path instead of falling back to the
    * O(n²) exact join. Every emitted pair is exactly scored; the blocking
    * can only DROP pairs, with probability (1-p^r)^b that falls from ≤0.4%
    * for pairs sitting exactly at tau = 0.8 to ~1e-6 at s = 0.9 (see
    * [[lshEffectiveTau]] — genuine duplicates are far above the threshold,
    * boundary pairs are the marginal ones). Below the threshold — where NO
    * banding can prune without materially dropping borderline pairs — the
    * exact join runs instead: exact semantics stay the default wherever
    * pruning can't be had for a sub-1% boundary miss rate. */
  def nearDupPairs(corpus: DataFrame, tau: Double, dim: Int = 0): DataFrame =
    if (tau >= lshEffectiveTau)
      nearDupPairsBlocked(corpus, tau,
        dim = if (dim > 0) dim else inferDim(corpus))
    else nearDupPairsExact(corpus, tau)

  /** The full banded signature (array of `bands` bucket longs) via the
    * native [[graft.functions.LshBands]] expression — ONE compact codegen
    * loop over a shared hyperplane matrix instead of bands×rows dot
    * subtrees of 64 literals each (the naive column form measured 5.9 s on
    * the sf0.1 ANN query, dominated by codegen size; this is sub-second). */
  private def lshSignature(e: Column, bands: Int, rowsPerBand: Int,
                           dim: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.GraftSession.install)
    call_function("graft_lsh_bands", e, lit(bands), lit(rowsPerBand), lit(dim))
  }

  /** (id, band, bucket) rows for banded random-hyperplane LSH: band j's
    * bucket packs `rowsPerBand` sign bits into a long, so (band, bucket) is
    * an equi-join key. Only 16-byte rows enter the widest shuffle — the
    * dim-sized payloads stay behind. */
  private def bandedBuckets(v: DataFrame, bands: Int, rowsPerBand: Int,
                            dim: Int): DataFrame =
    v.select(col("vec_id"),
        posexplode(lshSignature(col("e"), bands, rowsPerBand, dim)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** The candidate self-join over a banded frame (id_a < id_b, distinct) —
    * ONE definition shared by the production path and the pruning test, so
    * retuning can never drift them apart. */
  private def candidatesFrom(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()

  /** Candidate pairs under banded-LSH blocking (id_a < id_b, distinct).
    * Exposed so tests can pin the PRUNING (candidates ≪ all pairs) as a
    * structural property instead of a flaky timing compare. `dim` sizes
    * the hyperplane table (dim ≤ 0 → infer from the data). */
  def bandedCandidates(corpus: DataFrame, bands: Int, rowsPerBand: Int,
                       dim: Int = 0): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val d = if (dim > 0) dim else inferDim(corpus)
    val v = fan(corpus).select(col("vec_id"), asDouble(col("embedding")).as("e"))
    candidatesFrom(bandedBuckets(v, bands, rowsPerBand, d))
  }

  /** Banded-LSH blocked near-dup pairs: candidates from [[candidatesFrom]],
    * exact cosine verification on candidates only — blocking can only drop
    * pairs, never corrupt them. Band-OR recall: P[candidate] = 1-(1-p^r)^b
    * with p = 1-arccos(s)/π. At (b=32, r=8): dup pairs at s=0.9 miss with
    * ~1e-6, pairs exactly at s=0.85 with 1.4e-4, at s=0.8 with 3.8e-3;
    * random bulk pairs (s≈0, p=0.5) collide in a band with 2^-8, so
    * candidates ≈ 12% of all pairs — the split widens with tau and with
    * corpus anisotropy. The normalized vectors (read by the banding and
    * both verification sides) are pinned by this call's memo entry. */
  def nearDupPairsBlocked(corpus: DataFrame, tau: Double,
                          bands: Int = 32, rowsPerBand: Int = 8,
                          dim: Int = 0): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    PlanMemo.byPlan(corpus, "Sim.nearDupPairsBlocked", (tau, bands, rowsPerBand, dim)) {
      val d = if (dim > 0) dim else inferDim(corpus)
      val v = PlanMemo.pin(withNorm(
        fan(corpus).select(col("vec_id"), asDouble(col("embedding")).as("e"))))
      val cand = candidatesFrom(bandedBuckets(v, bands, rowsPerBand, d))
      cand
        .join(v.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na")), "id_a")
        .join(v.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(cosinePre(dot(col("ea"), col("eb")), col("na"), col("nb")), 4).as("sim"))
        .filter(col("sim") >= tau)
    }
  }

  /** Exhaustive twin of [[nearDupPairsBlocked]]: all O(n²) pairs scored.
    * The recall oracle for the blocked path (SimBlockedSpec), and the
    * dispatcher's target below [[lshEffectiveTau]], where a threshold join
    * has no sub-quadratic exact implementation. */
  def nearDupPairsExact(corpus: DataFrame, tau: Double): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val v = withNorm(fan(corpus).select(col("vec_id"), asDouble(col("embedding")).as("e")))
    v.as("a").join(maybeBroadcast(v).as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(cosinePre(dot(col("a.e"), col("b.e")),
          col("a.nrm"), col("b.nrm")), 4).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Coarse-quantizer cell assignment: each vector's `n` nearest centroids
    * (squared-Euclidean argmin, centroid id tiebreak). Shared by the IVF
    * and IVF-PQ paths — one definition so their candidate sets can never
    * drift apart. */
  private def nearestCellsOf(cents: DataFrame)(df: DataFrame, embCol: String,
                                               n: Int, out: String): DataFrame = {
    val wCell = Window.partitionBy(col("vid")).orderBy(col("d").asc, col("cent_id"))
    // |cent|² hoisted to one column per CENTROID before the cross join —
    // the same sequential-fold dot over the same values (bit-identical d),
    // evaluated |cents| times instead of |df|·|cents| times
    val centsN2 = cents.select(col("cent_id"), col("cent"),
      dot(col("cent"), col("cent")).as("cent_n2"))
    df.select(col("vec_id").as("vid"), col(embCol).as("e"))
      .crossJoin(maybeBroadcast(centsN2))
      .select(col("vid"), col("e"), col("cent_id"),
        // squared Euclidean up to the per-row |e|^2 constant: the |cent|^2
        // term matters for the argmin (without it this ranks by dot product,
        // biasing toward large-norm centroids)
        (col("cent_n2") - lit(2.0) * dot(col("e"), col("cent"))).as("d"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= n)
      .select(col("vid"), col("e"), col("cent_id").as(out))
  }

  /** Deterministic coarse centroids: every `stride`-th corpus vector. */
  private def strideCentroids(corpus: DataFrame, stride: Int): DataFrame =
    corpus.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), asDouble(col("embedding")).as("cent"))

  /** IVF-style ANN: a deterministic coarse quantizer (every `stride`-th
    * corpus vector is a centroid), corpus vectors assigned to their
    * nearest centroid, probes scored only against their `nProbe` nearest
    * centroid cells. The classic inverted-file layout: centroid id is the
    * join key, per-cell work is corpus/centroids on average. Fully
    * deterministic (no trained state) — swap the sampled centroids for a
    * k-means codebook at scale without touching the query shape. */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int,
              stride: Int = 25, nProbe: Int = 8): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val cents = strideCentroids(corpus, stride)
    val nearestCells = nearestCellsOf(cents) _
    val corpusCells = nearestCells(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("ce")), "ce", 1, "cell")
      .select(col("vid").as("vec_id"), col("e").as("ce"), col("cell"))
    val probeCells = nearestCells(
      probes.select(col("vec_id"), asDouble(col("embedding")).as("pe")), "pe", nProbe, "cell")
      .select(col("vid").as("probe_id"), col("e").as("pe"), col("cell"))
    val scored = probeCells.join(corpusCells, "cell")
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("pe"), col("ce")), 4).as("sim"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** IVF-PQ: the coarse inverted file of [[ivfTopK]] for candidate pruning,
    * product quantization for the scoring — the composition every
    * billion-vector ANN service runs (IVF bounds WHO you score, PQ bounds
    * WHAT a score costs).
    *
    * PQ: the vector splits into `m` subspaces; each subspace has a
    * `nCentroids`-entry codebook (deterministic: the lowest-id corpus
    * vectors, sliced — swap for k-means sub-codebooks at scale without
    * touching the query shape); a corpus vector stores only its m argmin
    * codes — at (m=8, 256 centroids) that is 8 bytes instead of d×4, the
    * 100 TB memory story. A probe precomputes an m×nCentroids look-up table
    * of subspace dot products once, so scoring a candidate is m integer
    * joins + an integer SUM — asymmetric distance computation (ADC) with
    * fixed-point partials, so the sum is aggregation-order-independent and
    * the output run-deterministic (golden-hashable).
    *
    * Approximation is two-layer (cell miss + quantized score); the exact
    * brute-force path is the recall oracle — SimBlockedSpec pins the floor.
    */
  /** PQ encode products shared by [[ivfPqTopK]] (scoring) and
    * [[pqDistortion]] (quality diagnostics). RESIDUAL encoding (r12,
    * the standard IVF-PQ layout): each corpus vector is quantized as
    * x ≈ centroid(cell(x)) + codebook(codes(x)) — the PQ codebook sees
    * only the residual x − centroid, whose spread is a fraction of the
    * full vector's, so the 128-entry (7-bit; 256 measured equal recall at 2× the encode cost) sub-codebooks capture far more
    * signal (measured recall@10 lift vs plain-x encoding in ScaleStress).
    *
    * Products: the coarse cells frame (one cell per corpus vector —
    * shared with [[ivfPqTopK]]'s candidate pruning so the assignment
    * scan runs once), the persisted residual frame, the per-subspace
    * codebook (residuals of the nCentroids lowest-id corpus vectors,
    * sliced — TakeOrdered, no global sort; code = rank among the
    * seeds), the per-(vector, subspace) argmin codes (min on a
    * (dist, code) struct is a lexicographic argmin with deterministic
    * code tiebreak, no window needed), and the persisted double-cast
    * corpus frame. */
  case class PqModel(codebook: DataFrame, codes: DataFrame, c: DataFrame,
                     resid: DataFrame, cents: DataFrame, nrm2: DataFrame,
                     sub: Int)

  def pqEncode(corpus: DataFrame, m: Int, nCentroids: Int,
               stride: Int = 25): PqModel = {
    graft.GraftSession.install(corpus.sparkSession)
    val d = inferDim(corpus)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    val subIdx = explode(sequence(lit(0), lit(m - 1)))
    val cents = strideCentroids(corpus, stride)
    val c = fan(corpus).select(col("vec_id"), asDouble(col("embedding")).as("ce"))
      .transform(PlanMemo.pin)
    // coarse cell per corpus vector + residual against its centroid —
    // elementwise subtraction is the same IEEE op in both engines
    val assigned = nearestCellsOf(cents)(c.select(col("vec_id"), col("ce")), "ce",
      1, "cell")
    val resid = assigned
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("cent"))), "cell")
      .select(col("vid").as("vec_id"), col("cell"),
        zip_with(col("e"), col("cent"), (a, b) => a - b).as("re"))
      .transform(PlanMemo.pin)
    val seeds = resid
      .orderBy("vec_id").limit(nCentroids)
      .withColumn("code", row_number().over(Window.orderBy("vec_id")))
    val codebook = seeds
      .withColumn("subq", subIdx)
      .select(col("code"), col("subq"),
        slice(col("re"), col("subq") * sub + 1, lit(sub)).as("cv"))
    // |cv|² hoisted per CODEBOOK ENTRY (m·nCentroids rows) before the
    // argmin join — the identical fold, evaluated 1k× instead of
    // corpus·m·nCentroids× (the encode join is the op's hot stage)
    val cbN2 = codebook.select(col("code"), col("subq"), col("cv"),
      dot(col("cv"), col("cv")).as("cv_n2"))
    val codes = resid
      .withColumn("subq", subIdx)
      .select(col("vec_id"), col("subq"),
        slice(col("re"), col("subq") * sub + 1, lit(sub)).as("ev"))
      .join(broadcast(cbN2), "subq")
      .select(col("vec_id"), col("subq"), col("code"),
        (col("cv_n2") - lit(2.0) * dot(col("ev"), col("cv"))).as("dist"))
      .groupBy("vec_id", "subq")
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("vec_id"), col("subq"), col("best.code").as("code"))
      // persisted: the argmin join above is the encode's hottest stage
      // (corpus·m·nCentroids rows) and `codes` has TWO consumers in one
      // ANN run (the stored-norm build below + the ADC join) plus the
      // distortion diagnostic — without this the stage re-runs per
      // consumer. corpus·m rows of 3 ints, spills if it must.
      .transform(PlanMemo.pin)
    // stored quantized norm — |x_q|² for x_q = cent + r_q, expanded as
    // |cent|² + Σ_m (2·dot(cent_m, cv_m) + |cv_m|²): the per-(cell, subq,
    // code) cross term is a tiny broadcastable table (cells × m ×
    // nCentroids), each term 1e-6-fixed BEFORE the per-vector sum so
    // n2fix is an order-free BIGINT. The ADC ranks sfix/√n2fix ≈ cosine
    // against the quantized vector — without this the shortlist ranks by
    // approximate DOT, which on weakly-separated corpora biases toward
    // large-norm candidates the exact cosine re-rank then rejects
    // (measured recall@10 0.48 vs ≥0.7 with the norm).
    val centSl = cents
      .withColumn("subq", subIdx)
      .select(col("cent_id").as("cell"), col("subq"),
        slice(col("cent"), col("subq") * sub + 1, lit(sub)).as("ctv"))
    val cellCode = centSl.join(broadcast(codebook), "subq")
      .select(col("cell"), col("subq"), col("code"),
        Det.fix(lit(2.0) * dot(col("ctv"), col("cv"))
          + dot(col("cv"), col("cv")), 6).cast("long").as("xfix"))
    val centN2 = cents.select(col("cent_id").as("cell"),
      Det.fix(dot(col("cent"), col("cent")), 6).cast("long").as("cn2"))
    // cellCode is O(cells · m · nCentroids) and cells grow with the
    // corpus (8 M rows at 200 k vectors) — size-gated broadcast, never
    // unconditional (an unconditional hint OOMed the 100× stress)
    val nrm2 = codes
      .join(resid.select(col("vec_id"), col("cell")), "vec_id")
      .join(maybeBroadcast(cellCode), Seq("cell", "subq", "code"))
      .groupBy("vec_id", "cell")
      .agg(sum(col("xfix")).as("xs"))
      .join(broadcast(centN2), "cell")
      .select(col("vec_id"),
        greatest(col("cn2") + col("xs"), lit(1L)).as("n2fix"))
    PqModel(codebook, codes, c, resid, cents, nrm2, sub)
  }

  /** Per-subspace PQ reconstruction error — the quality diagnostic next
    * to [[ivfPqTopK]]: for every (vector, subspace), the squared L2
    * distance between the sub-vector and its assigned sub-centroid,
    * aggregated to a per-subspace mean. Determinism: the per-row squared
    * error is one sequential-fold dot over the diff (graft_dot's
    * association), quantized to a 1e-6 integer BEFORE the sum, so the
    * per-subspace BIGINT total is aggregation-order-free; the mean
    * divides once at the end. Work: one encode pass + one re-join of
    * codes to the broadcast codebook — never more than O(corpus × m)
    * rows. */
  def pqDistortion(corpus: DataFrame, m: Int = 8,
                   nCentroids: Int = 128): DataFrame = {
    val pq = pqEncode(corpus, m, nCentroids)
    val (codebook, codes, sub) = (pq.codebook, pq.codes, pq.sub)
    val diff = zip_with(col("ev"), col("cv"), (a, b) => a - b)
    // error is measured on the RESIDUAL (what the codebook actually
    // quantizes); the coarse-centroid part of x reconstructs exactly
    pq.resid.withColumn("subq", explode(sequence(lit(0), lit(m - 1))))
      .select(col("vec_id"), col("subq"),
        slice(col("re"), col("subq") * sub + 1, lit(sub)).as("ev"))
      .join(codes, Seq("vec_id", "subq"))
      .join(broadcast(codebook), Seq("subq", "code"))
      .select(col("subq"),
        Det.fix(dot(diff, diff), 6).cast("long").as("sqfix"))
      .groupBy("subq")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum("sqfix").as("sq"))
      .select(col("subq").cast("int").as("subq"), col("n_vecs"),
        (Det.half(col("sq").cast("double") / col("n_vecs"))
          / 1000000).as("mse"))
      .orderBy("subq")
  }

  /** ADC candidate volume per probe — the quantity the IVF flatness claim
    * is about (≈ nProbe · stride at ANY corpus size, because the cell
    * count grows with the corpus). Exposed for ScaleStress100's measured
    * 100× row; the same cell join ivfPqTopK scores. */
  private[graft] def ivfCandidatesPerProbe(probes: DataFrame, corpus: DataFrame,
                                           stride: Int = 25, nProbe: Int = 8): Double = {
    graft.GraftSession.install(corpus.sparkSession)
    val cents = strideCentroids(corpus, stride)
    val corpusCells = nearestCellsOf(cents)(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("ce")), "ce", 1, "cell")
      .select(col("vid").as("vec_id"), col("cell"))
    val probeCells = nearestCellsOf(cents)(
      probes.select(col("vec_id"), asDouble(col("embedding")).as("pe")), "pe", nProbe, "cell")
      .select(col("vid").as("probe_id"), col("cell"))
    val nProbes = probes.count()
    val cand = probeCells.join(corpusCells, "cell")
      .filter(col("probe_id") =!= col("vec_id")).count()
    cand.toDouble / nProbes
  }

  def ivfPqTopK(probes: DataFrame, corpus: DataFrame, k: Int,
                stride: Int = 25, nProbe: Int = 8,
                m: Int = 8, nCentroids: Int = 128): DataFrame = {
    val pq = pqEncode(corpus, m, nCentroids, stride)
    val (codebook, codes, c, sub) = (pq.codebook, pq.codes, pq.c, pq.sub)
    // probe ADC look-up table: fixed-point subspace dot products against
    // the RESIDUAL codebook — dot(p, x) = dot(p, cent) + dot(p, r), and
    // the second term ≈ Σ_m dot(p_m, cv[code_m]) = the LUT partials
    val p = probes.select(col("vec_id").as("probe_id"), asDouble(col("embedding")).as("pe"))
    val lut = p
      .withColumn("subq", explode(sequence(lit(0), lit(m - 1))))
      .select(col("probe_id"), col("subq"),
        slice(col("pe"), col("subq") * sub + 1, lit(sub)).as("pv"))
      .join(broadcast(codebook), "subq")
      .select(col("probe_id"), col("subq"), col("code"),
        Det.fix(dot(col("pv"), col("cv")), 6).cast("long").as("partial"))
    // coarse candidate pruning — the corpus cell assignment is REUSED from
    // the encode pass (pq.resid carries it), not recomputed
    val corpusCells = pq.resid.select(col("vec_id"), col("cell"))
    val probeCells = nearestCellsOf(pq.cents)(
      probes.select(col("vec_id"), asDouble(col("embedding")).as("pe")), "pe", nProbe, "cell")
      .select(col("vid").as("probe_id"), col("e").as("pe"), col("cell"))
    // the base term dot(p, centroid(cell)) — EXACT (not quantized), one
    // row per (probe, probed cell): nProbe rows per probe, not per
    // candidate. Fixed to the same 1e-6 grid as the partials so the ADC
    // total stays an order-free BIGINT sum.
    val base = probeCells
      .join(broadcast(pq.cents.select(col("cent_id").as("cell"), col("cent"))), "cell")
      .select(col("probe_id"), col("cell"),
        Det.fix(dot(col("pe"), col("cent")), 6).cast("long").as("bfix"))
    // no distinct: a corpus vector lives in EXACTLY one cell (nearest-1
    // assignment) and a probe's nProbe cells are distinct, so the cell
    // join already yields at most one row per (probe, vector) — the
    // pre-r12 distinct() was a full extra shuffle of the widest
    // intermediate for nothing
    val cand = probeCells.select(col("probe_id"), col("cell"))
      .join(corpusCells, "cell")
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("cell"))
    // ADC scoring: m integer partials per candidate, integer sum — CHEAP
    // (8 code bytes per vector in the join), so it ranks the whole cell's
    // candidates; only the top `rerank` shortlist per probe ever touches a
    // full vector again. Shortlist-then-exact-rerank is how every deployed
    // PQ index spends its flops: the quantized score orders the scan, the
    // exact score orders the answer.
    val rerank = math.max(k * 10, 50)
    val adc = cand
      .join(codes, "vec_id")
      .join(lut, Seq("probe_id", "subq", "code"))
      .groupBy("probe_id", "vec_id", "cell")
      .agg(sum(col("partial")).as("psum"))
      .join(base, Seq("probe_id", "cell"))
      .join(pq.nrm2, "vec_id")
      // sfix ≈ 1e6·dot(p, x_q); dividing by √(1e6·|x_q|²) ranks by
      // cosine(p, x_q)·|p|·10³ — |p| is constant per probe, so the
      // per-probe order IS the quantized-cosine order. Both factors are
      // exact integers, the cast/sqrt/divide the identical IEEE ops in
      // the DuckDB oracle.
      .select(col("probe_id"), col("vec_id"),
        ((col("bfix") + col("psum")).cast("double")
          / sqrt(col("n2fix").cast("double"))).as("sfix"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("sfix").desc, col("vec_id"))
    val shortlist = adc.withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= rerank)
      .select(col("probe_id"), col("vec_id"))
    val scored = shortlist
      .join(p, "probe_id").join(c, "vec_id")
      .select(col("probe_id"), col("vec_id"),
        round(cosine(col("pe"), col("ce")), 4).as("sim"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** ANN top-k via band-OR LSH: a probe meets a corpus vector when ANY of
    * `bands` short sign-bit buckets matches (the multi-probe layout — a
    * single long bucket keys recall on every bit agreeing at once, which
    * measured 0.18 recall@5 on near-isotropic fixtures; band-OR with
    * (b=24, r=6) measures ≥0.7 there and prunes the bulk: random pairs
    * match a 6-bit band with 2^-6, so candidates ≈ 1-(1-2^-6)^24 ≈ 31% of
    * the corpus per probe, shrinking further the more clustered the corpus.
    * Recall < 1 by construction — the brute-force path is the correctness
    * oracle (recall floor pinned by SimBlockedSpec); this is the 100 TB
    * throughput path. */
  def annTopK(probes: DataFrame, corpus: DataFrame, k: Int,
              bands: Int = 24, rowsPerBand: Int = 6,
              dim: Int = 0): DataFrame = {
    graft.GraftSession.install(corpus.sparkSession)
    val d = if (dim > 0) dim else inferDim(corpus)
    val p = withNorm(probes.select(col("vec_id").as("probe_id"),
        asDouble(col("embedding")).as("e")))
      .select(col("probe_id"), col("e").as("pe"), col("nrm").as("pn"))
    val c = withNorm(corpus.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .select(col("vec_id"), col("e").as("ce"), col("nrm").as("cn"))
      .transform(PlanMemo.pin)
    val pb = bandedBuckets(p.select(col("probe_id").as("vec_id"), col("pe").as("e")),
      bands, rowsPerBand, d).withColumnRenamed("vec_id", "probe_id")
    val cb = bandedBuckets(c.select(col("vec_id"), col("ce").as("e")),
      bands, rowsPerBand, d)
    val cand = pb.join(cb, Seq("band", "bucket"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"))
      .distinct()
    val scored = cand
      .join(p, "probe_id").join(c, "vec_id")
      .select(col("probe_id"), col("vec_id"),
        round(cosinePre(dot(col("pe"), col("ce")), col("pn"), col("cn")), 4).as("sim"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }
}
