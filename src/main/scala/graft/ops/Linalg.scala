package graft.ops

import graft.engine.Det
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed linear algebra over embedding columns — Lloyd k-means and
  * power-iteration PCA — in the cross-engine-deterministic fixed-point
  * style (SURVEY §5.4): every value that crosses an aggregation boundary
  * is an exact BIGINT; every per-row double expression is an identical
  * IEEE tree in the DuckDB oracles that grade the query-pack wrappers.
  *
  * Scale shapes (100 TB): both operators reduce the corpus once per round
  * to O(k·d) / O(d²) frames that BROADCAST — no round ever joins the
  * corpus against anything larger than those. k-means rounds are one
  * broadcast join + an id-partitioned argmin window + a (cid, dim) mean
  * shuffle; PCA pays one self-join on the vector id to build the d²
  * moment matrix (O(n·d²) work — the algorithm's own cost), after which
  * every round touches only d²-row frames, corpus-size-independent.
  */
object Linalg {

  // Frames and eigensolves are memoized per input plan (ops/PlanMemo):
  // emb_kmeans, emb_pca_power and emb_whiten all read the same corpus in
  // one Verify/Bench session, and without the memo each graded query
  // would re-explode and (for the PCA pair) re-build the O(n·d²) moment
  // matrix from scratch.

  /** Per-dimension explode of a vector column: (id, dim (1-based, to
    * match DuckDB's generate_subscripts), e as double). Persisted — every
    * caller reads it at least twice. */
  def dims(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    PlanMemo.byPlan(emb, "Linalg.dims", (idCol, vecCol)) {
      emb.select(col(idCol).as("vec_id"),
          posexplode(col(vecCol)).as(Seq("dim", "e")))
        .select(col("vec_id"), (col("dim") + 1).as("dim"),
          col("e").cast("double").as("e"))
        .transform(PlanMemo.pin)
    }

  /** Lloyd k-means assignment after `iters` rounds, seeded with the k
    * lowest ids (no RNG). Distances are Σ floor((e−m)²·10⁸) exact BIGINTs
    * (argmin with cid tiebreak is integer-deterministic); recomputed
    * centroids quantize to 6 dp via integer means so every round's inputs
    * are bit-identical cross-engine. Returns (vec_id, cid, d2) with d2 in
    * 1e-8 units against the LAST round's centroids. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame =
    // memoized + persisted: the assignment is read by emb_kmeans AND the
    // centroid-outlier query in one session — the seam that already pays
    // for itself across the whiten/PCA trio
    PlanMemo.byPlan(emb, "Linalg.kmeans", (idCol, vecCol, k, iters)) {
      computeKmeans(emb, idCol, vecCol, k, iters)
        .transform(PlanMemo.pin)
    }

  /** Product-quantization sub-codebook TRAINING: per-subspace Lloyd
    * k-means over the m sub-vector spaces at once — the "swap the stride
    * seeds for k-means sub-codebooks at scale" seam Sim.pqEncode
    * documents, graded as its own convergence diagnostic. Same
    * determinism devices as [[kmeansAssign]] (Σ floor((e−m)²·10⁸) BIGINT
    * distances with code tiebreak; 6-dp integer-mean centroid updates so
    * every round's inputs are bit-identical cross-engine; seeds = the k
    * lowest ids' sub-slices, no RNG) applied with (subq, code) in place
    * of cid. A code emptied by a round simply drops out of the next
    * round's codebook (inner join) — identically in the unrolled oracle.
    *
    * Returns one row per (iter, subq): occupied-code count and the mean
    * quantization distortion (1e-8-exact BIGINT sum ÷ n), the curve that
    * shows each subspace's codebook actually converging. Scale: each
    * round is one broadcast join of the m·k·(d/m)-row codebook + an
    * id-partitioned argmin window + a (subq, code, dim) mean shuffle —
    * the corpus is never joined against anything bigger than O(k·d). */
  def pqTrainKmeans(emb: DataFrame, idCol: String, vecCol: String,
                    m: Int, k: Int, iters: Int): DataFrame =
    PlanMemo.byPlan(emb, "Linalg.pqtrain", (idCol, vecCol, m, k, iters)) {
      computePqTrain(emb, idCol, vecCol, m, k, iters)
        .transform(PlanMemo.pin)
    }

  private def computePqTrain(emb: DataFrame, idCol: String, vecCol: String,
                             m: Int, k: Int, iters: Int): DataFrame = {
    val dim = Sim.inferDim(emb.withColumnRenamed(vecCol, "embedding"))
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // (vec_id, subq 0-based, dim 1-based within the FULL vector, e):
    // reuses the memoized full-vector explode; the sub-slice is a derived
    // column, not a second explode
    val d = dims(emb, idCol, vecCol)
      .withColumn("subq", ((col("dim") - 1) / sub).cast("int"))
    val seeds = emb.select(col(idCol).as("sid")).orderBy("sid").limit(k)
      .withColumn("code", row_number().over(Window.orderBy("sid")))
    var cent = d.join(broadcast(seeds), d("vec_id") === seeds("sid"))
      .select(col("subq"), col("code"), col("dim"), col("e").as("mm"))
    val wv = Window.partitionBy("vec_id", "subq").orderBy("d2", "code")
    val rounds = (1 to iters).map { it =>
      val a = d.join(broadcast(cent), Seq("subq", "dim"))
        .select(col("vec_id"), col("subq"), col("code"),
          Det.fix((col("e") - col("mm")) * (col("e") - col("mm")), 8).as("dd"))
        .groupBy("vec_id", "subq", "code").agg(sum("dd").as("d2"))
      val picked = a.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("subq"), col("code"), col("d2"))
      cent = picked.join(d, Seq("vec_id", "subq"))
        .groupBy("subq", "code", "dim")
        .agg((Det.half(sum(Det.fix(col("e"), 6)).cast("double")
          / count(lit(1))) / 1000000).as("mm"))
      picked.groupBy("subq")
        .agg(countDistinct(col("code")).cast("long").as("n_codes"),
          count(lit(1)).as("n"), sum("d2").as("sd2"))
        .select(lit(it).cast("int").as("iter"), col("subq"), col("n_codes"),
          (col("sd2").cast("double") / 100000000L / col("n")).as("mse"))
    }
    rounds.reduce(_.unionAll(_))
  }

  private def computeKmeans(emb: DataFrame, idCol: String, vecCol: String,
                            k: Int, iters: Int): DataFrame = {
    val d = dims(emb, idCol, vecCol)
    val seeds = emb.select(col(idCol).as("cid")).orderBy("cid").limit(k)
    var cent = d.join(broadcast(seeds), d("vec_id") === seeds("cid"))
      .select(col("cid"), col("dim"), col("e").as("m"))
    var picked: DataFrame = null
    val wv = Window.partitionBy("vec_id").orderBy("d2", "cid")
    for (_ <- 1 to iters) {
      val a = d.join(broadcast(cent), "dim")
        .select(col("vec_id"), col("cid"),
          Det.fix((col("e") - col("m")) * (col("e") - col("m")), 8).as("dd"))
        .groupBy("vec_id", "cid").agg(sum("dd").as("d2"))
      picked = a.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1).select(col("vec_id"), col("cid"), col("d2"))
      cent = picked.join(d, "vec_id")
        .groupBy("cid", "dim")
        .agg((Det.half(sum(Det.fix(col("e"), 6)).cast("double")
          / count(lit(1))) / 1000000).as("m"))
    }
    picked
  }

  /** The collected d²-cell moment matrix, memoized like the eigensolves
    * over it: an entry is ≤ d² (i, j, c) triples, and keeping it pins the
    * whole PCA family to zero Spark jobs after the one O(n·d²) moment
    * reduce per corpus (measured: emb_pca_deflate 15 s → sub-second on a
    * warm session). */
  private def momentCells(emb: DataFrame, idCol: String, vecCol: String)
  : Array[(Int, Int, Double)] =
    PlanMemo.byPlan(emb, "Linalg.cells", (idCol, vecCol)) {
      BoundedCollect.rows(momentOf(emb, idCol, vecCol), "Linalg.momentCells")
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    }

  /** The power loop, driver-side. The distributed reduce that SHOULD be
    * distributed (O(n·d²) over the corpus) happens in [[momentOf]]; what
    * remains is O(d²·iters) scalar arithmetic over a dimension-bounded
    * matrix — the same driver-side-bounded-state class as Bpe's 8-row
    * merge table. Running it as Spark jobs cost ~10 broadcast-join jobs
    * per consumer (emb_pca_deflate paid 15-44 s at sf0.1); locally it is
    * microseconds, with BIT-IDENTICAL arithmetic: 12-dp fixed matvec
    * terms (exact integer sums, order-free), 14-dp norm squares, 6-dp
    * vector requantization, start = 0.125 uniform — each step the same
    * IEEE tree the DuckDB oracle CTEs spell. */
  private def powerRoundsLocal(cells: Array[(Int, Int, Double)],
                               dimsN: Int, iters: Int)
  : (Array[(Int, Double)], Double) = {
    val v = Array.fill(dimsN + 1)(0.125)
    var nrm = 0.0
    for (_ <- 1 to iters) {
      val sw = new Array[Long](dimsN + 1)
      var ci = 0
      while (ci < cells.length) {
        val (i, j, c) = cells(ci)
        sw(i) += Det.fix(c * v(j), 12)
        ci += 1
      }
      var q = 0L
      var i = 1
      while (i <= dimsN) {
        val wi = sw(i).toDouble / 1000000000000L
        q += Det.fix(wi * wi, 14)
        i += 1
      }
      nrm = math.sqrt(q.toDouble / 100000000000000L)
      i = 1
      while (i <= dimsN) {
        val wi = sw(i).toDouble / 1000000000000L
        v(i) = Det.quant(wi / nrm, 6)
        i += 1
      }
    }
    ((1 to dimsN).map(j => (j, v(j))).toArray, nrm)
  }

  private def toFrames(spark: org.apache.spark.sql.SparkSession,
                       eig: (Array[(Int, Double)], Double))
  : (DataFrame, DataFrame) = {
    import spark.implicits._
    (eig._1.toSeq.toDF("j", "v"), Seq(eig._2).toDF("nrm"))
  }

  /** Top principal component via `iters` power-iteration rounds over the
    * 8-dp quantized (uncentered) second-moment matrix ([[momentOf]] — the
    * one distributed O(n·d²) pass), eigensolved driver-side
    * ([[powerRoundsLocal]]). Returns (loading (j, v), 1-row (nrm), dims)
    * as small local frames — every downstream join against them is a
    * broadcast by construction. */
  def pcaTop(emb: DataFrame, idCol: String, vecCol: String, iters: Int)
  : (DataFrame, DataFrame, DataFrame) = {
    val d = dims(emb, idCol, vecCol)
    val cells = momentCells(emb, idCol, vecCol)
    val dimsN = cells.iterator.map(_._1).max
    val eig = PlanMemo.byPlan(emb, "Linalg.eig1", (idCol, vecCol, iters)) {
      powerRoundsLocal(cells, dimsN, iters)
    }
    val (v, n) = toFrames(emb.sparkSession, eig)
    (v, n, d)
  }

  /** 8-dp quantized (uncentered) second-moment matrix of the embedding
    * cloud as (i, j, c), memoized+persisted — the O(n·d²) pass every
    * power-iteration consumer shares. All d² products per vector come
    * from a GENERATOR CHAIN (explode i, keep the array, explode j) — a
    * narrow map with zero shuffle, where the equivalent dims⋈dims
    * self-join would shuffle the corpus twice before producing the
    * identical rows. NOT fanned: measured 9.0 s → 16.9 s with a
    * pre-explode repartition at sf0.1 — at these corpus sizes the cost is
    * the round-chain's JOB count, not single-task compute. At real corpus
    * sizes the parquet source arrives already split, so the narrow
    * explode inherits real parallelism without help. */
  private def momentOf(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    PlanMemo.byPlan(emb, "Linalg.moment", (idCol, vecCol)) {
      val nEmb = emb.groupBy().agg(count(lit(1)).as("n"))
      emb.select(col(idCol).as("vec_id"),
          posexplode(col(vecCol)).as(Seq("i0", "ei")), col(vecCol).as("arr"))
        .select((col("i0") + 1).as("i"), col("ei").cast("double").as("e"),
          posexplode(col("arr")).as(Seq("j0", "ej")))
        .select(col("i"), (col("j0") + 1).as("j"),
          Det.fix(col("e") * col("ej").cast("double"), 8).as("p"))
        .groupBy("i", "j").agg(sum("p").as("sp"))
        .crossJoin(broadcast(nEmb))
        .select(col("i"), col("j"),
          (Det.half(col("sp").cast("double") / col("n"))
            / lit(100000000L)).as("c"))
        .transform(PlanMemo.pin) // reused by every matvec round
    }

  /** Second principal component via Hotelling deflation: subtract the
    * rank-1 term λ₁·v₁v₁ᵀ from the moment matrix with λ₁ quantized to the
    * eigenvalue output's 6 dp and each deflated cell re-quantized to the
    * moment's 8 dp, then rerun the identical power loop on the deflated
    * matrix. The deflation and second loop are d²-cell driver-side
    * arithmetic like the first component — the corpus is touched only by
    * the (memoized) moment reduce. Returns (loading (j, v), 1-row (nrm)). */
  def pcaSecond(emb: DataFrame, idCol: String, vecCol: String, iters: Int)
  : (DataFrame, DataFrame) = {
    val cells = momentCells(emb, idCol, vecCol)
    val dimsN = cells.iterator.map(_._1).max
    val eig2 = PlanMemo.byPlan(emb, "Linalg.eig2", (idCol, vecCol, iters)) {
      val (v1, nrm1) = PlanMemo.byPlan(emb, "Linalg.eig1", (idCol, vecCol, iters)) {
        powerRoundsLocal(cells, dimsN, iters)
      }
      val l = Det.quant(nrm1, 6)
      val v1a = new Array[Double](dimsN + 1)
      v1.foreach { case (j, x) => v1a(j) = x }
      val deflated = cells.map { case (i, j, c) =>
        (i, j, c - Det.quant(l * v1a(i) * v1a(j), 8))
      }
      powerRoundsLocal(deflated, dimsN, iters)
    }
    toFrames(emb.sparkSession, eig2)
  }
}
