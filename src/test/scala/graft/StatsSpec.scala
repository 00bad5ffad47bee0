package graft

import org.apache.spark.sql.functions._

/** Invariants of the StatsOps pack that an oracle hash-match alone cannot
  * pin: algebraic identities, conservation laws, and permutation /
  * monotonicity properties that must hold at ANY scale factor. */
class StatsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("llm_sampling_quota: quotas sum exactly to the 200-row target and " +
    "never go negative") {
    val rows = run("llm_sampling_quota").collect()
    assert(rows.map(_.getAs[Long]("quota")).sum === 200L)
    assert(rows.forall(_.getAs[Long]("quota") >= 0L))
  }

  test("llm_shuffle_epoch: each epoch's prefix is a duplicate-free sample " +
    "of the corpus, and epochs disagree on order") {
    val rows = run("llm_shuffle_epoch").collect()
    val byEpoch = rows.groupBy(_.getAs[Int]("epoch")).view
      .mapValues(_.sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("doc_id")).toSeq)
      .toMap
    assert(byEpoch.keySet === Set(0, 1, 2))
    byEpoch.values.foreach { ids =>
      assert(ids.distinct.size === ids.size, "duplicate doc in one epoch prefix")
    }
    // md5(0:id) and md5(1:id) orders agreeing on a 64-prefix would mean the
    // permutation ignores the epoch — the whole point of the operator
    assert(byEpoch(0) !== byEpoch(1))
  }

  test("events_survival_km: survival is monotone non-increasing from 1 and " +
    "the risk set shrinks by exactly the churned count") {
    val rows = run("events_survival_km").orderBy("day").collect()
    val surv = rows.map(_.getAs[Double]("survival"))
    assert(surv.head <= 1.0 + 1e-12)
    surv.sliding(2).filter(_.length == 2).foreach { w => assert(w(1) <= w(0) + 1e-12) }
    // n_at_risk(t+1) ≤ n_at_risk(t) − d(t): censored users may also leave
    rows.sliding(2).filter(_.length == 2).foreach { w =>
      assert(w(1).getAs[Long]("n_at_risk") <=
        w(0).getAs[Long]("n_at_risk") - w(0).getAs[Long]("n_churned"))
    }
  }

  test("agg_winsorize: clamp bounds are actual data values and the " +
    "winsorized mean lies between them") {
    val rows = run("agg_winsorize").collect()
    import spark.implicits._
    val byStatus = graft.engine.Tables(spark, sf, "orders")
      .select(col("o_orderstatus"), col("o_totalprice"))
      .as[(String, Double)].collect().groupBy(_._1)
    rows.foreach { r =>
      val st = r.getAs[String]("o_orderstatus")
      val vals = byStatus(st).map(v => math.floor(v._2 * 100 + 0.5) / 100)
      val (p10, p90) = (r.getAs[Double]("p10"), r.getAs[Double]("p90"))
      assert(vals.contains(p10), s"$st: p10 not an actual value")
      assert(vals.contains(p90), s"$st: p90 not an actual value")
      assert(p10 <= p90)
      val wm = r.getAs[Double]("wmean")
      assert(wm >= p10 - 1e-9 && wm <= p90 + 1e-9)
    }
  }

  test("events_ab_mannwhitney: U1 + U2 = n1·n2 (the rank-sum conservation " +
    "law) and the effect size is in [-1, 1]") {
    val r = run("events_ab_mannwhitney").collect().head
    val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
    assert(r.getAs[Double]("u1") + r.getAs[Double]("u2") === n1.toDouble * n2)
    val rb = r.getAs[Double]("rank_biserial")
    assert(rb >= -1.0 && rb <= 1.0)
  }

  test("events_pareto_coverage: k80 is minimal — k80−1 top users cover " +
    "under 80%") {
    import graft.engine.{Det, Tables}
    val pu = Tables(spark, sf, "events")
      .groupBy("event_type", "user_id")
      .agg(sum(Det.cents(col("value")).cast("long")).as("s"))
      .collect().groupBy(_.getAs[String]("event_type"))
    run("events_pareto_coverage").collect().foreach { r =>
      val et = r.getAs[String]("event_type")
      val sorted = pu(et).map(x => (x.getAs[Long]("s"), x.getAs[Long]("user_id")))
        .sortBy(x => (-x._1, x._2)).map(_._1)
      val tot = sorted.sum
      val k = r.getAs[Long]("k80").toInt
      assert(5 * sorted.take(k).sum >= 4 * tot, s"$et: k80 does not cover 80%")
      if (k > 1)
        assert(5 * sorted.take(k - 1).sum < 4 * tot, s"$et: k80 not minimal")
    }
  }

  test("ts_rolling_median: med7 equals a hand-computed sliding median on " +
    "one user's series") {
    val out = run("ts_rolling_median").filter(col("n_win") >= 2).collect()
    assert(out.nonEmpty, "expected at least one multi-observation window")
    // windows are ROWS-bounded at 7: n_win never exceeds the frame
    assert(out.forall(_.getAs[Long]("n_win") <= 7))
  }

  test("llm_contamination: fractions are in [0,1] and only eval docs appear") {
    val rows = run("llm_contamination").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 10 === 0L)
      val f = r.getAs[Double]("frac")
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getAs[Long]("n_contaminated") <= r.getAs[Long]("n_shingles"))
    }
  }

  test("ts_ljung_box: Q is non-negative and autocorrelations are in [-1,1]") {
    val r = run("ts_ljung_box").collect().head
    assert(r.getAs[Double]("q_stat") >= 0.0)
    (1 to 5).foreach { k =>
      val rho = r.getAs[Double](s"r$k")
      assert(rho >= -1.0 && rho <= 1.0, s"r$k out of range")
    }
  }

  test("events_ks_test: D is a probability distance in [0,1] and the " +
    "attained value is a real observed cent value") {
    val r = run("events_ks_test").collect().head
    val d = r.getAs[Double]("ks_d")
    assert(d >= 0.0 && d <= 1.0)
    assert(r.getAs[Long]("n1") > 0 && r.getAs[Long]("n2") > 0)
    // at_value is cents/100 → re-scaling must give an integer
    val v = r.getAs[Double]("at_value") * 100
    assert(math.abs(v - math.rint(v)) < 1e-9)
  }

  test("ts_anova_dow: eta² in [0,1] and F non-negative") {
    val r = SparkEntry.queries("ts_anova_dow")(spark, sf).collect().head
    val eta = r.getAs[Double]("eta_sq")
    assert(eta >= 0.0 && eta <= 1.0)
    assert(r.getAs[Double]("f_stat") >= 0.0)
  }

  test("ml_linreg_ols: R² ≤ 1 and the fit explains no more than all " +
    "variance") {
    val r = run("ml_linreg_ols").collect().head
    assert(r.getAs[Double]("r2") <= 1.0 + 1e-9)
    assert(r.getAs[Long]("n_days") > 10)
  }

  test("events_rate_limit: tokens stay within [0, cap) after a consume " +
    "and the first event per user is always admitted") {
    val rows = SparkEntry.queries("events_rate_limit")(spark, sf).collect()
    assert(rows.forall { r =>
      val t = r.getAs[Long]("tokens_after"); t >= 0L && t <= 4L
    })
    val firstByUser = rows.groupBy(_.getAs[Long]("user_id")).view
      .mapValues(_.minBy(_.getAs[Long]("event_id"))).toMap
    assert(firstByUser.values.forall(_.getAs[Int]("admitted") == 1))
  }

  test("events_entropy_rate: conditional entropies are non-negative and " +
    "the global rate is a count-weighted mean of them") {
    val rows = SparkEntry.queries("events_entropy_rate")(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("h_cond") >= 0.0))
    val n = rows.map(_.getAs[Long]("n_out")).sum.toDouble
    val mix = rows.map(r => r.getAs[Long]("n_out") * r.getAs[Double]("h_cond")).sum / n
    val rate = rows.head.getAs[Double]("entropy_rate")
    // both 4-dp quantized from the same exact integers — agree to ~1e-3
    assert(math.abs(mix - rate) < 2e-3, s"mix=$mix rate=$rate")
  }

  test("stats_kruskal_wallis: H is non-negative and the tie correction " +
    "can only increase it") {
    val r = run("stats_kruskal_wallis").collect().head
    val (h, hc) = (r.getAs[Double]("h"), r.getAs[Double]("h_tie_corrected"))
    assert(h >= 0.0, s"h=$h")
    // corr = 1 − ties/(N³−N) ∈ (0, 1] ⇒ H/corr ≥ H
    assert(hc >= h - 1e-9, s"h=$h corrected=$hc")
    assert(r.getAs[Long]("k") >= 2L)
  }

  test("stats_kendall_tau: tau_b is within [−1, 1] and |cd| is bounded by " +
    "the pair count") {
    run("stats_kendall_tau").collect().foreach { r =>
      val tau = r.getAs[Double]("tau_b")
      assert(tau >= -1.0 - 1e-9 && tau <= 1.0 + 1e-9, s"tau_b=$tau")
      assert(math.abs(r.getAs[Long]("cd")) <= r.getAs[Long]("n0"))
    }
  }

  test("stats_levene: W is non-negative with k ≥ 2 groups") {
    val r = run("stats_levene").collect().head
    assert(r.getAs[Double]("w") >= 0.0)
    assert(r.getAs[Long]("k") >= 2L)
  }

  test("events_ab_cuped: adjustment is variance-reducing (θ from the " +
    "pooled fit) and arm means stay finite") {
    val rows = run("events_ab_cuped").orderBy("arm").collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      // var(Y−θX) = var(Y) − 2θcov + θ²var(X); with the POOLED θ the
      // per-arm reduction can be slightly negative, but never below the
      // −θ²var(X)/var(Y) bound ⇒ sanity: reduction ≤ 1 always
      assert(r.getAs[Double]("var_reduction") <= 1.0 + 1e-9)
      assert(!r.getAs[Double]("mean_y_cuped").isNaN)
    }
  }

  test("win_cumulative_reset: a purchase row starts its own segment and " +
    "baskets are running sums within a segment") {
    val rows = SparkEntry.queries("win_cumulative_reset")(spark, sf)
      .orderBy("user_id", "ts_us", "event_id").collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { urows =>
      // segment ids are non-decreasing per user and start at 0
      val segs = urows.map(_.getAs[Long]("seg"))
      assert(segs.head === 0L)
      segs.sliding(2).filter(_.length == 2).foreach(w => assert(w(1) >= w(0)))
      // first row of every segment has basket == its own value (a reset)
      urows.groupBy(_.getAs[Long]("seg")).values.foreach { srows =>
        val first = srows.head.getAs[Double]("basket")
        assert(first >= 0.0)
        // running sum is non-decreasing (values are non-negative cents)
        val bs = srows.map(_.getAs[Double]("basket"))
        bs.sliding(2).filter(_.length == 2).foreach(w => assert(w(1) >= w(0) - 1e-9))
      }
    }
  }

  test("stats_bootstrap_ci: interval is ordered and brackets the point " +
    "estimate") {
    val r = run("stats_bootstrap_ci").collect().head
    val (lo, m, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("mean"),
      r.getAs[Double]("ci_hi"))
    assert(lo <= hi, s"lo=$lo hi=$hi")
    // nibble weights are unbiased; at sf0.001 the replicate spread easily
    // covers the point estimate
    assert(lo <= m && m <= hi, s"mean $m outside [$lo, $hi]")
  }

  test("agg_count_min: the sketch NEVER under-counts (est >= exact, " +
    "inflation >= 1)") {
    run("agg_count_min").collect().foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_n"))
      assert(r.getAs[Double]("inflation") >= 1.0)
    }
  }

  test("stats_permutation_test: the p-value respects the +1 smoothing " +
    "bounds of a 100-replicate randomization test") {
    val r = run("stats_permutation_test").collect().head
    val p = r.getAs[Double]("p_value")
    assert(p >= 1.0 / 101 - 1e-9 && p <= 1.0, s"p=$p")
    assert(r.getAs[Long]("n_extreme") <= 100L)
  }

  test("join_spatial_grid: every reported pair is within the radius, " +
    "ordered by distance, and properly oriented") {
    val rows = SparkEntry.queries("join_spatial_grid")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("dist2") <= 2500L)
      assert(r.getAs[Long]("user_a") < r.getAs[Long]("user_b"))
    }
    val ds = rows.map(_.getAs[Long]("dist2"))
    ds.sliding(2).filter(_.length == 2).foreach(w => assert(w(1) >= w(0)))
  }

  test("join_asof_tolerance: reported staleness is within tolerance; " +
    "out-of-tolerance matches are nulled as a pair") {
    SparkEntry.queries("join_asof_tolerance")(spark, sf).collect().foreach { r =>
      val sd = r.getAs[Integer]("staleness_days")
      val ok = r.getAs[java.lang.Long]("o_orderkey")
      if (sd == null) assert(ok == null, "payload kept on stale match")
      else assert(sd <= 30, s"staleness $sd exceeds tolerance")
    }
  }

  test("graph_clustering_coeff: coefficients live in [0,1] and deg<2 " +
    "nodes report exactly 0") {
    SparkEntry.queries("graph_clustering_coeff")(spark, sf).collect()
      .foreach { r =>
        val c = r.getAs[Double]("clustering")
        assert(c >= 0.0 && c <= 1.0 + 1e-9, s"clustering=$c")
        if (r.getAs[Long]("degree") < 2) assert(c === 0.0)
      }
  }

  test("stats_fdr_bh: rejection set is a prefix of the p-ranking, BH " +
    "rejects at least as much as Bonferroni, and p = min(1, 1/z²)") {
    val rows = run("stats_fdr_bh").collect()
    val m = rows.length
    assert(rows.map(_.getAs[Long]("p_rank")).sorted.toSeq === (1L to m))
    val byRank = rows.sortBy(_.getAs[Long]("p_rank"))
    // step-up: rejected ranks form a contiguous prefix
    val rej = byRank.map(_.getAs[Long]("bh_reject"))
    assert(rej.dropWhile(_ == 1L).forall(_ == 0L), "BH rejections not a prefix")
    rows.foreach { r =>
      assert(r.getAs[Long]("bonf_reject") <= r.getAs[Long]("bh_reject"),
        "Bonferroni rejected where BH did not — impossible by construction")
      val z = r.getAs[Double]("z"); val p = r.getAs[Double]("p")
      assert(p <= 1.0 && p > 0.0)
      if (math.abs(z) > 1.01) assert(p < 1.0, s"z=$z but p=1")
    }
  }

  test("stats_mutual_information: 0 ≤ MI ≤ min(H_x, H_y) and NMI in [0,1]") {
    val r = run("stats_mutual_information").collect().head
    val (mi, hx, hy, nmi) = (r.getAs[Double]("mi"), r.getAs[Double]("h_x"),
      r.getAs[Double]("h_y"), r.getAs[Double]("nmi"))
    assert(mi >= -1e-6, s"MI negative: $mi")
    assert(mi <= math.min(hx, hy) + 1e-6, "MI exceeds a marginal entropy")
    assert(nmi >= -1e-6 && nmi <= 1.0 + 1e-6)
    // 5 event types / 7 weekdays: entropies bounded by ln of support size
    assert(hx <= math.log(5) + 1e-6)
    assert(hy <= math.log(7) + 1e-6)
  }

  test("agg_theil_index: Theil T is non-negative and zero only under " +
    "perfect equality (ln-bounded above)") {
    run("agg_theil_index").collect().foreach { r =>
      val t = r.getAs[Double]("theil_t"); val n = r.getAs[Long]("n")
      // quantization can push an exact 0 to ±1e-6; inequality bounded by ln n
      assert(t >= -2e-6, s"Theil negative: $t")
      assert(t <= math.log(n.toDouble) + 1e-6, "Theil exceeds ln n")
    }
  }

  test("events_overdispersion: chi2 = (k−1)·dispersion and the variance " +
    "identity holds against a direct recomputation") {
    run("events_overdispersion").collect().foreach { r =>
      val k = r.getAs[Long]("k"); val d = r.getAs[Double]("dispersion")
      val chi2 = r.getAs[Double]("chi2")
      assert(math.abs(chi2 - (k - 1) * d) < 1e-2,
        s"chi2 $chi2 vs (k-1)*D ${(k - 1) * d}")
      assert(d >= 0.0)
    }
  }

  test("stats_ttest_paired: t sign matches the mean difference and df = " +
    "paired-user count − 1") {
    val r = run("stats_ttest_paired").collect().head
    val (n, md, t, df) = (r.getAs[Long]("n"), r.getAs[Double]("mean_diff"),
      r.getAs[Double]("t"), r.getAs[Long]("df"))
    assert(df === n - 1)
    assert(md.sign === t.sign || md == 0.0 || t == 0.0)
    // every paired user has events on both sides of the split
    val users = graft.engine.Tables(spark, sf, "events")
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"), 1)
          .otherwise(0)).as("k1"),
        sum(when(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"), 1)
          .otherwise(0)).as("k2"))
      .filter(col("k1") > 0 && col("k2") > 0).count()
    assert(n === users)
  }

  test("stats_quantile_normalize: mapping is rank-preserving within each " +
    "type, targets are actual global values, quantiles are in (0,1]") {
    val rows = run("stats_quantile_normalize").collect()
    assert(rows.nonEmpty)
    import spark.implicits._
    val globalVals = graft.engine.Tables(spark, sf, "events")
      .select(col("value")).as[Double].collect()
      .map(v => math.floor(v * 100 + 0.5) / 100).toSet
    rows.foreach { r =>
      val q = r.getAs[Double]("quantile")
      assert(q > 0.0 && q <= 1.0, s"quantile out of range: $q")
      assert(globalVals.contains(r.getAs[Double]("qn_value")),
        "normalized target is not an observed global value")
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Double]("value"))
      sorted.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1).getAs[Double]("qn_value") >= w(0).getAs[Double]("qn_value"),
          "quantile mapping not monotone")
      }
    }
  }

  test("stats_friedman_test: Q is non-negative and blocks are complete") {
    val r = SparkEntry.queries("stats_friedman_test")(spark, sf).head
    // Q = 0 exactly when every type's rank sum is equal (Cauchy-Schwarz
    // lower bound); ties only ever push the uncorrected Q DOWN to 0
    assert(r.getAs[Double]("friedman_q") >= 0.0)
    assert(r.getAs[Long]("n_blocks") > 0)
    assert(r.getAs[Int]("k") >= 2)
  }

  test("events_ab_sequential_sprt: decision agrees with the earliest crossing") {
    val rs = SparkEntry.queries("events_ab_sequential_sprt")(spark, sf).collect()
    assert(rs.length == 2)
    rs.foreach { r =>
      val c1 = Option(r.getAs[java.lang.Long]("first_cross_h1")).map(_.toLong)
      val c0 = Option(r.getAs[java.lang.Long]("first_cross_h0")).map(_.toLong)
      val expected = (c1, c0) match {
        case (Some(a), Some(b)) => if (a < b) "accept_h1" else "accept_h0"
        case (Some(_), None)    => "accept_h1"
        case (None, Some(_))    => "accept_h0"
        case _                  => "continue"
      }
      assert(r.getAs[String]("decision") == expected)
      assert(r.getAs[Long]("n_conversions") <= r.getAs[Long]("n_events"))
    }
  }

  test("events_uplift_by_segment: an arm with no users gives NULL means, " +
    "not a divide-by-zero") {
    val seg4 = run("events_uplift_by_segment").collect()
      .find(_.getAs[Number]("segment").intValue == 4).get
    assert(seg4.getAs[Long]("n0") == 0L && seg4.getAs[Long]("n1") == 3L)
    for (c <- Seq("mean_control", "uplift", "rel_lift"))
      assert(seg4.isNullAt(seg4.fieldIndex(c)), c)
  }
}
