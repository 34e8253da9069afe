package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant pins for the hypothesis-test wave (kruskal_wallis,
  * jarque_bera, levene_test, mann_kendall, logrank_test, durbin_watson)
  * at sf0.001 — each statistic's domain and its decision rule, beyond the
  * DuckDB hash gates. */
class StatTestSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("kruskal_wallis: H is non-negative and the decision matches the 9.488 cut") {
    val r = SparkEntry.queries("kruskal_wallis")(spark, sf).head()
    val h = r.getDouble(r.fieldIndex("h_stat"))
    assert(h >= 0.0)
    assert(r.getLong(r.fieldIndex("k")) >= 2)
    assert(r.getLong(r.fieldIndex("n")) > r.getLong(r.fieldIndex("k")))
    assert(r.getBoolean(r.fieldIndex("reject")) == (h > 9.488))
  }

  test("jarque_bera: moments are coherent (m2>0 via finite skew/kurt, kurtosis >= 1)") {
    val r = SparkEntry.queries("jarque_bera")(spark, sf).head()
    val skew = r.getDouble(r.fieldIndex("skewness"))
    val kurt = r.getDouble(r.fieldIndex("kurtosis"))
    val jb = r.getDouble(r.fieldIndex("jb_stat"))
    assert(!skew.isNaN && !kurt.isNaN && jb >= 0.0)
    // kurtosis >= skew^2 + 1 is a universal moment inequality
    assert(kurt >= skew * skew + 1.0 - 1e-3)
    assert(r.getBoolean(r.fieldIndex("reject")) == (jb > 5.991))
  }

  test("levene_test: W is a non-negative variance ratio") {
    val r = SparkEntry.queries("levene_test")(spark, sf).head()
    val w = r.getDouble(r.fieldIndex("w_stat"))
    assert(w >= 0.0)
    assert(r.getLong(r.fieldIndex("k")) == 3) // return flags A/N/R
    assert(r.getBoolean(r.fieldIndex("reject")) == (w > 3.0))
  }

  test("mann_kendall: S is bounded by the pair count and Sen slope sits inside the pair-slope range") {
    val rows = SparkEntry.queries("mann_kendall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val sStat = r.getLong(r.fieldIndex("s_stat"))
      val m = n * (n - 1) / 2
      assert(math.abs(sStat) <= m)
      val z = r.getDouble(r.fieldIndex("z"))
      assert(r.getBoolean(r.fieldIndex("reject")) == (math.abs(z) > 1.96))
    }
  }

  test("logrank_test: expected deaths bounded by total and the chi2 decision is the 3.841 cut") {
    val r = SparkEntry.queries("logrank_test")(spark, sf).head()
    val o1 = r.getLong(r.fieldIndex("observed_1"))
    val e1 = r.getDouble(r.fieldIndex("expected_1"))
    val chi = r.getDouble(r.fieldIndex("chi2"))
    assert(o1 >= 0 && e1 >= 0.0 && chi >= 0.0)
    assert(r.getBoolean(r.fieldIndex("reject")) == (chi > 3.841))
    // parity split: neither group can exceed the total event count
    val ev = graft.core.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id")).distinct().count()
    assert(o1 <= ev && e1 <= ev.toDouble)
  }

  test("cohens_d: the A/A effect size is negligible by the 0.2 convention") {
    val r = SparkEntry.queries("cohens_d")(spark, sf).head()
    assert(r.getDouble(r.fieldIndex("pooled_sd")) > 0.0)
    assert(r.getBoolean(r.fieldIndex("negligible")))
    assert(math.abs(r.getDouble(r.fieldIndex("cohens_d"))) < 0.2)
  }

  test("odds_ratio: CI brackets the point estimate and the A/A arms are not significant") {
    val r = SparkEntry.queries("odds_ratio")(spark, sf).head()
    val or = r.getDouble(r.fieldIndex("odds_ratio"))
    val lo = r.getDouble(r.fieldIndex("ci_lo")); val hi = r.getDouble(r.fieldIndex("ci_hi"))
    assert(or > 0.0 && lo <= or && or <= hi)
    assert(!r.getBoolean(r.fieldIndex("significant")))
  }

  test("risk_ratio: CI brackets the estimate and the A/A arms are not significant") {
    val r = SparkEntry.queries("risk_ratio")(spark, sf).head()
    val rr = r.getDouble(r.fieldIndex("risk_ratio"))
    val lo = r.getDouble(r.fieldIndex("ci_lo")); val hi = r.getDouble(r.fieldIndex("ci_hi"))
    assert(rr > 0.0 && lo <= rr && rr <= hi)
    assert(!r.getBoolean(r.fieldIndex("significant")))
  }

  test("srm_check: arm counts sum to the table and the decision matches the cut") {
    val r = SparkEntry.queries("srm_check")(spark, sf).head()
    val na = r.getLong(r.fieldIndex("n_a")); val nb = r.getLong(r.fieldIndex("n_b"))
    assert(na + nb == graft.core.Tables.orders(spark, sf).count())
    val chi = r.getDouble(r.fieldIndex("chi2"))
    assert(chi >= 0.0)
    assert(r.getBoolean(r.fieldIndex("srm_detected")) == (chi > 3.841))
    // a correct md5 split must NOT trip the guardrail
    assert(!r.getBoolean(r.fieldIndex("srm_detected")))
  }

  test("msprt: always-valid p in (0,1], calibrated under the null (A/A split must not reject)") {
    val r = SparkEntry.queries("msprt")(spark, sf).head()
    val p = r.getDouble(r.fieldIndex("always_valid_p"))
    assert(p > 0.0 && p <= 1.0)
    assert(r.getLong(r.fieldIndex("n_days")) > 0)
    assert(r.getBoolean(r.fieldIndex("reject")) == (p < 0.05))
    // the md5 split is an A/A test: the always-valid guarantee says the
    // monitor rejects with prob < 5% — on this fixed seed it must hold
    assert(!r.getBoolean(r.fieldIndex("reject")))
  }

  test("cem_att: A/A matching yields a near-zero ATT and full treated coverage is bounded") {
    val r = SparkEntry.queries("cem_att")(spark, sf).head()
    assert(r.getLong(r.fieldIndex("n_strata")) >= 1)
    val att = r.getDouble(r.fieldIndex("att"))
    // the arms are an A/A md5 split: the matched effect must be noise-sized
    assert(math.abs(att) < 0.15)
    val nt = r.getLong(r.fieldIndex("n_treated_matched"))
    assert(nt > 0 && nt <= graft.core.Tables.orders(spark, sf).count())
  }

  test("reg_discontinuity: limits are probabilities and the effect is their difference") {
    val r = SparkEntry.queries("reg_discontinuity")(spark, sf).head()
    val l = r.getDouble(r.fieldIndex("left_limit"))
    val rr = r.getDouble(r.fieldIndex("right_limit"))
    // local-linear extrapolation can wiggle slightly outside [0,1]
    assert(l > -0.5 && l < 1.5 && rr > -0.5 && rr < 1.5)
    assert(math.abs(r.getDouble(r.fieldIndex("rd_effect")) - (rr - l)) < 1e-3)
    assert(r.getLong(r.fieldIndex("n_left")) > 10 && r.getLong(r.fieldIndex("n_right")) > 10)
  }

  test("huber_reg: coefficients finite and residual scale bounded by the target scale") {
    val r = SparkEntry.queries("huber_reg")(spark, sf).head()
    val b0 = r.getDouble(r.fieldIndex("b0")); val b1 = r.getDouble(r.fieldIndex("b1"))
    assert(!b0.isNaN && !b1.isNaN)
    val mar = r.getDouble(r.fieldIndex("mean_abs_resid"))
    import org.apache.spark.sql.functions._
    val ym = graft.core.Tables.lineitem(spark, sf)
      .agg(avg(abs(col("l_extendedprice") / 100000.0))).head().getDouble(0)
    // a fit with an intercept can't do worse than predicting zero
    assert(mar >= 0.0 && mar <= ym + 1e-6)
  }

  test("tweedie_reg: mean mu close to the target mean (log-link GLM calibration)") {
    val r = SparkEntry.queries("tweedie_reg")(spark, sf).head()
    val mm = r.getDouble(r.fieldIndex("mean_mu"))
    import org.apache.spark.sql.functions._
    val ym = graft.core.Tables.lineitem(spark, sf)
      .agg(avg(col("l_quantity"))).head().getDouble(0)
    assert(mm > 0.0 && math.abs(mm - ym) / ym < 0.2)
  }

  test("tost_equivalence: decision matches the two one-sided cuts; A/A diff inside the margin") {
    val r = SparkEntry.queries("tost_equivalence")(spark, sf).head()
    val margin = r.getDouble(r.fieldIndex("margin"))
    assert(margin > 0.0)
    val tL = r.getDouble(r.fieldIndex("t_lower")); val tU = r.getDouble(r.fieldIndex("t_upper"))
    assert(r.getBoolean(r.fieldIndex("equivalent")) == (tL > 1.645 && tU > 1.645))
    // TOST symmetry: t_lower + t_upper = 2·margin/se > 0
    assert(tL + tU > 0.0)
  }

  test("fleiss_kappa: kappa <= 1 and agreement share in [1/3, 1] for 3 binary raters") {
    val r = SparkEntry.queries("fleiss_kappa")(spark, sf).head()
    val pb = r.getDouble(r.fieldIndex("p_agree"))
    assert(pb >= 1.0 / 3.0 - 1e-4 && pb <= 1.0)
    assert(r.getDouble(r.fieldIndex("kappa")) <= 1.0)
  }

  test("uplift_by_segment: rates in [0,1] and uplift = rate_b - rate_a per segment") {
    val rows = SparkEntry.queries("uplift_by_segment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ra = r.getDouble(r.fieldIndex("rate_a")); val rb = r.getDouble(r.fieldIndex("rate_b"))
      assert(ra >= 0.0 && ra <= 1.0 && rb >= 0.0 && rb <= 1.0)
      assert(math.abs(r.getDouble(r.fieldIndex("uplift")) - (rb - ra)) < 1e-3)
    }
  }

  test("recall_at_k: hits bounded by both k and the relevant total") {
    val r = SparkEntry.queries("recall_at_k")(spark, sf).head()
    val hits = r.getLong(r.fieldIndex("hits_at_k"))
    val nr = r.getLong(r.fieldIndex("n_relevant"))
    assert(hits <= 100 && hits <= nr)
    val rec = r.getDouble(r.fieldIndex("recall_k"))
    assert(rec >= 0.0 && rec <= 1.0)
    assert(math.abs(rec - hits.toDouble / nr) < 1e-4)
  }

  test("bayes_ab: posterior rates in (0,1), A/A split is indecisive") {
    val r = SparkEntry.queries("bayes_ab")(spark, sf).head()
    val ra = r.getDouble(r.fieldIndex("rate_a")); val rb = r.getDouble(r.fieldIndex("rate_b"))
    assert(ra > 0.0 && ra < 1.0 && rb > 0.0 && rb < 1.0)
    val p = r.getDouble(r.fieldIndex("p_b_beats_a"))
    assert(p > 0.0 && p < 1.0)
    // the md5 split is an A/A comparison: posterior must not be decisive
    assert(!r.getBoolean(r.fieldIndex("decisive")))
  }

  test("forecast_accuracy: RMSE >= MAE and the smoother beats the naive on smooth series") {
    val rows = SparkEntry.queries("forecast_accuracy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mae = r.getDouble(r.fieldIndex("mae"))
      val rmse = r.getDouble(r.fieldIndex("rmse"))
      assert(mae >= 0.0 && rmse >= mae - 1e-4) // Jensen
      assert(r.getBoolean(r.fieldIndex("beats_naive")) ==
        (r.getDouble(r.fieldIndex("mase")) < 1.0))
    }
  }

  test("knn_regress: predictions stay inside the train-target hull") {
    import org.apache.spark.sql.functions._
    val e = graft.core.Tables.embeddings(spark, sf)
    val t = aggregate(col("embedding").cast("array<double>"), lit(0.0), (a, x) => a + x)
    val mm = e.filter(col("vec_id") % 20 =!= 10)
      .agg(min(t).as("lo"), max(t).as("hi")).head()
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val rows = SparkEntry.queries("knn_regress")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getDouble(r.fieldIndex("pred"))
      assert(p >= lo - 1e-4 && p <= hi + 1e-4) // a mean of train targets can't escape
    }
  }

  test("granger_causality: F non-negative in both directions, n = aligned days - 1") {
    val rows = SparkEntry.queries("granger_causality")(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val f = r.getDouble(r.fieldIndex("f_stat"))
      assert(f >= -1e-6) // adding a regressor can't raise SSE
      assert(r.getBoolean(r.fieldIndex("reject")) == (f > 3.841))
      assert(r.getLong(r.fieldIndex("n")) >= 10)
    }
    assert(rows.map(_.getString(0)).toSet == Set("click", "view"))
  }

  test("ece: ECE <= MCE, both in [0,1]") {
    val r = SparkEntry.queries("ece")(spark, sf).head()
    val ece = r.getDouble(r.fieldIndex("ece"))
    val mce = r.getDouble(r.fieldIndex("mce"))
    assert(ece >= 0.0 && mce <= 1.0)
    assert(ece <= mce + 1e-6) // the mean gap can't exceed the max gap
    assert(r.getLong(r.fieldIndex("n_bins")) >= 1 && r.getLong(r.fieldIndex("n_bins")) <= 10)
  }

  test("youden_j: J = TPR - FPR in [-1,1] and beats the trivial thresholds") {
    val r = SparkEntry.queries("youden_j")(spark, sf).head()
    val tpr = r.getDouble(r.fieldIndex("tpr"))
    val fpr = r.getDouble(r.fieldIndex("fpr"))
    val j = r.getDouble(r.fieldIndex("j"))
    assert(math.abs(j - (tpr - fpr)) < 1e-3)
    assert(j >= 0.0 && j <= 1.0) // optimum can't be worse than all-negative (J=0)
    assert(tpr >= 0.0 && tpr <= 1.0 && fpr >= 0.0 && fpr <= 1.0)
  }

  test("ranking metrics: MAP and MRR in [0,1], MRR >= MAP on the same ranking") {
    val m = SparkEntry.queries("map_at_k")(spark, sf).head()
    val mapK = m.getDouble(m.fieldIndex("map_k"))
    val rr = SparkEntry.queries("mrr")(spark, sf).head()
    val mrr = rr.getDouble(rr.fieldIndex("mrr"))
    assert(mapK >= 0.0 && mapK <= 1.0)
    assert(mrr >= 0.0 && mrr <= 1.0)
    // AP averages precisions at relevant ranks, each <= 1/first-hit-rank
    // bound fails only if ranking is empty of relevant items in both
    assert(mrr >= mapK - 1e-6)
    val fr = rr.getLong(rr.fieldIndex("first_rel_rank"))
    assert(if (fr == 0) mrr == 0.0 else math.abs(mrr - 1.0 / fr) < 1e-4)
  }

  test("vif: every VIF >= 1 and r2_others in [0,1)") {
    val rows = SparkEntry.queries("vif")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val v = r.getDouble(r.fieldIndex("vif"))
      val r2 = r.getDouble(r.fieldIndex("r2_others"))
      assert(v >= 1.0 - 1e-4)
      assert(r2 >= -1e-4 && r2 < 1.0)
      // VIF = 1/(1-R^2) must be internally consistent
      assert(math.abs(v - 1.0 / (1.0 - r2)) < 0.02 * v + 1e-3)
    }
  }

  test("partial_corr: correlations and partials in [-1,1]") {
    val rows = SparkEntry.queries("partial_corr")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(r.fieldIndex("corr"))) <= 1.0)
      assert(math.abs(r.getDouble(r.fieldIndex("partial_corr"))) <= 1.0)
    }
  }

  test("cooks_distance: top-10 non-negative and sorted descending; leverage in (0,1)") {
    val rows = SparkEntry.queries("cooks_distance")(spark, sf).collect()
    assert(rows.length == 10)
    val ds = rows.map(r => r.getDouble(r.fieldIndex("cooks_d")))
    assert(ds.forall(_ >= 0.0))
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val h = r.getDouble(r.fieldIndex("leverage"))
      assert(h > 0.0 && h < 1.0)
    }
  }

  test("cronbach_alpha: alpha <= 1 and the acceptable flag matches the 0.5 cut") {
    val r = SparkEntry.queries("cronbach_alpha")(spark, sf).head()
    val a = r.getDouble(r.fieldIndex("alpha"))
    assert(a <= 1.0)
    assert(r.getLong(r.fieldIndex("k")) == 4)
    assert(r.getBoolean(r.fieldIndex("acceptable")) == (a >= 0.5))
  }

  test("grubbs_test: G positive, bounded by (n-1)/sqrt(n), decision at 4.0") {
    val r = SparkEntry.queries("grubbs_test")(spark, sf).head()
    val g = r.getDouble(r.fieldIndex("g_stat"))
    val n = r.getLong(r.fieldIndex("n")).toDouble
    assert(g > 0.0 && g <= (n - 1) / math.sqrt(n) + 1e-4)
    assert(r.getBoolean(r.fieldIndex("reject")) == (g > 4.0))
  }

  test("durbin_watson: DW lies in [0, 4] for every series") {
    val rows = SparkEntry.queries("durbin_watson")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dw = r.getDouble(r.fieldIndex("dw_stat"))
      assert(dw >= 0.0 && dw <= 4.0)
      assert(r.getBoolean(r.fieldIndex("positive_autocorr")) == (dw < 1.5))
    }
  }
}
