package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.math.abs

/** Estimation-depth TSA surface: Holt-Winters parameter fitting, KPSS
  * stationarity, ARIMA in-sample/forecast, singular-fit guards. */
class TsaDepthSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()

  private def seriesDF(xs: Seq[Double], name: String = "s1") = {
    import spark.implicits._
    xs.zipWithIndex.map { case (x, t) => (name, t.toLong, x) }.toDF("series", "t", "x")
  }

  test("acf matches the brute-force plug-in estimator") {
    val rnd = new scala.util.Random(3)
    val xs = Iterator.iterate(0.0)(v => 0.7 * v + rnd.nextGaussian()).take(80).toIndexedSeq
    val got = graft.tsa.TimeSeries.acf(seriesDF(xs), maxLag = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val mu = xs.sum / xs.size
    val ss = xs.map(v => (v - mu) * (v - mu)).sum
    for (k <- 1 to 4) {
      val num = (k until xs.size).map(t => (xs(t) - mu) * (xs(t - k) - mu)).sum
      assert(abs(got(k.toLong) - num / ss) < 1e-5, s"lag $k: ${got(k.toLong)} vs ${num / ss}")
    }
  }

  test("pacf cuts off after the order of a planted AR(2)") {
    val rnd = new scala.util.Random(9)
    // strongly identified AR(2)
    val xs = Iterator.iterate((0.0, 0.0)) { case (a, b) =>
      (0.5 * a - 0.4 * b + 0.05 * rnd.nextGaussian(), a)
    }.map(_._1).take(600).toIndexedSeq
    val got = graft.tsa.TimeSeries.pacf(seriesDF(xs))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(abs(got(2L) - (-0.4)) < 0.1, s"pacf(2)=${got(2L)}")
    assert(abs(got(3L)) < 0.1, s"pacf(3)=${got(3L)} should be ~0 past the order")
  }

  test("ccf matches brute force and peaks at the planted shift") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val base = IndexedSeq.fill(120)(rnd.nextGaussian())
    // b follows a with a 2-step delay
    val rows = (2 until 120).map(t => ("p", t.toLong, base(t), base(t - 2)))
    val df = rows.toDF("pair", "t", "xa", "xb")
    val got = graft.tsa.TimeSeries.ccf(df, "pair", maxLag = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val (xa, xb) = (rows.map(_._3), rows.map(_._4))
    val n = rows.size
    val (ma, mb) = (xa.sum / n, xb.sum / n)
    val ca = xa.map(_ - ma); val cb = xb.map(_ - mb)
    val den = math.sqrt(ca.map(v => v * v).sum * cb.map(v => v * v).sum)
    for (k <- -3 to 3) {
      val num = (0 until n).collect {
        case t if t - k >= 0 && t - k < n => ca(t) * cb(t - k)
      }.sum
      assert(abs(got(k.toLong) - num / den) < 1e-5, s"lag $k: ${got(k.toLong)} vs ${num / den}")
    }
    // b_t = a_{t−2} ⇒ b_{t−k} = a_t at k = −2: a LEADS b → negative-lag peak
    assert(got.maxBy(e => abs(e._2))._1 == -2L, s"peak at ${got.maxBy(e => abs(e._2))._1}")
  }

  test("seasonal_decompose recovers a planted weekly pattern under a linear trend") {
    val pattern = IndexedSeq(5.0, -3.0, 2.0, 0.0, -1.0, 4.0, -7.0)
    val xs = (0 until 70).map(t => 10.0 + 0.5 * t + pattern(t % 7))
    val got = graft.tsa.TimeSeries.seasonalDecompose(seriesDF(xs), 7)
      .collect().map(r => (r.getLong(1), r.getDouble(3), r.getDouble(5)))
    // centered MA of a linear trend is exact, so seasonal = pattern (the
    // pattern already sums to zero) and residuals vanish
    got.foreach { case (phase, seasonal, sdResid) =>
      assert(abs(seasonal - pattern(phase.toInt)) < 1e-9, s"phase $phase: $seasonal")
      assert(sdResid < 1e-9, s"phase $phase resid sd $sdResid")
    }
  }

  /** Independent re-statement of the additive HW one-step-SSE recursion
    * (deliberately re-derived here, not shared with main code). */
  private def hwSse(xs: IndexedSeq[Double], m: Int, a: Double, b: Double,
                    g: Double): Double = {
    var l = xs.take(m).sum / m
    var tr = (xs.slice(m, 2 * m).sum / m - l) / m
    val seas = scala.collection.mutable.ArrayBuffer(xs.take(m).map(_ - l): _*)
    var sse = 0.0
    for (t <- m until xs.length) {
      val s0 = seas.remove(0)
      val err = xs(t) - (l + tr + s0)
      sse += err * err
      val lp = l
      l = a * (xs(t) - s0) + (1 - a) * (l + tr)
      tr = b * (l - lp) + (1 - b) * tr
      seas += g * (xs(t) - l) + (1 - g) * s0
    }
    sse
  }

  private val alphas = Seq(0.2, 0.4, 0.6, 0.8)
  private val betas = Seq(0.1, 0.3)
  private val gammas = Seq(0.1, 0.3, 0.5)

  test("hw_fit picks the lattice candidate with minimal one-step SSE") {
    import spark.implicits._
    val season = Array(4.0, -2.0, 1.0, 0.0, -3.0, 2.0, -2.0)
    val rnd = new scala.util.Random(11)
    val xs = (0 until 42).map(t => 30.0 + 0.4 * t + season(t % 7) + 0.3 * rnd.nextGaussian())
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.hwFit(df, 7, alphas, betas, gammas).head()
    val (fa, fb, fg, fsse) = (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val all = for (a <- alphas; b <- betas; g <- gammas)
      yield ((a, b, g), hwSse(xs.toIndexedSeq, 7, a, b, g))
    val best = all.minBy(_._2)
    assert((fa, fb, fg) == best._1, s"picked ($fa,$fb,$fg) vs ${best._1}")
    assert(abs(fsse - best._2) < 1e-3, s"sse $fsse vs ${best._2}")
  }

  test("hw_fit_forecast equals holtWintersForecast at the fitted params") {
    import spark.implicits._
    val season = Array(4.0, -2.0, 1.0, 0.0, -3.0, 2.0, -2.0)
    val rnd = new scala.util.Random(5)
    val xs = (0 until 35).map(t => 20.0 + 0.2 * t + season(t % 7) + 0.2 * rnd.nextGaussian())
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val fit = graft.tsa.TimeSeries.hwFit(df, 7, alphas, betas, gammas).head()
    val (fa, fb, fg) = (fit.getDouble(1), fit.getDouble(2), fit.getDouble(3))
    val viaFit = graft.tsa.TimeSeries.hwFitForecast(df, 7, alphas, betas, gammas, h = 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val direct = graft.tsa.TimeSeries.holtWintersForecast(df, fa, fb, fg, 7, h = 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(viaFit == direct, s"$viaFit vs $direct")
  }

  test("KPSS: white noise is level-stationary (d=0), trending series needs d=1") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val noise = (0 until 120).map(t => ("flat", t.toLong, 5.0 + rnd.nextGaussian()))
    val trend = (0 until 120).map(t => ("trend", t.toLong, 0.5 * t + rnd.nextGaussian()))
    val df = (noise ++ trend).toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.stationarityKpss(df)
      .collect().map(row => row.getString(0) -> row).toMap
    assert(r("flat").getLong(5) == 0L, s"flat d=${r("flat").getLong(5)}")
    assert(r("trend").getLong(5) == 1L, s"trend d=${r("trend").getLong(5)}")
    // the statistic itself: small for stationary, above the 5% critical
    // value (0.463) for the trending series
    assert(r("flat").getDouble(1) < 0.463)
    assert(r("trend").getDouble(1) > 0.463)
  }

  test("arima_insample: AIC/BIC identities hold and SSE is the residual sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val xs = scala.collection.mutable.ArrayBuffer(10.0)
    (1 until 80).foreach(t => xs += xs(t - 1) + 1.0 + 0.5 * rnd.nextGaussian())
    val df = xs.toSeq.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }
      .toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.arimaInsample(df).head()
    val (n, sse, ll, aic, bic) =
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    // rows entering stage 2: n-1 diffs, minus 2 AR lags, minus 1 residual lag
    assert(n == xs.length - 4, s"n=$n")
    assert(sse > 0 && !sse.isNaN)
    val expLl = -(n / 2.0) * (math.log(2 * math.Pi * sse / n) + 1)
    assert(abs(ll - expLl) < 1e-2, s"ll $ll vs $expLl")
    assert(abs(aic - (-2 * ll + 6)) < 1e-2)
    assert(abs(bic - (-2 * ll + 3 * math.log(n.toDouble))) < 1e-2)
  }

  test("arima_pdq_forecast continues a drifting series") {
    import spark.implicits._
    val xs = (0 until 60).map(t => 10.0 + 2.0 * t + 0.5 * math.sin(t.toDouble))
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val fc = graft.tsa.TimeSeries.arimaForecastHR(df, h = 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(fc.size == 5)
    (1 to 5).foreach { k =>
      val actual = 10.0 + 2.0 * (59 + k) + 0.5 * math.sin((59 + k).toDouble)
      assert(abs(fc(k.toLong) - actual) < 2.0, s"step $k: ${fc(k.toLong)} vs $actual")
    }
  }

  test("arForecastP(p=2,d=0) matches the AR(2) Cramer forecast path") {
    import spark.implicits._
    val xs = scala.collection.mutable.ArrayBuffer(10.0, 11.0)
    (2 until 50).foreach(t => xs += 2.0 + 0.5 * xs(t - 1) + 0.3 * xs(t - 2))
    val df = xs.toSeq.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }
      .toDF("series", "t", "x")
    val viaP = graft.tsa.TimeSeries.arForecastP(df, p = 2, h = 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val viaCramer = graft.tsa.TimeSeries.arForecast(df, h = 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    (1 to 5).foreach { k =>
      assert(abs(viaP(k.toLong) - viaCramer(k.toLong)) < 1e-5,
        s"step $k: ${viaP(k.toLong)} vs ${viaCramer(k.toLong)}")
    }
  }

  test("arima_grid_search: one chosen order per series, at the minimal BIC") {
    import spark.implicits._
    val rnd = new scala.util.Random(4)
    // series A: drifting random walk (dx ~ iid) — low orders should do fine;
    // series B: AR(1) structure in the differences
    val a = { var x = 0.0; (0 until 90).map { t => x += 1.0 + rnd.nextGaussian(); ("a", t.toLong, x) } }
    val b = {
      var x = 0.0; var dx = 0.0
      (0 until 90).map { t => dx = 0.7 * dx + rnd.nextGaussian(); x += 2.0 + dx; ("b", t.toLong, x) }
    }
    val df = (a ++ b).toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.arimaGridSearch(df).collect()
    val bySeries = r.groupBy(_.getString(0))
    assert(bySeries.keySet == Set("a", "b"))
    bySeries.foreach { case (s, rows) =>
      assert(rows.length == 4, s"$s: ${rows.length} candidates")
      assert(rows.map(_.getString(1)).sorted.toSeq == Seq("010", "110", "210", "111").sorted)
      val chosen = rows.filter(_.getLong(3) == 1L)
      assert(chosen.length == 1, s"$s: ${chosen.length} chosen")
      assert(chosen.head.getDouble(2) == rows.map(_.getDouble(2)).min, s"$s: chosen not argmin")
    }
    // the AR(1)-in-differences series must prefer an autoregressive order
    val chosenB = bySeries("b").filter(_.getLong(3) == 1L).head.getString(1)
    assert(chosenB != "010", s"b chose $chosenB")
  }

  test("arima_predict_insample is consistent with arima_insample's SSE") {
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    val xs = scala.collection.mutable.ArrayBuffer(5.0)
    (1 until 70).foreach(t => xs += xs(t - 1) + 0.8 + 0.6 * rnd.nextGaussian())
    val df = xs.toSeq.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }
      .toDF("series", "t", "x")
    val preds = graft.tsa.TimeSeries.arimaPredictInsample(df)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(preds.size == xs.length - 4)
    // recompute SSE from the rounded per-row predictions vs the dx truth
    val dx = (1 until xs.length).map(t => t.toLong -> (xs(t) - xs(t - 1))).toMap
    val sseFromRows = preds.map { case (t, p) => val r = dx(t) - p; r * r }.sum
    val sse = graft.tsa.TimeSeries.arimaInsample(df).head().getDouble(2)
    assert(abs(sseFromRows - sse) < 0.05, s"$sseFromRows vs $sse")
  }

  test("multiplicative hw_fit picks the lattice argmin of the ratio-channel SSE") {
    import spark.implicits._
    val season = Array(1.3, 0.8, 1.1, 1.0, 0.7, 1.2, 0.9)
    val rnd = new scala.util.Random(2)
    val xs = (0 until 42).map(t => (40.0 + 0.3 * t) * season(t % 7) + 0.2 * rnd.nextGaussian())
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.hwFit(df, 7, alphas, betas, gammas,
      multiplicative = true).head()
    // independent mul-channel recursion for the brute-force check
    def sseMul(a: Double, b: Double, g: Double): Double = {
      var l = xs.take(7).sum / 7
      var tr = (xs.slice(7, 14).sum / 7 - l) / 7
      val seas = scala.collection.mutable.ArrayBuffer(xs.take(7).map(_ / l): _*)
      var sse = 0.0
      for (t <- 7 until xs.length) {
        val s0 = seas.remove(0)
        val err = xs(t) - (l + tr) * s0
        sse += err * err
        val lp = l
        l = a * (xs(t) / s0) + (1 - a) * (l + tr)
        tr = b * (l - lp) + (1 - b) * tr
        seas += g * (xs(t) / l) + (1 - g) * s0
      }
      sse
    }
    val best = (for (a <- alphas; b <- betas; g <- gammas)
      yield ((a, b, g), sseMul(a, b, g))).minBy(_._2)
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) == best._1)
    assert(abs(r.getDouble(4) - best._2) < 1e-3)
  }

  test("ARMA(1,1) exact loglik: closed forms at phi=theta=0 and pure AR(1)") {
    import graft.tsa.TimeSeries.armaLoglikeScalar
    val rnd = new scala.util.Random(14)
    val z = (0 until 200).map(_ => rnd.nextGaussian() * 1.5)
    // white noise: F_t = 1 for all t, ll = -n/2 (ln 2pi + 1 + ln(sum z_c^2/n))
    val (s2a, lla, _) = armaLoglikeScalar(z, 0.0, 0.0)
    val mu = z.sum / z.length
    val zc = z.map(_ - mu)
    val s2Hand = zc.map(v => v * v).sum / z.length
    val llHand = -(z.length / 2.0) * (math.log(2 * math.Pi) + 1 + math.log(s2Hand))
    assert(abs(s2a - s2Hand) < 1e-12)
    assert(abs(lla - llHand) < 1e-9, s"$lla vs $llHand")
    // pure AR(1): F_1 = 1/(1-phi^2), F_t = 1 after; nu_t = z_t - phi z_{t-1}
    val phi = 0.6
    val (s2b, llb, _) = armaLoglikeScalar(z, phi, 0.0)
    val f1 = 1.0 / (1.0 - phi * phi)
    val nus = zc.head +: (1 until zc.length).map(t => zc(t) - phi * zc(t - 1))
    val sv2f = nus.head * nus.head / f1 + nus.tail.map(v => v * v).sum
    val llH = -(z.length / 2.0) * (math.log(2 * math.Pi) + 1 + math.log(sv2f / z.length)) -
      0.5 * math.log(f1)
    assert(abs(s2b - sv2f / z.length) < 1e-9)
    assert(abs(llb - llH) < 1e-9, s"$llb vs $llH")
    // an MA term must change (and here improve) the likelihood of MA data
    val e = (0 until 201).map(_ => rnd.nextGaussian())
    val ma = (1 to 200).map(t => e(t) + 0.7 * e(t - 1))
    val (_, llMa, _) = armaLoglikeScalar(ma, 0.0, 0.7)
    val (_, llWn, _) = armaLoglikeScalar(ma, 0.0, 0.0)
    assert(llMa > llWn, s"MA loglik $llMa should beat white-noise $llWn on MA data")
  }

  test("ML grid fit never scores below the CLS start point and can improve it") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    // d=1 series whose differences are MA(1): the CLS (HR) start point is
    // biased, so the exact-likelihood grid around it should improve
    val e = (0 until 121).map(_ => rnd.nextGaussian())
    var x = 100.0
    val xs = (1 to 120).map { t => x += 1.5 + e(t) + 0.6 * e(t - 1); x }
    val df = xs.zipWithIndex.map { case (v, t) => ("s", t.toLong, v) }.toDF("series", "t", "x")
    val atCls = graft.tsa.TimeSeries.arimaLoglike(df).head().getDouble(4)
    val ml = graft.tsa.TimeSeries.arimaFitML(df).head()
    assert(ml.getDouble(4) >= atCls - 1e-9,
      s"ML grid ${ml.getDouble(4)} below CLS start $atCls")
  }

  test("batched L-BFGS fit refines the lattice winner to a continuous optimum") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val e = (0 until 121).map(_ => rnd.nextGaussian())
    var x = 100.0
    val xs = (1 to 120).map { t => x += 1.5 + e(t) + 0.6 * e(t - 1); x }
    val df = xs.zipWithIndex.map { case (v, t) => ("s", t.toLong, v) }.toDF("series", "t", "x")
    val grid = graft.tsa.TimeSeries.arimaFitML(df).head().getDouble(4)
    val bfgs = graft.tsa.TimeSeries.arimaFitBFGS(df).head()
    // continuous optimization ≥ any lattice point (rounding tolerance)
    assert(bfgs.getDouble(4) >= grid - 1e-4,
      s"BFGS ${bfgs.getDouble(4)} below grid winner $grid")
    assert(math.abs(bfgs.getDouble(1)) < 0.99 && math.abs(bfgs.getDouble(2)) < 0.99)
  }

  test("continuous HW fit never loses to the lattice and tightens the SSE") {
    import spark.implicits._
    val season = Array(1.3, 0.8, 1.1, 1.0, 0.7, 1.2, 0.9)
    val rnd = new scala.util.Random(3)
    val xs = (0 until 70).map(t =>
      (40.0 + 0.5 * t) * season(t % 7) + rnd.nextGaussian() * 0.5)
    val df = xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x")
    val lattice = Seq(0.2, 0.4, 0.6, 0.8)
    val grid = graft.tsa.TimeSeries.hwFit(df, 7, lattice, Seq(0.1, 0.3), Seq(0.1, 0.3, 0.5))
      .head().getDouble(4)
    val opt = graft.tsa.TimeSeries.hwFitOpt(df, 7, lattice, Seq(0.1, 0.3), Seq(0.1, 0.3, 0.5))
      .head()
    assert(opt.getDouble(4) <= grid + 1e-4,
      s"opt SSE ${opt.getDouble(4)} above lattice $grid")
    // the sigmoid keeps raw params strictly inside (0,1); the 4-decimal
    // display can saturate to 0/1 when the optimum sits at a boundary
    Seq(1, 2, 3).foreach { i =>
      val p = opt.getDouble(i)
      assert(p >= 0.0 && p <= 1.0, s"param $i out of [0,1]: $p")
    }
  }

  test("batched L-BFGS recovers a planted MA(1) coefficient on differences") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val e = (0 until 601).map(_ => rnd.nextGaussian())
    var x = 50.0
    val xs = (1 to 600).map { t => x += e(t) + 0.5 * e(t - 1); x }
    val df = xs.zipWithIndex.map { case (v, t) => ("s", t.toLong, v) }.toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.arimaFitBFGS(df).head()
    val (phi, theta) = (r.getDouble(1), r.getDouble(2))
    // dx = e_t + 0.5 e_{t-1}: pure MA(1) — φ should be small, θ near 0.5
    assert(math.abs(theta - 0.5) < 0.2, s"theta $theta")
    assert(math.abs(phi) < 0.3, s"phi $phi")
  }

  test("matrix Kalman reproduces the unrolled CV filter at F=[[1,1],[0,1]]") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    var lvl = 10.0
    val xs = (0 until 60).map { t => lvl += 0.3 + rnd.nextGaussian(); ("s", t.toLong, lvl) }
    val df = xs.toDF("series", "t", "x")
    val cv = graft.tsa.TimeSeries.kalmanCV(df, 0.05, 0.01, 2.0).head()
    val mat = graft.tsa.TimeSeries.kalmanMat(df,
      f = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0)), hRow = Seq(1.0, 0.0),
      qDiag = Seq(0.05, 0.01), r = 2.0).head()
    // same recursion up to FP association: outputs agree at the rounding grid
    assert(cv.getDouble(2) == mat.getDouble(2), "level")          // r4
    assert(cv.getDouble(3) == mat.getSeq[Double](3)(1), "trend")  // r4
    assert(abs(cv.getDouble(4) - mat.getDouble(4)) < 1e-5, "p00")
    assert(abs(cv.getDouble(5) - mat.getDouble(5)) < 1e-3, "innovation energy")
  }

  test("3-state constant-acceleration Kalman locks onto a quadratic path") {
    import spark.implicits._
    // z_t = 5 + 0.5 t + 0.1 t^2 — a constant-acceleration trajectory: the
    // CA filter's acceleration state must converge to x2 = 2*0.1 = 0.2
    val xs = (0 until 80).map(t => ("s", t.toLong, 5.0 + 0.5 * t + 0.1 * t * t))
    val df = xs.toDF("series", "t", "x")
    val r = graft.tsa.TimeSeries.kalmanMat(df,
      f = Seq(Seq(1.0, 1.0, 0.5), Seq(0.0, 1.0, 1.0), Seq(0.0, 0.0, 1.0)),
      hRow = Seq(1.0, 0.0, 0.0), qDiag = Seq(0.02, 0.01, 0.005), r = 0.5).head()
    val state = r.getSeq[Double](3)
    val t = 79.0
    assert(abs(r.getDouble(2) - (5.0 + 0.5 * t + 0.1 * t * t)) < 1.0, s"level ${r.getDouble(2)}")
    assert(abs(state(2) - 0.2) < 0.05, s"acceleration ${state(2)}")
  }

  test("vector-observation Kalman: dim_z=1 equals the scalar-obs filter") {
    import spark.implicits._
    val rnd = new scala.util.Random(33)
    var lvl = 20.0
    val pts = (0 until 50).map { t => lvl += 0.4 + rnd.nextGaussian(); ("s", t.toLong, lvl) }
    val dfScalar = pts.toDF("series", "t", "x")
    val dfVec = pts.map { case (s, t, x) => (s, t, Seq(x)) }.toDF("series", "t", "z")
    val a = graft.tsa.TimeSeries.kalmanMat(dfScalar,
      f = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0)), hRow = Seq(1.0, 0.0),
      qDiag = Seq(0.05, 0.01), r = 2.0).head()
    val b = graft.tsa.TimeSeries.kalmanMatVec(dfVec,
      f = Seq(Seq(1.0, 1.0), Seq(0.0, 1.0)), h = Seq(Seq(1.0, 0.0)),
      qDiag = Seq(0.05, 0.01), rDiag = Seq(2.0)).head()
    assert(a.getSeq[Double](3) == b.getSeq[Double](2), "state")
    assert(a.getDouble(4) == b.getDouble(3), "p00")
    assert(a.getDouble(5) == b.getDouble(4), "innovation energy")
  }

  test("a second sensor tightens the posterior variance") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val pts = (0 until 80).map { t =>
      ("s", t.toLong, 50.0 + rnd.nextGaussian() * 1.5, 50.0 + rnd.nextGaussian() * 1.5)
    }
    val one = graft.tsa.TimeSeries.kalmanMatVec(
      pts.map(p => (p._1, p._2, Seq(p._3))).toDF("series", "t", "z"),
      f = Seq(Seq(1.0)), h = Seq(Seq(1.0)), qDiag = Seq(0.01), rDiag = Seq(2.0)).head()
    val two = graft.tsa.TimeSeries.kalmanMatVec(
      pts.map(p => (p._1, p._2, Seq(p._3, p._4))).toDF("series", "t", "z"),
      f = Seq(Seq(1.0)), h = Seq(Seq(1.0), Seq(1.0)),
      qDiag = Seq(0.01), rDiag = Seq(2.0, 2.0)).head()
    assert(two.getDouble(3) < one.getDouble(3),
      s"two-sensor p00 ${two.getDouble(3)} should beat ${one.getDouble(3)}")
    val lvl2 = two.getSeq[Double](2).head
    assert(abs(lvl2 - 50.0) < 1.0, s"level $lvl2")
  }

  test("singular fits yield null coefficients, not garbage") {
    import spark.implicits._
    val df = (0 until 30).map(t => ("c", t.toLong, 7.0)).toDF("series", "t", "x")
    val cramer = graft.tsa.TimeSeries.arFit2(df).collect()
    assert(cramer.nonEmpty && cramer.forall(_.isNullAt(2)),
      "constant series must produce null Cramer coefs")
    val wide = graft.tsa.TimeSeries.arFitWide(df, 3).head()
    assert(wide.isNullAt(1), "constant series must produce null AR(p) coefs")
  }
}
