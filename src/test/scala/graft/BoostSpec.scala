package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fitted tree/boosting wave: driver-side brute-force cross-checks on
  * sf0.001 plus the boosting invariants (weak-learner edge, monotone
  * training loss). */
class BoostSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("stump_fit rank-1 split matches a brute-force exhaustive search") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount"), col("l_tax"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val n = rows.length.toDouble
    def gini(cnt: Double, pos: Double): Double =
      1.0 - math.pow(pos / cnt, 2) - math.pow((cnt - pos) / cnt, 2)
    val cands = for {
      (f, get) <- Seq[(String, ((Double, Double, Double, Double)) => Double)](
        ("l_quantity", _._1), ("l_discount", _._2), ("l_tax", _._3))
      v <- rows.map(get).distinct.sorted
      left = rows.filter(get(_) <= v)
      if left.length < rows.length
    } yield {
      val nle = left.length.toDouble; val ple = left.map(_._4).sum
      val ngt = n - nle; val pgt = rows.map(_._4).sum - ple
      val g = BigDecimal((nle * gini(nle, ple) + ngt * gini(ngt, pgt)) / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (g, f, v)
    }
    val best = cands.minBy(c => (c._1, c._2, c._3))
    val got = SparkEntry.queries("stump_fit")(spark, sf).orderBy("rank").head()
    assert(got.getString(got.fieldIndex("feature")) == best._2)
    assert(math.abs(got.getDouble(got.fieldIndex("threshold")) - best._3) < 1e-9)
    assert(math.abs(got.getDouble(got.fieldIndex("gini")) - best._1) < 1e-9)
  }

  test("gbt_stumps: training MSE decreases monotonically and beats the constant model") {
    val rows = SparkEntry.queries("gbt_stumps")(spark, sf).orderBy("round").collect()
    assert(rows.length == 4)
    val mses = rows.map(_.getDouble(rows.head.fieldIndex("mse")))
    assert(mses.zip(mses.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"MSE not monotone: ${mses.toSeq}")
    val y = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice") / 100000.0).collect().map(_.getDouble(0))
    val mean = y.sum / y.length
    val varY = y.map(v => (v - mean) * (v - mean)).sum / y.length
    assert(mses.last < varY, s"final MSE ${mses.last} not below baseline variance $varY")
  }

  test("adaboost_stumps: every round's weak learner beats chance; alphas positive") {
    val rows = SparkEntry.queries("adaboost_stumps")(spark, sf).orderBy("round").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val eps = r.getDouble(r.fieldIndex("eps"))
      assert(eps > 0 && eps < 0.5, s"round ${r.getLong(0)} eps $eps")
      assert(r.getDouble(r.fieldIndex("alpha")) > 0)
    }
    val errs = rows.map(_.getDouble(rows.head.fieldIndex("ens_err")))
    // the 5-round ensemble should not be worse than the single stump
    assert(errs.last <= errs.head + 1e-9, s"ens err ${errs.toSeq}")
  }

  test("isotonic_fit matches a driver-side PAV (pool-adjacent-violators) run") {
    val rows = SparkEntry.queries("isotonic_fit")(spark, sf).orderBy("value").collect()
    val iso = rows.map(_.getDouble(rows.head.fieldIndex("iso_y")))
    assert(iso.zip(iso.tail).forall { case (a, b) => b >= a - 1e-9 }, "not monotone")
    // PAV over the same distinct-value frame
    case class Block(var n: Double, var s: Double)
    val blocks = scala.collection.mutable.ArrayBuffer[Block]()
    val counts = scala.collection.mutable.ArrayBuffer[Int]()
    rows.foreach { r =>
      blocks += Block(r.getLong(r.fieldIndex("n")).toDouble,
        r.getDouble(r.fieldIndex("mean_y")) * r.getLong(r.fieldIndex("n")))
      counts += 1
      while (blocks.length > 1 &&
        blocks(blocks.length - 2).s / blocks(blocks.length - 2).n >=
          blocks.last.s / blocks.last.n + 1e-12) {
        val last = blocks.remove(blocks.length - 1)
        blocks.last.n += last.n; blocks.last.s += last.s
        counts(counts.length - 2) += counts.remove(counts.length - 1)
      }
    }
    val pav = blocks.zip(counts).flatMap { case (b, c) => Seq.fill(c)(b.s / b.n) }
    iso.zip(pav).zipWithIndex.foreach { case ((a, b), k) =>
      // mean_y was rounded to 6 dp before the driver PAV, so allow that grid
      assert(math.abs(a - b) < 1e-4, s"row $k: max-min $a vs PAV $b")
    }
  }

  test("partial_dependence: values bounded by the fitted model's leaf range and non-constant") {
    val li = graft.core.Tables.lineitem(spark, sf)
    val (f0, model) = graft.ensemble.Boosting.fitGBT(li,
      Seq("l_quantity", "l_discount", "l_tax"), col("l_extendedprice") / 100000.0,
      rounds = 4, lr = 0.5)
    val lo = f0 + model.map(st => 0.5 * math.min(st.leftVal, st.rightVal)).sum
    val hi = f0 + model.map(st => 0.5 * math.max(st.leftVal, st.rightVal)).sum
    val rows = SparkEntry.queries("partial_dependence")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val p = r.getDouble(r.fieldIndex("pdp"))
      assert(p >= lo - 1e-6 && p <= hi + 1e-6, s"pdp $p outside [$lo, $hi]")
    }
    // the grid only separates quantity stumps whose threshold falls inside it
    if (model.exists(st => st.feature == "l_quantity" && st.thr >= 5.0 && st.thr < 45.0))
      assert(rows.map(_.getDouble(rows.head.fieldIndex("pdp"))).distinct.length > 1)
  }

  test("als_recommend: factorization beats the constant-mean predictor on train RMSE") {
    // the query's hash gate carries the deterministic rating-matrix
    // summary plus the ≤-invariant; the CONTINUOUS RMSE value stays
    // gated here by refitting the same seeded solve and recomputing it
    val got = SparkEntry.queries("als_recommend")(spark, sf).head()
    val ratings = graft.core.Tables.lineitem(spark, sf)
      .join(graft.core.Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
      .agg(sum(col("l_quantity")).cast("float").as("rating"))
    val rs = ratings.select(col("rating").cast("double")).collect().map(_.getDouble(0))
    val mean = rs.sum / rs.length
    val sd = math.sqrt(rs.map(r => (r - mean) * (r - mean)).sum / rs.length)
    assert(got.getLong(got.fieldIndex("n_ratings")) == rs.length)
    assert(math.abs(got.getDouble(got.fieldIndex("sum_rating")) - rs.sum) < 1e-6 * rs.sum)
    assert(got.getBoolean(got.fieldIndex("als_beats_mean")))
    val als = new org.apache.spark.ml.recommendation.ALS()
      .setRank(8).setMaxIter(5).setRegParam(0.1).setSeed(42L)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
    val pred = als.fit(ratings).transform(ratings)
    val rmse = pred.agg(sqrt(avg(pow(col("rating") - col("prediction"), 2))))
      .head().getDouble(0)
    assert(rmse.isFinite && rmse < sd, s"ALS RMSE $rmse vs baseline sd $sd")
  }

  test("feature_select MI matches a driver-side recomputation per feature") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount"), col("l_tax"), col("l_returnflag"))
      .collect()
    val feats = Seq[(String, org.apache.spark.sql.Row => Long)](
      ("l_quantity", r => math.floor(r.getDouble(0) / 10).toLong),
      ("l_discount", r => math.round(r.getDouble(1) * 100)),
      ("l_tax", r => math.round(r.getDouble(2) * 100)))
    val got = SparkEntry.queries("feature_select")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    feats.foreach { case (f, bin) =>
      val pairs = rows.map(r => (bin(r), r.getString(3)))
      val n = pairs.length.toDouble
      val joint = pairs.groupBy(identity).view.mapValues(_.length.toDouble)
      val byB = pairs.groupBy(_._1).view.mapValues(_.length.toDouble)
      val byL = pairs.groupBy(_._2).view.mapValues(_.length.toDouble)
      val mi = joint.map { case ((b, l), c) =>
        c / n * math.log(c * n / (byB(b) * byL(l)))
      }.sum
      val r = got(f)
      assert(r.getLong(r.fieldIndex("n_bins")) == byB.size)
      assert(math.abs(r.getDouble(r.fieldIndex("mi")) - mi) < 1e-5, s"$f MI")
      assert(r.getDouble(r.fieldIndex("chi2")) >= 0)
    }
    assert(got.values.map(_.getLong(got.head._2.fieldIndex("mi_rank"))).toSet == Set(1L, 2L, 3L))
  }
}
