package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 session-4 analytics wave, cross-checked against driver-side
  * recomputation on sf0.001 (tiny enough to collect). */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("prop_ztest matches a driver-side recomputation of the pooled z") {
    val rows = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1.0)
        .otherwise(0.0)).as("conv"))
      .withColumn("a", graft.core.Num.md5Long(
        concat(col("user_id").cast("string"), lit("_pz_11"))) % 1000 < 500)
      .collect().map(r => (r.getDouble(1), r.getBoolean(2)))
    val (a, b) = rows.partition(_._2)
    val (na, ca) = (a.length.toDouble, a.map(_._1).sum)
    val (nb, cb) = (b.length.toDouble, b.map(_._1).sum)
    val pp = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) / math.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    val got = SparkEntry.queries("prop_ztest")(spark, sf).head()
    assert(got.getLong(got.fieldIndex("n_a")) == na.toLong)
    assert(got.getLong(got.fieldIndex("conv_b")) == cb.toLong)
    assert(math.abs(got.getDouble(got.fieldIndex("z")) - z) < 1e-3)
  }

  test("louvain moveRounds finds the two planted communities of a barbell graph") {
    import spark.implicits._
    // two triangles {0,1,2} and {10,11,12} joined by one bridge edge:
    // ground-truth partition has Q = 2·(3/7 − (7/14)²) = 0.357143
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (2L, 10L)).toDF("p1", "p2")
    val rows = graft.graph.Louvain.moveRounds(edges, "p1", "p2", nRounds = 6)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 6)
    assert(rows.forall(_.getLong(4) == 6L), "every round keeps all 6 nodes")
    val finalRow = rows.last
    assert(finalRow.getLong(2) == 2L,
      s"final n_communities ${finalRow.getLong(2)} — expected the 2 triangles")
    assert(math.abs(finalRow.getDouble(3) - 0.357143) < 1e-4,
      s"final modularity ${finalRow.getDouble(3)}")
    // converged: the last round moves nothing and repeats the checksum
    assert(finalRow.getLong(1) == 0L, s"round-6 n_moved ${finalRow.getLong(1)}")
    assert(finalRow.getLong(5) == rows(4).getLong(5),
      "converged partition checksum must repeat")
  }

  test("benford: digits 1-9 partition the corpus, shares sum to 1, expected is Benford") {
    val rows = SparkEntry.queries("benford")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((1L to 9L).toSet))
    val nTotal = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nTotal)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    rows.foreach { r =>
      val d = r.getLong(0).toDouble
      assert(math.abs(r.getDouble(3) - math.log10(1 + 1 / d)) < 1e-5)
      assert(r.getDouble(4) >= 0.0) // chi2 term
    }
  }

  test("nelson_aalen: hazard increments are d/n, cumulative, survival = exp(-H)") {
    val rows = SparkEntry.queries("nelson_aalen")(spark, sf)
      .orderBy("duration").collect()
    var h = 0.0
    rows.foreach { r =>
      h += r.getLong(r.fieldIndex("n_events")).toDouble / r.getLong(r.fieldIndex("n_risk"))
      assert(math.abs(r.getDouble(r.fieldIndex("cum_hazard")) - h) < 1e-4)
      assert(math.abs(r.getDouble(r.fieldIndex("survival_na")) - math.exp(-h)) < 1e-4)
    }
    // at-risk counts telescope: first row's risk = total users
    assert(rows.head.getLong(rows.head.fieldIndex("n_risk")) ==
      Tables.events(spark, sf).select(col("user_id")).distinct().count())
  }

  test("fdr_bh: rejections are exactly the BH step-up prefix of the p-ranking") {
    val rows = SparkEntry.queries("fdr_bh")(spark, sf).collect()
    val m = rows.length.toDouble
    val byRank = rows.sortBy(_.getLong(rows.head.fieldIndex("rank")))
    val ps = byRank.map(_.getDouble(rows.head.fieldIndex("p_value")))
    assert(ps.forall(p => p >= 0 && p <= 1))
    assert(ps.sameElements(ps.sorted)) // rank order == p order
    val kmax = (1 to ps.length).filter(k => ps(k - 1) <= k * 0.05 / m)
      .lastOption.getOrElse(0)
    byRank.zipWithIndex.foreach { case (r, i) =>
      assert(r.getBoolean(r.fieldIndex("reject")) == (i + 1 <= kmax))
    }
  }

  test("imputer matches a driver-side mean/median recomputation on the planted split") {
    val vals = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_discount"),
        graft.core.Num.md5Long(concat(
          concat_ws("_", col("l_orderkey"), col("l_linenumber")), lit("_imp_3"))) % 100 < 7)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    val obs = vals.filter(!_._3).map(_._2)
    val mu = obs.sum / obs.length
    // lower weighted median via the query's cumulative-fraction rule:
    // smallest distinct value whose cumulative share reaches 0.5
    val med = {
      val grouped = obs.groupBy(identity).view.mapValues(_.length.toDouble).toSeq.sortBy(_._1)
      val total = obs.length.toDouble
      grouped.scanLeft((0.0, 0.0)) { case ((cum, _), (v, c)) => (cum + c, v) }
        .drop(1).find(_._1 / total >= 0.5).get._2
    }
    val got = SparkEntry.queries("imputer")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    vals.groupBy(_._1).foreach { case (flag, rows) =>
      val r = got(flag)
      assert(r.getLong(r.fieldIndex("n")) == rows.length)
      assert(r.getLong(r.fieldIndex("n_missing")) == rows.count(_._3))
      val meanImp = rows.map(v => if (v._3) mu else v._2).sum / rows.length
      val medImp = rows.map(v => if (v._3) med else v._2).sum / rows.length
      assert(math.abs(r.getDouble(r.fieldIndex("mean_imputed")) - meanImp) < 1e-5)
      assert(math.abs(r.getDouble(r.fieldIndex("median_imputed")) - medImp) < 1e-5)
    }
  }

  test("quantile_reg: p90 line sits above the median line; pinball coverage sane") {
    val rows = SparkEntry.queries("quantile_reg")(spark, sf).orderBy("tau").collect()
    assert(rows.length == 2)
    val med = rows(0); val p90 = rows(1)
    assert(med.getDouble(med.fieldIndex("tau")) == 0.5)
    // compare fitted values at the mean quantity: the 0.9 line must be above
    val data = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_extendedprice") / 1000.0).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val xbar = data.map(_._1).sum / data.length
    def fitted(r: org.apache.spark.sql.Row, x: Double) =
      r.getDouble(r.fieldIndex("b0")) + r.getDouble(r.fieldIndex("b1")) * x
    assert(fitted(p90, xbar) > fitted(med, xbar))
    // coverage: ~50% of points under the median line, ~90% under the p90 line
    val underMed = data.count { case (x, y) => y <= fitted(med, x) }.toDouble / data.length
    val underP90 = data.count { case (x, y) => y <= fitted(p90, x) }.toDouble / data.length
    assert(underMed > 0.35 && underMed < 0.65, s"median coverage $underMed")
    assert(underP90 > 0.85 && underP90 <= 1.0, s"p90 coverage $underP90")
    rows.foreach(r => assert(r.getDouble(r.fieldIndex("pinball")) > 0))
  }

  test("describe_table matches driver-side column profiles") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount")).collect()
    val q = rows.map(_.getDouble(0))
    val got = SparkEntry.queries("describe_table")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val rq = got("l_quantity")
    assert(rq.getLong(rq.fieldIndex("n")) == q.length)
    assert(rq.getLong(rq.fieldIndex("n_distinct")) == q.distinct.length)
    assert(rq.getDouble(rq.fieldIndex("min")) == q.min)
    assert(rq.getDouble(rq.fieldIndex("max")) == q.max)
    assert(math.abs(rq.getDouble(rq.fieldIndex("mean")) - q.sum / q.length) < 1e-3)
    assert(got.size == 4)
  }

  test("pivot_table cells equal the groupBy sums they pivot") {
    val want = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val got = SparkEntry.queries("pivot_table")(spark, sf).collect()
    got.foreach { r =>
      val p = r.getString(0)
      Seq(("F", "rev_f"), ("O", "rev_o"), ("P", "rev_p")).foreach { case (st, c) =>
        val cell = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
        assert(cell == want.get((p, st)).map(v =>
          BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble),
          s"cell ($p, $st)")
      }
    }
  }

  test("kcore matches a driver-side peel; node/edge counts non-increasing") {
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val co = scala.collection.mutable.Map[(Long, Long), Int]()
    pairs.groupBy(_._1).values.foreach { es =>
      val ps = es.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        co((ps(i), ps(j))) = co.getOrElse((ps(i), ps(j)), 0) + 1
    }
    var edges = co.filter(_._2 >= 2).keys.toSet
    val trace = (1 to 4).map { _ =>
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 3).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      (keep.size.toLong, edges.size.toLong)
    }
    val got = SparkEntry.queries("kcore")(spark, sf).orderBy("round").collect()
      .map(r => (r.getLong(r.fieldIndex("n_nodes")), r.getLong(r.fieldIndex("n_edges"))))
    assert(got.toSeq == trace)
    assert(got.map(_._1).zip(got.map(_._1).tail).forall { case (a, b) => b <= a })
  }

  test("learning_curve: coefficients match a driver OLS on the 75% train split") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount"), col("l_extendedprice"),
        graft.core.Num.md5Long(concat(
          concat_ws("_", col("l_orderkey"), col("l_linenumber")), lit("_lc_5"))) % 1000)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val tr = rows.filter(_._4 < 750)
    val n = tr.length.toDouble
    val (s1, s2, sy) = (tr.map(_._1).sum, tr.map(_._2).sum, tr.map(_._3).sum)
    val a = tr.map(t => t._1 * t._1).sum - s1 * s1 / n
    val b = tr.map(t => t._1 * t._2).sum - s1 * s2 / n
    val c = tr.map(t => t._2 * t._2).sum - s2 * s2 / n
    val r1 = tr.map(t => t._1 * t._3).sum - s1 * sy / n
    val r2 = tr.map(t => t._2 * t._3).sum - s2 * sy / n
    val w1 = (r1 * c - b * r2) / (a * c - b * b)
    val w2 = (a * r2 - b * r1) / (a * c - b * b)
    val got = SparkEntry.queries("learning_curve")(spark, sf)
      .filter(col("train_permille") === 750).head()
    assert(got.getLong(got.fieldIndex("n_train")) == tr.length)
    assert(math.abs(got.getDouble(got.fieldIndex("w_quantity")) - w1) < 1e-3)
    assert(math.abs(got.getDouble(got.fieldIndex("w_discount")) - w2) < 1e-3)
    val mses = SparkEntry.queries("learning_curve")(spark, sf)
      .orderBy("train_permille").collect()
      .map(_.getDouble(got.fieldIndex("holdout_mse")))
    assert(mses.forall(_ > 0))
  }

  test("mcnemar_test matches a driver-side paired-discordance recomputation") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount"), col("l_tax"), col("l_returnflag"))
      .collect()
    var (b, c) = (0.0, 0.0)
    rows.foreach { r =>
      val y = r.getString(3) == "R"
      val pa = -0.1 + 0.004 * r.getDouble(0) + 1.5 * r.getDouble(1) + -2.0 * r.getDouble(2) > 0
      val pb = r.getDouble(2) >= 0.04
      if (pa == y && pb != y) b += 1
      if (pa != y && pb == y) c += 1
    }
    val chi2 = math.pow(math.abs(b - c) - 1.0, 2) / (b + c)
    val got = SparkEntry.queries("mcnemar_test")(spark, sf).head()
    assert(got.getLong(got.fieldIndex("n_a_only")) == b.toLong)
    assert(got.getLong(got.fieldIndex("n_b_only")) == c.toLong)
    assert(math.abs(got.getDouble(got.fieldIndex("chi2")) - chi2) < 1e-3)
  }

  test("frequent_itemsets matches a brute-force triple enumeration") {
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val triples = scala.collection.mutable.Map[(Long, Long, Long), Long]()
    pairs.groupBy(_._1).values.foreach { es =>
      val ps = es.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length; k <- (j + 1) until ps.length)
        triples((ps(i), ps(j), ps(k))) = triples.getOrElse((ps(i), ps(j), ps(k)), 0L) + 1
    }
    val want = triples.filter(_._2 >= 2).toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(10)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    val got = SparkEntry.queries("frequent_itemsets")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want)
  }

  test("gbt_attribution: stump counts sum to rounds, unused features attribute zero") {
    val rows = SparkEntry.queries("gbt_attribution")(spark, sf).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_stumps"))).sum == 4L)
    rows.foreach { r =>
      val att = r.getDouble(r.fieldIndex("attribution"))
      assert(att >= 0.0)
      if (r.getLong(r.fieldIndex("n_stumps")) == 0) assert(att == 0.0)
      else assert(att > 0.0)
    }
  }

  test("hits matches a driver-side power iteration (3 rounds, max-normalized)") {
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("string"), col("l_partkey").cast("string"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    var hub = edges.map(_._1).distinct.map(_ -> 1.0).toMap
    var auth = Map.empty[String, Double]
    for (_ <- 1 to 3) {
      val a0 = edges.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => hub(e._1)).sum }
      val am = a0.values.max
      auth = a0.map { case (k, v) => k -> v / am }
      val h0 = edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum }
      val hm = h0.values.max
      hub = h0.map { case (k, v) => k -> v / hm }
    }
    def r6d(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wantAuth = auth.toSeq.map { case (n, s) => (r6d(s), n) }
      .sortBy { case (s, n) => (-s, n) }.take(10)
    val got = SparkEntry.queries("hits")(spark, sf)
      .filter(col("kind") === "authority").orderBy("rank").collect()
      .map(r => (r.getDouble(r.fieldIndex("score")), r.getString(r.fieldIndex("node"))))
    got.zip(wantAuth).foreach { case ((gs, gn), (ws, wn)) =>
      assert(gn == wn && math.abs(gs - ws) < 1e-5, s"got ($gn,$gs) want ($wn,$ws)")
    }
    assert(got.head._1 == 1.0) // max-normalized: the top authority scores exactly 1
  }

  test("item_item_cf matches a driver-side cosine recomputation") {
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val np = pairs.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val co = scala.collection.mutable.Map[(Long, Long), Double]()
    pairs.groupBy(_._1).values.foreach { es =>
      val ps = es.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        co((ps(i), ps(j))) = co.getOrElse((ps(i), ps(j)), 0.0) + 1
    }
    def r6d(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = co.filter(_._2 >= 2).toSeq.map { case ((a, b), n) =>
      (r6d(n / math.sqrt(np(a) * np(b))), a, b, n)
    }.sortBy { case (c, a, b, _) => (-c, a, b) }.take(15)
    val got = SparkEntry.queries("item_item_cf")(spark, sf).collect()
      .map(r => (r.getDouble(r.fieldIndex("cosine")), r.getLong(0), r.getLong(1),
        r.getLong(r.fieldIndex("n_co")).toDouble))
    assert(got.toSeq == want.toSeq)
    got.foreach { case (c, _, _, _) => assert(c > 0 && c <= 1.0 + 1e-9) }
  }

  test("boxcox_fit matches a driver-side profile-loglik lattice; one winner") {
    val xs = Tables.orders(spark, sf).select(col("o_totalprice") / 10000.0)
      .collect().map(_.getDouble(0))
    val n = xs.length.toDouble
    val slnx = xs.map(math.log).sum
    def ll(lam: Double): Double = {
      val y = if (lam == 0.0) xs.map(math.log)
              else xs.map(x => (math.pow(x, lam) - 1.0) / lam)
      val m = y.sum / n
      val v = y.map(a => a * a).sum / n - m * m
      -0.5 * n * math.log(v) + (lam - 1.0) * slnx
    }
    val rows = SparkEntry.queries("boxcox_fit")(spark, sf).orderBy("lambda").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val lam = r.getDouble(r.fieldIndex("lambda"))
      assert(math.abs(r.getDouble(r.fieldIndex("loglik")) - ll(lam)) < 1e-2, s"lambda $lam")
    }
    assert(rows.count(_.getBoolean(rows.head.fieldIndex("is_winner"))) == 1)
    val winner = rows.find(_.getBoolean(rows.head.fieldIndex("is_winner"))).get
    val best = Seq(-1.0, -0.5, 0.0, 0.5, 1.0).maxBy(ll)
    assert(winner.getDouble(winner.fieldIndex("lambda")) == best)
  }

  test("minhash_containment: containment >= jaccard, same candidate pairs as jaccard_lsh") {
    val cont = SparkEntry.queries("minhash_containment")(spark, sf).collect()
    val jacc = SparkEntry.queries("jaccard_lsh")(spark, sf).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      jacc.map(r => (r.getLong(0), r.getLong(1))).toSet)
    cont.foreach { r =>
      val c = r.getDouble(r.fieldIndex("containment"))
      val j = r.getDouble(r.fieldIndex("jaccard"))
      assert(c >= j - 1e-9, s"containment $c < jaccard $j")
      assert(c > 0 && c <= 1.0 + 1e-9)
      assert(r.getBoolean(r.fieldIndex("contained")) == (c >= 0.9))
    }
  }

  test("ndcg matches a driver-side recomputation; dcg <= idcg") {
    val rows = Tables.lineitem(spark, sf)
      .select(round(lit(-0.1) + lit(0.004) * col("l_quantity") +
        lit(1.5) * col("l_discount") + lit(-2.0) * col("l_tax"), 6).as("s"),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("id"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("rel"))
      .collect().map(r => (r.getDouble(0), r.getString(1), r.getDouble(2)))
    val ranked = rows.sortBy(r => (-r._1, r._2)).take(100)
    val np = rows.map(_._3).sum
    def disc(i: Int) = 1.0 / (math.log(i + 1.0) / math.log(2.0))
    val dcg = ranked.zipWithIndex.map { case (r, i) => r._3 * disc(i + 1) }.sum
    val idcg = (1 to math.min(100, np.toInt)).map(disc).sum
    val got = SparkEntry.queries("ndcg")(spark, sf).head()
    assert(math.abs(got.getDouble(got.fieldIndex("dcg")) - dcg) < 1e-4)
    assert(math.abs(got.getDouble(got.fieldIndex("idcg")) - idcg) < 1e-4)
    assert(got.getDouble(got.fieldIndex("dcg")) <= got.getDouble(got.fieldIndex("idcg")) + 1e-9)
    val n = got.getDouble(got.fieldIndex("ndcg"))
    assert(n > 0 && n <= 1.0 + 1e-9)
  }

  test("power_sample_size matches the closed-form driver recomputation") {
    val vals = Tables.orders(spark, sf).select(col("o_totalprice"))
      .collect().map(_.getDouble(0))
    val n = vals.length.toDouble
    val mu = vals.sum / n
    val sd = math.sqrt(vals.map(v => (v - mu) * (v - mu)).sum / (n - 1))
    val mde = mu * 0.02
    val want = math.ceil(BigDecimal(2.0 * math.pow(1.959964 + 0.841621, 2) *
      sd * sd / (mde * mde)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
    val got = SparkEntry.queries("power_sample_size")(spark, sf).head()
    assert(got.getLong(got.fieldIndex("n_per_arm")) == want)
    assert(got.getBoolean(got.fieldIndex("feasible")) == (want * 2 <= n))
  }

  test("holt_damped matches a driver-side damped recursion; forecast increments shrink") {
    val daily = graft.tsa.TimeSeries.dailySeries(Tables.events(spark, sf))
      .filter(col("series") === "click")
      .orderBy("t").select(col("x")).collect().map(_.getDouble(0))
    var l = daily(0); var b = daily(1) - daily(0)
    val (alpha, beta, phi) = (0.3, 0.1, 0.9)
    var i = 1
    while (i < daily.length) {
      val lPrev = l
      l = alpha * daily(i) + (1.0 - alpha) * (l + phi * b)
      b = beta * (l - lPrev) + (1.0 - beta) * phi * b
      i += 1
    }
    val rows = SparkEntry.queries("holt_damped")(spark, sf)
      .filter(col("series") === "click").orderBy("step").collect()
    assert(rows.length == 5)
    assert(math.abs(rows.head.getDouble(rows.head.fieldIndex("level")) - l) < 1e-3)
    val f = rows.map(_.getDouble(rows.head.fieldIndex("forecast")))
    (1 to 4).foreach { k =>
      val exp = l + phi * (1 - math.pow(phi, k + 1)) / (1 - phi) * b
      assert(math.abs(f(k) - exp) < 1e-3)
    }
    // damped: successive increments shrink geometrically
    val d1 = math.abs(f(1) - f(0)); val d4 = math.abs(f(4) - f(3))
    assert(d4 <= d1 + 1e-9)
  }

  test("theta_forecast matches a driver-side theta recomputation for one series") {
    val daily = graft.tsa.TimeSeries.dailySeries(Tables.events(spark, sf))
      .filter(col("series") === "click")
      .orderBy("t").select(col("t"), col("x")).collect()
      .map(r => (r.getLong(0).toDouble, r.getDouble(1)))
    val n = daily.length.toDouble
    val st = daily.map(_._1).sum; val sx = daily.map(_._2).sum
    val stt = daily.map(p => p._1 * p._1).sum; val stx = daily.map(p => p._1 * p._2).sum
    def r6d(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val b = r6d((n * stx - st * sx) / (n * stt - st * st))
    val a = r6d((sx - b * st) / n)
    var l = 2.0 * daily(0)._2 - (a + b * daily(0)._1)
    daily.tail.foreach { case (t, x) =>
      l = 0.3 * (2.0 * x - (a + b * t)) + 0.7 * l
    }
    val tl = daily.last._1
    val rows = SparkEntry.queries("theta_forecast")(spark, sf)
      .filter(col("series") === "click").orderBy("step").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val exp = 0.5 * (a + b * (tl + i + 1)) + 0.5 * l
      assert(math.abs(r.getDouble(r.fieldIndex("forecast")) - exp) < 1e-3,
        s"step ${i + 1}")
    }
  }

  test("triangle_count matches a brute-force recomputation of the support-2 graph") {
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = pairs.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val pairCount = scala.collection.mutable.Map[(Long, Long), Int]()
    byOrder.values.foreach { parts =>
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        pairCount((parts(i), parts(j))) = pairCount.getOrElse((parts(i), parts(j)), 0) + 1
    }
    val edges = pairCount.filter(_._2 >= 2).keySet
    val adj = edges.toSeq.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val tris = edges.toSeq.map { case (a, b) =>
      adj(a).intersect(adj(b)).count(c => c > b)
    }.sum
    val deg = adj.view.mapValues(_.size.toDouble)
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val got = SparkEntry.queries("triangle_count")(spark, sf).head()
    assert(got.getLong(got.fieldIndex("n_edges")) == edges.size)
    assert(got.getLong(got.fieldIndex("n_nodes")) == adj.size)
    assert(got.getLong(got.fieldIndex("n_triangles")) == tris)
    if (wedges > 0)
      assert(math.abs(got.getDouble(got.fieldIndex("transitivity")) - 3.0 * tris / wedges) < 1e-4)
  }
}
