package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 late-wave operators (modularity, hbos_outlier,
  * conformal_interval, bloom_join, bpe_train, mmr_diversify),
  * cross-checked against driver-side recomputation on sf0.001. */
class Round12WaveSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("modularity: CC partition makes every edge internal; Q = sum of terms, bounded") {
    val rows = SparkEntry.queries("modularity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val m = rows.map(_.getLong(rows.head.fieldIndex("internal_edges"))).sum
    // CC labels: degree mass telescopes — sum of degree_sum = 2m exactly
    assert(rows.map(_.getLong(rows.head.fieldIndex("degree_sum"))).sum == 2 * m)
    val q = rows.head.getDouble(rows.head.fieldIndex("modularity"))
    assert(math.abs(rows.map(_.getDouble(rows.head.fieldIndex("q_term"))).sum - q) < 1e-4)
    assert(q >= -0.5 && q <= 1.0)
    assert(rows.head.getLong(rows.head.fieldIndex("n_communities")) == rows.length)
  }

  test("hbos_outlier: per-feature masses partition the corpus, terms are -ln p") {
    val rows = SparkEntry.queries("hbos_outlier")(spark, sf).collect()
    val n = rows.head.getLong(rows.head.fieldIndex("n_rows"))
    assert(n == Tables.lineitem(spark, sf).count())
    rows.groupBy(_.getString(0)).foreach { case (_, fr) =>
      assert(fr.map(_.getLong(fr.head.fieldIndex("n"))).sum == n)
      assert(math.abs(fr.map(_.getDouble(fr.head.fieldIndex("p"))).sum - 1.0) < 1e-3)
    }
    rows.foreach { r =>
      val bin = r.getLong(r.fieldIndex("bin"))
      assert(bin >= 0 && bin <= 9)
      assert(math.abs(r.getDouble(r.fieldIndex("score_term")) -
        -math.log(r.getDouble(r.fieldIndex("p")))) < 1e-4)
    }
    val out = rows.head.getLong(rows.head.fieldIndex("n_outliers"))
    assert(out >= 0 && out <= n)
  }

  test("conformal_interval: split partitions rows, q-hat covers at the guaranteed level") {
    val r = SparkEntry.queries("conformal_interval")(spark, sf).head()
    val total = Tables.lineitem(spark, sf).count()
    val (ntr, nc, nt) = (r.getLong(r.fieldIndex("n_train")),
      r.getLong(r.fieldIndex("n_calib")), r.getLong(r.fieldIndex("n_test")))
    assert(ntr + nc + nt == total)
    // md5 split: train ~60%, calib ~20%, test ~20%
    assert(math.abs(ntr.toDouble / total - 0.6) < 0.05)
    assert(r.getDouble(r.fieldIndex("interval_width")) ===
      r.getDouble(r.fieldIndex("qhat")) * 2)
    val cov = r.getDouble(r.fieldIndex("coverage"))
    assert(cov >= 0.0 && cov <= 1.0)
    // the distribution-free guarantee (±5% finite-sample slack, gated)
    assert(r.getBoolean(r.fieldIndex("coverage_floor")))
    assert(cov >= 0.85)
  }

  test("bloom_join: no false negatives - true matches equal the exact semi-join") {
    val r = SparkEntry.queries("bloom_join")(spark, sf).head()
    val hiKeys = Tables.orders(spark, sf).filter(col("o_totalprice") > 150000)
      .select(col("o_orderkey")).distinct()
    val exact = Tables.lineitem(spark, sf)
      .join(hiKeys, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(r.getLong(r.fieldIndex("n_true_match")) == exact)
    assert(r.getLong(r.fieldIndex("n_build_keys")) == hiKeys.count())
    val pass = r.getLong(r.fieldIndex("n_pass_bloom"))
    assert(pass >= exact) // Bloom never drops a true match
    assert(r.getLong(r.fieldIndex("n_false_pos")) == pass - exact)
    val fp = r.getDouble(r.fieldIndex("fp_rate"))
    assert(fp >= 0.0 && fp < 0.05) // 2^18 slots, k=3, small key set
  }

  test("bpe_train: round-1 argmax matches a driver recount; counts never increase") {
    val rows = SparkEntry.queries("bpe_train")(spark, sf)
      .orderBy("round").collect()
    assert(rows.length == 6)
    // merging the global max pair can only create pairs bounded by it
    val counts = rows.map(_.getLong(rows.head.fieldIndex("pair_count")))
    counts.sliding(2).foreach { w => assert(w(0) >= w(1)) }
    rows.foreach { r =>
      assert(r.getString(r.fieldIndex("merged")) ==
        r.getString(r.fieldIndex("left")) + r.getString(r.fieldIndex("right")))
    }
    // independent round-1 recount from the raw corpus
    val words = Tables.documents(spark, sf).select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.trim.split("\\s+"))
      .filter(_.matches("^[a-z]{2,20}$"))
      .groupBy(identity).map { case (w, g) => (w + "_", g.length.toLong) }
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    words.foreach { case (w, c) =>
      val syms = w.dropRight(1).map(_.toString) :+ "_"
      syms.sliding(2).foreach { p =>
        if (p.length == 2) {
          val k = (p(0), p(1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
        }
      }
    }
    val best = pairCounts.toSeq.sortBy { case ((l, rr), c) => (-c, l, rr) }.head
    val r1 = rows.head
    assert(r1.getString(r1.fieldIndex("left")) == best._1._1)
    assert(r1.getString(r1.fieldIndex("right")) == best._1._2)
    assert(r1.getLong(r1.fieldIndex("pair_count")) == best._2)
  }

  test("mmr_diversify: rank 1 is pure max relevance; later picks trade rel for diversity") {
    val rows = SparkEntry.queries("mmr_diversify")(spark, sf)
      .orderBy("rank").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(rows.head.fieldIndex("id"))).distinct.length == 5)
    val r1 = rows.head
    assert(r1.getLong(r1.fieldIndex("rank")) == 1L)
    assert(r1.getDouble(r1.fieldIndex("mmr_score")) ===
      r1.getDouble(r1.fieldIndex("rel")))
    // rank 1 has the global max relevance of the pool
    assert(rows.forall(_.getDouble(rows.head.fieldIndex("rel")) <=
      r1.getDouble(r1.fieldIndex("rel")) + 1e-9))
    // the lambda tradeoff can only lower a score below pure relevance
    rows.tail.foreach { r =>
      assert(r.getDouble(r.fieldIndex("mmr_score")) <=
        r.getDouble(r.fieldIndex("rel")) + 1e-9)
    }
  }
}
