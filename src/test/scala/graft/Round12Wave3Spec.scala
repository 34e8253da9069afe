package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 third late wave (count_min, ips_estimator, dp_count). */
class Round12Wave3Spec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("count_min: one-sided error - estimates never undershoot, exact counts match") {
    val rows = SparkEntry.queries("count_min")(spark, sf).orderBy("rank").collect()
    assert(rows.length == 10)
    val direct = Tables.documents(spark, sf)
      .select(explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").count().orderBy(col("count").desc, col("tok")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows.zip(direct).foreach { case (r, (tok, c)) =>
      assert(r.getString(r.fieldIndex("term")) == tok)
      assert(r.getLong(r.fieldIndex("exact")) == c)
      assert(r.getBoolean(r.fieldIndex("never_under")))
      assert(r.getLong(r.fieldIndex("overestimate")) ==
        r.getLong(r.fieldIndex("est")) - c)
    }
  }

  test("ips_estimator: SNIPS of a constant reward is exactly 1") {
    val flat = graft.stats.OffPolicy.ipsSnips(Tables.events(spark, sf),
      col("event_type"), lit(1.0), "purchase", 0.6).head()
    assert(flat.getDouble(flat.fieldIndex("snips")) === 1.0)
    val r = SparkEntry.queries("ips_estimator")(spark, sf).head()
    val n = r.getLong(r.fieldIndex("n"))
    assert(n == Tables.events(spark, sf).count())
    assert(r.getLong(r.fieldIndex("n_actions")) == 5L)
    val ess = r.getDouble(r.fieldIndex("ess"))
    assert(ess >= 1.0 && ess <= n.toDouble)
    val snips = r.getDouble(r.fieldIndex("snips"))
    assert(snips >= 0.0 && snips <= 1.0) // weighted mean of 0/1 rewards
    assert(r.getDouble(r.fieldIndex("ips")) >= 0.0)
    assert(r.getDouble(r.fieldIndex("max_w")) > 0.0)
  }

  test("dp_count: deterministic replay, true counts exact, noise inside the 1e-9 tail") {
    val a = SparkEntry.queries("dp_count")(spark, sf).collect()
    val b = SparkEntry.queries("dp_count")(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq) // mechanism replays
    val exact = Tables.events(spark, sf).groupBy(col("event_type")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(a.length == exact.size)
    a.foreach { r =>
      assert(r.getLong(r.fieldIndex("n")) == exact(r.getString(0)))
      assert(r.getLong(r.fieldIndex("n_noisy")) ==
        r.getLong(r.fieldIndex("n")) + r.getLong(r.fieldIndex("noise")))
      assert(math.abs(r.getLong(r.fieldIndex("noise"))) <= 41)
      assert(r.getBoolean(r.fieldIndex("within_budget")))
    }
    // the noise is not identically zero across keys (the mechanism fired)
    assert(a.exists(_.getLong(a.head.fieldIndex("noise")) != 0L))
  }
}
