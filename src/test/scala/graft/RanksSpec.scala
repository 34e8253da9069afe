package graft

import graft.core.Ranks
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed global-rank/ntile primitive must be bit-identical to
  * the single-partition window formulation it replaced (r12 scale fix:
  * robust_scale, psi, quantile_buckets, lift_table, lorenz_curve,
  * rfm_segments), and its plan must carry no data-scale SinglePartition
  * exchange. */
class RanksSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  import spark.implicits._

  private def frame(n: Int) = {
    // values with heavy ties + a unique tiebreak id, spread over several
    // input partitions so the range exchange actually has work to do
    spark.range(n.toLong).repartition(5)
      .select(col("id").as("_id"), (col("id") * 37 % 11).cast("double").as("_v"))
  }

  test("withGlobalRank is the global row_number (bijection + order parity)") {
    val df = frame(997)
    val got = Ranks.withGlobalRank(df, Seq(col("_v"), col("_id")), "rn")
      .select("_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col("_v"), col("_id"))).cast("long"))
      .select("_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("withGlobalNtile matches window ntile for n%k!=0, n%k==0 and n<k") {
    for ((n, k) <- Seq((1000, 7), (1000, 8), (5, 9), (643, 10))) {
      val df = frame(n)
      val got = Ranks.withGlobalNtile(df, Seq(col("_v"), col("_id")), k, "b")
        .select("_id", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = df.withColumn("b",
          ntile(k).over(Window.orderBy(col("_v"), col("_id"))).cast("long"))
        .select("_id", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"n=$n k=$k")
    }
  }

  test("descending sort keys rank correctly") {
    val df = frame(200)
    val got = Ranks.withGlobalRank(df, Seq(col("_v").desc, col("_id")), "rn")
      .select("_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col("_v").desc, col("_id"))).cast("long"))
      .select("_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("rank plan: range exchange reused, no SinglePartition window feed") {
    val df = frame(1000)
    val ranked = Ranks.withGlobalRank(df, Seq(col("_v"), col("_id")), "rn")
    ranked.collect() // materialize so AQE finalizes the plan
    val p = ranked.queryExecution.executedPlan.toString
    // the offsets branch and the rank branch must share ONE range
    // exchange — that shared subtree is what makes the per-partition
    // counts and the local ranks agree on partition boundaries
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"), p.take(4000))
    assert(p.contains("rangepartitioning"), p.take(4000))
    // the data side must NOT re-exchange or sort-window on the partition
    // id: the local rank is derived from monotonically_increasing_id
    // above the per-partition sort, and the ≤P-row offsets frame arrives
    // via a BROADCAST join (the only hashpartitioning(_gr_pid) allowed
    // is the tiny summary agg's partial→final exchange)
    assert(p.contains("BroadcastHashJoin [_gr_pid"), p.take(4000))
    assert(!p.contains("row_number"), p.take(4000))
  }

  test("parity holds with AQE coalescing disabled (real multi-partition ranks)") {
    // at spec scale AQE coalesces the tiny shuffle to one partition, which
    // would vacuously pass the offset-stitching logic — force the 4-way
    // range partitioning so local ranks genuinely cross partitions
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val df = frame(1000)
      val gotR = Ranks.withGlobalRank(df, Seq(col("_v"), col("_id")), "rn")
        .select("_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val wantR = df.withColumn("rn",
          row_number().over(Window.orderBy(col("_v"), col("_id"))).cast("long"))
        .select("_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(gotR == wantR)
      val gotB = Ranks.withGlobalNtile(df, Seq(col("_v"), col("_id")), 7, "b")
        .select("_id", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val wantB = df.withColumn("b",
          ntile(7).over(Window.orderBy(col("_v"), col("_id"))).cast("long"))
        .select("_id", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(gotB == wantB)
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("withGlobalCumSums equals the unpartitioned running-sum window") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false") // force real multi-partition carry
    try {
      // distinct-value frame shape: one row per value, two count columns
      val g = frame(3000).groupBy("_v")
        .agg(count(lit(1)).cast("double").as("_ca"),
          sum(col("_id") % 2).cast("double").as("_cb"))
      val got = Ranks.withGlobalCumSums(g, Seq(col("_v")),
          Seq((col("_ca"), "ca"), (col("_cb"), "cb")))
        .select("_v", "ca", "cb", "ca_tot", "cb_tot").collect()
        .map(r => (r.getDouble(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      val wc = Window.orderBy(col("_v")).rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.orderBy(col("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val want = g.withColumn("ca", sum(col("_ca")).over(wc))
        .withColumn("cb", sum(col("_cb")).over(wc))
        .withColumn("ca_tot", sum(col("_ca")).over(wAll))
        .withColumn("cb_tot", sum(col("_cb")).over(wAll))
        .select("_v", "ca", "cb", "ca_tot", "cb_tot").collect()
        .map(r => (r.getDouble(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(got == want)
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("withGlobalLead equals the unpartitioned lead window") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val g = frame(2000).groupBy("_v").agg(count(lit(1)).as("_c"))
      val got = Ranks.withGlobalLead(g, Seq(col("_v")), col("_v"), "nv")
        .select("_v", "nv").collect()
        .map(r => (r.getDouble(0), Option(r.get(1)))).toMap
      val want = g.withColumn("nv", lead(col("_v"), 1).over(Window.orderBy(col("_v"))))
        .select("_v", "nv").collect()
        .map(r => (r.getDouble(0), Option(r.get(1)))).toMap
      assert(got == want)
      assert(got.values.count(_.isEmpty) == 1) // only the global max has no successor
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("exactQuantilesByValue equals rank-select from a full sort") {
    val df = frame(977)
    val probs = Seq(0.25, 0.5, 0.75, 0.9)
    val got = Ranks.exactQuantilesByValue(df, col("_v"), probs)
    val sorted = df.select("_v").orderBy("_v").collect().map(_.getDouble(0))
    val n = sorted.length
    val want = probs.map(p => sorted(math.ceil(n * p).toInt - 1))
    assert(got == want)
  }
}
