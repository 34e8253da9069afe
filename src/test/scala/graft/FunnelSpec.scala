package graft

import graft.events.Funnel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunnelSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("funnel3 matches a per-user driver-side replay on sf0.001") {
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // brute force: earliest signup, then earliest later view, then any later purchase
    val byUser = ev.groupBy(_._1).view.mapValues(_.sortBy(e => (e._4, e._2)))
    var (s1, s2, s3) = (0, 0, 0)
    byUser.foreach { case (_, es) =>
      val t1 = es.filter(_._3 == "signup").map(_._4).headOption
      if (t1.isDefined) s1 += 1
      val t2 = t1.flatMap(a => es.filter(e => e._3 == "view" && e._4 > a).map(_._4).headOption)
      if (t2.isDefined) s2 += 1
      val t3 = t2.flatMap(b => es.filter(e => e._3 == "purchase" && e._4 > b).map(_._4).headOption)
      if (t3.isDefined) s3 += 1
    }
    val got = Funnel.funnel3(graft.core.Tables.events(spark, sf),
      "signup", "view", "purchase").head()
    assert(got.getLong(got.fieldIndex("n_users")) == byUser.size.toLong)
    assert(got.getLong(got.fieldIndex("n_step1")) == s1.toLong, s"step1 $s1")
    assert(got.getLong(got.fieldIndex("n_step2")) == s2.toLong, s"step2 $s2")
    assert(got.getLong(got.fieldIndex("n_step3")) == s3.toLong, s"step3 $s3")
  }

  test("funnel ordering is strict: step2 before step1 does not convert") {
    import spark.implicits._
    // u1 does A→B→C in order; u2 does B before A (no conversion past step1);
    // u3 does A only
    val rows = Seq(
      (1L, 1L, "a", 1000000L), (1L, 2L, "b", 2000000L), (1L, 3L, "c", 3000000L),
      (2L, 4L, "b", 1000000L), (2L, 5L, "a", 2000000L),
      (3L, 6L, "a", 1000000L))
    val ev = rows.toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Funnel.funnel3(ev, "a", "b", "c").head()
    assert(got.getLong(got.fieldIndex("n_users")) == 3L)
    assert(got.getLong(got.fieldIndex("n_step1")) == 3L)
    assert(got.getLong(got.fieldIndex("n_step2")) == 1L)
    assert(got.getLong(got.fieldIndex("n_step3")) == 1L)
  }

  test("retentionWeekly: every user appears at offset 0; totals match") {
    val got = Funnel.retentionWeekly(graft.core.Tables.events(spark, sf)).collect()
    val nUsers = graft.core.Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    val off0 = got.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    assert(off0 == nUsers, s"offset-0 sum $off0 vs $nUsers users")
    // offsets are non-negative and bounded by the 1-month span
    assert(got.forall(r => r.getLong(1) >= 0L && r.getLong(1) <= 5L))
  }
}
