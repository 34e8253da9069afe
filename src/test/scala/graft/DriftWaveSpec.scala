package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant pins for the drift/changepoint wave (ewma_chart,
  * page_hinkley, binseg_changepoint) at sf0.001. */
class DriftWaveSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("ewma_chart: alarm bookkeeping is coherent per series") {
    val rows = SparkEntry.queries("ewma_chart")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val alarms = r.getLong(r.fieldIndex("n_alarms"))
      val first = r.getLong(r.fieldIndex("first_alarm"))
      assert(alarms >= 0 && alarms < n)
      // first_alarm is -1 iff no alarms, else a valid t >= 1
      assert(if (alarms == 0) first == -1L else first >= 1L && first < n)
      // max excess positive iff any alarm fired
      val maxExc = r.getDouble(r.fieldIndex("max_excess"))
      assert((maxExc > 0.0) == (alarms > 0))
    }
  }

  test("page_hinkley: PH is non-negative and alarms consistent with first_alarm") {
    val rows = SparkEntry.queries("page_hinkley")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val alarms = r.getLong(r.fieldIndex("n_alarms"))
      val first = r.getLong(r.fieldIndex("first_alarm"))
      assert(r.getDouble(r.fieldIndex("max_ph")) >= 0.0)
      assert(if (alarms == 0) first == -1L else first >= 0L)
    }
  }

  test("binseg_changepoint: gain non-negative, split interior, means bracket the data") {
    val ds = graft.tsa.TimeSeries.dailySeries(graft.core.Tables.events(spark, sf))
    val rows = SparkEntry.queries("binseg_changepoint")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val cp = r.getLong(r.fieldIndex("cp_t"))
      assert(cp >= 0 && cp < n - 1) // split leaves both sides non-empty
      assert(r.getDouble(r.fieldIndex("gain")) >= -1e-4) // SSE reduction can't be negative
    }
    // the weighted mean of the two segment means reconstructs the series mean
    import org.apache.spark.sql.functions._
    val overall = ds.groupBy(col("series"))
      .agg(avg(col("x")).as("m"), count(lit(1)).cast("double").as("nn"))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    rows.foreach { r =>
      val (m, nn) = overall(r.getString(r.fieldIndex("series")))
      val i = r.getLong(r.fieldIndex("cp_t")) + 1.0
      val recon = (r.getDouble(r.fieldIndex("mean_left")) * i +
        r.getDouble(r.fieldIndex("mean_right")) * (nn - i)) / nn
      assert(math.abs(recon - m) < 1e-2)
    }
  }
}
