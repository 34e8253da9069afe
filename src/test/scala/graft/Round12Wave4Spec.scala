package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 fourth late wave (permutation_test, louvain_move). */
class Round12Wave4Spec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("permutation_test: p is the add-one extreme share and the null is calibrated") {
    val r = SparkEntry.queries("permutation_test")(spark, sf).head()
    val n = r.getLong(r.fieldIndex("n_units"))
    assert(n == Tables.events(spark, sf).select(col("user_id")).distinct().count())
    val nx = r.getLong(r.fieldIndex("n_extreme"))
    val p = r.getDouble(r.fieldIndex("p_value"))
    assert(nx >= 0 && nx <= 200)
    assert(math.abs(p - (nx + 1.0) / 201.0) < 1e-6)
    // the observed md5 split IS one more exchangeable relabeling, so its
    // diff is a draw from the same null: p must not be degenerate-small
    assert(p > 0.004 && p <= 1.0)
    assert(r.getBoolean(r.fieldIndex("reject_05")) == (p < 0.05))
  }

  test("louvain_move: one move round never scores below the singleton partition") {
    val rows = SparkEntry.queries("louvain_move")(spark, sf).collect()
    val q = rows.head.getDouble(rows.head.fieldIndex("modularity"))
    assert(math.abs(rows.map(_.getDouble(rows.head.fieldIndex("q_term"))).sum - q) < 1e-4)
    // total degree mass is 2|E| whatever the labels; internal edges can
    // only be a subset of |E| (moves may leave cross-community edges)
    val degTot = rows.map(_.getLong(rows.head.fieldIndex("degree_sum"))).sum
    val internal = rows.map(_.getLong(rows.head.fieldIndex("internal_edges"))).sum
    assert(degTot % 2 == 0 && internal <= degTot / 2)
    // q strictly positive: moving dense pairs together beats singletons,
    // whose modularity is strictly negative
    assert(q > 0.0)
    // communities merged: strictly fewer communities than nodes
    val nNodes = rows.map(_.getLong(rows.head.fieldIndex("n_nodes"))).sum
    assert(rows.head.getLong(rows.head.fieldIndex("n_communities")) < nNodes)
  }
}
