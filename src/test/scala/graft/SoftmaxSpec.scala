package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multiclass (softmax) logistic regression. */
class SoftmaxSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()

  test("multinomial fit separates three planted blobs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val mk = (label: String, cx: Double, cy: Double) => (0 until 300).map { _ =>
      (label, cx + rnd.nextGaussian(), cy + rnd.nextGaussian())
    }
    val df = (mk("a", 0.0, 0.0) ++ mk("b", 6.0, 0.0) ++ mk("c", 0.0, 6.0))
      .toDF("y", "f1", "f2")
    val (coefs, acc) = graft.linear.Softmax.fit(df, Seq("f1", "f2"), "y")
    val rows = coefs.collect()
    // 3 classes x (intercept + 2 features)
    assert(rows.length == 9, s"got ${rows.length} coef rows")
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq == Seq("a", "b", "c"))
    // well-separated blobs: far above the 1/3 majority-class rate
    assert(acc > 0.95, s"train accuracy $acc")
  }

  test("softmax predict: argmax + winning probability match a hand check") {
    import spark.implicits._
    val df = Seq((1.0, 0.0), (0.0, 1.0)).toDF("f1", "f2")
    // class X scores f1, class Y scores f2, class Z flat zero
    val (pred, pMax) = graft.linear.Softmax.predict(
      Seq(col("f1"), col("f2")), Seq("X", "Y", "Z"),
      Seq(0.0, 0.0, 0.0), Seq(Seq(2.0, 0.0), Seq(0.0, 2.0), Seq(0.0, 0.0)))
    val got = df.select(col("f1"), pred.as("c"), round(pMax, 6).as("p"))
      .collect().map(r => (r.getDouble(0), r.getString(1), r.getDouble(2))).toSet
    val e2 = math.exp(2.0)
    val pWin = math.rint(e2 / (e2 + 1 + 1) * 1e6) / 1e6
    assert(got == Set((1.0, "X", pWin), (0.0, "Y", pWin)), got.toString)
  }
}
