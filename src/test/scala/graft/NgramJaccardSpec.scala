package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** The r17 per-block ngramJaccard (the redesign that replaced the
  * per-shingle self-join after it stalled the 5M-doc bench): parity
  * against a brute-force pair scan computed entirely in the spec,
  * including pairs that CROSS a block boundary and the gap-exclusion
  * edge (doc2 − doc1 == gap kept, gap+1 dropped). */
class NgramJaccardSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.core.Session()

  private def grams(text: String, k: Int): Set[String] = {
    // mirror Dedup.normText: lower(trim(regexp_replace(text, "\\s+", " ")))
    val toks = text.replaceAll("\\s+", " ").trim.toLowerCase.split(" ")
      .filter(_.nonEmpty)
    if (toks.length < k) Set.empty
    else toks.sliding(k).map(_.mkString("_")).toSet
  }

  test("per-block pairs equal the brute-force scan, across block boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    // 120 docs over 2 sources; ids straddle several 25-blocks; repeated
    // vocab guarantees shared bigrams both within and across blocks
    val rows = (0 until 120).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      val text = Array.fill(12 + rnd.nextInt(10))(words(rnd.nextInt(words.length)))
        .mkString(" ")
      (i.toLong, src, text)
    }
    val df = rows.toDF("doc_id", "source", "text")
    val got = Dedup.ngramJaccard(df, "text", "doc_id", "source",
        k = 2, maxIdGap = 25L, minJaccard = 0.0)
      .select(col("doc1"), col("doc2"), col("jaccard"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    // brute force in the spec: every same-source pair with
    // 0 < d2 - d1 <= 25 and a nonempty bigram intersection
    val sets = rows.map { case (id, src, text) => (id, src, grams(text, 2)) }
    var expected = Map.empty[(Long, Long), Double]
    for {
      (d1, s1, g1) <- sets
      (d2, s2, g2) <- sets
      if s1 == s2 && d2 > d1 && d2 - d1 <= 25
    } {
      val inter = (g1 intersect g2).size.toDouble
      if (inter > 0)
        expected += ((d1, d2) -> inter / (g1.size + g2.size - inter))
    }
    assert(expected.nonEmpty, "test corpus must produce overlapping pairs")
    // boundary coverage: at least one expected pair crosses a 25-block edge
    assert(expected.keys.exists { case (a, b) => a / 25 != b / 25 },
      "corpus must exercise cross-block pairs")
    assert(got.keySet == expected.keySet,
      s"pair sets differ: missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")
    expected.foreach { case (kpair, j) =>
      assert(math.abs(got(kpair) - j) < 1e-12, s"jaccard differs at $kpair")
    }
  }

  test("gap edge: doc2 - doc1 == gap pairs emit, gap + 1 pairs never do") {
    import spark.implicits._
    val txt = "alpha beta gamma delta"
    val df = Seq(
      (0L, "s", txt), (25L, "s", txt), (51L, "s", txt),
      (100L, "t", txt), (126L, "t", txt)).toDF("doc_id", "source", "text")
    val got = Dedup.ngramJaccard(df, "text", "doc_id", "source",
        k = 2, maxIdGap = 25L, minJaccard = 0.0)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 25L)), "gap-wide pair must emit")
    assert(!got.contains((25L, 51L)), "gap+1 pair must not emit")
    assert(!got.contains((100L, 126L)), "gap+1 pair in source t must not emit")
    assert(got == Set((0L, 25L)))
  }
}
