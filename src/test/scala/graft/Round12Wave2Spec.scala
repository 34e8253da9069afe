package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 second late wave (kneser_ney, bpe_encode, eb_shrinkage),
  * cross-checked against structural invariants + sibling operators on
  * sf0.001. */
class Round12Wave2Spec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("kneser_ney: same bigram frame as add-one sibling, and KN smooths better") {
    val kn = SparkEntry.queries("kneser_ney")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val ao = SparkEntry.queries("bigram_perplexity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(kn.map(t => (t._1, t._2)).toSeq == ao.map(t => (t._1, t._2)).toSeq)
    kn.foreach { case (_, _, p) => assert(p >= 1.0 && !p.isNaN && !p.isInfinite) }
    // Kneser-Ney exists because add-one over-penalizes: corpus-average
    // perplexity must come out lower under KN
    assert(kn.map(_._3).sum / kn.length < ao.map(_._3).sum / ao.length)
  }

  test("bpe_encode: merges only fuse - word mass fixed, fertility drops, vocab bounded") {
    val enc6 = SparkEntry.queries("bpe_encode")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val enc0 = graft.text.BPE.encodeFertility(Tables.documents(spark, sf),
      col("text"), col("lang"), rounds = 0).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(enc6.map(_._1).toSeq == enc0.map(_._1).toSeq)
    enc6.zip(enc0).foreach { case ((_, w6, s6, f6, v6), (_, w0, s0, f0, v0)) =>
      assert(w6 == w0)        // merges never change the word count
      assert(s6 < s0)         // every merge application removes a symbol
      assert(f6 < f0 && f6 >= 1.0)
      assert(v6 <= v0 + 6)    // at most the 6 merged symbols are new
    }
  }

  test("eb_shrinkage: posterior mean sits between the raw rate and the prior mean") {
    val rows = SparkEntry.queries("eb_shrinkage")(spark, sf).collect()
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n"))).sum == nUsers)
    val r0 = rows.head
    val (a, b) = (r0.getDouble(r0.fieldIndex("alpha")), r0.getDouble(r0.fieldIndex("beta")))
    assert(a > 0 && b > 0)
    val prior = a / (a + b)
    rows.foreach { r =>
      val raw = r.getDouble(r.fieldIndex("raw_rate"))
      val shr = r.getDouble(r.fieldIndex("shrunk_rate"))
      assert(shr >= math.min(raw, prior) - 1e-6 && shr <= math.max(raw, prior) + 1e-6)
      // shrinkage never moves a rate AWAY from the prior
      assert(math.abs(shr - prior) <= math.abs(raw - prior) + 1e-6)
    }
  }
}
