package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant pins for the text-analysis wave (dedup_edit, bleu_score,
  * zipf_fit, heaps_law) at sf0.001 — semantic properties beyond the
  * DuckDB hash gates. */
class TextWaveSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()
  val sf = "/root/testdata/sf0.001"

  test("dedup_edit: ratios in [0,1], dups consistent with the 0.2 cut, candidates = minhash pairs") {
    val rows = SparkEntry.queries("dedup_edit")(spark, sf).collect()
    assert(rows.nonEmpty) // the corpus plants near-dups; LSH must propose them
    rows.foreach { r =>
      val ratio = r.getDouble(r.fieldIndex("edit_ratio"))
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(r.getBoolean(r.fieldIndex("is_dup")) == (ratio <= 0.2))
      assert(r.getLong(r.fieldIndex("edit_dist")) >= 0)
    }
    val nPairs = SparkEntry.queries("dedup_minhash_pairs")(spark, sf).count()
    assert(rows.length.toLong == nPairs)
  }

  test("bleu_score: precisions and BLEU in [0,1], BLEU bounded by BP·max(p)") {
    val r = SparkEntry.queries("bleu_score")(spark, sf).head()
    val p1 = r.getDouble(r.fieldIndex("p1")); val p2 = r.getDouble(r.fieldIndex("p2"))
    val bp = r.getDouble(r.fieldIndex("brevity")); val bleu = r.getDouble(r.fieldIndex("bleu2"))
    assert(r.getLong(r.fieldIndex("n_pairs")) > 0)
    assert(p1 >= 0.0 && p1 <= 1.0 && p2 >= 0.0 && p2 <= 1.0)
    assert(bp > 0.0 && bp <= 1.0)
    // geometric mean of p1,p2 times BP can't exceed BP·max(p1,p2)
    assert(bleu >= 0.0 && bleu <= bp * math.max(p1, p2) + 1e-4)
    // LSH candidates are near-dups: unigram overlap must dominate bigram
    assert(p1 >= p2 - 1e-4)
  }

  test("yule_k: K non-negative, TTR in (0,1], vocab <= tokens") {
    val r = SparkEntry.queries("yule_k")(spark, sf).head()
    assert(r.getDouble(r.fieldIndex("yule_k")) >= 0.0)
    val ttr = r.getDouble(r.fieldIndex("ttr"))
    assert(ttr > 0.0 && ttr <= 1.0)
    assert(r.getLong(r.fieldIndex("vocab")) <= r.getLong(r.fieldIndex("n_tokens")))
  }

  test("scd2_history: per-user intervals chain without overlap and close with one open row") {
    val rows = SparkEntry.queries("scd2_history")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, hist) =>
      val sorted = hist.sortBy(_.getLong(hist.head.fieldIndex("valid_from")))
      // exactly one open interval (the current attribute) and it is last
      assert(sorted.count(_.getLong(sorted.head.fieldIndex("valid_to")) == -1L) == 1)
      assert(sorted.last.getLong(sorted.head.fieldIndex("valid_to")) == -1L)
      // each closed interval ends exactly where the next begins
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(a.fieldIndex("valid_to")) ==
            b.getLong(b.fieldIndex("valid_from")))
          // consecutive rows must actually change the attribute
          assert(a.getString(a.fieldIndex("event_type")) !=
            b.getString(b.fieldIndex("event_type")))
        case _ =>
      }
    }
  }

  test("ngram_novelty: shares in [0,1], novel counts bounded by types, corpus-first doc fully novel") {
    val rows = SparkEntry.queries("ngram_novelty")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nt = r.getLong(r.fieldIndex("n_types"))
      val nn = r.getLong(r.fieldIndex("n_novel"))
      val nov = r.getDouble(r.fieldIndex("novelty"))
      assert(nn >= 0 && nn <= nt)
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // the lowest doc id present owns all its trigrams by construction
    val first = rows.minBy(_.getLong(0))
    assert(first.getDouble(first.fieldIndex("novelty")) == 1.0)
  }

  test("link_prediction: jaccard in (0,1], AA positive, common bounded by min marginal") {
    val rows = SparkEntry.queries("link_prediction")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 15)
    rows.foreach { r =>
      val j = r.getDouble(r.fieldIndex("jaccard"))
      assert(j > 0.0 && j <= 1.0)
      assert(r.getDouble(r.fieldIndex("adamic_adar")) > 0.0)
      assert(r.getLong(r.fieldIndex("common")) >= 2)
    }
    val js = rows.map(_.getDouble(rows.head.fieldIndex("jaccard")))
    assert(js.zip(js.tail).forall { case (a, b) => a >= b })
  }

  test("winsorize: fences ordered, clip counts ~5% each side, winsorized mean between fences") {
    val r = SparkEntry.queries("winsorize")(spark, sf).head()
    val n = r.getLong(r.fieldIndex("n")).toDouble
    val lo = r.getDouble(r.fieldIndex("lo")); val hi = r.getDouble(r.fieldIndex("hi"))
    assert(lo < hi)
    assert(r.getLong(r.fieldIndex("n_clip_lo")) <= (0.05 * n + 1).toLong)
    assert(r.getLong(r.fieldIndex("n_clip_hi")) <= (0.05 * n + 1).toLong)
    val wm = r.getDouble(r.fieldIndex("win_mean"))
    assert(wm >= lo && wm <= hi)
  }

  test("zipf_fit: slope is negative (frequency decays with rank) and vocab >= fitted terms") {
    val r = SparkEntry.queries("zipf_fit")(spark, sf).head()
    assert(r.getDouble(r.fieldIndex("zipf_slope")) < 0.0)
    assert(r.getLong(r.fieldIndex("vocab_size")) >= r.getLong(r.fieldIndex("n_terms")))
    assert(r.getLong(r.fieldIndex("n_terms")) > 0)
  }

  test("heaps_law: beta in (0,1) (vocab grows sublinearly) and K positive") {
    val r = SparkEntry.queries("heaps_law")(spark, sf).head()
    val beta = r.getDouble(r.fieldIndex("heaps_beta"))
    assert(r.getLong(r.fieldIndex("n_points")) == 10)
    assert(beta > 0.0 && beta < 1.0)
    assert(r.getDouble(r.fieldIndex("heaps_k")) > 0.0)
  }
}
