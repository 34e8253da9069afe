package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** The n-scaled MinHash-LSH rule (dedup_minhash_auto): parameter-rule
  * boundaries, exact-dup retention at every depth, and the S-curve
  * property the rule exists for — deeper bands shed random collision
  * mass while keeping planted near-dups. */
class MinhashAutoSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.core.Session()

  test("autoParams grows one row per corpus decade, clamped to [2,5]") {
    assert(Dedup.autoParams(0).rowsPerBand == 2)
    assert(Dedup.autoParams(4999).rowsPerBand == 2)
    assert(Dedup.autoParams(5000).rowsPerBand == 2)   // log10(1) = 0
    assert(Dedup.autoParams(49999).rowsPerBand == 2)
    assert(Dedup.autoParams(50000).rowsPerBand == 3)
    assert(Dedup.autoParams(500000).rowsPerBand == 4)
    assert(Dedup.autoParams(5000000).rowsPerBand == 5)
    assert(Dedup.autoParams(5000000000L).rowsPerBand == 5) // clamp
    // bands stay 4: numHashes = 4r
    (Seq(5000L, 50000L, 500000L)).foreach { n =>
      val p = Dedup.autoParams(n)
      assert(p.numHashes == 4 * p.rowsPerBand)
    }
  }

  test("exact duplicates survive every band depth; deeper bands shed random mass but keep near-dups") {
    val docs = graft.tools.MakeOrganicSF.documents(spark, 6000L, seed = 7L, debug = true)
      .cache()
    try {
      val planted = docs.filter(col("_kind") =!= "organic")
        .select(least(col("doc_id"), col("_base")).as("doc1"),
          greatest(col("doc_id"), col("_base")).as("doc2"),
          col("_kind"))
      val exactN = planted.filter(col("_kind") === "exact").count()
      val nearN = planted.filter(col("_kind") === "near").count()
      assert(exactN > 3 && nearN > 50, s"corpus planted $exactN exact / $nearN near")
      val counts = Seq(2, 3, 4).map { r =>
        val p = Dedup.MinHashParams(numHashes = 4 * r, rowsPerBand = r)
        val cand = Dedup.minhashCandidates(docs, "text", "doc_id", p).cache()
        val total = cand.count()
        val hitExact = planted.filter(col("_kind") === "exact")
          .join(cand, Seq("doc1", "doc2")).count()
        val hitNear = planted.filter(col("_kind") === "near")
          .join(cand, Seq("doc1", "doc2")).count()
        cand.unpersist()
        // identical texts ⇒ identical signatures ⇒ every band matches
        assert(hitExact == exactN, s"r=$r lost exact dups: $hitExact/$exactN")
        (r, total, hitNear)
      }
      // S-curve: total candidate mass shrinks with depth…
      assert(counts(1)._2 < counts(0)._2 && counts(2)._2 < counts(1)._2,
        s"candidate mass not decreasing: $counts")
      // …while one-token near-dups (J ≈ 0.9) stay recalled
      counts.foreach { case (r, _, hitNear) =>
        assert(hitNear >= 0.8 * nearN, s"r=$r near recall $hitNear/$nearN < 80%")
      }
    } finally docs.unpersist()
  }

  test("dedup_embedding_lsh_auto keeps the exact top pairs at its n-scaled depth") {
    import org.apache.spark.sql.functions._
    val vecs = graft.tools.MakeOrganicSF.embeddings(spark, 4000L, seed = 9L)
    // exact reference: brute-force top-20 cosine pairs
    val exact = Dedup.embeddingTopPairs(vecs, "vec_id", "embedding", topN = 20)
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.embeddingTopPairsLshAuto(vecs, "vec_id", "embedding", topN = 20, dim = 64)
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted near-dup vectors (cosine ~ 1) collide whp at the auto depth
    val recall = exact.intersect(auto).size.toDouble / exact.size
    assert(recall >= 0.8, s"auto-depth top-20 recall $recall vs exact")
  }
}
