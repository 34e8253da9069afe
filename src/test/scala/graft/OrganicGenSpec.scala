package graft

import org.apache.spark.sql.functions._

/** Generator-invariant specs for tools/MakeOrganicSF (verdict r14 #3:
  * the organic-curve denominators are only exact if every planted dup's
  * base is itself ORGANIC — a near-dup base would make an "exact" dup
  * one token off its base's stored text and deflate the planted rate). */
class OrganicGenSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.core.Session()

  test("every planted dup's base is organic, exact dups match stored text, near dups are 1-token edits") {
    val n = 8000L
    val docs = graft.tools.MakeOrganicSF.documents(spark, n, seed = 42L, debug = true)
      .select(col("doc_id"), col("text"), col("_kind"), col("_base"))
      .cache()
    try {
      val byKind = docs.groupBy(col("_kind")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // planted rates: ~2% near, ~0.2% exact (md5-binomial tolerance)
      assert(math.abs(byKind("near") - 0.02 * n) < 0.01 * n, byKind.toString)
      assert(math.abs(byKind("exact") - 0.002 * n) < 0.002 * n, byKind.toString)

      val bases = docs.select(col("doc_id").as("_base"),
        col("text").as("_btext"), col("_kind").as("_bkind"))
      val dups = docs.filter(col("_kind") =!= "organic")
        .join(bases, "_base")
      // THE invariant: no dup may point at another dup
      assert(dups.filter(col("_bkind") =!= "organic").count() == 0,
        "a planted dup's base is itself a dup — base-selection impurity")
      // exact dups: byte-identical to the base's STORED text
      assert(dups.filter(col("_kind") === "exact" && col("text") =!= col("_btext"))
        .count() == 0, "an exact dup differs from its base's stored text")
      // near dups: same token count, at most one differing position
      // (the edit may no-op at the word-collision rate)
      val tok = split(col("text"), " ")
      val btok = split(col("_btext"), " ")
      val nearBad = dups.filter(col("_kind") === "near")
        .withColumn("_diff",
          when(size(tok) =!= size(btok), lit(999))
            .otherwise(size(filter(zip_with(tok, btok, (a, b) =>
              when(a =!= b, lit(1)).otherwise(lit(0))), x => x === 1))))
        .filter(col("_diff") > 1)
      assert(nearBad.count() == 0, "a near dup differs by more than one token")
    } finally docs.unpersist()
  }
}
