package graft

import graft.text.TextOps
import org.scalatest.funsuite.AnyFunSuite
import scala.math.abs

/** Gopher-style repetition/filter metrics and domain-mixing weights. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()

  test("document chunking tiles the token stream with the declared overlap") {
    import spark.implicits._
    val doc140 = (1 to 140).map(i => s"t$i").mkString(" ") // 140 tokens
    val doc10 = (1 to 10).map(i => s"s$i").mkString(" ")
    val df = Seq((1L, doc140), (2L, doc10)).toDF("doc_id", "text")
    val r = TextOps.chunkDocuments(df, "text", "doc_id", chunk = 64, overlap = 16)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val d1 = r.filter(_._1 == 1L).sortBy(_._2)
    // 140 tokens, stride 48: starts 0, 48, 96 — 3 chunks; last = 44 tokens
    assert(d1.map(c => (c._3, c._4)).toSeq == Seq((0L, 64L), (48L, 64L), (96L, 44L)),
      d1.mkString(","))
    // consecutive chunks overlap by exactly chunk - stride = 16 tokens
    assert(d1(1)._3 == d1(0)._3 + 48 && d1(0)._3 + 64 - d1(1)._3 == 16)
    // full coverage: last chunk reaches the final token
    assert(d1.last._3 + d1.last._4 == 140)
    val d2 = r.filter(_._1 == 2L)
    assert(d2.toSeq == Seq((2L, 0L, 0L, 10L)), d2.mkString(","))
  }

  test("domain cap keeps the lowest-id docs per domain") {
    import spark.implicits._
    val df = ((0 until 9).map(i => (i.toLong, "a")) ++
      (10 until 12).map(i => (i.toLong, "b"))).toDF("doc_id", "source")
    val r = TextOps.domainCap(df, "source", "doc_id", maxPerDomain = 4)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r("a") == ((9L, 4L)), r.toString)
    assert(r("b") == ((2L, 2L)), r.toString)
  }

  test("approx quantile buckets track the exact n/k occupancy") {
    val orders = graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
    val n = orders.count()
    val exact = graft.preprocessing.Preprocessing
      .quantileBuckets(orders, "o_totalprice", "o_orderkey", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.values.sum == n)
    // exact ntile: bucket sizes differ by at most 1
    assert(exact.values.max - exact.values.min <= 1, exact.toString)
    val approx = graft.preprocessing.Preprocessing
      .quantileBucketsApprox(orders, "o_totalprice", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.values.sum == n)
    // sketch boundaries at accuracy 10⁴: every bucket within 10% of n/10
    approx.values.foreach(c =>
      assert(math.abs(c - n / 10.0) <= n / 10.0 * 0.10 + 2, approx.toString))
  }

  test("frequent-token sketch keeps every true heavy hitter (no false negatives)") {
    import spark.implicits._
    // planted stream: "the" ~38%, "cat" ~29%, remainder unique singletons
    val docs = (0 until 40).map { i =>
      val fill = (0 until 7).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"the the the the cat cat cat $fill")
    }.toDF("doc_id", "text")
    val hh = graft.text.Relevance.frequentTokens(docs, "text", support = 0.2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Misra-Gries contract: anything above the support threshold MUST
    // survive, with its exact count reported
    assert(hh.get("the").contains(160L), hh.toString)
    assert(hh.get("cat").contains(120L), hh.toString)
    // exact top-N agrees on the two planted hitters and ranks them 1, 2
    val top = graft.text.Relevance.heavyHitterTokens(docs, "text", topN = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(top.toSeq == Seq((1L, "the", 160L), (2L, "cat", 120L)), top.mkString(","))
  }

  test("repetition metrics: looped phrase scores high, distinct text scores 0") {
    import spark.implicits._
    val loop = Seq.fill(10)("the cat sat").mkString(" ")        // heavy repeats
    val fresh = (1 to 30).map(i => s"w$i").mkString(" ")        // all distinct
    val df = Seq((1L, loop), (2L, fresh)).toDF("doc_id", "text")
    val r = TextOps.repetitionFeatures(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    // "the cat sat the ..." over 30 tokens: every 3-gram recurs -> dup3 = 1.0
    assert(r(1L)._2 == 1.0, s"loop dup3 ${r(1L)._2}")
    assert(r(1L)._1 > 0.3, s"loop top2 ${r(1L)._1}")
    assert(r(2L) == (0.0345, 0.0), s"fresh ${r(2L)}")  // top2 = 1/29 grams
  }

  test("gopher filters: each planted violation fails exactly its rule") {
    import spark.implicits._
    val ok = (1 to 20).map(i => s"tok$i").mkString(" ")
    val tooShort = "just three words"
    val numeric = ((1 to 12).map(_.toString) :+ "word").mkString(" ")   // 12/13 numeric
    val repeat = Seq.fill(25)("same").mkString(" ")                     // uniq ratio 1/25
    val df = Seq((1L, ok), (2L, tooShort), (3L, numeric), (4L, repeat))
      .toDF("doc_id", "text")
    val r = TextOps.gopherFilters(df, "text", "doc_id").head()
    assert(r.getLong(0) == 4)                 // n_docs
    assert(r.getLong(1) == 1, "word count")   // tooShort
    assert(r.getLong(3) == 1, "numeric")      // numeric
    assert(r.getLong(4) == 1, "uniq ratio")   // repeat
    assert(r.getLong(5) == 1, "keepers")      // only `ok`
  }

  test("mix weights: feasible max total and per-domain rates") {
    import spark.implicits._
    // en:100, de:50, zh:10 with targets 0.5/0.4/0.1 -> M = min(200, 125, 100) = 100
    val df = (Seq.fill(100)("en") ++ Seq.fill(50)("de") ++ Seq.fill(10)("zh"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("doc_id", "lang")
    val r = TextOps.mixWeights(df, "lang", Seq("de" -> 0.4, "en" -> 0.5, "zh" -> 0.1))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(3), x.getDouble(4))).toMap
    assert(r("en") == ((100L, 50L, 0.5)), r("en").toString)
    assert(r("de") == ((50L, 40L, 0.8)), r("de").toString)
    assert(r("zh") == ((10L, 10L, 1.0)), r("zh").toString)
  }

  test("bigram perplexity: in-domain text scores far below unseen-token text") {
    import spark.implicits._
    val phrase = "the quick brown fox jumps over the lazy dog"
    val train = (1L to 20L).map(i => (i, phrase)).toDF("doc_id", "text")
    val score = Seq((100L, phrase),                       // pure training text
      (101L, "zxq wvu tsr qpo nml kji hgf edc ba")).toDF("doc_id", "text")
    val r = graft.text.Relevance.bigramPerplexity(train, score, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(100L) < r(101L) / 3.0, s"in-domain ${r(100L)} vs unseen ${r(101L)}")
  }

  test("approx length quantiles stay within one rank of the exact rank-select") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val base = docs.select(col("lang"),
      col("doc_id").cast("long").as("doc"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val approx = base.groupBy("lang")
      .agg(percentile_approx(col("n_tokens"), lit(0.5), lit(1000)).as("p50a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact lower-median via the same rank rule the oracle uses
    import org.apache.spark.sql.expressions.Window
    val exact = base
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("n_tokens"), col("doc"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rn") === ceil(col("n") * 0.5))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    exact.foreach { case (lang, p50) =>
      assert(math.abs(approx(lang) - p50) <= math.max(2L, p50 / 10),
        s"$lang approx ${approx(lang)} vs exact $p50")
    }
  }

  test("weighted sampling: a dominant weight is always drawn, zero weights never") {
    import spark.implicits._
    val rows = (1L to 100L).map(i =>
      (i, if (i == 7L) 100000.0 else if (i == 13L) 0.0 else 1.0))
    val df = rows.toDF("doc_id", "w")
    val got = graft.preprocessing.Preprocessing.weightedSample(df, "doc_id", org.apache.spark.sql.functions.col("w"), n = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(7L), s"dominant weight missing from $got")   // u^(1/1e5) ≈ 1
    assert(!got.contains(13L), "zero-weight row sampled")
    assert(got.size == 10)
    // heavier corpus half should dominate a weighted draw
    val skew = (1L to 100L).map(i => (i, if (i <= 50) 100.0 else 1.0)).toDF("doc_id", "w")
    val hv = graft.preprocessing.Preprocessing.weightedSample(skew, "doc_id", org.apache.spark.sql.functions.col("w"), n = 20)
      .collect().map(_.getLong(0)).count(_ <= 50)
    assert(hv >= 15, s"only $hv/20 from the heavy half")
  }

  test("sequence packing: packs fill to the budget and docs never split") {
    import spark.implicits._
    // 10 docs of 4 tokens in one shard, budget 10 → packs of sizes
    // crossing at exclusive-cumsum boundaries: docs at cum 0,4,8 → pack 0
    // (12 tokens, one-doc overshoot), 12,16 → pack 1, ...
    val docs = (1L to 10L).map(i => (i, "a b c d", "en")).toDF("doc_id", "text", "lang")
    val r = graft.text.TextOps.packSequences(docs, "text", "doc_id", "lang", budget = 10L)
      .collect().map(x => x.getLong(1) -> ((x.getLong(2), x.getLong(3)))).toMap
    assert(r(0L) == ((3L, 12L)), r.toString)   // 3 docs, bounded overshoot
    assert(r.values.map(_._1).sum == 10L)      // every doc lands in exactly one pack
    assert(r.values.forall(_._2 <= 10L + 4L))  // overshoot ≤ one doc
  }

  test("PMI: an always-together pair outranks frequent-but-independent words") {
    import spark.implicits._
    // "san francisco" always adjacent; "the" everywhere, adjacent to many
    val docs = (1L to 10L).map(i =>
      (i, s"the city of san francisco has the fog and the w$i bridge"))
      .toDF("doc_id", "text")
    val r = graft.text.Relevance.pmiTopPairs(docs, "text", "doc_id",
        minCount = 3L, topN = 5)
      .collect().map(x => (x.getString(0), x.getString(1)))
    // all always-adjacent pairs tie on PMI; the top group must contain the
    // planted collocation and exclude anything involving the high-df "the"
    assert(r.contains(("san", "francisco")), r.mkString(", "))
    assert(!r.exists(p => p._1 == "the" || p._2 == "the"), r.mkString(", "))
  }

  test("incremental dedup: prior-corpus collisions and within-shard copies both drop") {
    import spark.implicits._
    val prior = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha text"),   // dup vs prior
      (11L, "gamma text"),   // new
      (12L, "gamma text"),   // within-shard copy of 11
      (13L, "delta text"))   // new
      .toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val r = graft.dedup.Dedup.incremental(fresh, prior, "text", "doc_id", "lang").head()
    assert(r.getLong(1) == 4, s"n_new ${r.getLong(1)}")
    assert(r.getLong(2) == 1, s"n_dup_within ${r.getLong(2)}")
    assert(r.getLong(3) == 1, s"n_dup_vs_prior ${r.getLong(3)}")
    assert(r.getLong(4) == 2, s"n_ingested ${r.getLong(4)}")
  }

  test("bloom incremental dedup: no false negatives, exact audit consistent") {
    import spark.implicits._
    val prior = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha text"),   // true dup vs prior — MUST be flagged maybe-dup
      (11L, "gamma text"),   // new
      (12L, "delta text"))   // new
      .toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val r = graft.dedup.Dedup.bloomIncremental(fresh, prior, "text", "doc_id", "lang").head()
    val (nNew, nDefNew, nMaybe, nTrue, nFp) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nNew == 3)
    assert(nTrue == 1, s"exact audit found $nTrue true dups")
    // the bloom contract: every true duplicate is flagged (no false
    // negatives), so maybe >= true and false positives are exactly the gap
    assert(nMaybe >= nTrue, s"false negative: maybe $nMaybe < true $nTrue")
    assert(nFp == nMaybe - nTrue)
    assert(nDefNew + nMaybe == nNew)
    // a definitely-new verdict is always correct: with 2^18 bits and 2
    // prior docs the tiny filter cannot saturate, so the two fresh texts
    // must probe at least one clear bit each
    assert(nDefNew == 2, s"n_definitely_new $nDefNew")
  }

  test("segment dedup: repeated segment keeps first copy only, order preserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions.md5
    // k=2 segments: doc1 = [a b][c d], doc2 = [c d][e f], doc3 = [c d]
    // "c d" occurs 3x -> only doc1's copy survives; everything else unique
    val df = Seq((1L, "a b c d"), (2L, "c d e f"), (3L, "c d"))
      .toDF("doc_id", "text")
    val r = graft.dedup.Dedup.segmentDedup(df, "text", "doc_id", k = 2, minCount = 2L)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    def h(s: String) = df.sparkSession.range(1)
      .select(md5(org.apache.spark.sql.functions.lit(s))).head().getString(0)
    assert(r(1L) == ((2L, 2L, h("a b c d"))), r(1L).toString)   // untouched
    assert(r(2L) == ((2L, 1L, h("e f"))), r(2L).toString)       // "c d" dropped
    assert(r(3L) == ((1L, 0L, h(""))), r(3L).toString)          // emptied out
  }

  test("span dedup: shared/self-repeated windows merge into maximal spans; short docs zero out") {
    import spark.implicits._
    // k=3 windows. doc1/doc2 share the trigrams "a b c","b c d","c d e":
    // doc1 dup starts {0,1,2} -> one span [0,4]; doc2 dup starts {2,3,4}
    // -> one span [2,6]. doc3 is too short for any window. doc4 is pure
    // self-repetition (every window identical) -> whole doc one span.
    // doc5 repeats "a b c" at both ends (start gap 8 > k) -> TWO spans.
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "z z a b c d e z q"),
      (3L, "q w"),
      (4L, "m m m m m m"),
      (5L, "a b c 1 2 3 4 5 a b c"))
      .toDF("doc_id", "text")
    val r = graft.dedup.Dedup.spanDedup(df, "text", "doc_id", k = 3, minCount = 2L)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5),
          x.getDouble(6)))).toMap
    assert(r(1L) == ((6L, 4L, 3L, 1L, 5L, 0.833333)), r(1L).toString)
    assert(r(2L) == ((9L, 7L, 3L, 1L, 5L, 0.555556)), r(2L).toString)
    assert(r(3L) == ((2L, 0L, 0L, 0L, 0L, 0.0)), r(3L).toString)
    assert(r(4L) == ((6L, 4L, 4L, 1L, 6L, 1.0)), r(4L).toString)
    assert(r(5L) == ((11L, 9L, 2L, 2L, 6L, 0.545455)), r(5L).toString)
  }

  test("int8 scalar quantization: per-dim range/scale exact, round-trip error bounded, constant dim exact") {
    import spark.implicits._
    // dim0 spans [0,2], dim1 spans [10,30] (10x the scale, 10x the error),
    // dim2 is constant (scale 0 -> code 0 -> exact round trip). Midpoints
    // land on the 127.5 rounding boundary -> HALF_UP -> code 128.
    val df = Seq((1L, Seq(0f, 10f, 5f)), (2L, Seq(1f, 20f, 5f)), (3L, Seq(2f, 30f, 5f)))
      .toDF("vec_id", "embedding")
    val r = graft.neighbors.SQ.quantizeAudit(df, "vec_id", "embedding")
      .collect().map(x => x.getLong(0) ->
        ((x.getDouble(1), x.getDouble(2), x.getDouble(3), x.getDouble(4),
          x.getDouble(5)))).toMap
    assert(r(0L) == ((0.0, 2.0, 0.007843137, 5.126e-6, 0.003922)), r(0L).toString)
    assert(r(1L) == ((10.0, 30.0, 0.078431373, 5.12623e-4, 0.039216)), r(1L).toString)
    assert(r(2L) == ((5.0, 5.0, 0.0, 0.0, 0.0)), r(2L).toString)
  }

  test("pii mask: planted email/ip/number each masked and counted; clean text untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, md5}
    val df = Seq(
      (1L, "mail a@b.io and c.d+x@e.co.uk ip 10.0.0.1 acct 123456789"),
      (2L, "nothing sensitive here 123 1.2 10.0.0"))
      .toDF("doc_id", "text")
    val r = TextOps.piiMask(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))).toMap
    def h(s: String) = df.sparkSession.range(1).select(md5(lit(s))).head().getString(0)
    assert(r(1L) == ((2L, 1L, 1L,
      h("mail <EMAIL> and <EMAIL> ip <IP> acct <NUM>"))), r(1L).toString)
    assert(r(2L) == ((0L, 0L, 0L,
      h("nothing sensitive here 123 1.2 10.0.0"))), r(2L).toString)
  }

  test("hashed-ngram classifier: QN fit on bucket counts separates a planted marker") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, element_at, lit, typedLit}
    val B = 64
    val fill = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet")
    // 60 docs over a fixed filler vocab; label-1 docs carry the marker
    // word "excellent" (md5 bucket 23, colliding with no filler unigram)
    def doc(i: Int, marked: Boolean): String = {
      val ws = (0 until 12).map(j => fill((i * 7 + j * 3) % fill.size))
      (if (marked) ws.init :+ "excellent" else ws).mkString(" ")
    }
    val df = (0 until 60).map(i => (i.toLong, doc(i, i % 2 == 0), (i % 2).toDouble))
      .toDF("doc_id", "text", "label")
    val feats = TextOps.hashedNgramCounts(df, "text", "doc_id", B)
      .join(df.select(col("doc_id").as("doc"), col("label")), Seq("doc"))
      .cache()
    val m = graft.linear.GradientSolver.fitQN(feats, (0 until B).map(b => s"h$b"),
      "label", l2 = 1e-3, maxIter = 40)
    // score the same docs through the inference path with the FITTED
    // weights (bias = intercept, bucket weight = coefficient lookup)
    val w = m.coefs.tail.toArray
    val scored = TextOps.hashedNgramScore(df, "text", "doc_id", B,
        weightOf = b => element_at(typedLit(w), b.cast("int") + 1),
        bias = m.coefs.head)
      .join(df.select(col("doc_id").as("doc"), col("label")), Seq("doc"))
    val acc = scored.filter((col("score") > 0.5) === (col("label") === 1.0))
      .count() / 60.0
    assert(acc >= 0.95, s"train accuracy $acc")
    feats.unpersist()
  }

  test("tfidf: a unique term outranks ubiquitous ones; everywhere-terms score 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "common common rare common"),
      (2L, "common common common common"),
      (3L, "common other common common")).toDF("doc_id", "text")
    val r = graft.text.Relevance.tfIdfTopTerms(df, "text", "doc_id", topN = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> ((x.getString(2), x.getDouble(3)))).toMap
    // doc 1 rank 1 = "rare" (tf=1, df=1 -> ln 3); "common" is everywhere -> 0
    assert(r((1L, 1L))._1 == "rare", r.toString)
    assert(math.abs(r((1L, 1L))._2 - math.log(3.0)) < 1e-6, r.toString)
    assert(r((1L, 2L)) == (("common", 0.0)), r.toString)
    assert(r((2L, 1L)) == (("common", 0.0)), r.toString)
  }

  test("bm25: docs with more query-term mass rank higher; term-free docs absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "hash hash scan filler filler"),
      (2L, "hash filler filler filler filler"),
      (3L, "filler filler filler filler filler")).toDF("doc_id", "text")
    val rows = graft.text.Relevance.bm25(df, "text", "doc_id",
      Seq("hash", "scan"), topN = 10).collect()
    val score = rows.map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(!score.contains(3L), score.toString)       // no query terms
    assert(score(1L) > score(2L), score.toString)     // 2 terms + higher tf
    assert(score(2L) > 0.0, score.toString)
  }

  test("segment dedup: below-threshold repeats are all kept") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val r = graft.dedup.Dedup.segmentDedup(df, "text", "doc_id", k = 2, minCount = 3L)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L), r.toString)
  }
}
