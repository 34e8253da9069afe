package graft

import graft.text.NaiveBayes
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NaiveBayesSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()

  /** Planted class vocabularies: each class has exclusive marker tokens
    * mixed with shared filler — NB must recover the classes nearly
    * perfectly despite the filler majority. */
  test("NB separates planted class vocabularies (test accuracy >= 0.9)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val markers = Map("cat" -> Seq("whisker", "purr", "meow"),
      "dog" -> Seq("bark", "fetch", "tail"),
      "fish" -> Seq("fin", "gill", "swim"))
    val filler = Seq("the", "a", "runs", "fast", "small", "big", "data", "row")
    val docs = (0 until 600).map { i =>
      val cls = Seq("cat", "dog", "fish")(i % 3)
      val toks = (0 until 30).map { _ =>
        if (rnd.nextDouble() < 0.3) markers(cls)(rnd.nextInt(3))
        else filler(rnd.nextInt(filler.length))
      }
      (i.toLong, cls, toks.mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val conf = NaiveBayes.fitPredictConfusion(docs, "text", "lang").collect()
    val tot = conf.map(_.getLong(2)).sum
    val corr = conf.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
    assert(tot > 100, s"test split too small: $tot")
    assert(corr.toDouble / tot >= 0.9, s"accuracy ${corr.toDouble / tot}")
  }

  test("fitSummary counts match a driver-side recomputation on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, sf)
    val got = NaiveBayes.fitSummary(docs, "text", "lang").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // recompute from the raw rows with the same split + tokenization
    val raw = docs.select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5Long(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16)
    }
    val train = raw.filter { case (id, _, _) => md5Long(s"${id}_42") % 1000 >= 250 }
    val toks = train.map { case (_, l, t) =>
      (l, t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").filter(_.nonEmpty)) }
    toks.groupBy(_._1).foreach { case (lang, g) =>
      val all = g.flatMap(_._2)
      val (nDocs, nTok, vocab, lp) = got(lang)
      assert(nDocs == g.length.toLong, s"$lang n_docs")
      assert(nTok == all.length.toLong, s"$lang n_tokens: $nTok vs ${all.length}")
      assert(vocab == all.distinct.length.toLong, s"$lang vocab")
      assert(math.abs(lp - math.log(g.length.toDouble / train.length)) < 1e-5)
    }
  }
}
