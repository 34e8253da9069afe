package graft.preprocessing

import graft.core.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preprocessing surface (reference python/cuml/preprocessing/
  * LabelEncoder.py, model_selection.py train_test_split).
  */
object Preprocessing {
  /** Deterministic label→code mapping: dense_rank over the sorted distinct
    * labels (cuML LabelEncoder fits categories in sorted order). The window
    * runs over the DISTINCT label set (tiny), never the data. */
  def labelEncoderMapping(df: DataFrame, labelCol: String): DataFrame = {
    val w = Window.orderBy(col("label"))
    df.select(col(labelCol).as("label")).distinct()
      .select(col("label"), (dense_rank().over(w) - 1).cast("long").as("code"))
  }

  /** Reproducible, engine-neutral train/test split: md5-hash of the key
    * column + seed, mod 1000 — the same rows land in the same split on any
    * cluster size, any engine (cuML's train_test_split shuffles by seed;
    * hash-splitting is its shuffle-free distributed equivalent). */
  def splitColumn(key: Column, testPermille: Int, seed: Long): Column =
    when(Num.md5Long(concat(key.cast("string"), lit("_"), lit(seed.toString))) % 1000 < testPermille,
      lit("test")).otherwise(lit("train"))

  def trainTestSplit(df: DataFrame, keyCol: String, testFraction: Double,
                     seed: Long = 42L): DataFrame =
    df.withColumn("split", splitColumn(col(keyCol), (testFraction * 1000).round.toInt, seed))

  /** Exact quantile bucketing (MLlib QuantileDiscretizer semantics, exact
    * regime): ntile(k) over a (value, id-tiebreak) ordering, per-bucket
    * (n, lo, hi, mean). Exactness makes this the AUDIT twin — deterministic,
    * SQL-replayable; [[quantileBucketsApprox]] is the petabyte production
    * path. The ntile runs DISTRIBUTED (r12, [[graft.core.Ranks]]): range
    * exchange + per-partition windows + closed-form bucket from the global
    * rank — bit-identical to the single-partition window formulation. */
  def quantileBuckets(df: DataFrame, valueCol: String, idCol: String,
                      k: Int): DataFrame = {
    graft.core.Ranks.withGlobalNtile(
        df.select(col(valueCol).cast("double").as("_v"), col(idCol).cast("long").as("_id")),
        Seq(col("_v"), col("_id")), k, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(min(col("_v")), 4).as("lo"), round(max(col("_v")), 4).as("hi"),
        round(avg(col("_v")), 4).as("mean"))
      .orderBy("bucket")
  }

  /** Production quantile bucketing: approximate percentile BOUNDARIES
    * (one sketch aggregate) broadcast as literals into a codegen CASE
    * bucket assignment — no global sort at any scale. Sketch boundaries
    * are engine-internal → rows-only gate + a spec bounding each bucket's
    * occupancy against the exact n/k. */
  def quantileBucketsApprox(df: DataFrame, valueCol: String, k: Int,
                            accuracy: Int = 10000): DataFrame = {
    val v = col(valueCol).cast("double")
    val probs = (1 until k).map(_.toDouble / k)
    val row = df.agg(percentile_approx(v, typedLit(probs), lit(accuracy))).head()
    val bounds = row.getSeq[Double](0)
    val bucket = bounds.zipWithIndex.foldRight(lit(k.toLong)) {
      case ((b, i), acc) => when(v <= b, (i + 1).toLong).otherwise(acc)
    }
    df.select(v.as("_v"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(min(col("_v")), 4).as("lo"), round(max(col("_v")), 4).as("hi"))
      .orderBy("bucket")
  }

  /** Per-group deterministic downsampling — the data-mixing primitive of a
    * training-data pipeline (keep 50% of English, 5% of zh, …). Same
    * engine-neutral md5 threshold as [[trainTestSplit]], with a per-group
    * permille: a pure codegen'd filter, no shuffle, reproducible on any
    * cluster size. Groups absent from `fractions` are dropped. */
  def stratifiedSample(df: DataFrame, keyCol: String, groupCol: String,
                       fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    val permille = fractions.toSeq.sortBy(_._1)
      .map { case (g, f) => (g, (f * 1000).round.toInt) }
    val pm = permille.foldLeft(lit(0)) { case (acc, (g, p)) =>
      when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    df.filter(Num.md5Long(concat(col(keyCol).cast("string"), lit("_"), lit(seed.toString)))
      % 1000 < pm)
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis & Spirakis 2006
    * ("Weighted random sampling with a reservoir"): each row draws
    * u ~ U(0,1) and keeps key = u^(1/w); the top-n keys ARE an exact
    * weighted sample. This is the distributed-sampling algorithm (one
    * pass, no coordination: the top-n reduction is a TakeOrdered /
    * bounded heap, never a global sort). u is md5-derived from the row
    * key, so the sample is reproducible at any parallelism and the
    * DuckDB oracle replays it row-for-row. Rows with w ≤ 0 never
    * qualify. Returns the sampled rows with their `_skey`. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: Column,
                     n: Int, seed: Long = 42L): DataFrame = {
    val u = (Num.md5Long(concat(col(keyCol).cast("string"), lit(s"_ws$seed")))
      % 1000000L).cast("double") / 1000000.0 + 5e-7
    // 8-decimal quantization before ranking: pow() can differ by an ULP
    // across libm implementations — the rounded key + id tie-break makes
    // the selection engine-exact (SURVEY §5 determinism rules)
    val k = round(pow(u, lit(1.0) / weightCol.cast("double")), 8)
    df.withColumn("_skey", when(weightCol.cast("double") > 0, k).otherwise(lit(null)))
      .filter(col("_skey").isNotNull)
      .orderBy(col("_skey").desc, col(keyCol))
      .limit(n)
  }
}
