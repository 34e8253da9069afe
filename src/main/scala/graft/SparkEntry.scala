package graft

import graft.queries.{AnalyticsQueries, BoostQueries, MLQueries, MetricsQueries, MiscQueries, ModelQueries, StatTestQueries, TSAQueries, TabularQueries, TextQueries, VectorQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory behind these queries. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A composed training-data-pipeline slice — quality scoring + exact
    * dedup + per-language stats in one plan: the shape this library exists
    * for, with every stage a pushdown-friendly column expression or
    * map-side-combined aggregate. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, d)
    val quality = graft.text.TextOps.qualityFeatures(docs, "text", "doc_id")
    val keepers = graft.dedup.Dedup.exact(docs, "text", "doc_id")
      .select(col("keeper_id").as("doc_id"))
    docs.select(col("doc_id"), col("lang")).join(keepers, "doc_id")
      .join(quality.select(col("doc_id"), col("quality")), "doc_id")
      .filter(col("quality") > 0.4)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy("lang")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    TabularQueries.queries ++ TextQueries.queries ++ VectorQueries.queries ++
      TSAQueries.queries ++ MLQueries.queries ++ MiscQueries.queries ++
      MetricsQueries.queries ++ AnalyticsQueries.queries ++ BoostQueries.queries ++
      ModelQueries.queries ++ StatTestQueries.queries

  /** [[queries]] restricted to the comma-separated names in
    * `SPARK_GRAFT_ONLY` (every query when unset): the one subset variable
    * Bench and Verify read for local iteration. Names that match no query
    * are reported on stderr. */
  def selected: Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- all.keySet
      if (unknown.nonEmpty) System.err.println(
        s"WARN: SPARK_GRAFT_ONLY names match no query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    only.fold(all)(o => all.filter(kv => o(kv._1)))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for iterative/seeded ops (rows-only
    * check by design — see SURVEY.md §5). */
  def oracleSql: Map[String, String] =
    TabularQueries.oracles ++ TextQueries.oracles ++ VectorQueries.oracles ++
      TSAQueries.oracles ++ MiscQueries.oracles ++ MLQueries.oracles ++
      MetricsQueries.oracles ++ AnalyticsQueries.oracles ++ BoostQueries.oracles ++
      ModelQueries.oracles ++ StatTestQueries.oracles
}
