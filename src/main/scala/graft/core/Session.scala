package graft.core

import graft.functions.GraftExtensions
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one graft session. Bench times it, Verify checks it, the tools run
  * on it and every spec tests it, so no setting can differ between the
  * verified plan and the timed one.
  *
  * `local[$SPARK_GRAFT_CPUS]` (default 4) with shuffle partitions equal to
  * the core count, UTC session time, legacy nanosecond parquet timestamps
  * read as longs (see [[Tables.events]]), AQE on, UI off, and
  * [[GraftExtensions]] injected so `graft_dot`/`graft_sqdist` resolve in
  * SQL. Later calls return the live session as it is.
  */
object Session {
  def apply(): SparkSession = SparkSession.getDefaultSession.getOrElse {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // breeze's L-BFGS logs line-search resets at WARN on every
    // hw_fit_opt/arima_fit_bfgs evaluation: expected optimizer behaviour
    // that would bury real errors
    Configurator.setLevel("breeze.optimize", Level.ERROR)
    // every remaining "No Partition Defined for Window" warning comes from
    // a declared bounded summary frame (≤P-row Ranks partition offsets,
    // decile/λ-grid frames); a foldable partitionBy(lit(0)) would be
    // optimized away by EliminateWindowPartitions, so the category is
    // silenced instead. Data-scale SinglePartition windows stay impossible
    // through the PlanSpec gates.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
