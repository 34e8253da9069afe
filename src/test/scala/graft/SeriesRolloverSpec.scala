package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model-rollover contract for per-series streaming serve: the
  * foreachBatch scorer re-resolves the model table every micro-batch,
  * so an overwrite between batches serves the NEW parameters with no
  * stream restart. (The plain stream-static path pins the model version
  * at stream definition — probed empirically: an in-place overwrite
  * under a running pinned stream is a FileNotFound crash, which is why
  * rollover goes through foreachBatch.) */
class SeriesRolloverSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()

  test("foreachBatch scorer serves the overwritten model from the next batch on") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_rollover").toString
    def writeModel(level: Double): Unit =
      Seq(("s1", "level", level), ("s1", "trend", 1.0), ("s1", "season_0", 0.5))
        .toDF("series", "key", "value")
        .withColumn("model_type", lit("hw_additive"))
        .write.mode("overwrite").parquet(path)
    writeModel(10.0)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val in = MemoryStream[(String, Double)]
    val q = in.toDF().toDF("series", "x").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        StreamingOps.seriesScoreBatch(b, path, "hw_additive").collect()
          .foreach(r => seen += ((r.getDouble(r.fieldIndex("x")),
            r.getDouble(r.fieldIndex("forecast1")))))
        ()
      }.start()
    try {
      in.addData(("s1", 5.0)); q.processAllAvailable()
      assert(seen.toSeq == Seq((5.0, 11.5))) // 10 + 1 + 0.5
      writeModel(20.0)
      in.addData(("s1", 6.0)); q.processAllAvailable()
      assert(seen.toSeq == Seq((5.0, 11.5), (6.0, 21.5))) // new model serves
    } finally q.stop()
  }
}
