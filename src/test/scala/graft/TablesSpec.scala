package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Loader-contract fixtures for `Tables.events`: the driver's data
  * generator has shipped `events.ts` as parquet TIMESTAMP(NANOS) (read as
  * Long under nanosAsLong), as TIMESTAMP(MICROS) without timezone (read
  * as TIMESTAMP_NTZ), and the session-zoned form is the natural third.
  * The r8 regression (13 events queries failing at analysis when the
  * format flipped to NTZ) is exactly what this spec pins: every physical
  * format must normalize to the SAME session-zoned microsecond timestamps.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()

  /** Write one events.parquet fixture under a fresh dir, return the dir. */
  private def fixture(tag: String)(write: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    import spark.implicits._
    val micros = Seq(
      (1L, "signup", 1700000000000000L),
      (1L, "purchase", 1700000123456789L),
      (2L, "view", 1700086400000000L))
      .toDF("user_id", "event_type", "us")
    val dir = java.nio.file.Files.createTempDirectory(s"graft_events_$tag").toString
    write(micros).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events loader normalizes all three ts physical formats identically") {
    val expected = Seq(1700000000000000L, 1700000123456789L, 1700086400000000L)

    val dirs = Map(
      // legacy TIMESTAMP(NANOS) path: arrives as a Long nanos column
      "nanosLong" -> fixture("nanos")(df =>
        df.select(col("user_id"), col("event_type"), (col("us") * 1000L).as("ts"))),
      // current generator: micros without timezone → TIMESTAMP_NTZ
      "ntz" -> fixture("ntz")(df =>
        df.select(col("user_id"), col("event_type"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))),
      // session-zoned micros: passes through untouched
      "tz" -> fixture("tz")(df =>
        df.select(col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))))

    dirs.foreach { case (tag, dir) =>
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$tag: ts must normalize to TimestampType, got ${ev.schema("ts").dataType}")
      val got = ev.orderBy("ts").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(got == expected, s"$tag: normalized micros differ")
    }
  }

  test("real events.parquet loads with a session-zoned ts and analyzable unix_micros") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == TimestampType)
    // the r8 failure mode was an analysis-time DATATYPE_MISMATCH here
    val n = ev.select(unix_micros(col("ts"))).limit(5).count()
    assert(n > 0)
  }

  test("documents/embeddings loaders normalize int32 ids and float32 vectors") {
    // the events-regen lesson applied ahead of time: a generator switch
    // to int32 ids or float32 embeddings must not flip output schemas
    // (oracle outputs pin BIGINT/DOUBLE)
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val dir = java.nio.file.Files.createTempDirectory("graft_narrow").toString
    Seq((1, "hello world", "en"), (2, "bonjour", "fr"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id").cast("int"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1, Array(1.0f, 2.0f)), (2, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id").cast("int"), col("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val docs = Tables.documents(spark, dir)
    assert(docs.schema("doc_id").dataType == LongType)
    assert(docs.orderBy("doc_id").select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val emb = Tables.embeddings(spark, dir)
    assert(emb.schema("vec_id").dataType == LongType)
    assert(emb.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == DoubleType)
    assert(emb.orderBy("vec_id").select("embedding").head().getSeq[Double](0) == Seq(1.0, 2.0))
    // the wide (already-long/double) real tables pass through untouched
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(real.schema("doc_id").dataType == LongType)
  }

  test("MakeSF replication preserves counts and referential integrity") {
    val out = java.nio.file.Files.createTempDirectory("graft_makesf").toString
    graft.tools.MakeSF.make(spark, "/root/testdata/sf0.001", out, factor = 2)
    def n(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"))
      assert(n(out, t) == 2 * n(src, t), s"$t not doubled")
    for (t <- Seq("region", "nation")) // dimension tables pass through
      assert(n(out, t) == n(src, t), s"$t changed")
    // re-keyed replicas keep the join structure intact: no orphans
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val o = spark.read.parquet(s"$out/orders.parquet")
    val c = spark.read.parquet(s"$out/customer.parquet")
    assert(li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti").count() == 0,
      "lineitem rows orphaned from orders")
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() == 0,
      "orders rows orphaned from customer")
    // replica keys are disjoint from the originals
    assert(o.select("o_orderkey").distinct().count() == o.count())
    graft.queries.ModelQueries.deleteRecursively(java.nio.file.Paths.get(out))
  }
}
