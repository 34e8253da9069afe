package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session for Bench, Verify, the tools and the specs: the settings
  * live in `graft.core.Session` and nowhere else, so the session the
  * oracle verifies is the session the bench times. */
class SessionSpec extends AnyFunSuite {
  private val factory = Paths.get("src/main/scala/graft/core/Session.scala")
  // split so this file never matches itself
  private val builderCall = "SparkSession" + ".builder"

  /** Source text with block/doc comments and line comments removed. */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test(s"$builderCall appears only in graft/core/Session.scala") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val sources = roots.flatMap(r => Files.walk(r).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
    val offenders = sources.filter(p => p != factory && code(p).contains(builderCall))
    assert(offenders.isEmpty, "build sessions through graft.core.Session")
    assert(code(factory).contains(builderCall))
  }

  test("the session carries Bench's settings and the graft SQL functions") {
    val spark = graft.core.Session()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    assert(spark.sparkContext.master == s"local[$cpus]")
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == cpus)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(graft.core.Session() eq spark)
    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0) == 11.0)
  }
}
