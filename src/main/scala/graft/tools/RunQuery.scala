package graft.tools

/** Dev tool: run named queries once and print timing + row count.
  * Usage: runMain graft.tools.RunQuery <sfDir> <name1,name2,...> [show] */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val show = args.length > 2 && args(2) == "show"
    val spark = graft.core.Session()
    names.foreach { n =>
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val cnt = df.count()
        println(f"[runquery] $n%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s  $cnt rows")
        if (show) df.show(30, truncate = false)
      } catch {
        case e: Throwable =>
          println(s"[runquery] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
