package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark JVM. One process is one run: a fresh session, set up, one
  * cold pass over the query list, then warm passes in the same session
  * until `--seconds` have passed since the cold pass started, and at
  * least `--warm`. Each request is `SparkEntry.queries(name)(spark, data)`
  * (build) followed by a save to the `noop` sink (exec), one at a time.
  * After each request the harness records what the CacheManager still
  * holds, then clears the SQL cache; graft's FitCache is left alone.
  * With `--check DIR` an untimed pass then writes every result to
  * parquet for run.py's oracle compare. `--mode setup` stops after the
  * set-up measurement. Writes one JSON document to `--out`.
  *
  * Usage: perfbench.Main --mode run|setup --data DIR --queries a,b,...
  *   --seed N --seconds S --cores N --trace 0|1 --launched EPOCH_S
  *   --warm N --out FILE [--check DIR] [--footer TABLE]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launched = args("launched").toDouble
    val cores = args.getOrElse("cores", "4").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val data = args("data")

    val trace = new Trace
    val spark = session(cores, traced)
    if (traced) spark.sparkContext.addSparkListener(trace)
    // set-up ends with a ready session that has read its first parquet footer
    spark.read.parquet(s"$data/${args.getOrElse("footer", "lineitem")}.parquet").schema
    val ready = java.time.Instant.now()
    val setupS = ready.getEpochSecond + ready.getNano / 1e9 - launched
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS, "cores" -> cores)
    if (args("mode") == "run") out ++= run(spark, args, traced)
    spark.stop()
    if (traced) out("counters") = trace.result().toSeq.map { case ((req, span), c) =>
      c.toMap ++ Map("id" -> req, "span" -> span)
    }
    if (traced) out("job_spans") = trace.jobSpans.toSeq.map { case (req, span, job, t0, t1) =>
      Map("id" -> req, "span" -> span, "job" -> job, "start_ms" -> t0, "end_ms" -> t1)
    }
    Files.writeString(Paths.get(args("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
  }

  /** The session `graft.Bench` times: shuffle partitions = cores, AQE on,
    * UTC, nanosAsLong, UI off. */
  def session(cores: Int, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // a traced run must not drop listener events: counts have to be exact
    if (traced) b.config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(spark: SparkSession, args: Map[String, String],
                  traced: Boolean): Map[String, Any] = {
    val data = args("data")
    val queries = args("queries").split(",").toSeq
    val seconds = args("seconds").toDouble
    val minWarm = args("warm").toInt
    val rnd = new scala.util.Random(args("seed").toLong)
    val sc = spark.sparkContext
    val fns = queries.map(q => q -> graft.SparkEntry.queries(q)).toMap
    val t00 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    def now: Double = (System.nanoTime() - t00) / 1e9
    val requests = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    def span(name: String, kind: String, parent: String, t0: Double, t1: Double): Unit =
      if (traced) spans += Map("name" -> name, "kind" -> kind, "parent" -> parent,
        "start_s" -> t0, "end_s" -> t1)

    def request(pass: Int, kind: String, q: String)(sink: (String, DataFrame) => Unit): Unit = {
      val id = requests.size
      val name = s"request/$id"
      sc.setLocalProperty(Trace.ReqKey, id.toString)
      sc.setLocalProperty(Trace.SpanKey, "build")
      val (h0, m0, _) = graft.core.FitCache.stats
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (gc0, jit0) = (gcSeconds, jitSeconds)
      val bytes0 = cacheHeld(spark)._2
      val t0 = now
      var t1 = t0
      val error = try {
        val df = fns(q)(spark, data)
        t1 = now
        sc.setLocalProperty(Trace.SpanKey, "exec")
        sink(q, df)
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = now
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t2 = now
      sc.setLocalProperty(Trace.ReqKey, null)
      sc.setLocalProperty(Trace.SpanKey, null)
      val (h1, m1, _) = graft.core.FitCache.stats
      val (entries, bytes) = cacheHeld(spark)
      spark.catalog.clearCache()
      span(name, "request", s"pass/$pass", t0, t2)
      span(s"$name/build", "build", name, t0, t1)
      span(s"$name/exec", "exec", name, t1, t2)
      requests += Map("id" -> id, "pass" -> pass, "kind" -> kind, "query" -> q,
        "ok" -> error.isEmpty, "error" -> error.orNull,
        "start_s" -> t0, "build_s" -> (t1 - t0), "exec_s" -> (t2 - t1),
        "fitcache_hits" -> (h1 - h0), "fitcache_misses" -> (m1 - m0),
        "codegen_compilations" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
        "gc_s" -> (gcSeconds - gc0), "jit_s" -> (jitSeconds - jit0),
        "cache_entries" -> entries, "cache_bytes" -> bytes, "cache_bytes_before" -> bytes0)
    }

    def pass(p: Int, kind: String)(sink: (String, DataFrame) => Unit): Unit = {
      val t0 = now
      rnd.shuffle(queries).foreach(q => request(p, kind, q)(sink))
      span(s"pass/$p", kind, "run", t0, now)
    }
    val noop: (String, DataFrame) => Unit = (_, df) => df.write.format("noop").mode("overwrite").save()

    pass(0, "cold")(noop)
    var p = 1
    while (p <= minWarm || now < seconds) { pass(p, "warm")(noop); p += 1 }
    val timedEnd = now
    val jvm = Map("rss_peak_mb" -> vmHwmMb, "heap_peak_mb" -> heapPeakMb,
      "gc_s" -> gcSeconds, "jit_s" -> jitSeconds, "timed_s" -> timedEnd)
    args.get("check").foreach { dir =>
      pass(p, "check")((q, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q"))
      val oracles = graft.SparkEntry.oracleSql.filter(kv => fns.contains(kv._1))
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(oracles))
    }
    span("run", "run", "", 0.0, now)
    jvm ++ Map("requests" -> requests.toSeq, "spans" -> spans.toSeq, "epoch_ms" -> epoch0)
  }

  /** (CacheManager entries, bytes of every persisted RDD block held). */
  private def cacheHeld(spark: SparkSession): (Int, Long) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    val entries = f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    val bytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    (entries, bytes)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
