package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = graft.core.Session()

  test("windowed event stats aggregate a memory stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowedEventStats(events)
      .writeStream.format("memory").queryName("win_stats")
      .outputMode("update").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:05:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:25:00")
      in.addData((t0, "click", 2.0), (t1, "click", 4.0), (t1, "view", 10.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
      val click = rows.find(_.getString(0) == "click").get
      assert(click.getLong(2) == 2L)
      assert(math.abs(click.getDouble(3) - 3.0) < 1e-12)
    } finally q.stop()
  }

  test("streaming sample: candidate superset always contains the exact global bottom-k") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Long]
    val events = in.toDF().toDF("event_id")
    val q = StreamingOps.streamingSampleCandidates(events, "event_id", k = 8, buckets = 4)
      .writeStream.format("memory").queryName("smp_cand")
      .outputMode("append").start()
    try {
      // two micro-batches: arrival order must not change the final sample
      in.addData(1L to 250L: _*); q.processAllAvailable()
      in.addData(251L to 500L: _*); q.processAllAvailable()
      val cand = spark.table("smp_cand")
        .select(col("prio"), col("id")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val exact = (1L to 500L)
        .map(i => (java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString, i))
        .sorted.take(8)
      // the true bottom-8 must be a subset of the emitted candidates,
      // and selecting bottom-8 from the candidates reproduces it exactly
      assert(exact.forall(cand.contains), s"missing: ${exact.filterNot(cand.contains)}")
      assert(cand.toSeq.sorted.take(8) == exact)
      // bounded superset: expected O(k·ln(n/k)) entrants per bucket
      assert(cand.length < 200, s"candidate set too large: ${cand.length}")
    } finally q.stop()
  }

  test("streaming quantile monitor: sketch quantiles respect the exact-rank contract per window") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val events = in.toDF().toDF("ts", "value")
    val q = StreamingOps.streamingQuantiles(events, "value", "ts")
      .writeStream.format("memory").queryName("win_quant")
      .outputMode("complete").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:05:00")
      // one window, values 1..200: exact p10/p50/p90 = 20/100/180 ranks
      in.addData((1 to 200).map(i => (t0, i.toDouble)): _*)
      q.processAllAvailable()
      val r = spark.table("win_quant").head()
      assert(r.getLong(r.fieldIndex("n")) == 200L)
      val (q10, q50, q90) = (r.getDouble(r.fieldIndex("q10")),
        r.getDouble(r.fieldIndex("q50")), r.getDouble(r.fieldIndex("q90")))
      assert(q10 <= q50 && q50 <= q90)
      // percentile_approx contract: rank error ≤ n/accuracy (=0.2 here),
      // so at n=200 the quantiles are exact order statistics
      assert(math.abs(q10 - 20.0) <= 2.0 && math.abs(q50 - 100.0) <= 2.0 &&
        math.abs(q90 - 180.0) <= 2.0, s"($q10, $q50, $q90)")
      assert(r.getDouble(r.fieldIndex("vmin")) == 1.0)
      assert(r.getDouble(r.fieldIndex("vmax")) == 200.0)
    } finally q.stop()
  }

  test("streaming drift gate: windowed PSI matches the independent restatement; drifted window alarms") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // batch-profiled reference: quartile bounds + raw shares over 4 bins
    val bounds = Seq(95.0, 100.0, 105.0)
    val refShares = Seq(0.25, 0.25, 0.25, 0.25)
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val q = StreamingOps.streamingDriftGate(in.toDF().toDF("ts", "v"), "v", "ts",
        bounds, refShares, windowLen = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("update").start()
    try {
      val calm = java.sql.Timestamp.valueOf("2026-01-01 10:10:00")
      val hot = java.sql.Timestamp.valueOf("2026-01-01 12:10:00")
      // calm window: matches the reference quartiles; hot window: all mass
      // in the top bin
      val calmVals = Seq(90.0, 97.0, 103.0, 110.0, 92.0, 98.0, 104.0, 111.0)
      val hotVals = Seq.fill(8)(120.0)
      in.addData(calmVals.map((calm, _)) ++ hotVals.map((hot, _)): _*)
      q.processAllAvailable()
      val rows = spark.table("drift_out").collect()
        .map(r => r.getTimestamp(0) -> r.getDouble(2)).toMap
      def psiOf(vals: Seq[Double]): Double = {
        val counts = (0 to 3).map(b => vals.count(v =>
          (b == 0 || v > bounds(b - 1)) && (b == 3 || v <= bounds(b))))
        (0 to 3).map { b =>
          val pc = (counts(b) + 1.0) / (vals.size + 4.0)
          (pc - 0.25) * math.log(pc / 0.25)
        }.sum
      }
      val calmWin = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      val hotWin = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
      assert(math.abs(rows(calmWin) - psiOf(calmVals)) < 1e-5,
        s"calm ${rows(calmWin)} vs ${psiOf(calmVals)}")
      assert(math.abs(rows(hotWin) - psiOf(hotVals)) < 1e-5)
      assert(rows(calmWin) < 0.1 && rows(hotWin) > 0.5,
        s"calm=${rows(calmWin)} hot=${rows(hotWin)}")
    } finally q.stop()
  }

  test("streaming decontamination joins the stream against the static benchmark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingOps.streamingDecontaminate(docs, bench)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("update").start()
    try {
      in.addData((10L, "intro words alpha beta gamma delta epsilon outro"),
        (11L, "zeta eta theta iota kappa nothing shared here"))
      q.processAllAvailable()
      val rows = spark.table("decon_out").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows.get(10L).contains((3L, 6L)), rows.toString)
      assert(!rows.contains(11L), rows.toString)
    } finally q.stop()
  }

  test("streaming SES tracks the batch recursion across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val events = in.toDF().toDF("event_type", "ts", "value")
    val q = StreamingOps.streamingSES(events, 0.3)
      .writeStream.format("memory").queryName("ses_out")
      .outputMode("update").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      in.addData(("s", ts(1), 10.0), ("s", ts(2), 12.0))
      q.processAllAvailable()
      in.addData(("s", ts(3), 11.0))
      q.processAllAvailable()
      val level = spark.table("ses_out").orderBy(col("n").desc).head().getDouble(1)
      val want = Seq(12.0, 11.0).foldLeft(10.0)((s, x) => 0.3 * x + 0.7 * s)
      assert(math.abs(level - want) < 1e-12, s"$level vs $want")
    } finally q.stop()
  }

  test("streaming Kalman CV matches the batch recursion across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val events = in.toDF().toDF("event_type", "ts", "value")
    val q = StreamingOps.streamingKalmanCV(events, 0.05, 0.01, 2.0)
      .writeStream.format("memory").queryName("kf_out")
      .outputMode("update").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      val xs = Seq(10.0, 12.0, 13.5, 15.2, 16.8)
      in.addData(("s", ts(1), xs(0)), ("s", ts(2), xs(1)), ("s", ts(3), xs(2)))
      q.processAllAvailable()
      in.addData(("s", ts(4), xs(3)), ("s", ts(5), xs(4)))
      q.processAllAvailable()
      val got = spark.table("kf_out").orderBy(col("n").desc).head()
      // replay the batch path on the same points
      val batch = graft.tsa.TimeSeries.kalmanCV(
        xs.zipWithIndex.map { case (x, t) => ("s", t.toLong, x) }.toDF("series", "t", "x"),
        0.05, 0.01, 2.0).head()
      assert(math.abs(got.getDouble(1) - batch.getDouble(2)) < 1e-4, "level")
      assert(math.abs(got.getDouble(2) - batch.getDouble(3)) < 1e-4, "trend")
      assert(math.abs(got.getDouble(4) - batch.getDouble(5)) < 1e-4, "sum_innov2")
    } finally q.stop()
  }

  test("streaming dedup emits each content hash once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingOps.streamingDedup(docs)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "hello world"), (2L, "hello  world"), (3L, "other text"))
      q.processAllAvailable()
      in.addData((4L, "hello world"))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length == 2) // "hello world" once (doc 1), "other text" once
      assert(rows.map(_.getLong(1)).toSet == Set(1L, 3L))
    } finally q.stop()
  }

  test("streaming dedup vs a persisted index drops exactly the prior-corpus collisions") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // prior corpus index: one row per ingested content hash (the shape
    // ModelIO persists); note "hello  world" normalizes to "hello world"
    val index = Seq("hello world", "seen before").toDF("text")
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.col("text"), "\\s+", " ")))).as("content_hash"))
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingOps.streamingDedupVsIndex(docs, index)
      .writeStream.format("memory").queryName("dedup_idx_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "hello  world"), (2L, "fresh text"), (3L, "seen before"))
      q.processAllAvailable()
      in.addData((4L, "another new one"))
      q.processAllAvailable()
      val ids = spark.table("dedup_idx_out").collect().map(_.getLong(1)).toSet
      assert(ids == Set(2L, 4L), s"emitted $ids")
    } finally q.stop()
  }

  test("streaming pii scrub masks in-flight and matches the batch hash") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingOps.streamingPiiScrub(docs)
      .writeStream.format("memory").queryName("pii_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "mail a@b.io ip 10.0.0.1 acct 123456789"), (2L, "clean"))
      q.processAllAvailable()
      val rows = spark.table("pii_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      assert(rows(1L) == ((1L, 1L, 1L, "mail <EMAIL> ip <IP> acct <NUM>")), rows(1L).toString)
      assert(rows(2L) == ((0L, 0L, 0L, "clean")), rows(2L).toString)
      // the batch op's hash equals md5 of the stream's masked text (shared exprs)
      val batch = graft.text.TextOps.piiMask(
        Seq((1L, "mail a@b.io ip 10.0.0.1 acct 123456789")).toDF("doc_id", "text"),
        "text", "doc_id").head().getString(4)
      val streamHash = Seq(rows(1L)._4).toDF("t")
        .select(md5(col("t"))).head().getString(0)
      assert(batch == streamHash)
    } finally q.stop()
  }

  test("streaming ngram score equals the batch scorer on the same rows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val w = (b: org.apache.spark.sql.Column) =>
      ((b * lit(2654435761L)) % 1997).cast("double") / 1997.0 - 0.5
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingOps.streamingNgramScore(docs, 256, w, 0.1)
      .writeStream.format("memory").queryName("ngs_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "alpha bravo charlie delta"), (2L, "echo foxtrot"))
      q.processAllAvailable()
      val streamed = spark.table("ngs_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), math.rint(r.getDouble(2) * 1e6) / 1e6))).toMap
      val batch = graft.text.TextOps.hashedNgramScore(
        Seq((1L, "alpha bravo charlie delta"), (2L, "echo foxtrot")).toDF("doc_id", "text"),
        "text", "doc_id", 256, w, 0.1)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed == batch, s"$streamed vs $batch")
    } finally q.stop()
  }

  test("streaming quality gate keeps only rule-passing documents") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingOps.streamingQualityGate(docs)
      .writeStream.format("memory").queryName("qgate_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, (1 to 20).map(i => s"tok$i").mkString(" ")),       // keeper
        (2L, "too short"),                                      // word count
        (3L, ((1 to 12).map(_.toString) :+ "w").mkString(" ")), // numeric
        (4L, Seq.fill(25)("same").mkString(" ")))               // uniq ratio
      q.processAllAvailable()
      val kept = spark.table("qgate_out").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L), kept.toString)
    } finally q.stop()
  }

  test("streaming outlier gate flags exactly the batch-profiled spikes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // profile offline with the batch op...
    val hist = ((0 until 30).map(i => ("s", s"2026-01-$i", 50.0 + (i % 5))) :+
      (("s", "2026-01-99", 500.0)))
      .toDF("series", "day", "x")
    val prof = graft.stats.Robust.outlierMad(hist).head()
    val (med, mad) = (prof.getDouble(2), prof.getDouble(3))
    // ...then gate a live stream with the profiled literals
    val in = MemoryStream[(Long, Double)]
    val q = StreamingOps.streamingOutlierGate(
        in.toDF().toDF("event_id", "value"), "value", med, mad)
      .writeStream.format("memory").queryName("ogate_out")
      .outputMode("update").start()
    try {
      in.addData((1L, 52.0), (2L, 480.0), (3L, 49.0), (4L, -200.0))
      q.processAllAvailable()
      val flagged = spark.table("ogate_out").collect().map(_.getLong(0)).toSet
      assert(flagged == Set(2L, 4L), flagged.toString)
    } finally q.stop()
  }

  test("streaming as-of enrichment matches the batch as-of join rules") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // (key, event_id, t, is_state, value): state updates + lookups
    val in = MemoryStream[(Long, Long, Long, Boolean, Double)]
    val q = StreamingOps.streamingAsOf(
        in.toDF().toDF("key", "event_id", "t", "is_state", "value"))
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      // batch 1: state at t=60 (v=0.5); lookup at t=100 sees it; lookup
      // at t=50 precedes any state -> null; equal-time state admitted
      in.addData((1L, 1L, 60L, true, 0.5), (1L, 10L, 100L, false, 0.0),
        (1L, 12L, 50L, false, 0.0), (1L, 2L, 100L, true, 0.7),
        (2L, 20L, 100L, false, 0.0))
      q.processAllAvailable()
      // batch 2: carried state answers a later lookup
      in.addData((1L, 11L, 200L, false, 0.0))
      q.processAllAvailable()
      val r = spark.table("asof_out").collect()
        .map(x => x.getLong(1) -> (if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
      assert(r(10L).contains(0.7), r.toString)  // equal-time state wins (t=100)
      assert(r(12L).isEmpty, r.toString)        // no prior state
      assert(r(20L).isEmpty, r.toString)        // key without state
      assert(r(11L).contains(0.7), r.toString)  // carried across batches
    } finally q.stop()
  }

  test("document chunking runs unchanged on a stream (stateless codegen twin)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = graft.text.TextOps.chunkDocuments(
        in.toDF().toDF("doc_id", "text"), "text", "doc_id", chunk = 4, overlap = 1)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "a b c d e f g h i j"))  // 10 tokens, stride 3
      q.processAllAvailable()
      val rows = spark.table("chunk_out").orderBy("chunk").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      // 1 + ceil((10-4)/3) = 3 chunks; starts 0/3/6, the last reaches token 10
      assert(rows.toSeq == Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)),
        rows.mkString(","))
    } finally q.stop()
  }

  test("streaming outlier gate refuses a degenerate MAD = 0 profile") {
    import spark.implicits._
    val df = Seq((1L, 2.0)).toDF("event_id", "value")
    intercept[IllegalArgumentException] {
      StreamingOps.streamingOutlierGate(df, "value", median = 1.0, mad = 0.0)
    }
  }

  test("streaming sessionization matches the batch gap rule per user") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val events = in.toDF().toDF("user_id", "event_id", "ts")
    val q = StreamingOps.streamingSessions(events, gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      // user 1: two events 5 min apart (one session) + one 115 min later
      // (second session); user 2: a singleton
      val rows = Seq((1L, 1L, ts(10, 0)), (1L, 2L, ts(10, 5)), (1L, 3L, ts(12, 0)),
        (2L, 4L, ts(10, 0)))
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sess_out").groupBy("user_id")
        .agg(count(lit(1)).as("ns"), sum("n_events").as("ne"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = graft.events.Sessionize.userSessions(
          rows.toDF("user_id", "event_id", "ts"), gapUs = 30L * 60 * 1000000)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == batch, s"streaming $got vs batch $batch")
      assert(got(1L) == ((2L, 3L)) && got(2L) == ((1L, 1L)), got.toString)
    } finally q.stop()
  }

  test("streaming top-event picks the windowed majority with sorted-tie rule") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingOps.streamingTopEvent(
        in.toDF().toDF("ts", "event_type"), Seq("click", "purchase", "view"))
      .writeStream.format("memory").queryName("top_ev")
      .outputMode("update").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      // window 10:00: view×3, click×1 → view; window 11:00: click×2,
      // purchase×2 tie → click (sorted-smallest)
      in.addData((ts(10, 1), "view"), (ts(10, 2), "view"), (ts(10, 3), "view"),
        (ts(10, 4), "click"), (ts(11, 1), "click"), (ts(11, 2), "click"),
        (ts(11, 3), "purchase"), (ts(11, 4), "purchase"))
      q.processAllAvailable()
      val got = spark.table("top_ev").collect()
        .map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      assert(got("2026-01-01 10:00:00.0") == ((4L, "view", 3L)), got.toString)
      assert(got("2026-01-01 11:00:00.0") == ((4L, "click", 2L)), got.toString)
    } finally q.stop()
  }

  test("streaming funnel carries state across micro-batches and matches batch conversions") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val events = in.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = StreamingOps.streamingFunnel(events, "a", "b", "c")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      // u1 converts ACROSS batches (a,b in batch 1; c in batch 2);
      // u2 does b before a (never converts); u3 converts inside batch 2;
      // u4 emits c with no prior b (no conversion)
      val batch1 = Seq((1L, 1L, "a", ts(0)), (1L, 2L, "b", ts(1)),
        (2L, 3L, "b", ts(0)), (2L, 4L, "a", ts(1)), (4L, 5L, "c", ts(2)))
      val batch2 = Seq((1L, 6L, "c", ts(10)), (2L, 7L, "c", ts(11)),
        (3L, 8L, "a", ts(10)), (3L, 9L, "b", ts(11)), (3L, 10L, "c", ts(12)),
        (4L, 11L, "a", ts(10)))
      in.addData(batch1: _*); q.processAllAvailable()
      assert(spark.table("funnel_out").count() == 0L)
      in.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("funnel_out").collect()
        .map(r => r.getLong(0)).toSet
      assert(got == Set(1L, 3L), s"converted $got")
      // batch op on the union agrees on who reaches step 3
      val all = (batch1 ++ batch2).toDF("user_id", "event_id", "event_type", "ts")
      val b = graft.events.Funnel.funnel3(all, "a", "b", "c").head()
      assert(b.getLong(b.fieldIndex("n_step3")) == 2L)
      // a second c for user 1 must NOT re-emit (done flag)
      in.addData((1L, 12L, "c", ts(20))); q.processAllAvailable()
      assert(spark.table("funnel_out").count() == 2L)
    } finally q.stop()
  }

  test("streaming profile matches a batch recomputation of the same window (update across batches)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val q = StreamingOps.streamingProfile(in.toDF().toDF("ts", "value"), "value")
      .writeStream.format("memory").queryName("profile_out")
      .outputMode("update").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      val vals1 = Seq(10.0, 20.0, 20.0)
      val vals2 = Seq(40.0, 10.0)
      in.addData(vals1.zipWithIndex.map { case (v, i) => (ts(i), v) }: _*)
      q.processAllAvailable()
      in.addData(vals2.zipWithIndex.map { case (v, i) => (ts(10 + i), v) }: _*)
      q.processAllAvailable()
      // the 10:00 window's LATEST update row restates the full profile
      val rows = spark.table("profile_out").collect()
        .filter(_.getTimestamp(0).toString.startsWith("2026-01-01 10:00"))
      val all = vals1 ++ vals2
      val n = all.length.toDouble
      val mean = all.sum / n
      val sd = math.sqrt(all.map(v => (v - mean) * (v - mean)).sum / (n - 1))
      val last = rows.maxBy(_.getLong(rows.head.fieldIndex("n")))
      assert(last.getLong(last.fieldIndex("n")) == all.length)
      assert(last.getDouble(last.fieldIndex("min")) == all.min)
      assert(last.getDouble(last.fieldIndex("max")) == all.max)
      assert(math.abs(last.getDouble(last.fieldIndex("mean")) - mean) < 1e-3)
      assert(math.abs(last.getDouble(last.fieldIndex("stddev")) - sd) < 1e-3)
      // HLL++ on 4 distinct small values is exact in practice; allow slack
      val ad = last.getLong(last.fieldIndex("approx_distinct"))
      assert(ad >= 3 && ad <= 5, s"approx distinct $ad")
    } finally q.stop()
  }

  test("streaming model score serves a persisted linear model per micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // fit offline on the real table, persist, then serve a stream from the
    // saved copy — the fit→save→serve handoff with no refit
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val m = graft.linear.OLS.fit(li, Seq("l_quantity"), "l_extendedprice")
    val path = java.nio.file.Files.createTempDirectory("graft_stream_model").toString
    graft.io.ModelIO.saveLinear(spark, m, path)
    val in = MemoryStream[Double]
    val q = StreamingOps.streamingModelScore(in.toDF().toDF("l_quantity"),
        path, Seq("l_quantity"))
      .writeStream.format("memory").queryName("model_score")
      .outputMode("append").start()
    try {
      in.addData(10.0, 20.0)
      q.processAllAvailable()
      val rows = spark.table("model_score").orderBy("l_quantity").collect()
      assert(rows.length == 2)
      // identical to driver-side evaluation of the fitted coefficients
      rows.zip(Seq(10.0, 20.0)).foreach { case (r, x) =>
        val want = m.coefs(0) + m.coefs(1) * x
        assert(math.abs(r.getDouble(r.fieldIndex("prediction")) - want) < 1e-12)
      }
    } finally q.stop()
  }

  test("streaming series score serves a persisted per-series model") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // fit the per-series HW state offline, persist, serve a stream of
    // (series, x) events through the loaded frame — stream-static join
    val daily = graft.tsa.TimeSeries.dailySeries(
      graft.core.Tables.events(spark, "/root/testdata/sf0.001"))
    val state = graft.tsa.TimeSeries.hwFitStateRaw(
      daily, 7, Seq(0.2, 0.4, 0.6, 0.8), Seq(0.1, 0.3), Seq(0.1, 0.3, 0.5))
    val path = java.nio.file.Files.createTempDirectory("graft_stream_series").toString
    graft.io.ModelIO.saveSeriesModel(state, "hw_additive", path)
    val expect = state.collect()
      .groupBy(_.getString(0))
      .map { case (s, rs) =>
        val kv = rs.map(r => r.getString(1) -> r.getDouble(2)).toMap
        s -> (kv("level") + kv("trend") + kv("season_0"))
      }
    val someSeries = expect.keys.head
    val in = MemoryStream[(String, Double)]
    val q = StreamingOps.streamingSeriesScore(
        in.toDF().toDF("series", "x"), path, "hw_additive")
      .writeStream.format("memory").queryName("series_score")
      .outputMode("append").start()
    try {
      in.addData((someSeries, 5.0), ("no_such_series", 1.0))
      q.processAllAvailable()
      val rows = spark.table("series_score").collect()
      // unknown series dropped by the inner join; known series scored
      assert(rows.length == 1 && rows.head.getString(0) == someSeries)
      val want = math.rint(expect(someSeries) * 10000) / 10000
      assert(rows.head.getDouble(rows.head.fieldIndex("forecast1")) == want)
      assert(rows.head.getDouble(rows.head.fieldIndex("residual")) ==
        math.rint((5.0 - expect(someSeries)) * 10000) / 10000)
    } finally q.stop()
  }

  test("streaming media features equal the batch decode on the same payloads") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val gif = graft.multimodal.Multimodal.gifEncode(
      (0 until 12).map(i => (i * 11 % 256).toByte).toArray, 4, 3)
    val png = graft.multimodal.Multimodal.pngEncode(
      (0 until 12).map(i => (i * 13 % 256).toByte).toArray, 3, 4)
    val opaque = "not a media payload".getBytes("UTF-8")
    val in = MemoryStream[(Long, Array[Byte], String)]
    val media = in.toDF().toDF("doc_id", "payload", "mt")
      .select(col("doc_id"), col("payload"),
        struct(octet_length(col("payload")).cast("long").as("n_bytes"),
          col("mt").as("media_type"), lit(0).as("width"), lit(0).as("height")).as("meta"))
    val q = StreamingOps.streamingMediaFeatures(media)
      .writeStream.format("memory").queryName("media_feats")
      .outputMode("append").start()
    try {
      in.addData((1L, gif, "image"), (2L, png, "image"), (3L, opaque, "video"))
      q.processAllAvailable()
      val rows = spark.table("media_feats").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](r.fieldIndex("features"))).toMap
      assert(rows.size == 3)
      // one decode definition serves batch and stream: exact equality
      assert(rows(1L) == graft.multimodal.Multimodal.decode(gif))
      assert(rows(2L) == graft.multimodal.Multimodal.decode(png))
      assert(rows(3L) == graft.multimodal.Multimodal.decode(opaque))
      // and the real parsers actually fired (stats differ from byte stats)
      assert(rows(1L) != graft.multimodal.Multimodal.decode(opaque))
    } finally q.stop()
  }
}
