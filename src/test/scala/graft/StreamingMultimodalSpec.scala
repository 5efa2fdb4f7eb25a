package graft

import graft.operators.Multimodal
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

class StreamingMultimodalSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  // ------------------------------------------------------------- streaming

  test("windowed counts with watermark: late events beyond the watermark are dropped") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.windowedCounts(mem.toDF.toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("wmtest").outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2020-01-01 10:00:00"), "click", 1.0),
        (Timestamp.valueOf("2020-01-01 10:30:00"), "click", 2.0))
      q.processAllAvailable()
      // advance the watermark past 11:00 so the 10:00 window closes
      mem.addData((Timestamp.valueOf("2020-01-01 12:30:00"), "click", 5.0))
      q.processAllAvailable()
      // a late event inside the closed window: must be dropped
      mem.addData((Timestamp.valueOf("2020-01-01 10:15:00"), "click", 99.0))
      q.processAllAvailable()
      val rows = spark.table("wmtest")
        .select($"window_start", $"cnt", $"sum_value".cast("double"))
        .as[(Timestamp, Long, Double)].collect().toSeq
      rows shouldBe Seq((Timestamp.valueOf("2020-01-01 10:00:00"), 2L, 3.0))
    } finally q.stop()
  }

  test("streaming backfill equals the batch aggregation (AvailableNow, complete mode)") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = EventStream.backfillWindowedCounts(spark, path)
      .orderBy("window_start", "event_type")
      .select($"window_start", $"event_type", $"cnt", $"sum_value".cast("string"))
      .collect().toSeq
    val batch = EventStreamBatch.windowedCountsBatch(
      EventStream.withEventTime(spark.read.parquet(path)))
      .orderBy("window_start", "event_type")
      .select($"window_start", $"event_type", $"cnt", $"sum_value".cast("string"))
      .collect().toSeq
    streamed should not be empty
    streamed shouldBe batch
  }

  test("streaming dedup: doubled delivery reconstructs exactly the original events") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val deduped = EventStream.backfillStreamDedup(spark, path)
      .select($"event_id").as[Long].collect().sorted.toSeq
    val original = EventStream.withEventTime(spark.read.parquet(path))
      .select($"event_id").as[Long].collect().sorted.toSeq
    deduped should not be empty
    deduped shouldBe original
  }

  test("sessionization: custom state via flatMapGroupsWithState, watermark-gated emission") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sessions = EventStream.sessionize(spark,
      mem.toDF.toDF("user_id", "ts", "value"), gapMs = 3600000L, delay = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("sesstest")
      .outputMode("append").start()
    try {
      // user 7: two events 20 min apart (one session), then a 3-hour jump
      mem.addData(
        (7L, Timestamp.valueOf("2020-01-01 10:00:00"), 1.5),
        (7L, Timestamp.valueOf("2020-01-01 10:20:00"), 2.25),
        (7L, Timestamp.valueOf("2020-01-01 13:30:00"), 4.0))
      q.processAllAvailable()
      // watermark after batch 1 = 13:30 - 30min = 13:00 ≥ 10:20 + 1h gap →
      // the first session closes already; the 13:30 one stays open
      spark.table("sesstest").count() shouldBe 1
      // push the watermark past 13:30 + gap → the second session closes
      mem.addData((99L, Timestamp.valueOf("2020-01-01 18:00:00"), 0.0))
      q.processAllAvailable()
      // watermark is now 17:30 → both user-7 sessions are past end+gap
      val rows = spark.table("sesstest")
        .select($"user_id", $"session_start", $"session_end", $"n_events",
          $"sum_value".cast("double"))
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSeq
        .sortBy(_._2.getTime)
      rows shouldBe Seq(
        (7L, Timestamp.valueOf("2020-01-01 10:00:00"),
          Timestamp.valueOf("2020-01-01 10:20:00"), 2L, 3.75),
        (7L, Timestamp.valueOf("2020-01-01 13:30:00"),
          Timestamp.valueOf("2020-01-01 13:30:00"), 1L, 4.0))
    } finally q.stop()
  }

  test("native session_window twin: same sessions as custom state, strict at the exact-gap boundary") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sessions = EventStream.nativeSessionCounts(
      mem.toDF.toDF("user_id", "ts", "value")
        .withColumn("value", col("value")), gap = "1 hour", delay = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("nativesess")
      .outputMode("append").start()
    try {
      mem.addData(
        // user 7: 20-min gap merges (both semantics agree)
        (7L, Timestamp.valueOf("2020-01-01 10:00:00"), 1.5),
        (7L, Timestamp.valueOf("2020-01-01 10:20:00"), 2.25),
        // user 8: EXACTLY the 1-hour gap — native windows touching at the
        // boundary MERGE (inclusive), measured behavior pinned here
        (8L, Timestamp.valueOf("2020-01-01 10:00:00"), 1.0),
        (8L, Timestamp.valueOf("2020-01-01 11:00:00"), 2.0),
        // user 9: one MICROSECOND past the gap — splits
        (9L, Timestamp.valueOf("2020-01-01 10:00:00"), 1.0),
        (9L, Timestamp.valueOf("2020-01-01 11:00:00.000001"), 2.0))
      q.processAllAvailable()
      mem.addData((99L, Timestamp.valueOf("2020-01-01 18:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("nativesess")
        .select($"user_id", $"session_start", $"session_end", $"n_events",
          $"sum_value".cast("double"))
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSeq
        .sortBy(r => (r._1, r._2.getTime))
      rows shouldBe Seq(
        (7L, Timestamp.valueOf("2020-01-01 10:00:00"),
          Timestamp.valueOf("2020-01-01 10:20:00"), 2L, 3.75),
        (8L, Timestamp.valueOf("2020-01-01 10:00:00"),
          Timestamp.valueOf("2020-01-01 11:00:00"), 2L, 3.0),
        (9L, Timestamp.valueOf("2020-01-01 10:00:00"),
          Timestamp.valueOf("2020-01-01 10:00:00"), 1L, 1.0),
        (9L, Timestamp.valueOf("2020-01-01 11:00:00.000001"),
          Timestamp.valueOf("2020-01-01 11:00:00.000001"), 1L, 2.0))
    } finally q.stop()
  }

  test("stream-stream attribution join matches within the hour, same user only") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val joined = EventStream.attributionJoin(
      mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = joined.writeStream.format("memory").queryName("attrtest")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2020-01-01 10:00:00"), 7L, "click", 0.0, ""),
        (2L, Timestamp.valueOf("2020-01-01 10:30:00"), 7L, "purchase", 1.0, ""), // match
        (3L, Timestamp.valueOf("2020-01-01 12:00:00"), 7L, "purchase", 1.0, ""), // too late
        (4L, Timestamp.valueOf("2020-01-01 10:20:00"), 8L, "purchase", 1.0, ""), // other user
        (5L, Timestamp.valueOf("2020-01-01 09:50:00"), 7L, "purchase", 1.0, "")) // before click
      q.processAllAvailable()
      val rows = spark.table("attrtest")
        .select($"click_id", $"purchase_id").as[(Long, Long)].collect().toSeq
      rows shouldBe Seq(1L -> 2L)
    } finally q.stop()
  }

  test("attribution backfill equals the batch interval self-join") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = EventStream.backfillAttribution(spark, path)
      .select($"click_id", $"purchase_id", $"user_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val ev = EventStream.withEventTime(spark.read.parquet(path))
    val batch = ev.where($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("click_ts"))
      .join(ev.where($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("purchase_ts")),
        $"user_id" === $"p_user" && $"purchase_ts" >= $"click_ts" &&
          $"purchase_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"))
      .select($"click_id", $"purchase_id", $"user_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    streamed should not be empty
    streamed shouldBe batch
  }

  test("enriched backfill equals the batch broadcast-join aggregation") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = EventStream.backfillEnrichedCounts(spark, path)
      .orderBy("window_start", "tier")
      .select($"window_start", $"tier", $"cnt", $"sum_value".cast("string"))
      .collect().toSeq
    val ev = EventStream.withEventTime(spark.read.parquet(path))
    val batch = ev.join(EventStream.userTiers(spark, path), Seq("user_id"))
      .groupBy(window($"ts", "1 hour"), $"tier")
      .agg(count(lit(1)).as("cnt"), sum($"value".cast("decimal(18,6)")).as("sum_value"))
      .select($"window.start".as("window_start"), $"tier", $"cnt", $"sum_value".cast("string"))
      .orderBy("window_start", "tier")
      .collect().toSeq
    streamed should not be empty
    streamed shouldBe batch
  }

  test("validated ingest: violators quarantined exactly, replay idempotent, nothing dropped") {
    val root = GraftSession.scratchDir("graft-e13-spec").toString
    val src = s"$root/src"
    // 40 rows across two files (maxFilesPerTrigger=1 -> two micro-batches);
    // ids 5,10,...,40 carry a planted negative value
    spark.range(0, 20).select(col("id"), when(col("id") % 5 === 0 && col("id") > 0,
        -col("id").cast("double")).otherwise(col("id").cast("double")).as("value"))
      .write.parquet(src)
    spark.range(20, 40).select(col("id"), when(col("id") % 5 === 0,
        -col("id").cast("double")).otherwise(col("id").cast("double")).as("value"))
      .write.mode("append").parquet(src)
    val (g1, q1) = EventStream.validatedIngest(spark, src, s"$root/out",
      bad = col("value") < 0)
    g1 + q1 shouldBe 40L // nothing dropped
    q1 shouldBe 7L // 5,10,15,20,25,30,35 (0 stays good: -0 is not < 0)
    val quarantined = spark.read.parquet(s"$root/out/quarantine")
      .select("id").as[Long].collect().toSet
    quarantined shouldBe Set(5L, 10L, 15L, 20L, 25L, 30L, 35L)
    // replay: a second invocation over the same checkpoint sees no new
    // files and must not duplicate either sink
    val (g2, q2) = EventStream.validatedIngest(spark, src, s"$root/out",
      bad = col("value") < 0)
    (g2, q2) shouldBe ((g1, q1))
  }

  test("streaming sketch fold: batch partials union-merge to the batch fold's answer; replay is a no-op") {
    val root = GraftSession.scratchDir("graft-e14-spec").toString
    // 3 files -> 3 micro-batches; user space small enough for exact HLL
    val ev = spark.range(0, 300).select(
      (col("id") % 40).as("user_id"),
      (to_timestamp(lit("2024-04-01 00:00:00")) +
        make_dt_interval(col("id") % 10, lit(0), lit(0), lit(0))).as("ts"))
    ev.repartition(3).write.parquet(s"$root/src")
    EventStream.streamSketchFold(spark, s"$root/src", s"$root/rollup")
    val est = graft.operators.SketchRollup.rangeDistinctEstimate(
      spark.read.parquet(s"$root/rollup/days"), "2024-04-02", "2024-04-06")
      .collect().head.getLong(0)
    val exact = ev.where(to_date(col("ts")) >= lit("2024-04-02") &&
        to_date(col("ts")) < lit("2024-04-06"))
      .select("user_id").distinct().count()
    est shouldBe exact // sub-threshold HLL is exact
    // replay: same checkpoint, no new files -> rollup unchanged
    EventStream.streamSketchFold(spark, s"$root/src", s"$root/rollup")
    graft.operators.SketchRollup.rangeDistinctEstimate(
      spark.read.parquet(s"$root/rollup/days"), "2024-04-02", "2024-04-06")
      .collect().head.getLong(0) shouldBe est
  }

  test("backfills do not leak memory-sink temp tables or leave queries running") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    (1 to 10).foreach { _ =>
      EventStream.backfillWindowedCounts(spark, path).count() should be > 0L
    }
    val after = spark.catalog.listTables().collect().map(_.name).toSet
    after shouldBe before
    spark.streams.active shouldBe empty
  }

  test("backfills stage their input under the run's scratch root, not in java.io.tmpdir") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val staging = "graft-(stream|jsonl-events)\\d+".r
    def staged(): Set[String] = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")))(
      _.map(_.getFileName.toString).filter(staging.matches).toSet)
    val before = staged()
    EventStream.backfillWindowedCountsJsonl(spark, path).count() should be > 0L
    EventStream.backfillWindowedCounts(spark, path).count() should be > 0L
    staged() -- before shouldBe empty
  }

  test("sessionization backfill equals the batch gaps-and-islands computation") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = EventStream.backfillSessions(spark, path)
      .orderBy("user_id", "session_start")
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        $"sum_value".cast("decimal(20,6)").cast("string"))
      .collect().toSeq
    val ev = EventStream.withEventTime(spark.read.parquet(path))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val gap = 6L * 3600 * 1000
    val batch = ev
      .withColumn("prev", lag($"ts", 1).over(w))
      .withColumn("brk", when($"prev".isNull ||
        (unix_millis($"ts") - unix_millis($"prev")) > gap, 1).otherwise(0))
      .withColumn("sid", sum($"brk").over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy($"user_id", $"sid")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(round($"value", 6).cast("decimal(18,6)")).as("sum_value"))
    val maxTs = ev.agg(max(unix_millis($"ts"))).as[Long].head()
    val emitted = batch.where(unix_millis($"session_end") + gap <= maxTs - 3600000L)
      .orderBy("user_id", "session_start")
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        $"sum_value".cast("decimal(20,6)").cast("string"))
      .collect().toSeq
    streamed should not be empty
    streamed shouldBe emitted
  }

  test("incremental ingest: a rerun with the same checkpoint reads only new files; unchanged dir is a no-op") {
    val root = GraftSession.scratchDir("graft-incr-spec").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val (nA, nB) = (ev.where($"event_id" % 2 === 0).count(),
      ev.where($"event_id" % 2 === 1).count())
    ev.where($"event_id" % 2 === 0).write.parquet(s"$root/landing")
    // first run commits the first arrival's files
    graft.streaming.EventStream.incrementalIngest(
      spark, s"$root/landing", s"$root/sink", s"$root/ckpt") shouldBe nA
    spark.read.parquet(s"$root/sink").count() shouldBe nA
    // second arrival: only the NEW files are read (the file log remembers
    // the rest), and the sink ends complete with no duplicates
    ev.where($"event_id" % 2 === 1).write.mode("append").parquet(s"$root/landing")
    graft.streaming.EventStream.incrementalIngest(
      spark, s"$root/landing", s"$root/sink", s"$root/ckpt") shouldBe nB
    val sunk = spark.read.parquet(s"$root/sink")
    sunk.count() shouldBe (nA + nB)
    sunk.select("event_id").distinct().count() shouldBe (nA + nB)
    // an unchanged directory re-run reads nothing and writes nothing
    graft.streaming.EventStream.incrementalIngest(
      spark, s"$root/landing", s"$root/sink", s"$root/ckpt") shouldBe 0L
    spark.read.parquet(s"$root/sink").count() shouldBe (nA + nB)
  }

  test("streaming funnel: finalized users match the batch chain; trailing user withheld; " +
    "out-of-order and duplicate delivery are absorbed") {
    import graft.streaming.EventStream
    val steps = Seq("view", "click", "purchase")
    val hourUs = 3600L * 1000000
    def ev(u: Long, t: String, hour: Long) = {
      val ts = java.sql.Timestamp.from(java.sql.Timestamp
        .valueOf("2024-01-01 00:00:00").toInstant.plusSeconds(hour * 3600))
      (u * 1000 + hour, ts, u, t, 1.0, "{}")
    }
    // user 1: full traversal, early — finalizes
    // user 2: view then click OUT OF ORDER in the file layout — finalizes at 2 steps
    // user 3: click before any view (never qualifies past step 1) — finalizes
    // user 4: anchored ten hours before the end — horizon (4h) not yet
    //         past the final watermark (max ts - 1h) + ... anchor+4h+1h > max: withheld
    // user 5: duplicate delivery of every event — same funnel as if single
    val rows = Seq(
      ev(1, "view", 0), ev(1, "click", 1), ev(1, "purchase", 2),
      ev(2, "click", 2), ev(2, "view", 1), // arrival order ≠ event order
      ev(3, "click", 0), ev(3, "view", 1), ev(3, "purchase", 0),
      ev(4, "view", 96), ev(4, "click", 97),
      ev(5, "view", 0), ev(5, "view", 0), ev(5, "click", 3), ev(5, "click", 3),
      // a late tail event pushes the watermark far past the early anchors
      ev(9, "view", 100))
    val dir = GraftSession.scratchDir("graft-sfunnel").toString + "/ev"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(3).write.parquet(dir)
    val users = EventStream.backfillFunnelUsers(spark, dir, steps,
        horizonMicros = 4 * hourUs)
      .select($"user_id", $"steps_reached").as[(Long, Int)].collect().toMap
    // finalized: anchors at hour 0/1 with horizon 4h, final wm = hour 99
    users shouldBe Map(1L -> 3, 2L -> 2, 3L -> 1, 5L -> 2)
    // users 4 (anchor 96h + 4h horizon = 100h ≥ wm 99h) and 9 (anchor
    // 100h) are trailing — withheld exactly as a live stream would
    users.contains(4L) shouldBe false
    users.contains(9L) shouldBe false
    // cross-check the finalized set against the BATCH funnel on the same
    // events: per-step counts over finalized users must agree
    val batch = graft.operators.EventAnalytics.funnel(
        graft.streaming.EventStream.withEventTime(spark.read.parquet(dir))
          .where($"user_id".isin(1L, 2L, 3L, 5L)),
        "user_id", "ts", "event_type", steps, 4 * hourUs)
      .select($"step", $"n_users").as[(Long, Long)].collect().toMap
    val fromStream = (1 to 3).map(s =>
      s.toLong -> users.values.count(_ >= s).toLong).toMap
    fromStream shouldBe batch
  }

  test("streaming top-paths: finalized sessions equal the batch j16 chain; a late bridge merges; " +
    "duplicates absorbed; trailing session withheld") {
    import graft.streaming.EventStream
    var nextId = 0L
    def ev(u: Long, t: String, minute: Long) = {
      nextId += 1
      val ts = java.sql.Timestamp.from(java.sql.Timestamp
        .valueOf("2024-01-01 00:00:00").toInstant.plusSeconds(minute * 60))
      (nextId, ts, u, t, 1.0, "{}")
    }
    // gap 30 min. u1: one full session + a later singleton. u2: events
    // listed OUT OF ORDER. u3: duplicate delivery. u5: the bridge case —
    // view@0 and click@54 are 54 min apart (two sessions on their own);
    // the click@27 listed LAST bridges them into one. u9: a late tail
    // event pushes the watermark; its own session stays open (withheld).
    val rows = Seq(
      ev(1, "view", 0), ev(1, "click", 12), ev(1, "purchase", 24),
      ev(1, "view", 300),
      ev(2, "click", 24), ev(2, "view", 6), // arrival order ≠ event order
      ev(5, "view", 0), ev(5, "click", 54), ev(5, "click", 27), // bridge
      ev(9, "view", 6000))
    val u3 = { val e1 = ev(3, "view", 0); Seq(e1, e1, ev(3, "click", 20)) }
    val all = rows ++ u3
    val dir = GraftSession.scratchDir("graft-spaths").toString + "/ev"
    all.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(3).write.parquet(dir)
    val emitted = EventStream.backfillSessionPaths(spark, dir)
      .select($"user_id", $"path").as[(Long, String)].collect().toSeq.sorted
    emitted shouldBe Seq(
      (1L, "view"), (1L, "view>click>purchase"), (2L, "view>click"),
      (3L, "view>click"), (5L, "view>click>click"))
    // stream report ≡ batch j16 on the finalized population (u9's trailing
    // session is withheld exactly as a live stream would). u3 is excluded
    // from the batch side: its duplicate is IN the source parquet, so the
    // batch chain honestly renders "view>view>click" — the stream dedupes
    // duplicate DELIVERY (asserted above), which is a different contract
    // than duplicate source rows.
    val streamReport = graft.operators.EventAnalytics.topPathsFromSessionPaths(
        EventStream.backfillSessionPaths(spark, dir)
          .where($"user_id" =!= 3L))
      .as[(String, Long)].collect().toSeq
    val batchReport = graft.operators.EventAnalytics.topPaths(
        EventStream.withEventTime(spark.read.parquet(dir))
          .where($"user_id" =!= 9L && $"user_id" =!= 3L))
      .as[(String, Long)].collect().toSeq
    streamReport shouldBe batchReport
  }

  test("streaming CUSUM: the folded daily-count log reproduces the batch changepoint gate verbatim") {
    import graft.streaming.EventStream
    val root = GraftSession.scratchDir("graft-scusum").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartition(4).write.parquet(s"$root/src")
    EventStream.streamDailyCountFold(spark, s"$root/src", s"$root/log")
    val streamed = graft.operators.Quality.cusumShiftFromDaily(
        EventStream.readDeltaLog(spark, s"$root/log")
          .groupBy("day").agg(sum("d_n").as("cnt")))
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    val batch = graft.operators.Quality.cusumShift(
        EventStream.withEventTime(spark.read.parquet(s"$root/src")), "ts")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    streamed should not be empty
    streamed shouldBe batch
  }

  test("streaming moments: the folded second-moment log reproduces the batch correlation gate verbatim") {
    import graft.streaming.EventStream
    val root = GraftSession.scratchDir("graft-smom").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base.repartition(4).write.parquet(s"$root/src1")
    base.where($"doc_id" % 3 === 0).repartition(2).write.parquet(s"$root/src2")
    EventStream.streamMomentsFold(spark, s"$root/src1", s"$root/log1")
    EventStream.streamMomentsFold(spark, s"$root/src2", s"$root/log2")
    // multi-batch path actually exercised (maxFilesPerTrigger = 1)
    graft.util.FsUtil.listDir(java.nio.file.Paths.get(s"$root/log1/batches"))(
      _.count(_.getFileName.toString.startsWith("batch="))) should be >= 4
    val streamed = graft.operators.Quality.correlationReportFromMoments(
        EventStream.foldMoments(spark, s"$root/log1"),
        EventStream.foldMoments(spark, s"$root/log2"))
      .as[(Long, Double, Long, Double, Double)].collect().toSeq
    val batch = graft.operators.Quality.correlationDrift(
        base, base.where($"doc_id" % 3 === 0))
      .as[(Long, Double, Long, Double, Double)].collect().toSeq
    streamed should not be empty
    streamed shouldBe batch
  }

  test("streaming chi-squared: folded category-count logs reproduce the batch gate; one-sided categories align at 0") {
    import graft.streaming.EventStream
    val root = GraftSession.scratchDir("graft-schi2").toString
    val v1 = Seq("A", "A", "A", "B", "C", "C").toDF("category")
    val v2 = Seq("A", "B", "B", "D").toDF("category") // C vanishes, D appears
    v1.repartition(3).write.parquet(s"$root/src1")
    v2.repartition(2).write.parquet(s"$root/src2")
    EventStream.streamCategoryCountFold(spark, s"$root/src1", s"$root/log1", "category")
    EventStream.streamCategoryCountFold(spark, s"$root/src2", s"$root/log2", "category")
    val streamed = graft.operators.Quality.chiSquareFromCells(
        EventStream.foldContingency(spark, s"$root/log1", s"$root/log2"))
      .as[(String, Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Quality.chiSquareDrift(v1, v2, "category")
      .as[(String, Long, Long, Long)].collect().toSeq
    streamed should not be empty
    streamed shouldBe batch
    streamed.map(_._1) should contain allOf ("C", "D") // one-sided categories present
  }

  test("streaming stickiness: the folded (day, user) set log reproduces the batch DAU/MAU verbatim") {
    import graft.streaming.EventStream
    val root = GraftSession.scratchDir("graft-sstick").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartition(4).write.parquet(s"$root/src")
    EventStream.streamDayUserFold(spark, s"$root/src", s"$root/log")
    val streamed = graft.operators.EventAnalytics.stickinessFromPairs(
        EventStream.readDeltaLog(spark, s"$root/log")
          .select("day", "user_id").distinct())
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    val batch = graft.operators.EventAnalytics.stickiness(
        EventStream.withEventTime(spark.read.parquet(s"$root/src")))
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    streamed should not be empty
    streamed shouldBe batch
  }

  test("streaming norm profile: the folded sum+min+max partial log reproduces the batch audit verbatim") {
    import graft.streaming.EventStream
    val root = GraftSession.scratchDir("graft-snorm").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.repartition(4).write.parquet(s"$root/src")
    EventStream.streamNormFold(spark, s"$root/src", s"$root/log")
    val streamed = graft.operators.Similarity.normReport(
        EventStream.readDeltaLog(spark, s"$root/log")
          .select("n_vecs", "n_dims", "n_zero", "n_off_unit",
            "min_n2", "max_n2", "sum_n2"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Similarity.normProfile(emb)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    streamed shouldBe batch
    streamed.head._1 should be > 0L
  }

  test("streamed encoding fold: report over batch partials equals the batch report, positives live") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val root = GraftSession.scratchDir("graft-senc").toString
    val planted = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" \u00c3\u00a9 \u00e2\u20ac\u009d bad")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit("\u0000\u0001 bin \ufffd")))
          .otherwise(col("text")).as("text"))
    planted.repartition(4).write.parquet(s"$root/src")
    EventStream.streamEncodingFold(spark, s"$root/src", s"$root/log")
    val streamed = graft.operators.TextAnalysis.encodingReport(
        EventStream.readDeltaLog(spark, s"$root/log")
          .select("n_docs", "n_flagged", "n_chars", "n_replacement",
            "n_control", "n_mojibake"))
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    val batch = graft.operators.TextAnalysis.encodingReport(
        graft.operators.TextAnalysis.encodingPartials(planted))
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    streamed shouldBe batch
    val r = streamed.head
    r._1 should be > 0L // docs
    r._2 should be > 0L // flagged positives live
    r._4 should be > 0L // replacement chars planted
    r._6 should be > 0L // mojibake planted
  }

  test("streamed FD fold: report over the distinct-triple set log equals the batch report") {
    import graft.streaming.EventStream
    val root = GraftSession.scratchDir("graft-sfd").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"))
    src.repartition(4).write.parquet(s"$root/src")
    val fds = Seq("doc_id" -> "lang", "source" -> "lang")
    EventStream.streamFdFold(spark, s"$root/src", s"$root/log", fds)
    val streamed = graft.operators.Quality.fdReportFromTriples(
        EventStream.readDeltaLog(spark, s"$root/log").select("fd", "det", "dep"))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Quality.fdCheck(src, fds)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    streamed shouldBe batch
    // the key FD holds, the taxonomy FD genuinely branches — positives live
    val bySrc = streamed.map(r => r._1 -> r).toMap
    bySrc("doc_id->lang")._3 shouldBe 0L
    bySrc("source->lang")._3 should be > 0L
  }

  test("streamed Benford fold: report over the digit sum log equals the batch profile") {
    import graft.streaming.EventStream
    val root = GraftSession.scratchDir("graft-sbenf").toString
    val vals = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), (col("doc_id") % 997 + 1).as("v"))
    vals.repartition(4).write.parquet(s"$root/src")
    EventStream.streamBenfordFold(spark, s"$root/src", s"$root/log", "v")
    val streamed = graft.operators.Quality.benfordFromCounts(
        EventStream.readDeltaLog(spark, s"$root/log").select("digit", "n_obs"))
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Quality.benfordProfile(vals, "v")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    streamed shouldBe batch
    streamed.map(_._1) shouldBe (1 to 9)
    streamed.map(_._2).sum should be > 0L
  }

  test("top-k count-log compaction: fold invariant, stale replays ignored, second pass a no-op") {
    import graft.streaming.EventStream
    import graft.operators.SketchRollup
    val root = GraftSession.scratchDir("graft-topkc-spec").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartition(4).write.parquet(s"$root/src")
    def folded(): Seq[(java.sql.Date, String, Long, Long)] =
      SketchRollup.candidatesFromCountLog(
          EventStream.readDeltaLog(spark, s"$root/log"), m = 64)
        .select($"day", $"key".cast("string"), $"cnt", $"residual_max")
        .as[(java.sql.Date, String, Long, Long)].collect().toSeq
        .sortBy(r => (r._1.toString, r._2))
    EventStream.streamTopKCountFold(spark, s"$root/src", s"$root/log")
    val batches = s"$root/log/batches"
    def dirs(): Set[String] = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(batches))(
      _.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet)
    dirs() shouldBe Set("batch=0", "batch=1", "batch=2", "batch=3")
    val before = folded()
    // keep a replay copy of batch 1, then compact 0..2 into the segment
    val replayCopy = GraftSession.scratchDir("graft-topkc-replay")
    spark.read.parquet(s"$batches/batch=1").write
      .parquet(replayCopy.toString + "/batch=1")
    EventStream.compactTopKCountLog(spark, s"$root/log", 2L) shouldBe 3
    dirs() shouldBe Set("batch=-1", "batch=3")
    folded() shouldBe before // compaction is invisible to the statistic
    // a stale replay re-creates a compacted batch with its original
    // content — the horizon-aware reader ignores it
    spark.read.parquet(replayCopy.toString + "/batch=1").write
      .parquet(s"$batches/batch=1")
    spark.catalog.refreshByPath(batches)
    folded() shouldBe before
    // re-compaction folds segment + post-horizon batches, sweeps the
    // stale replay without re-folding; a further pass is a no-op
    EventStream.compactTopKCountLog(spark, s"$root/log", 3L) shouldBe 2
    dirs() shouldBe Set("batch=-1")
    folded() shouldBe before
    EventStream.compactTopKCountLog(spark, s"$root/log", 3L) shouldBe 0
    folded() shouldBe before
  }

  test("IDF delta-log compaction: fold invariant, stale replays ignored, second pass a no-op") {
    import graft.streaming.EventStream
    import graft.compile.QueryCompiler
    val root = GraftSession.scratchDir("graft-idfc-spec").toString
    val meta = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("string").as("id"), $"text".as("dataSample"))
    val terms = Seq("the", "data")
    meta.where($"id".cast("long") % 10 < 4).select("id", "dataSample")
      .repartition(4).write.parquet(s"$root/src")
    val stats0 = QueryCompiler.idfStatsTable(
      meta.where($"id".cast("long") % 10 >= 4), terms)
    def folded(): Seq[(String, Long, Long)] =
      QueryCompiler.idfStatsWithDeltas(stats0,
          EventStream.readDeltaLog(spark, s"$root/deltas"))
        .orderBy("term").as[(String, Long, Long)].collect().toSeq

    EventStream.streamIdfDeltaFold(spark, s"$root/src", s"$root/deltas", terms)
    val batches = s"$root/deltas/batches"
    def dirs(): Set[String] = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(batches))(
      _.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet)
    dirs() shouldBe Set("batch=0", "batch=1", "batch=2", "batch=3")
    val before = folded()

    // keep a replay copy of batch 1, then compact 0..2 into the segment
    val replayCopy = GraftSession.scratchDir("graft-idfc-replay")
    spark.read.parquet(s"$batches/batch=1").write
      .parquet(replayCopy.toString + "/batch=1")
    EventStream.compactIdfDeltaLog(spark, s"$root/deltas", 2L) shouldBe 3
    dirs() shouldBe Set("batch=-1", "batch=3")
    folded() shouldBe before // compaction is invisible to the statistic

    // a stale replay re-creates a compacted batch's directory with its
    // ORIGINAL content (the checkpoint contract) — the horizon-aware
    // reader must ignore it, so the fold is unchanged
    spark.read.parquet(replayCopy.toString + "/batch=1").write
      .parquet(s"$batches/batch=1")
    spark.catalog.refreshByPath(batches)
    folded() shouldBe before

    // re-compaction folds segment + post-horizon batches only and SWEEPS
    // the stale replay without re-folding it; a further pass is a no-op
    EventStream.compactIdfDeltaLog(spark, s"$root/deltas", 3L) shouldBe 2
    dirs() shouldBe Set("batch=-1")
    folded() shouldBe before
    EventStream.compactIdfDeltaLog(spark, s"$root/deltas", 3L) shouldBe 0
    folded() shouldBe before
  }

  test("windowed unique users: chained dedup+count equals batch distinct; unfinalized tail withheld") {
    import org.apache.spark.sql.functions._
    val path = "/root/testdata/sf0.001/events.parquet"
    val out = graft.streaming.EventStream.backfillWindowedUniqueUsers(spark, path)
      .as[(java.sql.Timestamp, Long)].collect().toMap
    val ev = graft.streaming.EventStream.withEventTime(spark.read.parquet(path))
    val batch = ev.groupBy(date_trunc("hour", $"ts").as("ws"))
      .agg(countDistinct($"user_id").as("n"))
      .as[(java.sql.Timestamp, Long)].collect().toMap
    // every emitted window carries the exact batch distinct count
    out.foreach { case (ws, n) => batch(ws) shouldBe n }
    // withheld windows are exactly those the final watermark hasn't passed
    val wmMs = ev.agg(max($"ts")).head().getTimestamp(0).getTime - 3600 * 1000L
    val (finalized, pending) = batch.keySet.partition(_.getTime + 3600 * 1000L <= wmMs)
    out.keySet shouldBe finalized
    pending.foreach(ws => out.get(ws) shouldBe None)
    pending.nonEmpty shouldBe true // the cutoff is actually exercised
  }

  test("stream ingest to index: per-micro-batch appends equal a monolithic rebuild") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val all = (0L until 40L).map(i => i -> Array.fill(16)(rnd.nextFloat() - 0.5f))
      .toDF("vec_id", "embedding")
    val base = all.where($"vec_id" < 25)
    val batch = all.where($"vec_id" >= 25)
    val cents = graft.operators.Similarity.ivfCentroids(base, 8)
    val root = GraftSession.scratchDir("graft-streamidx").toString
    graft.operators.Similarity.ivfIndex(base, cents).write
      .partitionBy("cell").parquet(s"$root/idx")
    // 3 landed files → maxFilesPerTrigger=1 forces 3 real micro-batches
    batch.repartition(3).write.parquet(s"$root/landing")
    graft.streaming.EventStream.streamIngestToIndex(
      spark, s"$root/landing", cents, s"$root/idx")
    val streamed = spark.read.parquet(s"$root/idx")
    val rebuilt = graft.operators.Similarity.ivfIndex(all, cents)
    streamed.select("vec_id", "cell").orderBy("vec_id").collect().toSeq shouldBe
      rebuilt.select("vec_id", "cell").orderBy("vec_id").collect().toSeq
    // and the search over the streamed index equals the rebuilt one
    val q = all.where($"vec_id" < 2)
    graft.operators.Similarity.ivfTopKIndexed(streamed, cents, q, 5, nprobe = 8)
      .orderBy("q_id", "rank").collect().toSeq shouldBe
      graft.operators.Similarity.ivfTopKIndexed(rebuilt, cents, q, 5, nprobe = 8)
        .orderBy("q_id", "rank").collect().toSeq
    // the landing dir really was consumed file-by-file: 3 data files
    graft.util.FsUtil.listDir(java.nio.file.Paths.get(s"$root/landing"))(
      _.count(_.getFileName.toString.endsWith(".parquet"))) shouldBe 3
  }

  test("stream ingest to store: net latest-per-key lands as one delta commit, duplicates converge") {
    // stage a small event file: user 1 updated twice, user 2 once
    val dir = GraftSession.scratchDir("graft-ingest").toString
    Seq(
      (1L, Timestamp.valueOf("2020-01-01 10:00:00"), 1L, "click", 1.0, "p1"),
      (2L, Timestamp.valueOf("2020-01-01 11:00:00"), 1L, "view", 2.0, "p2"),
      (3L, Timestamp.valueOf("2020-01-01 10:30:00"), 2L, "click", 3.0, "p3")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events")
    val store = new graft.store.MetadataStore(spark,
      GraftSession.scratchDir("graft-ingest-store").toString,
      () => Timestamp.valueOf("2020-01-01 00:00:00"))
    EventStream.streamIngestToStore(spark, s"$dir/events", store) { batch =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy($"ts".desc, $"event_id".desc)
      batch.withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select(
          format_string("%06d", $"user_id").as("id"),
          $"event_type".as("category"),
          lit(null).cast("timestamp").as("creationTime"),
          $"props".as("dataSample"), lit("json").as("format"),
          ($"user_id" % 2 === 0).as("isPublic"),
          concat(lit("org"), ($"user_id" % 5).cast("string")).as("orgUUID"),
          $"event_id".as("recordCount"), $"user_id".as("size"),
          lit("http://s.example.com/e").as("sourceUri"),
          concat(lit("http://d.example.com/u/"), $"user_id".cast("string")).as("targetUri"),
          concat(lit("evt-"), $"event_id".cast("string")).as("title"),
          lit(null).cast("string").as("storeType"))
        .as(org.apache.spark.sql.Encoders.product[graft.model.MetadataEntry])
    }
    val state = store.current.select("id", "category", "recordCount")
      .as[(String, String, Long)].collect().toSet
    state shouldBe Set(("000001", "view", 2L), ("000002", "click", 3L))
    // single micro-batch → exactly one committed version
    store.versionHistory().map(_.version) shouldBe Seq(1L)
    spark.streams.active shouldBe empty
  }

  // ------------------------------------------------------------ multimodal

  private val docsDf = Seq(
    (0L, "hello world", "en", "src1", 11L),
    (1L, "spark streams", "en", "src1", 13L),
    (2L, "catalyst rules", "en", "src2", 14L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("media records carry binary payloads with typed metadata") {
    val media = Multimodal.mediaFromDocuments(docsDf).orderBy("media_id").collect()
    media.map(_.getAs[String]("kind")).toSeq shouldBe Seq("image", "audio", "video")
    media.foreach(_.getAs[Array[Byte]]("payload").length shouldBe 16) // md5 = 16 bytes
  }

  test("feature extraction: nibble histogram matches a reference implementation, batched per partition") {
    val media = Multimodal.mediaFromDocuments(docsDf)
    val feats = Multimodal.features(spark, media).collect().sortBy(_.media_id)
    feats.foreach { f =>
      f.dim shouldBe 16
      f.features.sum shouldBe 32.0 // 16 bytes → 32 nibbles
    }
    val md = java.security.MessageDigest.getInstance("MD5").digest("hello world".getBytes)
    feats.head.features shouldBe Multimodal.FeatureExtractor.stub(md)
  }

  test("resize stub: deterministic byte bucketing to the target size") {
    val media = Multimodal.mediaFromDocuments(docsDf)
    val resized = Multimodal.resize(spark, media, 4).orderBy("media_id").collect()
    resized.foreach { r =>
      r.getInt(2) shouldBe 4 // 16-byte payload → 4 buckets
      r.getAs[Array[Byte]]("resized").length shouldBe 4
    }
    // deterministic: same input → same bytes
    val again = Multimodal.resize(spark, media, 4).orderBy("media_id").collect()
    resized.map(_.getAs[Array[Byte]]("resized").toSeq).toSeq shouldBe
      again.map(_.getAs[Array[Byte]]("resized").toSeq).toSeq
  }

  test("frame sampling stub: stride subsamples the payload deterministically") {
    val media = Multimodal.mediaFromDocuments(docsDf)
    val sampled = Multimodal.sampleFrames(spark, media, 4).orderBy("media_id").collect()
    sampled.foreach(_.getInt(1) shouldBe 4) // 16 bytes, stride 4
  }

  test("streaming signature ingest: index-only pairs equal the text-path incremental dedup; replay overwrites") {
    import graft.streaming.EventStream
    import graft.operators.Dedup
    val root = GraftSession.scratchDir("graft-sig-spec").toString
    val ds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = ds.where($"doc_id" % 3 =!= 0L)
    val batch = ds.where($"doc_id" % 3 === 0L)
    Dedup.signatureIndex(base).write.parquet(s"$root/idx/batch=-1")
    batch.repartition(3).write.parquet(s"$root/landing")
    EventStream.streamSignatureIngest(spark, s"$root/landing", s"$root/idx")
    def pairs(): Set[(Long, Long)] = {
      val idx = spark.read.parquet(s"$root/idx").select("doc_id", "sig")
      Dedup.incrementalPairsFromIndex(
          idx.where($"doc_id" % 3 =!= 0L), idx.where($"doc_id" % 3 === 0L),
          threshold = 0.6)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    }
    val viaIndex = pairs()
    // the text path (d9's operator) must agree exactly — the index lost nothing
    val viaText = Dedup.incrementalMinhashPairs(
        Dedup.signatureIndex(base), batch, threshold = 0.6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    viaIndex shouldBe viaText
    // replayed batch directory rewrites in place: same signatures, same pairs
    val b0 = spark.read.parquet(s"$root/idx/batch=0")
    val rows = b0.collect()
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), b0.schema)
      .write.mode("overwrite").parquet(s"$root/idx/batch=0")
    spark.catalog.refreshByPath(s"$root/idx")
    pairs() shouldBe viaIndex

    // compaction: batches 0..1 fold into the batch=-1 segment — pure
    // physical rewrite, same signature rows, same pairs (read through the
    // horizon-aware reader, the e26 path)
    def pairs2(): Set[(Long, Long)] = {
      val i2 = EventStream.readSignatureIndex(spark, s"$root/idx")
      Dedup.incrementalPairsFromIndex(
          i2.where($"doc_id" % 3 =!= 0L), i2.where($"doc_id" % 3 === 0L),
          threshold = 0.6)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    }
    def dirs(): Set[String] = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(s"$root/idx"))(
      _.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet)
    val preRows = EventStream.readSignatureIndex(spark, s"$root/idx")
      .as[(Long, Seq[Long])].collect().toSet
    EventStream.compactSignatureIndexLog(spark, s"$root/idx", 1L) shouldBe 2
    dirs() shouldBe Set("batch=-1", "batch=2")
    EventStream.readSignatureIndex(spark, s"$root/idx")
      .as[(Long, Seq[Long])].collect().toSet shouldBe preRows
    pairs2() shouldBe viaIndex
    // a stale replay re-creates a compacted batch dir: the horizon-aware
    // reader ignores it, and the next compaction sweeps it as stale
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), b0.schema)
      .write.parquet(s"$root/idx/batch=0")
    spark.catalog.refreshByPath(s"$root/idx")
    EventStream.readSignatureIndex(spark, s"$root/idx")
      .as[(Long, Seq[Long])].collect().toSet shouldBe preRows
    EventStream.compactSignatureIndexLog(spark, s"$root/idx", 2L) shouldBe 2
    dirs() shouldBe Set("batch=-1")
    // a further pass is a no-op
    EventStream.compactSignatureIndexLog(spark, s"$root/idx", 2L) shouldBe 0
    pairs2() shouldBe viaIndex
  }

  test("streaming signature ingest refuses a session with AQE off; the shared session is untouched") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val root = GraftSession.scratchDir("graft-sig-noaqe").toString
    val e = the[IllegalArgumentException] thrownBy
      EventStream.streamSignatureIngest(noAqe, s"$root/landing", s"$root/idx")
    e.getMessage should include("spark.sql.adaptive.enabled")
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
  }

  test("GraftSession.isolated carries the caller's settable confs and the overrides; the caller is untouched") {
    // a caller whose confs differ from what a bare newSession() would start
    // with, so only copying can carry them into the clone
    val caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    caller.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val partitions = caller.conf.get("spark.sql.shuffle.partitions")
    val aqe = caller.conf.get("spark.sql.adaptive.enabled")
    val clone = GraftSession.isolated(caller,
      "spark.sql.shuffle.partitions" -> "3", "spark.sql.adaptive.enabled" -> "false")
    clone should not be theSameInstanceAs(caller)
    clone.sparkContext should be theSameInstanceAs caller.sparkContext
    clone.conf.get("spark.sql.session.timeZone") shouldBe "America/New_York"
    clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "false"
    clone.conf.get("spark.sql.shuffle.partitions") shouldBe "3"
    clone.conf.get("spark.sql.adaptive.enabled") shouldBe "false"
    caller.conf.get("spark.sql.shuffle.partitions") shouldBe partitions
    caller.conf.get("spark.sql.adaptive.enabled") shouldBe aqe
    partitions should not be "3"
    aqe shouldBe "true"
  }

  test("streamed merge feed: a refused micro-batch fails the feed, and the batch before it stays committed") {
    import java.nio.file.{Files, Paths}
    val root = GraftSession.scratchDir("graft-merge-fail").toString
    val store = new graft.store.MetadataStore(spark, s"$root/store",
      () => Timestamp.valueOf("2020-01-01 00:00:00"))
    val rows = spark.createDataset(Fixtures.corpus).toDF().withColumn("_delete", lit(false))
    val first = rows.where($"id" === Fixtures.corpus(0).id)
    val one = rows.where($"id" === Fixtures.corpus(1).id)
    // two one-file landings with distinct modification times, so the file
    // source drains them in this order; the second repeats an id, which the
    // merge refuses as ambiguous
    Files.createDirectories(Paths.get(s"$root/src"))
    Seq(first, one.unionByName(one)).zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$root/stage$i")
      val part = graft.util.FsUtil.listDir(Paths.get(s"$root/stage$i"))(
        _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq).head
      val landed = Files.move(part, Paths.get(s"$root/src/landed-$i.parquet"))
      Files.setLastModifiedTime(landed,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
    }
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStream.streamMergeFeed(spark, s"$root/src", store)
    }
    val refusal = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e }
    refusal.map(_.getMessage).getOrElse("") should include("merge refused")
    store.versionHistory().map(_.version) shouldBe Seq(1L)
    store.current.collect().map(_.id).toSeq shouldBe Seq(Fixtures.corpus(0).id)
    spark.streams.active shouldBe empty
  }

  test("generic sum-log compaction: classifier counts fold-invariant, stale replay ignored, second pass a no-op") {
    import graft.streaming.EventStream
    import graft.operators.TextAnalysis
    val root = GraftSession.scratchDir("graft-clslog-spec").toString
    val ds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ds.where($"doc_id" % 2 === 0L).repartition(3).write.parquet(s"$root/src")
    val base = TextAnalysis.classifierCounts(ds.where($"doc_id" % 2 =!= 0L))
    EventStream.streamClassifierDeltaFold(spark, s"$root/src", s"$root/deltas")
    def folded(): Map[String, (Long, Long)] =
      TextAnalysis.classifierCountsWithDeltas(base,
          EventStream.readDeltaLog(spark, s"$root/deltas"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def dirs(): Set[String] = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(s"$root/deltas/batches"))(
      _.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet)
    dirs() shouldBe Set("batch=0", "batch=1", "batch=2")
    val before = folded()
    val replay = spark.read.parquet(s"$root/deltas/batches/batch=1").drop("batch").collect()
    val replaySchema = spark.read.parquet(s"$root/deltas/batches/batch=1").drop("batch").schema
    EventStream.compactSumLog(spark, s"$root/deltas", 1L,
      Seq("token"), Seq("pc", "nc")) shouldBe 2
    dirs() shouldBe Set("batch=-1", "batch=2")
    folded() shouldBe before // compaction invisible to the statistic
    // a stale replay re-creates a compacted batch with its original
    // content — the horizon-aware reader must ignore it
    spark.createDataFrame(spark.sparkContext.parallelize(replay.toSeq, 1), replaySchema)
      .write.parquet(s"$root/deltas/batches/batch=1")
    spark.catalog.refreshByPath(s"$root/deltas/batches")
    folded() shouldBe before
    // re-compaction sweeps the stale replay without re-folding it
    EventStream.compactSumLog(spark, s"$root/deltas", 2L,
      Seq("token"), Seq("pc", "nc")) shouldBe 2
    dirs() shouldBe Set("batch=-1")
    folded() shouldBe before
    EventStream.compactSumLog(spark, s"$root/deltas", 2L,
      Seq("token"), Seq("pc", "nc")) shouldBe 0
  }

  test("streaming PSI: stream-folded bucket counts give the exact batch psiDrift; replay and compaction invisible") {
    import graft.streaming.EventStream
    import graft.operators.Quality
    val root = GraftSession.scratchDir("graft-psi-spec").toString
    val ds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = ds.where($"doc_id" % 2 === 0L)
    val streamed = ds.where($"doc_id" % 2 =!= 0L)
    streamed.repartition(3).write.parquet(s"$root/src")
    EventStream.streamQualityBucketFold(spark, s"$root/src", s"$root/deltas")
    def viaStream(): (Double, String) = {
      val c2 = EventStream.readDeltaLog(spark, s"$root/deltas")
        .groupBy("bucket").agg(sum("d_n").as("n"))
      Quality.psiFromCounts(Quality.qualityBucketCounts(ref), c2)
        .as[(Double, String)].collect().head
    }
    val direct = Quality.psiDrift(ref, streamed)
      .as[(Double, String)].collect().head
    viaStream() shouldBe direct
    // generic sum-log compaction applies verbatim; the alarm is unchanged
    EventStream.compactSumLog(spark, s"$root/deltas", 1L,
      Seq("bucket"), Seq("d_n")) shouldBe 2
    viaStream() shouldBe direct
  }

  test("DSIR raw-model stream fold: batch deltas re-sum to the direct raw counts; replay overwrites, never duplicates") {
    import graft.streaming.EventStream
    import graft.operators.Pipeline
    val root = GraftSession.scratchDir("graft-dsir-spec").toString
    val ds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ds.repartition(4).write.parquet(s"$root/src")
    val vocab = Pipeline.dsirVocab(ds.where($"lang" === "en"), 64)
    val feats = vocab.select("feat").as[String].collect().toSeq
    EventStream.streamDsirRawFold(spark, s"$root/src", s"$root/deltas", feats)
    val batches = s"$root/deltas/batches"
    graft.util.FsUtil.listDir(java.nio.file.Paths.get(batches))(
      _.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet) shouldBe
      Set("batch=0", "batch=1", "batch=2", "batch=3")
    def folded(): Map[String, Long] = spark.read.parquet(batches)
      .groupBy("feat").agg(sum("d_rc").as("rc"))
      .as[(String, Long)].collect().toMap
    // order-free integer re-sum equals the batch-free direct counts
    val direct = Pipeline.dsirRawCounts(Pipeline.docTokenCounts(ds), vocab)
      .as[(String, Long)].collect().toMap
    folded() shouldBe direct
    // a replayed batch rewrites its own directory: fold unchanged
    val b2 = spark.read.parquet(s"$batches/batch=2").collect()
    spark.createDataFrame(spark.sparkContext.parallelize(b2.toSeq, 1),
        spark.read.parquet(s"$batches/batch=2").schema)
      .write.mode("overwrite").parquet(s"$batches/batch=2")
    spark.catalog.refreshByPath(batches)
    folded() shouldBe direct
    // the DSIR log is a pure per-key sum log, so the GENERIC compactor
    // applies verbatim (the scaladoc claim, exercised): fold invariant
    // through the horizon-aware reader, aged directories swept
    def foldedAware(): Map[String, Long] =
      graft.streaming.EventStream.readDeltaLog(spark, s"$root/deltas")
        .groupBy("feat").agg(sum("d_rc").as("rc"))
        .as[(String, Long)].collect().toMap
    graft.streaming.EventStream.compactSumLog(spark, s"$root/deltas", 2L,
      Seq("feat"), Seq("d_rc")) shouldBe 3
    foldedAware() shouldBe direct
    graft.util.FsUtil.listDir(java.nio.file.Paths.get(batches))(
      _.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet) shouldBe
      Set("batch=-1", "batch=3")
  }

  test("transition fold: boundary transitions recovered; immune to batch-id order") {
    import java.sql.Timestamp
    import graft.streaming.EventStream
    import graft.operators.EventAnalytics
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1's timeline spans three time slices: [view], [click], [view];
    // user 2 skips the middle slice: [view], —, [purchase]; the three
    // slices are REGISTERED with permuted batch ids (2, 0, 1) — exactly
    // the file-source dispatch-order hazard the fold must be immune to
    val slices = Seq(
      Seq((1L, 1L, "view", t(0)), (2L, 2L, "view", t(1))),
      Seq((3L, 1L, "click", t(10))),
      Seq((4L, 1L, "view", t(20)), (5L, 2L, "purchase", t(21))))
    val batchIds = Seq(2, 0, 1)
    val root = GraftSession.scratchDir("graft-e29-spec").toString
    slices.zip(batchIds).foreach { case (rows, b) =>
      import org.apache.spark.sql.expressions.Window
      val e = rows.toDF("event_id", "user_id", "event_type", "ts")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val wd = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      val ranked = e
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("rx", row_number().over(wd))
      ranked.where(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("d_n"))
        .write.mode("overwrite").parquet(s"$root/counts/batch=$b")
      ranked.groupBy("user_id")
        .agg(max(when(col("rn") === 1, col("event_type"))).as("first_type"),
          max(when(col("rn") === 1, col("us"))).as("first_us"),
          max(when(col("rn") === 1, col("event_id"))).as("first_eid"),
          max(when(col("rx") === 1, col("event_type"))).as("last_type"))
        .write.mode("overwrite").parquet(s"$root/bounds/batch=$b")
    }
    val folded = EventStream.foldTransitionLog(spark, root)
      .as[(String, String, Long, Long)].collect().toSeq
    val direct = EventAnalytics.transitionMatrix(
        slices.flatten.toDF("event_id", "user_id", "event_type", "ts"))
      .as[(String, String, Long, Long)].collect().toSeq
    folded shouldBe direct
    // the boundary transitions ARE in there: user 1 view→click across
    // slices 0→1 and click→view across 1→2; user 2 view→purchase across
    // the GAP (absent from the middle slice)
    direct.map(r => (r._1, r._2, r._3)).toSet shouldBe
      Set(("view", "click", 1L), ("click", "view", 1L),
        ("view", "purchase", 1L))
  }
}

/** Batch twin of the streaming aggregation, used to prove stream/batch
  * equivalence.
  */
object EventStreamBatch {
  import org.apache.spark.sql.DataFrame
  def windowedCountsBatch(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
}
