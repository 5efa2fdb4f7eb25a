package graft

import graft.operators.Joins
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Temporal-join operator semantics: each binned/merged implementation is
  * held to a brute-force reference computed on the same rows, plus the tie
  * and boundary cases the oracle data can't be relied on to contain.
  */
class JoinsSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // ------------------------------------------------------------------ asOf

  private def clicksDf = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100L),
    (1L, ts("2024-01-01 12:00:00"), 101L),
    (2L, ts("2024-01-01 11:00:00"), 102L),
    // two clicks at the SAME (user, ts): tie must resolve to max id (104)
    (3L, ts("2024-01-01 09:00:00"), 103L),
    (3L, ts("2024-01-01 09:00:00"), 104L)
  ).toDF("user_id", "click_ts", "click_id")

  private def purchasesDf = Seq(
    (200L, 1L, ts("2024-01-01 11:30:00")), // between user 1's clicks → 100
    (201L, 1L, ts("2024-01-01 12:00:00")), // exactly AT a click ts → inclusive, 101
    (202L, 2L, ts("2024-01-01 10:59:59")), // before user 2's only click → null
    (203L, 3L, ts("2024-01-01 09:30:00")), // after the tied pair → 104
    (204L, 4L, ts("2024-01-01 10:00:00"))  // user with no clicks at all → null
  ).toDF("purchase_id", "user_id", "purchase_ts")

  test("asOf: backward inclusive match, ties to max tie-break, left semantics") {
    val out = Joins.asOf(purchasesDf, clicksDf, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id")
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    out shouldBe Map(200L -> 100L, 201L -> 101L, 202L -> -1L, 203L -> 104L, 204L -> -1L)
  }

  test("asOf tolerance: too-old nearest match nulls out; in-window match survives") {
    // user 1 @11:30: nearest click 10:00 is 90 min back — outside a 30-min
    // tolerance → null; user 1 @12:00: click at 12:00 is 0 back → match
    val out = Joins.asOf(purchasesDf, clicksDf, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id", toleranceMicros = 30L * 60 * 1000000L)
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    out shouldBe Map(200L -> -1L, 201L -> 101L, 202L -> -1L, 203L -> 104L, 204L -> -1L)
  }

  test("asOf: output carries every left column and the right payload columns") {
    val out = Joins.asOf(purchasesDf, clicksDf, Seq("user_id"),
      "purchase_ts", "click_ts", "click_id")
    out.columns.toSeq shouldBe Seq("purchase_id", "user_id", "purchase_ts",
      "click_ts", "click_id")
  }

  test("asOf matches a brute-force per-row maximum over real event data") {
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
    val got = Joins.asOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id")
      .select("purchase_id", "click_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    val clickRows = clicks.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val want = purchases.collect().map { r =>
      val (pid, uid, pts) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
      val best = clickRows.filter(c => c._1 == uid && !c._2.after(pts))
        .sortBy(c => (c._2.getTime, c._3)).lastOption
      pid -> best.map(_._3)
    }.toMap
    got shouldBe want
    got.values.count(_.isDefined) should be > 0
  }

  // --------------------------------------------------- timeProximityPairs

  test("nearestAsOf: closest either direction, tie to backward, tolerance nulls, brute-force parity") {
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), 300L),
      (1L, ts("2024-01-01 10:40:00"), 301L),
      // equidistant pair around purchase 402 (±10 min): backward must win
      (2L, ts("2024-01-01 10:00:00"), 302L),
      (2L, ts("2024-01-01 10:20:00"), 303L),
      (3L, ts("2024-01-01 08:00:00"), 304L)
    ).toDF("user_id", "click_ts", "click_id")
    val purchases = Seq(
      (400L, 1L, ts("2024-01-01 10:15:00")), // back 15m < fwd 25m → 300
      (401L, 1L, ts("2024-01-01 10:30:00")), // fwd 10m < back 30m → 301 (forward wins!)
      (402L, 2L, ts("2024-01-01 10:10:00")), // tie 10m/10m → backward 302
      (403L, 3L, ts("2024-01-01 12:00:00")), // nearest 4h away > 30m tol → null
      (404L, 1L, ts("2024-01-01 10:40:00")), // exactly at a click → itself, distance 0
      (405L, 9L, ts("2024-01-01 10:00:00"))  // no clicks → null
    ).toDF("purchase_id", "user_id", "purchase_ts")
    val out = Joins.nearestAsOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id", toleranceMicros = 1800000000L)
      .select("purchase_id", "click_id").as[(Long, Option[Long])]
      .collect().toMap
    out shouldBe Map(400L -> Some(300L), 401L -> Some(301L), 402L -> Some(302L),
      403L -> None, 404L -> Some(301L), 405L -> None)
    // parity on real event data: brute-force nearest within tolerance
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val c = ev.where($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val p = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
    val tol = 1800000000L
    val got = Joins.nearestAsOf(p, c, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id", tol)
      .select("purchase_id", "click_id").as[(Long, Option[Long])].collect().toMap
    val brute = p.join(c, Seq("user_id"))
      .withColumn("d", abs(unix_micros($"click_ts") - unix_micros($"purchase_ts")))
      .where($"d" <= tol)
      .withColumn("fwd", $"click_ts" > $"purchase_ts")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("purchase_id")
          .orderBy($"d", $"fwd",
            when($"fwd", $"click_id").otherwise(-$"click_id"))))
      .where($"rn" === 1)
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toMap
    p.select("purchase_id").as[Long].collect().foreach { id =>
      got(id) shouldBe brute.get(id)
    }
  }

  test("timeProximityPairs equals the brute-force all-pairs answer") {
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val eps = 30L * 1000000 // 30 s: enough matches on the sparse sf0.001 stream
    val got = Joins.timeProximityPairs(ev, "event_id", "ts", eps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val rows = ev.select($"event_id", unix_micros($"ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      a <- rows; b <- rows
      if a._1 < b._1 && math.abs(a._2 - b._2) <= eps
    } yield (a._1, b._1, math.abs(a._2 - b._2))).toSet
    got shouldBe want
    got.size should be > 0
  }

  test("timeProximityPairs: exact-boundary gap is included, bin-crossing pairs found") {
    // 0→1 same bin, 1→2 adjacent bins, 2→3 gap exactly epsilon, 3→4 just over
    val pts = Seq((0L, 0L), (1L, 900000L), (2L, 1100000L), (3L, 2100000L),
        (4L, 3100001L))
      .toDF("id", "us").select($"id", timestamp_micros($"us").as("ts"))
    val got = Joins.timeProximityPairs(pts, "id", "ts", 1000000L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((0L, 1L), (1L, 2L), (2L, 3L))
  }

  // ----------------------------------------------------------- intervalJoin

  test("intervalJoin equals the brute-force range-predicate answer") {
    val points = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_orderkey", $"l_shipdate")
    val intervals = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .where($"o_totalprice" > 495000)
      .select($"o_orderkey", $"o_orderdate".as("s"),
        ($"o_orderdate" + expr("INTERVAL 7 DAYS")).as("e"))
    val day7 = 7L * 24 * 3600 * 1000000L
    val got = Joins.intervalJoin(points, "l_shipdate", intervals, "s", "e", day7)
      .select("o_orderkey", "l_orderkey", "l_shipdate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet

    val want = intervals.join(points,
        $"l_shipdate" >= $"s" && $"l_shipdate" < $"e")
      .select("o_orderkey", "l_orderkey", "l_shipdate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
    got shouldBe want
    got.size should be > 0
  }

  test("intervalJoin: half-open bounds, multi-bin intervals, empty intervals drop") {
    val mk = (us: Long) => timestamp_micros(lit(us))
    val points = Seq((1L, 0L), (2L, 500000L), (3L, 1000000L), (4L, 2499999L))
      .toDF("pid", "us").select($"pid", timestamp_micros($"us").as("pts"))
    val intervals = Seq(
      (10L, 0L, 1000000L),       // [0, 1s): pids 1,2 — 3 excluded (end-exclusive)
      (11L, 500000L, 2500000L),  // spans 3 bins at width 1s: pids 2,3,4
      (12L, 700000L, 700000L)    // empty interval: matches nothing
    ).toDF("iid", "s_us", "e_us")
      .select($"iid", timestamp_micros($"s_us").as("s"), timestamp_micros($"e_us").as("e"))
    val got = Joins.intervalJoin(points, "pts", intervals, "s", "e", 1000000L)
      .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L), (11L, 4L))
  }

  test("interpolateAsOf: bracketing interpolation, endpoint holds, exact hit passes through") {
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, 10.0),
      (1L, ts("2024-01-01 12:00:00"), 101L, 30.0),
      (2L, ts("2024-01-01 11:00:00"), 102L, 5.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val left = Seq(
      (200L, 1L, ts("2024-01-01 11:00:00")), // midpoint of 10..30 -> 20
      (201L, 1L, ts("2024-01-01 10:30:00")), // quarter -> 15
      (202L, 1L, ts("2024-01-01 09:00:00")), // before first -> endpoint 10
      (203L, 1L, ts("2024-01-01 13:00:00")), // after last -> endpoint 30
      (204L, 1L, ts("2024-01-01 10:00:00")), // exact hit -> 10
      (205L, 2L, ts("2024-01-01 12:00:00")), // single observation -> 5
      (206L, 3L, ts("2024-01-01 12:00:00")) // no observations -> null
    ).toDF("event_id", "user_id", "ts")
    val out = Joins.interpolateAsOf(left, right, Seq("user_id"), "ts", "ts",
        "event_id", "value")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    out(200L) shouldBe Some(20.0)
    out(201L) shouldBe Some(15.0)
    out(202L) shouldBe Some(10.0)
    out(203L) shouldBe Some(30.0)
    out(204L) shouldBe Some(10.0)
    out(205L) shouldBe Some(5.0)
    out(206L) shouldBe None
  }

  test("timeWeightedAvg: step-function hold, tie-pinned equal instants, null without a span") {
    val pts = Seq(
      // user 1: 10 held 10s, 30 held 20s -> (100+600)/30
      (1L, ts("2024-01-01 00:00:00"), 100L, 10.0),
      (1L, ts("2024-01-01 00:00:10"), 101L, 30.0),
      (1L, ts("2024-01-01 00:00:30"), 102L, 99.0), // last value never holds
      // user 2: equal-instant pair — id order pins which value holds
      (2L, ts("2024-01-01 00:00:00"), 200L, 10.0),
      (2L, ts("2024-01-01 00:00:10"), 201L, 20.0), // displaced at its own instant
      (2L, ts("2024-01-01 00:00:10"), 202L, 40.0), // holds the next 10s
      (2L, ts("2024-01-01 00:00:20"), 203L, 0.0),
      // user 3: single observation — no span
      (3L, ts("2024-01-01 00:00:00"), 300L, 7.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Joins.timeWeightedAvg(pts, Seq("user_id"), "ts", "value", "event_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    out(1L) shouldBe ((3L, Some(23.333333)))
    out(2L) shouldBe ((4L, Some(25.0))) // 10·10 + 20·0 + 40·10 over 20s
    out(3L) shouldBe ((1L, None))
  }

  test("interpolateAsOf: a null LEFT timestamp yields null, not the first observed value") {
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 100L, 10.0))
      .toDF("user_id", "ts", "event_id", "value")
    val left = Seq(
      (300L, 1L, Some(ts("2024-01-01 11:00:00"))), // after last -> endpoint 10
      (301L, 1L, Option.empty[java.sql.Timestamp]) // no instant to interpolate at
    ).toDF("event_id", "user_id", "ts")
    val out = Joins.interpolateAsOf(left, right, Seq("user_id"), "ts", "ts",
        "event_id", "value")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    out(300L) shouldBe Some(10.0)
    out(301L) shouldBe None // nulls-first sort would otherwise hand it value 10
  }

  test("interpolateAsOf matches a brute-force per-row computation on real events") {
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val left = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val right = ev.where($"event_type" === "view")
      .select($"user_id", $"ts", $"event_id", $"value")
    val got = Joins.interpolateAsOf(left, right, Seq("user_id"), "ts", "ts",
        "event_id", "value")
      .collect().map(r => r.getLong(0) ->
        Option(r.get(3)).map(v => math.round(v.asInstanceOf[Double] * 1e6))).toMap
    // brute force: per purchase, scan the user's views for the brackets
    // (epoch micros incl. the sub-millisecond part getTime drops)
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val views = right.collect()
      .map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val want = left.collect().map { r =>
      val (id, uid, t) = (r.getLong(0), r.getLong(1), us(r.getTimestamp(2)))
      val vs = views.getOrElse(uid, Array.empty)
      val back = vs.filter(_._2 <= t).sortBy(v => (v._2, v._3)).lastOption
      val fwd = vs.filter(_._2 > t).sortBy(v => (v._2, v._3)).headOption
      val interp = (back, fwd) match {
        case (None, None) => None
        case (None, Some(f)) => Some(f._4)
        case (Some(b), None) => Some(b._4)
        case (Some(b), Some(f)) =>
          Some(b._4 + (f._4 - b._4) * (t - b._2) / (f._2 - b._2))
      }
      id -> interp.map(v => math.round(v * 1e6))
    }.toMap
    got shouldBe want
    got.size should be > 0
  }

  test("intervalOverlapPairs equals the brute-force inequality join, emit-once") {
    // constructed micros intervals crossing bin boundaries at width 10
    val a = Seq(
      ("a1", 0L, 25L),   // spans bins 0-2
      ("a2", 12L, 14L),  // inside bin 1
      ("a3", 40L, 60L),  // spans bins 4-6
      ("a4", 5L, 5L)     // degenerate point interval
    ).toDF("a_id", "a_start", "a_end")
    val b = Seq(
      ("b1", 8L, 22L),   // overlaps a1 (8-22), a2 (12-14), a4? 5<8 no
      ("b2", 25L, 40L),  // touches a1 at 25 (zero-length) and a3 at 40
      ("b3", 100L, 110L) // overlaps nothing
    ).toDF("b_id", "b_start", "b_end")
    val got = Joins.intervalOverlapPairs(a, b, binMicros = 10L)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    // emit-once: no pair may appear twice even when it shares several bins
    got.map(t => (t._1, t._2)).distinct.length shouldBe got.length
    val want = a.join(b, $"a_start" <= $"b_end" && $"b_start" <= $"a_end")
      .select($"a_id", $"b_id",
        greatest($"a_start", $"b_start"), least($"a_end", $"b_end"),
        least($"a_end", $"b_end") - greatest($"a_start", $"b_start"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    got.toSet shouldBe want
    // the zero-duration touches are present (closed-interval semantics)
    got.toSet should contain(("a1", "b2", 25L, 25L, 0L))
    got.toSet should contain(("a3", "b2", 40L, 40L, 0L))
  }

  test("intervalOverlapPairs matches brute force on real per-day event spans") {
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val w = ev.select($"user_id", $"event_type",
      to_date($"ts").cast("string").as("day"), unix_micros($"ts").as("us"))
    val a = w.groupBy("user_id", "day").agg(min("us").as("a_start"), max("us").as("a_end"))
      .select(concat_ws(":", $"user_id", $"day").as("a_id"), $"a_start", $"a_end")
    val b = w.groupBy("event_type", "day").agg(min("us").as("b_start"), max("us").as("b_end"))
      .select(concat_ws(":", $"event_type", $"day").as("b_id"), $"b_start", $"b_end")
    val got = Joins.intervalOverlapPairs(a, b, binMicros = 21600000000L)
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = a.join(b, $"a_start" <= $"b_end" && $"b_start" <= $"a_end")
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    got shouldBe want
    got.size should be > 0
  }

  // ------------------------------------------------------------ plan shape

  test("temporal joins plan as hash equi-joins: no cartesian, no nested loop") {
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val pairsPlan = Joins.timeProximityPairs(ev, "event_id", "ts", 2000000L)
      .queryExecution.executedPlan.toString
    pairsPlan should not include "CartesianProduct"
    pairsPlan should not include "BroadcastNestedLoopJoin"

    val points = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_orderkey", $"l_shipdate")
    val intervals = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select($"o_orderkey", $"o_orderdate".as("s"),
        ($"o_orderdate" + expr("INTERVAL 7 DAYS")).as("e"))
    val ivPlan = Joins.intervalJoin(points, "l_shipdate", intervals, "s", "e",
        7L * 24 * 3600 * 1000000L)
      .queryExecution.executedPlan.toString
    ivPlan should not include "CartesianProduct"
    ivPlan should not include "BroadcastNestedLoopJoin"
  }

  test("bucketed tables join exchange-free; unbucketed baseline shuffles") {
    val wh = GraftSession.scratchDir("graft-bucketspec").toString
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    graft.sources.Bucketed.writeTable(orders, "spec_orders", "o_orderkey", 8, s"$wh/o")
    graft.sources.Bucketed.writeTable(lineitem, "spec_lineitem", "l_orderkey", 8, s"$wh/l")
    // force SMJ so the audit measures the exchange, not a broadcast rewrite
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = graft.sources.Bucketed.join(spark, "spec_orders",
        "spec_lineitem", "o_orderkey", "l_orderkey")
      val plan = bucketed.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      plan should not include "Exchange"
      // the layout is load-bearing: the same join over plain parquet shuffles
      val baseline = orders.join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"))
        .queryExecution.executedPlan.toString
      baseline should include("Exchange")
      // and the layout change is invisible to results
      val unbucketed = orders.join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"))
      bucketed.count() shouldBe unbucketed.count()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("date-partitioned layout: a day filter is a partition filter and round-trips rows") {
    val out = GraftSession.scratchDir("graft-bydate-spec").toString + "/ev"
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    graft.sources.DatePartitioned.writeByDay(ev, "ts", out)
    val day = ev.select(to_date($"ts").cast("string")).as[String].first()
    val got = graft.sources.DatePartitioned.readDay(spark, out, day)
    val plan = got.queryExecution.executedPlan.toString
    // the day predicate prunes at the directory level, not as a data filter
    plan should include("PartitionFilters")
    plan should include("event_date")
    got.count() shouldBe ev.where(to_date($"ts") === lit(day)).count()
  }

  test("asOf plans ONE width shuffle per side and no join operator at all") {
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
    val plan = Joins.asOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id")
      .queryExecution.executedPlan.toString
    // union-tag merge: a Window over EXACTLY one hashpartitioning exchange
    // (the union shuffles once; each input row moves once); the as-of
    // never materializes as a join (no probe explosion to skew)
    plan should include("Window")
    plan should not include "Join"
    plan.sliding("hashpartitioning".length).count(_ == "hashpartitioning") shouldBe 1
  }

  test("asOf: null join keys never match (SQL semantics), left rows survive") {
    val clicks = Seq((Some(7L), ts("2024-01-01 10:00:00"), 300L),
        (None: Option[Long], ts("2024-01-01 10:00:00"), 301L))
      .toDF("user_id", "click_ts", "click_id")
    val purchases = Seq((400L, None: Option[Long], ts("2024-01-01 11:00:00")),
        (401L, Some(7L), ts("2024-01-01 11:00:00")))
      .toDF("purchase_id", "user_id", "purchase_ts")
    val out = Joins.asOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id")
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // null-keyed purchase keeps LEFT semantics (emitted, no match) and the
    // null-keyed click matches nothing — unlike raw Window.partitionBy,
    // which groups nulls together
    out shouldBe Map(400L -> -1L, 401L -> 300L)
  }

  test("asOf: a null-timestamp right row is excluded, not carried as a match") {
    // under nulls-first ascending ordering a null-ts click would sort ahead
    // of every real row and be picked up by the running last() — SQL
    // temporal semantics say it has no position on the time axis at all
    val clicks = Seq((7L, None: Option[java.sql.Timestamp], 500L),
        (7L, Some(ts("2024-01-01 10:00:00")), 501L))
      .toDF("user_id", "click_ts", "click_id")
    val purchases = Seq(
        (600L, 7L, ts("2024-01-01 09:00:00")),  // only the null-ts click 'precedes' → no match
        (601L, 7L, ts("2024-01-01 11:00:00")))  // real click precedes → 501
      .toDF("purchase_id", "user_id", "purchase_ts")
    val out = Joins.asOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id")
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    out shouldBe Map(600L -> -1L, 601L -> 501L)
  }

  test("timeProximityPairs rejects non-integral id columns instead of null-casting") {
    val pts = Seq(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:00:01")))
      .toDF("id", "ts")
    val e = intercept[IllegalArgumentException] {
      Joins.timeProximityPairs(pts, "id", "ts", 60000000L)
    }
    e.getMessage should include("integral id column")
    // the documented escape hatch: hash the ids upstream
    val hashed = pts.withColumn("hid", xxhash64(col("id")))
    Joins.timeProximityPairs(hashed, "hid", "ts", 60000000L).count() shouldBe 1L
  }
}
