package graft.operators

import graft.SparkSpec
import java.sql.Timestamp

class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def us(s: String) = ts(s).getTime * 1000L

  private def ev(rows: (Long, String, Long, String)*) =
    rows.toDF("event_id", "ts_str", "user_id", "event_type")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id", "event_type")

  test("as-of join: latest view at or before each purchase, per user") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 7L, "view"),
      (2L, "2024-01-01 10:05:00", 7L, "view"),
      (3L, "2024-01-01 10:07:00", 7L, "purchase"),
      (4L, "2024-01-01 10:10:00", 7L, "view"),
      (5L, "2024-01-01 09:00:00", 8L, "purchase"), // no prior view
      (6L, "2024-01-01 11:00:00", 8L, "view"),
      (7L, "2024-01-01 12:00:00", 8L, "purchase"))
    val out = EventOps.lastViewBeforePurchase(events).collect()
    val m = out.map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(m(3L) == Some(us("2024-01-01 10:05:00")))
    assert(m(5L) == None)
    assert(m(7L) == Some(us("2024-01-01 11:00:00")))
  }

  test("as-of join: view at exact purchase instant counts") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:00:00", 1L, "purchase"))
    val out = EventOps.lastViewBeforePurchase(events).collect()
    assert(out.head.getLong(3) == us("2024-01-01 10:00:00"))
  }

  test("sessionize splits on >30min gaps") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:10:00", 1L, "click"),
      (3L, "2024-01-01 11:00:00", 1L, "view"),  // 50min gap → new session
      (4L, "2024-01-01 11:20:00", 1L, "view"),
      (5L, "2024-01-01 09:00:00", 2L, "view"))
    val out = EventOps.sessionize(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 2L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("propsStats parses k and aggregates per type") {
    val events = Seq(
      (1L, "click", """{"k": 5}"""),
      (2L, "click", """{"k": -2}"""),
      (3L, "view", """{"other": 1}"""))
      .toDF("event_id", "event_type", "props")
    val out = EventOps.propsStats(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("click") == (2L, 3L))
    assert(out("view") == (1L, 0L))
  }

  test("nearbyEventPairs: binned interval join, including cross-bin matches") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "error"),
      (2L, "2024-01-01 10:03:00", 2L, "purchase"), // 3 min after error 1 (same bin)
      (3L, "2024-01-01 10:06:00", 3L, "purchase"), // 6 min — outside ±5
      (4L, "2024-01-01 12:00:00", 4L, "error"),
      (5L, "2024-01-01 11:55:30", 5L, "purchase")) // 4.5 min before error 4 (bin-1)
    val out = EventOps.nearbyEventPairs(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, 180L * 1000000),
      (4L, 1L, 270L * 1000000)))
    // exact-tolerance boundary is inclusive
    val edge = ev(
      (1L, "2024-01-01 10:00:00", 1L, "error"),
      (2L, "2024-01-01 10:05:00", 2L, "purchase"))
    val e = EventOps.nearbyEventPairs(edge).collect().head
    assert(e.getLong(1) == 1L && e.getLong(2) == 300L * 1000000)
  }

  test("gapFilledHourlyCounts emits zero rows for missing hours inside each type's range") {
    val events = Seq(
      (1L, "2024-01-01 10:10:00", 1L, "click"),
      (2L, "2024-01-01 13:20:00", 1L, "click"), // hours 11,12 missing
      (3L, "2024-01-01 10:30:00", 2L, "view"))  // single-hour type: no gap
    val df = ev(events: _*)
    val out = EventOps.gapFilledHourlyCounts(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val clicks = out.filter(_._1 == "click")
    assert(clicks.map(_._3).toSeq == Seq(1L, 0L, 0L, 1L))
    assert(clicks.map(_._2).toSeq == (10 to 13).map(h => us(f"2024-01-01 $h%02d:00:00")))
    assert(out.filter(_._1 == "view").toSeq == Seq(("view", us("2024-01-01 10:00:00"), 1L)))
  }

  test("dailyRetention counts users active on consecutive days") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-02 10:00:00", 1L, "view"),  // user 1 retained on day 2
      (3L, "2024-01-02 11:00:00", 2L, "view"),  // user 2 new on day 2
      (4L, "2024-01-03 09:00:00", 2L, "view"),  // user 2 retained on day 3
      (5L, "2024-01-03 09:30:00", 2L, "click")) // same user-day, no double count
    val out = EventOps.dailyRetention(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val day0 = us("2024-01-01 00:00:00") / 86400000000L
    assert(out.toSeq == Seq((day0, 1L, 0L), (day0 + 1, 2L, 1L), (day0 + 2, 1L, 1L)))
  }

  test("dailyRolling: trailing 3-row average over the daily rollup") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-02 10:00:00", 1L, "view"),
      (3L, "2024-01-02 11:00:00", 2L, "view"),
      (4L, "2024-01-03 09:00:00", 2L, "view"))
    val out = EventOps.dailyRolling(events).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val day0 = us("2024-01-01 00:00:00") / 86400000000L
    // daily n: 1, 2, 1 → trailing avgs: 1.0, 1.5, 4/3
    assert(out.toSeq == Seq((day0, 1L, 1.0), (day0 + 1, 2L, 1.5), (day0 + 2, 1L, 1.3333)))
  }

  test("scd2Intervals collapses duplicate states, chains intervals, leaves last open") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 7L, "view"),
      (2L, "2024-01-01 10:05:00", 7L, "view"),     // unchanged state → no new version
      (3L, "2024-01-01 10:07:00", 7L, "purchase"),
      (4L, "2024-01-01 10:10:00", 7L, "view"),     // back to view → NEW version
      (5L, "2024-01-01 09:00:00", 8L, "click"))
    val out = EventOps.scd2Intervals(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq == Seq(
      (7L, "view", us("2024-01-01 10:00:00"), us("2024-01-01 10:07:00")),
      (7L, "purchase", us("2024-01-01 10:07:00"), us("2024-01-01 10:10:00")),
      (7L, "view", us("2024-01-01 10:10:00"), -1L),
      (8L, "click", us("2024-01-01 09:00:00"), -1L)), out.toSeq.toString)
    // validity chains: every close equals the next open (no gaps/overlaps)
    // and both window functions ride ONE exchange on user_id
    val nEx = "Exchange".r.findAllIn(
      EventOps.scd2Intervals(events).queryExecution.executedPlan.toString).size
    assert(nEx <= 2, s"expected one data exchange (+ final sort), saw $nEx")
  }

  test("dauWauStickiness: WAU is the trailing-7-day distinct, not a DAU sum") {
    // user 1 active on days 0 and 3; user 2 on day 0 only
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 11:00:00", 2L, "view"),
      (3L, "2024-01-04 09:00:00", 1L, "view"))
    val out = EventOps.dauWauStickiness(ev(rows: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val day0 = us("2024-01-01 00:00:00") / 86400000000L
    // day0: dau 2, wau 2; day3: dau 1, but wau still 2 (both users in window)
    assert(out.toSeq == Seq((day0, 2L, 2L, 1.0), (day0 + 3, 1L, 2L, 0.5)), out.toSeq.toString)
  }

  test("userGapStats: gaps from consecutive per-user events only") {
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "view"),
      (2L, "2024-01-01 10:00:10", 7L, "view"),   // gap 10 s
      (3L, "2024-01-01 10:01:10", 7L, "view"),   // gap 60 s
      (4L, "2024-01-01 09:00:00", 8L, "view"))   // single event → no gaps
    val out = EventOps.userGapStats(ev(rows: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((7L, 2L, 60000000L, 35000000.0)), out.toSeq.toString)
  }

  test("distinctUsersSketchRollup: per-type and unioned estimates track exact") {
    val events = graft.Tables.events(spark, sf0001)
    val est = EventOps.distinctUsersSketchRollup(events).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the oracle-green exact twin (ev_distinct_rollup) is the anchor:
    // same grouping shape, count_distinct instead of HLL sketches
    val exact = EventOps.distinctUsersExactRollup(events).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (tp, ex) =>
      assert(math.abs(est(tp) - ex).toDouble / ex < 0.05,
        s"$tp: est=${est(tp)} exact=$ex")
    }
    // union of per-type sketches can never report fewer than any part
    assert(est("_all_") >= (exact.keySet - "_all_").map(est).max - 1)
  }

  test("heavyHitterUsers: exact counts and deterministic order in the exact regime") {
    // user 2 gets 34 events, users 1 and 3 get 33 each
    val rows = (1 to 100).map(i => (i.toLong, "2024-01-01 00:00:00", (i % 3 + 1).toLong, "view"))
    val out = EventOps.heavyHitterUsers(ev(rows: _*), capacity = 16, minCount = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((2L, 34L), (1L, 33L), (3L, 33L)))
    // threshold applies
    val none = EventOps.heavyHitterUsers(ev(rows: _*), capacity = 16, minCount = 35).collect()
    assert(none.isEmpty)
  }

  test("hourlyAnomalies flags the flood hour and only that hour") {
    // "view": 9 quiet hours of 1 event + one flood hour of 19 →
    // mean 2.8, sample sd 5.692, z = 2.846 ≥ 2 for the flood hour,
    // z = -0.316 for quiet hours. "click": flat 2/hour → sd 0 →
    // excluded entirely by the sd > 0 guard.
    val rows =
      (0 until 9).map(h => ((h + 1).toLong, f"2024-01-01 $h%02d:00:00", 1L, "view")) ++
      (0 until 19).map(i => ((100 + i).toLong, f"2024-01-01 09:$i%02d:00", 1L, "view")) ++
      (0 until 20).map(i => ((200 + i).toLong, f"2024-01-01 ${i / 2}%02d:30:00", 2L, "click"))
    val out = EventOps.hourlyAnomalies(ev(rows: _*)).collect()
    assert(out.length == 1, out.mkString(","))
    val r = out.head
    assert(r.getString(0) == "view" && r.getLong(1) == us("2024-01-01 09:00:00") &&
      r.getLong(2) == 19L && r.getDouble(4) == 2.846)
  }

  test("lastTouchAttribution: last touch within lookback wins, stale/absent goes direct") {
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "click", 0.0),
      (2L, "2024-01-01 10:10:00", 1L, "view", 0.0),
      (3L, "2024-01-01 10:20:00", 1L, "purchase", 50.0), // view 10 min earlier → view
      (4L, "2024-01-01 12:00:00", 1L, "purchase", 30.0), // last touch 110 min ago → direct
      (5L, "2024-01-01 09:00:00", 2L, "purchase", 20.0)) // no prior event → direct
    val events = rows.toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.lastTouchAttribution(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map("view" -> ((1L, 50.0)), "direct" -> ((2L, 50.0))), out.toString)
  }

  test("rfm: recency from corpus watermark, frequency/monetary per user") {
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "purchase", 10.0),
      (2L, "2024-01-03 10:00:00", 1L, "purchase", 15.5),
      (3L, "2024-01-05 10:00:00", 2L, "purchase", 7.25),
      (4L, "2024-01-06 10:00:00", 1L, "view", 0.0)) // watermark, not a purchase
    val events = rows.toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.rfm(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // user 1: last purchase Jan 3, watermark Jan 6 → 3 days; 2 purchases, 25.5 total
    assert(out == Map(1L -> ((3L, 2L, 25.5)), 2L -> ((1L, 1L, 7.25))), out.toString)
  }

  test("funnelSteps: each stage requires a strictly-later event than the previous") {
    val events = ev(
      // user 1 completes view → click → purchase in order
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:05:00", 1L, "click"),
      (3L, "2024-01-01 10:10:00", 1L, "purchase"),
      // user 2: click BEFORE the first view — stalls at step 1
      (4L, "2024-01-01 09:00:00", 2L, "click"),
      (5L, "2024-01-01 10:00:00", 2L, "view"),
      // user 3: view then click, no purchase — stalls at step 2
      (6L, "2024-01-01 08:00:00", 3L, "view"),
      (7L, "2024-01-01 08:30:00", 3L, "click"),
      // user 4: purchase only — never enters the funnel
      (8L, "2024-01-01 07:00:00", 4L, "purchase"))
    val out = EventOps.funnelSteps(events).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)),
      out.mkString(","))
  }

  test("cohortMatrix: users counted per first-seen cohort and day offset") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),  // cohort day D
      (2L, "2024-01-02 10:00:00", 1L, "click"), // offset 1
      (3L, "2024-01-01 12:00:00", 2L, "view"),  // same cohort
      (4L, "2024-01-03 09:00:00", 2L, "view"),  // offset 2
      (5L, "2024-01-02 11:00:00", 3L, "view"))  // later cohort, offset 0
    val out = EventOps.cohortMatrix(events).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val d0 = us("2024-01-01 00:00:00") / 86400000000L
    assert(out == Map(
      (d0, 0L) -> 2L, (d0, 1L) -> 1L, (d0, 2L) -> 1L,
      (d0 + 1, 0L) -> 1L), out.toString)
  }

  test("decayedEngagement: watermark event at full weight, older events decayed e^-λ·days") {
    val rows = Seq(
      (1L, "2024-01-09 10:00:00", 1L, "view", 10.0), // 1 day before watermark
      (2L, "2024-01-10 10:00:00", 1L, "view", 20.0), // watermark: age 0
      (3L, "2024-01-08 10:00:00", 2L, "view", 5.0))  // 2 days before
    val events = rows.toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.decayedEngagement(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 2L && out(2L)._1 == 1L)
    assert(math.abs(out(1L)._2 - (20.0 + 10.0 * math.exp(-0.1))) < 1e-4, out.toString)
    assert(math.abs(out(2L)._2 - 5.0 * math.exp(-0.2)) < 1e-4, out.toString)
  }

  test("hourOfWeekProfile: epoch-aligned index, pre-1970 events land in the right bucket") {
    val events = Seq(
      (1L, "1970-01-01 00:30:00"),  // epoch hour 0 → how 0
      (2L, "1970-01-01 05:30:00"),  // how 5
      (3L, "1970-01-08 00:10:00"),  // exactly one week later → how 0
      (4L, "1969-12-31 23:30:00"))  // hour -1 → floor-div -1 → how 167
      .toDF("event_id", "ts_str")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts")
    val out = EventOps.hourOfWeekProfile(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(0L) == ((2L, 0.5)), out.toString)
    assert(out(5L) == ((1L, 0.25)))
    assert(out(167L) == ((1L, 0.25)))
  }

  test("powerUsers: p90 cut keeps the heavy tail with exact traffic shares") {
    // 10 users: nine with 1 event, one with 11 → p90 of counts = 2.0
    // (interpolated), so only the heavy user survives
    val rows = (1L to 9L).map(u => (u, 1.0)) ++ (1 to 11).map(_ => (10L, 2.0))
    val df = rows.toDF("user_id", "value")
    val out = EventOps.powerUsers(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.length == 1, out.toSeq.toString)
    assert(out.head == ((10L, 11L, 0.55)), out.head.toString) // 11/20
  }

  test("sessionHistogram: log2 buckets over session event counts with shares") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:10:00", 1L, "click"),
      (3L, "2024-01-01 10:20:00", 1L, "view"),   // user 1: one 3-event session
      (4L, "2024-01-01 09:00:00", 2L, "view"))   // user 2: singleton
    val out = EventOps.sessionHistogram(events).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out(0) == ((1L, 1L, 1L, 0.5)), out.toString)
    assert(out(1) == ((2L, 3L, 1L, 0.5)), out.toString)
  }

  test("timeToConvert: percentiles over purchase-minus-last-view latencies") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "purchase"),  // 60 s
      (3L, "2024-01-01 11:00:00", 2L, "view"),
      (4L, "2024-01-01 11:02:00", 2L, "purchase"),  // 120 s
      (5L, "2024-01-01 12:00:00", 3L, "view"),
      (6L, "2024-01-01 12:10:00", 3L, "purchase"),  // 600 s
      (7L, "2024-01-01 13:00:00", 4L, "purchase"))  // no prior view → excluded
    val r = EventOps.timeToConvert(events).collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 120e6)                    // p50
    assert(r.getDouble(2) == 120e6 + 0.8 * 480e6)      // p90 interpolated
    assert(r.getLong(3) == 600L * 1000000)
  }

  test("userLifecycle: active days and per-day rate") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 18:00:00", 1L, "view"),
      (3L, "2024-01-03 10:00:00", 1L, "view"),   // 2 active days, 3 events
      (4L, "2024-01-02 09:00:00", 2L, "click"))
    val out = EventOps.userLifecycle(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4), r.getDouble(5)))).toMap
    assert(out(1L) == ((3L, 2L, 1.5)), out.toString)
    assert(out(2L) == ((1L, 1L, 1.0)))
  }

  test("hourlyAnomaliesMad: spike flagged by MAD while mad=0 degenerate types drop") {
    // type "view": counts 4,5,5,6,50 per hour → med 5, MAD 1 → only 50 flags
    // type "click": constant 7 per hour → MAD 0 → filtered, never flagged
    val viewRows = Seq(
      ("2024-01-01 00:10:00", 4), ("2024-01-01 01:10:00", 5),
      ("2024-01-01 02:10:00", 5), ("2024-01-01 03:10:00", 6),
      ("2024-01-01 04:10:00", 50)).flatMap { case (t, n) =>
      (1 to n).map(i => (t, "view"))
    }
    val clickRows = (0 until 5).flatMap(h =>
      (1 to 7).map(_ => (s"2024-01-01 0$h:20:00", "click")))
    val events = (viewRows ++ clickRows).zipWithIndex
      .map { case ((t, ty), i) => (i.toLong, t, 1L, ty) }
    val out = EventOps.hourlyAnomaliesMad(ev(events: _*)).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(4)))
    assert(out.length == 1, out.toSeq.toString)
    assert(out.head._1 == "view" && out.head._2 == 50L)
    assert(math.abs(out.head._3 - 45.0 / 1.4826) < 0.001)
  }

  test("sessionDurationPercentiles: durations from session bounds, singletons are 0") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:10:00", 1L, "view"),   // user 1: 600 s session
      (3L, "2024-01-01 09:00:00", 2L, "view"))   // user 2: singleton, 0 s
    val r = EventOps.sessionDurationPercentiles(events).collect().head
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == 300e6)              // p50 of {0, 600e6}
    assert(r.getLong(3) == 600L * 1000000)
  }

  test("newVsReturning: first-seen day splits actives into new and returning") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-02 10:00:00", 1L, "view"),   // user 1 returns day 2
      (3L, "2024-01-02 11:00:00", 2L, "view"))   // user 2 new on day 2
    val out = EventOps.newVsReturning(events).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 1L, 0L, 1.0), (2L, 1L, 1L, 0.5)), out.toSeq.toString)
  }

  test("errorRateHourly: conditional error share per hour") {
    val events = ev(
      (1L, "2024-01-01 10:05:00", 1L, "view"),
      (2L, "2024-01-01 10:15:00", 2L, "error"),
      (3L, "2024-01-01 10:25:00", 3L, "error"),
      (4L, "2024-01-01 10:35:00", 4L, "click"),
      (5L, "2024-01-01 11:05:00", 5L, "view"))
    val out = EventOps.errorRateHourly(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(us("2024-01-01 10:00:00")) == ((4L, 2L, 0.5)), out.toString)
    assert(out(us("2024-01-01 11:00:00")) == ((1L, 0L, 0.0)))
  }

  test("funnelBySegment: conversion only for the converting segment") {
    val customer = Seq((1L, "BUILDING"), (2L, "AUTO")).toDF("c_custkey", "c_mktsegment")
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:30:00", 1L, "purchase"),  // within 60 min → converts
      (3L, "2024-01-01 08:00:00", 2L, "view"),
      (4L, "2024-01-01 12:00:00", 2L, "purchase"))  // stale view → no conversion
    val out = EventOps.funnelBySegment(events, customer).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("BUILDING") == ((1L, 1L, 1.0)), out.toString)
    assert(out("AUTO") == ((1L, 0L, 0.0)))
  }

  test("nextViewAfterPurchase: earliest view at or after; none → null") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "purchase"),
      (2L, "2024-01-01 10:05:00", 1L, "view"),      // next view for purchase 1
      (3L, "2024-01-01 11:00:00", 1L, "purchase"),  // no later view → null
      (4L, "2024-01-01 09:00:00", 2L, "view"),      // BEFORE the purchase → not next
      (5L, "2024-01-01 09:30:00", 2L, "purchase"),
      (6L, "2024-01-01 12:00:00", 3L, "view"),
      (7L, "2024-01-01 12:00:00", 3L, "purchase"))  // same instant counts
    val out = EventOps.nextViewAfterPurchase(events).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(1L) == Some(us("2024-01-01 10:05:00")))
    assert(out(3L) == None)
    assert(out(5L) == None)
    assert(out(7L) == Some(us("2024-01-01 12:00:00")))
  }

  test("userTypeEntropy: uniform two-type user reads ln 2; single-type reads 0") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "click"),
      (3L, "2024-01-01 10:02:00", 2L, "view"),
      (4L, "2024-01-01 10:03:00", 2L, "view"))
    val out = EventOps.userTypeEntropy(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val ln2 = BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((2L, 2L, ln2)), out.toString)
    assert(out(2L) == ((2L, 1L, 0.0)) || out(2L) == ((2L, 1L, -0.0)), out.toString)
  }

  test("peakConcurrency: overlapping sessions stack; midnight-spanning session carries in") {
    val events = ev(
      // three users online 10:00–10:20, overlapping
      (1L, "2024-01-01 10:00:00", 1L, "view"), (2L, "2024-01-01 10:20:00", 1L, "view"),
      (3L, "2024-01-01 10:05:00", 2L, "view"), (4L, "2024-01-01 10:15:00", 2L, "view"),
      (5L, "2024-01-01 10:10:00", 3L, "view"), (6L, "2024-01-01 10:25:00", 3L, "view"),
      // user 4's session spans midnight into Jan 2 (25-min steps < 30-min gap)
      (7L, "2024-01-01 23:50:00", 4L, "view"), (8L, "2024-01-02 00:10:00", 4L, "view"),
      (9L, "2024-01-02 06:00:00", 5L, "view"))
    val out = EventOps.peakConcurrency(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val day1 = us("2024-01-01 00:00:00") / 86400000000L
    assert(out(day1) == ((0L, 3L)), out.toString)        // 3-deep overlap
    // carry-in 1 (user 4 still on at midnight); user 5 never overlaps
    assert(out(day1 + 1) == ((1L, 1L)), out.toString)
  }

  test("sessionFunnel: purchase converts only inside the view's session") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:05:00", 1L, "purchase"),  // same session → converts
      (3L, "2024-01-01 12:00:00", 2L, "view"),
      (4L, "2024-01-01 14:00:00", 2L, "purchase"),  // 2h gap → NEW session, no view in it
      (5L, "2024-01-01 15:00:00", 3L, "click"))     // session without view
    val r = EventOps.sessionFunnel(events).collect().head
    // sessions: u1×1, u2×2, u3×1 = 4; with view: 2; converted: 1
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((4L, 2L, 1L, 0.5)), r.toString)
  }

  test("userBurstiness: metronomic user reads CV 0, bursty user by the sample formula") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "view"),
      (3L, "2024-01-01 10:02:00", 1L, "view"),   // gaps 60, 60 → CV 0
      (4L, "2024-01-01 11:00:00", 2L, "view"),
      (5L, "2024-01-01 11:00:10", 2L, "view"),
      (6L, "2024-01-01 11:02:00", 2L, "view"),   // gaps 10 s, 110 s
      (7L, "2024-01-01 12:00:00", 3L, "view"))   // 0 gaps → excluded
    val out = EventOps.userBurstiness(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 0.0)), out.toString)
    // mean 60e6, sd = √((50e6² + 50e6²)/1) = 70710678.1187 → cv 1.178511
    assert(out(2L)._1 == 2L && math.abs(out(2L)._2 - 1.178511) < 1e-6, out.toString)
    assert(!out.contains(3L))
  }

  test("withTsUs: NTZ wall-clocks read as UTC regardless of session time zone") {
    // An NTZ `ts` has no zone; the contract is "wall clock = UTC
    // instant". A session built outside GraftSession.configure may run
    // under any zone — ts_us must not shift with it.
    val ntz = Seq(java.time.LocalDateTime.of(2024, 3, 10, 7, 30, 0)) // US DST gap day
      .toDF("ts") // LocalDateTime encoder → TimestampNTZType
    assert(ntz.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    val expected = java.time.LocalDateTime.of(2024, 3, 10, 7, 30, 0)
      .toInstant(java.time.ZoneOffset.UTC)
    val expectedUs = expected.getEpochSecond * 1000000L + expected.getNano / 1000L
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (zone <- Seq("UTC", "America/New_York", "Asia/Tokyo")) {
        spark.conf.set("spark.sql.session.timeZone", zone)
        val got = EventOps.withTsUs(ntz).select("ts_us").collect().head.getLong(0)
        assert(got == expectedUs, s"zone $zone: got $got expected $expectedUs")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("sessionPaths: depth-3 truncation, per-session split, tied timestamps ordered by type") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:05:00", 1L, "click"),
      (3L, "2024-01-01 10:10:00", 1L, "view"),
      (4L, "2024-01-01 10:12:00", 1L, "purchase"), // 4th step truncated
      (5L, "2024-01-01 12:00:00", 1L, "view"),     // new session (gap > 30 min)
      (6L, "2024-01-01 12:05:00", 1L, "click"),
      (7L, "2024-01-01 09:00:00", 2L, "b"),        // tied instant:
      (8L, "2024-01-01 09:00:00", 2L, "a"))        // path must sort to a>b
    val out = EventOps.sessionPaths(events).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(
      ("a>b", 1L), ("view>click", 1L), ("view>click>view", 1L)), out.toSeq.toString)
  }

  test("seasonalAnomalies: spike flagged against its own hour-of-week slot; MAD-0 slots drop") {
    // slot how=0 over 4 weeks: 9,10,11,100 events — the 100 is the anomaly;
    // slot how=1: constant 5 → MAD 0 → excluded by the degeneracy guard
    val hourUs = 3600000000L
    val rows = for {
      (week, n) <- Seq((0, 9), (1, 10), (2, 11), (3, 100))
      i <- 0 until n
    } yield (week * 168L * hourUs + i * 1000000L, 1L, "view")
    val rows1 = for {
      week <- 0 to 3; i <- 0 until 5
    } yield (week * 168L * hourUs + hourUs + i * 1000000L, 2L, "view")
    val events = (rows ++ rows1).zipWithIndex
      .map { case ((us, u, t), id) => (id.toLong, us, u, t) }
      .toDF("event_id", "us", "user_id", "event_type")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type")
    val out = EventOps.seasonalAnomalies(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((3L * 168 * hourUs, 0L, 100L)), out.toSeq.toString)
  }

  test("metricCorrelation: dense zero-fill, perfect and partial correlations, constant series dropped") {
    // daily counts — a:(1,2,3) b:(2,4,6) c:(5,5,5) d:(3,2,1) e:(4,0,0 via zero-fill)
    val counts = Seq(
      ("2024-01-01", Seq(("a", 1), ("b", 2), ("c", 5), ("d", 3), ("e", 4))),
      ("2024-01-02", Seq(("a", 2), ("b", 4), ("c", 5), ("d", 2))),
      ("2024-01-03", Seq(("a", 3), ("b", 6), ("c", 5), ("d", 1))))
    val rows = for {
      (day, ts) <- counts; (t, n) <- ts; i <- 0 until n
    } yield (day, t, i)
    val events = rows.zipWithIndex.map { case ((day, t, i), id) =>
      (id.toLong, s"$day 01:0${i % 10}:0${i / 10}", 1L, t) }
    val out = EventOps.metricCorrelation(ev(events: _*)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // every pair with c is constant-variance-zero → dropped
    assert(out.toSeq == Seq(
      ("a", "b", 3L, 1.0), ("a", "d", 3L, -1.0), ("a", "e", 3L, -0.866025),
      ("b", "d", 3L, -1.0), ("b", "e", 3L, -0.866025), ("d", "e", 3L, 0.866025)),
      out.toSeq.toString)
  }

  test("pathConversion: purchase anywhere in the session converts its opening path") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "click"),
      (3L, "2024-01-01 10:02:00", 1L, "purchase"),
      (4L, "2024-01-01 10:00:00", 2L, "view"),
      (5L, "2024-01-01 10:01:00", 2L, "click"),
      (6L, "2024-01-01 10:00:00", 3L, "view"),
      (7L, "2024-01-01 10:01:00", 3L, "click"),
      (8L, "2024-01-01 10:02:00", 3L, "view"),
      (9L, "2024-01-01 10:03:00", 3L, "purchase")) // beyond depth-3 but still converts
    val out = EventOps.pathConversion(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("view>click", 1L, 0L, 0.0),
      ("view>click>purchase", 1L, 1L, 1.0),
      ("view>click>view", 1L, 1L, 1.0)), out.toSeq.toString)
  }

  test("weeklyMixDrift: shape change raises JSD even at constant volume shares") {
    val weekUs = 604800000000L
    // week 0: a,a,b,b (balanced); week 1: a,a,a,a (pure) — same totals
    val raw = Seq((0L, "a"), (0L, "a"), (0L, "b"), (0L, "b"),
      (1L, "a"), (1L, "a"), (1L, "a"), (1L, "a"))
    val events = raw.zipWithIndex.map { case ((wk, t), id) =>
      (id.toLong, wk * weekUs + id * 1000000L, 1L, t) }
      .toDF("event_id", "us", "user_id", "event_type")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type")
    val out = EventOps.weeklyMixDrift(events).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hand-computed natural-log JSD vs the (0.75, 0.25) overall mix
    assert(math.abs(out(0L) - 0.033822) < 2e-6, out(0L).toString)
    assert(math.abs(out(1L) - 0.095603) < 2e-6, out(1L).toString)
    assert(out(1L) > out(0L), "pure week must drift more than the balanced one")
  }

  test("retentionCurve: shares normalized by each cohort's day-0 size") {
    val events = ev(
      (1L, "1970-01-01 10:00:00", 1L, "view"),
      (2L, "1970-01-01 11:00:00", 2L, "view"),
      (3L, "1970-01-02 10:00:00", 1L, "view"),
      (4L, "1970-01-02 12:00:00", 3L, "view"))
    val out = EventOps.retentionCurve(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5), (1L, 0L, 1L, 1L, 1.0)),
      out.toSeq.toString)
  }

  test("conversionWindowSweep: conversion grows monotonically with the attribution window") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:20:00", 1L, "purchase"),  // 20 min gap
      (3L, "2024-01-01 12:00:00", 2L, "view"),
      (4L, "2024-01-01 13:30:00", 2L, "purchase"),  // 90 min gap
      (5L, "2024-01-01 09:00:00", 3L, "purchase"))  // no prior view
    val out = EventOps.conversionWindowSweep(events).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (15, 3L, 0L), (30, 3L, 1L), (60, 3L, 1L), (120, 3L, 2L), (240, 3L, 2L)),
      out.toSeq.toString)
  }

  test("userFeatures: one wide row per user; sub-threshold users keep NULL cv") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 11:00:00", 1L, "view"),
      (3L, "2024-01-02 10:00:00", 1L, "click"),
      (4L, "2024-01-01 10:00:00", 2L, "view")) // one event: no gaps, entropy 0
    val out = EventOps.userFeatures(events).collect()
      .map(r => r.getLong(0) -> r).toMap
    val u1 = out(1L)
    assert((u1.getLong(1), u1.getLong(2), u1.getDouble(3), u1.getLong(4)) ==
      ((3L, 2L, 1.5, 2L)))
    assert(u1.getDouble(5) == 0.636514) // ln 3 − (2 ln 2)/3
    // gaps 1h and 23h → cv = √2·39600/43200
    val cv = math.sqrt(2.0) * 39600 / 43200
    assert(math.abs(u1.getDouble(6) - cv) < 1e-6, u1.getDouble(6).toString)
    assert(u1.getLong(7) == 2L) // days 1–2 consecutive
    val u2 = out(2L)
    assert((u2.getLong(1), u2.getLong(4), u2.getDouble(5), u2.getLong(7)) ==
      ((1L, 1L, 0.0, 1L)))
    assert(u2.isNullAt(6), "single-event user must carry NULL cv")
  }

  test("forecastBacktest: same-hour-last-week baseline, unmatched hours drop") {
    val hourUs = 3600000000L
    val rows = Seq((0L, 5), (1L, 2), (168L, 7), (336L, 6)).flatMap { case (h, n) =>
      (0 until n).map(i => (h * hourUs + i * 1000000L, 1L, "view")) }
    val events = rows.zipWithIndex.map { case ((us, u, t), id) => (id.toLong, us, u, t) }
      .toDF("event_id", "us", "user_id", "event_type")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type")
    val r = EventOps.forecastBacktest(events).collect().head
    assert(r.getLong(0) == 2L)          // hours 168 and 336 have priors
    assert(r.getDouble(1) == 1.5)       // (|7−5| + |6−7|) / 2
    assert(r.getDouble(2) == 0.22619)   // (2/7 + 1/6) / 2
  }

  test("activityStreaks: islands of consecutive days, multiple events per day collapse") {
    val events = ev(
      (1L, "2024-01-05 10:00:00", 1L, "view"),
      (2L, "2024-01-05 18:00:00", 1L, "view"), // same day collapses
      (3L, "2024-01-06 10:00:00", 1L, "view"),
      (4L, "2024-01-07 10:00:00", 1L, "view"),
      (5L, "2024-01-10 10:00:00", 1L, "view"), // gap → second streak
      (6L, "2024-01-05 10:00:00", 2L, "view"))
    val out = EventOps.activityStreaks(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 2L, 4L), (2L, 1L, 1L, 1L)), out.toSeq.toString)
  }

  test("purchaseCadence: gaps between consecutive purchases only; single buyers contribute none") {
    val events = ev(
      (1L, "2024-01-01 00:00:00", 1L, "purchase"),
      (2L, "2024-01-01 02:00:00", 1L, "purchase"),
      (3L, "2024-01-01 06:00:00", 1L, "purchase"),
      (4L, "2024-01-01 03:00:00", 1L, "view"),     // non-purchase ignored
      (5L, "2024-01-01 00:00:00", 2L, "purchase"), // single purchase: no gap
      (6L, "2024-01-01 01:00:00", 3L, "view"))
    val r = EventOps.purchaseCadence(events).collect().head
    val h = 3600000000L
    assert((r.getLong(0), r.getLong(1)) == ((2L, 1L)))
    assert(r.getDouble(2) == 3.0 * h)          // p50 of (2h, 4h)
    assert(r.getDouble(3) == 3.8 * h)          // p90 interpolated
    assert((r.getLong(4), r.getLong(5)) == ((2L * h, 4L * h)))
  }

  test("cohortLtv: cohorts by first-seen week (any event), cumulative value per offset") {
    val weekUs = 604800000000L
    val raw = Seq(
      (1L, 0L * weekUs + 1000000L, "purchase", 10.0),
      (1L, 2L * weekUs + 1000000L, "purchase", 5.0),
      (2L, 0L * weekUs + 2000000L, "view", 0.0),      // cohort 0 via a non-purchase
      (2L, 1L * weekUs + 1000000L, "purchase", 2.0),
      (3L, 1L * weekUs + 3000000L, "purchase", 7.0))
    val events = raw.zipWithIndex.map { case ((u, us, t, v), id) => (id.toLong, us, u, t, v) }
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type", "value")
    val out = EventOps.cohortLtv(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 1L, 10.0, 10.0),
      (0L, 1L, 1L, 2.0, 12.0),
      (0L, 2L, 1L, 5.0, 17.0),
      (weekUs, 0L, 1L, 7.0, 7.0)), out.toSeq.toString)
  }

  test("wowGrowth: growth vs previous OBSERVED week, null on the first week") {
    val weekUs = 604800000000L
    val rows = Seq((0L, 2), (1L, 4), (3L, 1)).flatMap { case (wk, n) =>
      (0 until n).map(i => (wk * weekUs + i * 1000000L, 1L, "a")) }
    val events = rows.zipWithIndex
      .map { case ((us, u, t), id) => (id.toLong, us, u, t) }
      .toDF("event_id", "us", "user_id", "event_type")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type")
    val out = EventOps.wowGrowth(events).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.toSeq == Seq(
      (0L, 2L, None, None),
      (1L, 4L, Some(2L), Some(1.0)),
      (3L, 1L, Some(4L), Some(-0.75))), out.toSeq.toString)
  }

  test("userOverlapAcrossTypes: pairwise audience Jaccard, zero-overlap pairs restored") {
    val events = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (2L, "a"), // dup pair collapses
      (2L, "b"), (3L, "b"), (4L, "b"),
      (9L, "c"))
      .zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, s"2024-01-01 10:00:0$i", u, t) }
    val out = EventOps.userOverlapAcrossTypes(ev(events: _*)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("a", "b", 3L, 3L, 2L, 0.5),
      ("a", "c", 3L, 1L, 0L, 0.0),
      ("b", "c", 3L, 1L, 0L, 0.0)), out.toSeq.toString)
  }

  test("dwellTime: gap to next event within session, attributed to the current type") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:05:00", 1L, "click"),
      (3L, "2024-01-01 10:06:00", 1L, "purchase"), // session-final: no dwell row
      (4L, "2024-01-01 09:00:00", 2L, "view"))     // singleton session: dropped
    val out = EventOps.dwellTime(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("click", 1L, 6.0e7, 6.0e7), ("view", 1L, 3.0e8, 3.0e8)), out.toSeq.toString)
  }

  test("ewmaDaily: truncated-horizon weights, in-range gap days count as zero, pre-range offsets excluded") {
    // days 9, 10, 12 (epoch days); day 11 exists in-range but has no events
    val events = ev(
      (1L, "1970-01-10 01:00:00", 1L, "view"),
      (2L, "1970-01-10 02:00:00", 1L, "view"),
      (3L, "1970-01-11 01:00:00", 1L, "view"),
      (4L, "1970-01-13 01:00:00", 1L, "view"),
      (5L, "1970-01-13 02:00:00", 1L, "view"),
      (6L, "1970-01-13 03:00:00", 1L, "view"),
      (7L, "1970-01-13 04:00:00", 1L, "view"))
    val out = EventOps.ewmaDaily(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // day 9: only o=0 valid (earlier offsets fall before min_day) → ewma = n = 2
    assert(out(9L) == ((2L, 2.0)))
    // day 10: (1 + 0.75·2) / (1 + 0.75) = 2.5 / 1.75
    assert(out(10L) == ((1L, 1.428571)))
    // day 12: (4 + 0.75·0 + 0.5625·1 + 0.421875·2) / (1+0.75+0.5625+0.421875)
    //       = 5.40625 / 2.734375 — the day-11 gap contributes a true zero
    assert(out(12L) == ((4L, 1.977143)))
    assert(out.size == 3) // gap day 11 emits no row (no observed events)
  }

  test("behaviorSimilarity: parallel count vectors rank before orthogonal ones") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 10:01:00", 1L, "click"),
      (3L, "2024-01-01 10:02:00", 2L, "click"),   // parallel to user 1 → cos 1
      (4L, "2024-01-01 10:03:00", 3L, "view"))    // orthogonal → cos 0
    val out = EventOps.behaviorSimilarity(events, k = 2, nQueries = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 1L, 2L, 1.0), (1L, 2L, 3L, 0.0)),
      out.toSeq.toString)
  }

  test("retentionFit: clean halving fits decay -ln2 with half-life 1 day") {
    val events = ev(
      (1L, "1970-01-01 01:00:00", 1L, "view"),
      (2L, "1970-01-01 01:00:00", 2L, "view"),
      (3L, "1970-01-01 01:00:00", 3L, "view"),
      (4L, "1970-01-01 01:00:00", 4L, "view"),
      (5L, "1970-01-02 01:00:00", 1L, "view"),
      (6L, "1970-01-02 01:00:00", 2L, "view"),
      (7L, "1970-01-03 01:00:00", 1L, "view"))
    val r = EventOps.retentionFit(events).collect().head
    // r1 = 2/4, r2 = 1/4 → ln r is exactly linear: slope −ln2, intercept 0
    assert((r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
      ((2L, -0.693147, 0.0, 1.0)), r.toString)
  }

  test("strictFunnel: deadlines enforced per stage") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:30:00", 1L, "click"),     // within 1h of view
      (3L, "2024-01-01 11:00:00", 1L, "purchase"),  // within 1h of click
      (4L, "2024-01-01 10:00:00", 2L, "view"),
      (5L, "2024-01-01 12:00:00", 2L, "click"),     // 2h after view → misses
      (6L, "2024-01-01 12:10:00", 2L, "purchase"),
      (7L, "2024-01-01 09:00:00", 3L, "view"))
    val r = EventOps.strictFunnel(events).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((3L, 1L, 1L, 0.333333)), r.toString)
  }

  test("changepointCusum: CUSUM peaks at the planted level shift") {
    // type A: 1/day on days 0-3, then 3/day on days 4-7 → |S| peaks on day 3
    val rows = (0 to 3).map(d => (d.toLong * 10 + 1, f"1970-01-0${d + 1} 01:00:00", 1L, "A")) ++
      (4 to 7).flatMap(d => (1 to 3).map(k =>
        (d.toLong * 10 + k, f"1970-01-0${d + 1} 0$k:00:00", 1L, "A")))
    val events = ev(rows: _*)
    val out = EventOps.changepointCusum(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // mean = 16/8 = 2; S runs -1,-2,-3,-4 then +1 steps back to 0 → peak day 3, S=-4
    assert(out("A") == ((3L, -4.0, 2.0)), out.toString)
  }

  test("sessionGapHistogram: inter-session hours, first session excluded, cap bucket") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),  // session 1
      (2L, "2024-01-01 10:10:00", 1L, "view"),  //   same session (10 min gap)
      (3L, "2024-01-01 13:00:00", 1L, "view"),  // session 2: start gap 3h → bucket 3
      (4L, "2024-02-01 13:00:00", 1L, "view"),  // session 3: gap ≫ cap → bucket 5
      (5L, "2024-01-01 09:00:00", 2L, "view"))  // single session → no gap row
    val out = EventOps.sessionGapHistogram(events, capHours = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((3L, 1L, 0.5), (5L, 1L, 0.5)), out.toSeq.toString)
  }

  test("valuePercentiles: interpolated tail stats per type") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (2L, "2024-01-01 11:00:00", 1L, "A"),
      (3L, "2024-01-01 12:00:00", 1L, "A"),
      (4L, "2024-01-01 13:00:00", 1L, "B"))
      .selectExpr("*", "CAST(event_id AS DOUBLE) * 10 AS value")
    val out = EventOps.valuePercentiles(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(6)))).toMap
    // A: values 10,20,30 → mean 20, p50 = 20, p90 = 10+0.9·2·10 = 28, max 30
    assert(out("A") == ((3L, 20.0, 20.0, 28.0, 30.0)), out.toString)
    assert(out("B") == ((1L, 40.0, 40.0, 40.0, 40.0)))
  }

  test("rollingDailyP95: range frame interpolates over observed days only") {
    val events = ev(
      (1L, "1970-01-01 01:00:00", 1L, "view"),
      (2L, "1970-01-02 01:00:00", 1L, "view"),
      (3L, "1970-01-02 02:00:00", 2L, "view"))
      .selectExpr("*", "CAST(event_id AS DOUBLE) * 10 AS value")
    val out = EventOps.rollingDailyP95(events).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    // day 0: [10] → p95 = 10; day 1: daily = 20+30 = 50, frame [10, 50]
    // → 10 + 0.95·40 = 48
    assert(out(0L) == ((10.0, 10.0)) && out(1L) == ((50.0, 48.0)), out.toString)
  }

  test("dailyAutocorr: linear series gives rho=1; gap days break pairs") {
    val events = ev(
      (1L, "1970-01-01 01:00:00", 1L, "A"),
      (2L, "1970-01-02 01:00:00", 1L, "A"),
      (3L, "1970-01-02 02:00:00", 2L, "A"),
      (4L, "1970-01-03 01:00:00", 1L, "A"),
      (5L, "1970-01-03 02:00:00", 2L, "A"),
      (6L, "1970-01-03 03:00:00", 3L, "A"),
      (7L, "1970-01-01 01:00:00", 1L, "B"),
      (8L, "1970-01-03 01:00:00", 1L, "B")) // gap on day 1 → no B pairs
    val out = EventOps.dailyAutocorr(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // A: counts 1,2,3 → pairs (1,2),(2,3) → perfectly linear → ρ = 1
    assert(out("A") == ((2L, 1.0)), out.toString)
    assert(!out.contains("B")) // no consecutive observed days
  }

  test("markovTwoStep: P² of a deterministic A↔B alternator is the identity") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (2L, "2024-01-01 10:01:00", 1L, "B"),
      (3L, "2024-01-01 10:02:00", 1L, "A"),
      (4L, "2024-01-01 10:03:00", 1L, "B"))
    val out = EventOps.markovTwoStep(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // P(A→B)=1, P(B→A)=1 ⇒ P²(A→A)=1, P²(B→B)=1, nothing else
    assert(out == Map(("A", "A") -> 1.0, ("B", "B") -> 1.0))
  }

  test("markovTwoStep: split transition sums products over the middle state") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (2L, "2024-01-01 10:01:00", 1L, "B"),
      (3L, "2024-01-01 10:02:00", 1L, "C"),
      (4L, "2024-01-01 11:00:00", 2L, "A"),
      (5L, "2024-01-01 11:01:00", 2L, "C"),
      (6L, "2024-01-01 12:00:00", 3L, "C"),
      (7L, "2024-01-01 12:01:00", 3L, "A"))
    // P1: A→B=.5, A→C=.5, B→C=1, C→A=1
    val out = EventOps.markovTwoStep(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // P²(A→C) = P(A→B)·P(B→C) = .5 ; P²(A→A) = P(A→C)·P(C→A) = .5
    assert(out(("A", "C")) == 0.5 && out(("A", "A")) == 0.5)
    // P²(C→B) = P(C→A)·P(A→B) = .5 ; P²(C→C) = P(C→A)·P(A→C) = .5
    assert(out(("C", "B")) == 0.5 && out(("C", "C")) == 0.5)
    // P²(B→A) = P(B→C)·P(C→A) = 1
    assert(out(("B", "A")) == 1.0 && out.size == 5)
  }

  test("topTrigrams: user-local windows, no cross-user trigrams, count ordering") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "click"),
      (3L, "2024-01-01 10:02:00", 1L, "purchase"),
      (4L, "2024-01-01 10:03:00", 1L, "view"),
      (5L, "2024-01-01 11:00:00", 2L, "view"),
      (6L, "2024-01-01 11:01:00", 2L, "click"),
      (7L, "2024-01-01 11:02:00", 2L, "purchase"),
      (8L, "2024-01-01 12:00:00", 3L, "error")) // 1 event → no trigram
    val out = EventOps.topTrigrams(events).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.head == ("view>click>purchase" -> 2L))
    assert(out.toMap == Map(
      "view>click>purchase" -> 2L, "click>purchase>view" -> 1L))
  }

  test("kaplanMeier: risk sets, censoring, and the exact survival product") {
    // hour lifetimes: u1 t=10 (churned), u2 t=20 (churned),
    // u3 t=10 but last event at the corpus max hour → censored
    val events = ev(
      (1L, "2024-01-01 00:30:00", 1L, "view"),
      (2L, "2024-01-01 10:30:00", 1L, "view"),   // u1: hr 0 → 10
      (3L, "2024-01-01 00:30:00", 2L, "view"),
      (4L, "2024-01-01 20:30:00", 2L, "view"),   // u2: hr 0 → 20
      (5L, "2024-01-04 18:30:00", 3L, "view"),
      (6L, "2024-01-05 04:30:00", 3L, "view"))   // u3: hr 90 → 100 (max)
    val out = EventOps.kaplanMeier(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // t=10: risk {u1,u2,u3}, d=1 → S = 2/3; t=20: risk {u2}, d=1 → S = 0
    assert(out.toSeq == Seq((10L, 3L, 1L, 0.666667), (20L, 1L, 1L, 0.0)),
      out.toSeq.toString)
  }

  test("abTest: arms reproduce the md5 split, Welch t and SRM match a scalar recompute") {
    import spark.implicits._
    // per-user purchase metric: even users 10, odd users 20; plus noise views
    val events = (1L to 40L).flatMap(u => Seq(
      (u, "2024-01-01 10:00:00", "purchase", if (u % 2 == 0) 10.0 else 20.0),
      (u, "2024-01-01 11:00:00", "view", 5.0)))
      .toDF("user_id", "ts_str", "event_type", "value")
      .selectExpr("CAST(ts_str AS TIMESTAMP) AS ts", "user_id", "event_type", "value")
    val out = EventOps.abTest(events).collect().head
    // scalar reference with the same md5-arithmetic split
    def grp(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16) % 2
    }
    val byArm = (1L to 40L).map(u => grp(u) -> (if (u % 2 == 0) 10.0 else 20.0))
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) }
    val (a, b) = (byArm(0L), byArm(1L))
    def mean(xs: Iterable[Double]) = xs.sum / xs.size
    def vr(xs: Iterable[Double]) = {
      val n = xs.size; (xs.map(x => x * x).sum - xs.sum * xs.sum / n) / (n - 1)
    }
    val t = (mean(a) - mean(b)) / math.sqrt(vr(a) / a.size + vr(b) / b.size)
    assert(out.getLong(0) == a.size && out.getLong(1) == b.size)
    assert(out.getLong(0) + out.getLong(1) == 40L)
    assert(math.abs(out.getDouble(2) - mean(a)) < 1e-6)
    assert(math.abs(out.getDouble(3) - mean(b)) < 1e-6)
    assert(math.abs(out.getDouble(4) - t) < 1e-3, s"${out.getDouble(4)} vs $t")
    val srm = math.pow(a.size - b.size, 2) / 40.0
    assert(math.abs(out.getDouble(5) - srm) < 1e-6)
  }

  test("abKsStatistic: identical arms give D=0, fully separated arms give D=1") {
    import spark.implicits._
    def grp(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16) % 2
    }
    def purchases(rows: Seq[(Long, Double)]) = rows
      .map { case (u, v) => (u, "2024-01-01 10:00:00", "purchase", v) }
      .toDF("user_id", "ts_str", "event_type", "value")
      .selectExpr("CAST(ts_str AS TIMESTAMP) AS ts", "user_id", "event_type", "value")
    // every user has the same metric → both ECDFs identical → D = 0
    val same = EventOps.abKsStatistic(
      purchases((1L to 30L).map(u => u -> 10.0))).collect().head
    assert(same.getDouble(2) == 0.0, same.toString)
    // 20 users per arm, arm 0 → 10.0, arm 1 → 1000.0: complete
    // separation, any mid-grid threshold has F_a = 1, F_b = 0 → D = 1
    val ids = (1L to 400L)
    val arm0 = ids.filter(grp(_) == 0L).take(20)
    val arm1 = ids.filter(grp(_) == 1L).take(20)
    val out = EventOps.abKsStatistic(
      purchases(arm0.map(_ -> 10.0) ++ arm1.map(_ -> 1000.0))).collect().head
    assert(out.getLong(0) == 20L && out.getLong(1) == 20L)
    assert(out.getDouble(2) == 1.0, out.toString)
  }

  test("dqChecks: each planted defect is counted by exactly its own counter") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (1L, "2024-01-01 10:01:00", 1L, "view", 1.0),    // duplicate event_id
      (2L, "1969-12-31 00:00:00", 1L, "click", 1.0),   // ts before range
      (3L, "2024-01-01 10:02:00", 2L, "teleport", 1.0),// unknown type
      (4L, "2024-01-01 10:03:00", 2L, "purchase", -5.0), // negative value
      (5L, "2024-01-01 10:04:00", 3L, "view", 99.0))
      .toDF("event_id", "ts_str", "user_id", "type_raw", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "nullif(type_raw, 'view') AS maybe_null_type", "value")
      .selectExpr("event_id", "ts", "user_id",
        "coalesce(maybe_null_type, 'view') AS event_type", "value",
        "CAST(NULL AS STRING) AS props")
    val out = EventOps.dqChecks(events).collect().head
    assert(out.getLong(0) == 6L, "n_rows")
    assert(out.getLong(1) == 1L, "dup ids")
    assert(out.getLong(7) == 1L, "ts out of range")
    assert(out.getLong(8) == 1L, "negative value")
    assert(out.getLong(9) == 1L, "unknown type")
    assert((2 to 6).forall(out.getLong(_) == 0L), out.toString)
  }

  test("burstDetect: k-th event inside the window flags the start, per user") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:10:00", 1L, "view"),
      (3L, "2024-01-01 10:20:00", 1L, "view"),   // 3 events in 20 min → burst at e1
      (4L, "2024-01-01 12:00:00", 1L, "view"),   // gap: e2's lead2 is 110 min out
      (5L, "2024-01-01 10:00:00", 2L, "view"),
      (6L, "2024-01-01 10:01:00", 2L, "view"))   // only 2 events → never
    val out = EventOps.burstDetect(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:20:00"))), out.toSeq.toString)
    // overlapping hammer: 4 events in 3 min with k=3 → starts at e1 AND e2
    val hammer = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "view"),
      (3L, "2024-01-01 10:02:00", 1L, "view"),
      (4L, "2024-01-01 10:03:00", 1L, "view"))
    assert(EventOps.burstDetect(hammer).count() == 2)
  }

  test("attributionModels: first/last/linear disagree exactly as constructed") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:10:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:20:00", 1L, "purchase", 100.0), // view→click→buy
      (4L, "2024-01-01 09:00:00", 2L, "purchase", 10.0),  // touchless → direct
      (5L, "2024-01-01 08:00:00", 3L, "view", 0.0),
      (6L, "2024-01-01 10:00:00", 3L, "purchase", 1.0))   // view outside lookback
      .toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.attributionModels(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("view") == ((1L, 100.0, 0L, 0.0, 0.5, 50.0)), out("view").toString)
    assert(out("click") == ((0L, 0.0, 1L, 100.0, 0.5, 50.0)), out("click").toString)
    assert(out("direct") == ((2L, 11.0, 2L, 11.0, 2.0, 11.0)), out("direct").toString)
    assert(out.keySet == Set("view", "click", "direct"))
  }

  test("diffInDiff: planted treatment effect net of the shared trend") {
    import spark.implicits._
    def grp(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16) % 2
    }
    val treated = (1L to 400L).filter(grp(_) == 0L).take(10)
    val control = (1L to 400L).filter(grp(_) == 1L).take(10)
    // days 0..9 (split at 5): treated 10→30 per user, control 5→10;
    // DiD = (30−10) − (10−5) = 15
    val rows =
      treated.flatMap(u => Seq((u, "2024-01-01 10:00:00", 10.0),
        (u, "2024-01-09 10:00:00", 30.0))) ++
      control.flatMap(u => Seq((u, "2024-01-01 10:00:00", 5.0),
        (u, "2024-01-09 10:00:00", 10.0)))
    val events = rows.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, t, u, "purchase", v) }
      .toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.diffInDiff(events).collect().head
    assert(out.getLong(0) == 10L && out.getLong(1) == 10L)
    assert((out.getDouble(2), out.getDouble(3), out.getDouble(4), out.getDouble(5))
      == ((10.0, 30.0, 5.0, 10.0)), out.toString)
    assert(out.getDouble(6) == 15.0, out.toString)
  }

  test("abConversion: two-proportion z on a planted 0.5-vs-0.25 rate gap") {
    import spark.implicits._
    def grp(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16) % 2
    }
    val a0 = (1L to 400L).filter(grp(_) == 0L).take(20)
    val a1 = (1L to 400L).filter(grp(_) == 1L).take(20)
    val rows =
      a0.take(10).map(u => (u, "purchase", 1.0)) ++
      a0.drop(10).map(u => (u, "view", 0.0)) ++
      a1.take(5).map(u => (u, "purchase", 1.0)) ++
      a1.drop(5).map(u => (u, "view", 0.0))
    val events = rows.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, "2024-01-01 10:00:00", u, t, v) }
      .toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.abConversion(events).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3)) ==
      ((20L, 20L, 10L, 5L)))
    assert(out.getDouble(4) == 0.5 && out.getDouble(5) == 0.25)
    // z = 0.25 / sqrt(0.375·0.625·(1/20+1/20)) ≈ 1.633
    assert(math.abs(out.getDouble(6) - 1.633) < 1e-3, out.toString)
  }

  test("powerAnalysis: MDE matches the scalar formula on the planted-arm fixture") {
    import spark.implicits._
    def grp(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16) % 2
    }
    val a0 = (1L to 400L).filter(grp(_) == 0L).take(20)
    val a1 = (1L to 400L).filter(grp(_) == 1L).take(20)
    val rows =
      a0.take(10).map(u => (u, "purchase", 1.0)) ++
      a0.drop(10).map(u => (u, "view", 0.0)) ++
      a1.take(5).map(u => (u, "purchase", 1.0)) ++
      a1.drop(5).map(u => (u, "view", 0.0))
    val events = rows.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, "2024-01-01 10:00:00", u, t, v) }
      .toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.powerAnalysis(events).collect().head
    assert(out.getLong(0) == 20L && out.getLong(1) == 20L)
    assert(out.getDouble(3) == 0.375) // pooled conversion rate
    val z = 2.801585
    val mdeConv = z * math.sqrt(0.375 * 0.625 * (1.0 / 20 + 1.0 / 20))
    assert(math.abs(out.getDouble(5) - mdeConv) < 1e-6, out.toString)
    // value metric: m∈{1,0}; var_a = 5/19, var_b = 3.75/19
    val mdeVal = z * math.sqrt((5.0 / 19) / 20 + (3.75 / 19) / 20)
    assert(math.abs(out.getDouble(4) - mdeVal) < 1e-6, out.toString)
  }

  test("cuped: pre-period imbalance is removed, raw effect was pure confounding") {
    import spark.implicits._
    def grp(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16) % 2
    }
    // arm 0 users happen to spend 20 pre AND post, arm 1 spend 10 —
    // Y = X exactly, no treatment effect: raw effect reads 10
    // (confounded), θ = 1, CUPED-adjusted effect must be exactly 0
    val a0 = (1L to 400L).filter(grp(_) == 0L).take(10)
    val a1 = (1L to 400L).filter(grp(_) == 1L).take(10)
    val rows =
      a0.flatMap(u => Seq((u, "2024-01-01 10:00:00", 20.0),
        (u, "2024-01-09 10:00:00", 20.0))) ++
      a1.flatMap(u => Seq((u, "2024-01-01 10:00:00", 10.0),
        (u, "2024-01-09 10:00:00", 10.0)))
    val events = rows.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, t, u, "purchase", v) }
      .toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.cuped(events).collect().head
    assert(out.getLong(0) == 10L && out.getLong(1) == 10L)
    assert(out.getDouble(2) == 1.0, s"theta ${out.getDouble(2)}")
    assert(out.getDouble(3) == 10.0, s"raw ${out.getDouble(3)}")
    assert(out.getDouble(4) == 0.0, s"cuped ${out.getDouble(4)}")
    assert(out.getDouble(5) == 1.0, s"var_reduction ${out.getDouble(5)}")
  }

  test("abHeterogeneous: the effect surfaces only in the segment carrying it") {
    import spark.implicits._
    def grp(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16) % 2
    }
    // light users (1 event): arm 0 buys 10, arm 1 buys 30 → effect −20;
    // heavy users (21 events): both arms buy 10 → effect 0
    val light0 = (1L to 400L).filter(grp(_) == 0L).take(20)
    val light1 = (1L to 400L).filter(grp(_) == 1L).take(20)
    val heavy0 = (401L to 800L).filter(grp(_) == 0L).take(20)
    val heavy1 = (401L to 800L).filter(grp(_) == 1L).take(20)
    val rows =
      light0.map(u => (u, "purchase", 10.0)) ++
      light1.map(u => (u, "purchase", 30.0)) ++
      (heavy0 ++ heavy1).flatMap(u =>
        (u, "purchase", 10.0) +: Seq.fill(20)((u, "view", 0.0)))
    val events = rows.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, "2024-01-01 10:00:00", u, t, v) }
      .toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.abHeterogeneous(events, nSegments = 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(5))))
      .toMap
    assert(out(0) == ((20L, 20L, -20.0)), out(0).toString)
    assert(out(1) == ((20L, 20L, 0.0)), out(1).toString)
  }

  test("psiDrift: identical halves score 0, a level shift saturates the top bin") {
    import spark.implicits._
    // day 0 = reference half, day 9 = current half (split at day 5).
    // 'view' repeats the same 1..10 values in both halves → PSI = 0;
    // 'error' jumps to 1000 in the current half → all mass crosses
    // into the top reference bin → PSI far above the 0.25 alarm.
    val rows =
      (1 to 10).flatMap(v => Seq(
        (v.toLong, "2024-01-01 10:00:00", 1L, "view", v.toDouble),
        (v.toLong + 100, "2024-01-10 10:00:00", 1L, "view", v.toDouble),
        (v.toLong + 200, "2024-01-01 10:00:00", 1L, "error", v.toDouble),
        (v.toLong + 300, "2024-01-10 10:00:00", 1L, "error", 1000.0)))
    val events = rows.toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value")
    val out = EventOps.psiDrift(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("view") == ((10L, 10L, 0.0)), out("view").toString)
    assert(out("error")._1 == 10L && out("error")._3 > 1.0, out("error").toString)
  }

  test("attribution keys join purchases to touches with no trivially true predicate") {
    // attributionModels' touch side names its user column apart from
    // the purchase side's: a join on two same-named columns of one
    // projected frame is an equality Spark can only resolve by plan id,
    // and it warns that the predicate looks trivially true
    var rows = 0L
    val trivial = countLogs(_.getMessage.getFormattedMessage
        .contains("Constructing trivially true equals predicate")) {
      for (key <- Seq("ev_attribution", "ev_attribution_models"))
        rows += graft.SparkEntry.queries(key)(spark, sf0001).collect().length
    }
    assert(rows > 0)
    assert(trivial === 0)
  }

  test("dqChecks: null columns are counted as nulls, not crashes") {
    import spark.implicits._
    val events = Seq((1L, "2024-01-01 10:00:00", 1L, "view", 1.0))
      .toDF("event_id", "ts_str", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(ts_str AS TIMESTAMP) AS ts",
        "CAST(NULL AS BIGINT) AS user_id", "event_type",
        "CAST(NULL AS DOUBLE) AS value")
    val out = EventOps.dqChecks(events).collect().head
    assert(out.getLong(4) == 1L && out.getLong(6) == 1L, out.toString)
  }
}
