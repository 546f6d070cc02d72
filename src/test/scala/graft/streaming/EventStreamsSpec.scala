package graft.streaming

import graft.SparkSpec
import graft.TempDirs.withTempDir
import graft.operators.EventOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    (ts("2024-01-01 10:05:00"), 1L, "click", 1.5),
    (ts("2024-01-01 10:45:00"), 1L, "view", 2.0),
    (ts("2024-01-01 11:05:00"), 2L, "click", 0.5),
    (ts("2024-01-01 12:30:00"), 2L, "purchase", 9.0))

  test("streaming hourlyCounts matches the batch twin (complete mode)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.toMemorySink(
      EventStreams.hourlyCounts(events),
      "hourly_test", org.apache.spark.sql.streaming.OutputMode.Complete())
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("hourly_test")
        .select("hour_us", "event_type", "n", "sum_value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = EventOps.hourlyCounts(sample.toDF("ts", "user_id", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sliding windows: every event lands in exactly two overlapping windows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.toMemorySink(
      EventStreams.slidingCounts(events),
      "sliding_test", org.apache.spark.sql.streaming.OutputMode.Complete())
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val rows = spark.table("sliding_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      // 1h windows sliding by 30min → Σn over windows = 2 × events
      assert(rows.map(_._4).sum == 2L * sample.length)
      rows.foreach { case (s, e, _, _) => assert(e - s == 3600L * 1000000) }
      // the 10:05 click is in [09:30,10:30) and [10:00,11:00)
      val clicks = rows.filter(_._3 == "click").map(r => (r._1, r._2)).sorted
      val us = (t: String) => java.sql.Timestamp.valueOf(t).getTime * 1000L
      assert(clicks.contains((us("2024-01-01 09:30:00"), us("2024-01-01 10:30:00"))))
      assert(clicks.contains((us("2024-01-01 10:00:00"), us("2024-01-01 11:00:00"))))
    } finally q.stop()
  }

  test("streaming sessionize produces gap-delimited sessions") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.toMemorySink(
      EventStreams.sessionize(events),
      "sess_test", org.apache.spark.sql.streaming.OutputMode.Complete())
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      // all gaps exceed 30 min → 4 singleton sessions (2 per user)
      val out = spark.table("sess_test").collect()
      assert(out.length == 4)
      assert(out.forall(_.getLong(3) == 1L))
      assert(spark.table("sess_test").agg(sum("n_events")).collect().head.getLong(0) == 4L)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.toMemorySink(
      EventStreams.dedupEvents(events), "dedup_test")
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "click"),
        (1L, ts("2024-01-01 10:00:01"), "click"), // dup id, same batch
        (2L, ts("2024-01-01 10:01:00"), "view"))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01 10:02:00"), "view")) // dup id, later batch
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("file-source streaming: parquet events dir drives the hourly agg") {
    withTempDir("graft_stream_src") { src =>
      // stage the real events parquet as a streaming source directory
      val batchDf = graft.Tables.events(spark, sf0001)
      batchDf.write.mode("overwrite").parquet(src)
      // schema-dispatched staging (Long nanos / NTZ / LTZ) shared with
      // the batch path, so a testdata ts re-encode breaks neither
      val streamDf = EventOps.withTsTimestamp(
        spark.readStream.schema(batchDf.schema).parquet(src))
      val q = EventStreams.toMemorySink(
        EventStreams.hourlyCounts(streamDf),
        "file_hourly_test", org.apache.spark.sql.streaming.OutputMode.Complete())
      try {
        q.processAllAvailable()
        val streamed = spark.table("file_hourly_test")
          .agg(sum("n")).collect().head.getLong(0)
        assert(streamed == batchDf.count())
      } finally q.stop()
    }
  }

  test("streaming hourly distinct-user sketches match exact batch counts per window") {
    withTempDir("graft_stream_hll") { src =>
      val batchDf = graft.Tables.events(spark, sf0001)
      // multiple files → multiple micro-batches, so window state actually
      // merges partial sketches across batches (the path under test)
      batchDf.repartition(4).write.mode("overwrite").parquet(src)
      val streamDf = EventOps.withTsTimestamp(spark.readStream.schema(
        spark.read.parquet(src).schema).option("maxFilesPerTrigger", 1).parquet(src))
      val q = EventStreams.toMemorySink(
        EventStreams.hourlyDistinctUsersSketch(streamDf),
        "hll_window_test", org.apache.spark.sql.streaming.OutputMode.Complete())
      try {
        q.processAllAvailable()
        val streamed = spark.table("hll_window_test")
          .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        // floor-division bucketing (tsBucket), not `div` — window() floors,
        // and truncation would diverge on any pre-1970 fixture event
        val exact = graft.operators.EventOps.withTsUs(batchDf)
          .select((graft.operators.EventOps.tsBucket(3600000000L) * 3600000000L).as("hour_us"),
            col("event_type"), col("user_id"))
          .groupBy("hour_us", "event_type")
          .agg(countDistinct("user_id").as("n"))
          .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(streamed.keySet == exact.keySet)
        exact.foreach { case (k, n) =>
          val est = streamed(k).toDouble
          assert(math.abs(est - n) <= math.max(0.05 * n, 1.0),
            s"$k: sketch estimate $est vs exact $n outside tolerance")
        }
      } finally q.stop()
    }
  }

  test("replayed sf0.01 events through streaming hourlyCounts equals the oracle-green batch rows") {
    // The batch twin (ev_hourly_counts) hash-matches the DuckDB oracle;
    // full row-set equality here transitively oracle-checks the
    // streaming operator — the strongest check available for a path no
    // SQL engine can replay.
    val sf001 = "/root/testdata/sf0.01"
    withTempDir("graft_stream_parity") { src =>
      val batchDf = graft.Tables.events(spark, sf001)
      // multiple files → multiple micro-batches (real incremental replay)
      batchDf.repartition(4).write.mode("overwrite").parquet(src)
      val streamDf = EventOps.withTsTimestamp(spark.readStream.schema(
        spark.read.parquet(src).schema).option("maxFilesPerTrigger", 1).parquet(src))
      val q = EventStreams.toMemorySink(
        EventStreams.hourlyCounts(streamDf),
        "parity_hourly_test", org.apache.spark.sql.streaming.OutputMode.Complete())
      try {
        q.processAllAvailable()
        val streamed = spark.table("parity_hourly_test")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
        val batch = EventOps.hourlyCounts(batchDf)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
        assert(streamed == batch)
        assert(streamed.nonEmpty)
      } finally q.stop()
    }
  }

  test("replayed sf0.01 events through streaming errorRateHourly equals the oracle-green batch rows") {
    val sf001 = "/root/testdata/sf0.01"
    withTempDir("graft_stream_errrate") { src =>
      val batchDf = graft.Tables.events(spark, sf001)
      batchDf.repartition(4).write.mode("overwrite").parquet(src)
      val streamDf = EventOps.withTsTimestamp(spark.readStream.schema(
        spark.read.parquet(src).schema).option("maxFilesPerTrigger", 1).parquet(src))
      val q = EventStreams.toMemorySink(
        EventStreams.errorRateHourly(streamDf),
        "parity_errrate_test", org.apache.spark.sql.streaming.OutputMode.Complete())
      try {
        q.processAllAvailable()
        val streamed = spark.table("parity_errrate_test")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        val batch = EventOps.errorRateHourly(batchDf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        assert(streamed == batch)
        assert(streamed.nonEmpty)
        // the series is non-degenerate: some hours have errors, none is all-errors
        assert(streamed.exists(_._3 > 0) && streamed.forall(r => r._3 < r._2))
      } finally q.stop()
    }
  }

  test("foreachBatch pipeline: replayed dedup+sessionize parquet equals the batch twins") {
    // End-to-end streaming→batch: sf0.001 events replayed time-ordered
    // with injected duplicate event_ids, through watermarked dedup →
    // session windows → foreachBatch parquet sink; the batch twins
    // (dedup_exact + ev_sessionize) are oracle-green, so row-set
    // equality transitively oracle-checks the whole pipeline.
    implicit val sq = spark.sqlContext
    withTempDir("graft_febatch_out") { outDir =>
      val gapUs = 30L * 60 * 1000000
      val batchDf = graft.Tables.events(spark, sf0001)
      // ts_us via the schema-dispatched normalizer (events.ts may be
      // Long nanos, NTZ, or LTZ depending on the testdata encoding)
      val rows = EventOps.withTsUs(batchDf).select("event_id", "ts_us", "user_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._2)
      def toTs(us: Long) = Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      val chunks = rows.grouped((rows.length + 2) / 3).toSeq
      val mem = MemoryStream[(Long, Timestamp, Long)]
      val events = mem.toDF().toDF("event_id", "ts", "user_id")
      val q = EventStreams.dedupSessionizeToParquet(events, outDir)
      try {
        chunks.foreach { c =>
          val base = c.map { case (id, us, uid) => (id, toTs(us), uid) }
          val dups = base.grouped(10).map(_.head).toSeq // every 10th row again
          mem.addData(base ++ dups: _*)
          q.processAllAvailable()
        }
        // sentinel far past every session end flushes the watermark so
        // append mode emits all real sessions; its own (unclosed)
        // session never reaches the sink
        mem.addData((-1L, toTs(rows.last._2 + 30L * 86400 * 1000000L), -1L))
        q.processAllAvailable()
        val streamed = spark.read.parquet(outDir)
          .filter(col("user_id") >= 0)
          .collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
            r.getAs[Long]("end_us") - gapUs, r.getAs[Long]("n_events")))
          .toSet
        val batch = EventOps.sessionize(batchDf)
          .collect()
          .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(2)))
          .toSet
        assert(streamed == batch)
        assert(streamed.nonEmpty)
      } finally q.stop()
    }
  }

  test("stream-static join enriches streaming events with the customer dim") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "value")
    val customer = graft.Tables.customer(spark, sf0001)
    val joined = events.join(
      org.apache.spark.sql.functions.broadcast(
        customer.select("c_custkey", "c_mktsegment")),
      events("user_id") === customer("c_custkey"))
    val q = joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00"), 0L, 1.0),
        (2L, ts("2024-01-01 10:01:00"), 999999L, 2.0)) // no matching customer
      q.processAllAvailable()
      val rows = spark.table("ss_join_test").collect()
      assert(rows.length == 1) // inner join drops the unmatched user
      assert(rows.head.getAs[String]("c_mktsegment").nonEmpty)
    } finally q.stop()
  }

  test("stream-stream join matches purchases to same-user views within the hour") {
    implicit val sq = spark.sqlContext
    val vMem = MemoryStream[(Long, Long, Timestamp)]
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val views = vMem.toDF().toDF("event_id", "user_id", "ts")
    val purchases = pMem.toDF().toDF("event_id", "user_id", "ts")
    val q = EventStreams.viewPurchaseJoin(views, purchases)
      .writeStream.format("memory").queryName("ss_vp_join").outputMode("append").start()
    try {
      vMem.addData(
        (10L, 1L, ts("2024-01-01 10:00:00")),  // 30 min before purchase → match
        (11L, 1L, ts("2024-01-01 08:00:00")),  // 2.5 h before → outside window
        (12L, 2L, ts("2024-01-01 10:20:00")))  // other user
      pMem.addData((20L, 1L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val rows = spark.table("ss_vp_join").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSet == Set((20L, 10L, 1L)))
      // late-arriving view inside the window still joins (watermark not passed)
      vMem.addData((13L, 1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      assert(spark.table("ss_vp_join").count() == 2)
    } finally q.stop()
  }

  test("outer stream-stream join: unmatched purchase emits nulls only after the watermark closes") {
    implicit val sq = spark.sqlContext
    val vMem = MemoryStream[(Long, Long, Timestamp)]
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStreams.viewPurchaseJoinOuter(
      vMem.toDF().toDF("event_id", "user_id", "ts"),
      pMem.toDF().toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("ss_vp_outer").outputMode("append").start()
    try {
      vMem.addData((10L, 1L, ts("2024-01-01 10:00:00")))
      pMem.addData(
        (20L, 1L, ts("2024-01-01 10:30:00")),  // matched by view 10
        (21L, 2L, ts("2024-01-01 10:30:00")))  // user 2 never views
      q.processAllAvailable()
      val matched = spark.table("ss_vp_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      // inner match emits immediately; the unmatched row must WAIT —
      // a view could still arrive within the window
      assert(matched.toSet == Set((20L, 10L)), matched.toSeq.toString)
      // far-future traffic on BOTH streams pushes the watermark past
      // purchase 21's window → its null-view row is finally released
      vMem.addData((99L, 9L, ts("2024-01-01 15:00:00")))
      pMem.addData((98L, 9L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val all = spark.table("ss_vp_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(all.contains((21L, -1L)), s"outer row never released: $all")
    } finally q.stop()
  }

  test("EventTimeTimeout: quiet users emit a closed summary and leave the state store") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventStreams.TimedUserEvent]
    val q = EventStreams.activitySummariesWithTimeout(mem.toDS())
      .toDF().writeStream.format("memory").queryName("timeout_test")
      .outputMode("append").start()
    try {
      mem.addData(
        EventStreams.TimedUserEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        EventStreams.TimedUserEvent(1L, ts("2024-01-01 10:05:00"), 2.0))
      q.processAllAvailable()
      // user 1 still active: nothing emitted yet
      assert(spark.table("timeout_test").count() == 0)
      // a far-future event advances the watermark past user 1's
      // last+gap → their state times out and emits exactly once
      mem.addData(EventStreams.TimedUserEvent(2L, ts("2024-01-01 13:00:00"), 9.0))
      q.processAllAvailable()
      val rows = spark.table("timeout_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 2L, 3.0)))
    } finally q.stop()
  }

  test("stream-static join matches the batch twin; unmatched stream rows drop (inner join)") {
    implicit val sq = spark.sqlContext
    val customer = Seq((1L, "BUILDING"), (2L, "AUTO")).toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.toMemorySink(
      EventStreams.eventsBySegment(events, customer),
      "segment_test", org.apache.spark.sql.streaming.OutputMode.Complete())
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("segment_test").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = EventOps.eventsBySegment(
        sample.toDF("ts", "user_id", "event_type", "value"), customer).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch && streamed.nonEmpty)
      // user 3 has no dim row → inner join drops it until the dim "refreshes"
      mem.addData((ts("2024-01-01 13:00:00"), 3L, "click", 1.0))
      q.processAllAvailable()
      assert(!spark.table("segment_test").collect().exists(_.getString(0) == "MACHINERY"))
    } finally q.stop()
  }

  test("transformWithState running totals match the mapGroupsWithState twin") {
    implicit val sq = spark.sqlContext
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStreams.UserEvent]
    val q = EventStreams.runningUserTotalsTws(mem.toDS())
      .toDF().writeStream.format("memory").queryName("tws_totals")
      .outputMode("update").start()
    try {
      mem.addData(EventStreams.UserEvent(1L, "click", 1.0), EventStreams.UserEvent(1L, "view", 2.0))
      q.processAllAvailable()
      mem.addData(EventStreams.UserEvent(1L, "purchase", 4.0), EventStreams.UserEvent(2L, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tws_totals")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // same final per-user totals the mapGroupsWithState spec pins
      assert(rows.contains((1L, 3L, 7.0)), rows.toSeq.toString)
      assert(rows.contains((2L, 1L, 5.0)), rows.toSeq.toString)
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("replayed sf0.001 events through newVsReturningFlags equals the oracle-green batch twin") {
    // The batch twin (ev_new_vs_returning) hash-matches the DuckDB
    // oracle; aggregating the replayed per-(user, day) flags to daily
    // new/returning counts and comparing transitively oracle-checks
    // the stateful streaming path. Time-ordered replay in 3 chunks —
    // the documented contract.
    implicit val sq = spark.sqlContext
    val batchDf = graft.Tables.events(spark, sf0001)
    val dayUs = 86400L * 1000000
    val rows = graft.operators.EventOps.withTsUs(batchDf)
      .select(col("user_id"),
        expr(s"ts_us div $dayUs - (CASE WHEN ts_us % $dayUs < 0 THEN 1 ELSE 0 END)").as("day"))
      .collect().map(r => EventStreams.UserDay(r.getLong(0), r.getLong(1)))
      .sortBy(_.day)
    val mem = MemoryStream[EventStreams.UserDay]
    val q = EventStreams.newVsReturningFlags(mem.toDS())
      .toDF().writeStream.format("memory").queryName("nvr_test")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("nvr_test").collect()
        .map(r => (r.getLong(1), r.getBoolean(2)))
        .groupBy(_._1)
        .map { case (day, vs) =>
          day -> ((vs.length.toLong, vs.count(_._2).toLong))
        }
      val batch = graft.operators.EventOps.newVsReturning(batchDf).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed == batch, s"stream=${streamed.toSeq.sorted} batch=${batch.toSeq.sorted}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("perUserQuota admits exactly `quota` events per user across batches, matching the batch twin") {
    implicit val sq = spark.sqlContext
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStreams.QuotaEvent]
    val q = EventStreams.perUserQuota(mem.toDS(), quota = 2)
      .toDF().writeStream.format("memory").queryName("quota_test")
      .outputMode("append").start()
    try {
      mem.addData(
        EventStreams.QuotaEvent(1L, 1L), EventStreams.QuotaEvent(1L, 2L),
        EventStreams.QuotaEvent(1L, 3L),  // over quota in the same batch
        EventStreams.QuotaEvent(2L, 10L))
      q.processAllAvailable()
      mem.addData(
        EventStreams.QuotaEvent(1L, 4L),  // over quota in a later batch
        EventStreams.QuotaEvent(2L, 11L)) // second admit for user 2
      q.processAllAvailable()
      val admitted = spark.table("quota_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(admitted == Set((1L, 1L, 1L), (1L, 2L, 2L), (2L, 10L, 1L), (2L, 11L, 2L)),
        admitted.toString)
      // batch twin: row_number per user over event_id on the full replay
      import org.apache.spark.sql.expressions.Window
      val all = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 10L), (1L, 4L), (2L, 11L))
        .toDF("user_id", "event_id")
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val twin = all.withColumn("seq", row_number().over(w).cast("long"))
        .filter(col("seq") <= 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(admitted == twin, s"stream=$admitted batch=$twin")
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("runningUserTotals accumulates state across batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventStreams.UserEvent]
    val q = EventStreams.runningUserTotals(mem.toDS())
      .toDF().writeStream.format("memory").queryName("totals_test")
      .outputMode("update").start()
    try {
      mem.addData(EventStreams.UserEvent(1L, "click", 1.0), EventStreams.UserEvent(1L, "view", 2.0))
      q.processAllAvailable()
      mem.addData(EventStreams.UserEvent(1L, "purchase", 4.0))
      q.processAllAvailable()
      val rows = spark.table("totals_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // last update for user 1 must show 3 events, 7.0 total
      assert(rows.contains((1L, 3L, 7.0)))
    } finally q.stop()
  }

  test("streaming top-k per type equals the batch window twin after each batch") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventStreams.ScoredEvent]
    val q = EventStreams.streamingTopKByType(mem.toDS(), k = 2)
      .toDF().writeStream.format("memory").queryName("topk_test")
      .outputMode("update").start()
    val batch1 = Seq(
      EventStreams.ScoredEvent("click", 1L, 5.0),
      EventStreams.ScoredEvent("click", 2L, 9.0),
      EventStreams.ScoredEvent("view", 3L, 1.0))
    val batch2 = Seq(
      EventStreams.ScoredEvent("click", 4L, 7.0),   // displaces id=1 (5.0)
      EventStreams.ScoredEvent("click", 5L, 7.0),   // tie with id=4 → loses on id
      EventStreams.ScoredEvent("view", 6L, 0.5))
    def batchTopK(events: Seq[EventStreams.ScoredEvent], k: Int) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      events.toDF("event_type", "event_id", "value")
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select("event_type", "rnk", "event_id", "value")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    }
    // latest emitted top-k per type (the last update for each (type, rnk))
    def latest(): Set[(String, Int, Long, Double)] = {
      val rows = spark.table("topk_test").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      // memory sink appends every update; reconstruct final state by
      // keeping the LAST row per (type, rnk) in arrival order
      rows.zipWithIndex.groupBy { case ((tp, rnk, _, _), _) => (tp, rnk) }
        .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSet
    }
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(latest() == batchTopK(batch1, 2))
      mem.addData(batch2: _*)
      q.processAllAvailable()
      assert(latest() == batchTopK(batch1 ++ batch2, 2))
      // bounded state: id=1 (5.0) displaced by the two 7.0 rows
      assert(!latest().exists(_._3 == 1L))
    } finally q.stop()
  }

  test("streamingNearDupFlags: catches near-dups across batches, agrees with batch twin") {
    implicit val sq = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val tweaked = ((1 to 39).map(i => s"w$i") :+ "zz").mkString(" ")  // near-dup of base
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.streamingNearDupFlags(
        mem.toDF().toDF("doc_id", "text"))
      .toDF().writeStream.format("memory").queryName("neardup_test")
      .outputMode("append").start()
    def flags() = spark.table("neardup_test").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).distinct.toSet
    try {
      mem.addData((1L, base), (2L, other))
      q.processAllAvailable()
      assert(flags().isEmpty) // base vs other: far apart
      mem.addData((3L, tweaked), (4L, base))  // near-dup + exact dup, later batch
      q.processAllAvailable()
      val batchPairs = graft.operators.Dedup.simhashNearDups(
          Seq((1L, base), (2L, other), (3L, tweaked), (4L, base)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getInt(2))).toSet
      assert(flags() == batchPairs, s"stream=${flags()} batch=$batchPairs")
      assert(flags().contains((4L, 1L, 0)))   // exact dup found across batches
    } finally q.stop()
  }

  test("streamingSemanticDupFlags: replay of the embeddings table equals the batch pairs") {
    implicit val sq = spark.sqlContext
    // real corpus vectors, id-ordered ingest split across two batches —
    // the batch twin caps buckets by lowest vec_id exactly like the
    // stream's arrival-order admission, so pair sets AND rounded
    // cosines must agree
    val rows = graft.Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val (batchA, batchB) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.streamingSemanticDupFlags(
        mem.toDF().toDF("vec_id", "v"), fullPrecisionState = true)
      .toDF().writeStream.format("memory").queryName("semdup_test")
      .outputMode("append").start()
    def flags() = spark.table("semdup_test").collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getDouble(3))).distinct.toSet
    try {
      mem.addData(batchA: _*)
      q.processAllAvailable()
      mem.addData(batchB: _*)
      q.processAllAvailable()
      val batchPairs = graft.operators.Similarity.cosineNearDupPairs(
          graft.Tables.embeddings(spark, sf0001), threshold = 0.2,
          nTables = 4, bitsPerTable = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(flags() == batchPairs,
        s"stream-only=${(flags() -- batchPairs).take(3)} batch-only=${(batchPairs -- flags()).take(3)}")
      assert(flags().nonEmpty, "corpus should contain semantic near-dups")
    } finally q.stop()
  }

  test("streamingSemanticDupFlagsInt8: pairs within the measured quantization band, smaller state") {
    implicit val sq = spark.sqlContext
    // same replay as the full-precision twin; the int8 state stores
    // reconstructed vectors, so pairs may flip only within the
    // quantization error band that sim_quantize_int8 measures
    val emb = graft.Tables.embeddings(spark, sf0001)
    val rows = emb
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val (batchA, batchB) = rows.splitAt(rows.length / 2)
    def runStream(name: String, mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[EventStreams.SemanticDupFlag]) = {
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = mk(mem.toDF().toDF("vec_id", "v"))
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(batchA: _*); q.processAllAvailable()
        mem.addData(batchB: _*); q.processAllAvailable()
        val mem_bytes = q.lastProgress.stateOperators.head.memoryUsedBytes
        val pairs = spark.table(name).collect()
          .map(r => ((r.getLong(2), r.getLong(0)), r.getDouble(3))).distinct.toMap
        (pairs, mem_bytes)
      } finally q.stop()
    }
    val (full, fullBytes) = runStream("semint8_ref",
      df => EventStreams.streamingSemanticDupFlags(df, fullPrecisionState = true))
    val (int8, int8Bytes) = runStream("semint8_test",
      df => EventStreams.streamingSemanticDupFlags(df)) // int8 IS the default
    // pair recall AND precision vs the full-precision twin
    val shared = full.keySet intersect int8.keySet
    assert(shared.size >= (full.size * 0.95).toInt, s"recall ${shared.size}/${full.size}")
    assert(shared.size >= (int8.size * 0.95).toInt, s"precision ${shared.size}/${int8.size}")
    // cosine deviation bounded by the measured reconstruction error:
    // |cos(a, b̂) − cos(a, b)| ≤ 2·‖b̂−b‖/‖b‖ ≤ 2·√dim·max_err/min‖v‖
    val rep = graft.operators.Similarity.quantizeInt8Report(emb)
      .agg(org.apache.spark.sql.functions.max("max_err"),
        org.apache.spark.sql.functions.max("dim")).collect().head
    val (maxErr, dim) = (rep.getDouble(0), rep.getInt(1))
    val minNorm = rows.map(r => math.sqrt(r._2.map(x => x * x).sum)).min
    val bound = 2.0 * math.sqrt(dim.toDouble) * maxErr / minNorm
    val worst = shared.map(k => math.abs(full(k) - int8(k))).foldLeft(0.0)(math.max)
    assert(worst <= bound, s"cosine deviation $worst exceeds quantization bound $bound")
    // the whole point: quantized state is materially smaller
    assert(int8Bytes < fullBytes * 0.55,
      s"int8 state $int8Bytes B not materially smaller than full $fullBytes B")
  }

  test("streamingSemanticDupFlags: a flooded bucket stops admitting but keeps flagging") {
    implicit val sq = spark.sqlContext
    // four near-identical vectors into one bucket with maxBucket=2:
    // ids 3 and 4 must still flag against the admitted 1 and 2, but
    // never against each other (neither was admitted to state)
    val base = (1 to 64).map(_.toDouble / 8)
    def jig(i: Int) = base.updated(0, base.head + i * 1e-9)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.streamingSemanticDupFlags(
        mem.toDF().toDF("vec_id", "v"), maxBucket = 2)
      .toDF().writeStream.format("memory").queryName("semcap_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, jig(1)), (2L, jig(2)), (3L, jig(3)), (4L, jig(4)))
      q.processAllAvailable()
      val pairs = spark.table("semcap_test").collect()
        .map(r => (r.getLong(2), r.getLong(0))).distinct.toSet
      assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)),
        s"got $pairs")
    } finally q.stop()
  }

  test("streamingHeavyHitters: exact regime matches batch counts across batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = EventStreams.streamingHeavyHitters(mem.toDS(), capacity = 16, emitTop = 3)
      .toDF().writeStream.format("memory").queryName("hh_test")
      .outputMode("update").start()
    // user 7 hot in both batches; capacity 16 > 4 distinct → exact
    val batch1 = Seq.fill(5)(7L) ++ Seq(1L, 2L)
    val batch2 = Seq.fill(4)(7L) ++ Seq(1L, 3L)
    def latest(): Map[Long, Long] = {
      val rows = spark.table("hh_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
    }
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(latest()(7L) == 5L)
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val m = latest()
      assert(m(7L) == 9L, m.toString)  // state carried across batches
      assert(m(1L) == 2L)
    } finally q.stop()
  }

  test("replayed sf0.001 events through streamingAttribution equals the oracle-green batch twin") {
    // The batch twin (ev_attribution) hash-matches the DuckDB oracle;
    // per-channel equality of the replayed conversions transitively
    // oracle-checks the streaming path. In-order replay (3 chunks,
    // sorted by ts_us/event_id) — the documented contract.
    implicit val sq = spark.sqlContext
    val batchDf = graft.Tables.events(spark, sf0001)
    val rows = EventOps.withTsUs(batchDf)
      .select("user_id", "ts_us", "event_id", "event_type", "value")
      .as[EventStreams.AttrEvent]
      .collect().sortBy(e => (e.ts_us, e.event_id))
    val mem = MemoryStream[EventStreams.AttrEvent]
    val q = EventStreams.streamingAttribution(mem.toDS())
      .toDF().writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("attr_test").collect()
        .map(r => (r.getString(2), r.getDouble(3)))
        .groupBy(_._1)
        .map { case (ch, vs) =>
          ch -> ((vs.length.toLong, BigDecimal(vs.map(_._2).sum)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        }
      val batch = EventOps.lastTouchAttribution(batchDf).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (ch, (n, _)) => assert(n == batch(ch)._1, s"channel $ch") }
      streamed.foreach { case (ch, (_, v)) =>
        assert(math.abs(v - batch(ch)._2) < 1e-6, s"channel $ch value") }
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("replayed sf0.001 events through sessionGaps equals the batch return-time histogram") {
    implicit val sq = spark.sqlContext
    val batchDf = graft.Tables.events(spark, sf0001)
    val rows = EventOps.withTsUs(batchDf)
      .select("user_id", "ts_us")
      .as[EventStreams.SessEvent]
      .collect().sortBy(_.ts_us)
    val mem = MemoryStream[EventStreams.SessEvent]
    val q = EventStreams.sessionGaps(mem.toDS())
      .toDF().writeStream.format("memory").queryName("sgap_test")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("sgap_test").collect()
        .map(_.getLong(1))
        .groupBy(identity).map { case (g, vs) => g -> vs.length.toLong }
      val batch = EventOps.sessionGapHistogram(batchDf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch,
        s"stream=${streamed.toSeq.sorted} batch=${batch.toSeq.sorted}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("replayed sf0.001 events through transitionEdges equals ev_transitions counts") {
    // Edge counts from the streamed bigram emitter must equal the
    // oracle-green batch transitionMatrix counts — including pairs
    // SPLIT ACROSS replay chunks (the one-event state stitches them).
    implicit val sq = spark.sqlContext
    val batchDf = graft.Tables.events(spark, sf0001)
    val rows = EventOps.withTsUs(batchDf)
      .select("user_id", "ts_us", "event_id", "event_type")
      .as[EventStreams.SeqEvent]
      .collect().sortBy(e => (e.ts_us, e.event_id))
    val mem = MemoryStream[EventStreams.SeqEvent]
    val q = EventStreams.transitionEdges(mem.toDS())
      .toDF().writeStream.format("memory").queryName("trans_test")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("trans_test").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
      val batch = EventOps.transitionMatrix(batchDf).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream=${streamed.toSeq.sorted.take(5)} batch=${batch.toSeq.sorted.take(5)}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("replayed sf0.001 embeddings through runningLabelCentroids match batch centroids") {
    // Vector state: the final per-label emission (count, running-mean
    // vector) must match the oracle-green batch labelCentroids within
    // 2e-6 per coordinate (the batch side rounds at 6 decimals and
    // float-sum order differs between the streaming fold and the
    // batch partial aggregate).
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val rows = emb.select(col("label"), col("embedding"))
      .as[EventStreams.LabeledVec].collect()
    val mem = MemoryStream[EventStreams.LabeledVec]
    val q = EventStreams.runningLabelCentroids(mem.toDS())
      .toDF().writeStream.format("memory").queryName("centroid_test")
      .outputMode("update").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // last emission per label wins (Update mode appends each batch's row)
      val streamed = spark.table("centroid_test").collect()
        .zipWithIndex
        .groupBy(_._1.getInt(0)).map { case (l, vs) =>
          val last = vs.maxBy(_._2)._1
          l -> ((last.getLong(1), last.getSeq[Double](2)))
        }
      val batch = graft.operators.Similarity.labelCentroids(emb).collect()
        .groupBy(_.getInt(0)).map { case (l, rs) =>
          l -> ((rs.head.getLong(3),
            rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq))
        }
      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (l, (n, cb)) =>
        val (sn, cs) = streamed(l)
        assert(sn == n, s"label $l count $sn vs $n")
        cb.zip(cs).foreach { case (b, s) =>
          assert(math.abs(b - s) <= 2e-6, s"label $l coord |$b - $s|") }
      }
    } finally q.stop()
  }

  test("replayed sf0.001 events through strictFunnelHits equals ev_strict_funnel counts") {
    // Users counted at stage ≥ s in the streamed hit log must equal
    // the oracle-green batch strict funnel's per-stage counts — the
    // in-time-order "first qualifying event" equals the batch min
    // aggregate, including stages that complete across chunk
    // boundaries (three-long state stitches them).
    implicit val sq = spark.sqlContext
    val batchDf = graft.Tables.events(spark, sf0001)
    val rows = EventOps.withTsUs(batchDf)
      .select("user_id", "ts_us", "event_type")
      .as[EventStreams.FunnelEvent]
      .collect().sortBy(_.ts_us)
    val mem = MemoryStream[EventStreams.FunnelEvent]
    val q = EventStreams.strictFunnelHits(mem.toDS())
      .toDF().writeStream.format("memory").queryName("sfunnel_test")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val hits = spark.table("sfunnel_test").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      // one hit per (user, stage) at most
      assert(hits.distinct.length == hits.length)
      val stageCount = (s: Int) => hits.count(_._2 == s).toLong
      val batch = EventOps.strictFunnel(batchDf).collect().head
      assert(stageCount(1) == batch.getLong(0), s"stage1 ${stageCount(1)} vs $batch")
      assert(stageCount(2) == batch.getLong(1), s"stage2 ${stageCount(2)} vs $batch")
      assert(stageCount(3) == batch.getLong(2), s"stage3 ${stageCount(3)} vs $batch")
      assert(stageCount(1) > 0)
    } finally q.stop()
  }
}
