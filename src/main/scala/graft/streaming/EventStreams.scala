package graft.streaming

import graft.operators.Lsh
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Structured Streaming twins of the batch event operators
  * ([[graft.operators.EventOps]]): tumbling-window aggregation with
  * watermarks, session windows, and custom per-key state via
  * mapGroupsWithState.
  *
  * Input contract: a streaming DataFrame with at least
  * (ts: Timestamp, user_id: Long, event_type: String, value: Double).
  * Watermarks bound state: late events beyond the watermark are
  * dropped, so state size is O(active windows × keys), not O(stream
  * length) — the property that lets these run for months on a real
  * cluster.
  */
object EventStreams {

  /** Tumbling 1-hour counts per event_type, 2h watermark for late
    * data. Output matches EventOps.hourlyCounts modulo completeness
    * (append mode emits a window only once its watermark passes).
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming hourly error rate — the live SLO series twin of
    * [[graft.operators.EventOps.errorRateHourly]]: one watermarked
    * tumbling window per hour carrying two counters (total, errors),
    * so state is O(open windows) regardless of event volume and each
    * closed window emits exactly the batch row. Feed it to the MAD
    * detector's thresholds for paging; replay equality against the
    * oracle-green batch twin is the correctness gate.
    */
  def errorRateHourly(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .select(
        unix_micros(col("window.start")).as("hour_us"),
        col("n_events"), col("n_errors"),
        round(col("n_errors").cast("double") / col("n_events"), 6).as("error_rate"))

  /** Sliding 1-hour windows every 30 minutes — overlapping windows
    * (each event lands in two), the smoothing twin of [[hourlyCounts]].
    * Watermark bounds open-window state exactly as for tumbling.
    */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        unix_micros(col("window.start")).as("start_us"),
        unix_micros(col("window.end")).as("end_us"),
        col("event_type"), col("n"))

  /** Watermarked per-window distinct users via Datasketches HLL — the
    * streaming face of
    * [[graft.operators.EventOps.distinctUsersSketchRollup]]: an exact
    * streaming `countDistinct` would hold every (window, type, user)
    * in the state store (state grows with distinct users — unbounded
    * on a real firehose), while the mergeable HLL sketch keeps KBs
    * per open window regardless of cardinality, and the same sketch
    * persisted per window unions into daily/weekly rollups downstream
    * without re-reading events. Estimates are engine-deterministic
    * for a given input set; the spec pins them against exact batch
    * counts (sparse-mode sketches are exact at fixture cardinality).
    */
  def hourlyDistinctUsersSketch(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n_users_est"))
      .select(
        unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("n_users_est"))

  /** Session windows (30-minute gap) per user — the streaming twin of
    * EventOps.sessionize, using Spark's native session_window (state
    * is merged ranges per user, bounded by the watermark).
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  /** Stream-stream inner join: purchases matched to the same user's
    * views within the preceding hour — both sides streaming, so Spark
    * buffers each side's rows in state until the other side's
    * watermark passes the join window. The time-range condition plus
    * BOTH watermarks is what makes the state bounded (without them a
    * stream-stream join must keep everything forever); this is the
    * streaming twin of the as-of/funnel batch ops.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
                       watermark: String = "1 hour"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    p.join(v,
      col("p_user") === col("v_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("view_ts")).as("view_us"))
  }

  /** LEFT OUTER stream-stream join: every purchase, with its
    * attributing view if one exists in the look-back window, or nulls
    * if not. Outer results can only emit once the watermark proves no
    * matching view can still arrive — the join's buffered state is
    * exactly the watermark-bounded window, so "purchase with no view"
    * rows appear late but state never leaks. The time-bound condition
    * is MANDATORY for outer stream-stream joins (without it Spark
    * rejects the query rather than buffer forever).
    */
  def viewPurchaseJoinOuter(views: DataFrame, purchases: DataFrame,
                            watermark: String = "1 hour",
                            lookback: Option[String] = None): DataFrame = {
    // The look-back window defaults to the watermark so the state bound
    // and the documented join window stay in lockstep; callers that
    // want a tighter business window than the lateness bound pass
    // `lookback` explicitly.
    val lookbackInterval = expr(s"INTERVAL ${lookback.getOrElse(watermark)}")
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    p.join(v,
      col("p_user") === col("v_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - lookbackInterval,
      "left_outer")
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("view_ts")).as("view_us"))
  }

  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state: running per-user totals via
    * mapGroupsWithState — the escape hatch for stateful logic the
    * built-in windows can't express. NoTimeout here (finite totals);
    * a production deployment with unbounded keys would use
    * EventTimeTimeout + a watermark so abandoned keys expire instead
    * of leaking state. (ProcessingTimeTimeout schedules recurring
    * empty trigger batches — it also never lets processAllAvailable
    * drain in tests.)
    */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          it.foreach { e => n += 1; tot += e.value }
          val next = UserTotals(userId, n, tot)
          state.update(next)
          next
      }
  }

  case class UserDay(user_id: Long, day: Long)
  case class DayFlag(user_id: Long, day: Long, is_new: Boolean)

  /** Streaming new-vs-returning classification — the stateful face of
    * [[graft.operators.EventOps.newVsReturning]]: each (user, day)
    * pair is emitted exactly once, flagged `is_new` iff it is the
    * user's FIRST day ever seen. State per user = first day + the set
    * of already-emitted days (bounded by the user's active days; a
    * production deployment caps it with EventTimeTimeout once the
    * watermark passes — days older than the watermark can't arrive).
    * Contract: time-ordered replay (first day arrives first), the
    * same documented contract as [[streamingAttribution]]; the spec
    * replays real events and pins the aggregate against the
    * oracle-green batch twin.
    */
  def newVsReturningFlags(events: Dataset[UserDay]): Dataset[DayFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Set[Long]), DayFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[UserDay], state: GroupState[(Long, Set[Long])]) =>
          var (first, seen) = state.getOption.getOrElse((Long.MaxValue, Set.empty[Long]))
          val out = scala.collection.mutable.ArrayBuffer.empty[DayFlag]
          it.toSeq.sortBy(_.day).foreach { e =>
            if (!seen.contains(e.day)) {
              val isNew = first == Long.MaxValue
              if (isNew) first = e.day
              seen += e.day
              out += DayFlag(userId, e.day, isNew)
            }
          }
          state.update((first, seen))
          out.iterator
      }
  }

  case class TimedUserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class ActivityState(n_events: Long, total_value: Double, last_ms: Long)
  case class ActivitySummary(user_id: Long, n_events: Long, total_value: Double)

  /** Keyed state WITH expiry: per-user activity accumulates silently
    * and is emitted exactly once — as a closed summary — when the
    * user goes quiet for `gap` (event time). This is the
    * production-shaped twin of [[runningUserTotals]]: EventTimeTimeout
    * + `setTimeoutTimestamp(lastEvent, gap)` means abandoned keys
    * LEAVE the state store instead of leaking, so state size is
    * O(active users in the last gap+watermark), not O(all users ever)
    * — the invariant that lets this run for months. Timeouts fire
    * when the WATERMARK passes last+gap, so late data inside the
    * watermark still lands in its session.
    */
  def activitySummariesWithTimeout(events: Dataset[TimedUserEvent],
                                   watermark: String = "10 minutes",
                                   gap: String = "30 minutes"): Dataset[ActivitySummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ActivityState, ActivitySummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[TimedUserEvent], state: GroupState[ActivityState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ActivitySummary(userId, s.n_events, s.total_value))
          } else {
            val prev = state.getOption.getOrElse(ActivityState(0L, 0.0, Long.MinValue))
            var n = prev.n_events; var tot = prev.total_value; var last = prev.last_ms
            it.foreach { e => n += 1; tot += e.value; last = math.max(last, e.ts.getTime) }
            state.update(ActivityState(n, tot, last))
            state.setTimeoutTimestamp(last, gap)
            Iterator.empty
          }
      }
  }

  /** Stream-static join: enrich the event stream with a broadcast
    * dimension (customer segment) and aggregate per (segment, type) —
    * the canonical "join the firehose to the warehouse dim" shape.
    * The static side is re-resolved per micro-batch (Spark semantics),
    * so a dim refresh lands without restarting the query; as a
    * broadcast hash join it adds zero streaming state and no shuffle
    * on the stream side before the aggregation. Output matches
    * [[graft.operators.EventOps.eventsBySegment]] in complete mode.
    */
  def eventsBySegment(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))

  /** Running per-user totals on the Spark 4 `transformWithState`
    * API — the arbitrary-state successor to mapGroupsWithState:
    * composable named state variables (ValueState here; List/Map
    * state and per-key timers in the same handle), schema-evolvable
    * state, and RocksDB-backed stores. Semantics mirror
    * [[runningUserTotals]] (update-mode running totals); the spec
    * pins the two APIs equal on the same input.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserTotals] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timers: TimerValues): Iterator[UserTotals] = {
      val (n0, v0) = Option(totals.get()).getOrElse((0L, 0.0))
      var n = n0; var v = v0
      rows.foreach { e => n += 1; v += e.value }
      totals.update((n, v))
      Iterator.single(UserTotals(key, n, v))
    }
  }

  /** [[runningUserTotals]] rewritten on `transformWithState`. */
  def runningUserTotalsTws(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class QuotaEvent(user_id: Long, event_id: Long)
  case class AdmittedEvent(user_id: Long, event_id: Long, seq: Long)

  /** Per-key admission quota on `transformWithState`: only the first
    * `quota` events of each user (lifetime of the stream) pass; the
    * rest drop. The ingestion-side rate control a training-data
    * pipeline puts in front of per-entity caps ("at most N documents
    * per domain") — state is ONE counter per key regardless of
    * traffic, and unlike an aggregation the op FILTERS rows, so
    * admitted events flow on to downstream stages unchanged, tagged
    * with their admission sequence number. Replay equality: on a
    * time-ordered replay the admitted set equals the batch
    * `row_number() ≤ quota` per user (the spec pins it).
    */
  class QuotaProcessor(quota: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, QuotaEvent, AdmittedEvent] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var seen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[QuotaEvent],
                                 timers: TimerValues): Iterator[AdmittedEvent] = {
      var n = if (seen.exists()) seen.get() else 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[AdmittedEvent]
      rows.foreach { e =>
        if (n < quota) { n += 1; out += AdmittedEvent(key, e.event_id, n) }
      }
      seen.update(n)
      out.iterator
    }
  }

  def perUserQuota(events: Dataset[QuotaEvent], quota: Long = 2): Dataset[AdmittedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new QuotaProcessor(quota),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  case class SessEvent(user_id: Long, ts_us: Long)
  case class SessionGap(user_id: Long, gap_hours: Long)

  /** Streaming inter-session return-time emitter — the stateful face
    * of [[graft.operators.EventOps.sessionGapHistogram]]: per user,
    * when an event opens a NEW session (gap > `gapMinutes` since the
    * last event), emit the capped hours since the previous session's
    * START. State per key is two longs (last event ts, current
    * session start) — O(users), stream-length-independent; a
    * production deployment adds EventTimeTimeout to retire dormant
    * keys. Time-ordered replay contract as [[transitionEdges]]; the
    * spec pins the streamed gap histogram to the oracle-green batch
    * twin.
    */
  def sessionGaps(events: Dataset[SessEvent], gapMinutes: Int = 30,
                  capHours: Int = 168): Dataset[SessionGap] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SessionGap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[(Long, Long)]) =>
          var (lastTs, lastStart) = state.getOption.getOrElse((Long.MinValue, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionGap]
          it.toSeq.sortBy(_.ts_us).foreach { e =>
            if (lastTs == Long.MinValue) lastStart = e.ts_us
            else if (e.ts_us - lastTs > gapUs) {
              out += SessionGap(uid,
                math.min((e.ts_us - lastStart) / 3600000000L, capHours.toLong))
              lastStart = e.ts_us
            }
            lastTs = e.ts_us
          }
          state.update((lastTs, lastStart))
          out.iterator
      }
  }

  case class SeqEvent(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  case class TransitionEdge(prev_type: String, next_type: String)

  /** Streaming bigram transition edges — the stateful face of
    * [[graft.operators.EventOps.transitionMatrix]]: per user, emit a
    * (prev_type → next_type) edge for every consecutive event pair,
    * carrying exactly ONE event of state per key (the last seen), so
    * state is O(users) regardless of stream length and a user's
    * cross-batch pair is stitched correctly when a batch boundary
    * splits it. Rows within a batch sort by (ts_us, event_id) — the
    * same tiebreak as the batch window — and the replay contract is
    * time-ordered chunks, as with [[streamingAttribution]]. The
    * downstream count-by-edge is a plain streaming aggregation; the
    * spec pins edge counts against the oracle-green `ev_transitions`
    * batch counts.
    */
  def transitionEdges(events: Dataset[SeqEvent]): Dataset[TransitionEdge] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqEvent, TransitionEdge](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[SeqEvent], state: GroupState[SeqEvent]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[TransitionEdge]
          var prev = state.getOption
          sorted.foreach { e =>
            prev.foreach(p => out += TransitionEdge(p.event_type, e.event_type))
            prev = Some(e)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming exact dedup: drop events whose `event_id` was already
    * seen, with state bounded by the watermark (an id older than the
    * watermark can be evicted because any duplicate of it would be
    * dropped as late anyway). The streaming face of Dedup.exact — the
    * first stage of a continuously-ingesting training-data pipeline.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** End-to-end streaming→batch pipeline: watermarked exact dedup →
    * session-window aggregation → `foreachBatch` parquet sink. This is
    * the continuously-ingesting shape of a training-data pipeline: two
    * chained stateful operators (Spark ≥3.4 supports stateful
    * chaining in append mode with watermark propagation) feed a batch
    * sink via `foreachBatch` — the escape hatch that hands each
    * finalized micro-batch to ordinary DataFrame writer code.
    *
    * Exactly-once on top of at-least-once replay: each batch writes its
    * own dir of a [[StateCompaction.Changelog]] with `overwrite`, so a
    * restart that re-delivers a micro-batch replaces its output instead
    * of appending duplicates (the standard idempotent-foreachBatch
    * pattern; on a cluster the same code targets an object-store
    * prefix and readers see it as one partitioned table).
    *
    * Output rows: (user_id, start_us, end_us, n_events), where end_us
    * is the session_window close = last event + gap (the batch twin
    * [[graft.operators.EventOps.sessionize]] reports last-event time;
    * the replay spec reconciles the two).
    */
  def dedupSessionizeToParquet(events: DataFrame, outDir: String,
                               gap: String = "30 minutes",
                               watermark: String = "1 hour"): StreamingQuery = {
    val sessions = StateCompaction.Changelog(outDir, StructType(
      Seq("user_id", "start_us", "end_us", "n_events").map(StructField(_, LongType))))
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sessions.write(batch, batchId)
      }
      .start()
  }

  /** Convenience: wire a streaming query to an in-memory sink for
    * tests/demos. Caller stops the query.
    */
  def toMemorySink(df: DataFrame, name: String, outputMode: OutputMode = OutputMode.Append()) =
    df.writeStream.format("memory").queryName(name).outputMode(outputMode).start()

  case class ScoredEvent(event_type: String, event_id: Long, value: Double)
  case class TopKRow(event_type: String, rnk: Int, event_id: Long, value: Double)

  /** Streaming per-key top-k: the k highest-value events per
    * event_type, maintained continuously — the leaderboard/"best
    * documents so far" shape of a streaming curation pipeline.
    *
    * State is the SAME O(k) sorted buffer [[graft.functions.Aggregators.TopKPairs]]
    * uses for the batch path (shared boundedInsert), keyed by
    * event_type: per batch each key folds its new rows into the
    * buffer and re-emits its current top-k (update mode). State size
    * is k pairs per key — independent of stream length, so no
    * watermark is needed for boundedness; ordering (value desc,
    * event_id asc) is total, making results deterministic and equal
    * to the batch window-top-k twin on the same prefix (pinned by
    * spec).
    */
  def streamingTopKByType(events: Dataset[ScoredEvent], k: Int = 5): Dataset[TopKRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ord: Ordering[(Double, Long)] = Ordering.by(p => (-p._1, p._2))
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Seq[(Double, Long)], TopKRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (tp: String, it: Iterator[ScoredEvent], state: GroupState[Seq[(Double, Long)]]) =>
          var buf = state.getOption.getOrElse(Vector.empty)
          it.foreach { e =>
            buf = graft.functions.Aggregators.boundedInsert(buf, (e.value, e.event_id), k, ord)
          }
          state.update(buf)
          buf.iterator.zipWithIndex.map { case ((v, id), i) => TopKRow(tp, i + 1, id, v) }
      }
  }

  case class BandedDoc(band_idx: Int, band_bits: Long, doc_id: Long, fp: Long)
  case class NearDupFlag(doc_id: Long, band_idx: Int, dup_of: Long, hamming: Int)

  /** Streaming SimHash near-dup detection — the ingest-time twin of
    * the batch [[graft.operators.Dedup.simhashNearDups]]: as documents
    * arrive, each is fingerprinted map-only (the same codegen
    * [[graft.functions.SimHash64]] expression — no aggregation, so it
    * streams), banded by the same pigeonhole split
    * ([[Lsh.pigeonholeBands]]: maxDist+1 bands ⇒
    * any pair within maxDist matches exactly in ≥1 band), and checked
    * against the KEYED STATE of fingerprints previously seen in that
    * band bucket. A hit emits (doc_id, dup_of, hamming) immediately —
    * the "reject known boilerplate at the door" pass of a streaming
    * ingest pipeline, without re-scanning the corpus.
    *
    * State is bounded exactly like the batch bucket cap: each
    * (band_idx, band_bits) bucket keeps the `maxBucket`
    * lowest-doc_id fingerprints (16 bytes each) — spam floods
    * degrade recall in the hot bucket, never memory. A doc can match
    * in several bands; the caller dedups on (doc_id, dup_of) (kept
    * per-band here so the operator stays a single stateful stage —
    * stacking an aggregation on flatMapGroupsWithState output is not
    * supported in append semantics).
    */
  def streamingNearDupFlags(docs: DataFrame, maxDist: Int = 3,
                            maxBucket: Int = 256): Dataset[NearDupFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = docs
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash64(col("text")).as("fp"))
      .select(col("doc_id"), col("fp"),
        explode(Lsh.pigeonholeBands(col("fp"), 64, maxDist)).as("band"))
      .select(col("band.band_idx").as("band_idx"), col("band.band_bits").as("band_bits"),
        col("doc_id"), col("fp"))
      .as[BandedDoc]
    banded
      .groupByKey(d => (d.band_idx, d.band_bits))
      .flatMapGroupsWithState[Vector[(Long, Long)], NearDupFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[BandedDoc], state: GroupState[Vector[(Long, Long)]]) =>
          var bucket = state.getOption.getOrElse(Vector.empty) // (doc_id, fp), doc_id asc
          val out = Vector.newBuilder[NearDupFlag]
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            bucket.foreach { case (prevId, prevFp) =>
              if (prevId != d.doc_id) {
                val dist = java.lang.Long.bitCount(prevFp ^ d.fp)
                if (dist <= maxDist)
                  out += NearDupFlag(d.doc_id, d.band_idx, prevId, dist)
              }
            }
            // arrival-order cap (= lowest doc_ids under the usual
            // monotone-id ingest): a full bucket stops admitting, so
            // state is ≤ maxBucket 16-byte entries per key forever
            if (bucket.size < maxBucket)
              bucket = bucket :+ (d.doc_id, d.fp)
          }
          state.update(bucket)
          out.result().iterator
      }
  }

  case class HeavyHitter(user_id: Long, est_n: Long)

  /** Streaming heavy hitters: a single Misra-Gries summary maintained
    * over the whole stream — "which users dominate the firehose right
    * now" with O(capacity) state TOTAL, stream-length-independent, no
    * watermark needed for boundedness. Per batch the new keys fold
    * into the summary (same reduce/merge invariants as the batch
    * [[graft.functions.Aggregators.MisraGries]] — an arrival order is
    * just one specific merge schedule, so the same guarantees hold:
    * every key with true count > N/capacity is present, estimates
    * never overcount and undercount by ≤ N/capacity); the current
    * top hitters re-emit in update mode. Keyed by a constant because
    * the summary is global — parallelism comes from upstream
    * partitions, the state op only folds tiny per-batch key lists
    * (for a keyed variant, group by a dimension instead).
    */
  def streamingHeavyHitters(userIds: Dataset[Long], capacity: Int = 64,
                            emitTop: Int = 10): Dataset[HeavyHitter] = {
    val spark = userIds.sparkSession
    import spark.implicits._
    val mg = new graft.functions.Aggregators.MisraGries(capacity)
    userIds
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[(Long, Long, Map[Long, Long]), HeavyHitter](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[Long], state: GroupState[(Long, Long, Map[Long, Long])]) =>
          var summary = state.getOption.getOrElse(mg.zero)
          it.foreach { k => summary = mg.reduce(summary, k) }
          state.update(summary)
          mg.finish(summary).take(emitTop)
            .iterator.map { case (k, n) => HeavyHitter(k, n) }
      }
  }

  case class AttrEvent(user_id: Long, ts_us: Long, event_id: Long,
                       event_type: String, value: Double)
  case class AttrState(last_us: Long, last_type: String)
  case class Conversion(user_id: Long, ts_us: Long, channel: String, value: Double)

  /** Ingest-time last-touch attribution — streaming twin of
    * [[graft.operators.EventOps.lastTouchAttribution]]: per-user
    * state is ONLY the latest non-purchase touch (two fields — O(1)
    * per user, the smallest possible attribution state), and every
    * purchase emits its attributed conversion the moment it arrives
    * instead of waiting for a batch job. Within a batch each user's
    * rows are processed in (ts_us, event_id) order, so an in-order
    * replay reproduces the batch window's semantics exactly (the
    * same ordered-replay contract as the other twins; out-of-order
    * arrivals across batches attribute against the touch state as
    * ingested — the streaming trade documented on all ingest-time
    * paths here). NoTimeout for the finite test streams; production
    * adds EventTimeTimeout so dormant users leave the store.
    */
  def streamingAttribution(events: Dataset[AttrEvent],
                           lookbackMin: Int = 30): Dataset[Conversion] = {
    val spark = events.sparkSession
    import spark.implicits._
    val lookUs = lookbackMin.toLong * 60 * 1000000
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, Conversion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AttrEvent], state: GroupState[AttrState]) =>
          var st = state.getOption.getOrElse(AttrState(Long.MinValue, ""))
          val out = Vector.newBuilder[Conversion]
          it.toVector.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (e.event_type == "purchase") {
              val channel =
                if (st.last_us != Long.MinValue && e.ts_us - st.last_us <= lookUs)
                  st.last_type
                else "direct"
              out += Conversion(uid, e.ts_us, channel, e.value)
            } else st = AttrState(e.ts_us, e.event_type)
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)
  case class FunnelState(vUs: Long, cUs: Long, pUs: Long)
  case class FunnelHit(user_id: Long, stage: Int, ts_us: Long)

  case class LabeledVec(label: Int, embedding: Seq[Float])
  case class CentroidState(n: Long, sums: Seq[Double])
  case class LabelCentroid(label: Int, n: Long, centroid: Seq[Double])

  /** Streaming running label centroids — the stateful VECTOR-state
    * face of [[graft.operators.Similarity.labelCentroids]]: per
    * label, the state is one (count, per-dimension sum) pair, merged
    * per micro-batch and emitted as the running mean vector
    * (mapGroupsWithState, Update mode). This is the online form of
    * every "class prototype" maintenance job — drift monitors,
    * nearest-centroid classifiers, SemDeDup-style cluster upkeep —
    * with state O(labels × dim) regardless of stream length. The
    * spec replay-pins the final emission to the oracle-green batch
    * centroids (float-sum order differs between the streaming fold
    * and the batch partial aggregate, so the pin is ≤1e-6 per
    * coordinate rather than bit equality).
    */
  def runningLabelCentroids(vecs: Dataset[LabeledVec]): Dataset[LabelCentroid] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .groupByKey(_.label)
      .mapGroupsWithState[CentroidState, LabelCentroid](
        GroupStateTimeout.NoTimeout) {
        (label: Int, it: Iterator[LabeledVec], state: GroupState[CentroidState]) =>
          var st = state.getOption.getOrElse(CentroidState(0L, Seq.empty))
          it.foreach { v =>
            val s = if (st.sums.isEmpty) v.embedding.map(_.toDouble)
              else st.sums.zip(v.embedding).map { case (a, b) => a + b }
            st = CentroidState(st.n + 1, s)
          }
          state.update(st)
          LabelCentroid(label, st.n, st.sums.map(_ / st.n))
      }
  }

  /** Streaming strict-deadline funnel — the stateful face of
    * [[graft.operators.EventOps.strictFunnel]]: per user, anchor on
    * the FIRST view, admit the first click within `stepUs` of it,
    * then the first purchase within `stepUs` of that click, emitting
    * a (user, stage, ts) hit row as each stage is first reached.
    * Processing events in time order makes "first qualifying" equal
    * the batch min-aggregate, so counting users at stage ≥ s
    * reproduces the batch funnel exactly. State is three longs per
    * user — O(users), stream-length-independent (EventTimeTimeout
    * retires keys in production once the deadline horizon passes).
    * Time-ordered replay contract as [[transitionEdges]]; the spec
    * pins stage counts to the oracle-green `ev_strict_funnel` row.
    */
  def strictFunnelHits(events: Dataset[FunnelEvent],
                       stepUs: Long = 3600000000L): Dataset[FunnelHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
          it.toSeq.sortBy(_.ts_us).foreach { e =>
            e.event_type match {
              case "view" if st.vUs < 0 =>
                st = st.copy(vUs = e.ts_us); out += FunnelHit(uid, 1, e.ts_us)
              case "click" if st.vUs >= 0 && st.cUs < 0 &&
                  e.ts_us > st.vUs && e.ts_us - st.vUs <= stepUs =>
                st = st.copy(cUs = e.ts_us); out += FunnelHit(uid, 2, e.ts_us)
              case "purchase" if st.cUs >= 0 && st.pUs < 0 &&
                  e.ts_us > st.cUs && e.ts_us - st.cUs <= stepUs =>
                st = st.copy(pUs = e.ts_us); out += FunnelHit(uid, 3, e.ts_us)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class BucketedVec(table_idx: Int, bucket: Long, vec_id: Long, v: Array[Double])
  case class SemanticDupFlag(vec_id: Long, table_idx: Int, dup_of: Long, cos_sim: Double)

  /** Streaming SEMANTIC near-dup detection — the ingest-time twin of
    * the batch [[graft.operators.Similarity.cosineNearDupPairs]] and
    * the embedding-side sibling of [[streamingNearDupFlags]] (that op
    * catches lexical copies via SimHash; this one catches paraphrases
    * via embedding cosine, the online face of SemDeDup-style
    * curation). Each arriving vector is hyperplane-bucketed map-only
    * (the same codegen [[graft.functions.HyperplaneSignature]]
    * expression as the batch op, so stream and batch agree bit-for-
    * bit on bucket membership) and compared against the KEYED STATE
    * of vectors previously seen in that (table, bucket): a cosine at
    * or above `threshold` emits (vec_id, dup_of, cos_sim) immediately.
    *
    * State is bounded exactly like the batch bucket cap: each bucket
    * admits the first `maxBucket` arrivals (= lowest vec_ids under
    * monotone-id ingest, matching the batch row_number cap), so a
    * flooded bucket degrades recall, never memory.
    *
    * DEFAULT STATE ENCODING IS INT8 (promoted round 11, after a second
    * sf1 replay confirmed recall/precision ≥ 0.95 against the
    * full-precision twin — `STREAM_STATE_r11.json`): stored vectors
    * are affine-quantized, ~8× less state per admitted vector — the
    * difference between state that fits the store and state that
    * spills at corpus scale ([[quantizeInt8]]). Pass
    * `fullPrecisionState = true` for exact batch-score agreement:
    * that exact agreement holds only under monotone-id ingest AND no
    * bucket exceeding `maxBucket` — under flood the stream emits
    * (admitted, non-admitted) pairs that the batch twin (which caps
    * BOTH join sides) never generates, so the flooded stream flags a
    * strict SUPERSET of the batch pairs (the flood-cap spec pins
    * exactly this divergence).
    */
  def streamingSemanticDupFlags(vecs: DataFrame, threshold: Double = 0.2,
                                nTables: Int = 4, bitsPerTable: Int = 8,
                                maxBucket: Int = 256,
                                fullPrecisionState: Boolean = false): Dataset[SemanticDupFlag] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    if (fullPrecisionState)
      semanticDupFlagsWith[(Long, Array[Double])](vecs, threshold, nTables,
        bitsPerTable, maxBucket)(
        d => (d.vec_id, d.v), e => (e._1, ArrayData.toArrayData(e._2)))
    else
      semanticDupFlagsWith[(Long, Array[Byte], Double, Double)](vecs, threshold,
        nTables, bitsPerTable, maxBucket)(
        d => { val (q, mn, sc) = quantizeInt8(d.v); (d.vec_id, q, mn, sc) },
        e => (e._1, dequantizeInt8(e._2, e._3, e._4)))
  }

  /** A state-side cosine, HALF_UP-rounded to 6 places like the batch
    * column's `round(_, 6)`, through the kernel's own body
    * ([[graft.functions.CosineSimilarity.compute]]). Callers convert
    * each vector to `ArrayData` once (the bucket once per group call,
    * an incoming vector once), not once per pair.
    */
  private def cosine6(a: ArrayData, b: ArrayData): Double =
    BigDecimal(graft.functions.CosineSimilarity.compute(a, b))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The int8 state encoding (the DEFAULT since round 11) — the 100 TB
    * form of the keyed state: each stored vector is the min/range
    * affine quantization of
    * [[graft.operators.Similarity.quantizeInt8Report]] (sc =
    * (max−min)/255, level = floor((x−mn)/sc), reconstruct = mn +
    * level·sc), so a 64-dim float64 entry shrinks from 512 B of
    * doubles to 64 B of levels + 16 B of (mn, sc) — ~8× less state
    * per admitted vector, the difference between state that fits the
    * state store and state that spills at corpus scale.
    *
    * Cost: cosines are computed against RECONSTRUCTED vectors, so
    * emitted scores deviate from the full-precision encoding by at most
    * the reconstruction error the `sim_quantize_int8` report measures
    * per corpus (bin size sc per element), and pairs whose true cosine
    * sits within that band of `threshold` can flip in or out. The
    * replay spec pins both: pair recall/precision against the
    * full-precision encoding and the max cosine deviation against the
    * report's measured `max_err`. Incoming vectors compare at full
    * precision — only the STORED side is quantized, halving the error
    * vs quantizing both sides.
    */
  private def quantizeInt8(v: Array[Double]): (Array[Byte], Double, Double) = {
    var mn = Double.MaxValue; var mx = Double.MinValue
    var i = 0
    while (i < v.length) { if (v(i) < mn) mn = v(i); if (v(i) > mx) mx = v(i); i += 1 }
    val sc = (mx - mn) / 255.0
    val q = new Array[Byte](v.length)
    if (sc > 0) {
      i = 0
      while (i < v.length) {
        q(i) = (math.min(math.floor((v(i) - mn) / sc).toInt, 255) - 128).toByte
        i += 1
      }
    }
    (q, mn, sc)
  }

  private def dequantizeInt8(q: Array[Byte], mn: Double, sc: Double): ArrayData = {
    val v = new Array[Double](q.length)
    var i = 0
    while (i < q.length) { v(i) = mn + (q(i) + 128) * sc; i += 1 }
    ArrayData.toArrayData(v)
  }

  /** The one body of [[streamingSemanticDupFlags]], over a stored-entry
    * encoding `E`: each bucket's keyed state is a `Vector[E]` of its
    * admitted arrivals, `encode` turns an admitted arrival into its
    * entry and `decode` gives an entry's (vec_id, vector) for scoring.
    * The full-precision encoding's emitted cosines equal the batch
    * column bit-for-bit (the same kernel body, same HALF_UP
    * `round(_, 6)`, see `cosine6`).
    */
  private def semanticDupFlagsWith[E](vecs: DataFrame, threshold: Double,
                                      nTables: Int, bitsPerTable: Int,
                                      maxBucket: Int)(
      encode: BucketedVec => E, decode: E => (Long, ArrayData))(
      implicit stateEnc: Encoder[Vector[E]]): Dataset[SemanticDupFlag] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bucketed = vecs
      .select(col("vec_id"), col("v"),
        posexplode(graft.functions.VectorFunctions.hyperplaneSig(col("v"),
          nTables, bitsPerTable)).as(Seq("table_idx", "bucket")))
      .select(col("table_idx"), col("bucket"), col("vec_id"), col("v"))
      .as[BucketedVec]
    bucketed
      .groupByKey(d => (d.table_idx, d.bucket))
      .flatMapGroupsWithState[Vector[E], SemanticDupFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[BucketedVec], state: GroupState[Vector[E]]) =>
          var bucket = state.getOption.getOrElse(Vector.empty)
          var scored = bucket.map(decode)
          val out = Vector.newBuilder[SemanticDupFlag]
          it.toSeq.sortBy(_.vec_id).foreach { d =>
            val v = ArrayData.toArrayData(d.v)
            scored.foreach { case (prevId, prevV) =>
              if (prevId != d.vec_id) {
                val cs = cosine6(prevV, v)
                if (cs >= threshold)
                  out += SemanticDupFlag(d.vec_id, d.table_idx, prevId, cs)
              }
            }
            if (bucket.size < maxBucket) {
              val e = encode(d)
              bucket = bucket :+ e
              scored = scored :+ decode(e)
            }
          }
          state.update(bucket)
          out.result().iterator
      }
  }
}
