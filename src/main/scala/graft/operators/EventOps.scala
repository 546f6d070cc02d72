package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Event-log operators: JSON prop extraction, as-of join,
  * sessionization. The `events` table is the batch twin of the
  * streaming path in [[graft.streaming.EventStreams]].
  *
  * Timestamps: the parquet stores nanosecond timestamps, which Spark
  * reads as Long nanos under `spark.sql.legacy.parquet.nanosAsLong`
  * (Spark's TimestampType is µs). All operators normalize to epoch
  * microseconds (`ts_us: Long`) up front — integer `div`, never
  * double division, since epoch-nanos exceed 2^53 — and all outputs
  * expose ts_us so results are engine- and timezone-independent.
  */
object EventOps {

  /** Interpret a TIMESTAMP_NTZ wall-clock as a UTC instant,
    * independent of `spark.sql.session.timeZone`: pre-shift the wall
    * clock from UTC into the session zone, then cast NTZ→LTZ (which
    * interprets in the session zone) — the two zone hops cancel, so
    * the resulting instant is the NTZ value read as UTC no matter
    * what zone the session runs under.
    */
  private def ntzAsUtcInstant(c: Column): Column =
    convert_timezone(lit("UTC"), current_timezone(), c).cast(TimestampType)

  /** Normalize the `ts` column to epoch µs as `ts_us`, accepting
    * Long nanos (parquet NANOS under the legacy flag), TIMESTAMP_NTZ
    * (untagged parquet µs when NTZ inference is on — wall clock read
    * as UTC, matching the oracle's epoch_us(CAST ...)), or a proper
    * TimestampType (tests, other sources).
    */
  private[graft] def withTsUs(events: DataFrame): DataFrame = {
    val tsUs: Column = events.schema("ts").dataType match {
      case LongType           => expr("ts div 1000")
      case TimestampNTZType   => unix_micros(ntzAsUtcInstant(col("ts")))
      case _                  => unix_micros(col("ts"))
    }
    events.withColumn("ts_us", tsUs)
  }

  /** Normalize the `ts` column to a proper instant-typed
    * TimestampType in place — the streaming-staging twin of
    * [[withTsUs]] (watermarks/window() need a timestamp column, not
    * epoch-µs Longs). Same three-way schema dispatch, so spec staging
    * and production paths survive a testdata re-encode together.
    */
  private[graft] def withTsTimestamp(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType         => events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => events.withColumn("ts", ntzAsUtcInstant(col("ts")))
      case _                => events
    }

  /** Floor-division time bucket over `ts_us` (bucket width in µs).
    * Matches DuckDB `//` and `date_trunc` for pre-1970 timestamps,
    * where Spark's `div` truncates toward zero and would shift
    * negative epoch micros into the FOLLOWING bucket. Stays in
    * integer arithmetic — a double divide loses micros past 2^53.
    */
  private[graft] def tsBucket(widthUs: Long): Column =
    expr(s"ts_us div $widthUs - (CASE WHEN ts_us % $widthUs < 0 THEN 1 ELSE 0 END)")

  /** Parse the JSON `props` payload and aggregate per event type.
    * Uses `regexp_extract` (codegen'd) rather than a JSON UDF; for
    * richer payloads `from_json` with an explicit schema is the
    * scale path (still codegen-friendly, no Python/Scala closures).
    */
  def propsStats(events: DataFrame): DataFrame =
    events
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(-?\\d+)", 1).cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        coalesce(sum("k"), lit(0L)).as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** Structured JSON extraction via `from_json` with an explicit
    * schema — the scale path for rich payloads ([[propsStats]] shows
    * the regex alternative for ad-hoc probes): schema projection
    * happens inside codegen, malformed rows go null instead of
    * erroring, and nested fields prune like ordinary columns.
    */
  def propsJson(events: DataFrame): DataFrame =
    events
      .select(from_json(col("props"), lit("k LONG")).getField("k").as("k"), col("value"))
      // % (sign-of-dividend remainder), not pmod: matches the oracle's
      // SQL % semantics even if a payload ever carries negative k
      .groupBy((col("k") % 10).cast("long").as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum("k"), lit(0L)).as("sum_k"),
        round(sum("value"), 4).as("sum_value"))
      .orderBy("k_bucket")

  /** Daily counts per event type with a trailing 3-row moving average
    * — the analytic-frame surface (`ROWS BETWEEN 2 PRECEDING AND
    * CURRENT ROW`). The frame runs over the already-aggregated daily
    * rollup (days × types rows), so the window state is tiny no
    * matter how large the raw log is.
    */
  def dailyRolling(events: DataFrame): DataFrame = {
    val daily = withTsUs(events)
      .select(tsBucket(86400000000L).as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    daily
      .withColumn("avg3", round(avg("n").over(w), 4))
      .orderBy("day", "event_type")
  }

  /** Day-over-day retention: per day, active users and how many were
    * also active the previous day. Distinct (day, user) pairs first —
    * the shuffle carries one row per user-day, not per event — then a
    * self-join shifted by one day. The engagement metric every
    * event-log warehouse computes.
    */
  def dailyRetention(events: DataFrame): DataFrame = {
    val userDays = withTsUs(events)
      .select(tsBucket(86400000000L).as("day"), col("user_id"))
      .distinct()
    val retained = userDays
      .join(userDays.select((col("day") + 1).as("day"), col("user_id")),
        Seq("day", "user_id"))
      .groupBy("day").agg(count(lit(1)).as("n_retained"))
    userDays.groupBy("day").agg(count(lit(1)).as("n_active"))
      .join(retained, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
      .orderBy("day")
  }

  /** Interval correlation join WITHOUT an equi key — "how many B-type
    * events happened within ±tolerance of each A-type event, and how
    * close was the nearest" (incident correlation: errors near
    * purchases). A naive theta-join on |Δt| ≤ tol is a cross product;
    * tolerance-width time-bucket binning (an earlier version of this
    * operator) bounds it at Σ |A_bin|·|B_bin±1| — but with a FIXED
    * corpus timespan that is still quadratic in event DENSITY, and the
    * full-suite second-decade bench caught exactly that (81× per 10×
    * data at sf10). Since the output is a per-A AGGREGATE, no pair
    * ever needs to exist: count of B in [a−tol, a+tol] is a
    * difference of the global running B-count read at two probe
    * positions, and the nearest B is the running prev/next non-null B
    * — the as-of trick. The stream is |B| + 3|A| tagged rows
    * (lo-probe, anchor, hi-probe per A; tie-break makes the lo cum
    * strict `<` and the hi cum `≤`, and puts same-instant B before
    * the anchor so the prev side covers Δ=0).
    *
    * Global order without a global window: rows get a DETERMINISTIC
    * time-chunk index `pid` — `parts` uniform-width chunks of the
    * observed ts range (1-row broadcast min/max bounds, the q_gini
    * scalar idiom) — running aggregates partition by pid, and a
    * ≤parts-row per-chunk summary frame stitches chunks with prefix
    * sums broadcast back: the distributed cumulative-sum idiom. A
    * column, not `spark_partition_id`, so re-execution can't re-deal
    * the chunks (no sampling pass, no checkpoint barrier) and the
    * only fact-scale shuffle is the window's own pid exchange, plus
    * one |A|-keyed group-by; work is O(n log n) per chunk and
    * INDEPENDENT of event density, so the shape holds when a 100 TB
    * log has millions of events per tolerance window (a heavily
    * bursty log concentrates rows in few chunks — `parts` is the
    * knob, and chunk cost is a sort, never a pair blow-up).
    * Left-complete: A events with no nearby B report n_nearby = 0,
    * min_delta_us NULL (when n_nearby > 0 the globally nearest B is
    * necessarily within tolerance, so prev/next suffice for the min).
    */
  def nearbyEventPairs(events: DataFrame, typeA: String = "error",
                       typeB: String = "purchase", toleranceMinutes: Int = 5,
                       parts: Int = 64): DataFrame = {
    val tol = toleranceMinutes * 60L * 1000000L
    val e = withTsUs(events)
    val a = e.filter(col("event_type") === typeA)
      .select(col("event_id").as("a_id"), col("ts_us").as("a_us"))
    val b = e.filter(col("event_type") === typeB).select(col("ts_us").as("b_us"))
    // tie 0 probe: cum there = #{b < a−tol}; tie 2: cum = #{b ≤ a+tol};
    // tie 3 anchor: prev/next B read there. One exploded A leg, not
    // three unions — a single pass over the A side. NO checkpoint (the
    // round-11 shape eagerly localCheckpoint'd this frame for its
    // consumers): holding |B| + 3|A| rows in executor block storage
    // made the key's in-suite time hostage to whatever the 314 other
    // queries left in the storage pool — measured 38 s in-suite at sf1
    // vs 1.3-2 s isolated, while the stateless recompute is two cheap
    // scans of one filtered parquet column. Chunk bounds now come from
    // the EVENTS table directly (below), so nothing here needs a
    // materialization barrier.
    val stream = b
      .select(col("b_us").as("ts"), lit(1).as("tie"), lit(1L).as("is_b"),
        lit(null).cast("long").as("a_id"), lit(null).cast("long").as("a_us"))
      .unionByName(a
        .select(explode(array(
            struct((col("a_us") - tol).as("ts"), lit(0).as("tie")),
            struct((col("a_us") + tol).as("ts"), lit(2).as("tie")),
            struct(col("a_us").as("ts"), lit(3).as("tie")))).as("p"),
          col("a_id"), col("a_us"))
        .select(col("p.ts").as("ts"), col("p.tie").as("tie"), lit(0L).as("is_b"),
          col("a_id"), col("a_us")))
    // pid = value-computed uniform time chunk, NOT spark_partition_id
    // over repartitionByRange: the range partitioner re-SAMPLES bounds
    // on every re-execution, and this frame has two consumers — the
    // first cut of this operator stitched offsets against bounds the
    // local pass didn't use (measured as negative n_nearby at sf0.1).
    // A deterministic column is identical on every replay, needs no
    // checkpoint barrier, and costs no sampling job. (ts - lo) spans
    // the corpus in µs, so ×parts stays far below 2^63. Bounds are
    // computed on the A/B EVENT timestamps widened by ±tol — a
    // superset of every stream ts (probes sit at a_us ± tol), and
    // uniform chunking only needs a covering range, not a tight one —
    // so the stream frame itself has exactly its two window consumers
    // and no third bounds scan.
    val bounds = e.filter(col("event_type").isin(typeA, typeB))
      .agg((min("ts_us") - tol).as("ts_lo"), (max("ts_us") + tol).as("ts_hi"))
    val parted = stream.crossJoin(broadcast(bounds))
      .withColumn("pid", expr(s"((ts - ts_lo) * $parts) div (ts_hi - ts_lo + 1)"))
      .drop("ts_lo", "ts_hi")
    val wRun = Window.partitionBy("pid").orderBy("ts", "tie")
    val wUpTo = wRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // next_l = first non-null B strictly AFTER the current row. NOT
    // `first(...).over(rowsBetween(1, unboundedFollowing))`: Spark's
    // unbounded-FOLLOWING frame re-evaluates its aggregate from the
    // current row to the partition end FOR EVERY ROW — O(rows²) per
    // chunk, invisible at sf0.1 and measured as the dominant cost at
    // sf1 (27 s of a 28 s materialization; count()-based probes had
    // hidden it by pruning the window columns entirely). The same
    // value over the REVERSED order is "last non-null B strictly
    // before current", an unbounded-PRECEDING frame that Spark
    // maintains incrementally — O(rows) per chunk after its sort.
    val wRevBefore = Window.partitionBy("pid")
      .orderBy(col("ts").desc, col("tie").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bTs = when(col("is_b") === 1L, col("ts"))
    val local = parted
      .withColumn("cum_l", sum("is_b").over(wUpTo))
      .withColumn("prev_l", last(bTs, ignoreNulls = true).over(wUpTo))
      .withColumn("next_l", last(bTs, ignoreNulls = true).over(wRevBefore))
    // per-partition summaries: ≤ `parts` rows, so the unpartitioned
    // windows below run over a provably tiny frame (PlanAuditSpec
    // allowlists this key with that proof)
    val wOff = Window.orderBy("pid")
    val before = wOff.rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy("pid")
      .agg(sum("is_b").as("nb"), max(bTs).as("last_b"), min(bTs).as("first_b"))
      .withColumn("off", coalesce(sum("nb").over(before), lit(0L)))
      .withColumn("carry_prev", last("last_b", ignoreNulls = true).over(before))
      .withColumn("carry_next",
        first("first_b", ignoreNulls = true).over(wOff.rowsBetween(1, Window.unboundedFollowing)))
      .select("pid", "off", "carry_prev", "carry_next")
    val g = local.join(broadcast(offsets), "pid")
      .filter(col("tie") =!= 1)
      .select(col("a_id"), col("a_us"), col("tie"),
        (col("cum_l") + col("off")).as("cum"),
        coalesce(col("prev_l"), col("carry_prev")).as("prev_b"),
        coalesce(col("next_l"), col("carry_next")).as("next_b"))
    // lazy checkpoint of the |A|-row RESULT before the presentation
    // sort (the text_tfidf idiom): the range partitioner's sampling
    // pass otherwise re-executes the whole window pipeline — and this
    // frame is three narrow columns per A event, so the blocks are
    // KBs-to-MBs where checkpointing the 4M-row probe stream (the
    // round-11 shape) was the in-suite storage hazard this operator
    // just shed.
    g.groupBy("a_id", "a_us")
      .agg(
        (max(when(col("tie") === 2, col("cum"))) -
          max(when(col("tie") === 0, col("cum")))).as("n_nearby"),
        max(when(col("tie") === 3, col("prev_b"))).as("prev_b"),
        max(when(col("tie") === 3, col("next_b"))).as("next_b"))
      .select(col("a_id"), col("n_nearby"),
        when(col("n_nearby") > 0,
          least(col("a_us") - col("prev_b"), col("next_b") - col("a_us"))).as("min_delta_us"))
      .localCheckpoint(false)
      .orderBy("a_id")
  }

  /** As-of join, self-join flavor: for every `purchase` event, the
    * most recent `view` event timestamp (µs) by the same user at or
    * before the purchase.
    *
    * Spark has no built-in as-of join; the scalable shape is NOT a
    * range join (O(n·m) per user) but union + sort within user
    * partitions + `last(ignoreNulls)` running window — a single
    * shuffle on user_id, linear work per partition, no blow-up on
    * users with many events. This is the standard "merge as-of"
    * re-expressed declaratively so it survives 100 TB event logs.
    */
  def lastViewBeforePurchase(events: DataFrame): DataFrame = {
    val e = withTsUs(events)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        lit(null).cast("long").as("event_id"), col("ts_us").as("view_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id"), lit(null).cast("long").as("view_us"))
    // views sort before purchases on ts ties so "at or before"
    // includes same-instant views.
    val tagged = views.unionByName(purchases)
      .withColumn("is_purchase", when(col("event_id").isNotNull, 1).otherwise(0))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("is_purchase"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view_us", last(col("view_us"), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("last_view_us"))
      .orderBy("event_id")
  }

  /** Same as-of semantics as [[lastViewBeforePurchase]] but through
    * the native [[graft.plans.AsOfJoinPlan]] operator (one co-
    * partitioned sorted merge instead of union+window). Differential
    * spec asserts equality; both hash-match the same DuckDB oracle.
    */
  def lastViewBeforePurchaseNative(events: DataFrame): DataFrame = {
    val e = withTsUs(events)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_us").as("view_us"))
    AsOf.join(purchases, views, "user_id", "v_user", "ts_us", "view_us")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("view_us").as("last_view_us"))
      .orderBy("event_id")
  }

  /** [[lastViewBeforePurchaseNative]] with a staleness bound: views
    * older than `toleranceMinutes` before the purchase don't count
    * (pandas merge_asof `tolerance`, running inside the native exec's
    * merge — same single co-partitioned pass, the bound is a per-row
    * long comparison).
    */
  def lastViewWithinNative(events: DataFrame, toleranceMinutes: Int = 30): DataFrame = {
    val e = withTsUs(events)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_us").as("view_us"))
    AsOf.join(purchases, views, "user_id", "v_user", "ts_us", "view_us",
      tolerance = Some(toleranceMinutes.toLong * 60 * 1000000))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("view_us").as("last_view_us"))
      .orderBy("event_id")
  }

  /** Per-event session ids: each user's stream split on gaps >
    * `gapMinutes`, every event row tagged with its session_id —
    * the shared kernel of [[sessionize]] and [[sessionFunnel]]. One
    * shuffle on user_id; the lag and running-sum windows share the
    * same partitioning so Catalyst plans a single Exchange + Sort.
    * Ties on ts_us are safe: a zero gap can never open a session
    * regardless of tie order.
    */
  private[graft] def withSessionIds(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTsUs(events)
      .select(col("user_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(run))
      .select("user_id", "ts_us", "event_type", "session_id")
  }

  /** Sessionization: split each user's event stream on gaps >
    * `gapMinutes`, emit per-session stats (see [[withSessionIds]] for
    * the shared windowing kernel and its scale shape).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withSessionIds(events, gapMinutes)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"))
      .orderBy("user_id", "session_id")

  /** WITHIN-session funnel: sessions that contain a view, and among
    * those, sessions where a purchase follows (or coincides with) the
    * first view — conversion confined to one visit, the stricter
    * metric next to the cross-session as-of funnel
    * ([[viewToPurchaseFunnel]] credits a purchase to a view hours
    * earlier; this one only inside the same session). Rides the
    * [[withSessionIds]] exchange plus one per-session aggregate and
    * a 1-row rollup.
    */
  def sessionFunnel(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withSessionIds(events, gapMinutes)
      .groupBy("user_id", "session_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("first_view"),
        max(when(col("event_type") === "purchase", col("ts_us"))).as("last_purchase"))
      .agg(count(lit(1)).as("n_sessions"),
        coalesce(sum(when(col("first_view").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_with_view"),
        coalesce(sum(when(col("first_view").isNotNull &&
          col("last_purchase") >= col("first_view"), 1L).otherwise(0L)), lit(0L))
          .as("n_converted"))
      .select(col("n_sessions"), col("n_with_view"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_with_view"), 6)
          .as("session_conversion"))

  /** FORWARD as-of: the earliest view at or after each purchase —
    * mirror of [[lastViewBeforePurchase]] (post-purchase re-engagement
    * rather than attribution). Same union + user-partitioned window
    * shape, ordered DESCENDING so the running `last(ignoreNulls)`
    * carries the NEXT view backward onto each purchase; views sort
    * before purchases on ts ties so "at or after" includes the same
    * instant. One shuffle on user_id, linear per partition.
    */
  def nextViewAfterPurchase(events: DataFrame): DataFrame = {
    val e = withTsUs(events)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        lit(null).cast("long").as("event_id"), col("ts_us").as("view_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id"), lit(null).cast("long").as("view_us"))
    val tagged = views.unionByName(purchases)
      .withColumn("is_purchase", when(col("event_id").isNotNull, 1).otherwise(0))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("is_purchase"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("next_view_us", last(col("view_us"), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("next_view_us"))
      .orderBy("event_id")
  }

  /** Per-user behavioral entropy over event-type usage: H = ln N −
    * (Σ c·ln c)/N — the single-aggregate identity, so no join or
    * second pass carries the total. Near-zero entropy on a
    * high-volume user is the "only ever one action" scripted-client
    * fingerprint ([[userBurstiness]] is the timing face of the same
    * screen); n_types rides the same grouped shuffle.
    */
  def userTypeEntropy(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
        round(log(sum("c")) -
          sum(col("c").cast("double") * log(col("c"))) / sum("c"), 6).as("type_entropy"))
      .orderBy("user_id")

  /** Peak concurrent sessions per day — capacity planning over the
    * sessionized log. Sweep-line done scale-correctly: session
    * boundaries (+1 at start, −1 just after end — closed intervals)
    * partition by DAY so the running sum is a day-partitioned window,
    * never a global sort. The per-day carry-in (sessions spanning the
    * day's start) IS the prefix sum of earlier days' boundary deltas:
    * Σ_{ts < dayStart} d = #starts before the day − #ends before it =
    * #sessions open at dayStart — so it rides the SAME per-day
    * aggregate as the peak (a |days|-row cumulative window), instead
    * of re-deriving the session table for a non-equi join against the
    * day list (measured sf10: that shape evaluated the sessionize
    * subtree 3× — boundaries, carry sessions, carry day list — plus a
    * BroadcastNestedLoopJoin; 8.9 s vs 4.9 s for this one).
    * Peak = carry_in + max(0, running), exact because concurrency
    * only changes at boundaries and all arithmetic is integral.
    * Output covers days containing at least one boundary.
    */
  def peakConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val dayUs = 86400L * 1000000
    val s = sessionize(events, gapMinutes)
      .select(col("start_us"), col("end_us"))
    val b = s.select(explode(array(
        struct(col("start_us").as("ts"), lit(1L).as("d")),
        struct((col("end_us") + 1).as("ts"), lit(-1L).as("d")))).as("e"))
      .select(col("e.ts").as("ts"), col("e.d").as("d"))
      .withColumn("day",
        expr(s"ts div $dayUs - (CASE WHEN ts % $dayUs < 0 THEN 1 ELSE 0 END)"))
    val w = Window.partitionBy("day").orderBy(col("ts"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry_in(day) = Σ day_delta over STRICTLY earlier days — every
    // boundary in an earlier day has ts < this day's start, and
    // boundaries in the current day are all >= it; the day table is
    // bounded (one row per day), so the unpartitioned window is fine.
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("run", sum("d").over(w))
      .groupBy("day").agg(max("run").as("max_run"), sum("d").as("day_delta"))
      .withColumn("carry_in", coalesce(sum("day_delta").over(wDays), lit(0L)))
      .select(col("day"), col("carry_in"),
        (col("carry_in") + greatest(col("max_run"), lit(0L)))
          .as("peak_concurrency"))
      .orderBy("day")
  }

  /** Funnel conversion on top of the as-of join: purchases whose most
    * recent prior view (same user) happened within `windowMinutes` —
    * the view→purchase conversion metric. Composes the native as-of
    * operator; aggregation is a single global row.
    */
  def viewToPurchaseFunnel(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val winUs = windowMinutes.toLong * 60 * 1000000
    lastViewBeforePurchase(events)
      .agg(
        count(lit(1)).as("n_purchases"),
        coalesce(sum(when(col("last_view_us").isNotNull &&
          col("ts_us") - col("last_view_us") <= winUs, 1L).otherwise(0L)), lit(0L))
          .as("n_converted"),
        coalesce(sum(when(col("last_view_us").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_no_prior_view"))
  }

  /** Last-touch attribution: every purchase is credited to the most
    * recent preceding non-purchase event of the same user within
    * `lookbackMin` (else the "direct" bucket), then conversions and
    * value are rolled up per attributed channel — the marketing
    * attribution report every event pipeline ships.
    *
    * Shape: one user-partitioned window (two `last(..., ignoreNulls)`
    * calls over the SAME frame share one WindowExec, ordered by
    * (ts_us, event_id) so same-microsecond events resolve identically
    * on any engine), then a channel-cardinality groupBy. No
    * unpartitioned window, no driver logic; user partitions are the
    * natural high-cardinality key at 100 TB.
    */
  def lastTouchAttribution(events: DataFrame, lookbackMin: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lookUs = lookbackMin.toLong * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    withTsUs(events)
      .withColumn("prev_us",
        last(when(col("event_type") =!= "purchase", col("ts_us")), ignoreNulls = true).over(w))
      .withColumn("prev_type",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("value"),
        when(col("prev_us").isNotNull && col("ts_us") - col("prev_us") <= lookUs,
          col("prev_type")).otherwise(lit("direct")).as("channel"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"), round(sum("value"), 4).as("total_value"))
      .orderBy("channel")
  }

  /** Ordered multi-step funnel: how many users performed step 1, then
    * step 2 strictly after it, then step 3 after that — the general
    * k-step product-analytics funnel (each stage keyed on the
    * EARLIEST qualifying time, the standard "first conversion"
    * semantics). Per step: one per-user min aggregate and one
    * user-keyed join — |users|-sized shuffles, no window, no
    * cross-step data blow-up.
    */
  def funnelSteps(events: DataFrame,
                  steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val e = withTsUs(events)
    // fold: users holding the min qualifying ts of the prefix funnel
    val first = e.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("ts_us").as("ts_us"))
    val reached = steps.tail.scanLeft(first) { (prev, step) =>
      e.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("ts_us").as("prev_us")), Seq("user_id"))
        .filter(col("ts_us") > col("prev_us"))
        .groupBy("user_id").agg(min("ts_us").as("ts_us"))
    }
    reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(steps(i)).as("event_type"), col("n_users"))
    }.reduce(_.union(_)).orderBy("step")
  }

  /** Cohort retention matrix: users grouped by their FIRST-seen day
    * (the cohort), counted per day offset since — the triangle chart
    * behind every retention dashboard. Two |users|-keyed aggregates
    * and one distinct count per (cohort, offset) cell; the cohort
    * assignment joins back onto the event stream on user_id — a
    * user-keyed shuffle hash join (the |users|-row cohort table is
    * NOT broadcastable at scale; bucket both sides on user_id at
    * 100 TB and the exchange disappears).
    */
  def cohortMatrix(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val e = withTsUs(events).select(col("user_id"), tsBucket(dayUs).as("day"))
    val cohorts = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    e.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** RFM (recency / frequency / monetary) purchase profile per user —
    * the classic customer-value segmentation input. Recency is whole
    * days between the user's last purchase and the corpus watermark
    * (max event time), carried as a 1-row broadcast scalar; the rest
    * is one user-keyed partial aggregate. Map-side combine keeps the
    * shuffle at |users|; no window, no driver logic.
    */
  def rfm(events: DataFrame): DataFrame = {
    val e = withTsUs(events)
    val nowUs = e.agg(max("ts_us").as("now_us"))
    e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max("ts_us").as("last_us"),
        count(lit(1)).as("frequency"),
        round(sum("value"), 4).as("monetary"))
      .crossJoin(broadcast(nowUs))
      .select(col("user_id"),
        // non-negative diff: truncating div == floor == DuckDB `//`
        expr("(now_us - last_us) div 86400000000").as("recency_days"),
        col("frequency"), col("monetary"))
      .orderBy("user_id")
  }

  /** Exponentially time-decayed engagement score per user:
    * Σ value·e^(−λ·age_days), age measured against the corpus
    * watermark (max ts). The standard recency-weighted activity
    * signal — half-life ln2/λ ≈ 7 days at the default — that ranks
    * "active now" above "was active once" without a hard cutoff,
    * feeding churn models and engagement-weighted sampling.
    *
    * Shape at 100 TB: the watermark is a 1-row broadcast scalar (the
    * audited `ev_rfm` pattern); the decay term is a map-only
    * expression, so the whole op is one user-keyed partial aggregate
    * — map-side combine sums the decayed terms before the shuffle.
    */
  def decayedEngagement(events: DataFrame, lambdaPerDay: Double = 0.1): DataFrame = {
    val e = withTsUs(events)
    val nowUs = e.agg(max("ts_us").as("now_us"))
    e.crossJoin(broadcast(nowUs))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") *
          exp(lit(-lambdaPerDay) * (col("now_us") - col("ts_us")).cast("double") /
            lit(86400000000.0))), 6).as("decayed_score"))
      .orderBy("user_id")
  }

  /** Pivot: event counts per hour-of-day × event_type (explicit value
    * list so the output schema is static — required for both
    * determinism and sane planning; never pivot on unbounded
    * cardinality at scale).
    */
  def hourOfDayPivot(events: DataFrame): DataFrame =
    withTsUs(events)
      .withColumn("hour_of_day", (tsBucket(3600000000L) % 24).cast("int"))
      .groupBy("hour_of_day")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("hour_of_day")

  /** Dimension enrichment: events joined to the customer dimension
    * (user_id is a customer key) — broadcast the dim, so the event
    * log never shuffles; aggregate per (segment, event_type).
    */
  def eventsBySegment(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .orderBy("c_mktsegment", "event_type")

  /** Tumbling-window aggregation (batch twin of the streaming query):
    * events per hour per type. Hour bucketing via integer div on
    * epoch µs — identical to date_trunc('hour') in UTC.
    */
  def hourlyCounts(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000
    withTsUs(events)
      .groupBy(
        (tsBucket(hourUs) * hourUs).as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("hour_us", "event_type")
  }

  /** Time-series gap filling: hourly counts per event_type with the
    * missing hours inside each type's observed range emitted as 0 —
    * the densify pass dashboards and forecasting inputs need. The
    * hour grid comes from per-type (min, max) + `sequence`/`explode`
    * (one tiny row per type expands to its range), NOT a cross join
    * against a global calendar — so the plan is two partial-agg
    * shuffles and one left join, no cartesian anywhere, and each
    * type only materializes hours it can actually contain.
    */
  def gapFilledHourlyCounts(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000
    val hourly = withTsUs(events)
      .groupBy(
        tsBucket(hourUs).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = hourly
      .groupBy("event_type")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    grid
      .join(hourly, Seq("event_type", "hour"), "left_outer")
      .select(col("event_type"), (col("hour") * hourUs).as("hour_us"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour_us")
  }

  /** CDC/SCD-2 intervalization: treat the event log as a per-user
    * changelog of `event_type` states and rebuild validity intervals
    * [valid_from, valid_to) — the change-data-capture shape every
    * warehouse pipeline needs when compacting an append-only log into
    * a dimension table. Consecutive duplicates (state unchanged) emit
    * no new version; the current state has a null valid_to.
    *
    * Shape at 100 TB: one shuffle on user_id (corpus-cardinality
    * key); the duplicate-collapse lag() and the interval lead() share
    * the same partitioning+ordering, so Catalyst plans a single sort
    * with two adjacent Window operators — no second exchange.
    * (event_id breaks timestamp ties so results are deterministic
    * under any partitioning.)
    */
  def scd2Intervals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val changes = withTsUs(events)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("valid_to_us", lead("ts_us", 1).over(byUser))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
      .orderBy("user_id", "valid_from_us")
  }

  /** Props via the VARIANT type (Spark 4): `parse_json` once into an
    * open semi-structured value, then typed `variant_get` paths —
    * the schema-on-read path for event properties whose shape drifts
    * faster than a `from_json` schema can (the twin
    * [[propsJson]] covers the closed-schema case). VARIANT stores a
    * parsed binary form, so repeated field extraction doesn't re-parse
    * the JSON text per access.
    */
  def propsVariant(events: DataFrame): DataFrame =
    events
      .select(variant_get(parse_json(col("props")), "$.k", "bigint").as("k"),
        col("value"))
      .groupBy(pmod(col("k"), lit(10L)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"),
        round(avg("value"), 6).as("avg_value"))
      .orderBy("k_bucket")

  /** Event-transition matrix (first-order Markov): counts and row-
    * normalized probabilities of event_type → next event_type per
    * user journey — the "what do users do next" model behind
    * recommendation and funnel analysis.
    *
    * Shape at 100 TB: one shuffle on user_id for the lag() window
    * (same partitioning sessionize/SCD-2 use), then a partial→final
    * aggregation onto |types|² ≈ tiny keys; the per-row probability
    * denominator is a window over prev_type — |types| keys, evaluated
    * on the already-aggregated matrix, so its exchange carries ~25
    * rows, not events.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val matrix = withTsUs(events)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    matrix
      .withColumn("p",
        round(col("n") / sum("n").over(Window.partitionBy("prev_type")), 6))
      .orderBy("prev_type", "next_type")
  }

  /** Hourly anomaly detection: flag (event_type, hour) buckets whose
    * count deviates from that type's mean hourly count by ≥ `z`
    * sample standard deviations — the monitoring pass that watches an
    * ingest firehose for outages and floods. Two stages: the hourly
    * partial→final count agg (events-sized input, map-side combined),
    * then mean/stddev as a window over event_type — the window input
    * is the ALREADY AGGREGATED hourly matrix (|types| × |hours| rows,
    * thousands not billions), so the per-type partition key being
    * low-cardinality is harmless at any corpus size. z-scores are
    * rounded to 4 so both engines agree on FP.
    */
  def hourlyAnomalies(events: DataFrame, z: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000
    val hourly = withTsUs(events)
      .groupBy(
        (tsBucket(hourUs) * hourUs).as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy("event_type")
    hourly
      .withColumn("mean_n", avg("n").over(byType))
      .withColumn("sd_n", stddev_samp(col("n").cast("double")).over(byType))
      .filter(col("sd_n") > 0)
      .withColumn("zscore", round((col("n") - col("mean_n")) / col("sd_n"), 4))
      .filter(abs(col("zscore")) >= z)
      .select(col("event_type"), col("hour_us"), col("n"),
        round(col("mean_n"), 4).as("mean_n"), col("zscore"))
      .orderBy("event_type", "hour_us")
  }

  /** Per-user inactivity-gap profile: max and mean gap between a
    * user's consecutive events — the distribution that justifies a
    * sessionization gap parameter with data instead of folklore. One
    * window (lag over user_id, the same single exchange shape as
    * [[scd2Intervals]]) then one partial→final agg per user.
    */
  def userGapStats(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    withTsUs(events)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        max("gap_us").as("max_gap_us"),
        round(avg(col("gap_us").cast("double")), 2).as("mean_gap_us"))
      .orderBy("user_id")
  }

  /** DAU / WAU / stickiness: daily distinct users, the trailing
    * 7-day distinct-user count anchored on each day, and their ratio
    * — the engagement report every events pipeline ships. WAU is NOT
    * a sum of DAUs (users repeat across days): the 7-day distinct is
    * computed by exploding each user-day onto the 7 windows it falls
    * in, then one distinct agg per (window, user) — at 100 TB both
    * distinct aggs swap for HLL sketches per
    * [[distinctUsersSketchRollup]] (union-able across days), which is
    * why the sketch op exists; exact is kept here for the oracle.
    */
  def dauWauStickiness(events: DataFrame): DataFrame = {
    val dayUs = 86400L * 1000000
    val userDays = withTsUs(events)
      .select(col("user_id"), tsBucket(dayUs).as("day"))
      .distinct()
    val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** Distinct-user counts as RE-AGGREGATABLE Datasketches HLL
    * sketches: one sketch per event_type, plus the overall count
    * computed by UNIONING the per-type sketches — never re-touching
    * the raw events. This is the at-scale idiom exact
    * `countDistinct` can't give you: persist a KB-sized sketch per
    * (day, type) partition once, then answer any rollup (per type,
    * per week, global) by merging sketches. Estimates are
    * deterministic for a given input set but engine-specific → no
    * SQL oracle; a tolerance spec pins them against exact counts.
    */
  def distinctUsersSketchRollup(events: DataFrame): DataFrame = {
    val perType = events
      .groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    perType
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("n_users_est"))
      .unionAll(perType
        .agg(hll_union_agg(col("sk")).as("u"))
        .select(lit("_all_").as("event_type"),
          hll_sketch_estimate(col("u")).as("n_users_est")))
      .orderBy("event_type")
  }

  /** EXACT twin of [[distinctUsersSketchRollup]]: the same per-type +
    * overall distinct-user rollup via `count_distinct` — fully
    * SQL-expressible, so this is the oracle-green anchor the sketch
    * variant's tolerance spec measures against. At 100 TB the exact
    * form pays a distinct-expand shuffle per grouping (users × types
    * rows cross the wire where the sketch ships KB summaries), which
    * is exactly the trade the sketch twin documents.
    */
  def distinctUsersExactRollup(events: DataFrame): DataFrame = {
    events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .unionAll(events
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(lit("_all_").as("event_type"), col("n_users")))
      .orderBy("event_type")
  }

  /** Heavy-hitter users via the [[graft.functions.Aggregators.MisraGries]]
    * bounded summary: one pass, O(capacity) state per partition,
    * partial summaries merged across partitions — the way to ask
    * "which keys dominate this firehose" when the distinct-key space
    * is too large to groupBy exactly. On the testdata capacity ≥
    * |distinct users|, so estimates are exact and the DuckDB oracle
    * (plain GROUP BY count HAVING) pins the whole path; the
    * capacity < distinct approximation regime is pinned by the
    * property spec's superset guarantee instead.
    */
  def heavyHitterUsers(events: DataFrame, capacity: Int = 4096,
                       minCount: Long = 80): DataFrame = {
    val mg = udaf(new graft.functions.Aggregators.MisraGries(capacity))
    events
      .agg(mg(col("user_id")).as("hh"))
      .select(explode(col("hh")).as("p"))
      .select(col("p._1").as("user_id"), col("p._2").as("est_n"))
      .filter(col("est_n") >= minCount)
      .orderBy(desc("est_n"), col("user_id"))
  }

  /** Session-length histogram: [[sessionize]]'s sessions rolled into
    * log₂ buckets of events-per-session (binary digit count — the
    * engine-exact bucketing [[graft.operators.TextAnalysis.docLengthHistogram]]
    * uses) with each bucket's share. The session-depth profile behind
    * engagement scoring and bot screening (organic sessions are
    * geometric; scripted traffic spikes one deep bucket). Adds one
    * tiny bucket aggregate on top of the sessionize shuffle; the
    * share denominator is the audited 1-row broadcast scalar.
    */
  def sessionHistogram(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val c = sessionize(events, gapMinutes)
      .select((length(expr("bin(n_events)")) - 1).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_sessions"))
    c.crossJoin(broadcast(c.agg(sum("n_sessions").as("n_total"))))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("lo_events"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1").as("hi_events"),
        col("n_sessions"),
        round(col("n_sessions").cast("double") / col("n_total"), 6).as("share"))
      .orderBy("bucket")
  }

  /** Conversion-latency percentiles: over every purchase with a prior
    * same-user view, the p50/p90/max of (purchase − last view) — the
    * "how long does intent take to convert" number attribution windows
    * are tuned against. Rides the as-of join ([[lastViewBeforePurchase]]);
    * the percentile is one 1-row aggregate over the purchase-sized
    * latency column.
    */
  def timeToConvert(events: DataFrame): DataFrame =
    lastViewBeforePurchase(events)
      .filter(col("last_view_us").isNotNull)
      .select((col("ts_us") - col("last_view_us")).as("latency_us"))
      .agg(count(lit(1)).as("n_converted"),
        round(percentile(col("latency_us"), lit(0.5)), 4).as("p50_us"),
        round(percentile(col("latency_us"), lit(0.9)), 4).as("p90_us"),
        max("latency_us").as("max_us"))

  /** Per-user lifecycle summary: first/last seen, distinct active
    * days, and events per active day — the cohort-quality telemetry
    * retention models consume (a "user" with 500 events on one day
    * and none after is a scraper, not a cohort member). One
    * user-keyed aggregate with map-side combine; the day index is
    * epoch floor-division (pre-1970-safe, engine-exact).
    */
  def userLifecycle(events: DataFrame): DataFrame = {
    val dayUs = 86400L * 1000000
    withTsUs(events)
      .select(col("user_id"), col("ts_us"), tsBucket(dayUs).as("day"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("first_us"), max("ts_us").as("last_us"),
        countDistinct("day").as("active_days"))
      .select(col("user_id"), col("n_events"), col("first_us"), col("last_us"),
        col("active_days"),
        round(col("n_events").cast("double") / col("active_days"), 4)
          .as("events_per_active_day"))
      .orderBy("user_id")
  }

  /** Session-duration percentiles (p50/p90/max over end − start) —
    * the wall-clock companion of [[sessionHistogram]]'s depth view;
    * together they separate "many short visits" from "few long
    * ones". One 1-row aggregate over the sessionize output.
    */
  def sessionDurationPercentiles(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .select((col("end_us") - col("start_us")).as("dur_us"))
      .agg(count(lit(1)).as("n_sessions"),
        round(percentile(col("dur_us"), lit(0.5)), 4).as("p50_us"),
        round(percentile(col("dur_us"), lit(0.9)), 4).as("p90_us"),
        max("dur_us").as("max_us"))

  /** Daily new-vs-returning split: per day, active users, first-seen
    * (new) users, returning users, and the new-user share — the
    * growth-accounting twin of [[dailyRetention]] (retention asks
    * "did they come back", this asks "who is each day made of").
    * User-days dedup in one keyed aggregate; first-seen day is a
    * second user-keyed aggregate hash-joined back (both map-side
    * combined, no window).
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val dayUs = 86400L * 1000000
    val userDays = withTsUs(events)
      .select(col("user_id"), tsBucket(dayUs).as("day"))
      .distinct()
    val firstDay = userDays.groupBy("user_id").agg(min("day").as("first_day"))
    userDays.join(firstDay, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        round(col("n_new").cast("double") / col("n_active"), 6).as("new_share"))
      .orderBy("day")
  }

  /** Robust (median/MAD) hourly anomaly flags — the heavy-tail-safe
    * twin of the z-score detector ([[hourlyAnomalies]]): a single
    * traffic spike inflates the mean AND the stddev enough to mask
    * itself, while the median absolute deviation barely moves
    * (breakdown point 50% vs 0%). Flags hours where
    * |n − median| > k·1.4826·MAD (1.4826 scales MAD to σ under
    * normality). Hourly counts are one shuffle; the per-type median
    * and MAD tables are tiny broadcast joins back onto it.
    */
  def hourlyAnomaliesMad(events: DataFrame, k: Double = 3.0): DataFrame = {
    val hourUs = 3600000000L
    val h = withTsUs(events)
      .select((tsBucket(hourUs) * hourUs).as("hour_us"), col("event_type"))
      .groupBy("hour_us", "event_type").agg(count(lit(1)).as("n"))
    val med = h.groupBy("event_type").agg(percentile(col("n"), lit(0.5)).as("med_n"))
    val mad = h.join(broadcast(med), Seq("event_type"))
      .groupBy("event_type")
      .agg(percentile(abs(col("n") - col("med_n")), lit(0.5)).as("mad_n"))
    h.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .filter(col("mad_n") > 0 &&
        abs(col("n") - col("med_n")) > lit(k) * lit(1.4826) * col("mad_n"))
      .select(col("hour_us"), col("event_type"), col("n"),
        round(col("med_n"), 4).as("med_n"),
        round(abs(col("n") - col("med_n")) / (lit(1.4826) * col("mad_n")), 4)
          .as("robust_score"))
      .orderBy("hour_us", "event_type")
  }

  /** Per-user inter-arrival burstiness: coefficient of variation
    * (σ/μ) of the gaps between consecutive events — CV ≈ 1 is
    * Poisson-like organic traffic, CV ≪ 1 is metronomic scripting
    * (the bot fingerprint [[hourOfWeekProfile]] sees in aggregate,
    * here per user), CV ≫ 1 is bursty sessions. Gaps ride one
    * user-partitioned window (same exchange as sessionize); users
    * need ≥ 3 events for a sample stddev over ≥ 2 gaps.
    */
  def userBurstiness(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    withTsUs(events)
      .select(col("user_id"), col("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        avg(col("gap_us").cast("double")).as("mean_gap"),
        stddev_samp(col("gap_us").cast("double")).as("sd_gap"))
      .filter(col("n_gaps") >= 2 && col("mean_gap") > 0)
      // 2 decimals: gaps are ~1e10 µs at SF, so round(4) would sit at
      // the double ulp and flip on sum order (the ev_user_gaps proven
      // precision)
      .select(col("user_id"), col("n_gaps"),
        round(col("mean_gap"), 2).as("mean_gap_us"),
        round(col("sd_gap") / col("mean_gap"), 6).as("burstiness_cv"))
      .orderBy("user_id")
  }

  /** Hourly error-rate monitoring: per epoch-aligned hour, total
    * events, error events, and the error share — the reliability
    * dashboard series SLO alerting reads (pair with
    * [[hourlyAnomaliesMad]] to flag the spikes). One conditional
    * aggregate over the hourly-bucket shuffle; no join.
    */
  def errorRateHourly(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    withTsUs(events)
      .select((tsBucket(hourUs) * hourUs).as("hour_us"), col("event_type"))
      .groupBy("hour_us")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .select(col("hour_us"), col("n_events"), col("n_errors"),
        round(col("n_errors").cast("double") / col("n_events"), 6).as("error_rate"))
      .orderBy("hour_us")
  }

  /** Funnel conversion split by customer segment: the as-of
    * view→purchase conversion ([[viewToPurchaseFunnel]]) broken down
    * by the purchaser's market segment — the dimensional variant that
    * tells you WHERE conversion differs, not just that it does. The
    * as-of leg is the proven union + user-window merge; the segment
    * attach is one broadcast hash join on the (small) customer dim;
    * the rollup is |segments| rows.
    */
  def funnelBySegment(events: DataFrame, customer: DataFrame,
                      windowMinutes: Int = 60): DataFrame = {
    val winUs = windowMinutes.toLong * 60 * 1000000
    lastViewBeforePurchase(events)
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(sum(when(col("last_view_us").isNotNull &&
          col("ts_us") - col("last_view_us") <= winUs, 1L).otherwise(0L)), lit(0L))
          .as("n_converted"))
      .select(col("c_mktsegment"), col("n_purchases"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_purchases"), 6)
          .as("conversion"))
      .orderBy("c_mktsegment")
  }

  /** Hour-of-week traffic profile: event share by (0–167) hour index,
    * where 0 is the epoch-aligned hour (1970-01-01 00:00 UTC was a
    * Thursday; the index is pure floor-div/modulo arithmetic, not
    * locale calendar functions, so every engine buckets identically —
    * including pre-1970 fixtures). The seasonality fingerprint behind
    * load forecasting and "is this source a bot farm" checks (organic
    * traffic has strong diurnal structure; bots are flat). One tiny
    * 168-key aggregate; the share denominator is the audited 1-row
    * broadcast scalar pattern.
    */
  def hourOfWeekProfile(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val counts = withTsUs(events)
      .select(pmod(tsBucket(hourUs), lit(168L)).as("how"))
      .groupBy("how").agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(sum("n").as("n_total"))))
      .select(col("how"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("share"))
      .orderBy("how")
  }

  /** Power users: everyone at or above the p90 of per-user event
    * counts, with their share of total traffic — the concentration
    * report that decides whether per-user salting / rate limits are
    * needed before a big aggregation (a handful of users owning most
    * events is exactly the skew [[graft.operators.Skew]] mitigates).
    * Per-user counts are one map-side-combined aggregate; the p90
    * threshold and total ride ONE 1-row broadcast (the audited scalar
    * pattern), so the counts table streams through the filter.
    */
  def powerUsers(events: DataFrame): DataFrame = {
    val counts = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
    val thr = counts.agg(
      percentile(col("n_events"), lit(0.9)).as("p90"),
      sum("n_events").as("n_total"))
    counts.crossJoin(broadcast(thr))
      .filter(col("n_events") >= col("p90"))
      .select(col("user_id"), col("n_events"), col("sum_value"),
        round(col("n_events").cast("double") / col("n_total"), 6).as("traffic_share"))
      .orderBy(desc("n_events"), col("user_id"))
  }

  /** Exact truncated-horizon EWMA of the daily event count — the
    * smoothed traffic series behind load forecasting and "is today
    * anomalous vs trend" checks (pairs with [[hourlyAnomaliesMad]]).
    * ewma(d) = Σₒ wₒ·n(d−o) / Σₒ wₒ over offsets o < `horizon` with
    * wₒ = decay^o, where offsets reaching before the first observed
    * day are excluded (so early days average over what exists) and
    * in-range days with no events count as genuine zeros.
    *
    * Cross-engine exactness: decay defaults to 0.75 = 3/4, so every
    * weight 3^o/4^o is a dyadic rational with ≤2·horizon significand
    * bits; weights are built by repeated multiplication (each step
    * exact in IEEE double) on the driver and shipped as literals to
    * BOTH engines — no `pow` in either plan, so numerator and
    * denominator sums are bit-exact regardless of summation order.
    * [[ewmaWeights]] is shared with the oracle-SQL generator.
    *
    * Scale: the only fact-sized stage is the map-side-combined daily
    * count; everything after runs on |days| rows. The offset grid and
    * the min-day scalar ride broadcasts, and the lag lookup
    * broadcasts the (tiny) daily table — no fact shuffle beyond the
    * first aggregate.
    */
  def ewmaDaily(events: DataFrame, horizon: Int = 14,
                decay: Double = 0.75): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = withTsUs(events)
      .select(tsBucket(86400000000L).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val offsets = ewmaWeights(horizon, decay).toDF("o", "w")
    val minDay = daily.agg(min("day").as("min_day"))
    val lag = daily.select(col("day").as("lag_day"), col("n").as("n_lag"))
    daily.select(col("day"))
      .crossJoin(broadcast(offsets))
      .crossJoin(broadcast(minDay))
      .filter(col("day") - col("o") >= col("min_day"))
      .withColumn("lag_day", col("day") - col("o"))
      .join(broadcast(lag), Seq("lag_day"), "left_outer")
      .withColumn("n0", coalesce(col("n_lag"), lit(0L)))
      .groupBy("day")
      .agg(sum(when(col("o") === 0, col("n0"))).as("n"),
        round(sum(col("w") * col("n0")) / sum(col("w")), 6).as("ewma"))
      .select(col("day"), col("n"), col("ewma"))
      .orderBy("day")
  }

  /** Top opening session paths: the first `depth` event types of
    * every session joined into a `a>b>c` path string, ranked by
    * session count — the navigation-pattern table behind onboarding
    * and bot triage (scripted clients repeat one opening path with
    * unnatural frequency; [[transitionMatrix]] shows single hops,
    * this shows the entry n-gram).
    *
    * Rides the [[withSessionIds]] exchange; the per-session step list
    * is sorted by (ts_us, event_type) so tied timestamps produce one
    * deterministic path in every engine, and it is SLICED to `depth`
    * right after collection so the path column never exceeds a few
    * strings per session regardless of session length. The final
    * ranking is a global top-k — TakeOrderedAndProject over the
    * (small) distinct-path table, never a full sort.
    */
  def sessionPaths(events: DataFrame, gapMinutes: Int = 30, depth: Int = 3,
                   topK: Int = 20): DataFrame =
    withSessionIds(events, gapMinutes)
      .groupBy("user_id", "session_id")
      .agg(array_sort(collect_list(struct(col("ts_us"), col("event_type")))).as("steps"))
      .select(concat_ws(">",
        expr(s"transform(slice(steps, 1, $depth), s -> s.event_type)")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(topK)

  /** Conversion rate per opening session path: [[sessionPaths]]'s
    * entry n-gram table with each path's purchase rate — "which ways
    * of arriving convert" (onboarding flows that never convert are
    * either broken funnels or bot entry points; cross-check the
    * latter with [[userBurstiness]]). Same single session-kernel
    * aggregate — the purchase flag folds into the existing groupBy,
    * so this costs nothing over the path count alone.
    */
  def pathConversion(events: DataFrame, gapMinutes: Int = 30, depth: Int = 3,
                     topK: Int = 20): DataFrame =
    withSessionIds(events, gapMinutes)
      .groupBy("user_id", "session_id")
      .agg(array_sort(collect_list(struct(col("ts_us"), col("event_type")))).as("steps"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("has_purchase"))
      .select(concat_ws(">",
        expr(s"transform(slice(steps, 1, $depth), s -> s.event_type)")).as("path"),
        col("has_purchase"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"), sum("has_purchase").as("n_converted"))
      .select(col("path"), col("n_sessions"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_sessions"), 6).as("conversion"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(topK)

  /** Cohort lifetime value: for each weekly signup cohort (first-seen
    * week) and week offset, the purchase value added that week and
    * the cumulative LTV — [[cohortMatrix]]'s revenue-weighted sibling
    * and the payback-period table behind acquisition-spend decisions.
    * First-seen weeks ride the per-user min aggregate (one shuffle on
    * user_id, shared shape with [[newVsReturning]]); the cumulative
    * sum windows over the cohort × offset matrix, which is
    * weeks²-sized — post-aggregate scale at any corpus size.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val weekUs = 604800000000L
    val e = withTsUs(events)
      .select(col("user_id"), (col("ts_us") - pmod(col("ts_us"), lit(weekUs)))
        .as("week_us"), col("event_type"), col("value"))
    val firstSeen = e.groupBy("user_id").agg(min("week_us").as("cohort_us"))
    val cells = e.join(firstSeen, Seq("user_id"))
      .filter(col("event_type") === "purchase")
      .groupBy(col("cohort_us"),
        ((col("week_us") - col("cohort_us")) / weekUs).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 4).as("week_value"))
    val w = Window.partitionBy("cohort_us").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_value", round(sum("week_value").over(w), 4))
      .orderBy("cohort_us", "week_offset")
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands computation (island id = day − row_number, so
    * consecutive days share one id with NO self-join), the
    * engagement-habit metric next to [[userLifecycle]]'s totals.
    * Distinct (user, day) first — the shuffle carries one row per
    * user-day — then one user-partitioned window and two keyed
    * aggregates, all on the same user-hash exchange.
    */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = withTsUs(events)
      .select(col("user_id"), tsBucket(86400000000L).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("max_streak"), count(lit(1)).as("n_streaks"),
        sum("len").as("n_active_days"))
      .orderBy("user_id")
  }

  /** Purchase cadence: percentiles of the gap between a user's
    * consecutive PURCHASES (not all events — that's
    * [[userGapStats]]) plus repeat-buyer counts — the
    * replenishment-cycle report behind reorder nudges and demand
    * forecasts. One purchase-filtered user window; the rollup is a
    * single row.
    */
  def purchaseCadence(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    val gaps = withTsUs(events)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"), (col("ts_us") - col("prev_us")).as("gap_us"))
    gaps.agg(
      count(lit(1)).as("n_gaps"),
      countDistinct("user_id").as("n_repeat_buyers"),
      percentile(col("gap_us"), lit(0.5)).as("p50_gap_us"),
      percentile(col("gap_us"), lit(0.9)).as("p90_gap_us"),
      min("gap_us").as("min_gap_us"),
      max("gap_us").as("max_gap_us"))
  }

  /** Per-user training-feature assembly: ONE wide row per user
    * joining the proven per-user diagnostics — lifecycle totals
    * ([[userLifecycle]]), behavioral entropy ([[userTypeEntropy]]),
    * inter-arrival burstiness ([[userBurstiness]]), and activity
    * streaks ([[activityStreaks]]) — the feature-engineering pass a
    * churn/bot model trains on, run inside the engine so features
    * ship as one table instead of four exports glued in a notebook.
    * Every leg shuffles on user_id; with the base pre-partitioned
    * (or bucketed) by user_id the joins are co-located, and users
    * below the burstiness support threshold carry NULL cv rather
    * than silently dropping (left joins from the lifecycle
    * universe).
    */
  def userFeatures(events: DataFrame): DataFrame = {
    val life = userLifecycle(events)
      .select("user_id", "n_events", "active_days", "events_per_active_day")
    val ent = userTypeEntropy(events).select(col("user_id"),
      col("n_types"), col("type_entropy"))
    val burst = userBurstiness(events).select(col("user_id"), col("burstiness_cv"))
    val streaks = activityStreaks(events).select(col("user_id"), col("max_streak"))
    life.join(ent, Seq("user_id"), "left_outer")
      .join(burst, Seq("user_id"), "left_outer")
      .join(streaks, Seq("user_id"), "left_outer")
      .orderBy("user_id")
  }

  /** Naive seasonal forecast backtest: predict each hour's volume as
    * the SAME HOUR LAST WEEK's volume and score it — MAE and MAPE
    * over all hours with a 168-hours-earlier observation. The
    * baseline every real forecasting model must beat, computed as a
    * self-join of the hourly table shifted by one week; a model that
    * loses to this table isn't a model. Missing prior hours drop
    * (inner join on the shifted key); the report is ONE row.
    */
  def forecastBacktest(events: DataFrame): DataFrame = {
    val hourly = withTsUs(events)
      .select(tsBucket(3600000000L).as("hour_idx"))
      .groupBy("hour_idx").agg(count(lit(1)).as("n"))
    val prior = hourly.select((col("hour_idx") + 168).as("hour_idx"),
      col("n").as("n_pred"))
    hourly.join(prior, Seq("hour_idx"))
      .agg(count(lit(1)).as("n_hours"),
        round(avg(abs(col("n") - col("n_pred")).cast("double")), 4).as("mae"),
        round(avg(abs(col("n") - col("n_pred")).cast("double") / col("n")), 6)
          .as("mape"))
  }

  /** Attribution-window sensitivity sweep: view→purchase conversion
    * at several window sizes from ONE as-of pass — the
    * [[graft.operators.Dedup.lshBandPlan]]-style "pick the parameter
    * from a table, not by re-running the job" audit for
    * [[viewToPurchaseFunnel]]'s windowMinutes (if conversion jumps
    * between 30 and 60 minutes, the attribution definition — not
    * user behavior — is driving the metric). The as-of leg runs
    * once; the sweep is a broadcast BNLJ against the window grid
    * over the purchases-sized result.
    */
  def conversionWindowSweep(events: DataFrame,
                            windowsMinutes: Seq[Int] = Seq(15, 30, 60, 120, 240)): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val asof = lastViewBeforePurchase(events)
      .select(col("ts_us"), col("last_view_us"))
    val grid = windowsMinutes.toDF("window_minutes")
    asof.crossJoin(broadcast(grid))
      .groupBy("window_minutes")
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("last_view_us").isNotNull &&
          col("ts_us") - col("last_view_us") <=
            col("window_minutes").cast("long") * 60000000L, 1L).otherwise(0L))
          .as("n_converted"))
      .select(col("window_minutes"), col("n_purchases"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_purchases"), 6)
          .as("conversion"))
      .orderBy("window_minutes")
  }

  /** Cohort retention curve: [[cohortMatrix]]'s active counts
    * normalized by each cohort's day-0 size — the share-of-cohort-
    * still-active view product reviews read (the raw matrix answers
    * "how many", the curve answers "what fraction", which is what's
    * comparable ACROSS cohorts of different sizes). The day-0 base
    * is a cohorts-sized broadcast hash join over the matrix.
    */
  def retentionCurve(events: DataFrame): DataFrame = {
    val m = cohortMatrix(events)
    val base = m.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_active").as("cohort_size"))
    m.join(broadcast(base), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Weekly event-mix drift: Jensen–Shannon divergence of each
    * week's event-TYPE distribution against the overall mix — the
    * "did the traffic composition change this week" detector
    * ([[hourlyAnomaliesMad]] flags volume; this flags SHAPE: a new
    * client version swapping views for clicks moves JSD before any
    * count alarm fires). Same natural-log JSD conventions as
    * [[graft.operators.TextAnalysis.jsdSourceDrift]]; the grid is
    * weeks × types rows riding two broadcast scalars.
    */
  def weeklyMixDrift(events: DataFrame): DataFrame = {
    val weekUs = 604800000000L
    val wt = withTsUs(events)
      .select(tsBucket(weekUs).as("week"), col("event_type"))
      .groupBy("week", "event_type").agg(count(lit(1)).as("c"))
    val weekTot = wt.groupBy("week").agg(sum("c").as("n_week"))
    val typeTot = wt.groupBy("event_type").agg(sum("c").as("ct"))
    val corpusTot = typeTot.agg(sum("ct").as("n_total"))
    val grid = typeTot.crossJoin(broadcast(corpusTot))
      .crossJoin(broadcast(weekTot))
      .join(wt, Seq("week", "event_type"), "left_outer")
      .select(col("week"), col("n_week"),
        coalesce(col("c"), lit(0L)).cast("double").as("c"),
        col("ct").cast("double").as("ct"), col("n_total"))
    grid
      .select(col("week"),
        (col("c") / col("n_week")).as("p"),
        (col("ct") / col("n_total")).as("q"))
      .groupBy("week")
      .agg(round(sum(
        when(col("p") > 0,
          lit(0.5) * col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
          .otherwise(lit(0.0)) +
        lit(0.5) * col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))), 6)
        .as("jsd"))
      .orderBy("week")
  }

  /** Seasonality-aware traffic anomalies: hourly totals scored
    * against the median/MAD of THEIR OWN hour-of-week slot — the
    * detector that doesn't page on every Monday morning
    * ([[hourlyAnomaliesMad]] scores against the global per-type
    * distribution; this one learns the 168-slot weekly shape from
    * [[hourOfWeekProfile]] and flags departures from it). Same
    * epoch-aligned floor-div/pmod bucketing, same breakdown-safe
    * median/MAD conventions; baselines are two 168-row broadcast
    * joins, so the hourly table streams through the filter.
    */
  def seasonalAnomalies(events: DataFrame, k: Double = 3.0): DataFrame = {
    val hourUs = 3600000000L
    val h = withTsUs(events)
      .select(tsBucket(hourUs).as("hour_idx"))
      .groupBy("hour_idx").agg(count(lit(1)).as("n"))
      .withColumn("how", pmod(col("hour_idx"), lit(168L)))
    val med = h.groupBy("how").agg(percentile(col("n"), lit(0.5)).as("med_n"))
    val mad = h.join(broadcast(med), Seq("how"))
      .groupBy("how")
      .agg(percentile(abs(col("n") - col("med_n")), lit(0.5)).as("mad_n"))
    h.join(broadcast(med), Seq("how")).join(broadcast(mad), Seq("how"))
      .filter(col("mad_n") > 0 &&
        abs(col("n") - col("med_n")) > lit(k) * lit(1.4826) * col("mad_n"))
      .select((col("hour_idx") * hourUs).as("hour_us"), col("how"), col("n"),
        round(col("med_n"), 4).as("med_n"),
        round(abs(col("n") - col("med_n")) / (lit(1.4826) * col("mad_n")), 4)
          .as("robust_score"))
      .orderBy("hour_us")
  }

  /** Daily-series correlation between event-type pairs: Pearson r of
    * the two types' DENSE daily counts (days either type was silent
    * count as genuine zeros via a days × types grid) — the "do errors
    * move with traffic / do purchases track views" coupling matrix
    * behind metric dashboards and anomaly root-causing. Zero-variance
    * series are excluded explicitly (both engines agree exactly on
    * stddev = 0; NaN/NULL conventions differ, so they never reach the
    * output). The grid is |days| × |types| rows — post-aggregate
    * scale, trivially broadcastable; the corpus is touched once by
    * the daily count.
    */
  def metricCorrelation(events: DataFrame): DataFrame = {
    val daily = withTsUs(events)
      .select(tsBucket(86400000000L).as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
    val days = daily.select("day").distinct()
    val types = daily.select("event_type").distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(daily, Seq("day", "event_type"), "left_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).cast("double").as("n"))
    val a = grid.select(col("day"), col("event_type").as("type_a"), col("n").as("na"))
    val b = grid.select(col("day"), col("event_type").as("type_b"), col("n").as("nb"))
    a.join(b, Seq("day")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_days"),
        stddev_samp(col("na")).as("sa"), stddev_samp(col("nb")).as("sb"),
        corr(col("na"), col("nb")).as("r"))
      .filter(col("sa") > 0 && col("sb") > 0)
      .select(col("type_a"), col("type_b"), col("n_days"),
        round(col("r"), 6).as("corr"))
      .orderBy("type_a", "type_b")
  }

  /** Per-type dwell time: the gap from each event to the NEXT event
    * in the same session, attributed to the current event's type —
    * "how long do users sit on a view vs a search" (session-final
    * events have no successor and drop out). Rides the
    * [[withSessionIds]] exchange plus one lead() on the same
    * user-partitioned ordering, tie-broken by (ts_us, event_type) so
    * simultaneous events dwell deterministically in every engine.
    */
  def dwellTime(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts_us"), col("event_type"))
    withSessionIds(events, gapMinutes)
      .withColumn("next_us", lead("ts_us", 1).over(w))
      .filter(col("next_us").isNotNull)
      .select(col("event_type"), (col("next_us") - col("ts_us")).as("dwell_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg("dwell_us"), 4).as("avg_dwell_us"),
        percentile(col("dwell_us"), lit(0.5)).as("p50_dwell_us"))
      .orderBy("event_type")
  }

  /** Audience overlap between event types: Jaccard of the USER sets
    * behind each type pair ("do purchasers also search?") — the
    * audience-segmentation companion of [[metricCorrelation]] (that
    * one couples volumes over time; this one couples people).
    * Distinct (type, user) pairs first — the only fact-sized shuffle
    * carries one row per user-type, not per event — then a per-user
    * self-join whose fan-out is bounded by types² per user, and a
    * types²-sized rollup. Zero-intersection pairs are restored by a
    * broadcast grid join so the matrix is always complete.
    */
  def userOverlapAcrossTypes(events: DataFrame): DataFrame = {
    val tu = events.select("event_type", "user_id").distinct()
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val inter = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_common"))
    val grid = sizes.select(col("event_type").as("type_a"), col("n_users").as("n_a"))
      .crossJoin(broadcast(
        sizes.select(col("event_type").as("type_b"), col("n_users").as("n_b"))))
      .filter(col("type_a") < col("type_b"))
    grid.join(inter, Seq("type_a", "type_b"), "left_outer")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))), 6)
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** Week-over-week growth per event type: epoch-aligned weekly
    * counts with the previous OBSERVED week's count and the relative
    * change — the growth-accounting series next to
    * [[newVsReturning]]'s user-level split (this is volume-level).
    * Weeks with no events for a type simply don't appear, so `growth`
    * compares against the last week that did (documented semantics —
    * gap-fill with [[gapFilledHourlyCounts]]'s pattern if zeros are
    * wanted). One map-side-combined weekly aggregate + a
    * type-partitioned lag.
    */
  def wowGrowth(events: DataFrame): DataFrame = {
    val weekly = withTsUs(events)
      .select(tsBucket(604800000000L).as("week"), col("event_type"))
      .groupBy("week", "event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("week")
    weekly.withColumn("prev_n", lag("n", 1).over(w))
      .select(col("week"), col("event_type"), col("n"), col("prev_n"),
        when(col("prev_n").isNotNull,
          round((col("n") - col("prev_n")).cast("double") / col("prev_n"), 6))
          .as("growth"))
      .orderBy("week", "event_type")
  }

  /** (offset, decay^offset) pairs by repeated multiplication —
    * exact per step for dyadic decays; the single weight definition
    * shared by [[ewmaDaily]] and its literal-unrolled oracle SQL.
    */
  private[graft] def ewmaWeights(horizon: Int, decay: Double): Seq[(Long, Double)] =
    Iterator.iterate(1.0)(_ * decay).take(horizon).zipWithIndex
      .map { case (w, o) => (o.toLong, w) }.toSeq

  /** Behavioral nearest neighbors: each query user's top-k most
    * similar users by cosine over their event-type count vector —
    * the "users like this one" lookup built from NOTHING but the
    * event log (the behavioral-embedding bridge between the event
    * ops and the similarity stack; swap the count vector for a
    * learned embedding and the query shape is unchanged). Vectors
    * are |types|-dimensional conditional-count aggregates (one
    * user-keyed groupBy); queries (user_id < nQueries) broadcast;
    * scoring is map-only; ranking on the rounded cosine with a
    * user-id tiebreak.
    */
  def behaviorSimilarity(events: DataFrame,
                         types: Seq[String] = Seq("click", "error", "purchase",
                           "signup", "view"),
                         k: Int = 5, nQueries: Long = 10L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecCols = types.map(t =>
      sum(when(col("event_type") === t, 1.0).otherwise(0.0)).as(s"n_$t"))
    val vecs = events.groupBy("user_id")
      .agg(vecCols.head, vecCols.tail: _*)
      .select(col("user_id"),
        array(types.map(t => col(s"n_$t")): _*).as("v"))
    val q = vecs.filter(col("user_id") < nQueries)
      .select(col("user_id").as("qid"), col("v").as("qv"))
    val scored = vecs.select(col("user_id").as("cid"), col("v").as("cv"))
      .join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(graft.functions.VectorFunctions.cosineSim(col("qv"), col("cv")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "cid", "cos_sim")
      .orderBy("qid", "rnk")
  }

  /** Exponential decay fit of the aggregate retention curve:
    * ln(r_k) regressed on day offset k (closed-form OLS, the
    * [[graft.operators.TextAnalysis]] Heaps-fit pattern applied to
    * churn) where r_k = share of users active k days after their
    * first day. One row: points fitted, decay slope per day,
    * intercept, and the half-life ln2/−β — the single number a
    * growth model wants from the whole retention matrix. The curve
    * aggregates over ALL cohorts (user-day distinct rows), so the
    * regression input is ≤ |days| points; sums are over that
    * bounded table.
    */
  def retentionFit(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val userDays = withTsUs(events)
      .select(col("user_id"), tsBucket(dayUs).as("day"))
      .distinct()
    val firstDay = userDays.groupBy("user_id").agg(min("day").as("day0"))
    val base = firstDay.agg(count(lit(1)).as("n_users"))
    val curve = userDays.join(firstDay, "user_id")
      .select(col("user_id"), (col("day") - col("day0")).as("k"))
      .filter(col("k") >= 1)
      .groupBy("k").agg(count(lit(1)).as("n_active"))
      .crossJoin(broadcast(base))
      .select(col("k").cast("double").as("x"),
        log(col("n_active").cast("double") / col("n_users")).as("y"))
    curve.agg(
        count(lit(1)).as("n_points"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_points"),
        ((col("sxy") - col("sx") * col("sy") / col("n_points")) /
          (col("sxx") - col("sx") * col("sx") / col("n_points"))).as("beta"),
        col("sy"), col("sx"))
      .select(col("n_points"),
        round(col("beta"), 6).as("decay_per_day"),
        round(col("sy") / col("n_points") -
          col("beta") * col("sx") / col("n_points"), 6).as("intercept"),
        round(lit(math.log(2.0)) / -col("beta"), 4).as("half_life_days"))
  }

  /** Strict deadline funnel: users whose FIRST view is followed by a
    * click within `stepUs`, then a purchase within `stepUs` of that
    * click — the ordered-with-deadline funnel ("did the flow work in
    * one sitting") that the unconstrained [[funnel]] over-counts.
    * Each stage is a min-aggregate after an inequality join against
    * the previous stage's per-user anchor — three user-keyed
    * aggregates, no window over raw events; at 100 TB each join is
    * user-partitioned with the anchor side orders smaller than the
    * log.
    */
  def strictFunnel(events: DataFrame, stepUs: Long = 3600000000L): DataFrame = {
    val e = withTsUs(events).select(col("user_id"), col("event_type"), col("ts_us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("v_us"))
    val c = e.filter(col("event_type") === "click").as("c")
      .join(v, "user_id")
      .filter(col("ts_us") > col("v_us") && col("ts_us") - col("v_us") <= stepUs)
      .groupBy("user_id").agg(min("ts_us").as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts_us") > col("c_us") && col("ts_us") - col("c_us") <= stepUs)
      .groupBy("user_id").agg(min("ts_us").as("p_us"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
        c.agg(count(lit(1)).as("n_click_deadline")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_deadline")))
      .select(col("n_view"), col("n_click_deadline"), col("n_purchase_deadline"),
        round(col("n_purchase_deadline").cast("double") / col("n_view"), 6)
          .as("strict_conversion"))
  }

  /** CUSUM changepoint screen per event type: the day where the
    * cumulative sum of (daily count − overall mean) peaks in
    * magnitude — the classic single-changepoint locator (Page 1954)
    * that finds WHERE a level shift happened, where
    * [[hourlyAnomalies]] only flags THAT something spiked. Positive
    * peak direction = counts ran above the long-run mean until that
    * day (a step DOWN follows), negative = below. All arithmetic is
    * integer counts minus a per-type mean (one IEEE division), so
    * the engines agree exactly; output rounded at 4.
    *
    * Shape at 100 TB: one map-side-combined daily aggregate, then
    * mean/cumsum/argmax windows run per type over the |days|-sized
    * daily table.
    */
  def changepointCusum(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val daily = withTsUs(events)
      .select(tsBucket(dayUs).as("day"), col("event_type"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy("event_type")
    val cum = byType.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val scored = daily
      .withColumn("mean_n", avg(col("n").cast("double")).over(byType))
      .withColumn("s", sum(col("n") - col("mean_n")).over(cum))
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("s")).desc, col("day"))
    scored
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("change_day"),
        round(col("s"), 4).as("cusum_peak"),
        round(col("mean_n"), 4).as("mean_daily"))
      .orderBy("event_type")
  }

  /** Return-time histogram: hours between consecutive SESSION STARTS
    * per user, capped at `capHours`, with population shares — the
    * re-engagement curve ("users come back in ~4h / daily /
    * weekly") that sets push-notification timing and the session
    * TTL in the streaming twins. Runs entirely on the session-start
    * table ([[withSessionIds]]' aggregate — |sessions| rows, not
    * events); one per-user lag, one ≤capHours-key rollup.
    */
  def sessionGapHistogram(events: DataFrame, gapMinutes: Int = 30,
                          capHours: Int = 168): DataFrame = {
    val starts = withSessionIds(events, gapMinutes)
      .groupBy("user_id", "session_id").agg(min("ts_us").as("start_us"))
    val w = Window.partitionBy("user_id").orderBy("start_us")
    val gaps = starts
      .withColumn("prev_us", lag("start_us", 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(least(expr("(start_us - prev_us) div 3600000000"),
        lit(capHours.toLong)).as("gap_hours"))
    val counts = gaps.groupBy("gap_hours").agg(count(lit(1)).as("n_gaps"))
    counts
      .withColumn("share",
        round(col("n_gaps") / sum("n_gaps").over(Window.partitionBy()), 6))
      .orderBy("gap_hours")
  }

  /** Value distribution per event type: mean plus interpolated
    * p50/p90/p99 of the `value` column — the tail table a billing or
    * latency pipeline reads per signal (means hide exactly the tail
    * that pages). One grouped aggregate over the event stream with
    * map-side combine; exact percentiles are fine at |types| groups,
    * and the approx_percentile twin is the drop-in at
    * billions-per-type if sketches are preferred.
    */
  def valuePercentiles(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(avg("value"), 4).as("mean_value"),
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.9)), 4).as("p90"),
        round(percentile(col("value"), lit(0.99)), 4).as("p99"),
        round(max("value"), 4).as("max_value"))
      .orderBy("event_type")

  /** Trailing 7-day p95 of daily event value per type: the rolling
    * tail-quantile series an SLO/billing dashboard draws next to the
    * mean (spikes that move the p95 but not the mean are exactly the
    * ones EWMA smoothing hides). Daily totals are rounded BEFORE the
    * quantile so both engines interpolate over identical doubles;
    * the window is a RANGE frame on the integer day bucket, so
    * calendar gaps shrink the sample rather than silently widening
    * the window.
    *
    * Shape at 100 TB: the fact-scale work is the daily aggregate
    * (map-side combined to |days|×|types| rows); the rolling
    * quantile runs on that bounded table, partitioned by type. An
    * exact windowed percentile over raw events would buffer each
    * frame — aggregate first, window second, always.
    */
  def rollingDailyP95(events: DataFrame, days: Int = 7): DataFrame = {
    val dayUs = 86400000000L
    val daily = withTsUs(events)
      .select(tsBucket(dayUs).as("day"), col("event_type"), col("value"))
      .groupBy("day", "event_type")
      .agg(round(sum("value"), 2).as("daily_value"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rangeBetween(-(days - 1).toLong, 0L)
    daily
      .withColumn("p95_7d", round(percentile(col("daily_value"), lit(0.95)).over(w), 4))
      .orderBy("day", "event_type")
  }

  /** Lag-1 autocorrelation of the daily count series per event type
    * — the "is today's volume predictable from yesterday's"
    * statistic that separates trending/seasonal series (ρ₁ ≫ 0)
    * from white-noise firehoses (ρ₁ ≈ 0), and the one-number
    * justification for the seasonal-forecast baseline
    * ([[forecastBacktest]]). Consecutive OBSERVED days pair via a
    * self-join on day+1 over the |days|×|types| daily table (gap
    * days break pairs — documented); Pearson r is the engine
    * built-in on both sides, rounded to 6.
    */
  def dailyAutocorr(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val daily = withTsUs(events)
      .select(tsBucket(dayUs).as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
    val cur = daily.select(col("event_type"), col("day"), col("n").as("n_t"))
    val nxt = daily.select(col("event_type"), (col("day") - 1).as("day"),
      col("n").as("n_t1"))
    cur.join(nxt, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("n_t").cast("double"), col("n_t1").cast("double")), 6)
          .as("autocorr_lag1"))
      .orderBy("event_type")
  }

  /** Two-step Markov transition matrix: P²(a,c) = Σ_b P(a,b)·P(b,c)
    * from [[transitionMatrix]]'s one-step probabilities — "where is a
    * user two clicks from here", the lookahead a recommender or
    * prefetch layer reads. The matrix multiply is expressed as a
    * self-JOIN on the shared middle state plus a grouped sum: each
    * one-step row (a,b) meets each (b,c) and contributes the product.
    *
    * Shape at 100 TB: the expensive part is the one-step matrix (one
    * lag window + one agg over the event log); the multiply runs on a
    * |types|² table — KB-sized at ANY corpus scale, broadcast-joined,
    * never touching the log again. p1 is kept UNROUNDED through the
    * multiply (both engines do identical IEEE n/total divisions) and
    * rounded only on output.
    */
  def markovTwoStep(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val p1 = withTsUs(events)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") / sum("n").over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("next_type"), col("p"))
    val ab = p1.select(col("prev_type").as("from_type"), col("next_type").as("mid"),
      col("p").as("p_ab"))
    val bc = p1.select(col("prev_type").as("mid"), col("next_type").as("to_type"),
      col("p").as("p_bc"))
    ab.join(broadcast(bc), "mid")
      .groupBy("from_type", "to_type")
      .agg(round(sum(col("p_ab") * col("p_bc")), 6).as("p2"))
      .orderBy("from_type", "to_type")
  }

  /** Top event-type trigrams over each user's timeline — the n=3
    * extension of [[transitionMatrix]] that surfaces multi-step
    * habits ("view>click>purchase" vs "error>error>error" retry
    * loops) which no bigram can distinguish. Two lead windows on the
    * SAME user partition sort (one exchange, one sort, both leads in
    * a single Window exec), then a trigram-keyed count and a global
    * top-k — at 100 TB the count agg is map-side combined into the
    * |types|³-bounded trigram table and the top-k is a
    * TakeOrderedAndProject, never a full sort.
    */
  def topTrigrams(events: DataFrame, topK: Int = 20): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    withTsUs(events)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("t2", lead("event_type", 1).over(byUser))
      .withColumn("t3", lead("event_type", 2).over(byUser))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("trigram"))
      .limit(topK)
  }

  /** Kaplan–Meier survival curve of user lifetime (whole hours between
    * a user's first and last event), with right-censoring: users whose
    * last event falls within `censorHours` of the corpus's final hour
    * may still be alive, so they leave the risk set without counting
    * as a churn event — the estimator every retention dashboard
    * approximates, done properly (Kaplan & Meier 1958). One output
    * row per churn time t: the at-risk count n(t), churn events d(t),
    * and S(t) = Π_{t'≤t} (1 − d/n) computed as exp(Σ ln(·)) so the
    * product runs in one ordered frame in both engines. The ln
    * argument is clamped at 1e-300 because the final time point can
    * have d = n (survival exactly 0) and DuckDB raises on ln(0) —
    * exp of the clamped sum still rounds to 0.0 in both engines.
    *
    * Shape at 100 TB: the fact scan collapses to a per-user (first,
    * last) aggregate, then to a lifetime histogram bounded by the
    * corpus hour span (|hours| rows ≤ tens of thousands); the
    * reverse-cumulative risk window and the survival product both run
    * on that bounded table (allowlisted), and the censoring watermark
    * is a 1-row broadcast scalar.
    */
  def kaplanMeier(events: DataFrame, censorHours: Int = 24): DataFrame = {
    val hourUs = 3600000000L
    val spans = withTsUs(events)
      .select(col("user_id"), tsBucket(hourUs).as("hr"))
      .groupBy("user_id")
      .agg(min("hr").as("hr0"), max("hr").as("hr1"))
    val horizon = spans.agg(max("hr1").as("max_hr"))
    val lifetimes = spans.crossJoin(broadcast(horizon))
      .select((col("hr1") - col("hr0")).as("t"),
        (col("hr1") < col("max_hr") - censorHours).cast("long").as("event"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_at_t"), sum("event").as("d"))
    val riskW = Window.orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val survW = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    lifetimes
      .withColumn("n_risk", sum("n_at_t").over(riskW))
      .withColumn("survival",
        round(exp(sum(log(greatest(lit(1.0) - col("d") / col("n_risk"),
          lit(1e-300)))).over(survW)), 6))
      .filter(col("d") > 0)
      .select(col("t").as("t_hours"), col("n_risk"), col("d").as("n_events"),
        col("survival"))
      .orderBy("t_hours")
  }

  /** The A/B arm (0 or 1) of a user: the first 4 md5 hex chars of
    * `user_id` mod 2 — a deterministic 50/50 split, reproducible on
    * any cluster, that every experiment readout below shares.
    */
  private val abArm: Column =
    pmod(conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
      .cast("long"), lit(2L))

  /** The per-user A/B metric `m`, aggregated per `user_id`: the
    * user's purchase value, rounded to 6 so both engines sum
    * identical numbers.
    */
  private def abMetric: Column =
    round(sum(when(col("event_type") === "purchase", col("value"))
      .otherwise(0.0)), 6).as("m")

  /** Per-arm size and raw sums Σm, Σm² over rows carrying `m` and the
    * arm `grp` — the inputs of every raw-sums identity below.
    */
  private def abArmSums: Seq[Column] = Seq(
    count(when(col("grp") === 0, lit(1))).as("n_a"),
    count(when(col("grp") === 1, lit(1))).as("n_b"),
    sum(when(col("grp") === 0, col("m")).otherwise(0.0)).as("sx_a"),
    sum(when(col("grp") === 1, col("m")).otherwise(0.0)).as("sx_b"),
    sum(when(col("grp") === 0, col("m") * col("m")).otherwise(0.0)).as("sx2_a"),
    sum(when(col("grp") === 1, col("m") * col("m")).otherwise(0.0)).as("sx2_b"))

  /** Sample variance of arm `arm` ("a" or "b") from [[abArmSums]]. */
  private def abWelchVar(arm: String): Column =
    (col(s"sx2_$arm") - col(s"sx_$arm") * col(s"sx_$arm") / col(s"n_$arm")) /
      (col(s"n_$arm") - 1)

  /** Welch's t between the arms from [[abArmSums]], rounded to 4;
    * null when an arm has ≤ 1 user.
    */
  private def abWelchT: Column =
    when(col("n_a") > 1 && col("n_b") > 1,
      round((col("sx_a") / col("n_a") - col("sx_b") / col("n_b")) /
        sqrt(abWelchVar("a") / col("n_a") + abWelchVar("b") / col("n_b")), 4)).as("welch_t")

  /** A/B experiment readout over a deterministic 50/50 hash split of
    * users (md5 arithmetic, the [[TextAnalysis.hashSample]]
    * primitive — reproducible on any cluster, no RNG): per-arm n,
    * mean and Welch's t on the per-user purchase-value metric, plus
    * the sample-ratio-mismatch χ² ((n_a−n_b)²/(n_a+n_b) for the
    * 50/50 design) that must be checked BEFORE reading the t-stat —
    * a skewed split means broken bucketing, not a treatment effect.
    * Variances come from the raw-sums identity (Σx², Σx) over the
    * per-user metric rounded to 6, so both engines divide identical
    * numbers; arms with n ≤ 1 report null t.
    *
    * Shape at 100 TB: one per-user partial aggregate (map-side
    * combined), then a 2-row arm rollup folded to one row by
    * conditional aggregation — no window, no join.
    */
  def abTest(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id").agg(abMetric)
      .select(col("m"), abArm.as("grp"))
    val wide = perUser.agg(abArmSums.head, abArmSums.tail: _*)
    wide.select(
      col("n_a"), col("n_b"),
      round(col("sx_a") / col("n_a"), 6).as("mean_a"),
      round(col("sx_b") / col("n_b"), 6).as("mean_b"),
      abWelchT,
      when(col("n_a") + col("n_b") > 0,
        round(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b")), 6)).as("srm_chi2"))
  }

  /** Distributional A/B comparison: the Kolmogorov–Smirnov gap
    * between the two arms' per-user purchase-value ECDFs, evaluated
    * on the pooled-percentile grid (nBins−1 thresholds) — catches
    * treatment effects that move the SHAPE of the distribution while
    * leaving the mean (and so [[abTest]]'s t) untouched, e.g. a few
    * whales up, the long tail down. Discretizing the sup onto the
    * pooled quantile grid is what makes the statistic exact-checkable
    * cross-engine: both engines compare identical doubles at
    * identical thresholds; the max ties break toward the smallest
    * threshold. Same md5 split and per-user metric as [[abTest]].
    *
    * Shape at 100 TB: per-user partial agg, one percentile agg, then
    * a ≤(nBins−1)-row broadcast grid fanned over users (bounded
    * nested loop) into a grid-sized count table; the argmax is a
    * TakeOrdered over that bounded table.
    */
  def abKsStatistic(events: DataFrame, nBins: Int = 20): DataFrame = {
    val perUser = events.groupBy("user_id").agg(abMetric)
      .select(col("m"), abArm.as("grp"))
    val grid = perUser.agg(percentile(col("m"),
      array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)).as("thr"))
      .select(explode(col("thr")).as("t")).distinct()
    val counts = perUser.crossJoin(broadcast(grid))
      .groupBy("t").agg(
        count(when(col("grp") === 0 && col("m") <= col("t"), lit(1))).as("ca"),
        count(when(col("grp") === 1 && col("m") <= col("t"), lit(1))).as("cb"))
    val totals = perUser.agg(
      count(when(col("grp") === 0, lit(1))).as("n_a"),
      count(when(col("grp") === 1, lit(1))).as("n_b"))
    counts.crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"),
        round(abs(col("ca") / col("n_a") - col("cb") / col("n_b")), 6).as("ks_d"),
        col("t").as("at_m"))
      .orderBy(desc("ks_d"), col("at_m"))
      .limit(1)
  }

  /** Single-pass data-quality profile of the event log — the ingest
    * assertion table a 100 TB pipeline runs before anything else
    * trusts the data: null counts per column, duplicate event ids,
    * timestamps outside the plausible window (clock skew / epoch-unit
    * bugs land decades away), negative values, and event types
    * outside the known enum. One row; every counter is a conditional
    * count in ONE aggregate pass (no per-check scans), except the
    * duplicate count which needs the one exact distinct on event_id.
    */
  def dqChecks(events: DataFrame,
               knownTypes: Seq[String] = Seq("click", "error", "purchase",
                 "signup", "view"),
               minTs: String = "2020-01-01", maxTs: String = "2035-01-01")
    : DataFrame = {
    val loUs = java.time.LocalDate.parse(minTs).toEpochDay * 86400000000L
    val hiUs = java.time.LocalDate.parse(maxTs).toEpochDay * 86400000000L
    withTsUs(events).agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("n_dup_event_ids"),
      count(when(col("event_id").isNull, lit(1))).as("n_null_id"),
      count(when(col("ts").isNull, lit(1))).as("n_null_ts"),
      count(when(col("user_id").isNull, lit(1))).as("n_null_user"),
      count(when(col("event_type").isNull, lit(1))).as("n_null_type"),
      count(when(col("value").isNull, lit(1))).as("n_null_value"),
      count(when(col("ts_us") < loUs || col("ts_us") >= hiUs, lit(1)))
        .as("n_ts_out_of_range"),
      count(when(col("value") < 0, lit(1))).as("n_negative_value"),
      count(when(col("event_type").isNotNull &&
        !col("event_type").isin(knownTypes: _*), lit(1))).as("n_unknown_type"))
  }

  /** Burst detector (the simplest CEP pattern): every event that
    * starts a run of ≥ `k` events by the same user within `windowUs`
    * — retry storms, bot hammering, double-fire bugs. Detected with a
    * single lead(k−1) over the per-user sort: the k-th event's
    * timestamp within `windowUs` of the current one IS the pattern
    * match, no self-join and no per-window state. Overlapping runs
    * each report their own start (a 5-event hammer with k=3 yields 3
    * rows) — downstream session logic can coalesce; the detector
    * stays stateless.
    *
    * Shape at 100 TB: one user-partitioned window sort (same exchange
    * every sessionize-family op reuses) and a map-side filter — the
    * output is pattern matches only.
    */
  def burstDetect(events: DataFrame, k: Int = 3,
                  windowUs: Long = 1800000000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    withTsUs(events)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("ts_k", lead("ts_us", k - 1).over(byUser))
      .filter(col("ts_k").isNotNull && col("ts_k") - col("ts_us") <= windowUs)
      .select(col("user_id"), col("ts_us").as("burst_start_us"),
        col("ts_k").as("burst_end_us"))
      .orderBy("user_id", "burst_start_us")
  }

  /** Difference-in-differences: per-user-per-period purchase value in
    * a 2×2 (arm × before/after) design — effect = (treated_post −
    * treated_pre) − (control_post − control_pre), the standard causal
    * estimate when treatment lands mid-stream and arms have level
    * differences a plain post-period comparison would misread (Card &
    * Krueger 1994 popularized the design). Period split at the
    * midpoint day (the [[psiDrift]] convention), arms from the md5
    * 50/50 split; the four cell means divide period purchase value by
    * the arm's FIXED user count, so a user inactive in one period
    * counts as zero rather than dropping out (the panel-balance
    * convention that keeps DiD honest).
    *
    * Shape at 100 TB: one conditional-aggregate pass over events plus
    * a per-user distinct for the two arm denominators — two 1-row
    * frames meeting in a broadcast cross join.
    */
  def diffInDiff(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val e = withTsUs(events)
      .select(col("user_id"), col("event_type"), col("value"),
        tsBucket(dayUs).as("day"))
    val bounds = e.agg(min("day").as("d0"), max("day").as("d1"))
    val eb = e.crossJoin(broadcast(bounds))
      .withColumn("grp", abArm)
      .withColumn("is_post", col("day") >= expr("(d0 + d1 + 1) div 2"))
    val cells = eb.filter(col("event_type") === "purchase").agg(
      sum(when(col("grp") === 0 && !col("is_post"), col("value"))
        .otherwise(0.0)).as("v_t_pre"),
      sum(when(col("grp") === 0 && col("is_post"), col("value"))
        .otherwise(0.0)).as("v_t_post"),
      sum(when(col("grp") === 1 && !col("is_post"), col("value"))
        .otherwise(0.0)).as("v_c_pre"),
      sum(when(col("grp") === 1 && col("is_post"), col("value"))
        .otherwise(0.0)).as("v_c_post"))
    val users = eb.select(col("user_id"), col("grp")).distinct().agg(
      count(when(col("grp") === 0, lit(1))).as("n_t"),
      count(when(col("grp") === 1, lit(1))).as("n_c"))
    cells.crossJoin(broadcast(users))
      .select(col("n_t"), col("n_c"),
        round(col("v_t_pre") / col("n_t"), 6).as("treated_pre"),
        round(col("v_t_post") / col("n_t"), 6).as("treated_post"),
        round(col("v_c_pre") / col("n_c"), 6).as("control_pre"),
        round(col("v_c_post") / col("n_c"), 6).as("control_post"),
        round((col("v_t_post") / col("n_t") - col("v_t_pre") / col("n_t"))
          - (col("v_c_post") / col("n_c") - col("v_c_pre") / col("n_c")), 6)
          .as("did_effect"))
  }

  /** Power analysis: the minimum detectable effect at the CURRENT
    * arm sizes and variances, for both the purchase-value metric and
    * the conversion rate — MDE = (z_{α/2} + z_β)·SE with the standard
    * two-sided α=0.05 / power 0.8 constants (1.959964 + 0.841621),
    * the number every experiment review asks for before reading any
    * p-value ("could this test even have seen the effect we care
    * about?"). SEs come from the same raw-sums identities as
    * [[abTest]]/[[abConversion]]; degenerate variance reports null.
    * The z constant ships pre-summed (2.801585) so both engines parse
    * ONE decimal literal instead of summing two.
    *
    * Shape at 100 TB: one per-user aggregate, one 1-row rollup.
    */
  def powerAnalysis(events: DataFrame): DataFrame = {
    val zSum = 2.801585
    val perUser = events.groupBy("user_id")
      .agg(abMetric,
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(col("m"), col("conv"), abArm.as("grp"))
    val s = perUser.agg(abArmSums.head, abArmSums.tail :+ sum("conv").as("c"): _*)
    val p = col("c") / (col("n_a") + col("n_b"))
    s.select(col("n_a"), col("n_b"),
      round((col("sx_a") + col("sx_b")) / (col("n_a") + col("n_b")), 6)
        .as("baseline_value"),
      round(p, 6).as("baseline_rate"),
      when(col("n_a") > 1 && col("n_b") > 1,
        round(lit(zSum) * sqrt(abWelchVar("a") / col("n_a") + abWelchVar("b") / col("n_b")), 6))
        .as("mde_value"),
      when(p > 0 && p < 1,
        round(lit(zSum) * sqrt(p * (lit(1.0) - p) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
        .as("mde_conversion"))
  }

  /** Two-proportion conversion test: did-the-user-ever-purchase rate
    * per md5 arm with the pooled two-proportion z statistic — the
    * RATE-metric face of [[abTest]]'s value metric (most experiments
    * ship on a conversion rate, and the z-test's pooled variance is
    * the correct null model for it). Every input to the z expression
    * is an exact integer count, so the statistic is bit-identical
    * cross-engine before its single rounding; a degenerate pooled
    * rate (0 or 1) reports null z.
    *
    * Shape at 100 TB: one per-user boolean aggregate, one 1-row
    * conditional rollup — no join, no window.
    */
  def abConversion(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select(col("conv"), abArm.as("grp"))
    val s = perUser.agg(
      count(when(col("grp") === 0, lit(1))).as("n_a"),
      count(when(col("grp") === 1, lit(1))).as("n_b"),
      sum(when(col("grp") === 0, col("conv")).otherwise(0L)).as("c_a"),
      sum(when(col("grp") === 1, col("conv")).otherwise(0L)).as("c_b"))
    val pa = col("c_a") / col("n_a")
    val pb = col("c_b") / col("n_b")
    val pooled = (col("c_a") + col("c_b")) / (col("n_a") + col("n_b"))
    s.select(col("n_a"), col("n_b"), col("c_a"), col("c_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      when(pooled > 0 && pooled < 1,
        round((pa - pb) / sqrt(pooled * (lit(1.0) - pooled) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)).as("z"))
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust each user's
    * post-period purchase value Y by their PRE-period value X —
    * Y′ = Y − θ·(X − E[X]) with θ = cov(X,Y)/var(X) — and report the
    * raw vs adjusted arm effect plus the variance-reduction factor
    * ρ²(X,Y). Pre-period behavior explains much of the outcome
    * variance that has nothing to do with treatment; removing it
    * shrinks confidence intervals by exactly ρ², which is why every
    * serious experimentation platform runs CUPED. Same period split
    * as [[diffInDiff]] and arm split as [[abTest]]; all statistics
    * derive from one pass of raw sums over per-user (X, Y) pairs
    * rounded to 6, identical expression trees cross-engine;
    * degenerate var(X)=0 reports null θ/adjusted effect.
    *
    * Shape at 100 TB: one conditional per-user aggregate (map-side
    * combined) and one 1-row raw-sums rollup — no join, no window.
    */
  def cuped(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val e = withTsUs(events)
      .select(col("user_id"), col("event_type"), col("value"),
        tsBucket(dayUs).as("day"))
    val bounds = e.agg(min("day").as("d0"), max("day").as("d1"))
    val perUser = e.crossJoin(broadcast(bounds))
      .withColumn("is_post", col("day") >= expr("(d0 + d1 + 1) div 2"))
      .groupBy("user_id")
      .agg(
        round(sum(when(col("event_type") === "purchase" && !col("is_post"),
          col("value")).otherwise(0.0)), 6).as("x"),
        round(sum(when(col("event_type") === "purchase" && col("is_post"),
          col("value")).otherwise(0.0)), 6).as("y"))
      .select(col("x"), col("y"), abArm.as("grp"))
    val s = perUser.agg(
      count(lit(1)).as("n"),
      count(when(col("grp") === 0, lit(1))).as("n_a"),
      count(when(col("grp") === 1, lit(1))).as("n_b"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"),
      sum(when(col("grp") === 0, col("x")).otherwise(0.0)).as("sx_a"),
      sum(when(col("grp") === 1, col("x")).otherwise(0.0)).as("sx_b"),
      sum(when(col("grp") === 0, col("y")).otherwise(0.0)).as("sy_a"),
      sum(when(col("grp") === 1, col("y")).otherwise(0.0)).as("sy_b"))
    val varXn = col("n") * col("sx2") - col("sx") * col("sx")
    val varYn = col("n") * col("sy2") - col("sy") * col("sy")
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val theta = covN / varXn
    val effectRaw = col("sy_a") / col("n_a") - col("sy_b") / col("n_b")
    val effectCuped = effectRaw -
      theta * (col("sx_a") / col("n_a") - col("sx_b") / col("n_b"))
    s.select(col("n_a"), col("n_b"),
      when(varXn > 0, round(theta, 6)).as("theta"),
      round(effectRaw, 6).as("effect_raw"),
      when(varXn > 0, round(effectCuped, 6)).as("effect_cuped"),
      when(varXn > 0 && varYn > 0,
        round(covN * covN / (varXn * varYn), 6)).as("var_reduction"))
  }

  /** Heterogeneous treatment effect: the [[abTest]] readout sliced by
    * activity segment (terciles of per-user event count from the
    * pooled distribution) — an experiment whose average effect is
    * flat often concentrates its real effect in heavy or light
    * users, and shipping on the average alone is how that gets
    * missed. Per segment: arm sizes, arm means, their difference and
    * Welch's t (raw-sums identity, same discipline as [[abTest]];
    * arms with ≤1 user in a segment report null t).
    *
    * Shape at 100 TB: one per-user aggregate, a 1-row broadcast
    * percentile array for segment binning, then a |segments|-row
    * conditional rollup.
    */
  def abHeterogeneous(events: DataFrame, nSegments: Int = 3): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), abMetric)
      .select(col("n_events"), col("m"), abArm.as("grp"))
    val thr = perUser.agg(percentile(col("n_events").cast("double"),
      array((1 until nSegments).map(i => lit(i.toDouble / nSegments)): _*))
      .as("thr"))
    val seg = perUser.crossJoin(broadcast(thr))
      .select(col("m"), col("grp"),
        size(filter(col("thr"), t => t < col("n_events"))).as("segment"))
    val wide = seg.groupBy("segment").agg(abArmSums.head, abArmSums.tail: _*)
    wide.select(col("segment"), col("n_a"), col("n_b"),
      round(col("sx_a") / col("n_a"), 6).as("mean_a"),
      round(col("sx_b") / col("n_b"), 6).as("mean_b"),
      round(col("sx_a") / col("n_a") - col("sx_b") / col("n_b"), 6).as("effect"),
      abWelchT)
      .orderBy("segment")
  }

  /** Population Stability Index per event type between the first and
    * second half of the corpus's day range — the standard ML-serving
    * drift monitor (PSI = Σ (p−q)·ln(p/q) over reference-decile bins
    * of `value`; < 0.1 stable, > 0.25 retrain). The reference half
    * DEFINES the bins (its own deciles), the current half is scored
    * against them, so a shifted distribution shows up as mass moving
    * across fixed boundaries. Shares are clamped at 1e-6 (the
    * standard empty-bin guard — ln(0) is undefined and DuckDB raises)
    * and every division/log runs on exact integer counts, rounded
    * once at the end.
    *
    * Shape at 100 TB: the split day and per-type decile arrays are
    * one 1-row and one |types|-row broadcast; binning is map-side;
    * the PSI rollup aggregates a |types|×11-bin table. Same
    * partial-agg shape as any histogram.
    */
  def psiDrift(events: DataFrame, nBins: Int = 10): DataFrame = {
    val dayUs = 86400000000L
    val e = withTsUs(events)
      .select(col("event_type"), col("value"), tsBucket(dayUs).as("day"))
    val bounds = e.agg(min("day").as("d0"), max("day").as("d1"))
    val eb = e.crossJoin(broadcast(bounds))
      .withColumn("is_ref", col("day") < expr("(d0 + d1 + 1) div 2"))
    val thr = eb.filter(col("is_ref")).groupBy("event_type")
      .agg(percentile(col("value"),
        array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)).as("thr"))
    val binned = eb.join(broadcast(thr), Seq("event_type"))
      .select(col("event_type"), col("is_ref"),
        size(filter(col("thr"), t => t < col("value"))).as("bin"))
    val counts = binned.groupBy("event_type", "bin").agg(
      count(when(col("is_ref"), lit(1))).as("nr"),
      count(when(!col("is_ref"), lit(1))).as("nc"))
    val byType = Window.partitionBy("event_type")
    val p = greatest(col("nr") / sum("nr").over(byType), lit(1e-6))
    val q = greatest(col("nc") / sum("nc").over(byType), lit(1e-6))
    counts
      .select(col("event_type"), col("nr"), col("nc"),
        ((p - q) * log(p / q)).as("term"))
      .groupBy("event_type")
      .agg(sum("nr").as("n_ref"), sum("nc").as("n_cur"),
        round(sum("term"), 6).as("psi"))
      .orderBy("event_type")
  }

  /** Attribution model comparison: per channel, the conversion credit
    * under first-touch, last-touch, AND linear multi-touch — the
    * three standard models side by side, because the 100 TB question
    * is never "what does last-touch say" but "how much does the
    * answer change if we pick differently". Each purchase's touch set
    * is the user's non-purchase events inside the lookback; a
    * touchless purchase credits the synthetic 'direct' channel with
    * weight 1 in all three models; linear splits one unit (and the
    * purchase value) evenly across the touch set.
    *
    * Shape at 100 TB: the purchase×touch join is user-keyed and
    * lookback-bounded (touches-per-purchase is minutes of one user's
    * activity, not the log); first/last come from ONE per-purchase
    * window sort used in both directions; the channel rollup is a
    * |channels|-sized aggregate joined full-outer across the three
    * models.
    */
  def attributionModels(events: DataFrame, lookbackMin: Int = 30): DataFrame = {
    val lookUs = lookbackMin.toLong * 60 * 1000000
    val e = withTsUs(events)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts_us").as("pts"), col("value"))
    val t = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_id").as("tid"),
        col("ts_us").as("tts"), col("event_type").as("channel"))
    val j = p.join(t,
      col("user_id") === col("t_user") && col("tts") < col("pts") &&
        col("pts") - col("tts") <= lookUs, "left")
      .select(col("pid"), col("value"), col("tid"), col("tts"), col("channel"))
    val byP = Window.partitionBy("pid")
    val j2 = j
      .withColumn("rn_f", row_number().over(byP.orderBy("tts", "tid")))
      .withColumn("rn_l", row_number().over(byP.orderBy(desc("tts"), desc("tid"))))
      .withColumn("n", count("tid").over(byP))
      .withColumn("ch", coalesce(col("channel"), lit("direct")))
    val firstA = j2.filter(col("rn_f") === 1)
      .groupBy(col("ch").as("channel"))
      .agg(count(lit(1)).as("n_first"), round(sum("value"), 4).as("val_first"))
    val lastA = j2.filter(col("rn_l") === 1)
      .groupBy(col("ch").as("channel"))
      .agg(count(lit(1)).as("n_last"), round(sum("value"), 4).as("val_last"))
    val linearA = j2
      .select(col("ch").as("channel"),
        when(col("n") > 0, lit(1.0) / col("n")).otherwise(lit(1.0)).as("credit"),
        when(col("n") > 0, col("value") / col("n")).otherwise(col("value"))
          .as("val_part"))
      .groupBy("channel")
      .agg(round(sum("credit"), 4).as("credit_linear"),
        round(sum("val_part"), 4).as("val_linear"))
    firstA.join(lastA, Seq("channel"), "full_outer")
      .join(linearA, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("val_first"), lit(0.0)).as("val_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        coalesce(col("val_last"), lit(0.0)).as("val_last"),
        coalesce(col("credit_linear"), lit(0.0)).as("credit_linear"),
        coalesce(col("val_linear"), lit(0.0)).as("val_linear"))
      .orderBy("channel")
  }
}
