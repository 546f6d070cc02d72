package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Sizing

/** Relational operator pack: grouped aggregation, multi-way joins,
  * semi/anti joins, window top-k, distinct, set ops, rollup, scalar
  * and date functions — the standard-taxonomy categories from
  * SURVEY.md §2.2, each expressed declaratively so Catalyst plans
  * them (pushdown, pruning, partial aggs, broadcast joins, AQE).
  *
  * Determinism contract: every query ends in a total ORDER BY (unique
  * tiebreak) and rounds derived doubles, so results hash-match the
  * DuckDB oracle regardless of partitioning / parallelism.
  */
object Relational {

  /** TPC-H Q1-style pricing summary. Scale: map-side partial
    * aggregation on (returnflag, linestatus) — 6 groups — so the
    * shuffle carries ~6 rows per partition regardless of input size.
    * The shipdate filter and 7-column projection are pushed into the
    * parquet scan.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style: 3-way join, grouped revenue, top 10.
    * Scale: customer (filtered) is tiny relative to lineitem →
    * explicitly broadcast; orders⋈lineitem is the one real shuffle,
    * on the join key both sides already share. The final top-10 is a
    * TakeOrderedAndProject (per-partition heap + driver merge), not a
    * global sort.
    */
  def topRevenueOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    customer
      .filter(col("c_mktsegment") === "BUILDING")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") < lit("1998-06-30").cast("timestamp") &&
        col("l_shipdate") > lit("1998-06-30").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .select(
        col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** Filter + projection; both reach the parquet scan (PushedFilters /
    * ReadSchema in explain). At 100 TB this is the difference between
    * reading 2 columns' pages of matching row-groups and reading
    * everything.
    */
  def highQtyReturns(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Left-semi join: customers holding at least one open ('P') order.
    * Semi joins ship only the key column and stop at first match — at
    * scale, prefer this over join+distinct.
    */
  def customersWithOpenOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Left-anti join: customers with no orders at all. The exclusion
    * side is a FACT table (every order's custkey), so the join is
    * pinned shuffle-hash: left to itself Spark broadcasts the key
    * column while its size estimate stays under the threshold, and a
    * fact-side broadcast is exactly the plan that dies at scale — the
    * driver serially builds a hashed relation of every order key (the
    * round-14 verdict's superlinear q_anti_join decade term: 15M keys
    * at sf10, 10× the sf1 build, on one thread) and every executor
    * holds a copy. Shuffle-hash splits the build across partitions —
    * both sides ship only the key (+name) columns — and scales
    * linearly with no sort ([[graft.operators.Dedup]] band-join
    * precedent).
    */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.select("o_custkey").hint("shuffle_hash"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Window top-k per group: 3 priciest orders per priority class.
    * row_number over a partitioned window = one shuffle on the
    * partition key; with k≪group size a per-group bounded heap
    * (Aggregator) would cut shuffle volume further — documented
    * trade-off, window form keeps it declarative/codegen'd.
    */
  def topOrdersPerPriority(orders: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  /** Distinct over a low-cardinality pair — partial-aggregate form
    * (map-side dedup before shuffle), not a global sort.
    */
  def distinctFlagStatus(lineitem: DataFrame): DataFrame =
    lineitem.select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** Set op EXCEPT: customers with finished but no open orders. */
  def exceptCustkeys(orders: DataFrame): DataFrame = {
    val f = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
    val o = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
    f.except(o).orderBy("custkey")
  }

  /** Set op INTERSECT: customers with both finished and open orders. */
  def intersectCustkeys(orders: DataFrame): DataFrame = {
    val f = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
    val o = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
    f.intersect(o).orderBy("custkey")
  }

  /** Multiset set ops (EXCEPT ALL / INTERSECT ALL): per-priority
    * order bags with duplicates preserved — `except` would collapse
    * the multiplicities that are the point here. Folded to
    * (priority, n) so the result is deterministic.
    */
  def exceptAllPriorities(orders: DataFrame): DataFrame =
    orders.select("o_orderpriority")
      .exceptAll(orders.filter(col("o_orderstatus") === "F").select("o_orderpriority"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  def intersectAllPriorities(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderstatus") =!= "P").select("o_orderpriority")
      .intersectAll(orders.filter(col("o_orderstatus") =!= "O").select("o_orderpriority"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): nation
    * self-pairs on a deliberately nulled region key — null matches
    * null, which plain `===` silently drops. Spark plans
    * EqualNullSafe as a genuine equi key (coalesce-keyed hash join),
    * so this costs the same single shuffle as `===` at any scale.
    */
  def nullSafeRegionPairs(nation: DataFrame): DataFrame = {
    val a = nation.select(col("n_nationkey").as("a_key"),
      nullif(col("n_regionkey"), lit(2L)).as("a_rk"))
    val b = nation.select(col("n_nationkey").as("b_key"),
      nullif(col("n_regionkey"), lit(2L)).as("b_rk"))
    a.join(b, col("a_rk") <=> col("b_rk"))
      .groupBy(col("a_rk").as("rk"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("rk").asc_nulls_first)
  }

  /** Ordered string aggregation (LISTAGG/string_agg): per priority,
    * the sorted distinct status list — `collect_set` + `array_sort` +
    * `array_join` keeps the result deterministic under any partition
    * order (never aggregate strings in arrival order at scale).
    */
  def statusListByPriority(orders: DataFrame): DataFrame =
    orders
      .groupBy("o_orderpriority")
      .agg(
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** RANGE-frame window (value-based, not row-based): per customer,
    * the trailing-90-day order total at each order. RANGE frames
    * include all peers at equal order dates — semantics a ROWS frame
    * can't express when keys tie. One shuffle on o_custkey (corpus
    * cardinality); the frame is evaluated over epoch seconds so the
    * bound is integral in every engine.
    */
  def trailing90DayOrderTotals(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(unix_timestamp(col("o_orderdate")))  // epoch seconds (UTC session) = DuckDB epoch()
      .rangeBetween(-90L * 86400, 0)
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("trailing_total", round(sum("o_totalprice").over(w), 2))
      .select("o_orderkey", "o_custkey", "trailing_total")
      .orderBy("o_orderkey")
  }

  /** Window navigation-function breadth — first_value / last_value /
    * nth_value over the full-partition frame, lag over the default
    * frame, and a running last_value(... IGNORE NULLS) ("most recent
    * qualifying event") — the per-entity timeline enrichments of
    * feature engineering. All five share one (o_custkey) partitioning
    * and ordering, so Catalyst plans a single Exchange+Sort with
    * adjacent Window operators.
    */
  def orderNavigation(orders: DataFrame): DataFrame = {
    val ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("first_key", first("o_orderkey").over(full))
      .withColumn("last_key", last("o_orderkey").over(full))
      .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(full))
      .withColumn("prev_price", lag("o_totalprice", 1).over(ord))
      .withColumn("last_big_key",
        last(when(col("o_totalprice") > 200000.0, col("o_orderkey")), ignoreNulls = true)
          .over(run))
      .select("o_orderkey", "o_custkey", "first_key", "last_key", "second_key",
        "prev_price", "last_big_key")
      .orderBy("o_orderkey")
  }

  /** LATERAL correlated subquery through the SQL frontend: each
    * customer's single highest-value order — SQL's native
    * top-1-per-group idiom. Catalyst decorrelates the LATERAL
    * (DomainJoin → window/aggregate rewrite), so the executed plan is
    * a per-key reduction plus one equi join — never a per-customer
    * re-scan of orders. Inner join semantics: customers with no
    * orders drop (LATERAL of an empty subquery).
    */
  def lateralTopOrder(customer: DataFrame, orders: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    customer.createOrReplaceTempView("customer")
    orders.createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** Recursive CTE (SQL:1999 WITH RECURSIVE, new engine surface in
    * Spark 4) walking a synthetic binary-tree hierarchy over customer
    * keys (parent = key / 2) to the root and profiling the depth
    * distribution. Depth is log2(max key) — ~18 levels at SF 1, still
    * under 30 at any realistic scale — so UNION ALL recursion is
    * bounded and acyclic by construction: each step strictly halves
    * the ancestor key. Every round is one narrow map over the
    * previous frontier; no joins inside the recursion.
    */
  def recursiveHierarchyDepths(customer: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    customer.createOrReplaceTempView("customer")
    spark.sql(
      """WITH RECURSIVE walk(key, anc, d) AS (
        |  SELECT c_custkey AS key, c_custkey AS anc, 0 AS d FROM customer
        |  UNION ALL
        |  SELECT key, CAST(floor(anc / 2) AS BIGINT), d + 1 FROM walk WHERE anc > 1
        |)
        |SELECT CAST(d AS BIGINT) AS depth, count(*) AS n_customers FROM (
        |  SELECT key, max(d) AS d FROM walk GROUP BY key) t
        |GROUP BY d ORDER BY d""".stripMargin)
  }

  /** Pareto / cumulative-share report: customers ranked by revenue
    * with running share of the total — "the top N% of customers
    * produce Y% of revenue" in one query. The output is only the
    * topN head, so the scale-safe plan cuts FIRST: orderBy+limit →
    * `TakeOrderedAndProject` (per-partition bounded heaps, no global
    * sort), and only then runs the rank + running-share window over
    * ≤ topN rows. The previous form ran the global window over the
    * whole customer base on one partition — `row_number` and the
    * running `sum` sharing the window defeats Spark's rank-filter
    * group-limit pushdown, so nothing pruned before the sort. The
    * ordering key (rev desc, custkey) is total, so the pre-cut is
    * deterministic and the window ranks identically. The corpus
    * total stays a 1-row scalar broadcast over the UNCUT per-customer
    * aggregate.
    */
  def revenueParetoTop(customer: DataFrame, orders: DataFrame, topN: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = orders
      .groupBy("o_custkey")
      .agg(sum("o_totalprice").as("rev"))
    val w = Window.orderBy(col("rev").desc, col("o_custkey"))
    perCust
      .orderBy(col("rev").desc, col("o_custkey")).limit(topN)
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum_rev", sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(perCust.agg(sum("rev").as("total_rev"))))
      .select(col("rnk"), col("o_custkey"),
        round(col("rev"), 2).as("rev"),
        round(col("cum_rev") / col("total_rev"), 6).as("cum_share"))
      .orderBy("rnk")
  }

  /** Column profile (the deterministic `describe`): row count,
    * non-null count, exact distinct count, lexicographic min/max of
    * the canonical string form, per profiled column. One LEG PER
    * COLUMN, unioned (the [[columnProfileApprox]] shape, kept exact):
    * each leg groups on the NATIVE value — 8-byte hash keys, one
    * pruned column per scan, and the partial aggregate combines on
    * the file's natural clustering — then casts each GROUP to string
    * once for the final fold. Value-identical to casting per row
    * because the cast is injective per column (bigint/double/date →
    * canonical string; min/max over the distinct strings = min/max
    * over all strings), which the oracle's row-level-cast spelling
    * pins end-to-end. The previous stack-then-group form cast all
    * four columns of every row to string FIRST — 4×rows string
    * renderings feeding one string-keyed hash agg, the suite's
    * biggest 8 g-heap spiller (round-14 sink face: 32.5 s vs 13.1 s
    * at 48 g; the per-leg form profiles each column in its own
    * bounded aggregate). Two-level per leg (group → fold), never
    * count+countDistinct side by side — that plans an Expand that
    * doubles the fact rows. At 100 TB swap the exact distinct for
    * `approx_count_distinct` ([[columnProfileApprox]]).
    */
  def columnProfile(lineitem: DataFrame): DataFrame = {
    def leg(c: String): DataFrame =
      lineitem
        .groupBy(col(c).as("k")).agg(count(lit(1)).as("cnt"))
        .select(col("k").cast("string").as("v"), col("cnt"))
        .agg(sum("cnt").as("n_rows"),
          sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("n_nonnull"),
          count(col("v")).as("n_distinct"),
          min("v").as("min_v"), max("v").as("max_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_v"), col("max_v"))
    Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      .map(leg).reduce(_.unionAll(_))
      // ungrouped agg emits one row even on empty input; the stacked
      // form (and the oracle) emit zero — drop the empty-leg rows
      .filter(col("n_rows") > 0)
      .orderBy("col_name")
  }

  /** The 100 TB form of [[columnProfile]]: `approx_count_distinct`
    * (HLL++, rsd 5%) in place of the exact distinct; per-column state
    * is a KB-sized sketch and every leg is one map-side-combined
    * global aggregate. Estimates are engine-specific → no SQL oracle;
    * a tolerance spec pins them against the exact profile.
    *
    * Shape (round 12): one global-aggregate LEG PER COLUMN, unioned —
    * NOT the exact twin's stack-then-group. The stacked form casts
    * every value to string first, and at sf10 that meant 60 M
    * `DateTimeFormatter` calls (the hot frame in every stack sample)
    * feeding string-keyed HLL sketches through an object aggregate:
    * 70 s and ~20×/decade, the round's worst super-linear key. The
    * legs sketch NATIVE values (long/double/date hash straight into
    * the HLL), each leg's parquet scan reads exactly one column, and
    * only the four min/max OUTPUT values are rendered to string —
    * date order is ISO-string order so casting after the aggregate is
    * value-identical, while long/double string order is NOT numeric
    * order, so those two legs still compare cast strings (the exact
    * twin's contract) — a cheap `Long.toString`, not the formatter.
    * Re-measured: sf1 1.1 s, sf10 70 s → 3.4 s warm (~3×/decade).
    */
  def columnProfileApprox(lineitem: DataFrame): DataFrame = {
    def leg(c: String, strOrdered: Boolean): DataFrame = {
      val v = col(c)
      val (mn, mx) =
        if (strOrdered) (min(v.cast("string")), max(v.cast("string")))
        else (min(v).cast("string"), max(v).cast("string"))
      lineitem.agg(
        count(lit(1)).as("n_rows"),
        count(v).as("n_nonnull"),
        approx_count_distinct(v).as("n_distinct_est"),
        mn.as("min_v"), mx.as("max_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct_est"), col("min_v"), col("max_v"))
    }
    leg("l_orderkey", strOrdered = true)
      .unionAll(leg("l_quantity", strOrdered = true))
      .unionAll(leg("l_returnflag", strOrdered = false))
      .unionAll(leg("l_shipdate", strOrdered = false))
      .filter(col("n_rows") > 0) // empty-input twin of the stacked form
      .orderBy("col_name")
  }

  /** Equi-width histogram of order values — the one-pass distribution
    * profile run before choosing quantization / partition boundaries.
    * Bucket index is plain floor arithmetic (not `width_bucket`) so
    * the same IEEE expression runs in any engine; the bucket width is
    * an exact binary double (30000.0), so no boundary drift.
    *
    * One map stage + one n-bucket-cardinality shuffle with map-side
    * combine — the histogram never materializes per-row data.
    */
  def priceHistogram(orders: DataFrame, lo: Double = 0.0, hi: Double = 600000.0,
                     n: Int = 20): DataFrame = {
    val w = (hi - lo) / n
    orders
      .select(least(greatest(floor((col("o_totalprice") - lo) / w), lit(0.0)),
        lit((n - 1).toDouble)).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"))
      .select(col("bucket"),
        round(lit(lo) + col("bucket") * w, 2).as("bucket_lo"),
        round(lit(lo) + (col("bucket") + 1) * w, 2).as("bucket_hi"),
        col("n_orders"))
      .orderBy("bucket")
  }

  /** The deterministic U/D/I changelog both merge paths apply —
    * derived from the snapshot itself so the whole operation is
    * oracle-checkable (key%10==3 → update, ==7 → delete, ==1 →
    * insert under a shifted key).
    */
  private def derivedChangeSet(customer: DataFrame): DataFrame = {
    val m = pmod(col("c_custkey"), lit(10))
    customer
      .filter(m.isin(3, 7))
      .select(col("c_custkey").as("key"),
        when(m === 3, "U").otherwise("D").as("op"),
        round(col("c_acctbal") + 100, 2).as("new_bal"))
      .unionByName(customer.filter(m === 1)
        .select((col("c_custkey") + 10000000L).as("key"),
          lit("I").as("op"), lit(0.0).as("new_bal")))
  }

  /** MERGE-style changelog apply (upsert + delete + insert) against a
    * snapshot — the write-side CDC shape that pairs with
    * [[graft.operators.EventOps.scd2Intervals]]'s read side: given a
    * batch of keyed changes (U/D/I ops), produce the next snapshot.
    * The changeset here is derived deterministically from the
    * snapshot itself so the whole operation is oracle-checkable.
    *
    * Shape at 100 TB: a changeset is normally ≪ the snapshot, so
    * updates/deletes apply via snapshot LEFT JOIN broadcast(changes)
    * — the snapshot never shuffles — and inserts arrive as an
    * anti-join union (also broadcastable). This is the merge-on-read
    * compaction plan; a full-outer formulation would force both
    * sides to shuffle and is only needed when the changeset is
    * snapshot-sized.
    */
  def applyChangeSet(customer: DataFrame): DataFrame = {
    val changes = derivedChangeSet(customer)
    val snapshot = customer.select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    val survivors = snapshot
      .join(broadcast(changes), Seq("key"), "left_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        when(col("op") === "U", col("new_bal")).otherwise(col("bal")).as("bal"))
    val inserts = changes.filter(col("op") === "I")
      .join(snapshot, Seq("key"), "left_anti")
      .select(col("key"), col("new_bal").as("bal"))
    survivors.unionByName(inserts).orderBy("key")
  }

  /** Merge-on-READ twin of [[applyChangeSet]]: the snapshot file stays
    * immutable and the merge happens in the READ PATH — the
    * deletion-vector idea from modern table formats (a delete is a
    * tiny key vector next to the data file, not a rewrite; an update
    * is delete + changelog row). The view composes three bounded
    * pieces over one snapshot scan: anti join the broadcast delete
    * vector (deletes AND update-victims — an update supersedes the
    * stored row), union the changelog's upsert rows, restricted to
    * updates of still-present keys plus genuinely-new inserts.
    *
    * Shape at 100 TB: the snapshot never shuffles and is scanned
    * once; delete vectors and the changelog are ≪ snapshot and
    * broadcast. Write amplification is zero — the cost moved to
    * read, which is exactly the trade merge-on-read makes; a
    * background [[applyChangeSet]] compaction bounds how much
    * changelog any read re-merges. Output is row-identical to the
    * merge-on-write path (same oracle + differential spec).
    */
  def mergeOnReadView(customer: DataFrame): DataFrame = {
    val changes = derivedChangeSet(customer)
    val snapshot = customer.select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    // deletion vector: keys whose stored row must not surface
    val deleteVector = changes.filter(col("op").isin("D", "U")).select("key")
    val stored = snapshot.join(broadcast(deleteVector), Seq("key"), "left_anti")
    val upserts = changes.filter(col("op") === "U")
      .join(snapshot.select("key"), Seq("key"), "left_semi") // U of an absent key is a no-op
      .select(col("key"), col("new_bal").as("bal"))
    val inserts = changes.filter(col("op") === "I")
      .join(snapshot.select("key"), Seq("key"), "left_anti")
      .select(col("key"), col("new_bal").as("bal"))
    stored.unionByName(upserts).unionByName(inserts).orderBy("key")
  }

  /** Distribution-rank profile (ntile / percent_rank / cume_dist
    * semantics) WITHOUT the per-priority window: the "quality
    * quartiles" shape used to bucket a corpus by a score before
    * proportional sampling.
    *
    * The obvious plan — one window partitioned by `o_orderpriority`
    * (5 values) — has a 5-task parallelism ceiling: at 100 TB five
    * tasks each sort billions of rows no matter how many cores exist
    * (measured 17.6 s at sf10). This is the scale-safe exact
    * order-statistics plan instead (TeraSort-style splitters + exact
    * boundary location), exploiting that with the unique
    * (o_totalprice, o_orderkey) tie-break every rank statistic here
    * is pure arithmetic in n once the three quartile-BOUNDARY rows
    * are known: ntile(4) bucket q ends at row r_max(q) = q·⌊n/4⌋ +
    * min(q, n mod 4), percent_rank = (r−1)/(n−1), cume_dist = r/n.
    *
    *  1. per-priority (min, max, n) collects (one bounded agg row per
    *     priority); every row then bins itself with `width_bucket` —
    *     pure codegen'd arithmetic against the broadcast bounds, no
    *     sketch, no per-row array walk;
    *  2. exact (priority, bin) counts collect (≤ |priorities|×1026
    *     rows); driver cumsum locates, for each boundary rank
    *     r_max(q), its bin and local rank;
    *  3. row_number runs ONLY inside the ≤15 boundary bins (~n/1024
    *     rows each on anything near-uniform — parallelism follows
    *     bins, not priorities; a value-skewed bin degrades that one
    *     bin's sort, never correctness) to extract the exact boundary
    *     (price, key) pairs;
    *  4. every row computes its quartile as 1 + |boundaries strictly
    *     below (price, key)| against the ≤3-element broadcast array —
    *     map-side, then one 20-row aggregate; max_pr/max_cd come from
    *     the r_max arithmetic, bit-identical to the window's
    *     (same IEEE operands).
    *
    * Construction runs the two bounded collects up front (a
    * driver-coordinated two-phase selection — the model-apply
    * pattern). Bin bounds are EXACT min/max, so every pass bins
    * identically by construction, and exactness never depends on bin
    * balance: any bin layout yields the same boundary rows.
    */
  def priceQuartileProfile(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val nBins = 1024
    val rows = orders.select(col("o_orderpriority").as("pri"),
      col("o_orderkey").as("okey"), col("o_totalprice").as("price"))
    val stats = rows.groupBy("pri")
      .agg(min("price").as("mn"), max("price").as("mx"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val statsDf = spark.createDataFrame(stats).toDF("pri", "mn", "mx", "n")
    def binned = rows.join(broadcast(statsDf.select("pri", "mn", "mx")), Seq("pri"))
      .withColumn("b", when(col("mn") === col("mx"), lit(1L))
        .otherwise(width_bucket(col("price"), col("mn"), col("mx"), lit(nBins))))
      .drop("mn", "mx")
    val cnts = binned.groupBy("pri", "b").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // driver arithmetic over the bounded count table: per priority,
    // n → the three r_max boundary ranks → (bin, local rank) targets
    val priTotals = stats.map(t => (t._1, t._4))
    val targets = cnts.groupBy(_._1).toSeq.flatMap { case (pri, rs) =>
      val byBin = rs.map(t => (t._2, t._3)).sortBy(_._1)
      val n = byBin.map(_._2).sum
      val base = n / 4
      val rem = n % 4
      (1 to 3).map(q => q * base + math.min(q.toLong, rem)).filter(_ >= 1L)
        .map { k =>
          var off = 0L; var bin = -1L; var loc = 0L
          byBin.foreach { case (b, c) =>
            if (bin < 0) { if (k <= off + c) { bin = b; loc = k - off } else off += c }
          }
          (pri, bin, loc)
        }
    }
    val tDf = spark.createDataFrame(targets).toDF("pri", "b", "l")
    val nDf = spark.createDataFrame(priTotals).toDF("pri", "n")
    val w = Window.partitionBy("pri", "b").orderBy("price", "okey")
    val bounds = binned
      .join(broadcast(tDf.select("pri", "b").distinct()), Seq("pri", "b"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(tDf), Seq("pri", "b"))
      .filter(col("rn") === col("l"))
      .select(col("pri"), col("price").as("bp"), col("okey").as("bk"))
    val bArr = bounds.groupBy("pri")
      .agg(collect_list(struct(col("bp"), col("bk"))).as("bs"))
    binned.join(broadcast(bArr), Seq("pri"))
      .withColumn("quartile", (lit(1) + size(filter(col("bs"), s =>
        (s.getField("bp") < col("price")) ||
          (s.getField("bp") === col("price") && s.getField("bk") < col("okey")))))
        .cast("long"))
      .groupBy("pri", "quartile")
      .agg(count(lit(1)).as("n_orders"), round(avg("price"), 2).as("avg_price"))
      .join(broadcast(nDf), Seq("pri"))
      .withColumn("r_max",
        col("quartile") * expr("n div 4") + least(col("quartile"), col("n") % 4))
      .select(col("pri").as("o_orderpriority"), col("quartile"),
        col("n_orders"), col("avg_price"),
        round(when(col("n") === 1, lit(0.0)).otherwise(
          (col("r_max") - 1).cast("double") / (col("n") - 1).cast("double")), 6)
          .as("max_pr"),
        round(col("r_max").cast("double") / col("n").cast("double"), 6).as("max_cd"))
      .orderBy("o_orderpriority", "quartile")
  }

  /** ROLLUP grouping sets: per (flag,status), per flag, grand total.
    * Spark expands rollup into a single Expand + aggregate — one pass
    * over the data, not one pass per grouping set.
    */
  def rollupQuantities(lineitem: DataFrame): DataFrame =
    lineitem.rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** ROLLUP with `grouping_id()` — the aggregation-level bitmask that
    * lets one result table serve detail rows and subtotals to a
    * consumer that must tell them apart without sniffing NULLs
    * (NULL group values are ambiguous when the data itself has
    * nulls). Standard SQL semantics (bit i set = column i
    * aggregated), so DuckDB's GROUPING() pins Spark's
    * `grouping_id()` bit convention exactly.
    */
  def rollupWithGroupingId(orders: DataFrame): DataFrame =
    orders.rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** CUBE grouping sets over orders. */
  def cubeOrderCounts(orders: DataFrame): DataFrame =
    orders.cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Scalar function pack (string/math) — all codegen'd built-ins,
    * no UDFs, so the whole projection stays in one WholeStageCodegen.
    */
  def partScalarFuncs(part: DataFrame): DataFrame =
    part.select(
      col("p_partkey"),
      upper(col("p_type")).as("type_upper"),
      substring(col("p_name"), 1, 8).as("name_prefix"),
      length(col("p_name")).as("name_len"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      round(col("p_retailprice") * 1.1, 2).as("bumped_price"),
      (col("p_size") % 7).as("size_mod"))
      .orderBy("p_partkey")

  /** Date dimension aggregation: orders per year/month. */
  def ordersByMonth(orders: DataFrame): DataFrame =
    orders
      .groupBy(
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_year", "o_month")

  /** Scalar-subquery predicate: orders above the global average
    * price. Mirrors Spark's own scalar-subquery execution model: the
    * bounded aggregate runs first (one row crosses to the driver —
    * same class of bounded collect as a broadcast threshold), and the
    * scalar is injected as a literal into the pushed-down filter. A
    * 1-row crossJoin would work too but plans as a
    * BroadcastNestedLoopJoin the plan audit rightly flags.
    */
  def aboveAverageOrders(orders: DataFrame): DataFrame = {
    val avgPrice = orders.agg(avg("o_totalprice")).head.getDouble(0)
    orders
      .filter(col("o_totalprice") > avgPrice)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** IN-list predicate over a derived key set (planned as a semi
    * join, the scalable IN): lineitems belonging to the 5 priciest
    * orders.
    */
  def lineitemsOfPriciestOrders(orders: DataFrame, lineitem: DataFrame, n: Int = 5): DataFrame = {
    val top = orders.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(n)
      .select(col("o_orderkey").as("top_key"))
    lineitem
      .join(broadcast(top), col("l_orderkey") === col("top_key"), "left_semi")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Range join: lineitems shipped within 90 days of their order's
    * date. Planned as an equi-join on the key with the range as a
    * post-join filter — the scalable shape (pure range joins without
    * an equi key degenerate to broadcast-NLJ; always anchor on a key).
    */
  def shippedWithin90Days(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(avg(
        (unix_micros(col("l_shipdate").cast("timestamp"))
          - unix_micros(col("o_orderdate").cast("timestamp"))) / (86400.0 * 1000000)
      ), 4).as("avg_lag_days"))
      .orderBy("l_returnflag")

  /** Explicit GROUPING SETS (beyond rollup/cube): totals per
    * (status), per (priority), and grand total in one pass (single
    * Expand + aggregate).
    */
  def orderGroupingSets(orders: DataFrame): DataFrame =
    orders.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** UNION ALL of two branch selections (bag semantics — no dedup
    * shuffle, unlike EXCEPT/INTERSECT).
    */
  def unionAllOrders(orders: DataFrame): DataFrame = {
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority").as("bucket"))
    val high = orders.filter(col("o_orderpriority") === "2-HIGH")
      .select(col("o_orderkey"), col("o_orderpriority").as("bucket"))
    urgent.union(high).orderBy("o_orderkey", "bucket")
  }

  /** Exact percentiles per group (median & p90 of order totals).
    * Spark's `percentile` is the exact interpolated quantile —
    * matches DuckDB quantile_cont. Exact percentiles need the full
    * group sorted; at 100 TB prefer approx_percentile (t-digest,
    * mergeable sketch) unless exactness is contractual — both are
    * exposed here ([[approxDistinctStats]] shows the sketch side).
    */
  def pricePercentiles(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderpriority")
      .agg(
        round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Order-value deciles WITHOUT a global ntile window: the nine
    * interpolated decile thresholds ride ONE 1-row broadcast and each
    * row bins itself by counting thresholds strictly below its price
    * — the scale-safe quantile-binning idiom (ntile would funnel the
    * whole table through one task; this is a map-side CASE against
    * nine broadcast doubles). Per-bin count/min/max/sum profile the
    * distribution for curriculum-style tiering.
    */
  def revenueDeciles(orders: DataFrame): DataFrame = {
    val thr = orders.agg(percentile(col("o_totalprice"),
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("thr"))
    orders.select("o_totalprice").crossJoin(broadcast(thr))
      .select(col("o_totalprice"),
        size(filter(col("thr"), t => t < col("o_totalprice"))).as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("decile")
  }

  /** Robust spread per priority: median and MAD of order prices —
    * the outlier-immune companion of [[pricePercentiles]] (a single
    * mis-keyed price shifts a stddev arbitrarily, the MAD not at
    * all). Two grouped exact-percentile passes: medians first, then
    * absolute deviations against the per-group median joined back —
    * the per-key twin of the global MAD anomaly detector
    * ([[graft.operators.EventOps.hourlyAnomaliesMad]]).
    */
  def priceMadByPriority(orders: DataFrame): DataFrame = {
    val med = orders.groupBy("o_orderpriority")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("med_price"))
    orders.select("o_orderpriority", "o_totalprice")
      .join(broadcast(med), Seq("o_orderpriority"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(min("med_price"), 4).as("med_price"),
        round(percentile(abs(col("o_totalprice") - col("med_price")), lit(0.5)), 4)
          .as("mad_price"))
      .orderBy("o_orderpriority")
  }

  /** Sketch twin of [[pricePercentiles]] — the recommended 100 TB
    * path. `approx_percentile` (Greenwald-Khanna / t-digest style) is
    * a mergeable bounded-memory sketch: partial aggregation works, no
    * full-group sort/buffer, no straggler on a hot priority class.
    * Exact `percentile` stays for contractual exactness (and the
    * DuckDB oracle); this variant is what the bench should grow on.
    * No SQL oracle (sketch estimates are engine-specific); the spec
    * pins the estimate within tolerance of the exact quantiles.
    */
  def pricePercentilesApprox(orders: DataFrame, accuracy: Int = 10000): DataFrame =
    orders.groupBy("o_orderpriority")
      .agg(
        round(approx_percentile(col("o_totalprice"), lit(0.5), lit(accuracy)), 4).as("p50"),
        round(approx_percentile(col("o_totalprice"), lit(0.9), lit(accuracy)), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Sketch-based distinct counts (HyperLogLog++): mergeable,
    * constant memory — the 100 TB answer to COUNT(DISTINCT). No SQL
    * oracle (sketch estimates are engine-specific); ScalaTest pins
    * the estimate within rsd of the exact count.
    */
  def approxDistinctStats(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
      approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
      approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_p50_price"),
      count(lit(1)).as("n_rows"))

  /** Custom-UDAF query: weighted average discount (weight =
    * quantity) per return flag via the typed
    * [[graft.functions.Aggregators.WeightedMean]] Aggregator.
    */
  def weightedAvgDiscount(lineitem: DataFrame): DataFrame = {
    val wavg = udaf(graft.functions.Aggregators.WeightedMean)
    lineitem.groupBy("l_returnflag")
      .agg(round(wavg(col("l_discount"), col("l_quantity")), 6).as("wavg_discount"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q6 (forecasting revenue change), deliberately through the
    * SQL FRONTEND: temp view + `spark.sql` text, proving the whole
    * surface is reachable from plain SQL (parser → analyzer →
    * same Catalyst plan as the DataFrame API — the filters still push
    * to the parquet scan). The oracle is the byte-identical statement.
    */
  def revenueForecastSql(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    lineitem.createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT round(coalesce(sum(l_extendedprice * l_discount), 0), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)
  }

  /** Q17's scan-stat threshold, shared by both faces: past ~1 GB of
    * fact bytes the per-partkey aggregate's broadcast build dominates
    * the join it feeds (driver build + one copy per executor at
    * cluster scale); below it the broadcast saves the probe-side
    * shuffle outright.
    */
  private def q17ShuffleBuild(lineitem: DataFrame): Boolean =
    lineitem.queryExecution.optimizedPlan.stats.sizeInBytes > (1L << 30)

  /** TPC-H Q17 shape: line revenue restricted to rows below half the
    * per-part average quantity, through the SQL FRONTEND as a genuine
    * CORRELATED scalar aggregate subquery. This is the query class
    * [[aboveAverageOrders]] deliberately bypasses (its scalar is
    * uncorrelated, precomputable): here the subquery references the
    * outer `p_partkey`, so Catalyst must decorrelate —
    * RewriteCorrelatedScalarSubquery turns it into a per-partkey
    * aggregate left-joined to the outer scan (partial-agg + one equi
    * shuffle; never a per-row re-scan). The plan spec pins the
    * rewrite; the DataFrame twin [[belowHalfAvgQuantityRevenue]]
    * is the decorrelated form written by hand.
    *
    * `l_quantity` is integer-valued, so per-part averages are exact
    * in double arithmetic regardless of accumulation order — the
    * filter is engine-independent without rounding tricks.
    *
    * Join-strategy hint, chosen from the fact scan's OWN size stats
    * (the cost-based step Spark's static planner skips without CBO
    * column stats): the decorrelated per-partkey aggregate output is
    * keyed by partkey, so its hash relation grows linearly with SF —
    * under the broadcast threshold the static planner broadcasts it,
    * which is the winning plan while the build side is genuinely
    * small (measured sf1: 1.0 s broadcast vs 1.9 s shuffled) but
    * scales as a full driver-built 2M-entry relation at sf10
    * (measured: 9.3 s broadcast vs 8.0 s shuffled, and the gap widens
    * with SF). A `SHUFFLE_HASH` hint on the subquery's fact alias
    * flips only the decorrelated join; the correlated-subquery text —
    * the thing this key exists to exercise — is unchanged, and both
    * faces stay pinned by the shared DuckDB oracle.
    */
  def belowHalfAvgQuantityRevenueSql(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    part.createOrReplaceTempView("part")
    lineitem.createOrReplaceTempView("lineitem")
    val hint = if (q17ShuffleBuild(lineitem)) "/*+ SHUFFLE_HASH(l2) */ " else ""
    spark.sql(
      s"""SELECT p_brand, count(*) AS n_lines,
         |       round(sum(l_extendedprice), 2) AS total_price
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE l_quantity < (SELECT ${hint}0.5 * avg(l2.l_quantity)
         |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  }

  /** DataFrame twin of [[belowHalfAvgQuantityRevenueSql]] — the
    * decorrelated plan written explicitly: per-partkey half-average
    * (partial agg), equi-join back to lineitem, then the brand
    * rollup. Same results by construction; differential spec + shared
    * oracle pin it.
    *
    * Past the same 1 GB scan-stat threshold the SQL face uses, the
    * decorrelated join carries the same SHUFFLE_HASH hint: both sides
    * are already hash-partitioned on partkey, so the hint deletes the
    * two sort-merge sorts and nothing else (measured sf10 isolated:
    * 4.2 → 3.9 s). A single-exchange form (the [[singleSourceRisk]]
    * repartition idiom) was measured and REJECTED: the aggregate and
    * probe consumers need different column sets, so column pruning
    * canonicalizes their exchanges apart (no reuse) while the forced
    * raw-row repartition loses the aggregate's map-side partial
    * aggregation — strictly worse at scale. Below the threshold the
    * static broadcast plan already wins (no probe exchange at all)
    * and is kept byte-identical.
    */
  def belowHalfAvgQuantityRevenue(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val halfAvg = lineitem
      .groupBy(col("l_partkey").as("agg_key"))
      .agg((avg("l_quantity") * 0.5).as("half_avg_qty"))
    val build = if (q17ShuffleBuild(lineitem)) halfAvg.hint("shuffle_hash") else halfAvg
    lineitem
      .join(build, col("l_partkey") === col("agg_key"))
      .filter(col("l_quantity") < col("half_avg_qty"))
      .join(part, col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_extendedprice"), 2).as("total_price"))
      .orderBy("p_brand")
  }

  /** TPC-H Q5 shape (local supplier volume): revenue per nation for
    * orders whose customer and line-supplier share the nation, one
    * region, one year. The 6-way join exercises a DOUBLE fact-dim
    * relationship (lineitem→supplier on suppkey AND customer→supplier
    * nation equality). nation/region are always broadcast (constant
    * size); customer/supplier carry no hint — at test SF Catalyst
    * broadcasts them under the threshold, at 100 TB (SF-proportional
    * tables) AQE shuffles them, which is the correct plan both times.
    * lineitem⋈orders stays the one unavoidable fact-fact shuffle, on
    * pre-projected columns.
    */
  def localSupplierVolume(region: DataFrame, nation: DataFrame, customer: DataFrame,
                          orders: DataFrame, lineitem: DataFrame,
                          supplier: DataFrame): DataFrame =
    lineitem
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(orders
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")

  /** Unpivot (wide → long): three measure columns become (metric,
    * value) rows via `stack` — the generator-based unpivot Spark
    * plans as a single codegen'd Expand, no shuffle until the
    * aggregate. Long form feeds generic per-metric monitoring.
    */
  def unpivotMeasures(lineitem: DataFrame): DataFrame =
    lineitem
      .select(expr(
        """stack(3,
          |  'discount', l_discount,
          |  'price', l_extendedprice,
          |  'quantity', l_quantity) AS (metric, value)""".stripMargin))
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("metric")

  /** Multi-way star join through the full dimension chain with an
    * aggregate per (region, year). Small dims (customer, nation,
    * region) broadcast — nation/region stay tiny at any scale.
    * lineitem⋈orders is the one genuine shuffle (both fact-sized at
    * 100 TB — never broadcast orders); pre-projecting orders to 3
    * columns keeps the shuffled bytes minimal, and AQE converts to a
    * skew-aware sort-merge if a key is hot.
    */
  def revenueByRegionYear(region: DataFrame, nation: DataFrame, customer: DataFrame,
                          orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("r_name", "o_year")

  /** LEFT OUTER join + aggregate: order count per customer INCLUDING
    * zero-order customers (`count(o_orderkey)` skips the null-extended
    * rows, so the no-order customers report 0 — the outer-join
    * semantics `left_semi`/inner joins can't express). Scale: same
    * single equi shuffle as the inner join; null-extension is free.
    */
  def customerOrderCounts(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .select("c_custkey")
      .join(orders.select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** FULL OUTER join of two aggregates with deliberately disjoint key
    * coverage (BUILDING-segment customers vs negative-balance
    * suppliers per nation): rows survive from either side with the
    * other side null-extended, `coalesce` folding the gaps. Scale:
    * both inputs are pre-aggregated to nation cardinality before the
    * join, so the outer join itself touches ~25 rows at any SF.
    */
  def nationCustomerSupplierBalance(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val custSide = customer
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey").as("c_nk"))
      .agg(count(lit(1)).as("n_building_customers"))
    val suppSide = supplier
      .filter(col("s_acctbal") < 0)
      .groupBy(col("s_nationkey").as("s_nk"))
      .agg(count(lit(1)).as("n_debtor_suppliers"))
    custSide
      .join(suppSide, col("c_nk") === col("s_nk"), "full_outer")
      .select(
        coalesce(col("c_nk"), col("s_nk")).as("nationkey"),
        coalesce(col("n_building_customers"), lit(0L)).as("n_building_customers"),
        coalesce(col("n_debtor_suppliers"), lit(0L)).as("n_debtor_suppliers"))
      .orderBy("nationkey")
  }

  /** TPC-H Q21 shape (waiting-supplier): suppliers with a RETURNED
    * line in a finished multi-supplier order where no OTHER supplier's
    * line in that order was returned — a correlated EXISTS plus a
    * correlated NOT EXISTS, through the SQL frontend. Catalyst's
    * RewritePredicateSubquery turns them into a LEFT SEMI and a LEFT
    * ANTI join on l_orderkey (plan-spec-pinned): at 100 TB that is
    * two extra key-only fact shuffles, never a per-row re-scan.
    * (The reference testdata has no receipt/commit dates, so
    * "late" ≙ l_returnflag = 'R'.)
    */
  def onlyReturnedSupplier(supplier: DataFrame, orders: DataFrame,
                           lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    supplier.createOrReplaceTempView("supplier")
    orders.createOrReplaceTempView("orders")
    lineitem.createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
  }

  /** SQL scalar UDF surface (Spark 4 `CREATE FUNCTION … RETURN expr`):
    * a reusable business-metric function defined IN SQL and used from
    * a query. The analyzer INLINES the body into the plan, so unlike
    * a JVM/Python UDF this keeps predicate pushdown and whole-stage
    * codegen intact — it is API surface, not an execution hazard; the
    * spec asserts the inlining (no ScalaUDF / BatchEvalPython in the
    * physical plan).
    */
  def sqlUdfRevenue(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    lineitem.createOrReplaceTempView("lineitem")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION line_revenue(price DOUBLE, disc DOUBLE)
        |RETURNS DOUBLE RETURN price * (1 - disc)""".stripMargin)
    spark.sql(
      """SELECT l_returnflag, round(sum(line_revenue(l_extendedprice, l_discount)), 2) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Co-purchase lift: for part pairs ordered together in ≥
    * `minPairs` orders, P(A∧B) / (P(A)·P(B)) over the order universe
    * — the "frequently bought together" association score (lift > 1
    * = genuinely associated, not just individually popular). The
    * same shape mines n-gram collocations (`text_pmi_bigrams`); this
    * is its market-basket twin on the relational side.
    *
    * Shape at 100 TB: pair generation is a self equi-join on the
    * order key, so fan-out is bounded by max basket size (C(n,2) per
    * order — TPC-H ≤ 7 lines; production carts are small constants),
    * never a cross product; pair and per-part counts are partial-agg
    * shuffles; the order-universe total is a 1-row broadcast scalar;
    * the head is TakeOrderedAndProject.
    */
  def copurchaseLift(lineitem: DataFrame, minPairs: Int = 2, k: Int = 200): DataFrame = {
    // Basket build: ONE explicit-width exchange on the order key; the
    // dedup rides it (hashpartitioning(okey) satisfies the (okey,part)
    // clustering), and the pair self-join's two sides are then
    // canonically identical — one exchange, built once, reused — and
    // hinted shuffle_hash so the planner doesn't SMJ: at sf10 the SMJ
    // shape sorted 55 M (okey, part) rows TWICE and buffered every
    // basket through ExternalAppendOnlyUnsafeRowArray (the hot frames
    // in every stack sample). The hash join needs no sort and builds
    // per-partition maps. The key stays PAIR-VOLUME-bound either way
    // (~150 M Σ C(basket,2) rows at sf10 through the (part_a, part_b)
    // count shuffle — post-reshape stack samples show the hash
    // aggregate, not the join, as the hot path): ~60 s warm isolated
    // at sf10 in both shapes, a documented floor (the
    // dedup_prefix_pairs precedent), with the reshape shedding the
    // two sorts and the SMJ group buffers.
    val po = lineitem.select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .repartition(Sizing.width(lineitem), col("okey"))
      .dropDuplicates("okey", "part")
    val nOrders = po.select("okey").distinct().agg(count(lit(1)).as("n_orders"))
    val partCnt = po.groupBy("part").agg(count(lit(1)).as("n_p"))
    val pairCnt = po.select(col("okey"), col("part").as("part_a"))
      .join(po.select(col("okey"), col("part").as("part_b")).hint("shuffle_hash"), Seq("okey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
    liftTopK(pairCnt, partCnt, nOrders, minPairs, k)
  }

  /** The lift finisher both co-purchase keys share: keep pairs seen in
    * ≥ `minPairs` orders, join both parts' order counts, divide by the
    * 1-row broadcast order count, and take the top `k` by pair count
    * (ties by part ids).
    */
  private def liftTopK(pairCnt: DataFrame, partCnt: DataFrame, nOrders: DataFrame,
                       minPairs: Int, k: Int): DataFrame =
    pairCnt.filter(col("n_ab") >= minPairs)
      .join(partCnt.select(col("part").as("part_a"), col("n_p").as("n_a")), Seq("part_a"))
      .join(partCnt.select(col("part").as("part_b"), col("n_p").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round((col("n_ab").cast("double") / col("n_orders")) /
          ((col("n_a").cast("double") / col("n_orders")) *
            (col("n_b").cast("double") / col("n_orders"))), 6).as("lift"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
      .limit(k)

  /** The capped (okey, parts-array) basket table behind
    * [[copurchaseLiftCapped]] — the memo unit. The cap changes the
    * OPTIMAL PLAN, not just the volume: once a basket fits in
    * ≤ maxBasket elements, the self-join disappears — baskets
    * aggregate to arrays on the okey clustering (exchange-free after
    * the repartition) and each array emits its own C(|basket|, 2)
    * pairs map-only into the pair-count shuffle. No okey-keyed join
    * at all, so none of the uncapped key's per-task hash builds
    * (which OOM the 8 g default heap when a basket-filter join fuses
    * into the same stage) and no window sort.
    */
  def cappedBaskets(lineitem: DataFrame, maxBasket: Int = 5): DataFrame = {
    lineitem.select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .repartition(Sizing.width(lineitem), col("okey"))
      .dropDuplicates("okey", "part")
      .groupBy("okey").agg(collect_list("part").as("ps"))
      .filter(size(col("ps")) <= maxBasket)
  }

  /** [[copurchaseLift]] with a basket-size cap — the 100×-safe face
    * of the suite's one adjudicated pair-volume floor. The uncapped
    * key's cost is Σ C(basket, 2): linear in RESULT volume, but a
    * corpus whose basket sizes grow with scale (marketplace carts,
    * session item lists) turns that into a quadratic term. Dropping
    * baskets larger than `maxBasket` BEFORE the self-join bounds the
    * pair volume at Σ_kept C(min(basket, cap), 2) ≤ |orders|·C(cap, 2)
    * — linear in order count at any scale — the same drop-the-flood
    * idiom as every df-capped dedup join (an over-cap basket is a
    * wholesale/bot order whose C(n,2) pairs swamp the lift statistic
    * with one customer's co-occurrences anyway; association mining
    * conventionally prunes them). The capped universe is
    * self-consistent: n_orders and per-part counts are measured over
    * KEPT orders, so lift stays a probability ratio within the
    * analyzed population. The uncapped [[copurchaseLift]] stays as
    * the exact audit.
    *
    * `baskets` is the [[cappedBaskets]] table, read three times (order
    * count, part counts, pair explode); the registry routes it through
    * [[graft.Materialized]], so the dedup + array aggregate runs once.
    * The per-row pair HOF runs interpreted, but over ≤ cap elements
    * per row — bounded by the same C(cap, 2) the plan is named for.
    * collect_list order is nondeterministic; least/greatest normalizes
    * each pair, so the emitted SET is exact.
    */
  def copurchaseLiftCapped(baskets: DataFrame, minPairs: Int = 2,
                           k: Int = 200): DataFrame = {
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val partCnt = baskets.select(explode(col("ps")).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_p"))
    val pairCnt = baskets.select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> " +
          "struct(least(x, y) AS part_a, greatest(x, y) AS part_b))))")).as("p"))
      .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
    liftTopK(pairCnt, partCnt, nOrders, minPairs, k)
  }

  /** Snapshot diff: the added / deleted / changed rows between the
    * customer snapshot and the post-changelog state
    * ([[applyChangeSet]]) — the audit report for any CDC/merge
    * pipeline ("what did this batch actually do?"), and the
    * verification step between a merge write and its sign-off.
    *
    * Shape at 100 TB: one key-partitioned FULL OUTER hash join of
    * the two snapshots (both sides shuffle on the key — the only
    * correct shape for a whole-table diff); status classification is
    * a map-only expression on the joined row; `unchanged` rows are
    * filtered before anything materializes.
    */
  def snapshotDiff(customer: DataFrame): DataFrame = {
    val before = customer.select(col("c_custkey").as("key"), col("c_acctbal").as("old_bal"))
    val after = applyChangeSet(customer).select(col("key"), col("bal").as("new_bal"))
    before.join(after, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("old_bal").isNull, "added")
          .when(col("new_bal").isNull, "deleted")
          .when(col("old_bal") =!= col("new_bal"), "changed")
          .otherwise("unchanged").as("status"),
        col("old_bal"), col("new_bal"))
      .filter(col("status") =!= "unchanged")
      .orderBy("key")
  }

  /** Order-to-ship latency profile per order priority: whole days
    * from order date to each line's ship date (avg/p50/p90/max) —
    * the fulfilment-SLA table that answers "do urgent orders
    * actually ship faster". Integer day arithmetic (both engines
    * subtract DATE-cast values exactly); one fact-fact equi join on
    * the order key + a 5-key rollup.
    */
  def orderToShipLatency(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(avg("days"), 4).as("avg_days"),
        percentile(col("days"), lit(0.5)).as("p50_days"),
        percentile(col("days"), lit(0.9)).as("p90_days"),
        max("days").as("max_days"))
      .orderBy("o_orderpriority")
  }

  /** Monthly revenue drawdown: each month's order revenue against
    * the running peak so far, with the relative drawdown — the
    * "how far below the best month ever are we" series (the finance
    * max-drawdown curve applied to order volume). Revenue is rounded
    * BEFORE the window so both engines run the peak/drawdown math on
    * identical doubles.
    *
    * Shape at 100 TB: the fact scan reduces to a |months|-sized
    * monthly aggregate (map-side combined); the running-max window
    * is unpartitioned but its input is that bounded month table
    * (≤ decades × 12 rows) — allowlisted in the plan audit with this
    * proof, same pattern as `text_vocab_growth`.
    */
  def revenueDrawdown(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
    val w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    monthly
      .withColumn("peak", max("revenue").over(w))
      .select(col("month"), col("revenue"), col("peak"),
        round((col("peak") - col("revenue")) / col("peak"), 6).as("drawdown"))
      .orderBy("month")
  }

  /** Exact integer cents of a 2-decimal price stored as double —
    * `round(x·100)` collapses the ~1e-9 binary representation error,
    * and HALF_UP equals round-half-away-from-zero for the positive
    * prices both engines see, so Spark and DuckDB produce the same
    * BIGINT and every downstream sum/rank/product is exact integer
    * arithmetic (no float-summation-order hazard).
    */
  private def cents(price: org.apache.spark.sql.Column) =
    round(price * 100).cast("long")

  /** Benford first-digit audit of order totals: the observed share of
    * each leading digit 1–9 against the Benford expectation
    * log10(1+1/d) — the classic fabricated-data / unit-mixing screen
    * (a synthetic feed that draws prices uniformly lights up here
    * before any distribution test). The digit comes from the exact
    * cents BIGINT rendered as a string (both engines print integers
    * identically), never from float formatting.
    *
    * Shape at 100 TB: map-side digit extraction, 9-group partial
    * aggregate; the single-row total joins back as a broadcast scalar
    * (bounded nested loop over 9 rows).
    */
  def benfordFirstDigit(orders: DataFrame): DataFrame = {
    val digits = orders
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("first_digit"))
      .groupBy("first_digit").agg(count(lit(1)).as("n_orders"))
    val total = digits.agg(sum("n_orders").as("n_total"))
    digits.crossJoin(broadcast(total))
      .select(col("first_digit"), col("n_orders"),
        round(col("n_orders") / col("n_total"), 6).as("share"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("first_digit")), 6)
          .as("benford_expected"))
      .withColumn("excess", round(col("share") - col("benford_expected"), 6))
      .orderBy("first_digit")
  }

  /** Gini coefficient of per-customer spend — the standard inequality
    * index ("how concentrated is revenue") via the exact rank formula
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over spends sorted ascending.
    * Spend is exact cents (BIGINT), so Σ i·xᵢ is exact integer math
    * and the one division at the end is bit-identical cross-engine.
    *
    * Shape at 100 TB — exact GLOBAL ranking without a global window:
    * a single-partition row_number over the per-customer table would
    * funnel billions of rows through one task, so the rank is
    * two-level: (1) percentile thresholds (one agg, broadcast array)
    * bin customers into nBuckets value ranges; (2) row_number runs
    * PARTITIONED by bucket (parallel, each ~n/nBuckets rows); (3) the
    * global rank adds the cumulative count of lower buckets — a
    * window over the nBuckets-row bucket table (bounded, allowlisted).
    * Equal spends share a bucket (strict `<` binning), and the
    * (spend, custkey) tiebreak makes the global order total, so the
    * composed rank is exactly the single-sort rank.
    */
  def giniCustomerSpend(orders: DataFrame, nBuckets: Int = 32): DataFrame = {
    val spend = orders.groupBy("o_custkey")
      .agg(sum(cents(col("o_totalprice"))).as("spend_cents"))
    val thr = spend.agg(percentile(col("spend_cents"),
      array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*)).as("thr"))
    val binned = spend.crossJoin(broadcast(thr))
      .select(col("o_custkey"), col("spend_cents"),
        size(filter(col("thr"), t => t < col("spend_cents"))).as("bucket"))
    val offsets = binned.groupBy("bucket").agg(count(lit(1)).as("n_in_bucket"))
      .withColumn("offset",
        coalesce(sum("n_in_bucket").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    val ranked = binned
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("rnk", col("offset") + row_number().over(
        Window.partitionBy("bucket").orderBy("spend_cents", "o_custkey")))
    ranked.agg(
      count(lit(1)).as("n_customers"),
      sum("spend_cents").as("t_cents"),
      sum(col("rnk") * col("spend_cents")).as("rx"))
      .select(col("n_customers"),
        round(col("t_cents") / 100.0, 2).as("total_spend"),
        round(lit(2.0) * col("rx") / (col("n_customers").cast("double") * col("t_cents"))
          - (col("n_customers") + lit(1.0)) / col("n_customers"), 6).as("gini"))
  }

  /** Exact quantity-weighted median of the line price — "the price at
    * which half the shipped units are cheaper" (robust pricing pivot
    * the unweighted median misses when bulk lines cluster low). The
    * crossing test is pure integer math: first price group where
    * 2·cumweight ≥ total.
    *
    * Shape at 100 TB — no global cumulative window: the running sum
    * the textbook query needs is replaced by (1) a per-price-group
    * aggregate, (2) percentile-threshold binning into nBuckets ranges
    * (broadcast array), (3) per-bucket weight totals + cumulative
    * offsets over the nBuckets-row table (bounded, allowlisted), (4) a
    * broadcast equi-join that keeps ONLY the crossing bucket's price
    * groups (~1/nBuckets of distinct prices), where the partitioned
    * in-bucket running sum finishes. Equal prices share a group, so
    * the in-bucket order is total and the crossing price is exact.
    *
    * Precondition: positive total weight (Σ l_quantity > 0 per
    * group). In the degenerate all-zero-weight case the crossing
    * filter (2·offset < t) matches no bucket and this returns a null
    * row, while the oracle's `2*cum >= t` form admits every row and
    * returns the minimum price — impossible on TPC-H data
    * (l_quantity ≥ 1), so the divergence is documented rather than
    * guarded.
    */
  def weightedMedianPrice(lineitem: DataFrame, nBuckets: Int = 32): DataFrame = {
    val wp = lineitem.groupBy(col("l_extendedprice").as("price"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    // sketch thresholds are safe here: the cut points only choose HOW
    // work is partitioned — the crossing test below is exact integer
    // math and returns the same price for ANY increasing cut set
    // (ScaleSmokeSpec proves bucket-count invariance), so the exact
    // 31-way percentile (a full value buffer per partition, ~7-13 s at
    // sf0.1) is replaced by a single-pass t-digest (~1 s)
    val thr = lineitem.agg(approx_percentile(col("l_extendedprice"),
      array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*),
      lit(1000)).as("thr"))
    val binned = wp.crossJoin(broadcast(thr))
      .select(col("price"), col("w"),
        size(filter(col("thr"), t => t < col("price"))).as("bucket"))
    val perBucket = binned.groupBy("bucket").agg(sum("w").as("bw"))
      .withColumn("offset",
        coalesce(sum("bw").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("t", sum("bw").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val crossing = perBucket
      .filter(lit(2) * col("offset") < col("t") &&
        lit(2) * (col("offset") + col("bw")) >= col("t"))
      .select(col("bucket"), col("offset"), col("t"))
    val inBucket = binned.join(broadcast(crossing), Seq("bucket"))
      .withColumn("cum", col("offset") + sum("w").over(
        Window.partitionBy("bucket").orderBy("price")
          .rowsBetween(Window.unboundedPreceding, 0)))
    inBucket.filter(lit(2) * col("cum") >= col("t"))
      .agg(min("t").as("total_weight"),
        min("price").as("weighted_median_price"))
  }

  /** Customer acquisition curve: new customers per month (month of
    * each customer's FIRST order) and the cumulative base — the
    * growth chart every business review opens with. The fact scan
    * reduces to one per-customer min, then a |months|-sized monthly
    * count; the cumulative window runs on that bounded month table
    * (allowlisted, same proof as q_drawdown).
    */
  def customerAcquisition(orders: DataFrame): DataFrame = {
    val firstMonth = orders
      .groupBy("o_custkey")
      .agg(min(date_format(col("o_orderdate"), "yyyy-MM")).as("month"))
    val monthly = firstMonth.groupBy("month").agg(count(lit(1)).as("n_new"))
    monthly
      .withColumn("cum_customers",
        sum("n_new").over(Window.orderBy("month")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("month")
  }

  /** Growth accounting: monthly revenue split into new-customer vs
    * repeat-customer revenue (an order is "new" iff it falls in its
    * customer's FIRST month) — the table that says whether growth is
    * acquisition or retention. One per-customer min, one fact join on
    * the customer key, a |months|-sized conditional rollup; the share
    * divides the already-rounded cell revenues so both engines divide
    * identical doubles.
    */
  def revenueAccounting(orders: DataFrame): DataFrame = {
    val withMonth = orders.select(col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"), col("o_totalprice"))
    val firstMonth = withMonth.groupBy("o_custkey")
      .agg(min("month").as("first_month"))
    withMonth.join(firstMonth, "o_custkey")
      .groupBy("month")
      .agg(
        round(sum(when(col("month") === col("first_month"), col("o_totalprice"))
          .otherwise(0.0)), 2).as("revenue_new"),
        round(sum(when(col("month") =!= col("first_month"), col("o_totalprice"))
          .otherwise(0.0)), 2).as("revenue_repeat"))
      .withColumn("share_new",
        round(col("revenue_new") / (col("revenue_new") + col("revenue_repeat")), 6))
      .orderBy("month")
  }

  /** Market concentration per region: the Herfindahl–Hirschman index
    * of nation-level revenue shares (Σ shareᵢ² — 1/n for perfectly
    * even markets, 1.0 for a monopoly; the antitrust-standard
    * concentration number, complementing [[giniCustomerSpend]]'s
    * customer-level inequality). Nation revenue is rounded to cents
    * before shares so both engines square identical doubles.
    *
    * Shape at 100 TB: the star join broadcasts the nation/region/
    * customer dims; the fact aggregate is |nations|-sized, and the
    * HHI rollup runs on that bounded table with a partitioned window.
    */
  def marketHhi(orders: DataFrame, customer: DataFrame, nation: DataFrame,
                region: DataFrame): DataFrame = {
    val rev = orders
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val byRegion = Window.partitionBy("region")
    rev
      .select(col("region"),
        (col("rev") / sum("rev").over(byRegion)).as("share"))
      .groupBy("region")
      .agg(count(lit(1)).as("n_nations"), round(sum(col("share") * col("share")), 6).as("hhi"))
      .orderBy("region")
  }

  /** Single-source supply risk: per part, the share of its line items
    * coming from its BIGGEST supplier, rolled into a 10-bucket
    * histogram — the supply-chain concentration screen ("how much of
    * the catalog depends on one vendor"), the per-part sibling of
    * [[marketHhi]]. Share 1.0 (fully single-sourced) folds into the
    * top bucket via least(). Exact integer counts everywhere; the
    * share divides two counts, and bucketing floors the same IEEE
    * double in both engines.
    *
    * Shape at 100 TB: ONE exchange of two-long rows. (part, supplier)
    * pairs are near-unique in lineitem (TPC-H references each partsupp
    * a handful of times), so a plain groupBy's partial aggregate
    * reduces ~nothing and the naive plan pays two full fact-sized
    * shuffles (pair agg, then part agg) with four hash-map builds —
    * the round-14 verdict's 11.65×/decade key. The explicit-width
    * repartition on l_partkey ([[graft.Sizing]]; hash(l_partkey)
    * SATISFIES both the (l_partkey, l_suppkey) and the l_partkey
    * clustering) makes both aggregates exchange-free; the ≤10-row
    * histogram rollup is the only other shuffle.
    */
  def singleSourceRisk(lineitem: DataFrame): DataFrame = {
    val ps = lineitem
      .select("l_partkey", "l_suppkey")
      .repartition(Sizing.width(lineitem), col("l_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("n_ps"))
    val perPart = ps.groupBy("l_partkey")
      .agg(sum("n_ps").as("n_p"), max("n_ps").as("n_top"))
      .select(least(floor(col("n_top") / col("n_p") * 10), lit(9))
        .cast("int").as("risk_bucket"))
    perPart.groupBy("risk_bucket")
      .agg(count(lit(1)).as("n_parts"))
      .select(col("risk_bucket"),
        round(col("risk_bucket") / 10.0, 1).as("share_lo"),
        col("n_parts"))
      .orderBy("risk_bucket")
  }

  /** Grouped OLS: per return flag, the closed-form least-squares line
    * price = a + b·quantity over line items — does bulk actually get
    * a discount, and does the relationship differ for returned goods?
    * The per-GROUP face of the global regression fits (Heaps,
    * retention decay): five raw sums per group — quantity kept as
    * exact BIGINT (its squares cannot overflow), price summed as
    * double (its exact-cents squares would overflow int64 at scale,
    * and DuckDB's HUGEINT promotion would then diverge from Spark's
    * ANSI-off wraparound — doubles + final rounding are the
    * cross-engine-safe representation, the established fit
    * convention). Slope/intercept/r² derive in one final select with
    * an identical expression tree; a zero-variance group reports
    * nulls.
    *
    * Shape at 100 TB: one map-side-combined aggregate to |groups|
    * rows — the regression input never leaves the partial-agg path.
    */
  def priceOlsByFlag(lineitem: DataFrame): DataFrame = {
    val sums = lineitem
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"), col("l_extendedprice").as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXn = (col("n") * col("sx2") - col("sx") * col("sx")).cast("double")
    val varYn = col("n") * col("sy2") - col("sy") * col("sy")
    sums.select(col("l_returnflag"), col("n"),
      when(varXn > 0, round(covN / varXn, 6)).as("slope_per_unit"),
      when(varXn > 0,
        round(col("sy") / col("n") - (covN / varXn) * col("sx") / col("n"), 4))
        .as("intercept"),
      when(varXn > 0 && varYn > 0,
        round(covN * covN / (varXn * varYn), 6)).as("r2"))
      .orderBy("l_returnflag")
  }
}
