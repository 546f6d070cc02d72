package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the scale properties the scaladocs claim —
  * pushdown reaching the parquet scan, broadcast joins where
  * intended — verified against the actual optimized plans, so a
  * regression in plan shape fails CI, not just a benchmark.
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("filter+projection are pushed into the parquet scan") {
    val plan = formattedPlan(Relational.highQtyReturns(Tables.lineitem(spark, sf0001)))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_quantity,45.0)"), s"no pushed filter in:\n$plan")
    // pruned read schema: only the 4 selected columns survive to the scan
    assert(plan.contains("l_orderkey") && !plan.contains("l_shipdate"),
      "column pruning failed — scan reads unselected columns")
  }

  test("star join broadcasts dims and keeps one shuffle for the fact join") {
    val plan = formattedPlan(Relational.revenueByRegionYear(
      Tables.region(spark, sf0001), Tables.nation(spark, sf0001),
      Tables.customer(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001)))
    assert(plan.contains("BroadcastHashJoin"), "dims not broadcast")
  }

  test("pricing summary uses partial aggregation (map-side combine)") {
    val plan = formattedPlan(Relational.pricingSummary(Tables.lineitem(spark, sf0001)))
    assert(plan.contains("HashAggregate"), "no hash aggregate")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "no partial/final split")
  }

  test("whole-stage codegen covers the scan→aggregate pipeline") {
    val df = Relational.pricingSummary(Tables.lineitem(spark, sf0001))
    df.collect() // AQE finalizes the physical plan only on execution
    // '*(n)' prefixes mark WholeStageCodegen stages in the compact form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Filter") || plan.contains("WholeStageCodegen"),
      s"scan→filter pipeline not codegen'd:\n$plan")
    assert(plan.contains("*(1) HashAggregate") || plan.contains("*(2) HashAggregate"),
      s"aggregate not codegen'd:\n$plan")
  }

  test("SQL-frontend query (Q6) pushes its filters into the parquet scan") {
    val plan = formattedPlan(Relational.revenueForecastSql(Tables.lineitem(spark, sf0001)))
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"),
      s"SQL-path filters not pushed:\n$plan")
    assert(!plan.contains("l_orderkey"), "column pruning failed on the SQL path")
  }

  test("correlated scalar subquery is decorrelated into an aggregate+join") {
    val df = Relational.belowHalfAvgQuantityRevenueSql(
      Tables.part(spark, sf0001), Tables.lineitem(spark, sf0001))
    // RewriteCorrelatedScalarSubquery: no subquery survives to the
    // optimized plan — it becomes a per-partkey Aggregate joined back
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("scalar-subquery"),
      s"correlated subquery not decorrelated:\n$optimized")
    val plan = formattedPlan(df)
    assert(plan.contains("HashAggregate"), "expected the decorrelated aggregate")
    // and it matches the hand-decorrelated DataFrame twin row-for-row
    val sqlRows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val dfRows = Relational.belowHalfAvgQuantityRevenue(
      Tables.part(spark, sf0001), Tables.lineitem(spark, sf0001))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sqlRows == dfRows)
    assert(sqlRows.nonEmpty)
  }

  test("correlated EXISTS / NOT EXISTS rewrite to left semi and left anti joins") {
    val df = Relational.onlyReturnedSupplier(
      Tables.supplier(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.lineitem(spark, sf0001))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("exists"),
      s"predicate subquery not rewritten:\n$optimized")
    assert(optimized.contains("LeftSemi"), "EXISTS did not become a semi join")
    assert(optimized.contains("LeftAnti"), "NOT EXISTS did not become an anti join")
    assert(df.collect().nonEmpty)
  }

  test("left outer count keeps zero-order customers; full outer keeps one-sided nations") {
    val customer = Seq((1L, "BUILDING", 10L), (2L, "AUTO", 10L), (3L, "BUILDING", 20L))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey")
    val orders = Seq((100L, 1L), (101L, 1L)).toDF("o_orderkey", "o_custkey")
    val counts = Relational.customerOrderCounts(customer, orders)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 0L, 3L -> 0L))

    val supplier = Seq((9L, -5.0, 30L), (10L, 7.0, 10L)).toDF("s_suppkey", "s_acctbal", "s_nationkey")
    val fo = Relational.nationCustomerSupplierBalance(customer, supplier)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // nation 10/20 only on the customer side, nation 30 only on the
    // (negative-balance) supplier side — all three survive
    assert(fo.toSet == Set((10L, 1L, 0L), (20L, 1L, 0L), (30L, 0L, 1L)))
  }

  test("null-safe join matches null keys to each other; multiset ops keep duplicates") {
    val nation = Seq((1L, 2L), (2L, 2L), (3L, 0L)).toDF("n_nationkey", "n_regionkey")
    // region 2 is nulled → nations 1,2 pair under <=> (4 pairs), nation 3 self-pairs
    val pairs = Relational.nullSafeRegionPairs(nation).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    assert(pairs == Map(-1L -> 4L, 0L -> 1L))

    val orders = Seq(("1-URGENT", "F"), ("1-URGENT", "F"), ("1-URGENT", "O"))
      .toDF("o_orderpriority", "o_orderstatus")
    // bag {U,U,U} except-all bag {U,U} (status F) leaves exactly one
    val ea = Relational.exceptAllPriorities(orders).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ea == Map("1-URGENT" -> 1L))
  }

  test("revenueDeciles: ten distinct prices land one per bin, no global window planned") {
    val orders = (1 to 10).map(i => (i.toLong, i * 10.0))
      .toDF("o_orderkey", "o_totalprice")
    val out = Relational.revenueDeciles(orders).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == (0 to 9).map(_ -> 1L).toMap, out.toString)
    // the binning must not plan an ntile/global Window
    val plan = Relational.revenueDeciles(orders).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"quantile binning must stay window-free:\n$plan")
  }

  test("priceMadByPriority: outlier moves the mean, not the median/MAD") {
    val orders = Seq(1.0, 2.0, 3.0, 4.0, 100.0)
      .map(p => ("1-URGENT", p)).toDF("o_orderpriority", "o_totalprice")
    val r = Relational.priceMadByPriority(orders).collect().head
    assert((r.getLong(1), r.getDouble(2), r.getDouble(3)) == ((5L, 3.0, 1.0)), r.toString)
  }

  test("approx percentiles track exact within 2% relative tolerance") {
    val orders = Tables.orders(spark, sf0001)
    val exact = Relational.pricePercentiles(orders).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = Relational.pricePercentilesApprox(orders).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, (p50e, p90e)) =>
      val (p50a, p90a) = approx(k)
      assert(math.abs(p50a - p50e) / p50e < 0.02, s"$k p50 approx $p50a vs exact $p50e")
      assert(math.abs(p90a - p90e) / p90e < 0.02, s"$k p90 approx $p90a vs exact $p90e")
    }
    // and the sketch plan partial-aggregates (mergeable at any scale)
    val plan = formattedPlan(Relational.pricePercentilesApprox(orders))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("HashAggregate"))
  }

  test("RANGE-frame trailing window includes date peers and honors the 90-day bound") {
    import java.sql.Date
    val orders = Seq(
      (1L, 7L, Date.valueOf("2024-01-01"), 10.0),
      (2L, 7L, Date.valueOf("2024-01-01"), 20.0),  // same-date peer of k1
      (3L, 7L, Date.valueOf("2024-03-30"), 5.0),   // 89 days after Jan 1 → in range
      (4L, 7L, Date.valueOf("2024-04-02"), 7.0),   // 92 days after Jan 1 → Jan rows out
      (5L, 8L, Date.valueOf("2024-01-15"), 100.0)  // other customer: isolated
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = Relational.trailing90DayOrderTotals(orders).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // RANGE frames include ALL rows at the current date (peers), which a
    // ROWS frame cannot express when order dates tie
    assert(got == Map(1L -> 30.0, 2L -> 30.0, 3L -> 35.0, 4L -> 12.0, 5L -> 100.0), got.toString)
  }

  test("changelog apply: updates rewrite, deletes drop, inserts append; snapshot never shuffles") {
    // keys 3 (→U, +100), 7 (→D), 1 (→I of key 10000001); 5 untouched
    val snapshot = Seq((1L, 50.0), (3L, 10.0), (5L, 20.0), (7L, 30.0))
      .toDF("c_custkey", "c_acctbal")
    val out = Relational.applyChangeSet(snapshot).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.toSeq == Seq(1L -> 50.0, 3L -> 110.0, 5L -> 20.0, 10000001L -> 0.0),
      out.toSeq.toString)
    val plan = Relational.applyChangeSet(snapshot).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "changes not broadcast — snapshot would shuffle")
  }

  test("merge-on-read view equals the merge-on-write snapshot row-for-row") {
    // the tiny fixture exercises every op class (U, D, I, untouched)…
    val snapshot = Seq((1L, 50.0), (3L, 10.0), (5L, 20.0), (7L, 30.0))
      .toDF("c_custkey", "c_acctbal")
    val read = Relational.mergeOnReadView(snapshot).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(read.toSeq == Seq(1L -> 50.0, 3L -> 110.0, 5L -> 20.0, 10000001L -> 0.0),
      read.toSeq.toString)
    // …and the sf0.001 differential pins the two paths at table scale
    val cust = Tables.customer(spark, sf0001)
    val write = Relational.applyChangeSet(cust).collect().map(_.toSeq).toSeq
    val view = Relational.mergeOnReadView(cust).collect().map(_.toSeq).toSeq
    assert(view == write)
    // the deletion vector must broadcast — the snapshot side never shuffles
    val plan = Relational.mergeOnReadView(cust).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"delete vector not broadcast:\n$plan")
  }

  test("columnProfileApprox: estimates within HLL++ tolerance of the exact profile, one agg pass") {
    val li = Tables.lineitem(spark, sf0001)
    val exact = Relational.columnProfile(li).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = Relational.columnProfileApprox(li).collect()
    assert(approx.map(_.getString(0)).toSeq == exact.keys.toSeq.sorted)
    approx.foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getLong(1) == e.getLong(1), "n_rows must be exact")
      assert(r.getLong(2) == e.getLong(2), "n_nonnull must be exact")
      assert(r.getString(4) == e.getString(4) && r.getString(5) == e.getString(5),
        "min/max must be exact")
      val est = r.getLong(3).toDouble
      val truth = e.getLong(3).toDouble
      assert(math.abs(est - truth) <= math.max(0.1 * truth, 2.0),
        s"${r.getString(0)}: estimate $est vs exact $truth outside 10% tolerance")
    }
    // the point of the approx form: ONE aggregation, no distinct-pair
    // pre-shuffle and no Expand
    val plan = Relational.columnProfileApprox(li).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"approx profile must not Expand:\n$plan")
  }

  test("window navigation: full-frame first/last/nth, lag, running ignore-nulls carry-forward") {
    import java.sql.Date
    val orders = Seq(
      (1L, 7L, Date.valueOf("2024-01-01"), 250000.0), // big
      (2L, 7L, Date.valueOf("2024-02-01"), 100.0),
      (3L, 7L, Date.valueOf("2024-03-01"), 300000.0), // big
      (4L, 9L, Date.valueOf("2024-01-05"), 50.0))     // singleton customer
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val out = Relational.orderNavigation(orders).collect().map { r =>
      r.getLong(0) -> (r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5),
        if (r.isNullAt(6)) -1L else r.getLong(6))
    }.toMap
    assert(out(1L) == ((1L, 3L, 2L, -1.0, 1L)))        // lag null; big carry = itself
    assert(out(2L) == ((1L, 3L, 2L, 250000.0, 1L)))    // carry-forward skips the small row
    assert(out(3L) == ((1L, 3L, 2L, 100.0, 3L)))
    assert(out(4L) == ((4L, 4L, -1L, -1.0, -1L)))      // singleton: nth(2)/lag/carry all null
  }

  test("LATERAL top-1 decorrelates to WindowGroupLimit + equi join, never a re-scan loop") {
    val customer = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c_custkey", "c_name")
    val orders = Seq((10L, 1L, 5.0), (11L, 1L, 9.0), (12L, 2L, 3.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val df = Relational.lateralTopOrder(customer, orders)
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // top order per customer; customer 3 has none → inner-lateral drops it
    assert(out.toSeq == Seq((1L, 11L, 9.0), (2L, 12L, 3.0)))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("WindowGroupLimit"), s"no per-group limit pushdown:\n$opt")
    assert(opt.contains("Join Inner"), "lateral not rewritten to an equi join")
    assert(!opt.contains("CartesianProduct") &&
      !df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "lateral fell back to a nested-loop scan per outer row")
  }

  test("recursive CTE: binary-tree ancestor walk produces exact depth counts") {
    val customer = (1L to 6L).map(k => (k, s"c$k")).toDF("c_custkey", "c_name")
    val out = Relational.recursiveHierarchyDepths(customer).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key 1 → depth 0; keys 2,3 → 1; keys 4,5,6 → 2
    assert(out == Map(0L -> 1L, 1L -> 2L, 2L -> 3L), out.toString)
  }

  test("histogram: floor bucketing with boundary and clamp semantics") {
    val orders = Seq(
      (1L, 0.0),       // exactly lo → bucket 0
      (2L, 29999.99),  // last value of bucket 0
      (3L, 30000.0),   // boundary lands in bucket 1 (left-closed)
      (4L, 599999.0),  // top bucket
      (5L, 700000.0),  // above hi → clamped into bucket 19
      (6L, -5.0))      // below lo → clamped into bucket 0
      .toDF("o_orderkey", "o_totalprice")
    val out = Relational.priceHistogram(orders).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out == Map(
      0L -> (0.0, 30000.0, 3L),
      1L -> (30000.0, 60000.0, 1L),
      19L -> (570000.0, 600000.0, 2L)), out.toString)
  }

  test("rank profile: ntile remainder goes to first buckets; pr/cd hit 0 and 1") {
    val orders = (1 to 6).map(i => (i.toLong, "1-URGENT", i * 10.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val out = Relational.priceQuartileProfile(orders).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5)))
    // 6 rows into 4 buckets → sizes 2,2,1,1 (remainder to the first buckets)
    assert(out.map(t => t._1 -> t._2).toSeq == Seq(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    // percent_rank of the first row is 0; cume_dist of the last is 1
    assert(out.head._3 == BigDecimal(1.0 / 5).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, out.head.toString) // max pr in bucket 1 = rank 2 → 1/5
    assert(out.last._4 == 1.0)
  }

  test("queries are deterministic: repeated runs give identical rows") {
    val q = SparkEntryLike.sample
    val a = q(spark, sf0001).collect().toSeq
    val b = q(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  private object SparkEntryLike {
    val sample: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, d) => Relational.topRevenueOrders(
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))
  }

  test("SQL UDF is inlined by the analyzer — no opaque UDF node survives to the plan") {
    val df = Relational.sqlUdfRevenue(Tables.lineitem(spark, sf0001))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"SQL UDF not inlined:\n$plan")
    // the body appears as raw arithmetic inside the aggregate — fully
    // codegen-able, pruned scan (only 3 columns read)
    assert(plan.contains("* (1.0 - "), s"inlined expression missing:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_extendedprice:double,l_discount:double,l_returnflag:string>"),
      "column pruning through the UDF failed")
  }

  test("rollupWithGroupingId: gid partitions the three aggregation levels") {
    import org.apache.spark.sql.functions._
    val out = Relational.rollupWithGroupingId(graft.Tables.orders(spark, sf0001))
      .collect().map(r => (r.getLong(3), r.isNullAt(0), r.isNullAt(1)))
    // gid 0 = detail (no nulls from rollup), gid 1 = per-status subtotal
    // (priority nulled), gid 3 = grand total (both nulled); exactly one
    assert(out.count(_._1 == 3L) == 1)
    assert(out.filter(_._1 == 0L).forall(t => !t._2 && !t._3))
    assert(out.filter(_._1 == 1L).forall(t => !t._2 && t._3))
    assert(out.map(_._1).toSet == Set(0L, 1L, 3L))
  }

  test("revenueParetoTop: cumulative share is monotone and ends below 1") {
    val out = Relational.revenueParetoTop(
        graft.Tables.customer(spark, sf0001), graft.Tables.orders(spark, sf0001))
      .collect().map(r => (r.getInt(0), r.getDouble(3)))
    assert(out.length == 25)
    assert(out.sliding(2).forall { case Array(a, b) => a._2 < b._2 })
    assert(out.last._2 > 0 && out.last._2 < 1.0)
  }

  test("copurchaseLift: pair below minPairs dropped; universal item has lift 1") {
    // orders: 1:{A,B} 2:{A,B} 3:{A,C} — A in every order, so
    // lift(A,B) = P(AB)/(P(A)P(B)) = (2/3)/(1 · 2/3) = 1
    val li = Seq((1L, 100L), (1L, 200L), (2L, 100L), (2L, 200L), (3L, 100L), (3L, 300L))
      .toDF("l_orderkey", "l_partkey")
    val out = Relational.copurchaseLift(li, minPairs = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    assert(out.length == 1, out.mkString(","))
    assert(out.head == (((100L, 200L), (2L, 1.0))), out.head.toString)
  }

  test("copurchaseLiftCapped: over-cap basket dropped wholesale; capped universe self-consistent") {
    // orders 1..3 as above plus a 7-item bot order 4 — cap 5 drops it
    // ENTIRELY (no truncation), so the capped result equals the
    // uncapped result over orders 1..3 alone, and n_orders shrinks to
    // the kept population (lift(A,B) stays (2/3)/(1·2/3) = 1).
    val bot = (1L to 7L).map(p => (4L, 1000L + p))
    val li = (Seq((1L, 100L), (1L, 200L), (2L, 100L), (2L, 200L), (3L, 100L), (3L, 300L)) ++ bot)
      .toDF("l_orderkey", "l_partkey")
    val baskets = Relational.cappedBaskets(li, maxBasket = 5)
    val capped = Relational.copurchaseLiftCapped(baskets, minPairs = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    assert(capped.length == 1, capped.mkString(","))
    assert(capped.head == (((100L, 200L), (2L, 1.0))), capped.head.toString)
    // the bot order's C(7,2)=21 pairs would all have n_ab=1 < minPairs
    // anyway — prove the cap (not minPairs) is what excluded them by
    // rerunning with minPairs=1: no 1000-series part may appear
    val capped1 = Relational.copurchaseLiftCapped(baskets, minPairs = 1).collect()
    assert(capped1.forall(r => r.getLong(0) < 1000L && r.getLong(1) < 1000L))
    // sanity: uncapped with minPairs=1 DOES surface the bot pairs
    val un1 = Relational.copurchaseLift(li, minPairs = 1).collect()
    assert(un1.exists(r => r.getLong(0) >= 1000L))
  }

  test("snapshotDiff: changelog rows surface as changed/deleted/added, others suppressed") {
    val cust = (1 to 10).map(i => (i, 1000.0 + i)).toDF("c_custkey", "c_acctbal")
    val out = Relational.snapshotDiff(cust).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // %10==3 updated (+100 ≠ old), %10==7 deleted, %10==1 inserted at key+10000000
    assert(out == Map(3L -> "changed", 7L -> "deleted", 10000001L -> "added"), out.toString)
  }

  test("orderToShipLatency: integer-day gaps with interpolated percentiles per priority") {
    val orders = Seq((1L, "1-URGENT", "2024-01-01"))
      .toDF("o_orderkey", "o_orderpriority", "d")
      .selectExpr("o_orderkey", "o_orderpriority", "CAST(d AS TIMESTAMP) AS o_orderdate")
    val li = Seq((1L, "2024-01-03"), (1L, "2024-01-11"))
      .toDF("l_orderkey", "d")
      .selectExpr("l_orderkey", "CAST(d AS TIMESTAMP) AS l_shipdate")
    val r = Relational.orderToShipLatency(orders, li).collect().head
    assert(r.getString(0) == "1-URGENT")
    assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5)) ==
      ((2L, 6.0, 6.0, 9.2, 10)))
  }

  test("revenueDrawdown: running peak carries through the dip") {
    val orders = Seq(
      (1L, "2024-01-05", 100.0),
      (2L, "2024-01-20", 100.0),
      (3L, "2024-02-10", 50.0),   // dip: 75% below the Jan peak
      (4L, "2024-03-01", 300.0))  // new peak → drawdown back to 0
      .toDF("o_orderkey", "d", "o_totalprice")
      .selectExpr("o_orderkey", "CAST(d AS TIMESTAMP) AS o_orderdate", "o_totalprice")
    val out = Relational.revenueDrawdown(orders).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("2024-01", 200.0, 200.0, 0.0),
      ("2024-02", 50.0, 200.0, 0.75),
      ("2024-03", 300.0, 300.0, 0.0)), out.toSeq.toString)
  }

  test("benfordFirstDigit: digits come from exact cents, shares sum to 1") {
    val orders = Seq(1.00, 19.99, 150.00, 2.50, 29.99, 3.00, 9.99)
      .toDF("o_totalprice")
    val out = Relational.benfordFirstDigit(orders).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1, 2, 3, 9))
    assert(out(1)._1 == 3L && out(2)._1 == 2L && out(3)._1 == 1L && out(9)._1 == 1L)
    assert(math.abs(out(1)._2 - 3.0 / 7) < 1e-6)
    // Benford expectation column is log10(1+1/d): digit 1 → ~0.30103
    val exp1 = Relational.benfordFirstDigit(orders).collect()
      .find(_.getInt(0) == 1).get.getDouble(3)
    assert(math.abs(exp1 - 0.30103) < 1e-5)
  }

  test("giniCustomerSpend: 0 for equal spends; hand value for a skewed split; " +
    "two-level rank equals the single-sort rank at any bucket count") {
    val equal = Seq((1L, 10.0), (2L, 10.0), (3L, 10.0), (4L, 10.0))
      .toDF("o_custkey", "o_totalprice")
    val g0 = Relational.giniCustomerSpend(equal).collect().head
    assert(g0.getLong(0) == 4L && g0.getDouble(2) == 0.0)
    // spends [1,1,1,97] cents: Σ i·x = 1+2+3+388 = 394,
    // G = 2·394/(4·100) − 5/4 = 0.72
    val skew = Seq((1L, 0.01), (2L, 0.01), (3L, 0.01), (4L, 0.97))
      .toDF("o_custkey", "o_totalprice")
    assert(Relational.giniCustomerSpend(skew).collect().head.getDouble(2) == 0.72)
    // bucketed two-level ranking is exact: nBuckets=2 forces customers
    // across buckets, result must match the formula / any other bucketing
    val many = (1L to 9L).map(i => (i, i * 0.01)).toDF("o_custkey", "o_totalprice")
    val g2 = Relational.giniCustomerSpend(many, nBuckets = 2).collect().head.getDouble(2)
    val g32 = Relational.giniCustomerSpend(many, nBuckets = 32).collect().head.getDouble(2)
    // x=[1..9]: Σ i·xᵢ = Σ i² = 285, T = 45, n = 9 →
    // G = 2·285/(9·45) − 10/9 = 0.296296
    assert(g2 == g32 && math.abs(g2 - 0.296296) < 1e-6, s"$g2 vs $g32")
  }

  test("weightedMedianPrice: first price where 2·cumweight ≥ total, exact ties") {
    val li = Seq((10.0, 1.0), (20.0, 2.0), (30.0, 1.0))
      .toDF("l_extendedprice", "l_quantity")
    val out = Relational.weightedMedianPrice(li).collect().head
    assert(out.getLong(0) == 4L && out.getDouble(1) == 20.0)
    // heavy low mass pulls the weighted median below the unweighted one
    val bulk = Seq((10.0, 5.0), (100.0, 1.0)).toDF("l_extendedprice", "l_quantity")
    assert(Relational.weightedMedianPrice(bulk).collect().head.getDouble(1) == 10.0)
    // bucketed crossing equals the direct cumulative at any bucket count
    val many = (1 to 20).map(i => (i * 1.0, 1.0)).toDF("l_extendedprice", "l_quantity")
    val m2 = Relational.weightedMedianPrice(many, nBuckets = 2).collect().head.getDouble(1)
    val m32 = Relational.weightedMedianPrice(many, nBuckets = 32).collect().head.getDouble(1)
    assert(m2 == 10.0 && m32 == 10.0)
  }

  test("customerAcquisition: only FIRST orders count, cumulative is monotone") {
    val orders = Seq(
      (1L, 1L, "2024-01-05"), (2L, 1L, "2024-03-01"), // cust 1: Jan (Mar repeat)
      (3L, 2L, "2024-02-10"),                          // cust 2: Feb
      (4L, 3L, "2024-02-20"))                          // cust 3: Feb
      .toDF("o_orderkey", "o_custkey", "d")
      .selectExpr("o_orderkey", "o_custkey", "CAST(d AS TIMESTAMP) AS o_orderdate")
    val out = Relational.customerAcquisition(orders).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("2024-01", 1L, 1L), ("2024-02", 2L, 3L)),
      out.toSeq.toString)
  }

  test("revenueAccounting: an order is new only in its customer's first month") {
    val orders = Seq(
      (1L, 1L, "2024-01-05", 100.0),
      (2L, 1L, "2024-02-15", 50.0),  // repeat
      (3L, 2L, "2024-02-20", 200.0)) // new in Feb
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .selectExpr("o_orderkey", "o_custkey", "CAST(d AS TIMESTAMP) AS o_orderdate",
        "o_totalprice")
    val out = Relational.revenueAccounting(orders).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("2024-01", 100.0, 0.0, 1.0),
      ("2024-02", 200.0, 50.0, 0.8)), out.toSeq.toString)
  }

  test("marketHhi: even duopoly vs monopoly concentration") {
    val region = Seq((0L, "EU"), (1L, "NA")).toDF("r_regionkey", "r_name")
    val nation = Seq((10L, "DE", 0L), (11L, "FR", 0L), (20L, "US", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq((100L, 10L), (101L, 11L), (102L, 20L))
      .toDF("c_custkey", "c_nationkey")
    val orders = Seq(
      (1L, 100L, 75.0), (2L, 101L, 25.0), // EU: 75/25 split
      (3L, 102L, 50.0))                    // NA: monopoly
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = Relational.marketHhi(orders, customer, nation, region).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("EU", 2L, 0.625), ("NA", 1L, 1.0)), out.toSeq.toString)
  }

  test("singleSourceRisk: fully single-sourced part tops out in bucket 9") {
    val li = Seq(
      (1L, 10L), (1L, 10L), (1L, 10L),           // part 1: one supplier → 1.0
      (2L, 10L), (2L, 11L),                       // part 2: 50/50 → bucket 5
      (3L, 10L), (3L, 10L), (3L, 11L), (3L, 12L)) // part 3: top 2/4 → bucket 5
      .toDF("l_partkey", "l_suppkey")
    val out = Relational.singleSourceRisk(li).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq == Seq((5, 0.5, 2L), (9, 0.9, 1L)), out.toSeq.toString)
  }

  test("priceOlsByFlag: exact line recovered, degenerate groups report nulls") {
    val li = Seq(
      ("A", 1.0, 10.0), ("A", 2.0, 20.0), ("A", 3.0, 30.0), // y = 10x
      ("B", 5.0, 7.0), ("B", 5.0, 9.0),                     // constant x
      ("C", 1.0, 10.0), ("C", 2.0, 10.0))                   // constant y
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val out = Relational.priceOlsByFlag(li).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getDouble(2) == 10.0 && out("A").getDouble(3) == 0.0 &&
      out("A").getDouble(4) == 1.0, out("A").toString)
    assert(out("B").isNullAt(2) && out("B").isNullAt(3) && out("B").isNullAt(4))
    assert(out("C").getDouble(2) == 0.0 && out("C").getDouble(3) == 10.0 &&
      out("C").isNullAt(4), out("C").toString) // zero y-variance → r² undefined
  }
}
