package graft

import org.apache.spark.sql.functions._
import graft.TempDirs.withTempDir

/** Source/sink breadth: the engine's tables round-trip through the
  * other mainstream formats (csv, json, partitioned parquet) with
  * schema preserved — the "sources/sinks" row of SURVEY §2.2.
  */
class SourcesSpec extends SparkSpec {

  test("csv round-trip preserves rows and (declared) schema") {
    withTempDir("graft_csv") { dir =>
      val nation = Tables.nation(spark, sf0001)
      nation.write.mode("overwrite").option("header", "true").csv(dir)
      val back = spark.read.option("header", "true").schema(nation.schema).csv(dir)
      assert(back.orderBy("n_nationkey").collect().toSeq ==
        nation.orderBy("n_nationkey").collect().toSeq)
    }
  }

  test("json lines round-trip") {
    withTempDir("graft_json") { dir =>
      val region = Tables.region(spark, sf0001)
      region.write.mode("overwrite").json(dir)
      val back = spark.read.schema(region.schema).json(dir)
      assert(back.orderBy("r_regionkey").collect().toSeq ==
        region.orderBy("r_regionkey").collect().toSeq)
    }
  }

  test("maxRecordsPerFile bounds output file sizes (compaction control)") {
    withTempDir("graft_sized") { dir =>
      Tables.lineitem(spark, sf0001).coalesce(1)
        .write.mode("overwrite").option("maxRecordsPerFile", 1000).parquet(dir)
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length >= 5, s"expected multiple bounded files, got ${files.length}")
      val total = spark.read.parquet(dir).count()
      assert(total == Tables.lineitem(spark, sf0001).count())
    }
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    // The ingest reality at 100 TB: yesterday's files lack today's
    // column. mergeSchema must union the schemas, null-fill the old
    // generation, and keep predicates on the new column working.
    import spark.implicits._
    withTempDir("graft_evolve") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/gen=1")
      Seq((3L, "c", 0.5), (4L, "d", 0.9)).toDF("id", "v", "score")
        .write.mode("overwrite").parquet(s"$dir/gen=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(merged.columns.sorted.toSeq == Seq("gen", "id", "score", "v"))
      assert(merged.count() == 4)
      assert(merged.filter(col("score").isNull).count() == 2)  // old gen null-filled
      assert(merged.filter(col("score") > 0.7).select("id").collect()
        .map(_.getLong(0)).toSeq == Seq(4L))
    }
  }

  test("orc round-trip preserves rows; filter pushdown reaches the orc scan") {
    withTempDir("graft_orc") { dir =>
      val orders = Tables.orders(spark, sf0001)
      orders.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.orderBy("o_orderkey").collect().toSeq ==
        orders.orderBy("o_orderkey").collect().toSeq)
      val filtered = back.filter(col("o_totalprice") > 100000.0).select("o_orderkey")
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,"),
        s"filter not pushed to orc scan:\n$plan")
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange on either side") {
    // The 100 TB fact⋈fact pattern: both sides pre-bucketed on the
    // join key → SortMergeJoin reads bucket n against bucket n with
    // NO Exchange. Shuffle paid once at write time, amortized over
    // every subsequent join.
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf0001).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_bkt")
      Tables.lineitem(spark, sf0001).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_bkt")
      val joined = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sf0001).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("partitioned parquet write enables partition pruning") {
    withTempDir("graft_part") { dir =>
      val orders = Tables.orders(spark, sf0001)
        .withColumn("o_year", year(col("o_orderdate")))
      orders.write.mode("overwrite").partitionBy("o_year").parquet(dir)
      val pruned = spark.read.parquet(dir).filter(col("o_year") === 1997)
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
        s"partition filter not applied:\n$plan")
      assert(pruned.count() ==
        orders.filter(year(col("o_orderdate")) === 1997).count())
    }
  }

  test("range-clustered write produces key-disjoint files (min/max skipping layout)") {
    // repartitionByRange + sortWithinPartitions is the write layout
    // that makes parquet row-group min/max stats selective: each file
    // owns a disjoint key range, so a point/range predicate prunes to
    // ~1 file instead of sampling every file. At 100 TB this is the
    // difference between touching 1/N of the data and all of it.
    withTempDir("graft_range") { dir =>
      Tables.orders(spark, sf0001)
        .repartitionByRange(8, col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(dir)
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("o_custkey").as("lo"), max("o_custkey").as("hi"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(perFile.length >= 4, s"expected several range files, got ${perFile.length}")
      perFile.sliding(2).foreach {
        case Array((_, hiA), (loB, _)) =>
          assert(hiA <= loB, s"file key ranges overlap: $perFile")
        case _ =>
      }
    }
  }
}
