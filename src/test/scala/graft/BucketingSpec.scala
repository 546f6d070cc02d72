package graft

import org.apache.spark.sql.functions._
import graft.TempDirs.withTempDir

/** Bucketed tables: pre-partitioned storage that lets repeated joins
  * on the bucket key skip their shuffles entirely — the 100 TB answer
  * to "this join runs every hour on the same key". Asserts the
  * co-located join plans without a shuffle exchange on either side.
  */
class BucketingSpec extends SparkSpec {

  test("join of two tables bucketed on the key plans without exchanges") {
    // external tables at explicit paths — no warehouse-dir change
    // (spark.sql.warehouse.dir is a static conf)
    withTempDir("graft_bucket_wh") { wh =>
      val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
      val o = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
      li.write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").saveAsTable("li_b")
      o.write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/o_b").saveAsTable("o_b")
      try {
        val joined = spark.table("li_b")
          .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join still shuffles:\n$plan")
        // result parity with the plain (shuffling) join
        val expected = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey").agg(count(lit(1)).as("n")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == expected)
      } finally {
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")
      }
    }
  }
}
