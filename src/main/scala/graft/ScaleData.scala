package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-datapoint generator: replicate an SF directory `reps`× with
  * key remapping, producing a 10×-larger corpus for the scale-curve
  * bench (`runMain graft.ScaleData <srcDir> <outDir> [reps]`).
  *
  * This is a TIMING corpus, not an oracle corpus — the goal is that
  * every operator's work grows the way a real 10× corpus would:
  *   - fact-table ids get a per-replica stride (2^30 — far above any
  *     source id) on every key column, so intra-replica join
  *     relationships are preserved and cross-replica rows are
  *     unrelated, exactly like genuinely new data;
  *   - dimension tables (region, nation) stay fixed, as in TPC-H
  *     scaling;
  *   - document text is passed through a per-replica bijective
  *     character map (rotations of the 10 most frequent letters), so
  *     lengths, word boundaries, and intra-replica dup structure are
  *     identical while cross-replica shingle/minhash overlap is
  *     negligible — a naive copy would instead make every doc a
  *     10-way exact duplicate and inflate LSH buckets quadratically,
  *     which a real 10× crawl does not do;
  *   - embeddings get a tiny deterministic per-replica perturbation so
  *     nearest-neighbor ties don't collapse to 10-way exact copies;
  *   - event timestamps keep their original range (more events per
  *     day, not more days — how real traffic growth looks) with a
  *     per-replica µs jitter to break exact ties.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    generate(spark, args(0), args(1),
      if (args.length > 2) args(2).toInt else 10,
      if (args.length > 3) 1L << args(3).toInt else 1L << 30,
      if (args.length > 4) args(4) else "etaoinsrhl")
    spark.stop()
  }

  /** `stride` must exceed the LARGEST id in `src` (hopping an
    * already-strided corpus needs a bigger one — pass strideExp 34+
    * for a second 10× hop), and a second hop must use a DIFFERENT
    * `alphabet`: rotations of one alphabet form a cyclic group, so
    * re-rotating hop-1 text with the same letters collapses the
    * reps² replica pairs into only |alphabet| distinct bijections and
    * quadratically inflates cross-replica LSH collisions. Disjoint
    * alphabets compose to reps² distinct maps.
    */
  def generate(spark: SparkSession, src: String, out: String, reps: Int,
               stride: Long = 1L << 30,
               alphabet: String = "etaoinsrhl"): Unit = {
    // replica i's letter map is rotation i % |alphabet|, so reps beyond
    // the alphabet length would silently repeat bijections and make
    // replica i and i+|alphabet| EXACT cross-replica duplicates — the
    // quadratic LSH-bucket inflation this generator exists to avoid
    require(reps <= alphabet.length,
      s"reps=$reps exceeds the ${alphabet.length}-letter alphabet: replica text maps " +
        "would repeat; hop twice with disjoint alphabets instead")
    val Stride = stride
    def repd(name: String): DataFrame =
      Tables.load(spark, src, name).crossJoin(
        spark.range(reps).toDF("rep"))
    def off(c: String) = (col(c) + col("rep") * Stride).as(c)
    // fact tables are written as 16 files: the crossJoin inherits the
    // source scan's partitioning (1-2 files at sf0.1), and a
    // single-file 10× table serializes every scan-side map stage onto
    // one or two cores — a layout artifact a real 10× corpus (many
    // ingest files) doesn't have, which skewed the first scale-curve
    // measurements of the scan-bound queries by up to ~10×.
    def write(df: DataFrame, name: String, files: Int = 16): Unit = {
      df.drop("rep").repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaledata] wrote $name")
    }

    // dims: fixed, straight copy, single file
    Seq("region", "nation").foreach { t =>
      write(Tables.load(spark, src, t).withColumn("rep", lit(0)), t, files = 1)
    }
    write(repd("customer").select(off("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"), col("rep")), "customer")
    write(repd("supplier").select(off("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal"), col("rep")), "supplier")
    write(repd("part").select(off("p_partkey"), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice"), col("rep")), "part")
    write(repd("orders").select(off("o_orderkey"), off("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"), col("rep")), "orders")
    write(repd("lineitem").select(off("l_orderkey"), off("l_partkey"),
      off("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("rep")), "lineitem")
    write(repd("events").select(off("event_id"),
      timestamp_micros(unix_micros(col("ts")) + col("rep")).as("ts"),
      off("user_id"), col("event_type"), col("value"), col("props"), col("rep")), "events")

    // per-replica bijective letter rotation: identical intra-replica
    // structure, near-zero cross-replica token overlap
    val alpha = alphabet
    val textCol = (0 until reps).foldLeft(lit(null).cast("string")) { (acc, i) =>
      val to = alpha.drop(i % alpha.length) + alpha.take(i % alpha.length)
      when(col("rep") === i, translate(col("text"), alpha, to)).otherwise(acc)
    }
    write(repd("documents").select(off("doc_id"), textCol.as("text"),
      col("lang"), col("source"), col("n_chars"), col("rep")), "documents")

    write(repd("embeddings").select(off("vec_id"),
      transform(col("embedding"), (x, j) =>
        x + (col("rep").cast("float") * lit(1e-4f) *
          (pmod(col("vec_id") * 31 + j, lit(7)) - lit(3)).cast("float")))
        .as("embedding"),
      col("label"), col("rep")), "embeddings")
  }
}
