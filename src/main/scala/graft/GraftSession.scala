package graft

import org.apache.spark.sql.SparkSession

/** Single place for session config shared by Verify / Bench / tests.
  *
  * Design notes (100 TB target):
  *   - ANSI off: the reference's `sum` wraps int64 overflow
  *     (two's-complement accumulation, bearly_ext.cc:69-74); Spark 4
  *     defaults ANSI on which would throw instead. Pinned off here and
  *     documented in SURVEY.md §4.2.
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join
  *     splitting is what makes the same plans survive 100x data growth
  *     without hand-tuning `spark.sql.shuffle.partitions` per query.
  *   - UTC everywhere so timestamp results are cluster-independent.
  */
object GraftSession {

  /** Apply graft's standard config to a builder. On a real cluster the
    * same knobs apply; only `master` and memory sizing change.
    */
  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder = {
    // Sink base that Materialized memos are promoted to
    // (Materialized.SinkConfKey): SPARK_GRAFT_MATERIALIZED_PATH=/some/base.
    val withSink = sys.env.get("SPARK_GRAFT_MATERIALIZED_PATH")
      .filter(_.nonEmpty)
      .map(p => b.config(Materialized.SinkConfKey, p)).getOrElse(b)
    // Promotion threshold in bytes (Materialized.SpillConfKey): unset
    // or 0 promotes every memo; a nonzero value needs the path as well.
    val withSpill = sys.env.get("SPARK_GRAFT_MATERIALIZED_SPILL_BYTES")
      .filter(_.nonEmpty)
      .map(v => withSink.config(Materialized.SpillConfKey, v)).getOrElse(withSink)
    withSpill.master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // The Janino generated-class cache (static conf) defaults to 100
      // entries; this suite plans 300+ distinct queries per JVM, so at
      // the default every bench/verify iteration evicts and recompiles
      // most of the fleet — measured as a UNIFORM ~1.8× warm-cost
      // inflation across otherwise-untouched queries (round-7 finding).
      // 4096 comfortably holds every generated class for the full
      // registry. On a real cluster the same knob applies per executor.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // NOTE: spark.sql.objectHashAggregate.sortBased.fallbackThreshold
      // stays at its 128-group default ON PURPOSE. Raising it to 256k
      // for a (since-rejected) UDAF top-k plan measured as a UNIFORM
      // ~1.1x suite-wide warm regression: every ObjectHashAggregate in
      // the 314-key suite then builds large object hash maps whose
      // heap pressure taxes NEIGHBORING keys in the same JVM. No
      // surviving operator needs hash-mode object aggregation over
      // many groups (TopKPairs groups = query count; per-doc top-k is
      // the window plan — SCALING.md round 11).
      // Recursive CTEs materialize Σ-per-level rows; the walk in
      // q_recursive_cte emits n·log₂(maxKey) rows, which crosses the
      // 1M default at sf1 (found by the 10× scale bench). Keep the
      // safety valve but size it for data-proportional recursion.
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as Long nanos and convert in EventOps (exact —
      // going through double would lose precision above 2^53 ns).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // us-precision testdata carries no timezone flag; without this,
      // Spark 4 infers TIMESTAMP_NTZ, which unix_micros rejects. Read
      // as TIMESTAMP (session tz pinned to UTC above), matching the
      // DuckDB oracle's epoch_us(CAST(ts AS TIMESTAMP)).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // spark.sql.files.maxPartitionBytes stays at Spark's 128 MB
      // default: a global 16 MB split (round 13) taxed scan-bound keys,
      // and Spark's minPartitionNum fallback already caps the split at
      // totalBytes/cores, so fact scans land cores-wide. Stages that
      // need a wider exchange than the scan gives repartition
      // explicitly (graft.Sizing).
      .config("spark.driver.host", "127.0.0.1")
      // custom planner strategy (native as-of join) + SQL functions
      .config("spark.sql.extensions", "graft.GraftExtensions")
  }

  /** The `local[n]` width every graft main runs at:
    * `SPARK_GRAFT_CPUS`, default 4.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cores: String = cpus): SparkSession = {
    val s = configure(SparkSession.builder(), cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
