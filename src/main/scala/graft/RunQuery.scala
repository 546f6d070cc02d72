package graft

/** Debug main: run one named SparkEntry query `reps` times and print
  * each rep's wall time (rep drift exposes JVM-state leaks).
  * `runMain graft.RunQuery <name> [sfDir] [reps]`
  *
  * ACTION PARITY: the action is the same noop-sink write Bench times.
  * A `count()` lets the optimizer DELETE the final presentation sort
  * and every column the count doesn't need (`EliminateSorts` +
  * pruning through the last aggregate), which round 12 measured as a
  * 30× blind spot: ev_interval_join "reproduced" at 1.2 s under
  * count() while the bench's noop write of the same query ran 36 s
  * (the range sort's sampling pass re-executing the window
  * pipeline). Adjudicating a bench number with a count() is
  * comparing different plans.
  *
  * Heap sizing (`SPARK_DRIVER_MEM`, default 8 g — in local mode the
  * driver IS the executor): the 8 g default covers the verify (sf0.01)
  * and bench (sf0.1) gates and, post-round-11, every individually
  * measured sf10 key. On a 4-core, 15 GB box every suite runs at 12 g
  * or less (ROADMAP item 3); the 24-48 g table in SCALING.md
  * "Round-11 memory contract" was measured on a larger host.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.local()
    val fn = SparkEntry.queries(name)
    // SPARK_GRAFT_RUNQUERY_EXPLAIN=1: dump the formatted physical plan
    // once before the timed reps (plan inspection without a spec)
    if (sys.env.get("SPARK_GRAFT_RUNQUERY_EXPLAIN").contains("1"))
      fn(spark, sfDir).explain("formatted")
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[runquery] $name rep=$r time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
