package graft

import org.apache.spark.sql.DataFrame

/** The one width policy for every explicit-width exchange
  * (`repartition(Sizing.width(input), cols…)`) in the operators and
  * queries.
  *
  * Why explicit widths at all: AQE coalesces shuffle partitions by
  * BYTES, so an exchange whose rows are byte-small but CPU-heavy
  * downstream (digest rows feeding a hash aggregate, a self-join's
  * per-partition build map) collapses onto a few tasks and runs
  * near-serial. A user `repartition(n, …)` is exempt from that
  * coalescing.
  *
  * The rule: `w × clamp(⌊B / (w MiB)⌋, 1, maxScale)`, with `w` the
  * session's `spark.sql.shuffle.partitions` and `B` the optimizer's
  * size estimate of `input`. With the default `maxScale = 1` the width
  * is `w`. A site that passes a larger `maxScale` keeps `w` below
  * 2w MiB, steps up by `w` per `w` MiB, and stops at `maxScale × w`:
  * an exchange-free aggregate or `SHUFFLE_HASH` build holds one hash
  * map per running task, so more partitions keep each map bounded as
  * the corpus grows. Raise a site's `maxScale` only with a measurement
  * at the scale where the width moves: with few cores, a wider
  * exchange adds scheduling, not parallelism.
  *
  * Pass the operator's INPUT table (the `documents` or `lineitem`
  * scan), never an intermediate frame: size estimates after a join or
  * a `Generate` are guesses, while a scan's estimate is its file
  * bytes.
  */
object Sizing {

  def width(input: DataFrame, maxScale: Int = 1): Int = {
    val w = input.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = input.queryExecution.optimizedPlan.stats.sizeInBytes
    w * (bytes / (BigInt(w) << 20)).max(1).min(maxScale).toInt
  }
}
