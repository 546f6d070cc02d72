package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The LSH candidate-pair rule every banded near-dup operator shares:
  * cap each bucket, self-join on the bucket key, orient pairs
  * `a < b`, score and filter, then dedup the pairs. The SimHash
  * operators, batch and streaming, also share one banding rule
  * ([[pigeonholeBands]]). Callers keep what is their own: the MinHash
  * banding, the score and its threshold, the output names and types,
  * and the final sort.
  *
  * Why a cap, and why the lowest ids: a bucket of n rows costs n²
  * candidate pairs, so one template-spam or near-uniform bucket is
  * the scale-killer of a 100 TB dedup. Keeping the `maxBucket` lowest
  * ids per bucket bounds the join at Σ min(bucket, cap)², is
  * deterministic across runs and partitionings (the DuckDB oracle
  * CTEs spell out the same `row_number` rule), and loses recall only
  * inside over-full buckets — the standard LSH degradation.
  *
  * Why score before dedup: a pair that shares several buckets gets
  * the same score in every copy, so scoring and filtering first lets
  * the dedup shuffle carry 3 scalars instead of two signature arrays.
  */
private[graft] object Lsh {

  /** Pigeonhole banding of a `width`-bit fingerprint `fp` (a long)
    * for Hamming distance ≤ `maxDist`: `maxDist + 1` disjoint bands of
    * `width / (maxDist + 1)` bits each, band `i` starting at bit
    * `i × bandBits`, as `array(struct(band_idx, band_bits))`. A pair
    * within `maxDist` bits differs in at most `maxDist` bands, so it
    * agrees on at least one and meets in that (band_idx, band_bits)
    * bucket.
    */
  def pigeonholeBands(fp: Column, width: Int, maxDist: Int): Column = {
    val bandBits = width / (maxDist + 1)
    // a shift by 64 is a shift by 0 on the JVM, so one 64-bit band
    // needs its mask spelled out
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    array((0 to maxDist).map { bIdx =>
      struct(lit(bIdx).as("band_idx"),
        shiftrightunsigned(fp, bIdx * bandBits).bitwiseAND(lit(mask)).as("band_bits"))
    }: _*)
  }

  /** `rows` with each `bucket` group cut to its `maxBucket` lowest `id`s. */
  def capBuckets(rows: DataFrame, bucket: Seq[String], id: String,
                 maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(bucket.map(col): _*).orderBy(id)
    rows.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxBucket)
      .drop("_rn")
  }

  /** Scored candidate pairs from two frames of bucket rows (the
    * `bucket` columns, an id column `<p>_id` and a signature column
    * `sig`): join on the bucket, keep `<p>_a < <p>_b`, add
    * `scoreName` = `score(sig_a, sig_b)`, keep rows where
    * `keep(score)` holds, and drop duplicate id pairs. Output columns:
    * `<p>_a`, `<p>_b`, `scoreName`; unsorted. A self-join passes the
    * same capped frame as both sides.
    */
  def bucketPairs(a: DataFrame, b: DataFrame, bucket: Seq[String], id: String,
                  sig: String, scoreName: String, score: (Column, Column) => Column,
                  keep: Column => Column): DataFrame = {
    val p = id.stripSuffix("_id")
    val (idA, idB) = (s"${p}_a", s"${p}_b")
    def side(f: DataFrame, idOut: String, sigOut: String) =
      f.select(bucket.map(col) :+ col(id).as(idOut) :+ col(sig).as(sigOut): _*)
    side(a, idA, "sig_a").join(side(b, idB, "sig_b"), bucket)
      .filter(col(idA) < col(idB))
      .withColumn(scoreName, score(col("sig_a"), col("sig_b")))
      .filter(keep(col(scoreName)))
      .select(idA, idB, scoreName)
      .dropDuplicates(idA, idB)
  }

  /** MinHash Jaccard estimate: the share of the `numHashes` positions
    * where two signatures agree, rounded to 6 places.
    */
  def agreement(sigA: Column, sigB: Column, numHashes: Int): Column =
    round(size(filter(zip_with(sigA, sigB, (x, y) => x === y), bEq => bEq))
      .cast("double") / numHashes, 6)
}
