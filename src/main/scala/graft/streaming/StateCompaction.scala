package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** The changelog format of the parquet-sink streams ([[CurateStream]],
  * [[GroupStream]]) and its compaction. A changelog table
  * ([[Changelog]]) is one `<table>/batch_id=<id>` dir per micro-batch,
  * each written idempotently (a replayed batch overwrites its own dir);
  * a batch reads state from `batch_id < id`. [[sinkStream]] runs a
  * stream's micro-batches with the durable checkpoint and the
  * batch → compact cadence; [[writeBatch]] commits one batch's writes
  * to several changelogs concurrently.
  *
  * Compaction is snapshot, then collect. Every batch dir strictly below
  * the newest (`maxId`) is reduced into a new snapshot dir
  * `<table>_baseline/upto=<K>`, `K = maxId - 1`; parquet's own
  * `_SUCCESS` in that dir is the commit. Only then are the subsumed
  * dirs (batch ids `<= K`) and every other baseline dir deleted. A read
  * takes the newest committed baseline and the batch dirs above its
  * `K`, so a crash at any step leaves either the old state or the new
  * one, never a mix, and the next compaction collects what was left.
  * The newest batch dir is never touched: it is the only batch
  * Structured Streaming can replay (foreachBatch commits lag the sink
  * write), and its replay reads `batch_id < maxId`, which is exactly
  * the baseline. Run compaction while the stream is stopped or between
  * micro-batches, with no concurrent compaction of the same table.
  */
object StateCompaction {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val batchPrefix = "batch_id="
  private def batchDir(table: Path, id: Long) = new Path(table, s"$batchPrefix$id")

  private val baselinePrefix = "upto="
  private def baselineRoot(table: Path) =
    new Path(table.getParent, table.getName + "_baseline")
  private def baselineDir(table: Path, k: Long) =
    new Path(baselineRoot(table), s"$baselinePrefix$k")

  /** The ids of the `<prefix><id>` dirs under `dir` (none if absent). */
  private def idsUnder(fs: FileSystem, dir: Path, prefix: String): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) => n.drop(prefix.length).toLong }

  /** The `K` of the newest baseline whose `_SUCCESS` is present. */
  private def committedBaseline(fs: FileSystem, table: Path): Option[Long] =
    idsUnder(fs, baselineRoot(table), baselinePrefix).sorted.reverse
      .find(k => fs.exists(new Path(baselineDir(table, k), "_SUCCESS")))

  /** [[Changelog.batchIds]] of `table`. */
  private def liveIds(fs: FileSystem, table: Path): Seq[Long] = {
    val k = committedBaseline(fs, table)
    k.toSeq ++ idsUnder(fs, table, batchPrefix).filter(id => k.forall(id > _)).sorted
  }

  /** One changelog table, declared once by the stream that owns it:
    * its path, the row schema every face reads it as, and — for a
    * state table — the `reduce` that [[compactTable]] collapses old
    * batches through (which must be subsumption-sound). A table with
    * no `reduce` (a sink's data table) is never compacted.
    */
  final case class Changelog(path: String, schema: StructType,
                             reduce: Option[DataFrame => DataFrame] = None) {
    /** Rows of batches strictly below `beforeBatch` ([[readTable]]). */
    def read(spark: SparkSession, beforeBatch: Long = Long.MaxValue): DataFrame =
      readTable(spark, path, schema, beforeBatch)

    /** Batch `batchId`'s rows, written with `overwrite` to the batch's
      * own dir, so a replayed batch replaces its output instead of
      * duplicating it.
      */
    def write(rows: DataFrame, batchId: Long): Unit =
      rows.write.mode("overwrite").parquet(batchDir(new Path(path), batchId).toString)

    /** The batches a read sees, ascending: the committed baseline's
      * `K`, if any, then the ids of the batch dirs above it.
      */
    def batchIds(spark: SparkSession): Seq[Long] = {
      val table = new Path(path)
      liveIds(fsOf(spark, table), table)
    }

    def compact(spark: SparkSession): Unit =
      compactTable(spark, path, schema, reduce.getOrElse(
        throw new IllegalStateException(s"changelog $path has no compaction reduce")))
  }

  /** Commit one micro-batch: each `(table, rows)` is written as
    * `table.write(rows, batchId)` on its own thread, so the writes'
    * Spark jobs run at once instead of one after another. The threads
    * are made for this one call, on the calling thread, so they inherit
    * its Spark local properties: the stream's job group (which
    * `StreamingQuery.stop()` cancels) and the SQL execution context.
    *
    * Returns only once EVERY write has ended, failed or not: a write
    * still running after `foreachBatch` returned or threw could race a
    * replay's overwrite of the same `batch_id` dir. Then it rethrows
    * the first failed write's error (in `writes` order) with the other
    * failures suppressed; an interrupt of the caller while it waits
    * is rethrown as an `InterruptedException` once the writes end.
    */
  def writeBatch(batchId: Long, writes: (Changelog, DataFrame)*): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case ((table, rows), i) =>
      new Thread(() =>
        try table.write(rows, batchId)
        catch { case t: Throwable => failures(i) = t },
        s"changelog-write-$batchId-${new Path(table.path).getName}")
    }
    var interrupted = false
    try threads.foreach(_.start())
    finally threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    val failed = Option.when(interrupted)(new InterruptedException(
      s"interrupted while batch $batchId's changelog writes ran")).toSeq ++
      failures.filter(_ != null)
    failed.headOption.foreach { first =>
      failed.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Start `input`'s sink stream into `outDir`: `batch` runs each
    * micro-batch, and with `compactEvery > 0` every `compactEvery`-th
    * batch compacts the `state` changelogs.
    */
  def sinkStream(input: DataFrame, outDir: String, state: Seq[Changelog],
                 compactEvery: Int)(batch: (Dataset[Row], Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append())
      // DURABLE checkpoint, co-located with the sink: with a temp
      // checkpoint a restarted stream resets batchId to 0, so the state
      // reads' batch_id < batchId prune hides ALL prior state
      // (duplicates re-admitted) and batch 0's dirs are overwritten
      // (silent loss). The per-batch idempotent-overwrite contract only
      // gives exactly-once when batch ids are durable across restarts.
      .option("checkpointLocation", s"$outDir/_checkpoint")
      // compactEvery > 0 opts into CADENCED state compaction — without
      // it a 100 TB ingest accumulates one changelog dir per
      // micro-batch until an operator runs the owner's compact() by
      // hand. The compaction runs INSIDE foreachBatch, between
      // micro-batches, after the batch's own writes: the just-written
      // dir is the untouched newest, so a replay of THIS batch still
      // reads `batch_id < batchId` — the compacted baseline.
      .foreachBatch { (rows: Dataset[Row], batchId: Long) =>
        batch(rows, batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          state.foreach(_.compact(rows.sparkSession))
      }
      .start()

  /** The one read face of a `batch_id=<id>` changelog: its rows as
    * `schema`, from batches strictly below `beforeBatch` (all batches
    * by default). A streaming batch reads state as of its own START —
    * a replayed or restarted batch must not read its own (or a later
    * failed attempt's) earlier write, or its docs self-collide and the
    * replay emits an empty survivor set instead of an identical one.
    * `batch_id` is the partition column, so the filter prunes dirs.
    *
    * A compacted table reads its newest committed baseline `K` and the
    * batch dirs with `K < batch_id < beforeBatch`; subsumed dirs a
    * crash left behind are skipped. `beforeBatch <= K` cannot be
    * answered (those batches exist only inside the baseline) and
    * throws.
    *
    * "No table yet" (before the first micro-batch commits) is decided
    * by an explicit existence check and gives an empty `schema` frame.
    * It is NOT decided by catching AnalysisException: a catch-all
    * there would turn schema drift or a corrupted table into a
    * silently-empty frame — dedup disabled, duplicates admitted, no
    * error anywhere. Any other analysis error propagates.
    */
  private[streaming] def readTable(spark: SparkSession, tablePath: String,
                                   schema: StructType,
                                   beforeBatch: Long = Long.MaxValue): DataFrame = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val baseline = committedBaseline(fs, table)
    if (baseline.exists(_ >= beforeBatch))
      throw new IllegalStateException(s"changelog $tablePath is compacted " +
        s"through batch ${baseline.get}, so its state before batch " +
        s"$beforeBatch can no longer be read")
    val before = col("batch_id") < beforeBatch
    val batches =
      if (!fs.exists(table))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else
        spark.read.schema(schema.add(StructField("batch_id", LongType)))
          .parquet(tablePath)
          .filter(baseline.fold(before)(k => col("batch_id") > k && before))
          .select(schema.fieldNames.map(col).toSeq: _*)
    baseline.fold(batches)(k =>
      spark.read.schema(schema).parquet(baselineDir(table, k).toString)
        .unionByName(batches))
  }

  /** Compact `tablePath`'s batches below the newest into one baseline
    * snapshot via `reduce` (which must be subsumption-sound:
    * `reduce(union of dirs)` read together with any later dirs yields
    * state identical to the uncompacted union — min/distinct/sum
    * changelogs all qualify), then collect: delete the batch dirs the
    * newest committed baseline subsumes and every other baseline dir,
    * committed or not. Writes nothing when a read sees fewer than three
    * batches (one baseline + newest: nothing to gain).
    */
  private[streaming] def compactTable(spark: SparkSession, tablePath: String,
                                      schema: StructType,
                                      reduce: DataFrame => DataFrame): Unit = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    val ids = liveIds(fs, table)
    if (ids.size > 2)
      reduce(readTable(spark, tablePath, schema, ids.max)).write.mode("overwrite")
        .parquet(baselineDir(table, ids.max - 1).toString)
    val kept = committedBaseline(fs, table)
    kept.foreach(k => idsUnder(fs, table, batchPrefix).filter(_ <= k)
      .foreach(id => fs.delete(batchDir(table, id), true)))
    idsUnder(fs, baselineRoot(table), baselinePrefix).filterNot(kept.contains)
      .foreach(id => fs.delete(baselineDir(table, id), true))
  }
}
