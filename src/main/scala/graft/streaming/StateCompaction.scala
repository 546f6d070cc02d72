package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** The changelog format of the parquet-sink streams ([[CurateStream]],
  * [[GroupStream]]) and its crash-safe compaction. A changelog table
  * ([[Changelog]]) is one `<table>/batch_id=<id>` dir per micro-batch,
  * each written idempotently (a replayed batch overwrites its own dir);
  * a batch reads state from `batch_id < id`. [[sinkStream]] runs a
  * stream's micro-batches with the durable checkpoint and the
  * recover → batch → compact cadence; [[writeBatch]] commits one
  * batch's writes to several changelogs concurrently.
  *
  * Compaction: every batch dir STRICTLY
  * BELOW the newest collapses — through a caller-supplied `reduce` —
  * into a single baseline dir `batch_id=<maxId-1>`. The newest dir is
  * NEVER touched: it is the only batch Structured Streaming can replay
  * after a crash (foreachBatch commits lag the sink write), and its
  * replay reads `batch_id < maxId` — exactly the compacted baseline.
  *
  * Commit protocol (the round-14 ADVICE hardening — the old shape
  * derived its recovery target from the CURRENT max batch id, so a
  * crash between the deletes and the rename followed by a stream
  * restart could strand or silently discard the committed baseline):
  *
  *   1. write the reduced baseline to `<table>_compact_tmp` (parquet's
  *      own `_SUCCESS` marks the data complete);
  *   2. record the intended target id in `<tmp>/_TARGET` — THE commit
  *      point, published by atomic rename from a side file so it
  *      exists complete or not at all. Recovery finishes the rename
  *      from this record no matter which batch ids exist later;
  *   3. create `<table>_compact_inprogress` — from here until step 5,
  *      every state read/write face ([[assertReadable]]) fails loudly
  *      instead of reading a half-deleted changelog;
  *   4. delete the subsumed dirs (`batch_id < maxId`);
  *   5. rename tmp → `batch_id=<maxId-1>` — CHECKED: a false return
  *      (permissions, cross-filesystem, dst race) throws with the
  *      committed tmp preserved, never a silent baseline loss;
  *   6. remove the marker.
  *
  * Recovery (run first by every [[compactTable]] call) is driven by
  * the recorded target, not the directory listing: a committed tmp
  * (`_SUCCESS` ∧ `_TARGET`) subsumes EVERY dir with `batch_id <=
  * target` — reduce ran over exactly those ids — so recovery deletes
  * any of them still present, finishes the rename, and clears the
  * marker. Batches that landed after a crash-before-marker window
  * (ids > target) are untouched. A marker WITHOUT a committed tmp
  * means the rename itself completed (rename moves tmp away) and the
  * crash hit before marker removal — the table is whole; just clear
  * the marker. An uncommitted tmp with no `_TARGET` is garbage from a
  * crash mid-write; delete it.
  *
  * Concurrency contract: run compaction while the stream is stopped or
  * between micro-batches, with NO concurrent readers — a read landing
  * in the delete-to-rename window would see only the newest dir, and
  * the marker turns that silent wrong answer into an exception.
  */
object StateCompaction {

  private def tmpDir(table: Path) =
    new Path(table.getParent, table.getName + "_compact_tmp")
  private def markerPath(table: Path) =
    new Path(table.getParent, table.getName + "_compact_inprogress")
  private def targetFile(tmp: Path) = new Path(tmp, "_TARGET")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val batchPrefix = "batch_id="
  private def batchDir(table: Path, id: Long) = new Path(table, s"$batchPrefix$id")

  private def batchIds(fs: FileSystem, table: Path): Seq[Long] =
    if (!fs.exists(table)) Seq.empty
    else fs.listStatus(table).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(batchPrefix) =>
        n.drop(batchPrefix.length).toLong }

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

    /** The ids of the batch dirs present. */
    def batchIds(spark: SparkSession): Seq[Long] = {
      val table = new Path(path)
      StateCompaction.batchIds(fsOf(spark, table), table)
    }

    def recover(spark: SparkSession): Unit = recoverTable(spark, path)

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
      // hand. Both hooks run INSIDE foreachBatch, i.e. between
      // micro-batches with no concurrent readers — exactly
      // compaction's documented window: recovery first (a crash inside
      // a previous in-batch compaction replays this batch, and
      // recovery must land before the state reads), the compaction
      // itself after the batch's own writes, so the just-written dir is
      // the untouched newest and a replay of THIS batch still reads
      // `batch_id < batchId` — the compacted baseline.
      .foreachBatch { (rows: Dataset[Row], batchId: Long) =>
        val spark = rows.sparkSession
        if (compactEvery > 0) state.foreach(_.recover(spark))
        batch(rows, batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          state.foreach(_.compact(spark))
      }
      .start()

  /** `_TARGET` is THE commit point, so its own write must be atomic:
    * a crash mid-`create+write` would otherwise leave `_SUCCESS` next
    * to an empty/truncated `_TARGET`, and recovery would either throw
    * forever (compaction permanently stuck) or — worse, for a
    * truncated-but-parseable id — mis-target the rename and leave
    * subsumed dirs alive to double-count sum-semantics tables. Write
    * the id to a side file and rename it into place; rename is atomic
    * on local FS and HDFS, so `_TARGET` either exists complete or not
    * at all. [[readTargetOpt]] still validates the parse defensively
    * (a None demotes the tmp to uncommitted garbage in [[recover]]).
    */
  private def writeTarget(fs: FileSystem, tmp: Path, id: Long): Unit = {
    val side = new Path(tmp, "_TARGET.tmp")
    val out = fs.create(side, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(side, targetFile(tmp)))
      throw new java.io.IOException(
        s"compaction commit-point rename failed: $side -> ${targetFile(tmp)}")
  }

  private def readTargetOpt(fs: FileSystem, tmp: Path): Option[Long] =
    try {
      val in = fs.open(targetFile(tmp))
      val raw =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      raw.toLongOption
    } catch { case _: java.io.IOException => None }

  /** Fail loudly if `tablePath` has an unfinished compaction: between
    * the marker and the final rename the changelog is missing every
    * pre-compaction dir, so any read would return silently-wrong state
    * (and any batch built on it would persist the corruption). Every
    * state read face calls this before touching the table.
    */
  def assertReadable(spark: SparkSession, tablePath: String): Unit = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    if (fs.exists(markerPath(table))) {
      // Marker WITHOUT a tmp dir means the final rename completed and
      // the crash hit in the one-step window before marker removal —
      // the table is whole (the same safe case recover() handles).
      // Clear it here so a healthy table never halts its stream
      // waiting for an operator to run compact() manually; any state
      // with tmp still present is genuinely unfinished and throws.
      if (!fs.exists(tmpDir(table))) {
        fs.delete(markerPath(table), false)
        return
      }
      throw new IllegalStateException(
        s"state table $tablePath has an unfinished compaction " +
          "(in-progress marker present); run the owning compact() to " +
          "recover before any state read or write")
    }
  }

  /** The one read face of a `batch_id=<id>` changelog: its rows as
    * `schema`, from batches strictly below `beforeBatch` (all batches
    * by default). A streaming batch reads state as of its own START —
    * a replayed or restarted batch must not read its own (or a later
    * failed attempt's) earlier write, or its docs self-collide and the
    * replay emits an empty survivor set instead of an identical one.
    * `batch_id` is the partition column, so the filter prunes dirs.
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
    assertReadable(spark, tablePath)
    val table = new Path(tablePath)
    if (!fsOf(spark, table).exists(table))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema.add(StructField("batch_id", LongType)))
        .parquet(tablePath)
        .filter(col("batch_id") < beforeBatch)
        .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Recovery-only entry: finish or discard a prior crashed compaction
    * of `tablePath` without starting a new one. [[sinkStream]] with
    * `compactEvery > 0` calls this at the top of every micro-batch, so a crash inside an
    * in-batch compaction heals automatically when the batch replays —
    * the stream never halts on [[assertReadable]] waiting for an
    * operator to run compact() by hand. Same concurrency contract as
    * [[compactTable]] (it runs inside foreachBatch, i.e. between
    * micro-batches with no concurrent readers).
    */
  private[streaming] def recoverTable(spark: SparkSession, tablePath: String): Unit = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    if (fs.exists(table) || fs.exists(tmpDir(table)) || fs.exists(markerPath(table)))
      recover(fs, table)
  }

  /** Compact `tablePath`'s `batch_id=<id>` dirs below the newest into
    * one baseline dir via `reduce` (which must be subsumption-sound:
    * `reduce(union of dirs)` read together with any later dirs yields
    * state identical to the uncompacted union — min/distinct/sum
    * changelogs all qualify). No-op when the table is absent or has
    * fewer than three dirs (one baseline + newest: nothing to gain).
    */
  private[streaming] def compactTable(spark: SparkSession, tablePath: String,
                                      schema: StructType,
                                      reduce: DataFrame => DataFrame): Unit = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    if (!fs.exists(table) && !fs.exists(tmpDir(table)) &&
        !fs.exists(markerPath(table))) return
    recover(fs, table)
    val ids = batchIds(fs, table)
    if (ids.size <= 2) return
    val maxId = ids.max
    val tmp = tmpDir(table)
    val baseline = reduce(readTable(spark, tablePath, schema, maxId))
    baseline.write.mode("overwrite").parquet(tmp.toString)
    writeTarget(fs, tmp, maxId - 1) // commit point
    fs.create(markerPath(table), true).close()
    ids.filter(_ < maxId).foreach(id => fs.delete(batchDir(table, id), true))
    val dst = batchDir(table, maxId - 1)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"compaction rename failed: $tmp -> $dst (committed baseline " +
          "preserved in tmp; rerun compact to recover)")
    fs.delete(markerPath(table), false)
    ()
  }

  /** Finish or discard a prior compaction attempt — see object
    * scaladoc for the case analysis. Idempotent; called first by every
    * [[compactTable]].
    */
  private def recover(fs: FileSystem, table: Path): Unit = {
    val tmp = tmpDir(table)
    val mark = markerPath(table)
    // committed = data complete (_SUCCESS) AND commit point present
    // AND parseable. _TARGET is rename-published so a present-but-
    // unparsable one cannot come from this protocol — treat it as
    // uncommitted garbage (delete tmp) rather than throwing forever.
    val targetOpt =
      if (fs.exists(new Path(tmp, "_SUCCESS"))) readTargetOpt(fs, tmp)
      else None
    if (targetOpt.isDefined) {
      val target = targetOpt.get
      batchIds(fs, table).filter(_ <= target).foreach(id => fs.delete(batchDir(table, id), true))
      val dst = batchDir(table, target)
      if (!fs.exists(table)) fs.mkdirs(table) // rename needs the parent
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(
          s"compaction recovery rename failed: $tmp -> $dst " +
            "(committed baseline preserved in tmp)")
      if (fs.exists(mark)) fs.delete(mark, false)
    } else {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(mark)) fs.delete(mark, false)
    }
    ()
  }
}
