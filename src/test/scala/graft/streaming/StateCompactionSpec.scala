package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StateCompaction.Changelog

/** Crash-window pins for [[StateCompaction]] — the round-14 ADVICE
  * scenarios, each constructed literally on disk and recovered through
  * the public API. The changelog under test is the [[GroupStream]]
  * min-root shape (the simplest subsumption-sound reduce); every
  * window asserts the same invariant: after recovery, min(root) per
  * doc over the table equals the uncompacted union's, and no tmp or
  * marker survives. The last two tests pin [[StateCompaction.writeBatch]],
  * the concurrent commit of one batch's writes.
  */
class StateCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("root", LongType)))
  private def reduce(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("doc_id").agg(min("root").as("root"))

  /** Runs `body` on a temp table of three batch dirs whose min-root
    * union is `expected`, then deletes it.
    */
  private def withFreshTable[A](body: (String, Map[Long, Long]) => A): A =
    withTempDir("state_compact_") { dir =>
      val table = s"$dir/roots"
      Seq(Seq((1L, 1L), (2L, 2L), (3L, 3L)),           // batch 0: nodes land
          Seq((2L, 1L), (3L, 2L)),                     // batch 1: merges lower roots
          Seq((3L, 1L), (4L, 4L)))                     // batch 2 (newest)
        .zipWithIndex.foreach { case (rows, id) =>
          rows.toDF("doc_id", "root").write.mode("overwrite")
            .parquet(s"$table/batch_id=$id")
        }
      body(table, Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    }

  private def currentState(table: String): Map[Long, Long] =
    reduce(spark.read.schema(schema.add(StructField("batch_id", LongType)))
        .parquet(table).select("doc_id", "root"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Replicate compact's on-disk steps up to (not including) the final
    * rename: committed tmp with `_TARGET`, marker up, subsumed dirs
    * deleted — the exact crash window the round-14 ADVICE flagged.
    */
  private def simulateCrashBeforeRename(table: String): Unit = {
    val tmp = s"${table}_compact_tmp"
    reduce(spark.read.schema(schema.add(StructField("batch_id", LongType)))
        .parquet(table).filter(col("batch_id") < 2).select("doc_id", "root"))
      .write.mode("overwrite").parquet(tmp)
    val out = fs.create(new Path(tmp, "_TARGET"), true)
    out.write("1".getBytes("UTF-8")); out.close()
    fs.create(new Path(s"${table}_compact_inprogress"), true).close()
    fs.delete(new Path(table, "batch_id=0"), true)
    fs.delete(new Path(table, "batch_id=1"), true)
  }

  test("crash between deletes and rename: marker fences every read, recovery finishes from the recorded target") {
    withFreshTable { (table, expected) =>
      simulateCrashBeforeRename(table)
      // the fence: reading now would see only batch 2 — fail loudly instead
      val e = intercept[IllegalStateException](
        StateCompaction.assertReadable(spark, table))
      assert(e.getMessage.contains("unfinished compaction"))
      // recovery is the first step of any compact call
      StateCompaction.compactTable(spark, table, schema, reduce)
      StateCompaction.assertReadable(spark, table)
      assert(currentState(table) == expected)
      assert(!fs.exists(new Path(s"${table}_compact_tmp")))
      assert(!fs.exists(new Path(s"${table}_compact_inprogress")))
    }
  }

  test("crash after commit before marker, later batches landed: recovery targets the RECORDED id, not current max-1") {
    withFreshTable { (table, expected) =>
      // committed tmp over batches <2, target recorded as 1, but the
      // crash hit before the marker/deletes — the stream restarted and
      // two MORE batches landed, so current max-1 (=3) is the WRONG
      // target; only the recorded id is sound
      val tmp = s"${table}_compact_tmp"
      reduce(spark.read.schema(schema.add(StructField("batch_id", LongType)))
          .parquet(table).filter(col("batch_id") < 2).select("doc_id", "root"))
        .write.mode("overwrite").parquet(tmp)
      val out = fs.create(new Path(tmp, "_TARGET"), true)
      out.write("1".getBytes("UTF-8")); out.close()
      Seq((4L, 1L)).toDF("doc_id", "root").write.parquet(s"$table/batch_id=3")
      Seq((5L, 5L)).toDF("doc_id", "root").write.parquet(s"$table/batch_id=4")
      val expected2 = expected + (4L -> 1L) + (5L -> 5L)
      StateCompaction.compactTable(spark, table, schema, reduce)
      assert(currentState(table) == expected2)
      assert(!fs.exists(new Path(s"${table}_compact_tmp")))
      assert(!fs.exists(new Path(s"${table}_compact_inprogress")))
    }
  }

  test("marker without a committed tmp (crash after rename, before marker removal) self-heals on the read face; uncommitted tmp is discarded") {
    withFreshTable { (table, expected) =>
      fs.create(new Path(s"${table}_compact_inprogress"), true).close()
      // marker-without-tmp means the rename FINISHED — the table is
      // whole, so the read face clears the orphan marker itself instead
      // of halting a healthy stream (round-15 ADVICE)
      StateCompaction.assertReadable(spark, table)
      assert(!fs.exists(new Path(s"${table}_compact_inprogress")))
      assert(currentState(table) == expected)
      // an uncommitted tmp (no _TARGET) from a crash mid-write DOES
      // fence reads (state genuinely mid-compaction), and compact
      // discards it
      fs.mkdirs(new Path(s"${table}_compact_tmp/partial"))
      fs.create(new Path(s"${table}_compact_inprogress"), true).close()
      intercept[IllegalStateException](
        StateCompaction.assertReadable(spark, table))
      StateCompaction.compactTable(spark, table, schema, reduce)
      StateCompaction.assertReadable(spark, table)
      assert(currentState(table) == expected)
      assert(!fs.exists(new Path(s"${table}_compact_tmp")))
    }
  }

  test("unparsable _TARGET next to _SUCCESS is demoted to uncommitted garbage, never a stuck loop") {
    withFreshTable { (table, expected) =>
      // cannot arise from the protocol itself post-round-16 (the commit
      // point is rename-published), so this simulates external
      // corruption: data-complete tmp, garbage commit record
      val tmp = s"${table}_compact_tmp"
      reduce(spark.read.schema(schema.add(StructField("batch_id", LongType)))
          .parquet(table).filter(col("batch_id") < 2).select("doc_id", "root"))
        .write.mode("overwrite").parquet(tmp)
      val out = fs.create(new Path(tmp, "_TARGET"), true)
      out.write("not-a-long".getBytes("UTF-8")); out.close()
      // recovery must DISCARD the tmp (no trustworthy target) and leave
      // the untouched table compactable — not throw forever
      StateCompaction.compactTable(spark, table, schema, reduce)
      StateCompaction.assertReadable(spark, table)
      assert(currentState(table) == expected)
      assert(!fs.exists(new Path(s"${table}_compact_tmp")))
      assert(!fs.exists(new Path(s"${table}_compact_inprogress")))
    }
  }

  test("recoverTable finishes a crashed attempt without starting a new compaction") {
    withFreshTable { (table, expected) =>
      simulateCrashBeforeRename(table)
      StateCompaction.recoverTable(spark, table)
      StateCompaction.assertReadable(spark, table)
      assert(currentState(table) == expected)
      assert(!fs.exists(new Path(s"${table}_compact_tmp")))
      assert(!fs.exists(new Path(s"${table}_compact_inprogress")))
      // recovery left baseline(=1) + newest(=2): exactly 2 dirs — proof
      // it did NOT run a fresh compaction on top
      val dirs = fs.listStatus(new Path(table)).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).sorted.toSeq
      assert(dirs == Seq("batch_id=1", "batch_id=2"), dirs.toString)
      // no-op on a table with nothing to heal
      StateCompaction.recoverTable(spark, table)
      assert(currentState(table) == expected)
    }
  }

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  /** Three writes of 200k ids, to changelogs under `dir`. */
  private def goodWrites(dir: String) = {
    val rows = spark.range(0, 200000, 1, 8).toDF("id")
    Seq("a", "b", "c").map(n => Changelog(s"$dir/$n", idSchema) -> rows)
  }

  test("writeBatch waits for every write, then throws the failed write's error") {
    withTempDir("write_batch_") { dir =>
      // a regular file where the table dir must go: this write fails
      // in job setup, before the others can finish
      val bad = Changelog(s"$dir/bad", idSchema)
      fs.create(new Path(bad.path), true).close()
      val good = goodWrites(dir)
      val e = intercept[Exception](
        StateCompaction.writeBatch(0L, (bad -> spark.range(1).toDF("id")) +: good: _*))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(s"$dir/bad")), e.toString)
      good.foreach { case (t, _) =>
        assert(fs.exists(new Path(t.path, "batch_id=0/_SUCCESS")), t.path) }
      assert(!Thread.getAllStackTraces.keySet.asScala
        .exists(t => t.getName.startsWith("changelog-write-") && t.isAlive))
    }
  }

  test("writeBatch's jobs carry the calling thread's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try withTempDir("write_batch_group_") { dir =>
      sc.setJobGroup("write-batch-spec", "writeBatch", interruptOnCancel = true)
      try StateCompaction.writeBatch(0L, goodWrites(dir): _*)
      finally sc.clearJobGroup()
      // the bus delivers events in order: once a later job's start
      // arrives, every write job's start has arrived before it
      sc.setJobGroup("write-batch-spec-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("write-batch-spec-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val writeJobs = groups.asScala.toSeq.takeWhile(_ != "write-batch-spec-marker")
      assert(writeJobs.size >= 3, writeJobs.toString)
      assert(writeJobs.forall(_ == "write-batch-spec"), writeJobs.toString)
    } finally sc.removeSparkListener(listener)
  }
}
