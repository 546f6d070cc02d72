package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StateCompaction.Changelog
import graft.streaming.StateCompactionSpec.batchDirsOnDisk

/** Crash-model pins for [[StateCompaction]]'s snapshot-then-collect
  * compaction. Each test builds on disk a state a crash can leave: a
  * baseline snapshot without `_SUCCESS`, or a committed one beside all
  * or some of the batch dirs it subsumes. The changelog under test sums
  * per key, shaped like [[CurateStream]]'s `manifestDelta`, so a batch
  * read twice or lost shows as a wrong sum. The last two tests pin
  * [[StateCompaction.writeBatch]], the concurrent commit of one
  * batch's writes.
  */
class StateCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("shard_id", LongType),
    StructField("n_docs", LongType), StructField("n_chars", LongType)))
  private def reduce(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("shard_id").agg(sum("n_docs").as("n_docs"), sum("n_chars").as("n_chars"))

  /** Batch `id`'s (shard_id, n_docs, n_chars) rows: every batch touches
    * shard 0, so any double read or lost batch moves its sum.
    */
  private def rowsOf(id: Long) = Seq((0L, 1L, 10L * (id + 1)), (id + 1, 2L, id + 5))

  private def write(table: Changelog, ids: Long*): Unit =
    ids.foreach(id => table.write(rowsOf(id).toDF("shard_id", "n_docs", "n_chars"), id))

  /** The summed state of batches `ids`, computed without Spark. */
  private def expected(ids: Long*): Map[Long, (Long, Long)] =
    ids.flatMap(rowsOf).groupBy(_._1).map { case (k, rs) =>
      k -> ((rs.map(_._2).sum, rs.map(_._3).sum)) }

  private def state(table: Changelog, before: Long = Long.MaxValue) =
    reduce(table.read(spark, before)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def baselineDirs(table: Changelog): Seq[String] =
    fs.listStatus(new Path(s"${table.path}_baseline")).map(_.getPath.getName).sorted.toSeq

  /** Runs `body` on a temp sum changelog holding batches `ids`. */
  private def withTable[A](ids: Long*)(body: Changelog => A): A =
    withTempDir("state_compact_") { dir =>
      val table = Changelog(s"$dir/manifest_delta", schema, Some(reduce))
      write(table, ids: _*)
      body(table)
    }

  /** Compaction's first step alone, as a crash right after it leaves
    * it: batches `<= k` reduced into the snapshot `upto=<k>`, committed
    * by its `_SUCCESS`. With `committed = false`, the crash cut the
    * write short: the dir holds batches `< k` only, and no `_SUCCESS`.
    */
  private def snapshot(table: Changelog, k: Long, committed: Boolean = true): Unit = {
    val dir = s"${table.path}_baseline/upto=$k"
    reduce(table.read(spark, if (committed) k + 1 else k))
      .write.mode("overwrite").parquet(dir)
    if (!committed) assert(fs.delete(new Path(dir, "_SUCCESS"), false))
  }

  test("compact snapshots the batches below the newest, then collects them") {
    withTable(0, 1, 2) { table =>
      table.compact(spark)
      assert(batchDirsOnDisk(table) == Seq(2L))
      assert(baselineDirs(table) == Seq("upto=1"))
      assert(table.batchIds(spark) == Seq(1L, 2L))
      assert(state(table) == expected(0, 1, 2))
      assert(state(table, 2) == expected(0, 1))
      // one baseline and the newest: nothing to gain, nothing written
      table.compact(spark)
      assert(baselineDirs(table) == Seq("upto=1"))
      assert(state(table) == expected(0, 1, 2))
    }
  }

  test("crash before _SUCCESS: reads ignore the uncommitted baseline and the next compact removes it") {
    withTable(0, 1, 2) { table =>
      snapshot(table, 1, committed = false)
      write(table, 3)
      assert(state(table) == expected(0, 1, 2, 3))
      assert(table.batchIds(spark) == Seq(0L, 1L, 2L, 3L))
      table.compact(spark)
      assert(baselineDirs(table) == Seq("upto=2"))
      assert(batchDirsOnDisk(table) == Seq(3L))
      assert(state(table) == expected(0, 1, 2, 3))
    }
  }

  test("crash before collection: a committed baseline beside every dir it subsumes reads each batch once") {
    withTable(0, 1, 2) { table =>
      snapshot(table, 1)
      assert(batchDirsOnDisk(table) == Seq(0L, 1L, 2L))
      assert(state(table) == expected(0, 1, 2))
      assert(state(table, 2) == expected(0, 1))
      assert(table.batchIds(spark) == Seq(1L, 2L))
    }
  }

  test("crash during collection: a committed baseline beside some of the dirs it subsumes reads each batch once") {
    withTable(0, 1, 2) { table =>
      snapshot(table, 1)
      fs.delete(new Path(table.path, "batch_id=0"), true)
      assert(state(table) == expected(0, 1, 2))
      assert(state(table, 2) == expected(0, 1))
      assert(table.batchIds(spark) == Seq(1L, 2L))
    }
  }

  test("batches written after a crash are read once, and the next compact collects the leftovers") {
    withTable(0, 1, 2) { table =>
      snapshot(table, 1)
      write(table, 3, 4)
      assert(state(table) == expected(0, 1, 2, 3, 4))
      assert(state(table, 4) == expected(0, 1, 2, 3))
      assert(table.batchIds(spark) == Seq(1L, 2L, 3L, 4L))
      table.compact(spark)
      assert(batchDirsOnDisk(table) == Seq(4L))
      assert(baselineDirs(table) == Seq("upto=3"))
      assert(table.batchIds(spark) == Seq(3L, 4L))
      assert(state(table) == expected(0, 1, 2, 3, 4))
    }
  }

  test("a read from below a committed baseline throws") {
    withTable(0, 1, 2) { table =>
      snapshot(table, 1)
      Seq(0L, 1L).foreach { before =>
        val e = intercept[IllegalStateException](table.read(spark, before))
        assert(e.getMessage.contains("compacted through batch 1"), e.getMessage)
      }
    }
  }

  test("a changelog compacted in place, its baseline a batch_id=K dir, reads and compacts as before") {
    withTempDir("state_compact_in_place_") { dir =>
      val table = Changelog(s"$dir/manifest_delta", schema, Some(reduce))
      // the in-place layout: batches 0 and 1 reduced into batch_id=1
      reduce(Seq(0L, 1L).flatMap(rowsOf).toDF("shard_id", "n_docs", "n_chars"))
        .write.parquet(s"${table.path}/batch_id=1")
      write(table, 2)
      assert(state(table) == expected(0, 1, 2))
      assert(state(table, 2) == expected(0, 1))
      assert(table.batchIds(spark) == Seq(1L, 2L))
      write(table, 3)
      table.compact(spark)
      assert(batchDirsOnDisk(table) == Seq(3L))
      assert(table.batchIds(spark) == Seq(2L, 3L))
      assert(state(table) == expected(0, 1, 2, 3))
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

object StateCompactionSpec {
  /** The ids of the `batch_id=<id>` dirs on disk in `table`, ascending:
    * after a compaction, exactly the batch ids above its baseline.
    */
  def batchDirsOnDisk(table: Changelog): Seq[Long] =
    java.nio.file.Files.list(java.nio.file.Paths.get(table.path)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=").toLong }
      .sorted
}
