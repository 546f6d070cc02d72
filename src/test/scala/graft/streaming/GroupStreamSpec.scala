package graft.streaming

import graft.{SparkSpec, Tables}
import graft.TempDirs.withTempDir
import graft.operators.Dedup
import graft.streaming.StateCompactionSpec.batchDirsOnDisk
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Replay pin for [[GroupStream]]: the sf0.001 corpus's near-dup
  * candidate pairs (the oracle-green `dedup_groups_md5` input) are
  * ingested in three micro-batches and the sink's doc→group mapping
  * must equal [[Dedup.connectedGroups]] over ALL pairs — exactly,
  * with no ordering caveat: union-find is confluent, so the pin holds
  * for ANY chunking. The spec deliberately feeds a NON-monotone
  * arrival order (pairs shuffled by md5 of the pair) to exercise
  * cross-batch merges: a component whose members span chunks must be
  * stitched by the root-remap rewrite, not by lucky ordering.
  */
class GroupStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed incremental CC equals batch connectedGroups for any arrival order") {
    implicit val sq = spark.sqlContext
    withTempDir("group_stream_") { outDir =>

      val pairsDf = Dedup.minhashNearDupsMd5(Tables.documents(spark, sf0001))
        .select("doc_a", "doc_b")
      val pairs = pairsDf
        .orderBy(md5(concat_ws(":", col("doc_a"), col("doc_b"))))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.length > 10, s"need real pairs, got ${pairs.length}")
      val chunks = pairs.grouped((pairs.length + 2) / 3).toSeq
      assert(chunks.length == 3)

      val mem = MemoryStream[(Long, Long)]
      val stream = mem.toDF().toDF("doc_a", "doc_b")
      val q = GroupStream.groupsToSink(stream, outDir)
      try {
        chunks.foreach { c =>
          mem.addData(c: _*)
          q.processAllAvailable()
        }
      } finally q.stop()

      val expected = Dedup.connectedGroups(pairsDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val got = GroupStream.sinkGroups(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected,
        s"streamed ${got.size} vs batch ${expected.size} docs; " +
          s"diff=${(got.toSet diff expected.toSet).take(5)}")
      // the corpus must actually exercise merges: some component spans
      // more than one doc (otherwise the pin is vacuous)
      assert(expected.values.toSet.size < expected.size)

      // idempotent replay: re-running the middle batch's foreachBatch
      // body overwrites its own batch_id dir — mapping unchanged
      val replay = chunks(1).toSeq.toDF("doc_a", "doc_b")
      GroupStream.groupBatch(replay, 1L, outDir)
      val afterReplay = GroupStream.sinkGroups(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(afterReplay == expected)

      // --- compaction (round-13 ADVICE: make the documented operating
      // procedure executable). Collapse all-but-newest batch dirs to the
      // min(root) baseline: mapping must be IDENTICAL, dir count must
      // shrink to baseline + newest, and the stream must keep working —
      // both a replay of the newest batch (reads state < maxId = exactly
      // the baseline) and a brand-new batch on top.
      val roots = GroupStream.roots(outDir)
      assert(roots.batchIds(spark).size == 3, roots.batchIds(spark).toString)
      GroupStream.compact(spark, outDir)
      val ids = roots.batchIds(spark)
      assert(ids.size == 2, ids.toString)
      // no dir the baseline subsumes is left in the table
      assert(batchDirsOnDisk(roots) == ids.tail, batchDirsOnDisk(roots).toString)
      val afterCompact = GroupStream.sinkGroups(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(afterCompact == expected, "compaction changed the mapping")
      // replay of the newest (only replayable) batch post-compaction
      GroupStream.groupBatch(chunks(2).toSeq.toDF("doc_a", "doc_b"), 2L, outDir)
      assert(GroupStream.sinkGroups(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == expected)
      // a new batch on top of the compacted changelog: re-sending ALL
      // pairs must change nothing (idempotent state), and a genuinely
      // new edge must merge two existing components
      GroupStream.groupBatch(pairsDf, 3L, outDir)
      assert(GroupStream.sinkGroups(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == expected)
      val groupsBySize = expected.groupBy(_._2).view.mapValues(_.keys.min).toMap
      val twoRoots = groupsBySize.keys.toSeq.sorted.take(2)
      if (twoRoots.size == 2) {
        GroupStream.groupBatch(
          Seq((groupsBySize(twoRoots.head), groupsBySize(twoRoots(1))))
            .toDF("doc_a", "doc_b"), 4L, outDir)
        val merged = GroupStream.sinkGroups(spark, outDir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val wantRoot = math.min(twoRoots.head, twoRoots(1))
        assert(expected.collect { case (d, g) if twoRoots.contains(g) => d }
          .forall(d => merged(d) == wantRoot))
      }
    }
  }

  test("cadenced compaction (compactEvery) bounds the changelog mid-stream with no mapping drift and no manual compact call") {
    implicit val sq = spark.sqlContext
    withTempDir("group_stream_cadence_") { outDir =>
      val pairsDf = Dedup.minhashNearDupsMd5(Tables.documents(spark, sf0001))
        .select("doc_a", "doc_b")
      val pairs = pairsDf
        .orderBy(md5(concat_ws(":", col("doc_a"), col("doc_b"))))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // n >= 17 guarantees ceil-division yields exactly 5 chunks, so the
      // cadence fires twice (after batches 1 and 3)
      assert(pairs.length >= 17, s"need >=17 pairs for 5 batches, got ${pairs.length}")
      val chunks = pairs.grouped((pairs.length + 4) / 5).toSeq
      assert(chunks.length == 5)

      val mem = MemoryStream[(Long, Long)]
      val q = GroupStream.groupsToSink(
        mem.toDF().toDF("doc_a", "doc_b"), outDir, compactEvery = 2)
      try {
        chunks.foreach { c =>
          mem.addData(c: _*)
          q.processAllAvailable()
        }
      } finally q.stop()

      // compactEvery=2 fires after batches 1 and 3 (after-3 collapses
      // 0..2 into the baseline upto=2), so five ingested batches leave
      // at most baseline + two newer dirs — never one dir per batch
      val roots = GroupStream.roots(outDir)
      val ids = roots.batchIds(spark)
      assert(ids.size == 3, s"expected cadence to bound dirs, got $ids")
      assert(batchDirsOnDisk(roots) == ids.tail, batchDirsOnDisk(roots).toString)
      val expected = Dedup.connectedGroups(pairsDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val got = GroupStream.sinkGroups(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected,
        s"cadenced stream drifted: ${(got.toSet diff expected.toSet).take(5)}")
    }
  }

  test("sinkGroups before any committed batch returns an empty frame, not an error") {
    withTempDir("group_stream_empty_") { fresh =>
      val df = GroupStream.sinkGroups(spark, fresh)
      assert(df.columns.toSeq == Seq("doc_id", "group_id"))
      assert(df.count() == 0)
      // compact on a nonexistent changelog is a no-op, not an error
      GroupStream.compact(spark, fresh)
    }
  }
}
