package graft.streaming

import graft.{SparkSpec, Tables}
import graft.TempDirs.withTempDir
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.streaming.StateCompactionSpec.batchDirsOnDisk
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Replay pin for [[CurateStream]]: the sf0.001 documents table is
  * ingested in three monotone-doc_id micro-batches; the sink's
  * survivor set must equal the BATCH pipeline's post-near-dup
  * survivors (stage 3 of [[Curation.curatePipeline]], which is
  * oracle-green via `text_curate_pipeline`), and the streamed shard
  * manifest must equal the batch manifest of those survivors. The
  * testdata's near-dup components are clique-shaped (near-copies), so
  * the pin is EXACT equality — the documented future-link superset
  * caveat never fires here.
  */
class CurateStreamSpec extends SparkSpec {
  import spark.implicits._

  /** The batch manifest of `documents`: the streamed manifest's shard
    * arithmetic ([[Curation.shardId]]) summed per shard in one pass.
    */
  private def manifestOf(documents: DataFrame, nShards: Int = 16): DataFrame =
    documents
      .select(Curation.shardId(col("text"), nShards).as("shard_id"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("shard_id")

  private def expectedSurvivors(docs: DataFrame): DataFrame = {
    // stage-for-stage the document half of Curation.curatePipeline
    val d0 = docs.select(col("doc_id"), col("source"), col("lang"), col("text"))
    val keep1 = TextAnalysis.gopherRules(d0).filter(col("keep")).select("doc_id")
    val d1 = d0.join(keep1, Seq("doc_id"), "left_semi")
    val keep2 = Dedup.exact(d1).select(col("keep_id").as("doc_id"))
    val d2 = d0.join(keep2, Seq("doc_id"), "left_semi")
    val drops3 = Dedup.connectedGroups(
        Dedup.minhashNearDupsMd5(d2).select("doc_a", "doc_b"))
      .filter(col("doc_id") =!= col("group_id")).select("doc_id")
    d2.join(drops3, Seq("doc_id"), "left_anti")
  }

  test("streamed curation sink equals the batch funnel's survivor set and manifest") {
    implicit val sq = spark.sqlContext
    withTempDir("curate_stream_") { outDir =>

      val docs = Tables.documents(spark, sf0001)
        .select("doc_id", "source", "lang", "text")
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      assert(docs.length > 30, s"need a real corpus, got ${docs.length} docs")
      val chunks = docs.grouped((docs.length + 2) / 3).toSeq
      assert(chunks.length == 3)

      val mem = MemoryStream[(Long, String, String, String)]
      val stream = mem.toDF().toDF("doc_id", "source", "lang", "text")
      val q = CurateStream.curateToSink(stream, outDir)
      try {
        chunks.foreach { c =>
          mem.addData(c: _*)
          q.processAllAvailable()
        }
      } finally q.stop()

      val batchDf = Tables.documents(spark, sf0001)
      val expected = expectedSurvivors(batchDf)
      val expIds = expected.select("doc_id").collect().map(_.getLong(0)).toSet
      val gotIds = CurateStream.sinkDocs(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotIds == expIds,
        s"streamed ${gotIds.size} vs batch ${expIds.size}; " +
          s"stream-only=${(gotIds -- expIds).take(5)} batch-only=${(expIds -- gotIds).take(5)}")

      // survivors must be a strict subset of the corpus (the funnel dropped rows)
      assert(gotIds.size < docs.length)

      // manifest: nShards-row delta sum == batch arithmetic over survivors
      val streamed = CurateStream.sinkManifest(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val batchMan = manifestOf(expected)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed == batchMan)
      assert(streamed.map(_._2).sum == expIds.size.toLong)

      // idempotent replay: re-running a middle batch's foreachBatch body
      // overwrites its own batch_id dirs — sink totals are unchanged
      val replayBatch = chunks(1).toSeq.toDF("doc_id", "source", "lang", "text")
      CurateStream.curateBatch(replayBatch, 1L, outDir, 5, 16, 4, 0.5, 16)
      val afterReplay = CurateStream.sinkDocs(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(afterReplay == expIds)

      // --- compaction (round-14 verdict item 2: the executable form of
      // the scaladoc's "compact periodically"). All three state tables
      // collapse to baseline + newest; every read face must be IDENTICAL
      // pre/post, the newest batch must replay correctly against the
      // baseline, and — the data-loss check — a re-send of the ENTIRE
      // corpus must be rejected wholesale by the compacted digest/band
      // state, while a genuinely novel doc is still admitted.
      val sink = new CurateStream.SinkTables(outDir)
      assert(sink.digests.batchIds(spark).size == 3)
      CurateStream.compact(spark, outDir)
      sink.state.foreach { t =>
        val ids = t.batchIds(spark)
        assert(ids.size == 2, s"${t.path}: $ids")
        // no dir the baseline subsumes is left in the table
        assert(batchDirsOnDisk(t) == ids.tail, s"${t.path}: ${batchDirsOnDisk(t)}")
      }
      assert(CurateStream.sinkDocs(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet == expIds)
      assert(CurateStream.sinkManifest(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        == batchMan)
      // replay of the newest (only replayable) batch reads batch_id < 2
      // — exactly the compacted baseline
      CurateStream.curateBatch(chunks(2).toSeq.toDF("doc_id", "source", "lang", "text"),
        2L, outDir, 5, 16, 4, 0.5, 16)
      assert(CurateStream.sinkDocs(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet == expIds)
      // a new batch re-sending EVERY original doc: the compacted digest
      // state must reject all of them (lost state would re-admit dupes)
      CurateStream.curateBatch(docs.toSeq.toDF("doc_id", "source", "lang", "text"),
        3L, outDir, 5, 16, 4, 0.5, 16)
      assert(CurateStream.sinkDocs(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet == expIds)
      assert(CurateStream.sinkManifest(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        == batchMan)
      // ... while a novel doc still lands: reversing a survivor's word
      // order preserves every gopherRules stat (they are word-multiset
      // invariants) but yields a fresh digest and an unrelated 5-shingle
      // set, so the funnel must admit it through the compacted state
      val survivor = docs.find(d => expIds.contains(d._1)).get
      val novelId = docs.map(_._1).max + 1000L
      val novel = (novelId, survivor._2, survivor._3,
        survivor._4.split(" ").reverse.mkString(" "))
      CurateStream.curateBatch(Seq(novel).toDF("doc_id", "source", "lang", "text"),
        4L, outDir, 5, 16, 4, 0.5, 16)
      assert(CurateStream.sinkDocs(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet == expIds + novelId)
    }
  }

  test("cadenced compaction (compactEvery) bounds all three state changelogs mid-stream with survivors and manifest unchanged") {
    implicit val sq = spark.sqlContext
    withTempDir("curate_stream_cadence_") { outDir =>
      val docs = Tables.documents(spark, sf0001)
        .select("doc_id", "source", "lang", "text")
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      // n >= 17 guarantees ceil-division yields exactly 5 chunks, so the
      // cadence fires twice (after batches 1 and 3)
      assert(docs.length >= 17, s"need >=17 docs for 5 batches, got ${docs.length}")
      val chunks = docs.grouped((docs.length + 4) / 5).toSeq
      assert(chunks.length == 5)

      val mem = MemoryStream[(Long, String, String, String)]
      val q = CurateStream.curateToSink(
        mem.toDF().toDF("doc_id", "source", "lang", "text"), outDir,
        compactEvery = 2)
      try {
        chunks.foreach { c =>
          mem.addData(c: _*)
          q.processAllAvailable()
        }
      } finally q.stop()

      // after-batch-3 compaction collapsed batches 0..2 into the
      // baseline upto=2; five ingested batches leave baseline + two
      // newer dirs in EVERY state table — never one dir per batch
      new CurateStream.SinkTables(outDir).state.foreach { t =>
        val ids = t.batchIds(spark)
        assert(ids.size == 3, s"${t.path} not cadence-bounded: $ids")
        assert(batchDirsOnDisk(t) == ids.tail, s"${t.path}: ${batchDirsOnDisk(t)}")
      }
      val expected = expectedSurvivors(Tables.documents(spark, sf0001))
      val expIds = expected.select("doc_id").collect().map(_.getLong(0)).toSet
      val gotIds = CurateStream.sinkDocs(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotIds == expIds,
        s"cadenced stream drifted: stream-only=${(gotIds -- expIds).take(5)} " +
          s"batch-only=${(expIds -- gotIds).take(5)}")
      assert(CurateStream.sinkManifest(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        == manifestOf(expected)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    }
  }

  test("sinkDocs and sinkManifest before any committed batch return empty frames, not errors") {
    withTempDir("curate_stream_empty_") { fresh =>
      val docs = CurateStream.sinkDocs(spark, fresh)
      assert(docs.columns.toSeq == Seq("doc_id", "source", "lang", "text"))
      assert(docs.count() == 0)
      val manifest = CurateStream.sinkManifest(spark, fresh)
      assert(manifest.columns.toSeq == Seq("shard_id", "n_docs", "n_chars"))
      assert(manifest.count() == 0)
    }
  }
}
