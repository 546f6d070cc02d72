package graft

import graft.TempDirs.withTempDir
import graft.operators.{Curation, Dedup}
import graft.streaming.{CurateStream, GroupStream}

/** Checkpoint cuts that several jobs read are computed once: a lazy
  * `localCheckpoint` read by concurrent jobs is computed by each of
  * them, and the BlockManager warns when the second copy of a block
  * arrives.
  */
class EagerCutSpec extends SparkSpec {
  import spark.implicits._

  test("groupBatch and curatePipeline store each checkpoint block once") {
    val pairs = Dedup.minhashNearDupsMd5(Tables.documents(spark, sf0001))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.length > 10, s"need real pairs, got ${pairs.length}")
    val (first, second) = pairs.splitAt(pairs.length / 2)
    withTempDir("eager_cut_") { outDir =>
      // curateBatch has three lazy cuts and one eager one (d3, which two
      // of its concurrent sink writes read): pin that each is still
      // computed once over two micro-batches, one per doc-id half of the
      // corpus
      val docs = Tables.documents(spark, sf0001).select("doc_id", "source", "lang", "text")
      val ids = docs.select("doc_id").as[Long].collect().sorted
      val mid = ids(ids.length / 2)
      withTempDir("eager_cut_curate_") { curDir =>
        var funnel = 0
        val twice = countLogs(e =>
          e.getLoggerName == "org.apache.spark.storage.BlockManager" &&
            e.getMessage.getFormattedMessage.contains("already exists on this machine")) {
          GroupStream.groupBatch(first.toDF("doc_a", "doc_b"), 0L, outDir)
          GroupStream.groupBatch(second.toDF("doc_a", "doc_b"), 1L, outDir)
          funnel = Curation.curatePipeline(Tables.documents(spark, sf0001)).collect().length
          CurateStream.curateBatch(docs.filter($"doc_id" < mid), 0L, curDir, 5, 16, 4, 0.5, 16)
          CurateStream.curateBatch(docs.filter($"doc_id" >= mid), 1L, curDir, 5, 16, 4, 0.5, 16)
        }
        assert(funnel == 8)
        assert(GroupStream.sinkGroups(spark, outDir).count() > 0)
        assert(CurateStream.sinkDocs(spark, curDir).count() > 0)
        assert(twice === 0, "a checkpoint block was computed twice")
      }
    }
  }
}
