package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{
  ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}
import graft.operators.{Dedup, TextAnalysis}
import graft.queries.Relational

/** [[Sizing.width]]: the rule on exact byte sizes, the session width as
  * its only width source, and results that do not depend on it.
  */
class SizingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def session(partitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }

  private def closing[A](partitions: Int)(f: SparkSession => A): A = {
    val s = session(partitions)
    try f(s) finally Materialized.evict(GraftSqlShim.sessionUUID(s))
  }

  /** Widths of the explicit `repartition(n, …)` shuffles in df's plan. */
  private def explicitWidths(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        e.outputPartitioning.numPartitions
    }

  test("width = w x clamp(B / w MiB, 1, maxScale) on exact byte sizes") {
    val s = session(4)
    val mib = 1L << 20
    // spark.range(n) is estimated at exactly 8n bytes
    def frame(bytes: Long) = s.range(bytes / 8).toDF()
    def scaled(bytes: Long) = Sizing.width(frame(bytes), maxScale = 8)
    assert(s.range(1000).queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(8000))
    assert(scaled(8) === 4)
    assert(scaled(8 * mib - 8) === 4, "below 2w MiB keeps the session width")
    assert(scaled(8 * mib) === 8, "exactly 2w MiB doubles it")
    assert(scaled(32 * mib - 8) === 28)
    assert(scaled(32 * mib) === 32, "8w MiB reaches the cap")
    assert(Sizing.width(s.range(1L << 27).toDF(), maxScale = 8) === 32,
      "a 1 GiB estimate that reads no data still stops at 8w")
    assert(Sizing.width(s.range(1L << 27).toDF()) === 4,
      "the default maxScale = 1 is the session width at any size")
  }

  test("the five former defaultParallelism sites take their width from the session") {
    val s = session(7)
    val docs = Tables.documents(s, sf0001)
    val lineitem = Tables.lineitem(s, sf0001)
    Seq(
      "ngramPairCounts" -> Dedup.ngramPairCounts(docs),
      "tfidfRanked" -> TextAnalysis.tfidfRanked(docs, 3),
      "copurchaseLift" -> Relational.copurchaseLift(lineitem),
      "cappedBaskets" -> Relational.cappedBaskets(lineitem)
    ).foreach { case (name, df) =>
      val widths = explicitWidths(df)
      assert(widths.nonEmpty, s"$name has no explicit-width exchange")
      assert(widths.forall(_ == 7), s"$name widths $widths, expected all 7")
    }
    // prefixFilterScored verifies on its dropDuplicates exchange,
    // hash-partitioned on (doc_a, doc_b) at the session width
    val prefix = Dedup.prefixFilterScored(docs, 0.6, 5, 1024)
    assert(explicitWidths(prefix).isEmpty)
    val pairExchanges = collect(prefix.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS =>
        e.outputPartitioning
    }.collect { case h: HashPartitioning
        if h.expressions.collect { case a: AttributeReference => a.name } ==
          Seq("doc_a", "doc_b") => h.numPartitions }
    assert(pairExchanges === Seq(7))
  }

  // the registered keys whose own operator has a Sizing.width site
  // (dedup_prefix_pairs: its pair exchange, pinned above)
  private val widthKeys = Seq(
    "dedup_ngram_jaccard", "dedup_prefix_pairs", "dedup_ngram_novelty",
    "dedup_winnow_pairs", "dedup_weighted_jaccard", "text_unigram_logprob",
    "text_tfidf", "text_ngram_diversity", "q_copurchase_lift",
    "q_copurchase_lift_capped", "q_single_source_risk")

  private def rows(s: SparkSession, key: String): Seq[Row] =
    SparkEntry.queries(key)(s, sf0001).collect().toSeq

  widthKeys.foreach { key =>
    test(s"$key: rows are identical at shuffle widths 1 and 7") {
      val expected = rows(spark, key)
      assert(expected.nonEmpty, s"$key is empty at sf0.001")
      Seq(1, 7).foreach { w =>
        assert(closing(w)(rows(_, key)) === expected, s"$key differs at width $w")
      }
    }
  }

  test("dedup_prefix_pairs: no task reports into a collected accumulator under GC pressure") {
    // DAGScheduler logs this ERROR when a finished task's metric
    // updates name an accumulator the driver has already collected:
    // the task outlived every reference to its plan
    val failed = countLogs(e =>
      e.getLoggerName == "org.apache.spark.scheduler.DAGScheduler" &&
        e.getMessage.getFormattedMessage.startsWith("Failed to update accumulator")) {
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val gc = new Thread(() => while (!stop.get) { System.gc(); Thread.sleep(20) })
      gc.setDaemon(true)
      gc.start()
      try Seq(1, 7, 1, 7).foreach(w => closing(w)(rows(_, "dedup_prefix_pairs")))
      finally {
        stop.set(true)
        gc.join()
      }
    }
    assert(failed === 0, "tasks reported into garbage-collected accumulators")
  }

  test("ngramDiversity: rows are identical where its scaled width differs from w") {
    // four copies of the sf0.1 documents: about 2.4 MB of scan
    // estimate, so at w = 1 the byte rule gives width 2
    def copies(s: SparkSession) = {
      val d = Tables.documents(s, "/root/testdata/sf0.1")
      d.union(d).union(d).union(d)
    }
    val expected = TextAnalysis.ngramDiversity(copies(spark)).collect().toSeq
    assert(expected.nonEmpty)
    val (widths, got) = closing(1) { s =>
      val df = TextAnalysis.ngramDiversity(copies(s))
      (explicitWidths(df), df.collect().toSeq)
    }
    assert(widths === Seq(2))
    assert(got === expected)
  }
}
