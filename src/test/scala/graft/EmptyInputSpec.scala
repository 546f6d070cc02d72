package graft

import graft.operators.{Dedup, DedupSpec, EventOps, Graph, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empty-input hardening: every operator must survive an empty (but
  * correctly-typed) input frame — real pipelines hit empty dates,
  * empty partitions, and filters that match nothing. A crash here is
  * a 3 a.m. page at 100 TB; the correct behavior is an empty (or
  * identity) result with the right schema.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs: DataFrame =
    Seq.empty[(Long, String, String, Int, String)]
      .toDF("doc_id", "text", "source", "n_chars", "lang")

  private lazy val noEvents: DataFrame =
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private lazy val noEmb: DataFrame =
    Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")

  test("dedup operators: empty corpus → empty results") {
    assert(Dedup.exact(noDocs).count() == 0)
    assert(Dedup.exactStats(noDocs).collect().head.getLong(0) == 0L)
    assert(Dedup.minhashNearDups(noDocs).count() == 0)
    assert(Dedup.simhashNearDups(noDocs).count() == 0)
    assert(DedupSpec.jaccardPairs(noDocs).count() == 0)
    assert(Dedup.minhashNearDupsMd5(noDocs).count() == 0)
    assert(Dedup.simhashMd5NearDups(noDocs).count() == 0)
    assert(Dedup.keepBestByFingerprint(noDocs).count() == 0)
    assert(Dedup.decontaminate(noDocs).count() == 0)
    assert(Dedup.connectedGroups(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
  }

  test("text operators: empty corpus → empty results") {
    assert(TextAnalysis.textStats(noDocs).count() == 0)
    assert(TextAnalysis.fingerprints(noDocs).count() == 0)
    assert(TextAnalysis.qualityFilter(noDocs).count() == 0)
    assert(TextAnalysis.hashSample(noDocs).count() == 0)
    assert(TextAnalysis.topKBySource(noDocs).count() == 0)
    assert(TextAnalysis.topWords(noDocs).count() == 0)
    assert(TextAnalysis.languageId(noDocs).count() == 0)
  }

  test("similarity operators: empty embeddings → empty results") {
    assert(Similarity.bruteForceTopK(noEmb).count() == 0)
    assert(Similarity.cosineNearDupPairs(noEmb).count() == 0)
    assert(Similarity.labelCentroids(noEmb).count() == 0)
    assert(Similarity.ivfTopK(noEmb, iters = 2).count() == 0)
  }

  test("event operators: empty log → empty/zero results") {
    assert(EventOps.sessionize(noEvents).count() == 0)
    assert(EventOps.hourlyCounts(noEvents).count() == 0)
    assert(EventOps.dailyRetention(noEvents).count() == 0)
    assert(EventOps.dailyRolling(noEvents).count() == 0)
    assert(EventOps.nearbyEventPairs(noEvents).count() == 0)
    assert(EventOps.lastViewBeforePurchase(noEvents).count() == 0)
    // global-aggregate funnel keeps its single summary row, zeroed
    val funnel = EventOps.viewToPurchaseFunnel(noEvents).collect()
    assert(funnel.length == 1 && funnel.head.getLong(0) == 0L)
  }

  test("multimodal operators: empty documents → empty results") {
    assert(Multimodal.payloadStats(noDocs).count() == 0)
    assert(Multimodal.decodeFeatures(noDocs).count() == 0)
    assert(Multimodal.sampleFrames(noDocs).count() == 0)
  }

  test("round-4 operators: empty inputs → empty results") {
    import graft.queries.Relational
    assert(Dedup.levenshteinNearDups(noDocs).count() == 0)
    assert(TextAnalysis.tfidfTopTerms(noDocs).count() == 0)
    assert(TextAnalysis.bm25Search(noDocs).count() == 0)
    assert(EventOps.scd2Intervals(noEvents).count() == 0)
    assert(Similarity.vectorStats(noEmb).count() == 0)
    val noCust = Seq.empty[(Long, Double)].toDF("c_custkey", "c_acctbal")
    assert(Relational.applyChangeSet(noCust).count() == 0)
    val noOrders = Seq.empty[(Long, Long, java.sql.Date, Double, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority")
    assert(Relational.trailing90DayOrderTotals(noOrders).count() == 0)
    assert(Relational.priceQuartileProfile(noOrders).count() == 0)
  }

  test("round-6 operators: empty inputs → empty results") {
    import graft.queries.Relational
    assert(TextAnalysis.vocabGrowth(noDocs).count() == 0)
    assert(Dedup.decontaminateNearDup(noDocs).count() == 0)
    assert(TextAnalysis.languageIdRelational(noDocs).count() == 0)
    assert(Similarity.labelOutliers(noEmb).count() == 0)
    assert(EventOps.dauWauStickiness(noEvents).count() == 0)
    assert(EventOps.userGapStats(noEvents).count() == 0)
    assert(EventOps.hourlyAnomalies(noEvents).count() == 0)
    val noCust = Seq.empty[(Long, Double)].toDF("c_custkey", "c_acctbal")
    assert(Relational.mergeOnReadView(noCust).count() == 0)
    val noLineitem = Seq.empty[(Long, Double, String, java.sql.Date)]
      .toDF("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    assert(Relational.columnProfileApprox(noLineitem).count() == 0)
    assert(TextAnalysis.pmiBigrams(noDocs).count() == 0)
    assert(TextAnalysis.invertedIndex(noDocs).count() == 0)
    assert(TextAnalysis.zipfSlope(noDocs).count() == 1) // 1-row report, null slope
    assert(Similarity.hardNegatives(noEmb).count() == 0)
    assert(Dedup.minhashEstErrorMd5(noDocs, Dedup.minhashNearDupsMd5(noDocs), 5, 16)
      .count() == 0)
    assert(Graph.pageRank(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    assert(EventOps.lastTouchAttribution(noEvents).count() == 0)
    assert(TextAnalysis.dsirWeights(noDocs).count() == 0)
    assert(TextAnalysis.pplBySource(TextAnalysis.bigramLogProb(noDocs), noDocs).count() == 0)
    assert(EventOps.rfm(noEvents).count() == 0)
    assert(Dedup.clusterStats(noDocs,
      Dedup.connectedGroups(Dedup.minhashNearDupsMd5(noDocs))).count() == 0)
    assert(Dedup.boundaryOverlapPairs(noDocs).count() == 0)
    assert(Similarity.mipsTopK(noEmb).count() == 0)
    assert(EventOps.funnelSteps(noEvents).count() == 3) // 3 steps × 0 users
    assert(EventOps.cohortMatrix(noEvents).count() == 0)
    assert(Dedup.impactBySource(noDocs).count() == 0)
  }

  test("round-7 operators: empty inputs → empty/zero-report results") {
    import graft.queries.Relational
    assert(Dedup.minhashBandHistogram(noDocs).count() == 0)
    assert(Dedup.crossSourceNearDups(noDocs, Dedup.minhashNearDupsMd5(noDocs)).count() == 0)
    assert(Graph.degreeHistogram(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    assert(TextAnalysis.typeTokenRatio(noDocs).count() == 0)
    assert(TextAnalysis.jsdSourceDrift(noDocs).count() == 0)
    assert(TextAnalysis.docLengthHistogram(noDocs).count() == 0)
    assert(TextAnalysis.sourceVocabOverlap(noDocs).count() == 0)
    assert(TextAnalysis.heapsLawFit(noDocs).count() == 1) // 1-row report, null fit
    assert(Similarity.l2TopK(noEmb).count() == 0)
    assert(Similarity.dimensionStats(noEmb).count() == 0)
    assert(Similarity.labelConfusion(noEmb).count() == 0)
    // degenerate power iteration: e0 loading preserved, eig reports 0
    val tc = Similarity.topComponent(noEmb).collect()
    assert(tc.length == 64 && tc.head.getDouble(1) == 1.0 && tc.head.getDouble(2) == 0.0)
    assert(EventOps.hourOfWeekProfile(noEvents).count() == 0)
    assert(EventOps.powerUsers(noEvents).count() == 0)
    assert(EventOps.sessionHistogram(noEvents).count() == 0)
    assert(EventOps.userLifecycle(noEvents).count() == 0)
    assert(EventOps.hourlyAnomaliesMad(noEvents).count() == 0)
    assert(EventOps.newVsReturning(noEvents).count() == 0)
    assert(EventOps.userBurstiness(noEvents).count() == 0)
    // 1-row latency report with zero conversions
    assert(EventOps.timeToConvert(noEvents).collect().head.getLong(0) == 0L)
    assert(EventOps.sessionDurationPercentiles(noEvents).collect().head.getLong(0) == 0L)
    // 1-row recall report over an empty truth set
    assert(Dedup.lshRecallAudit(noDocs, DedupSpec.jaccardPairs(noDocs), 5, 16, 4).count() == 1)
    assert(Multimodal.frameEntropy(noDocs).count() == 0)
    val noOrders = Seq.empty[(Long, Double, String)]
      .toDF("o_orderkey", "o_totalprice", "o_orderpriority")
    assert(Relational.priceMadByPriority(noOrders).count() == 0)
  }

  test("round-7 continuation operators: empty inputs → empty/zero-report results") {
    assert(EventOps.ewmaDaily(noEvents).count() == 0)
    assert(EventOps.sessionPaths(noEvents).count() == 0)
    assert(EventOps.seasonalAnomalies(noEvents).count() == 0)
    assert(EventOps.metricCorrelation(noEvents).count() == 0)
    assert(EventOps.dwellTime(noEvents).count() == 0)
    assert(EventOps.userOverlapAcrossTypes(noEvents).count() == 0)
    assert(TextAnalysis.gopherRules(noDocs).count() == 0)
    assert(TextAnalysis.qualityVsDup(noDocs).count() == 0)
    assert(TextAnalysis.langSourceMix(noDocs).count() == 0)
    assert(TextAnalysis.wordBurstiness(noDocs).count() == 0)
    // 2-row diversity report survives with zeroed counts
    val md = TextAnalysis.mixDiversity(noDocs).collect()
    assert(md.length == 2 && md.forall(_.getLong(1) == 0L))
    assert(Similarity.truncatedDimRecall(noEmb).count() == 0)
    assert(Similarity.ivfProbeSweep(noEmb).count() == 0)
    assert(Similarity.ivfCellBalance(noEmb).count() == 0)
    assert(Similarity.labelMargin(noEmb).count() == 0)
    assert(Dedup.lexicalVsSemantic(noEmb, Dedup.minhashNearDupsMd5(noDocs)).count() == 0)
    assert(Dedup.lshBandPlan(spark).count() == 35) // generated grid, input-free
    assert(Graph.kCorePeel(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    assert(Multimodal.modalityMix(noDocs).count() == 0)
    assert(Similarity.effectiveDims(noEmb).count() == 0)
    assert(Similarity.embeddingCoverage(noDocs, noEmb).count() == 0)
    assert(EventOps.wowGrowth(noEvents).count() == 0)
    assert(EventOps.pathConversion(noEvents).count() == 0)
    assert(EventOps.cohortLtv(noEvents).count() == 0)
    assert(EventOps.activityStreaks(noEvents).count() == 0)
    // one-row cadence report with zero gaps
    assert(EventOps.purchaseCadence(noEvents).collect().head.getLong(0) == 0L)
    assert(Dedup.ngramNovelty(noDocs).count() == 0)
    assert(Dedup.shingleDfHistogram(noDocs).count() == 0)
    assert(TextAnalysis.temperatureWeights(noDocs).count() == 0)
    assert(TextAnalysis.commonOpenings(noDocs).count() == 0)
    assert(EventOps.weeklyMixDrift(noEvents).count() == 0)
    assert(EventOps.retentionCurve(noEvents).count() == 0)
    assert(EventOps.userFeatures(noEvents).count() == 0)
    // one-row backtest report over zero matched hours
    assert(EventOps.forecastBacktest(noEvents).collect().head.getLong(0) == 0L)
    assert(EventOps.conversionWindowSweep(noEvents).count() == 0)
    assert(Multimodal.payloadSizeOutliers(noDocs).count() == 0)
    assert(Dedup.clusterRepresentatives(noDocs,
      Dedup.connectedGroups(Dedup.simhashMd5NearDups(noDocs))).count() == 0)
    assert(Dedup.dupRateByLength(noDocs).count() == 0)
    assert(Similarity.knnLabelHomophily(noEmb).count() == 0)
    assert(Similarity.radiusSearch(noEmb).count() == 0)
    // over-vocab ks on an empty corpus: grid rows survive, coverage null-safe
    assert(TextAnalysis.vocabCoverage(noDocs).count() == 4)
    assert(TextAnalysis.stopwordProfile(noDocs).count() == 0)
    val noOrd = Seq.empty[(Long, String, java.sql.Timestamp)]
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
    val noLi = Seq.empty[(Long, java.sql.Timestamp)].toDF("l_orderkey", "l_shipdate")
    assert(graft.queries.Relational.orderToShipLatency(noOrd, noLi).count() == 0)
  }

  test("round-7 second continuation operators: empty inputs → empty results") {
    assert(EventOps.markovTwoStep(noEvents).count() == 0)
    assert(EventOps.topTrigrams(noEvents).count() == 0)
    assert(TextAnalysis.hapaxBySource(noDocs).count() == 0)
    assert(TextAnalysis.curriculumBuckets(noDocs).count() == 0)
    assert(TextAnalysis.wordLenProfile(noDocs).count() == 0)
    assert(Similarity.pairCosineHistogram(noEmb).count() == 0)
    assert(Multimodal.shardManifest(noDocs).count() == 0)
    assert(EventOps.rollingDailyP95(noEvents).count() == 0)
    assert(EventOps.dailyAutocorr(noEvents).count() == 0)
    val noOrders = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    assert(graft.queries.Relational.revenueDrawdown(noOrders).count() == 0)
    assert(Similarity.ivfCellCohesion(noEmb).count() == 0)
    assert(TextAnalysis.sourceKeywords(noDocs).count() == 0)
    assert(EventOps.valuePercentiles(noEvents).count() == 0)
    assert(Dedup.estJaccardHistogram(noDocs).count() == 0)
    assert(Dedup.simhashHammingTopK(noDocs).count() == 0)
    assert(EventOps.sessionGapHistogram(noEvents).count() == 0)
    assert(DedupSpec.prefixPairs(noDocs).count() == 0)
    assert(EventOps.changepointCusum(noEvents).count() == 0)
    assert(Dedup.clusterSizeHistogram(Dedup.connectedGroups(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))).count() == 0)
    assert(TextAnalysis.bigramEntropyRate(noDocs).count() == 0)
    // 1-row fit/funnel reports over zero inputs
    assert(EventOps.retentionFit(noEvents).collect().head.getLong(0) == 0L)
    assert(EventOps.strictFunnel(noEvents).collect().head.getLong(0) == 0L)
    assert(TextAnalysis.skipgramPmi(noDocs).count() == 0)
    assert(EventOps.behaviorSimilarity(noEvents).count() == 0)
  }

  test("round-7 third continuation operators: empty inputs → empty results") {
    val noOrders = Seq.empty[(Long, Double)].toDF("o_custkey", "o_totalprice")
    assert(graft.queries.Relational.benfordFirstDigit(noOrders).count() == 0)
    // 1-row reports over zero inputs: zero counts, null derived stats
    assert(graft.queries.Relational.giniCustomerSpend(noOrders)
      .collect().head.getLong(0) == 0L)
    val noLi = Seq.empty[(Double, Double)].toDF("l_extendedprice", "l_quantity")
    assert(graft.queries.Relational.weightedMedianPrice(noLi)
      .collect().head.isNullAt(0))
    assert(EventOps.kaplanMeier(noEvents).count() == 0)
    assert(TextAnalysis.readabilityBySource(noDocs).count() == 0)
    assert(graft.operators.Graph.assortativity(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).collect().head.getLong(0) == 0L)
    assert(Similarity.mmrRerank(noEmb).count() == 0)
    assert(EventOps.abTest(noEvents).collect().head.getLong(0) == 0L)
    assert(EventOps.abKsStatistic(noEvents).count() == 0)
    assert(Dedup.weightedJaccardPairs(noDocs).count() == 0)
    assert(TextAnalysis.mattrBySource(noDocs).count() == 0)
    assert(EventOps.dqChecks(noEvents).collect().head.getLong(0) == 0L)
    assert(Multimodal.textEmbeddingAlign(noDocs, noEmb)
      .collect().head.getLong(0) == 0L)
    assert(EventOps.burstDetect(noEvents).count() == 0)
    assert(EventOps.attributionModels(noEvents).count() == 0)
    assert(EventOps.psiDrift(noEvents).count() == 0)
    assert(Dedup.winnowPairs(noDocs).count() == 0)
    assert(EventOps.abHeterogeneous(noEvents).count() == 0)
    assert(Similarity.rrfFusion(noEmb).count() == 0)
    assert(EventOps.diffInDiff(noEvents).collect().head.getLong(0) == 0L)
    assert(TextAnalysis.rakeKeywords(noDocs).count() == 0)
    assert(EventOps.cuped(noEvents).collect().head.getLong(0) == 0L)
    assert(EventOps.abConversion(noEvents).collect().head.getLong(0) == 0L)
    assert(EventOps.powerAnalysis(noEvents).collect().head.getLong(0) == 0L)
    assert(graft.queries.Relational.singleSourceRisk(
      Seq.empty[(Long, Long)].toDF("l_partkey", "l_suppkey")).count() == 0)
    assert(Similarity.cellLabelPurity(noEmb).count() == 0)
    assert(graft.queries.Relational.revenueAccounting(
      Seq.empty[(Long, Long, java.sql.Timestamp, Double)]
        .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")).count() == 0)
    assert(graft.queries.Relational.customerAcquisition(
      Seq.empty[(Long, Long, java.sql.Timestamp)]
        .toDF("o_orderkey", "o_custkey", "o_orderdate")).count() == 0)
    assert(graft.queries.Relational.priceOlsByFlag(
      Seq.empty[(String, Double, Double)]
        .toDF("l_returnflag", "l_quantity", "l_extendedprice")).count() == 0)
  }

  test("curate pipeline: empty corpus → 8-stage funnel of zeros") {
    val out = graft.operators.Curation.curatePipeline(noDocs)
      .collect().sortBy(_.getInt(0))
    assert(out.length == 8)
    assert(out.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L && r.getLong(4) == 0L))
  }
}
