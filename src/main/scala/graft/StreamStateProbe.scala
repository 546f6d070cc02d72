package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.functions.{col, concat_ws, lit}
import graft.operators.{EventOps, Lsh}
import graft.streaming.{CurateStream, EventStreams, GroupStream}

/** Measures Structured Streaming STATE-STORE size for the heaviest
  * streaming twins against their design bounds — the evidence behind
  * the "state is O(users) / O(open windows) / O(buckets)" claims in
  * the streaming scaladocs, which plan-shape inspection cannot give
  * (state lives in the store, not the plan).
  *
  * `runMain graft.StreamStateProbe [sfDir] [chunks]`
  *
  * Replays the corpus in time-ordered chunks through every stateful
  * twin family and records per-micro-batch `stateOperators` metrics
  * (numRowsTotal, memoryUsedBytes), then checks each twin's bound:
  *   - sessionGaps: state rows == distinct users (two longs per key)
  *   - errorRateHourly: state rows ≤ distinct event hours, with
  *     watermark eviction keeping the FINAL count at the open tail,
  *     not the stream's history
  *   - streamingSemanticDupFlags: state rows ≤ nTables·2^bits bucket
  *     keys (admission-capped vectors inside each)
  *   - perUserQuota: state rows == distinct users (ONE counter per
  *     key regardless of traffic — transformWithState ValueState)
  *   - transitionEdges: state rows == distinct users (one last-event
  *     row per key)
  *   - streamingAttribution: state rows == distinct users (two-field
  *     last-touch state)
  *   - strictFunnelHits: state rows == distinct users (three longs)
  *   - runningLabelCentroids: state rows == distinct labels (one
  *     (count, sum-vector) per label — label-cardinality, not corpus)
  *   - hourlyCounts: state rows ≤ distinct (hour, type) groups,
  *     watermark-evicted
  *   - dedupEvents: state rows ≤ distinct ids, watermark-evicted
  *   - newVsReturningFlags / runningUserTotalsTws: state rows ==
  *     distinct users
  *   - streamingTopKByType: state rows == distinct types (k-pair
  *     heap per type)
  *   - streamingNearDupFlags: state rows == observed band buckets
  *     (batch-computed exact expectation; capped content inside)
  *   - streamingHeavyHitters: ONE global summary row (O(capacity))
  *   - curateToSink: ZERO state-store rows — corpus-growing dedup
  *     state lives in the parquet sink; digest rows equal the
  *     batch-computed expectation, band rows = 4×digests, one
  *     batch_id dir per micro-batch (the partition-prune unit)
  *   - groupsToSink: ZERO state-store rows — the doc→root changelog
  *     lives in the parquet sink; final mapping equals batch
  *     connectedGroups exactly, per-doc rows ≤ batches (roots change
  *     at most once per batch)
  * Prints one JSON line; exits 1 when a bound is violated. The
  * `state_scan_ms_*` timings and the `mem_peak_bytes` of `perUserQuota`
  * and `runningUserTotalsTws` vary from run to run of the same code
  * (see the twins table below); every other field is reproducible.
  */
object StreamStateProbe {

  private case class Probe(rows: Seq[Long], mem: Seq[Long])

  /** Feed `data` in `chunks` micro-batches to the query `start` runs
    * over a fresh MemoryStream: the progress of every batch that read
    * input.
    */
  private def feed[T](spark: SparkSession, chunks: Int, data: Seq[T])(
      start: MemoryStream[T] => StreamingQuery)
      (implicit enc: org.apache.spark.sql.Encoder[T]): Seq[StreamingQueryProgress] = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[T]
    val q = start(mem)
    try {
      data.grouped(math.max(1, data.length / chunks + 1)).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    } finally q.stop()
  }

  private def run[T](spark: SparkSession, name: String, chunks: Int,
                     data: Seq[T], start: MemoryStream[T] =>
      org.apache.spark.sql.streaming.DataStreamWriter[_])
      (implicit enc: org.apache.spark.sql.Encoder[T]): Probe = {
    val progress = feed(spark, chunks, data)(m => start(m).queryName(name).start())
      .filter(_.stateOperators.nonEmpty)
    Probe(progress.map(_.stateOperators.head.numRowsTotal),
      progress.map(_.stateOperators.head.memoryUsedBytes))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val chunks = if (args.length > 1) args(1).toInt else 8
    // optional 3rd arg "sink": probe ONLY the sink-backed twins
    // (curateToSink / groupsToSink + the compaction re-verify). The
    // state-store twins' bounds are corpus-shape-invariant (users /
    // hours / buckets), so their sf0.01-sf1 evidence transfers; the
    // SINK twins' costs (changelog growth, per-batch map-only scans,
    // compaction) are the ones worth re-proving at a real decade
    // without paying a 10M-event replay through all 21 probes.
    val sinkOnly = args.length > 2 && args(2) == "sink"
    val spark = GraftSession.local()
    import spark.implicits._

    val events = Tables.events(spark, sfDir)
    var failures = List.empty[String]
    def check(cond: Boolean, msg: => String): Unit =
      if (!cond) failures ::= msg

    val docsDf = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "lang", "text")
    val docRows = docsDf
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toSeq

    val twinsBody: String = if (sinkOnly) "" else {
    // 1. sessionGaps: keyed state is exactly one entry per user
    val sessRows = EventOps.withTsUs(events)
      .select("user_id", "ts_us").as[EventStreams.SessEvent]
      .collect().sortBy(_.ts_us).toSeq
    val nUsers = sessRows.map(_.user_id).distinct.size
    val pSess = run[EventStreams.SessEvent](spark, "probe_sgap", chunks, sessRows,
      m => EventStreams.sessionGaps(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("append"))
    check(pSess.rows.last == nUsers,
      s"sessionGaps state ${pSess.rows.last} != distinct users $nUsers")

    // 2. errorRateHourly: open tumbling windows, watermark-evicted
    val erRows = EventOps.withTsTimestamp(events)
      .select("ts", "event_type").as[(java.sql.Timestamp, String)]
      .collect().sortBy(_._1.getTime).toSeq
    val nHours = erRows.map(_._1.getTime / 3600000L).distinct.size
    val pEr = run[(java.sql.Timestamp, String)](spark, "probe_erate", chunks, erRows,
      m => EventStreams.errorRateHourly(m.toDF().toDF("ts", "event_type"))
        .writeStream.format("memory").outputMode("append"))
    check(pEr.rows.max <= nHours,
      s"errorRateHourly peak state ${pEr.rows.max} > distinct hours $nHours")
    check(pEr.rows.last < nHours || nHours <= 3,
      s"errorRateHourly final state ${pEr.rows.last} shows no watermark eviction over $nHours hours")

    // 3. semantic dup, full-precision reference: ≤ nTables·2^bits
    // bucket keys
    val (nTables, bits) = (4, 8)
    val vecRows = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val pSem = run[(Long, Seq[Double])](spark, "probe_semdup", chunks, vecRows,
      m => EventStreams.streamingSemanticDupFlags(m.toDF().toDF("vec_id", "v"),
          nTables = nTables, bitsPerTable = bits, fullPrecisionState = true).toDF()
        .writeStream.format("memory").outputMode("append"))
    val bucketBound = nTables.toLong << bits
    check(pSem.rows.last <= bucketBound,
      s"semanticDup state ${pSem.rows.last} > bucket-key bound $bucketBound")

    // 3b. the DEFAULT path (int8-quantized state since round 11): same
    // bucket-key bound, materially smaller per-entry payload, and the
    // default-on promotion gate — pair recall AND precision ≥ 0.95
    // against the full-precision reference on this corpus replay
    val pSem8 = run[(Long, Seq[Double])](spark, "probe_semdup8", chunks, vecRows,
      m => EventStreams.streamingSemanticDupFlags(m.toDF().toDF("vec_id", "v"),
          nTables = nTables, bitsPerTable = bits).toDF()
        .writeStream.format("memory").outputMode("append"))
    check(pSem8.rows.last <= bucketBound,
      s"semanticDupInt8 state ${pSem8.rows.last} > bucket-key bound $bucketBound")
    check(pSem8.mem.max < pSem.mem.max,
      s"semanticDupInt8 state ${pSem8.mem.max} B not smaller than full ${pSem.mem.max} B")
    def pairsOf(table: String): Set[(Long, Long)] =
      spark.table(table).collect()
        .map(r => (r.getLong(2), r.getLong(0))).toSet
    val fullPairs = pairsOf("probe_semdup")
    val int8Pairs = pairsOf("probe_semdup8")
    val sharedPairs = fullPairs intersect int8Pairs
    val recall = if (fullPairs.isEmpty) 1.0 else sharedPairs.size.toDouble / fullPairs.size
    val precision = if (int8Pairs.isEmpty) 1.0 else sharedPairs.size.toDouble / int8Pairs.size
    check(recall >= 0.95, f"semanticDupInt8 recall $recall%.4f < 0.95 vs full-precision replay")
    check(precision >= 0.95, f"semanticDupInt8 precision $precision%.4f < 0.95 vs full-precision replay")

    // 4. perUserQuota (transformWithState): ONE ValueState counter per
    // user — state is O(users) regardless of per-user traffic.
    // transformWithState requires the RocksDB provider (column
    // families); scope it to THIS query so the other twins keep the
    // default HDFSBacked store and their memory numbers stay
    // comparable with prior rounds' artifacts.
    val quotaRows = EventOps.withTsUs(events)
      .select("user_id", "ts_us", "event_id")
      .collect().sortBy(r => (r.getLong(1), r.getLong(2)))
      .map(r => EventStreams.QuotaEvent(r.getLong(0), r.getLong(2))).toSeq
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val pQuota =
      try run[EventStreams.QuotaEvent](spark, "probe_quota", chunks, quotaRows,
        m => EventStreams.perUserQuota(m.toDS()).toDF()
          .writeStream.format("memory").outputMode("append"))
      finally priorProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    check(pQuota.rows.last == nUsers,
      s"perUserQuota state ${pQuota.rows.last} != distinct users $nUsers")

    // 5. transitionEdges: one last-event row per user
    val seqRows = EventOps.withTsUs(events)
      .select("user_id", "ts_us", "event_id", "event_type")
      .as[EventStreams.SeqEvent]
      .collect().sortBy(e => (e.ts_us, e.event_id)).toSeq
    val pTrans = run[EventStreams.SeqEvent](spark, "probe_trans", chunks, seqRows,
      m => EventStreams.transitionEdges(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("append"))
    check(pTrans.rows.last == nUsers,
      s"transitionEdges state ${pTrans.rows.last} != distinct users $nUsers")

    // 6. streamingAttribution: two-field last-touch state per user
    val attrRows = EventOps.withTsUs(events)
      .select("user_id", "ts_us", "event_id", "event_type", "value")
      .as[EventStreams.AttrEvent]
      .collect().sortBy(e => (e.ts_us, e.event_id)).toSeq
    val pAttr = run[EventStreams.AttrEvent](spark, "probe_attr", chunks, attrRows,
      m => EventStreams.streamingAttribution(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("append"))
    check(pAttr.rows.last == nUsers,
      s"streamingAttribution state ${pAttr.rows.last} != distinct users $nUsers")

    // 7. strictFunnelHits: three longs per user
    val funRows = EventOps.withTsUs(events)
      .select("user_id", "ts_us", "event_type")
      .as[EventStreams.FunnelEvent]
      .collect().sortBy(_.ts_us).toSeq
    val pFun = run[EventStreams.FunnelEvent](spark, "probe_funnel", chunks, funRows,
      m => EventStreams.strictFunnelHits(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("append"))
    check(pFun.rows.last == nUsers,
      s"strictFunnelHits state ${pFun.rows.last} != distinct users $nUsers")

    // 8. runningLabelCentroids: one (count, sum-vector) per LABEL —
    // state scales with label cardinality, never the corpus
    val labVecs = Tables.embeddings(spark, sfDir)
      .selectExpr("label", "embedding")
      .as[EventStreams.LabeledVec].collect().toSeq
    val nLabels = labVecs.map(_.label).distinct.size
    val pCent = run[EventStreams.LabeledVec](spark, "probe_centroid", chunks, labVecs,
      m => EventStreams.runningLabelCentroids(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("update"))
    check(pCent.rows.last == nLabels,
      s"runningLabelCentroids state ${pCent.rows.last} != distinct labels $nLabels")

    // 9. hourlyCounts: open (window, type) groups, watermark-evicted
    val hcRows = EventOps.withTsTimestamp(events)
      .select("ts", "event_type", "value")
      .as[(java.sql.Timestamp, String, Double)]
      .collect().sortBy(_._1.getTime).toSeq
    val nHourTypes = hcRows.map(r => (r._1.getTime / 3600000L, r._2)).distinct.size
    val pHc = run[(java.sql.Timestamp, String, Double)](spark, "probe_hourly", chunks, hcRows,
      m => EventStreams.hourlyCounts(m.toDF().toDF("ts", "event_type", "value"))
        .writeStream.format("memory").outputMode("append"))
    check(pHc.rows.max <= nHourTypes,
      s"hourlyCounts peak state ${pHc.rows.max} > distinct (hour,type) $nHourTypes")
    check(pHc.rows.last < nHourTypes || nHourTypes <= 6,
      s"hourlyCounts final state ${pHc.rows.last} shows no watermark eviction over $nHourTypes groups")

    // 10. dedupEvents (dropDuplicatesWithinWatermark): one row per id
    // inside the watermark horizon, evicted as the watermark passes
    val ddRows = EventOps.withTsTimestamp(events)
      .select("ts", "event_id").as[(java.sql.Timestamp, Long)]
      .collect().sortBy(_._1.getTime).toSeq
    val nIds = ddRows.map(_._2).distinct.size
    val pDd = run[(java.sql.Timestamp, Long)](spark, "probe_dedup", chunks, ddRows,
      m => EventStreams.dedupEvents(m.toDF().toDF("ts", "event_id"))
        .writeStream.format("memory").outputMode("append"))
    check(pDd.rows.max <= nIds,
      s"dedupEvents peak state ${pDd.rows.max} > distinct ids $nIds")
    check(pDd.rows.last < nIds || nIds <= 100,
      s"dedupEvents final state ${pDd.rows.last} shows no watermark eviction of $nIds ids")

    // 11. newVsReturningFlags: first-day + seen-days per user —
    // state keys are exactly the distinct users
    val udRows = EventOps.withTsUs(events)
      .selectExpr("user_id", "ts_us div 86400000000 as day")
      .as[EventStreams.UserDay]
      .collect().sortBy(_.day).toSeq
    val pNvr = run[EventStreams.UserDay](spark, "probe_nvr", chunks, udRows,
      m => EventStreams.newVsReturningFlags(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("append"))
    check(pNvr.rows.last == nUsers,
      s"newVsReturningFlags state ${pNvr.rows.last} != distinct users $nUsers")

    // 12. runningUserTotalsTws (transformWithState): ONE (count, sum)
    // ValueState per user — RocksDB provider scoped as for quota
    val utRows = EventOps.withTsUs(events)
      .select("user_id", "event_type", "value", "ts_us")
      .collect().sortBy(_.getLong(3))
      .map(r => EventStreams.UserEvent(r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val pTot =
      try run[EventStreams.UserEvent](spark, "probe_tot", chunks, utRows,
        m => EventStreams.runningUserTotalsTws(m.toDS()).toDF()
          .writeStream.format("memory").outputMode("update"))
      finally priorProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    check(pTot.rows.last == nUsers,
      s"runningUserTotalsTws state ${pTot.rows.last} != distinct users $nUsers")

    // 13. streamingTopKByType: k-pair bounded heap per event type —
    // state keys are the distinct types, independent of stream length
    val seRows = EventOps.withTsUs(events)
      .select("event_type", "event_id", "value", "ts_us")
      .collect().sortBy(_.getLong(3))
      .map(r => EventStreams.ScoredEvent(r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val nTypes = seRows.map(_.event_type).distinct.size
    val pTopk = run[EventStreams.ScoredEvent](spark, "probe_topk", chunks, seRows,
      m => EventStreams.streamingTopKByType(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("update"))
    check(pTopk.rows.last == nTypes,
      s"streamingTopKByType state ${pTopk.rows.last} != distinct types $nTypes")

    // 14. streamingNearDupFlags: state keys are the OBSERVED
    // (band_idx, band_bits) buckets (capped content inside each) —
    // the exact key count is computable in batch from the same
    // banding rule at the same maxDist, so the bound is an equality,
    // not a ≤
    val ndMaxDist = 3
    val nBuckets =
      docsDf.select(graft.functions.VectorFunctions.simhash64(col("text")).as("fp"))
        .select(org.apache.spark.sql.functions.explode(
          Lsh.pigeonholeBands(col("fp"), 64, ndMaxDist)).as("band"))
        .select("band.band_idx", "band.band_bits").distinct().count()
    val pNd = run[(Long, String, String, String)](spark, "probe_neardup", chunks, docRows,
      m => EventStreams.streamingNearDupFlags(
          m.toDF().toDF("doc_id", "source", "lang", "text"), maxDist = ndMaxDist).toDF()
        .writeStream.format("memory").outputMode("append"))
    check(pNd.rows.last == nBuckets,
      s"streamingNearDupFlags state ${pNd.rows.last} != observed band buckets $nBuckets")

    // 15. streamingHeavyHitters: ONE Misra-Gries summary row (global
    // key), O(capacity) entries inside — state never scales with
    // traffic or key cardinality
    val uidRows = EventOps.withTsUs(events)
      .select("user_id", "ts_us").collect().sortBy(_.getLong(1))
      .map(_.getLong(0)).toSeq
    val pHh = run[Long](spark, "probe_hh", chunks, uidRows,
      m => EventStreams.streamingHeavyHitters(m.toDS()).toDF()
        .writeStream.format("memory").outputMode("update"))
    check(pHh.rows.last == 1,
      s"streamingHeavyHitters state ${pHh.rows.last} != 1 global summary row")

    // mem_peak_bytes is the store's own memoryUsedBytes. For the two
    // RocksDB-backed twins (perUserQuota, runningUserTotalsTws) it is
    // run-to-run noise: two runs of one tree printed 79216 and 79232,
    // and 86368 and 86400. A comparison with another tree's JSON sets
    // those two fields aside; no bound reads them.
    val twins = Seq(
      ("sessionGaps", pSess, s""""bound_users":$nUsers"""),
      ("errorRateHourly", pEr, s""""bound_hours":$nHours"""),
      ("semanticDup", pSem, s""""bound_buckets":$bucketBound"""),
      ("semanticDupInt8", pSem8,
        f""""bound_buckets":$bucketBound,"recall_vs_full":$recall%.4f,"precision_vs_full":$precision%.4f"""),
      ("perUserQuota", pQuota, s""""bound_users":$nUsers"""),
      ("transitionEdges", pTrans, s""""bound_users":$nUsers"""),
      ("streamingAttribution", pAttr, s""""bound_users":$nUsers"""),
      ("strictFunnelHits", pFun, s""""bound_users":$nUsers"""),
      ("runningLabelCentroids", pCent, s""""bound_labels":$nLabels"""),
      ("hourlyCounts", pHc, s""""bound_hour_types":$nHourTypes"""),
      ("dedupEvents", pDd, s""""bound_ids":$nIds"""),
      ("newVsReturningFlags", pNvr, s""""bound_users":$nUsers"""),
      ("runningUserTotalsTws", pTot, s""""bound_users":$nUsers"""),
      ("streamingTopKByType", pTopk, s""""bound_types":$nTypes"""),
      ("streamingNearDupFlags", pNd, s""""bound_buckets":$nBuckets"""),
      ("streamingHeavyHitters", pHh, """"bound_summaries":1"""))
    twins.map { case (n, p, bound) =>
      s""""$n":{"batches":${p.rows.size},"rows_final":${p.rows.last},""" +
        s""""rows_peak":${p.rows.max},"mem_peak_bytes":${p.mem.max},$bound}"""
    }.mkString(",") + ","
    } // twinsBody

    // 16-17c write their sinks under four temp dirs, deleted in the
    // finally that closes sinkBody — also when a section throws.
    val Seq(curDir, cadDir, grpDir, gcadDir) =
      Seq("probe_curate", "probe_curate_cad", "probe_groups", "probe_groups_cad")
        .map(java.nio.file.Files.createTempDirectory(_).toString)
    val sinkBody: String = try {
    // 16. curateToSink: the ingest-to-sink funnel keeps NO state-store
    // state at all — corpus-growing dedup state lives in the parquet
    // sink's digest and band changelogs, partitioned by batch_id so
    // per-batch reads prune to prior batches' directories. Bounds:
    //   - stateOperators empty in every progress row;
    //   - sink digest rows == distinct md5 over quality-passing docs
    //     (batch-computed expectation — exact, replay-order-free);
    //   - band rows == bands(4) × digest rows (signatures of exactly
    //     the fresh-digest docs);
    //   - one batch_id directory per micro-batch (the partition-prune
    //     unit the batch_id < batchId state filter relies on).
    val cur = new CurateStream.SinkTables(curDir)
    def docStream(m: MemoryStream[(Long, String, String, String)]) =
      m.toDF().toDF("doc_id", "source", "lang", "text")
    val curProg = feed(spark, chunks, docRows)(m =>
      CurateStream.curateToSink(docStream(m), curDir))
    val curBatches = curProg.size
    val curStoreRows = curProg.map(_.stateOperators.map(_.numRowsTotal).sum).sum
    check(curStoreRows == 0,
      s"curateToSink keeps $curStoreRows state-store rows — state must live in the sink")
    val curDig = cur.digests.read(spark).count()
    val curBands = cur.bands.read(spark).count()
    val curDocs = CurateStream.sinkDocs(spark, curDir).count()
    val expDig = graft.operators.TextAnalysis.gopherKeep(docsDf)
      .filter(col("keep") && col("doc_id").isNotNull)
      .select(org.apache.spark.sql.functions.md5(col("text"))).distinct().count()
    check(curDig == expDig,
      s"curateToSink sink digests $curDig != batch-expected distinct digests $expDig")
    check(curBands == 4 * curDig,
      s"curateToSink band rows $curBands != 4 x digest rows $curDig")
    check(curDocs <= curDig,
      s"curateToSink accepted docs $curDocs > admitted digests $curDig")
    val curDirs = cur.digests.batchIds(spark).size
    check(curDirs == curBatches,
      s"curateToSink digest state has $curDirs batch_id dirs != $curBatches batches")

    // 16b. curate-state compaction (round 15): collapse the three state
    // changelogs to baseline + newest and re-verify every read
    // face. The per-batch cost a production stream pays is ONE full
    // scan of each state table (the map-only probe side), so the
    // timed full-scan of digests+bands pre/post compact IS the
    // per-batch scan cost delta the verdict asked to measure.
    def timedStateScan(): (Long, Long) = {
      val t0 = System.nanoTime()
      val n = cur.digests.read(spark).count() + cur.bands.read(spark).count()
      (n, (System.nanoTime() - t0) / 1000000L)
    }
    val curManPre = CurateStream.sinkManifest(spark, curDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (curScanRowsPre, curScanMsPre) = timedStateScan()
    CurateStream.compact(spark, curDir)
    val (curScanRowsPost, curScanMsPost) = timedStateScan()
    check(curScanRowsPost == curScanRowsPre,
      s"curate compaction changed state row count: $curScanRowsPre -> $curScanRowsPost")
    check(CurateStream.sinkDocs(spark, curDir).count() == curDocs,
      "curate compaction changed the accepted-doc count")
    val curManPost = CurateStream.sinkManifest(spark, curDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    check(curManPost == curManPre, "curate compaction changed the shard manifest")
    val curDirsC = cur.state.map(_.batchIds(spark).size)
    check(curDirsC.forall(d => d <= 2 || curBatches <= 2),
      s"curate compaction left $curDirsC batches (want baseline + newest)")

    // 16c. CADENCED curate compaction (round 16): the same ingest run
    // with compactEvery set — nothing calls compact() by hand; the
    // foreachBatch hook must bound the changelog ON ITS OWN (the
    // round-15 verdict's "a 100 TB ingest accumulates one batch dir
    // per micro-batch until an operator remembers" gap). Bounds:
    //   - batches ≤ baseline + compactEvery (the residual
    //     window since the last cadence firing), and strictly fewer
    //     than one-per-batch when the run spans a firing;
    //   - every read face identical to the uncadenced run's: digest
    //     count, accepted docs, shard manifest.
    val cadEvery = 3
    val cad = new CurateStream.SinkTables(cadDir)
    val cadBatches = feed(spark, chunks, docRows)(m =>
      CurateStream.curateToSink(docStream(m), cadDir, compactEvery = cadEvery)).size
    val cadDirs = cad.state.map(_.batchIds(spark).size)
    check(cadDirs.forall(_ <= 1 + cadEvery),
      s"cadenced curate left $cadDirs batches (> baseline + $cadEvery)")
    check(cadBatches <= cadEvery || cadDirs.forall(_ < cadBatches),
      s"cadenced curate never compacted: $cadDirs dirs over $cadBatches batches")
    check(cad.digests.read(spark).count() == expDig,
      "cadenced curate digest count diverges from the uncadenced run")
    check(CurateStream.sinkDocs(spark, cadDir).count() == curDocs,
      "cadenced curate accepted-doc count diverges from the uncadenced run")
    val cadMan = CurateStream.sinkManifest(spark, cadDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    check(cadMan == curManPre,
      "cadenced curate shard manifest diverges from the uncadenced run")

    // 17. groupsToSink (incremental CC): like curateToSink, ZERO
    // state-store rows — the doc→root changelog lives in the parquet
    // sink, partitioned by batch_id. Bounds:
    //   - stateOperators empty in every progress row;
    //   - final sinkGroups mapping EQUALS batch connectedGroups over
    //     all pairs (confluence — no arrival-order caveat);
    //   - per-doc changelog rows ≤ batches (a doc writes only when
    //     its root CHANGES, and a root changes at most once per
    //     batch — the union-by-min rewrite amortization, observed);
    //   - one batch_id directory per micro-batch.
    val grpRoots = GroupStream.roots(grpDir)
    val grpPairsDf = graft.operators.Dedup.minhashNearDupsMd5(docsDf)
      .select("doc_a", "doc_b")
    val grpPairs = grpPairsDf
      .orderBy(org.apache.spark.sql.functions.md5(
        concat_ws(":", col("doc_a"), col("doc_b"))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def pairStream(m: MemoryStream[(Long, Long)]) = m.toDF().toDF("doc_a", "doc_b")
    val grpProg = feed(spark, chunks, grpPairs)(m =>
      GroupStream.groupsToSink(pairStream(m), grpDir))
    val grpBatches = grpProg.size
    val grpStoreRows = grpProg.map(_.stateOperators.map(_.numRowsTotal).sum).sum
    check(grpStoreRows == 0,
      s"groupsToSink keeps $grpStoreRows state-store rows — state must live in the sink")
    val grpGot = GroupStream.sinkGroups(spark, grpDir)
    val grpExp = graft.operators.Dedup.connectedGroups(grpPairsDf)
    // set equality needs BOTH checks: distinct-union == expected rows
    // (no wrong rows) AND equal cardinality (no missing rows)
    val grpDiff = (grpGot.unionByName(grpExp).distinct().count() - grpExp.count()) +
      math.abs(grpGot.count() - grpExp.count())
    check(grpDiff == 0,
      s"groupsToSink mapping diverges from batch connectedGroups by $grpDiff rows")
    val grpLog = grpRoots.read(spark)
    val grpLogRows = grpLog.count()
    val grpDocs = grpLog.select("doc_id").distinct().count()
    val grpMaxPerDoc = grpLog.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .agg(org.apache.spark.sql.functions.max("c")).collect().head.getLong(0)
    check(grpMaxPerDoc <= grpBatches,
      s"groupsToSink: a doc wrote $grpMaxPerDoc changelog rows > $grpBatches batches")
    val grpDirs = grpRoots.batchIds(spark).size
    check(grpDirs == grpBatches,
      s"groupsToSink changelog has $grpDirs batch_id dirs != $grpBatches batches")

    // 17b. compaction at scale (round 14): collapse the changelog and
    // re-verify — the mapping must be IDENTICAL, the batch count must
    // drop to baseline + newest, and the row count to ≤ docs + newest
    // batch's rows (min(root) per doc baseline).
    GroupStream.compact(spark, grpDir)
    val grpGotC = GroupStream.sinkGroups(spark, grpDir)
    val grpDiffC = (grpGotC.unionByName(grpExp).distinct().count() - grpExp.count()) +
      math.abs(grpGotC.count() - grpExp.count())
    check(grpDiffC == 0,
      s"groupsToSink mapping diverges from batch CC by $grpDiffC rows AFTER compaction")
    val grpDirsC = grpRoots.batchIds(spark).size
    check(grpDirsC <= 2 || grpBatches <= 2,
      s"compaction left $grpDirsC batches (want baseline + newest)")
    val grpLogRowsC = grpRoots.read(spark).count()
    check(grpLogRowsC <= grpLogRows,
      s"compaction grew the changelog: $grpLogRows -> $grpLogRowsC rows")

    // 17c. CADENCED changelog compaction for the CC sink — same
    // contract as 16c: the foreachBatch hook alone must bound the
    // changelog, and the final mapping must still equal batch CC.
    val gcadBatches = feed(spark, chunks, grpPairs)(m =>
      GroupStream.groupsToSink(pairStream(m), gcadDir, compactEvery = cadEvery)).size
    val gcadDirs = GroupStream.roots(gcadDir).batchIds(spark).size
    check(gcadDirs <= 1 + cadEvery,
      s"cadenced groups left $gcadDirs batches (> baseline + $cadEvery)")
    check(gcadBatches <= cadEvery || gcadDirs < gcadBatches,
      s"cadenced groups never compacted: $gcadDirs dirs over $gcadBatches batches")
    val gcadGot = GroupStream.sinkGroups(spark, gcadDir)
    val gcadDiff = (gcadGot.unionByName(grpExp).distinct().count() - grpExp.count()) +
      math.abs(gcadGot.count() - grpExp.count())
    check(gcadDiff == 0,
      s"cadenced groups mapping diverges from batch CC by $gcadDiff rows")

    val curBody =
      s""""curateToSink":{"batches":$curBatches,"state_store_rows":$curStoreRows,""" +
        s""""sink_digest_rows":$curDig,"expected_digest_rows":$expDig,""" +
        s""""sink_band_rows":$curBands,"sink_docs":$curDocs,"batch_dirs":$curDirs,""" +
        s""""state_scan_ms_pre_compact":$curScanMsPre,""" +
        s""""state_scan_ms_post_compact":$curScanMsPost,""" +
        s""""compacted_dirs":${curDirsC.max},""" +
        s""""cadence_every":$cadEvery,"cadence_batches":$cadBatches,""" +
        s""""cadence_dirs":${cadDirs.max}}"""
    val grpBody =
      s""""groupsToSink":{"batches":$grpBatches,"state_store_rows":$grpStoreRows,""" +
        s""""changelog_rows":$grpLogRows,"distinct_docs":$grpDocs,""" +
        s""""max_rows_per_doc":$grpMaxPerDoc,"batch_dirs":$grpDirs,""" +
        s""""mapping_diff_vs_batch_cc":$grpDiff,""" +
        s""""compacted_rows":$grpLogRowsC,"compacted_dirs":$grpDirsC,""" +
        s""""mapping_diff_after_compact":$grpDiffC,""" +
        s""""cadence_every":$cadEvery,"cadence_batches":$gcadBatches,""" +
        s""""cadence_dirs":$gcadDirs,"cadence_mapping_diff":$gcadDiff}"""
    s"$curBody,$grpBody"
    } finally Seq(curDir, cadDir, grpDir, gcadDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    println(s"""{"metric":"stream_state","sf":"$sfDir","chunks":$chunks,$twinsBody$sinkBody}""")
    failures.foreach(f => println(s"BOUND VIOLATED: $f"))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
