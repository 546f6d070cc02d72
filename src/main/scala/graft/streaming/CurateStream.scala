package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup, Lsh, TextAnalysis}

/** Streaming ingest-to-sink curation: the continuously-ingesting face
  * of [[graft.operators.Curation.curatePipeline]]'s document stages —
  * quality gate → exact dedup → near-dup LSH dedup — with survivors
  * landing in a parquet sink and a shard manifest maintained per
  * micro-batch. This is the shape a crawl pipeline actually runs: new
  * documents arrive forever, each batch is curated AGAINST EVERYTHING
  * ALREADY ACCEPTED, and the dataloader-facing manifest is always
  * current. (Reference analogue: the ingest-compute-export round trip
  * of `/root/reference/tests/test_bearly.py:23-39`, run continuously.)
  *
  * Per micro-batch (`foreachBatch` — the escape hatch that hands each
  * finalized micro-batch to ordinary DataFrame code):
  *   1. quality   — [[TextAnalysis.gopherKeep]]'s keep column, a
  *                  map-only filter (no join back to the doc ids);
  *   2. exact     — keep the batch-min doc_id per md5(text) digest,
  *                  then drop digests already accepted in prior
  *                  batches. The digest-state probe is two MAP-ONLY
  *                  joins: state ⋈ broadcast(batch digests) finds the
  *                  collisions (a batch-sized set), then the batch
  *                  anti-joins that broadcast — the corpus-sized state
  *                  never shuffles;
  *   3. near-dup  — the SAME code as the batch op: banded md5-MinHash
  *                  signatures ([[Dedup.md5BandedSignatures]]), the
  *                  pair kernel and agreement score
  *                  ([[graft.operators.Lsh]]) and the keep-min rule
  *                  ([[Dedup.nonRepresentatives]]), so stream and batch
  *                  agree bit-for-bit by construction. Candidates are
  *                  (seen ∪ batch) × batch band collisions with the
  *                  batch side BROADCAST (the band state never
  *                  shuffles) and no bucket cap;
  *   4. sink      — survivors append to `outDir/docs/batch_id=<id>`,
  *                  band + digest state to `outDir/_state/...`, and a
  *                  per-batch shard-manifest DELTA (content-addressed
  *                  shard assignment, [[Curation.shardId]] as in
  *                  [[graft.operators.Curation.curatePipeline]] stage
  *                  7) to `outDir/manifest_delta/batch_id=<id>` — the
  *                  current manifest is the nShards-row sum over
  *                  deltas ([[sinkManifest]]), never a rescan of the
  *                  corpus.
  *
  * Exactly-once on top of at-least-once replay: every write targets
  * its own `batch_id=<id>` directory with `overwrite` (the standard
  * idempotent-foreachBatch pattern), so a restarted batch replaces its
  * own output — sink, state, and delta alike — instead of duplicating.
  *
  * Replay pin (the spec's contract): under monotone doc_id ingest the
  * sink's survivor set equals the batch pipeline's post-near-dup
  * survivor set (stage 3 of `curatePipeline`) whenever (a) no band
  * bucket among exact-dedup survivors exceeds the batch op's
  * `maxBucket` flood cap (the stream admits every arrival; the batch
  * op caps buckets at 1024 by ascending doc_id — below the cap both
  * admit everything, and gate-SF corpora are far below it), and (b)
  * every non-minimal member of a near-dup component pairs with some
  * SMALLER-id doc (true for the clique-shaped components that
  * near-copy duplication produces, and for any path through already-
  * seen docs — band state keeps every seen doc, dropped or kept). A
  * component whose only link to its minimum runs through a FUTURE
  * arrival is kept by the stream (it cannot un-emit) — the stream's
  * survivor set is a superset of the batch set in exactly that case,
  * the same online-vs-offline divergence every streaming dedup has.
  *
  * Shape at 100 TB: per batch, the corpus-sized state tables are
  * scanned once each, map-only (both probes broadcast the batch
  * side); candidate scoring and CC run on batch-sized frames. A
  * production deployment buckets `_state/bands` by band_key and
  * `_state/digests` by digest so those scans partition-prune to the
  * buckets the batch actually touches; state growth is one row per
  * accepted digest and `bands` rows per screened doc — linear in the
  * corpus, spread across batch_id files (compact periodically, as any
  * streaming-state table). Bucket floods degrade per-batch join cost,
  * not memory — cap admission per bucket exactly like the batch op if
  * ingest can flood (the [[EventStreams.streamingSemanticDupFlags]]
  * keyed-state first-k pattern).
  */
object CurateStream {

  private val bandStateSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("signature", ArrayType(LongType)),
    StructField("band_idx", IntegerType),
    StructField("band_key", StringType)))

  private val digestStateSchema = StructType(Seq(
    StructField("digest", StringType)))

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("lang", StringType),
    StructField("text", StringType)))

  private val manifestDeltaSchema = StructType(Seq(
    StructField("shard_id", LongType),
    StructField("n_docs", LongType),
    StructField("n_chars", LongType)))

  /** Start the ingest-to-sink curation stream over `docs` (columns
    * doc_id, source, lang, text). See object scaladoc for semantics;
    * parameters mirror [[Dedup.minhashNearDupsMd5]]'s defaults so the
    * replay pin composes with `curatePipeline`'s stage 3.
    */
  def curateToSink(docs: DataFrame, outDir: String,
                   shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
                   threshold: Double = 0.5, nShards: Int = 16,
                   checkpointDir: Option[String] = None,
                   compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      // DURABLE checkpoint, co-located with the sink by default: with
      // a temp checkpoint a restarted stream resets batchId to 0, so
      // the state reads' batch_id<batchId prune hides ALL prior state
      // (duplicates re-admitted) and the batch_id=0 docs/state/
      // manifest dirs are overwritten (silent loss). The per-batch
      // idempotent-overwrite contract only gives exactly-once when
      // batch ids are durable across restarts.
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"$outDir/_checkpoint"))
      // compactEvery > 0 opts into CADENCED state compaction — without
      // it a 100 TB ingest accumulates one changelog dir per
      // micro-batch until an operator remembers to run compact() by
      // hand. Both hooks run INSIDE foreachBatch, i.e. between
      // micro-batches with no concurrent readers — exactly compact()'s
      // documented window: heal() first (a crash inside a previous
      // in-batch compaction replays this batch, and recovery must land
      // before the state reads), the compaction itself after the
      // batch's own writes, so the just-written dir is the untouched
      // newest and a replay of THIS batch still reads
      // `batch_id < batchId` — the compacted baseline.
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (compactEvery > 0) heal(batch.sparkSession, outDir)
        curateBatch(batch, batchId, outDir, shingleK, numHashes, bands,
          threshold, nShards)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(batch.sparkSession, outDir)
      }
      .start()

  /** One micro-batch of the funnel — package-visible so the replay
    * spec can also drive it directly against crafted batches.
    */
  private[graft] def curateBatch(batch: Dataset[Row], batchId: Long,
                                 outDir: String, shingleK: Int,
                                 numHashes: Int, bands: Int,
                                 threshold: Double, nShards: Int): Unit = {
    val spark = batch.sparkSession
    val d0 = batch.select(col("doc_id"), col("source"), col("lang"), col("text"))

    // 1. quality gate (map-only); a null doc_id is dropped, as the
    // batch funnel's semi-join on doc_id drops it
    val d1 = TextAnalysis.gopherKeep(d0)
      .filter(col("keep") && col("doc_id").isNotNull).drop("keep")

    // 2. exact dedup: batch-min per digest, minus already-seen digests.
    // Both state joins broadcast the BATCH side so the corpus-sized
    // digest state is scanned map-only, never shuffled.
    val withDig = d1.withColumn("digest", md5(col("text")))
    val batchKeep = withDig.groupBy("digest").agg(min("doc_id").as("doc_id"))
      .localCheckpoint(false)
    val seenDig = StateCompaction.readTable(spark, s"$outDir/_state/digests",
      digestStateSchema, batchId)
    val digHits = seenDig
      .join(broadcast(batchKeep.select("digest")), Seq("digest"), "left_semi")
    val fresh = batchKeep.join(broadcast(digHits), Seq("digest"), "left_anti")
      .localCheckpoint(false)
    val d2 = withDig.join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
      .drop("digest")

    // 3. near-dup: identical banded signatures and pair kernel as the
    // batch op, uncapped; the candidate join probes (seen ∪ batch) with
    // the batch side broadcast, then the same keep-min rule.
    val bb = Dedup.md5BandedSignatures(d2, shingleK, numHashes, bands)
      .select("doc_id", "signature", "band_idx", "band_key")
      .localCheckpoint(false)
    val seenBands = StateCompaction.readTable(spark, s"$outDir/_state/bands",
      bandStateSchema, batchId)
    val pairs = Lsh.bucketPairs(seenBands.unionByName(bb), broadcast(bb),
        Seq("band_idx", "band_key"), "doc_id", "signature", "est_jaccard",
        Lsh.agreement(_, _, numHashes), _ >= threshold)
      .select("doc_a", "doc_b")
    val drops = Dedup.nonRepresentatives(pairs)
    val d3 = d2.join(drops, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)

    // 4. sink + state + manifest delta, each idempotent per batch_id
    d3.write.mode("overwrite").parquet(s"$outDir/docs/batch_id=$batchId")
    fresh.select("digest").write.mode("overwrite")
      .parquet(s"$outDir/_state/digests/batch_id=$batchId")
    bb.write.mode("overwrite")
      .parquet(s"$outDir/_state/bands/batch_id=$batchId")
    d3.select(Curation.shardId(col("text"), nShards).as("shard_id"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .write.mode("overwrite")
      .parquet(s"$outDir/manifest_delta/batch_id=$batchId")
    ()
  }

  /** The accepted corpus so far (doc_id, source, lang, text); empty
    * before the first micro-batch commits.
    */
  def sinkDocs(spark: SparkSession, outDir: String): DataFrame =
    StateCompaction.readTable(spark, s"$outDir/docs", docsSchema)

  /** The current shard manifest: an nShards-row sum over the per-batch
    * deltas — reading it never rescans the corpus. Empty before the
    * first micro-batch commits.
    */
  def sinkManifest(spark: SparkSession, outDir: String): DataFrame =
    StateCompaction.readTable(spark, s"$outDir/manifest_delta", manifestDeltaSchema)
      .groupBy("shard_id")
      .agg(sum("n_docs").as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("shard_id")

  /** Recovery-only sweep over the three state tables — finishes or
    * discards any crashed compaction attempt without starting a new
    * one. The cadenced stream calls this at the top of every
    * micro-batch; cheap (a few existence checks) when there is nothing
    * to heal.
    */
  def heal(spark: SparkSession, outDir: String): Unit = {
    StateCompaction.recoverTable(spark, s"$outDir/_state/digests")
    StateCompaction.recoverTable(spark, s"$outDir/_state/bands")
    StateCompaction.recoverTable(spark, s"$outDir/manifest_delta")
  }

  /** Compact the three per-batch state changelogs — the maintenance
    * operation the object scaladoc prescribes ("compact periodically,
    * as any streaming-state table"), made executable with the same
    * crash-safe protocol as [[GroupStream.compact]]
    * ([[StateCompaction]]: target id recorded with the committed tmp,
    * in-progress marker fencing every read/write face, checked
    * renames). All-but-newest `batch_id=<id>` dirs collapse to one
    * baseline dir; the newest is never touched (it is the only batch
    * Structured Streaming can replay, and its replay reads
    * `batch_id < maxId` — exactly the baseline). Each table's reduce
    * is subsumption-sound:
    *   - `_state/digests`: set semantics — `distinct` over prior dirs
    *     is the same seen-set (a digest row's only meaning is
    *     membership);
    *   - `_state/bands`: one deterministic row per (doc_id, band_idx)
    *     — docs enter exactly one batch, so the union is already
    *     duplicate-free and the dropDuplicates is defensive;
    *   - `manifest_delta`: sums over an abelian group — per-shard
    *     partial sums replace the deltas they cover.
    * Run with the stream stopped (or between micro-batches) and no
    * concurrent readers; a crashed compact is healed by the next call,
    * and until then every state face throws instead of silently
    * reading a half-deleted changelog. The `docs/` sink itself is data,
    * not state, and is never compacted.
    */
  def compact(spark: SparkSession, outDir: String): Unit = {
    StateCompaction.compactTable(spark, s"$outDir/_state/digests",
      digestStateSchema, _.distinct())
    StateCompaction.compactTable(spark, s"$outDir/_state/bands",
      bandStateSchema, _.dropDuplicates("doc_id", "band_idx"))
    StateCompaction.compactTable(spark, s"$outDir/manifest_delta",
      manifestDeltaSchema,
      _.groupBy("shard_id").agg(sum("n_docs").as("n_docs"),
        sum("n_chars").as("n_chars")))
  }
}
