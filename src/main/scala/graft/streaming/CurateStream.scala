package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup, Lsh, TextAnalysis}
import graft.streaming.StateCompaction.Changelog

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
  *   4. sink      — survivors append to the `docs` changelog, band +
  *                  digest state to theirs, and a per-batch
  *                  shard-manifest DELTA (content-addressed shard
  *                  assignment, [[Curation.shardId]] as in
  *                  [[graft.operators.Curation.curatePipeline]] stage
  *                  7) to `manifestDelta` — the current manifest is
  *                  the nShards-row sum over deltas ([[sinkManifest]]),
  *                  never a rescan of the corpus. The four writes
  *                  commit concurrently ([[StateCompaction.writeBatch]])
  *                  and all of them end before the batch returns.
  *
  * Exactly-once on top of at-least-once replay: every write is one
  * idempotent batch dir of a [[StateCompaction.Changelog]], so a
  * restarted batch replaces its own output — sink, state, and delta
  * alike — instead of duplicating.
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
  * production deployment buckets the `bands` state by band_key and
  * the `digests` state by digest so those scans partition-prune to the
  * buckets the batch actually touches; state growth is one row per
  * accepted digest and `bands` rows per screened doc — linear in the
  * corpus, spread across batch_id files (compact periodically, as any
  * streaming-state table). Bucket floods degrade per-batch join cost,
  * not memory — cap admission per bucket exactly like the batch op if
  * ingest can flood (the [[EventStreams.streamingSemanticDupFlags]]
  * keyed-state first-k pattern).
  */
object CurateStream {

  /** The sink's four changelogs under `outDir`, each declared once. */
  private[graft] final class SinkTables(outDir: String) {
    /** The accepted corpus: data, not state, so never compacted. */
    val docs = Changelog(s"$outDir/docs", StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("lang", StringType),
      StructField("text", StringType))))

    /** Accepted digests. Set semantics: `distinct` over prior dirs is
      * the same seen-set (a row's only meaning is membership).
      */
    val digests = Changelog(s"$outDir/_state/digests",
      StructType(Seq(StructField("digest", StringType))),
      Some(_.distinct()))

    /** Band signatures of every screened doc: one deterministic row per
      * (doc_id, band_idx), and docs enter exactly one batch, so the
      * union is already duplicate-free; the dropDuplicates is defensive.
      */
    val bands = Changelog(s"$outDir/_state/bands", StructType(Seq(
        StructField("doc_id", LongType),
        StructField("signature", ArrayType(LongType)),
        StructField("band_idx", IntegerType),
        StructField("band_key", StringType))),
      Some(_.dropDuplicates("doc_id", "band_idx")))

    /** Per-batch shard-manifest deltas: sums over an abelian group, so
      * per-shard partial sums replace the deltas they cover.
      */
    val manifestDelta = Changelog(s"$outDir/manifest_delta", StructType(Seq(
        StructField("shard_id", LongType),
        StructField("n_docs", LongType),
        StructField("n_chars", LongType))),
      Some(_.groupBy("shard_id").agg(sum("n_docs").as("n_docs"),
        sum("n_chars").as("n_chars"))))

    /** The compacted tables, in compaction order. */
    val state: Seq[Changelog] = Seq(digests, bands, manifestDelta)
  }

  /** Start the ingest-to-sink curation stream over `docs` (columns
    * doc_id, source, lang, text). See object scaladoc for semantics;
    * parameters mirror [[Dedup.minhashNearDupsMd5]]'s defaults so the
    * replay pin composes with `curatePipeline`'s stage 3.
    * `compactEvery > 0` compacts the state after every `compactEvery`
    * batches ([[StateCompaction.sinkStream]]).
    */
  def curateToSink(docs: DataFrame, outDir: String,
                   shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
                   threshold: Double = 0.5, nShards: Int = 16,
                   compactEvery: Int = 0): StreamingQuery =
    StateCompaction.sinkStream(docs, outDir, new SinkTables(outDir).state,
        compactEvery) { (batch, batchId) =>
      curateBatch(batch, batchId, outDir, shingleK, numHashes, bands,
        threshold, nShards)
    }

  /** One micro-batch of the funnel — package-visible so the replay
    * spec can also drive it directly against crafted batches.
    */
  private[graft] def curateBatch(batch: Dataset[Row], batchId: Long,
                                 outDir: String, shingleK: Int,
                                 numHashes: Int, bands: Int,
                                 threshold: Double, nShards: Int): Unit = {
    val spark = batch.sparkSession
    val sink = new SinkTables(outDir)
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
    val seenDig = sink.digests.read(spark, batchId)
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
    val seenBands = sink.bands.read(spark, batchId)
    val pairs = Lsh.bucketPairs(seenBands.unionByName(bb), broadcast(bb),
        Seq("band_idx", "band_key"), "doc_id", "signature", "est_jaccard",
        Lsh.agreement(_, _, numHashes), _ >= threshold)
      .select("doc_a", "doc_b")
    val drops = Dedup.nonRepresentatives(pairs)
    // eager: two of the concurrent writes below read d3, and a lazy cut
    // read by concurrent jobs is computed by each of them. `fresh` and
    // `bb` stay lazy: each feeds one write, and computing d3 (through d2
    // and the pairs' broadcast) has already stored both.
    val d3 = d2.join(drops, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // 4. sink + state + manifest delta, each idempotent per batch_id,
    // committed concurrently; all four end before the batch returns
    StateCompaction.writeBatch(batchId,
      sink.docs -> d3,
      sink.digests -> fresh.select("digest"),
      sink.bands -> bb,
      sink.manifestDelta -> d3
        .select(Curation.shardId(col("text"), nShards).as("shard_id"),
          length(col("text")).cast("long").as("n_chars"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars")))
  }

  /** The accepted corpus so far (doc_id, source, lang, text); empty
    * before the first micro-batch commits.
    */
  def sinkDocs(spark: SparkSession, outDir: String): DataFrame =
    new SinkTables(outDir).docs.read(spark)

  /** The current shard manifest: an nShards-row sum over the per-batch
    * deltas — reading it never rescans the corpus. Empty before the
    * first micro-batch commits.
    */
  def sinkManifest(spark: SparkSession, outDir: String): DataFrame =
    new SinkTables(outDir).manifestDelta.read(spark)
      .groupBy("shard_id")
      .agg(sum("n_docs").as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("shard_id")

  /** Compact the three state changelogs by [[StateCompaction]]'s
    * snapshot-then-collect protocol, each through the reduce declared
    * beside it in [[SinkTables]]. The `docs` sink itself is data, not state, and is
    * never compacted.
    */
  def compact(spark: SparkSession, outDir: String): Unit =
    new SinkTables(outDir).state.foreach(_.compact(spark))
}
