package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.streaming.StateCompaction.Changelog

/** Streaming connected components: the continuously-ingesting face of
  * [[Dedup.connectedGroups]] — near-dup candidate PAIRS arrive forever
  * (e.g. the band-collision output of [[CurateStream]]'s stage 3, or
  * any LSH/similarity pair feed) and the doc→group mapping is kept
  * current after every micro-batch, without a full-corpus CC rerun.
  *
  * State design — a sink-resident root CHANGELOG, not a keyed state
  * store. Union-find is inherently cross-key (merging components
  * rewrites OTHER keys' roots), which `transformWithState`'s
  * per-key-isolated state cannot express, and the doc→root map grows
  * with the corpus — the exact shape the repo keeps OUT of the state
  * store ([[CurateStream]] precedent: state stores hold bounded
  * per-key state; corpus-growing state lives in the parquet sink).
  * The changelog ([[roots]]) holds rows
  * `(doc_id, root)` written only when a doc's root CHANGES; because
  * roots are component minima and merges only ever lower them, a
  * doc's current root is `min(root)` over its rows — the read face
  * ([[sinkGroups]]) is one corpus-sized groupBy at READ time, never
  * per batch.
  *
  * Per micro-batch (all frames batch-bounded unless noted):
  *   1. roots of batch-touched docs: the corpus-sized changelog is
  *      probed MAP-ONLY (semi-join against the broadcast batch node
  *      set) and only the touched subset aggregates;
  *   2. batch edges collapse to ROOT-level edges (two broadcast
  *      joins against the touched-root map) and
  *      [[Dedup.connectedGroups]] runs on that root graph — work is
  *      O(batch), independent of corpus size, and a batch whose
  *      merges are near-dup clusters resolves in one contract-then-
  *      check round;
  *   3. the resulting `old_root → new_root` remap (merged components
  *      only) rewrites members: one more MAP-ONLY changelog scan
  *      against the broadcast remap finds every doc whose current
  *      root merged away. Stale rows cannot match: a remap key is a
  *      CURRENT root of some touched doc, and any superseded root
  *      value was itself rewritten when it merged (so it is current
  *      for nothing). Amortized rewrite volume over the stream's
  *      life is the classic union-by-min bound — each doc rewrites
  *      only when its component's minimum drops;
  *   4. new nodes land with their resolved root; changed members and
  *      new nodes append as the batch's own changelog dir (idempotent
  *      overwrite — the [[CurateStream]] exactly-once contract,
  *      durable checkpoint included).
  *
  * Order independence: unlike the admission twins, NO arrival-order
  * assumption is needed — union-find is confluent, so any pair
  * arrival order converges to the batch CC answer. The replay spec
  * pins `sinkGroups == connectedGroups(all pairs)` exactly.
  *
  * Shape at 100 TB: per batch, two map-only scans of the changelog
  * (both probe sides broadcast, batch-sized) and a batch-bounded CC;
  * the changelog grows by one row per doc plus one per root change
  * (compact periodically by rewriting `min(root)` per doc, as any
  * streaming-state table). A production deployment buckets the
  * changelog by doc_id so the read face's groupBy is shuffle-free.
  */
object GroupStream {

  /** The doc→root changelog under `outDir`. Compaction keeps
    * `min(root)` per doc, which is subsumption-sound because roots only
    * ever decrease: min over prior rows IS the state as of the newest
    * batch's start.
    */
  private[graft] def roots(outDir: String): Changelog =
    Changelog(s"$outDir/_state/roots", StructType(Seq(
        StructField("doc_id", LongType),
        StructField("root", LongType))),
      Some(_.groupBy("doc_id").agg(min("root").as("root"))))

  /** Start the incremental-CC stream over `pairs` (columns doc_a,
    * doc_b, read as longs) into `outDir`: each micro-batch runs the four
    * steps of the object scaladoc and appends one idempotent
    * [[roots]] dir, so [[sinkGroups]] equals [[Dedup.connectedGroups]]
    * over every pair seen so far. `compactEvery > 0` compacts the
    * changelog after every `compactEvery` batches
    * ([[StateCompaction.sinkStream]]).
    */
  def groupsToSink(pairs: DataFrame, outDir: String,
                   compactEvery: Int = 0): StreamingQuery =
    StateCompaction.sinkStream(pairs, outDir, Seq(roots(outDir)), compactEvery)(
      groupBatch(_, _, outDir))

  /** One micro-batch of incremental union-find — package-visible so
    * the replay spec and state probe drive it directly.
    */
  private[graft] def groupBatch(batch: Dataset[Row], batchId: Long,
                                outDir: String): Unit = {
    val spark = batch.sparkSession
    val changelog = roots(outDir)
    // every cut is eager: a lazy one is computed again by each
    // concurrent job that reads it before the first one finishes
    val e = batch
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .localCheckpoint(true)
    val nodes = e.select(col("doc_a").as("doc_id"))
      .union(e.select(col("doc_b").as("doc_id")))
      .distinct()
      .localCheckpoint(true)

    // 1. current roots of touched docs: map-only probe of the
    // corpus-sized changelog (batch node set broadcast), then a
    // batch-sized aggregate — min(root) IS the latest root because
    // merges only ever lower a doc's root
    val log = changelog.read(spark, batchId)
    val touched = log.join(broadcast(nodes), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(min("root").as("root"))
      .localCheckpoint(true)
    val prov = nodes.join(touched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("prov_root"))
      .localCheckpoint(true)

    // 2. root-level union graph + batch-bounded CC (keep-min rule —
    // identical group_id convention to the batch operator)
    val rootEdges = e
      .join(prov.select(col("doc_id").as("doc_a"), col("prov_root").as("ra")),
        Seq("doc_a"))
      .join(prov.select(col("doc_id").as("doc_b"), col("prov_root").as("rb")),
        Seq("doc_b"))
      .select(col("ra").as("doc_a"), col("rb").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    val remap = Dedup.connectedGroups(rootEdges)
      .filter(col("group_id") =!= col("doc_id"))
      .select(col("doc_id").as("old_root"), col("group_id").as("new_root"))
      .localCheckpoint(true)

    // 3. members of merged components: second map-only changelog scan
    // (remap broadcast); only CURRENT roots can match (see scaladoc)
    val memberRewrites = log
      .join(broadcast(remap), log("root") === remap("old_root"))
      .select(col("doc_id"), col("new_root").as("root"))
      .dropDuplicates("doc_id")

    // 4. new nodes with their resolved root; one idempotent batch dir
    val newRows = nodes
      .join(touched.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(prov, Seq("doc_id"))
      .join(broadcast(remap), col("prov_root") === col("old_root"), "left")
      .select(col("doc_id"),
        coalesce(col("new_root"), col("prov_root")).as("root"))
    changelog.write(memberRewrites.unionByName(newRows), batchId)
  }

  /** The current doc→group mapping — same columns and keep-min
    * semantics as [[Dedup.connectedGroups]]. One corpus-sized groupBy
    * at read time (bucket the changelog by doc_id in production to
    * make it shuffle-free); roots only decrease, so min(root) is the
    * latest value without any batch_id tie-breaking. Empty before the
    * first micro-batch commits.
    */
  def sinkGroups(spark: SparkSession, outDir: String): DataFrame =
    roots(outDir).read(spark)
      .groupBy("doc_id").agg(min("root").as("group_id"))

  /** Compact the [[roots]] changelog to `min(root)` per doc by
    * [[StateCompaction]]'s snapshot-then-collect protocol;
    * [[sinkGroups]] and every later batch's state read see identical
    * values before and after (the replay spec pins this).
    */
  def compact(spark: SparkSession, outDir: String): Unit =
    roots(outDir).compact(spark)
}
