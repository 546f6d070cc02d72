package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline: the composition a real
  * 100 TB pretraining run ships, assembled from the already-verified
  * stage operators (reference analogue: the round-trip composition
  * pattern of `/root/reference/tests/test_bearly.py:23-39`, widened to
  * the full curation funnel).
  *
  * Stages, in order (each consumes the previous stage's survivors):
  *   0. raw            — the corpus as read
  *   1. quality        — [[TextAnalysis.gopherKeep]]'s keep gate
  *   2. exact          — [[Dedup.exact]] digest dedup, keep min doc_id
  *   3. neardup        — [[Dedup.minhashNearDupsMd5]] pairs →
  *                       [[Dedup.nonRepresentatives]]: keep each
  *                       cluster's min doc_id
  *   4. decontam       — [[Dedup.decontaminate]]: drop the modulo
  *                       eval stand-in AND train docs sharing an
  *                       8-shingle with it (eval side derived from the
  *                       stage-3 survivor set; a production run feeds
  *                       the real benchmark table instead)
  *   5. resample       — [[TextAnalysis.mixResample]] language-mix
  *                       downsampling (weights computed on the
  *                       surviving corpus, as a real run would)
  *   6. pack           — [[TextAnalysis.packSequences]]: n_units =
  *                       number of (source, pack_id) packs
  *   7. shard          — content-addressed shard assignment
  *                       ([[shardId]], as [[Multimodal.shardManifest]]):
  *                       n_units = distinct shards touched
  *
  * Output: one row per stage — (stage_idx, stage, n_units, n_docs,
  * n_tokens), the funnel report a curation run publishes. n_docs /
  * n_tokens are the surviving corpus at that stage (tokens =
  * whitespace split, the [[TextAnalysis.packSequences]] definition);
  * n_units equals n_docs for document stages and packs/shards for the
  * layout stages. Each stage also registers an `observe` metric
  * (`curate_s<idx>_<stage>`, row count) so a driver can read the
  * funnel from `QueryExecution.observedMetrics` without re-running
  * anything.
  *
  * Shape at 100 TB: every stage is one of the individually-audited
  * operators — digest-only shuffles for dedup (text never crosses the
  * wire), banded Σ min(bucket, cap)² LSH work, broadcast-sized weight
  * and eval-signature tables, one window shuffle for packing. The
  * funnel rows are 1-row global aggregates; repeated stage subtrees
  * share work through Spark's exchange reuse. A production run would
  * persist each stage's survivor ids (the [[graft.Materialized]]
  * parquet face) instead of recomputing the chain per consumer.
  *
  * Building the frame runs Spark jobs: the per-doc token counts and
  * the survivor-id sets of stages 1-5 are eager `localCheckpoint`s,
  * so `curatePipeline` computes them before it returns, and a caller
  * that only reads the plan ([[graft.Explain]], `PlanAuditSpec`) pays
  * for them too.
  */
object Curation {

  /** Content-addressed shard of `content` (a string or binary
    * column): its first 8 md5 hex chars mod `nShards`, so placement is
    * reproducible on any cluster, independent of row order or ids.
    * Stage 7 below, [[graft.streaming.CurateStream]]'s manifest and
    * [[Multimodal.shardManifest]] all place rows with it.
    */
  def shardId(content: Column, nShards: Int): Column =
    pmod(conv(substring(md5(content), 1, 8), 16, 10).cast("long"), lit(nShards.toLong))

  def curatePipeline(documents: DataFrame, budget: Int = 2048,
                     nShards: Int = 16, scale: Double = 0.5,
                     evalModulo: Int = 50, shingleK: Int = 8): DataFrame = {
    val d0 = documents.select(col("doc_id"), col("source"), col("lang"), col("text"))
    val ntok = size(split(col("text"), " ", -1)).cast("long")
    // The funnel ROWS only need (count, Σ tokens) of each stage's
    // survivors — tokenize the corpus ONCE into a narrow per-doc count
    // table (a few MB of longs, same eager-checkpoint treatment as the
    // survivor-ID sets) instead of re-splitting the full text per stage
    // row: the sf10 plan held one tokenize scan per funnel row, 7 total.
    // The stage OPERATORS still read the text they filter, unchanged.
    val meta = d0.select(col("doc_id"), ntok.as("n_tok")).localCheckpoint(true)

    val keep1 = TextAnalysis.gopherKeep(d0).filter(col("keep") && col("doc_id").isNotNull)
      .select("doc_id").localCheckpoint(true)
    val d1 = d0.join(keep1, Seq("doc_id"), "left_semi")

    val keep2 = Dedup.exactKeepIds(d1).localCheckpoint(true)
    val d2 = d0.join(keep2, Seq("doc_id"), "left_semi")

    val drops3 = Dedup.nonRepresentatives(
      Dedup.minhashNearDupsMd5(d2).select("doc_a", "doc_b"))
    // the funnel's 8 union branches each reference the survivor chain;
    // without a cut point Spark re-derives the expensive LSH-CC and
    // shingle-join subtrees per branch (exchange reuse only catches
    // identical exchanges, not the whole chain). Checkpointing just
    // the narrow survivor-ID sets (a few thousand longs) makes every
    // later stage a cheap semi-join against the one scan. Eager: a lazy
    // cut runs its last stage inside the first consumers' concurrent
    // jobs, and each of them computes the blocks (the same race as
    // `Dedup.prefixFilterScored`'s cut).
    val ids3 = d2.join(drops3, Seq("doc_id"), "left_anti")
      .select("doc_id").localCheckpoint(true)
    val d3 = d2.join(ids3, Seq("doc_id"), "left_semi")

    val keep4 = Dedup.decontaminate(d3, evalModulo, shingleK)
      .filter(!col("contaminated")).select("doc_id")
    val ids4 = ids3.join(keep4, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val d4 = d2.join(ids4, Seq("doc_id"), "left_semi")

    val keep5 = TextAnalysis.mixResample(d4, scale).select("doc_id")
    val ids5 = ids4.join(keep5, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val d5 = d2.join(ids5, Seq("doc_id"), "left_semi")

    // Funnel rows aggregate the narrow `meta` table semi-joined with the
    // stage's survivor IDs — identical counts/sums to aggregating the
    // full-text stage frame, without its tokenize scan.
    def docRow(idx: Int, name: String, m: DataFrame): DataFrame =
      m.observe(s"curate_s${idx}_$name", count(lit(1)).as("n_rows"))
        .agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
        .select(lit(idx).cast("int").as("stage_idx"), lit(name).as("stage"),
          col("n_units"), col("n_units").as("n_docs"), col("n_tokens"))
    def metaOf(ids: DataFrame): DataFrame =
      meta.join(ids, Seq("doc_id"), "left_semi")

    // the two layout stages: units are packs / shards, docs+tokens are
    // the final surviving corpus (unchanged by layout)
    val d5Totals = metaOf(ids5).agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
    val packRow = TextAnalysis.packSequences(d5, budget)
      .observe("curate_s6_pack", count(lit(1)).as("n_rows"))
      .agg(count(lit(1)).as("n_units"))
      .crossJoin(broadcast(d5Totals))
      .select(lit(6).cast("int").as("stage_idx"), lit("pack").as("stage"),
        col("n_units"), col("n_docs"), col("n_tokens"))
    val shardRow = d5
      .select(shardId(col("text"), nShards).as("shard_id"))
      .distinct()
      .observe("curate_s7_shard", count(lit(1)).as("n_rows"))
      .agg(count(lit(1)).as("n_units"))
      .crossJoin(broadcast(d5Totals))
      .select(lit(7).cast("int").as("stage_idx"), lit("shard").as("stage"),
        col("n_units"), col("n_docs"), col("n_tokens"))

    docRow(0, "raw", meta)
      .unionAll(docRow(1, "quality", metaOf(keep1)))
      .unionAll(docRow(2, "exact", metaOf(keep2)))
      .unionAll(docRow(3, "neardup", metaOf(ids3)))
      .unionAll(docRow(4, "decontam", metaOf(ids4)))
      .unionAll(docRow(5, "resample", metaOf(ids5)))
      .unionAll(packRow)
      .unionAll(shardRow)
      .orderBy("stage_idx")
  }
}
