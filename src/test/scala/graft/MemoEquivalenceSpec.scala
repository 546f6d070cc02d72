package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Dedup, DedupSpec, Graph, Similarity, TextAnalysis}

/** Differential guard for the materialize-once wiring: every registry
  * key served from a [[Materialized]] memo must return exactly the
  * rows of its operator composed over an un-memoized input, written
  * out here. The memo is a pure caching layer — if a future rewiring
  * feeds a consumer a pair table built with different parameters
  * (threshold, hashes, bands), this is the spec that catches it, per
  * key, with row-level diffs.
  */
class MemoEquivalenceSpec extends SparkSpec {

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def check(key: String, direct: DataFrame): Unit = {
    val served = SparkEntry.queries(key)(spark, sf0001)
    assert(rowsOf(served) === rowsOf(direct), s"memo-served $key diverges from direct")
  }

  test("dedup family memo paths equal their direct computations") {
    val docs = Tables.documents(spark, sf0001)
    val emb = Tables.embeddings(spark, sf0001)
    val minhashPairs = Dedup.minhashNearDupsMd5(docs)
    val simhashGroups = Dedup.connectedGroups(Dedup.simhashMd5NearDups(docs))
    check("dedup_minhash_md5", minhashPairs)
    check("dedup_ngram_jaccard", DedupSpec.jaccardPairs(docs))
    check("dedup_ngram_containment",
      Dedup.containmentFromCounts(Dedup.ngramPairCounts(docs)))
    check("dedup_simhash_md5_neardups", Dedup.simhashMd5NearDups(docs))
    check("dedup_source_matrix", Dedup.crossSourceNearDups(docs, minhashPairs))
    check("dedup_split_leakage", Dedup.splitLeakage(minhashPairs))
    check("dedup_lex_vs_sem", Dedup.lexicalVsSemantic(emb, minhashPairs))
    check("dedup_minhash_est_error",
      Dedup.minhashEstErrorMd5(docs, minhashPairs, shingleK = 5, numHashes = 16))
    check("dedup_lsh_recall",
      Dedup.lshRecallAudit(docs, DedupSpec.jaccardPairs(docs), shingleK = 5,
        numHashes = 16, bands = 4))
    check("dedup_cluster_stats",
      Dedup.clusterStats(docs, Dedup.connectedGroups(minhashPairs)))
    check("dedup_groups_md5", simhashGroups)
    check("dedup_cluster_best", Dedup.clusterRepresentatives(docs, simhashGroups))
    check("dedup_cluster_size_hist", Dedup.clusterSizeHistogram(simhashGroups))
    check("dedup_prefix_pairs", DedupSpec.prefixPairs(docs))
    check("dedup_prefix_pair_bands",
      Dedup.prefixFilterPairBands(Dedup.prefixFilterScored(docs, threshold = 0.6,
        sampleMod = 5, maxBucket = 1024)))
  }

  test("graph audits over the n-gram pair memo equal their direct computations") {
    val pairs = DedupSpec.jaccardPairs(Tables.documents(spark, sf0001))
    check("dedup_pagerank", Graph.pageRank(pairs))
    check("dedup_triangles", Graph.triangleStats(pairs))
    check("dedup_degree_hist", Graph.degreeHistogram(pairs))
    check("dedup_kcore", Graph.kCorePeel(pairs))
    check("dedup_assortativity", Graph.assortativity(pairs))
  }

  test("text family memo paths equal their direct computations") {
    val docs = Tables.documents(spark, sf0001)
    val bigrams = TextAnalysis.bigramLogProb(docs)
    val langs = TextAnalysis.languageIdRelational(docs)
    check("text_bigram_logprob", bigrams)
    check("text_ppl_by_source", TextAnalysis.pplBySource(bigrams, docs))
    check("text_unigram_logprob",
      TextAnalysis.unigramLogProb(TextAnalysis.unigramPairs(docs)))
    check("text_lang_id_rel", langs)
    check("text_lang_confusion", TextAnalysis.langConfusionMatrix(langs))
  }

  test("relational family memo paths equal their direct computations") {
    check("q_copurchase_lift_capped", queries.Relational.copurchaseLiftCapped(
      queries.Relational.cappedBaskets(Tables.lineitem(spark, sf0001))))
  }

  test("similarity family memo paths equal their direct computations") {
    val pairs = Similarity.cosineNearDupPairs(Tables.embeddings(spark, sf0001),
      threshold = 0.2, nTables = 4, bitsPerTable = 8)
    check("sim_cosine_neardup", pairs)
    check("sim_semantic_groups", Similarity.semanticGroups(pairs))
    check("sim_threshold_sweep", Similarity.thresholdSweep(pairs))
  }
}
