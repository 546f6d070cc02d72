package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Bearly
import graft.operators.{Curation, Dedup, EventOps, Multimodal, Similarity, TextAnalysis}
import graft.queries.{Relational, TpchShapes}

/** text analysis / corpus statistics / curation — the `textQueries`/`textOracles` slice of the driver contract
  * (split from the single SparkEntry registry in round 9; SparkEntry
  * merges every domain trait back into the 313-key map the driver
  * reads — see [[graft.SparkEntry]]).
  */
private[graft] trait TextRegistry extends RegistryShared {
  // the per-doc bigram-LM score frame is the memo unit shared by the
  // per-doc key and the per-source rollup (the dedup-family
  // "materialize once, fan out" contract — see [[graft.Materialized]]):
  // each key rebuilding the two bigram-vocabulary shuffles cost ~43 s
  // at sf10, twice per suite (round-12 finding)
  private def bigramScoresShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "bigram_doc_logprob")(
      TextAnalysis.bigramLogProb(Tables.documents(s, d)))
  // same contract for the n-gram language classifier: the prediction
  // frame (train + profile + scoring join + argmax) is the memo unit
  // shared by the per-doc key and the confusion-matrix rollup —
  // before the split each key rebuilt it (~15 s at sf10, twice)
  private def langRelShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "langid_rel")(
      TextAnalysis.languageIdRelational(Tables.documents(s, d)))

  protected def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_curate_pipeline" -> ((s, d) => Curation.curatePipeline(Tables.documents(s, d))),
    "text_ttr" -> ((s, d) => TextAnalysis.typeTokenRatio(Tables.documents(s, d))),
    "text_jsd_drift" -> ((s, d) => TextAnalysis.jsdSourceDrift(Tables.documents(s, d))),
    "text_length_hist" -> ((s, d) => TextAnalysis.docLengthHistogram(Tables.documents(s, d))),
    "text_heaps_fit" -> ((s, d) => TextAnalysis.heapsLawFit(Tables.documents(s, d))),
    "text_vocab_overlap" -> ((s, d) => TextAnalysis.sourceVocabOverlap(Tables.documents(s, d))),
    "text_token_count" -> ((s, d) => TextAnalysis.tokenCount(Tables.documents(s, d))),
    "text_lang_confusion" -> ((s, d) =>
      TextAnalysis.langConfusionMatrix(langRelShared(s, d))),
    "text_code_detect" -> ((s, d) => TextAnalysis.codeDetect(Tables.documents(s, d))),
    "text_gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(Tables.documents(s, d))),
    "text_lang_source_mix" -> ((s, d) => TextAnalysis.langSourceMix(Tables.documents(s, d))),
    "text_quality_vs_dup" -> ((s, d) => TextAnalysis.qualityVsDup(Tables.documents(s, d))),
    "text_word_burstiness" -> ((s, d) => TextAnalysis.wordBurstiness(Tables.documents(s, d))),
    "text_mix_diversity" -> ((s, d) => TextAnalysis.mixDiversity(Tables.documents(s, d))),
    "text_temperature_weights" -> ((s, d) =>
      TextAnalysis.temperatureWeights(Tables.documents(s, d))),
    "text_common_openings" -> ((s, d) => TextAnalysis.commonOpenings(Tables.documents(s, d))),
    "text_vocab_coverage" -> ((s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d))),
    "text_stopword_profile" -> ((s, d) => TextAnalysis.stopwordProfile(Tables.documents(s, d))),
    "text_decontaminate" -> ((s, d) => Dedup.decontaminate(Tables.documents(s, d))),
    // --- text analysis ---
    "text_stats" -> ((s, d) => TextAnalysis.textStats(Tables.documents(s, d))),
    "text_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(Tables.documents(s, d))),
    "text_quality_by_source" -> ((s, d) => TextAnalysis.qualityBySource(Tables.documents(s, d))),
    "text_lang_id" -> ((s, d) => TextAnalysis.languageId(Tables.documents(s, d))),
    "text_lang_id_rel" -> ((s, d) =>
      langRelShared(s, d).orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    "text_top_words" -> ((s, d) => TextAnalysis.topWords(Tables.documents(s, d))),
    "text_bpe_merges" -> ((s, d) => TextAnalysis.bpeMergeCandidates(Tables.documents(s, d))),
    "text_heavy_tokens" -> ((s, d) => TextAnalysis.heavyHitterTokens(Tables.documents(s, d))),
    "text_pmi_bigrams" -> ((s, d) => TextAnalysis.pmiBigrams(Tables.documents(s, d))),
    "text_dsir_weights" -> ((s, d) => TextAnalysis.dsirWeights(Tables.documents(s, d))),
    "text_ppl_by_source" -> ((s, d) =>
      TextAnalysis.pplBySource(bigramScoresShared(s, d), Tables.documents(s, d))),
    "text_zipf_slope" -> ((s, d) => TextAnalysis.zipfSlope(Tables.documents(s, d))),
    "text_inverted_index" -> ((s, d) => TextAnalysis.invertedIndex(Tables.documents(s, d))),
    "text_pii_scrub" -> ((s, d) => TextAnalysis.piiScrub(Tables.documents(s, d))),
    "text_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(Tables.documents(s, d))),
    "text_dataset_split" -> ((s, d) => TextAnalysis.datasetSplit(Tables.documents(s, d))),
    "text_hash_sample" -> ((s, d) => TextAnalysis.hashSample(Tables.documents(s, d))),
    "text_topk_by_source" -> ((s, d) => TextAnalysis.topKBySource(Tables.documents(s, d))),
    // pair table memoized (round-13 ADVICE: the per-query lazy
    // checkpoint stacked a session-lifetime heap pin per CALL in suite
    // context; the memo builds it once, and the sink face keeps it in
    // parquet instead of executor blocks)
    "text_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(
      Materialized.of(s, d, "unigram_pairs")(
        TextAnalysis.unigramPairs(Tables.documents(s, d))))),
    "text_tfidf" -> ((s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d))),
    "text_bm25" -> ((s, d) => TextAnalysis.bm25Search(Tables.documents(s, d))),
    "text_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(Tables.documents(s, d))),
    "text_oov_rate" -> ((s, d) => TextAnalysis.oovRate(Tables.documents(s, d))),
    "text_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(Tables.documents(s, d))),
    "text_group_sample" -> ((s, d) => TextAnalysis.groupSample(Tables.documents(s, d))),
    "text_mix_resample" -> ((s, d) => TextAnalysis.mixResample(Tables.documents(s, d))),
    "text_mix_weights" -> ((s, d) => TextAnalysis.mixWeights(Tables.documents(s, d))),
    "text_bigram_logprob" -> ((s, d) =>
      bigramScoresShared(s, d).orderBy(
        org.apache.spark.sql.functions.col("doc_id"))),
    "text_repetition" -> ((s, d) => TextAnalysis.repetitionSignals(Tables.documents(s, d))),
    "text_chunking" -> ((s, d) => TextAnalysis.chunkDocuments(Tables.documents(s, d))),
    "text_stratified_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d))),
    "text_weighted_sample" -> ((s, d) => TextAnalysis.weightedSample(Tables.documents(s, d))),
    "text_char_entropy" -> ((s, d) => TextAnalysis.charEntropy(Tables.documents(s, d))),
    "text_ngram_diversity" -> ((s, d) => TextAnalysis.ngramDiversity(Tables.documents(s, d))),
    "text_hapax_by_source" -> ((s, d) => TextAnalysis.hapaxBySource(Tables.documents(s, d))),
    "text_curriculum" -> ((s, d) => TextAnalysis.curriculumBuckets(Tables.documents(s, d))),
    "text_word_len_profile" -> ((s, d) => TextAnalysis.wordLenProfile(Tables.documents(s, d))),
    "text_source_keywords" -> ((s, d) => TextAnalysis.sourceKeywords(Tables.documents(s, d))),
    "text_simhash_topk" -> ((s, d) => Dedup.simhashHammingTopK(Tables.documents(s, d))),
    "text_bigram_entropy" -> ((s, d) => TextAnalysis.bigramEntropyRate(Tables.documents(s, d))),
    "text_skipgram_pmi" -> ((s, d) => TextAnalysis.skipgramPmi(Tables.documents(s, d))),
    "text_mattr" -> ((s, d) => TextAnalysis.mattrBySource(Tables.documents(s, d))),
    "text_rake_keywords" -> ((s, d) => TextAnalysis.rakeKeywords(Tables.documents(s, d))),
    "text_readability" -> ((s, d) => TextAnalysis.readabilityBySource(Tables.documents(s, d))),
  )


  /** Shared CTE chain for the relational language-ID oracles —
    * mirrors [[graft.operators.TextAnalysis.languageIdRelational]]
    * (modulo-8 train/holdout split, 300-gram profiles, weighted-rank
    * scoring, argmax with the fast path's tiebreak). Ends with a
    * `pred(doc_id, true_lang, pred_lang, score)` CTE over the
    * holdout.
    */
  private val langIdRelChain: String =
    """lowered AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
      |tg AS (SELECT doc_id, lang,
      |              unnest(list_transform(range(1, length(t) - 1),
      |                     i -> substr(t, CAST(i AS INTEGER), 3))) AS gram
      |       FROM lowered),
      |train AS (SELECT lang, gram, count(*) AS cnt FROM tg
      |          WHERE doc_id % 8 = 0 GROUP BY 1, 2),
      |prof AS (SELECT lang AS plang, gram, 301 - rank AS wt FROM (
      |           SELECT lang, gram,
      |                  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
      |           FROM train) r
      |         WHERE rank <= 300),
      |scores AS (SELECT tg.doc_id, plang, CAST(sum(wt) AS BIGINT) AS score
      |           FROM tg JOIN prof USING (gram)
      |           WHERE tg.doc_id % 8 = 1 GROUP BY 1, 2),
      |best AS (SELECT doc_id, plang, score FROM (
      |           SELECT doc_id, plang, score,
      |                  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
      |           FROM scores WHERE score > 0) b
      |         WHERE rn = 1),
      |pred AS (SELECT d.doc_id, d.lang AS true_lang,
      |                coalesce(b.plang, 'und') AS pred_lang,
      |                CAST(coalesce(b.score, 0) AS BIGINT) AS score
      |         FROM documents d LEFT JOIN best b USING (doc_id)
      |         WHERE d.doc_id % 8 = 1)""".stripMargin

  /** Oracle for [[graft.operators.Curation.curatePipeline]]: the full
    * funnel re-derived as one CTE chain — gopher keep → exact-digest
    * keep-min → minhash banded pairs (≥ 0.5) → recursive-CTE closure
    * keep-min → modulo-eval decontamination → language-mix hash
    * resample → pack / shard layout counts — then one 1-row aggregate
    * per stage, unioned. Each stage reads the one before it several
    * times, so the chain is materialized.
    */
  private def curatePipelineOracle: String = {
    val stop = TextAnalysis.gopherStopwords.map(w => s"'$w'").mkString(", ")
    val tok = "CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)"
    materializeCtes(s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, source, lang, text FROM documents),
       |gw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws FROM d0),
       |gs AS (SELECT doc_id, len(ws) AS n_words,
       |              CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS sum_len,
       |              len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
       |              len(list_filter(ws, x -> list_contains([$stop], x))) AS n_stop
       |       FROM gw),
       |keep1 AS (SELECT doc_id FROM gs
       |          WHERE n_words >= 5 AND n_words <= 100000
       |            AND CAST(sum_len AS DOUBLE) / n_words >= 3.0
       |            AND CAST(sum_len AS DOUBLE) / n_words <= 10.0
       |            AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AND n_stop >= 2),
       |d1 AS (SELECT d0.* FROM d0 JOIN keep1 USING (doc_id)),
       |ex AS (SELECT min(doc_id) AS doc_id FROM d1 GROUP BY md5(text)),
       |d2 AS (SELECT d1.* FROM d1 JOIN ex USING (doc_id)),
       |${minhashPairCtes("d2")},
       |nd AS (SELECT doc_a, doc_b FROM (
       |  SELECT doc_a, doc_b,
       |         round(len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0, 6) AS ej
       |  FROM pairs) q WHERE ej >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS nb FROM nd UNION SELECT doc_b, doc_a FROM nd),
       |reach(a, nb) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) seeds
       |  UNION
       |  SELECT r.a, e.nb FROM reach r JOIN edges e ON r.nb = e.a),
       |grp AS (SELECT a AS doc_id, min(nb) AS g FROM reach GROUP BY 1),
       |drops AS (SELECT doc_id FROM grp WHERE doc_id <> g),
       |d3 AS (SELECT d2.* FROM d2
       |       WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d2.doc_id)),
       |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d3),
       |dsh AS (SELECT doc_id,
       |               list_distinct(CASE WHEN len(ws) >= 8
       |                 THEN list_transform(range(0, len(ws)-7),
       |                        i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+8 AS INTEGER)], ' '))
       |                 ELSE [] END) AS shs
       |        FROM dw),
       |es AS (SELECT DISTINCT unnest(shs) AS sh FROM dsh WHERE doc_id % 50 = 0),
       |ts AS (SELECT doc_id, unnest(shs) AS sh FROM dsh WHERE doc_id % 50 <> 0),
       |contam AS (SELECT DISTINCT ts.doc_id FROM ts JOIN es USING (sh)),
       |d4 AS (SELECT d3.* FROM d3 WHERE doc_id % 50 <> 0
       |         AND NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = d3.doc_id)),
       |m AS (SELECT lang, count(*) AS n_docs FROM d4 GROUP BY 1),
       |t5 AS (SELECT lang, n_docs, sum(n_docs) OVER () AS n_total,
       |         CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2 WHEN 'es' THEN 0.15
       |                   WHEN 'fr' THEN 0.1 WHEN 'de' THEN 0.05 ELSE 0.0 END AS tgt
       |       FROM m),
       |w5 AS (SELECT lang,
       |         CAST(round(least(round(tgt / (CAST(n_docs AS DOUBLE) / n_total), 6) * 0.5,
       |                          1.0) * 10000) AS INTEGER) AS cut
       |       FROM t5),
       |d5 AS (SELECT d4.* FROM d4 JOIN w5 USING (lang)
       |       WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
       |                  % 10000 AS INTEGER) < cut),
       |pc AS (SELECT source, doc_id,
       |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |              sum(CAST(len(string_split(text, ' ')) AS BIGINT))
       |                OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM d5),
       |packs AS (SELECT DISTINCT source,
       |                 CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id FROM pc),
       |shards AS (SELECT DISTINCT CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 16
       |                    AS shard_id FROM d5),
       |tot5 AS (SELECT count(*) AS n_docs, $tok AS n_tokens FROM d5)
       |SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
       |       count(*) AS n_units, count(*) AS n_docs, $tok AS n_tokens FROM d0
       |UNION ALL SELECT 1, 'quality', count(*), count(*), $tok FROM d1
       |UNION ALL SELECT 2, 'exact', count(*), count(*), $tok FROM d2
       |UNION ALL SELECT 3, 'neardup', count(*), count(*), $tok FROM d3
       |UNION ALL SELECT 4, 'decontam', count(*), count(*), $tok FROM d4
       |UNION ALL SELECT 5, 'resample', count(*), count(*), $tok FROM d5
       |UNION ALL SELECT 6, 'pack', (SELECT count(*) FROM packs), n_docs, n_tokens FROM tot5
       |UNION ALL SELECT 7, 'shard', (SELECT count(*) FROM shards), n_docs, n_tokens FROM tot5
       |ORDER BY stage_idx""".stripMargin)
  }

  protected def textOracles: Map[String, String] = Map(
    "text_curate_pipeline" -> curatePipelineOracle,
    // relational twin of the mapPartitions language-ID fast path:
    // same trigram profile (train on doc_id%8=0, top-300 per lang by
    // cnt desc/gram asc, weight 301-rank), same argmax tiebreaks
    "text_lang_id_rel" ->
      s"""WITH $langIdRelChain
        |SELECT doc_id, true_lang, pred_lang, score FROM pred
        |ORDER BY doc_id""".stripMargin,
    // the classifier chain's holdout predictions × the labeled lang
    "text_lang_confusion" ->
      s"""WITH $langIdRelChain
        |SELECT true_lang, pred_lang, count(*) AS n,
        |       CAST(max(CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
        |         AS correct
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_vocab_overlap" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |     sw AS (SELECT DISTINCT source, w FROM t WHERE len(w) > 0),
        |     sz AS (SELECT source, count(*) AS n_types FROM sw GROUP BY 1),
        |     ov AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        |            FROM sw a JOIN sw b USING (w)
        |            WHERE a.source < b.source GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common,
        |       round(CAST(n_common AS DOUBLE) / (za.n_types + zb.n_types - n_common), 6)
        |         AS vocab_jaccard
        |FROM ov JOIN sz za ON za.source = ov.source_a
        |        JOIN sz zb ON zb.source = ov.source_b
        |ORDER BY 1, 2""".stripMargin,
    // per-doc symbol-density score ('g' flag: DuckDB replaces first
    // match by default, Spark replaces all)
    "text_code_detect" ->
      """WITH s AS (
        |  SELECT source,
        |         round(CAST(length(text) -
        |               length(regexp_replace(text, '[{}\[\]();=<>#|&*_]', '', 'g')) AS DOUBLE)
        |               / length(text), 6) AS code_score
        |  FROM documents WHERE length(text) > 0)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN code_score >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_code_like,
        |       round(CAST(sum(CASE WHEN code_score >= 0.05 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS code_share,
        |       round(avg(code_score), 6) AS avg_code_score
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // RE2-safe pre-tokenizer: letter/digit/punct runs — disjoint
    // character classes, so Java and RE2 split identically
    "text_token_count" ->
      """WITH t AS (
        |  SELECT source,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')) AS n_tok,
        |         len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS n_words
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(sum(n_words) AS BIGINT) AS n_words,
        |       round(CAST(sum(n_tok) AS DOUBLE) / sum(n_words), 6) AS tokens_per_word
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // same rule expressions as TextAnalysis.gopherRules; keep is
    // decided on the unrounded ratios in both engines
    "text_gopher_rules" -> {
      val stop = graft.operators.TextAnalysis.gopherStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT doc_id,
         |                  list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |           FROM documents),
         |s AS (SELECT doc_id,
         |             len(ws) AS n_words,
         |             CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS sum_len,
         |             len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         |             len(list_filter(ws, x -> list_contains([$stop], x))) AS n_stop
         |      FROM w)
         |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
         |       CASE WHEN n_words > 0
         |            THEN round(CAST(sum_len AS DOUBLE) / n_words, 4) END AS mean_word_len,
         |       CASE WHEN n_words > 0
         |            THEN round(CAST(n_alpha AS DOUBLE) / n_words, 6) END AS frac_alpha,
         |       CAST(n_stop AS INTEGER) AS n_stop,
         |       (n_words >= 5 AND n_words <= 100000 AND
         |        CAST(sum_len AS DOUBLE) / n_words >= 3.0 AND
         |        CAST(sum_len AS DOUBLE) / n_words <= 10.0 AND
         |        CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AND
         |        n_stop >= 2) AS keep
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "text_lang_source_mix" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1, 2),
        |totals AS (SELECT source, sum(n_docs) AS n_src FROM cells GROUP BY 1)
        |SELECT c.source, c.lang, c.n_docs, c.n_chars,
        |       round(CAST(c.n_docs AS DOUBLE) / t.n_src, 6) AS share
        |FROM cells c JOIN totals t USING (source)
        |ORDER BY c.source, c.lang""".stripMargin,
    // gopher keep flag × exact-digest dup membership, two-row rollup
    "text_quality_vs_dup" -> {
      val stop = graft.operators.TextAnalysis.gopherStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT doc_id,
         |                  list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |           FROM documents),
         |s AS (SELECT doc_id,
         |             len(ws) AS n_words,
         |             CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS sum_len,
         |             len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         |             len(list_filter(ws, x -> list_contains([$stop], x))) AS n_stop
         |      FROM w),
         |k AS (SELECT doc_id,
         |             (n_words >= 5 AND n_words <= 100000 AND
         |              CAST(sum_len AS DOUBLE) / n_words >= 3.0 AND
         |              CAST(sum_len AS DOUBLE) / n_words <= 10.0 AND
         |              CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AND
         |              n_stop >= 2) AS keep
         |      FROM s),
         |dg AS (SELECT doc_id, md5(text) AS digest FROM documents),
         |cnt AS (SELECT digest, count(*) AS n_copies FROM dg GROUP BY 1),
         |fl AS (SELECT dg.doc_id, cnt.n_copies > 1 AS is_dup
         |       FROM dg JOIN cnt USING (digest))
         |SELECT k.keep, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN fl.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       round(CAST(sum(CASE WHEN fl.is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 6) AS dup_rate
         |FROM k JOIN fl USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "text_word_burstiness" ->
      """WITH wd AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |            FROM documents),
        |c AS (SELECT word, doc_id, count(*) AS c FROM wd
        |      WHERE length(word) > 0 GROUP BY 1, 2),
        |a AS (SELECT word, CAST(sum(c) AS BIGINT) AS cf, count(*) AS df FROM c GROUP BY 1)
        |SELECT word, cf, df, round(CAST(cf AS DOUBLE) / df, 6) AS burst
        |FROM a ORDER BY cf DESC, word LIMIT 30""".stripMargin,
    // single-aggregate entropy identity per grouping dimension
    "text_mix_diversity" ->
      """WITH l AS (SELECT lang AS k, count(*) AS n FROM documents GROUP BY 1),
        |s AS (SELECT source AS k, count(*) AS n FROM documents GROUP BY 1),
        |dl AS (SELECT 'lang' AS dimension, count(*) AS n_values,
        |              CAST(sum(n) AS BIGINT) AS total_docs,
        |              sum(CAST(n AS DOUBLE) * ln(n)) AS nlogn,
        |              sum(CAST(n AS DOUBLE) * n) AS nsq FROM l),
        |ds AS (SELECT 'source' AS dimension, count(*) AS n_values,
        |              CAST(sum(n) AS BIGINT) AS total_docs,
        |              sum(CAST(n AS DOUBLE) * ln(n)) AS nlogn,
        |              sum(CAST(n AS DOUBLE) * n) AS nsq FROM s),
        |u AS (SELECT * FROM dl UNION ALL SELECT * FROM ds)
        |SELECT dimension, n_values, total_docs,
        |       round(ln(total_docs) - nlogn / total_docs, 6) AS entropy,
        |       round(exp(ln(total_docs) - nlogn / total_docs), 4) AS effective_n,
        |       round(nsq / (CAST(total_docs AS DOUBLE) * total_docs), 6) AS herfindahl
        |FROM u ORDER BY dimension""".stripMargin,
    // τ=2 temperature scaling: q ∝ √p — sqrt is correctly-rounded
    // IEEE in both engines, so no pow() parity risk
    "text_temperature_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS total FROM c),
        |p AS (SELECT source, n_docs,
        |             CAST(n_docs AS DOUBLE) / total AS p,
        |             sqrt(CAST(n_docs AS DOUBLE) / total) AS sp
        |      FROM c, t),
        |z AS (SELECT sum(sp) AS z FROM p)
        |SELECT source, n_docs, round(p, 6) AS p,
        |       round(sp / z, 6) AS q,
        |       round(sp / z / p, 4) AS upsample
        |FROM p, z ORDER BY source""".stripMargin,
    // first-k-words prefix rollup with source spread, global top-20
    "text_common_openings" ->
      """WITH o AS (SELECT source,
        |                  array_to_string(string_split(text, ' ')[1:5], ' ') AS opening,
        |                  len(string_split(text, ' ')) AS n_words
        |           FROM documents)
        |SELECT opening, count(*) AS n_docs, count(DISTINCT source) AS n_sources
        |FROM o WHERE n_words >= 5
        |GROUP BY 1 ORDER BY n_docs DESC, opening LIMIT 20""".stripMargin,
    // frequency-ranked cumulative token mass at the k grid; ks beyond
    // the vocabulary coalesce to full coverage
    "text_vocab_coverage" ->
      """WITH cnt AS (SELECT w, count(*) AS c FROM (
        |               SELECT unnest(string_split(lower(text), ' ')) AS w
        |               FROM documents) t
        |             WHERE length(w) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types FROM cnt),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk,
        |             CAST(sum(c) OVER (ORDER BY c DESC, w
        |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM cnt),
        |g AS (SELECT CAST(unnest([10, 100, 1000, 10000]) AS INTEGER) AS k)
        |SELECT k, n_types, n_tokens,
        |       coalesce(r.cum, n_tokens) AS covered_tokens,
        |       round(CAST(coalesce(r.cum, n_tokens) AS DOUBLE) / n_tokens, 6) AS coverage
        |FROM g CROSS JOIN tot LEFT JOIN r ON r.rnk = g.k
        |ORDER BY k""".stripMargin,
    "text_stopword_profile" -> {
      val stop = graft.operators.TextAnalysis.gopherStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT source,
         |                  list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |           FROM documents),
         |d AS (SELECT source, len(ws) AS n_words,
         |             len(list_filter(ws, x -> list_contains([$stop], x))) AS n_stop
         |      FROM w)
         |SELECT source, CAST(sum(n_words) AS BIGINT) AS n_words,
         |       CAST(sum(n_stop) AS BIGINT) AS n_stop,
         |       round(CAST(sum(n_stop) AS DOUBLE) / sum(n_words), 6) AS stop_rate
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "text_ttr" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |     tf AS (SELECT source, w FROM t WHERE len(w) > 0)
        |SELECT source, count(*) AS n_tokens, count(DISTINCT w) AS n_types,
        |       round(CAST(count(DISTINCT w) AS DOUBLE) / count(*), 6) AS ttr
        |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin,
    // JSD per source vs corpus over the full (source × corpus-word)
    // grid — absent words contribute only the q-side term
    "text_jsd_drift" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |     tf AS (SELECT source, w FROM t WHERE len(w) > 0),
        |     sw AS (SELECT source, w, count(*) AS c FROM tf GROUP BY 1, 2),
        |     st AS (SELECT source, sum(c) AS n_src FROM sw GROUP BY 1),
        |     cw AS (SELECT w, sum(c) AS cc FROM sw GROUP BY 1),
        |     ct AS (SELECT sum(cc) AS n_corpus FROM cw),
        |     grid AS (
        |       SELECT st.source, st.n_src, cw.w, cw.cc, ct.n_corpus,
        |              coalesce(sw.c, 0) AS c
        |       FROM st CROSS JOIN cw CROSS JOIN ct
        |       LEFT JOIN sw ON sw.source = st.source AND sw.w = cw.w),
        |     terms AS (
        |       SELECT source,
        |              CAST(c AS DOUBLE) / n_src AS p,
        |              CAST(cc AS DOUBLE) / n_corpus AS q,
        |              CASE WHEN c > 0 THEN 1 ELSE 0 END AS present
        |       FROM grid)
        |SELECT source,
        |       round(sum(CASE WHEN p > 0
        |                      THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0.0 END
        |                 + 0.5 * q * ln(2.0 * q / (p + q))), 6) AS jsd,
        |       CAST(sum(present) AS BIGINT) AS n_types
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    // bucket index = floor(log2(n_chars)) via binary digit count —
    // pure integer/string arithmetic, engine-identical at powers of 2
    "text_length_hist" ->
      """WITH b AS (SELECT source, CAST(length(bin(n_chars)) - 1 AS INTEGER) AS bucket
        |           FROM documents WHERE n_chars > 0),
        |     tot AS (SELECT source, count(*) AS n_src FROM b GROUP BY 1)
        |SELECT b.source, bucket,
        |       CAST(1 AS BIGINT) << bucket AS lo_chars,
        |       (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi_chars,
        |       count(*) AS n_docs,
        |       round(CAST(count(*) AS DOUBLE) / any_value(n_src), 6) AS share
        |FROM b JOIN tot USING (source) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the vocab-growth chain + closed-form least squares on (ln N, ln V)
    "text_heaps_fit" ->
      """WITH wd AS (SELECT CAST(ceil(CAST(max(doc_id) + 1 AS DOUBLE) / 10) AS BIGINT) AS w
        |            FROM documents),
        |tok AS (SELECT t.doc_id // wd.w AS bucket, t.word
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |              FROM documents) t, wd
        |        WHERE length(t.word) > 0),
        |nw AS (SELECT bucket, count(*) AS n_new_words FROM (
        |         SELECT word, min(bucket) AS bucket FROM tok GROUP BY 1) f
        |       GROUP BY 1),
        |tk AS (SELECT bucket, count(*) AS n_tokens FROM tok GROUP BY 1),
        |gr AS (SELECT tk.bucket,
        |              CAST(sum(tk.n_tokens) OVER (ORDER BY tk.bucket) AS BIGINT) AS cum_tokens,
        |              CAST(sum(coalesce(nw.n_new_words, 0)) OVER (ORDER BY tk.bucket) AS BIGINT) AS vocab_size
        |       FROM tk LEFT JOIN nw USING (bucket)),
        |xy AS (SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x, ln(CAST(vocab_size AS DOUBLE)) AS y
        |       FROM gr WHERE cum_tokens > 0 AND vocab_size > 0),
        |s AS (SELECT count(*) AS n_points, avg(x) AS xb, avg(y) AS yb,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy),
        |b AS (SELECT *, (sxy - n_points * xb * yb) / (sxx - n_points * xb * xb) AS beta_raw FROM s)
        |SELECT n_points, round(beta_raw, 6) AS beta,
        |       round(exp(yb - beta_raw * xb), 4) AS k
        |FROM b""".stripMargin,
    "text_heavy_tokens" ->
      """SELECT tok AS token, count(*) AS est_n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
        |WHERE length(tok) > 0
        |GROUP BY 1 HAVING count(*) >= 100
        |ORDER BY est_n DESC, token""".stripMargin,
    "text_bpe_merges" ->
      """WITH w AS (SELECT word, count(*) AS n FROM (
        |             SELECT unnest(string_split(lower(text), ' ')) AS word
        |             FROM documents) t
        |           WHERE length(word) >= 2 GROUP BY 1),
        |p AS (SELECT n,
        |             unnest(list_transform(range(1, length(word)),
        |                    i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
        |      FROM w)
        |SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
        |FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30""".stripMargin,
    "text_vocab_growth" ->
      """WITH wd AS (SELECT CAST(ceil(CAST(max(doc_id) + 1 AS DOUBLE) / 10) AS BIGINT) AS w
        |            FROM documents),
        |tok AS (SELECT t.doc_id // wd.w AS bucket, t.word
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |              FROM documents) t, wd
        |        WHERE length(t.word) > 0),
        |nw AS (SELECT bucket, count(*) AS n_new_words FROM (
        |         SELECT word, min(bucket) AS bucket FROM tok GROUP BY 1) f
        |       GROUP BY 1),
        |tk AS (SELECT bucket, count(*) AS n_tokens FROM tok GROUP BY 1)
        |SELECT tk.bucket, tk.n_tokens,
        |       CAST(coalesce(nw.n_new_words, 0) AS BIGINT) AS n_new_words,
        |       CAST(sum(tk.n_tokens) OVER (ORDER BY tk.bucket) AS BIGINT) AS cum_tokens,
        |       CAST(sum(coalesce(nw.n_new_words, 0)) OVER (ORDER BY tk.bucket) AS BIGINT)
        |         AS vocab_size
        |FROM tk LEFT JOIN nw USING (bucket) ORDER BY bucket""".stripMargin,
    "text_top_words" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE length(word) > 0
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    // eval set = doc_id % 50 = 0; k=8 word shingles; one row per train doc
    "text_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |shl AS (SELECT doc_id,
        |               list_distinct(CASE WHEN len(ws) >= 8
        |                 THEN list_transform(range(0, len(ws)-7),
        |                        i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+8 AS INTEGER)], ' '))
        |                 ELSE [] END) AS shs
        |        FROM w),
        |es AS (SELECT DISTINCT unnest(shs) AS sh FROM shl WHERE doc_id % 50 = 0),
        |ts AS (SELECT doc_id, unnest(shs) AS sh FROM shl WHERE doc_id % 50 <> 0),
        |shared AS (SELECT doc_id, count(*) AS n_shared FROM ts JOIN es USING (sh) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_shared, 0) AS n_shared,
        |       coalesce(n_shared, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN shared USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_hash_sample" ->
      """SELECT doc_id, bucket FROM (
        |  SELECT doc_id,
        |         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS BIGINT) % 100
        |              AS INTEGER) AS bucket
        |  FROM documents) t
        |WHERE bucket < 10 ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH d AS (SELECT doc_id,
        |            list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
        |           FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS c
        |       FROM (SELECT doc_id, unnest(ws) AS word FROM d) GROUP BY 1, 2),
        |wstat AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
        |                 max(c) AS top_word FROM wc GROUP BY 1),
        |bg AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(ws)),
        |                              i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |       FROM d),
        |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |bstat AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram
        |          FROM bc GROUP BY 1)
        |SELECT wstat.doc_id, CAST(n_words AS BIGINT) AS n_words,
        |       round(CAST(n_words - n_distinct AS DOUBLE) / n_words, 6) AS frac_dup_words,
        |       round(CAST(top_word AS DOUBLE) / n_words, 6) AS top_word_frac,
        |       coalesce(round(CAST(top_bigram AS DOUBLE) / n_bigrams, 6), 0.0)
        |         AS top_bigram_frac
        |FROM wstat LEFT JOIN bstat ON wstat.doc_id = bstat.doc_id
        |ORDER BY wstat.doc_id""".stripMargin,
    "text_chunking" ->
      """WITH d AS (SELECT doc_id,
        |            list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
        |           FROM documents),
        |n AS (SELECT doc_id, ws,
        |             CAST(greatest(ceil((len(ws) - 10) / 40.0), 1) AS BIGINT) AS nc
        |      FROM d),
        |c AS (SELECT doc_id, ws, unnest(range(0, nc)) AS chunk_id FROM n)
        |SELECT doc_id, chunk_id,
        |       CAST(len(ws[(chunk_id*40+1):(chunk_id*40+50)]) AS BIGINT) AS n_chunk_words,
        |       array_to_string(ws[(chunk_id*40+1):(chunk_id*40+50)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_stratified_sample" ->
      """SELECT doc_id, source, bucket, pct FROM (
        |  SELECT doc_id, source,
        |         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS BIGINT) % 100
        |              AS INTEGER) AS bucket,
        |         CASE WHEN COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT), 1) % 2 = 0
        |              THEN 20 ELSE 5 END AS pct
        |  FROM documents) t
        |WHERE bucket < pct ORDER BY doc_id""".stripMargin,
    // Efraimidis–Spirakis key u^(1/w): u from the SAME md5-hex
    // arithmetic both engines use for hash sampling; ordering is on
    // the raw key (identical IEEE doubles), rounding only on output.
    "text_weighted_sample" ->
      """SELECT doc_id, weight, round(key_raw, 6) AS es_key FROM (
        |  SELECT doc_id, weight, pow(u, 1.0 / weight) AS key_raw FROM (
        |    SELECT doc_id,
        |           CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS DOUBLE)
        |             AS weight,
        |           CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
        |             AS DOUBLE) / 4294967296.0 AS u
        |    FROM documents) t
        |  WHERE weight > 0
        |  ORDER BY key_raw DESC, doc_id LIMIT 100) s""".stripMargin,
    "text_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
        |         substr(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM (SELECT doc_id, text FROM documents WHERE length(text) > 0) d,
        |       unnest(range(1, length(text) + 1)) AS r(i)),
        |cc AS (SELECT doc_id, n_chars, ch, count(*) AS c FROM c GROUP BY 1, 2, 3)
        |SELECT doc_id, n_chars,
        |       round(-sum((CAST(c AS DOUBLE) / n_chars) * ln(CAST(c AS DOUBLE) / n_chars)), 6)
        |         AS entropy
        |FROM cc GROUP BY doc_id, n_chars ORDER BY doc_id""".stripMargin,
    "text_ngram_diversity" ->
      """WITH d AS (SELECT source, list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
        |           FROM documents),
        |g AS (SELECT source, n,
        |             array_to_string(ws[CAST(i + 1 AS INTEGER):CAST(i + n AS INTEGER)], ' ') AS gram
        |      FROM d, (SELECT unnest([1, 2, 3]) AS n) ns,
        |           unnest(range(0, len(ws) - CAST(n AS BIGINT) + 1)) AS r(i)
        |      WHERE len(ws) >= n)
        |SELECT source, n, count(*) AS n_total, count(DISTINCT gram) AS n_distinct,
        |       round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS diversity
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_unigram_logprob" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tt AS (SELECT doc_id, w FROM t WHERE length(w) > 0),
        |f AS (SELECT w, count(*) AS cnt FROM tt GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM tt)
        |SELECT doc_id, round(avg(ln(cnt / n_total)), 6) AS avg_logp, count(*) AS n_toks
        |FROM tt JOIN f USING (w) CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, t.term FROM documents,
        |       unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
        |  WHERE length(t.term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n_docs / df.df), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, term) AS rnk FROM scored)
        |SELECT doc_id, term, score, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, t.term FROM documents,
        |       unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
        |  WHERE length(t.term) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df,
        |              ln(1.0 + (n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf
        |       FROM tf CROSS JOIN stats GROUP BY term, n_docs),
        |part AS (
        |  SELECT tf.doc_id,
        |         df.idf * (tf.tf * 2.2) /
        |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS part
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, round(sum(part), 6) AS score
        |FROM part GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "text_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT source, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
        |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_oov_rate" ->
      """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |tt AS (SELECT * FROM t WHERE length(w) > 0),
        |v AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tt GROUP BY 1
        |                     ORDER BY cnt DESC, w LIMIT 20)),
        |d AS (SELECT doc_id, source,
        |        avg(CASE WHEN v.w IS NULL THEN 1.0 ELSE 0.0 END) AS oov
        |      FROM tt LEFT JOIN v ON tt.w = v.w GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs, round(avg(oov), 6) AS avg_oov_rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_group_sample" ->
      """SELECT doc_id, source, rnk FROM (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (PARTITION BY source
        |              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,
    "text_mix_resample" ->
      """WITH m AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT lang, n_docs, sum(n_docs) OVER () AS n_total,
        |        CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2 WHEN 'es' THEN 0.15
        |                  WHEN 'fr' THEN 0.1 WHEN 'de' THEN 0.05 ELSE 0.0 END AS tgt
        |      FROM m),
        |w AS (SELECT lang,
        |        CAST(round(least(round(tgt / (CAST(n_docs AS DOUBLE) / n_total), 6) * 0.5,
        |                         1.0) * 10000) AS INTEGER) AS cut
        |      FROM t),
        |b AS (SELECT doc_id, lang,
        |        CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |             % 10000 AS INTEGER) AS bucket
        |      FROM documents)
        |SELECT doc_id, b.lang AS lang, bucket, cut
        |FROM b JOIN w ON b.lang = w.lang
        |WHERE bucket < cut ORDER BY doc_id""".stripMargin,
    "text_mix_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT c.lang, c.n_docs,
        |             sum(n_docs) OVER () AS n_total,
        |             CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
        |                            WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
        |                            WHEN 'de' THEN 0.05 ELSE 0.0 END AS DOUBLE) AS target_share
        |      FROM c)
        |SELECT lang, n_docs,
        |       round(n_docs / n_total, 6) AS actual_share,
        |       target_share,
        |       round(target_share / (n_docs / n_total), 6) AS weight
        |FROM t ORDER BY lang""".stripMargin,
    // DSIR hashed-unigram importance ratio — same 28-bit md5 bucket
    // trick as the minhash oracles; pt/pc assembled with the exact
    // division tree Spark evaluates.
    "text_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang,
        |                     unnest(string_split(lower(text), ' ')) AS w
        |              FROM documents),
        |t2 AS (SELECT doc_id, lang,
        |              CAST(concat('0x', substr(md5(w), 1, 7)) AS BIGINT) % 1024 AS b
        |       FROM toks WHERE length(w) > 0),
        |cc AS (SELECT b, count(*) AS cc FROM t2 GROUP BY 1),
        |ct AS (SELECT b, count(*) AS ct FROM t2 WHERE lang = 'en' GROUP BY 1),
        |nc AS (SELECT CAST(sum(cc) AS BIGINT) AS n_c FROM cc),
        |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS n_t FROM ct),
        |dist AS (SELECT cc.b,
        |                CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / (nt.n_t + 1024) AS pt,
        |                CAST(cc.cc AS DOUBLE) / nc.n_c AS pc
        |         FROM cc LEFT JOIN ct ON cc.b = ct.b CROSS JOIN nc CROSS JOIN nt)
        |SELECT doc_id, count(*) AS n_toks,
        |       round(avg(ln(pt / pc)), 6) AS avg_log_ratio
        |FROM t2 JOIN dist ON t2.b = dist.b
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-doc leg is the text_bigram_logprob oracle verbatim; rollup
    // joins doc → source and averages the ROUNDED per-doc scores
    // (matching the Spark composition exactly).
    "text_ppl_by_source" ->
      """WITH t AS (SELECT doc_id,
        |            list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
        |           FROM documents),
        |bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |       FROM t, unnest(range(1, len(ws))) AS r(i)
        |       WHERE len(ws) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM cu),
        |perdoc AS (SELECT doc_id, round(avg(ln((cb + 1) / (cu + v))), 6) AS avg_logp
        |           FROM bi JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
        |           GROUP BY 1)
        |SELECT source, count(*) AS n_docs, round(avg(avg_logp), 6) AS mean_logp
        |FROM perdoc JOIN documents USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same tokenization + bigram CTEs as text_bigram_logprob; PMI
    // formula written as the identical double expression tree Spark
    // evaluates so ln/round match bit-for-bit.
    "text_pmi_bigrams" ->
      """WITH t AS (SELECT doc_id,
        |            list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
        |           FROM documents),
        |uni AS (SELECT unnest(ws) AS w FROM t),
        |cu AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
        |bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |       FROM t, unnest(range(1, len(ws))) AS r(i)
        |       WHERE len(ws) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS n_ab FROM bi GROUP BY 1, 2),
        |ntok AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tok FROM cu),
        |nbi AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM cb)
        |SELECT w1, w2, n_ab,
        |       round(ln((CAST(n_ab AS DOUBLE) / n_bi) /
        |             ((CAST(u1.cw AS DOUBLE) / n_tok) * (CAST(u2.cw AS DOUBLE) / n_tok))), 6)
        |         AS pmi
        |FROM cb
        |JOIN cu u1 ON cb.w1 = u1.w
        |JOIN cu u2 ON cb.w2 = u2.w
        |CROSS JOIN ntok CROSS JOIN nbi
        |WHERE n_ab >= 5
        |ORDER BY w1, w2""".stripMargin,
    "text_zipf_slope" ->
      """WITH head AS (
        |  SELECT w, cnt FROM (
        |    SELECT word AS w, count(*) AS cnt FROM (
        |      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
        |    WHERE length(word) > 0 GROUP BY 1)
        |  ORDER BY cnt DESC, w LIMIT 1000),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM head)
        |SELECT round(regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
        |         AS zipf_slope,
        |       round(regr_intercept(ln(CAST(cnt AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
        |         AS zipf_intercept,
        |       count(*) AS n_terms
        |FROM r""".stripMargin,
    "text_inverted_index" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |           FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM t
        |       WHERE length(term) > 0 GROUP BY 1, 2)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
        |       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY term HAVING count(*) >= 2 ORDER BY term""".stripMargin,
    "text_bigram_logprob" ->
      """WITH t AS (SELECT doc_id,
        |            list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
        |           FROM documents),
        |bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |       FROM t, unnest(range(1, len(ws))) AS r(i)
        |       WHERE len(ws) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM cu)
        |SELECT doc_id,
        |       round(avg(ln((cb + 1) / (cu + v))), 6) AS avg_logp,
        |       count(*) AS n_bigrams
        |FROM bi JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_topk_by_source" ->
      """SELECT source, rnk, doc_id, n_words FROM (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |         CAST(row_number() OVER (PARTITION BY source
        |              ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS INTEGER) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |       CAST(length(text) AS INTEGER) AS n_chars_calc,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS n_tokens,
        |       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS INTEGER) AS n_the,
        |       round((length(text) - length(replace(text, 'the', '')))
        |             / (3.0 * greatest(length(text), 1)), 6) AS the_density
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprints" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality_by_source" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(coalesce(sum(n_chars),0) AS BIGINT) AS total_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       round(avg(len(string_split(text, ' '))), 4) AS avg_words
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_pii_scrub" ->
      """SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality_filter" ->
      """SELECT doc_id,
        |       (length(text) >= 50 AND length(text) <= 100000
        |        AND len(string_split(text, ' ')) >= 10) AS keep,
        |       CASE WHEN length(text) < 50 THEN 'too_short'
        |            WHEN length(text) > 100000 THEN 'too_long'
        |            WHEN len(string_split(text, ' ')) < 10 THEN 'too_few_words'
        |            ELSE 'ok' END AS reason
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_dataset_split" ->
      """SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
        |            WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs,
        |       CAST(coalesce(sum(n_chars),0) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_hapax_by_source" ->
      """WITH w AS (SELECT source, x AS w FROM documents,
        |                unnest(string_split(lower(text), ' ')) AS u(x)
        |           WHERE length(x) > 0),
        |c AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2)
        |SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS hapax_rate
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_curriculum" -> {
      val stop = graft.operators.TextAnalysis.gopherStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, source,
         |                  list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
         |           FROM documents),
         |s AS (SELECT doc_id, source, len(ws) AS n_words,
         |             CAST(len(list_filter(ws, x -> list_contains([$stop], x)))
         |                  AS DOUBLE) / len(ws) AS score
         |      FROM d WHERE len(ws) > 0),
         |b AS (SELECT source, n_words, score,
         |             ntile(10) OVER (PARTITION BY source
         |                             ORDER BY score DESC, doc_id) AS bucket
         |      FROM s)
         |SELECT source, bucket, count(*) AS n_docs,
         |       round(avg(score), 6) AS avg_score,
         |       round(avg(CAST(n_words AS DOUBLE)), 4) AS avg_words
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "text_word_len_profile" ->
      """WITH w AS (SELECT lang, CAST(least(length(x), 15) AS INTEGER) AS word_len
        |           FROM documents, unnest(string_split(text, ' ')) AS u(x)
        |           WHERE length(x) > 0),
        |c AS (SELECT lang, word_len, count(*) AS n_words FROM w GROUP BY 1, 2)
        |SELECT lang, word_len, n_words,
        |       round(CAST(n_words AS DOUBLE)
        |             / sum(n_words) OVER (PARTITION BY lang), 6) AS share
        |FROM c ORDER BY 1, 2""".stripMargin,
    // ranking runs on the ROUNDED score so both engines break the
    // same ties by term
    "text_source_keywords" ->
      """WITH t AS (SELECT source, x AS term FROM documents,
        |                unnest(string_split(lower(text), ' ')) AS u(x)
        |           WHERE length(x) > 0),
        |tf AS (SELECT source, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
        |s AS (SELECT tf.source, tf.term, tf.tf, df.df,
        |             round(tf.tf * ln(CAST(n_sources AS DOUBLE) / df.df), 6)
        |               AS score
        |      FROM tf JOIN df USING (term) CROSS JOIN ns),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |                  ORDER BY score DESC, term) AS rnk FROM s)
        |SELECT source, rnk, term, tf, df, score
        |FROM r WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,
    "text_simhash_topk" ->
      s"""WITH $simhashMd5Cte,
         |q AS (SELECT doc_id AS qid, simhash32 AS qfp FROM fp WHERE doc_id < 10),
         |s AS (SELECT qid, f.doc_id AS cid,
         |             CAST(bit_count(xor(qfp, f.simhash32)) AS BIGINT) AS hamming
         |      FROM q CROSS JOIN fp f WHERE f.doc_id <> qid),
         |r AS (SELECT qid, cid, hamming,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY hamming, cid) AS rnk FROM s)
         |SELECT qid, rnk, cid, hamming FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,
    "text_bigram_entropy" ->
      """WITH d AS (SELECT source,
        |                  list_filter(string_split(lower(text), ' '),
        |                              x -> length(x) > 0) AS ws
        |           FROM documents),
        |p AS (SELECT source, ws[CAST(i AS INTEGER)] AS a,
        |             ws[CAST(i + 1 AS INTEGER)] AS b
        |      FROM d, unnest(range(1, len(ws))) AS u(i)
        |      WHERE len(ws) >= 2),
        |cab AS (SELECT source, a, b, count(*) AS c_ab FROM p GROUP BY 1, 2, 3),
        |ca AS (SELECT source, a, sum(c_ab) AS c_a FROM cab GROUP BY 1, 2)
        |SELECT source, CAST(sum(c_ab) AS BIGINT) AS n_bigrams,
        |       round(-sum(c_ab * ln(CAST(c_ab AS DOUBLE) / c_a)) / sum(c_ab), 6)
        |         AS entropy_rate
        |FROM cab JOIN ca USING (source, a) GROUP BY 1 ORDER BY 1""".stripMargin,
    // marginals come from the PAIR table; ranking on the rounded pmi
    "text_skipgram_pmi" ->
      """WITH d AS (SELECT list_filter(string_split(lower(text), ' '),
        |                              x -> length(x) > 0) AS ws
        |           FROM documents),
        |p1 AS (SELECT ws[CAST(i AS INTEGER)] AS a, ws[CAST(i + 1 AS INTEGER)] AS b
        |       FROM d, unnest(range(1, len(ws))) AS u(i) WHERE len(ws) >= 2),
        |p2 AS (SELECT ws[CAST(i AS INTEGER)] AS a, ws[CAST(i + 2 AS INTEGER)] AS b
        |       FROM d, unnest(range(1, len(ws) - 1)) AS u(i) WHERE len(ws) >= 3),
        |p AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
        |cab AS (SELECT a, b, count(*) AS c_ab FROM p GROUP BY 1, 2),
        |ca AS (SELECT a, sum(c_ab) AS c_a FROM cab GROUP BY 1),
        |cb AS (SELECT b, sum(c_ab) AS c_b FROM cab GROUP BY 1),
        |n AS (SELECT sum(c_ab) AS n_pairs FROM cab),
        |s AS (SELECT cab.a, cab.b, c_ab,
        |             round(ln(CAST(n_pairs AS DOUBLE) * c_ab / (c_a * c_b)), 6)
        |               AS pmi
        |      FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN n
        |      WHERE c_ab >= 5)
        |SELECT a, b, c_ab, pmi FROM s ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    // stopword/punctuation-delimited phrases; word score = degree/frequency
    "text_rake_keywords" ->
      """WITH ph0 AS (SELECT unnest(string_split(regexp_replace(lower(text),
        |    '\b(?:the|a|an|of|to|and|in|is|on|that|for|with)\b|[.!?,;:]',
        |    '|', 'g'), '|')) AS raw FROM documents),
        |p AS (SELECT list_filter(string_split(raw, ' '), x -> length(x) > 0) AS ws
        |      FROM ph0),
        |occ AS (SELECT array_to_string(ws, ' ') AS phrase, ws FROM p
        |        WHERE len(ws) BETWEEN 1 AND 4),
        |wstat AS (SELECT word,
        |            round(CAST(sum(len) AS DOUBLE) / count(*), 6) AS w_score
        |          FROM (SELECT len(ws) AS len, unnest(ws) AS word FROM occ) z
        |          GROUP BY 1),
        |phr AS (SELECT phrase, count(*) AS n_occ FROM occ GROUP BY 1),
        |pw AS (SELECT phrase, n_occ,
        |              unnest(list_filter(string_split(phrase, ' '),
        |                                 x -> length(x) > 0)) AS word
        |       FROM phr),
        |s AS (SELECT phrase, n_occ, round(sum(w_score), 4) AS score
        |      FROM pw JOIN wstat USING (word) GROUP BY 1, 2)
        |SELECT phrase, n_occ, score FROM s
        |ORDER BY score DESC, phrase LIMIT 20""".stripMargin,
    // Σ window-distinct counts / (k·window), short docs fall back to TTR
    "text_mattr" ->
      """WITH w AS (SELECT source,
        |             list_filter(string_split(lower(text), ' '),
        |                         x -> length(x) > 0) AS ws
        |           FROM documents),
        |t AS (SELECT source, CAST(len(ws) AS INTEGER) AS n, ws FROM w
        |      WHERE len(ws) > 0),
        |m AS (SELECT source,
        |  CASE WHEN n >= 25 THEN
        |    round(CAST(list_sum(list_transform(range(0, n - 25 + 1, 10),
        |            i -> len(list_distinct(
        |              ws[CAST(i + 1 AS INTEGER):CAST(i + 25 AS INTEGER)]))))
        |          AS DOUBLE)
        |      / (len(range(0, n - 25 + 1, 10)) * 25), 6)
        |  ELSE round(CAST(len(list_distinct(ws)) AS DOUBLE) / n, 6) END AS mattr
        |  FROM t)
        |SELECT source, count(*) AS n_docs, round(avg(mattr), 4) AS avg_mattr
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-doc score rounded BEFORE the per-source mean
    "text_readability" ->
      """WITH d AS (SELECT source,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |                       x -> length(x) > 0)) AS DOUBLE) AS n_words,
        |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE)
        |    AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |    AS n_syllables
        |  FROM documents),
        |f AS (SELECT source, n_words, n_sentences, n_syllables,
        |             round(206.835 - 1.015 * (n_words / n_sentences)
        |                   - 84.6 * (n_syllables / n_words), 6) AS flesch
        |      FROM d WHERE n_words > 0)
        |SELECT source, count(*) AS n_docs, round(avg(flesch), 4) AS avg_flesch,
        |       round(avg(n_words / n_sentences), 4) AS avg_words_per_sentence,
        |       round(avg(n_syllables / n_words), 4) AS avg_syllables_per_word
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
