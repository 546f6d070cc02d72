package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Sizing

/** Text-analysis operators over the `documents` table: per-doc stats,
  * token counting, quality scoring, fingerprinting, language ID.
  *
  * Everything except language ID is pure codegen'd column expressions
  * (no UDFs) — one narrow map stage, no shuffle, trivially scales to
  * 100 TB of documents. Language ID trains per-language n-gram
  * profiles with one aggregation and classifies via a broadcast of
  * the (tiny) profile table.
  */
object TextAnalysis {

  /** Per-document surface statistics: chars, whitespace words, regex
    * tokens (BPE-ish word/number/punct split), marker-word count, and
    * a simple quality score. All built-ins → single WholeStageCodegen
    * stage over the scan.
    */
  def textStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      size(split(col("text"), " ", -1)).as("n_words"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("n_tokens"),
      ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
        .cast("int").as("n_the"),
      round(
        (length(col("text")) - length(regexp_replace(col("text"), "the", ""))).cast("double")
          / (lit(3.0) * greatest(length(col("text")), lit(1))), 6).as("the_density"))
      .orderBy("doc_id")

  /** Canonical-form fingerprint: md5 of the lowercased text with
    * everything but [a-z ] stripped. Robust to punctuation/case edits;
    * groupable for near-exact dedup.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(regexp_replace(lower(col("text")), "[^a-z ]", "")).as("fp"))
      .orderBy("doc_id")

  /** Per-source quality report: doc counts, length stats, mean token
    * count — the "filter your crawl" aggregation.
    */
  def qualityBySource(documents: DataFrame): DataFrame =
    documents
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("n_chars"), lit(0L)).as("total_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        round(avg(size(split(col("text"), " ", -1))), 4).as("avg_words"))
      .orderBy("source")

  /** PII scrubbing: redact email addresses and phone-like digit runs
    * (the mandatory pre-training hygiene pass). Codegen'd
    * regexp_replace — map-only, no shuffle; patterns are RE2/Java
    * compatible (no backrefs) so the oracle replicates them exactly.
    */
  def piiScrub(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\+?\\d[\\d -]{7,}\\d", "<PHONE>").as("scrubbed"))
      .orderBy("doc_id")

  /** C4-style quality filter: keep documents inside length/word-count
    * bounds, emit the reject reason for the rest (the audit trail a
    * filtering pipeline needs). Pure column expressions.
    */
  def qualityFilter(documents: DataFrame,
                    minChars: Int = 50, maxChars: Int = 100000,
                    minWords: Int = 10): DataFrame =
    documents
      .select(col("doc_id"), length(col("text")).as("n_chars_calc"),
        size(split(col("text"), " ", -1)).as("n_words"))
      .select(col("doc_id"),
        (col("n_chars_calc") >= minChars && col("n_chars_calc") <= maxChars &&
          col("n_words") >= minWords).as("keep"),
        when(col("n_chars_calc") < minChars, "too_short")
          .when(col("n_chars_calc") > maxChars, "too_long")
          .when(col("n_words") < minWords, "too_few_words")
          .otherwise("ok").as("reason"))
      .orderBy("doc_id")

  /** Deterministic train/val/test split on the stable document key
    * (80/10/10 by doc_id modulo; for content-addressed splits use a
    * digest bucket instead — same shape). Map-only; the split column
    * doubles as a partition column for writing the three sets in one
    * pass.
    */
  def datasetSplit(documents: DataFrame): DataFrame =
    documents
      .withColumn("split",
        when(pmod(col("doc_id"), lit(10)) < 8, "train")
          .when(pmod(col("doc_id"), lit(10)) === 8, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("n_chars"), lit(0L)).as("total_chars"))
      .orderBy("split")

  /** Deterministic content-addressed sampling: md5 the stable key,
    * take the first 4 hex chars mod 100 as a bucket, keep buckets
    * < `pct`. The curation primitive for "give me a reproducible p%
    * slice of 100 TB" — map-only, no shuffle, no RNG state, identical
    * on any cluster/engine (unlike `sample()`, whose output depends
    * on partitioning), and composable: the same bucket column drives
    * A/B slices and holdouts.
    */
  def hashSample(documents: DataFrame, pct: Int = 10): DataFrame =
    documents
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long"),
          lit(100L)).cast("int").as("bucket"))
      .filter(col("bucket") < pct)
      .orderBy("doc_id")

  /** Stratified deterministic sampling: per-source rates on top of
    * the [[hashSample]] md5-bucket primitive — even-numbered sources
    * keep `boostedPct`%, odd keep `defaultPct`% (stand-in for a
    * quality-tier lookup; on a real pipeline the rate column joins in
    * from a curation table). Map-only like hashSample: no shuffle, no
    * RNG, identical on any cluster — the "oversample the good
    * domains" pass of corpus curation.
    */
  def stratifiedSample(documents: DataFrame, defaultPct: Int = 5,
                       boostedPct: Int = 20): DataFrame =
    documents
      .select(col("doc_id"), col("source"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long"),
          lit(100L)).cast("int").as("bucket"),
        // coalesce: sources with no trailing digits get the default
        // rate EXPLICITLY (1 % 2 != 0), not via null-propagation —
        // keeps Spark and the TRY_CAST oracle in agreement on any
        // corpus, digitless source names included.
        when(pmod(coalesce(regexp_extract(col("source"), "([0-9]+)$", 1).cast("long"),
          lit(1L)), lit(2)) === 0, boostedPct).otherwise(defaultPct).as("pct"))
      .filter(col("bucket") < col("pct"))
      .select("doc_id", "source", "bucket", "pct")
      .orderBy("doc_id")

  /** Per-source curation top-k: keep the `k` longest documents (word
    * count, doc_id tiebreak) of every source — the "best N per
    * domain" selection pass. Rank inside each source partition via a
    * window; at scale the window's per-group state is one row-number
    * counter, and sources are the natural partition key.
    */
  def topKBySource(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_words").desc, col("doc_id"))
    documents
      .select(col("source"), col("doc_id"), size(split(col("text"), " ", -1)).as("n_words"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("source", "rnk", "doc_id", "n_words")
      .orderBy("source", "rnk")
  }

  /** Gopher-style repetition signals: per document, the duplicate-word
    * fraction, the most-frequent-word share, and the most-frequent-
    * bigram share — the standard "is this boilerplate / a scraper
    * loop" quality gates. Shape: explode words once, ONE shuffle on
    * doc_id (the `lead` window), then exchange-free per-doc
    * aggregates — doc_id has corpus cardinality, so the window never
    * concentrates (unlike a low-cardinality partition key), and
    * every downstream groupBy is clustered by that same exchange.
    */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = documents
      .select(col("doc_id"), posexplode(split(col("text"), " ", -1)).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    // One tokenize pass serves both signals: the bigram path already
    // pays the per-doc window sort, so unigram and bigram keys ride
    // the SAME windowed stream as ("w", word) / ("b", bigram) rows and
    // reduce in ONE per-doc aggregate chain — both groupBys are
    // exchange-free (hash(doc_id) from the window satisfies their
    // clustering). The former wordStats ⋈ bigramStats shape tokenized
    // the corpus twice and BROADCAST the per-doc bigram aggregate — a
    // one-row-per-document build side that grows with the corpus (the
    // same unbounded-build hazard class as the unigram/weighted-
    // jaccard fixes this round). A doc's last word has no successor:
    // its "b" key is null and is filtered, so 1-word docs keep null
    // bigram aggregates — coalesced to 0.0 exactly like the old
    // left_outer join.
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val keyed = words
      .withColumn("next", lead("word", 1).over(w))
      .select(col("doc_id"), explode(array(
        struct(lit("w").as("kind"), col("word").as("key")),
        struct(lit("b").as("kind"),
          when(col("next").isNotNull,
            concat_ws(" ", col("word"), col("next"))).as("key"))))
        .as("kk"))
      .select(col("doc_id"), col("kk.kind").as("kind"), col("kk.key").as("key"))
      .filter(col("key").isNotNull)
    keyed
      .groupBy("doc_id", "kind", "key").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("kind") === "w", col("c"))).as("n_words"),
        count(when(col("kind") === "w", lit(1))).as("n_distinct"),
        max(when(col("kind") === "w", col("c"))).as("top_word"),
        sum(when(col("kind") === "b", col("c"))).as("n_bigrams"),
        max(when(col("kind") === "b", col("c"))).as("top_bigram"))
      .select(
        col("doc_id"), col("n_words"),
        round((col("n_words") - col("n_distinct")).cast("double") / col("n_words"), 6)
          .as("frac_dup_words"),
        round(col("top_word").cast("double") / col("n_words"), 6).as("top_word_frac"),
        coalesce(
          round(col("top_bigram").cast("double") / col("n_bigrams"), 6), lit(0.0))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Fixed-size overlapping word-window chunking — the "split long
    * documents into training-context-sized pieces" pass every LLM
    * data pipeline ends with. Chunks of `chunkSize` words advance by
    * `chunkSize - overlap`; every document yields ≥1 chunk (short
    * docs emit themselves). Map-only: split → sequence → explode →
    * slice are all codegen'd builtins, no shuffle, no UDF — at
    * 100 TB this is a pure narrow stage that parallelizes per input
    * split. The words array is materialized into its own projection
    * before any lambda touches it (interpreted higher-order lambdas
    * re-evaluate inlined child expressions per element).
    */
  def chunkDocuments(documents: DataFrame, chunkSize: Int = 50,
                     overlap: Int = 10): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val step = chunkSize - overlap
    documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws0"))
      .select(col("doc_id"),
        filter(col("ws0"), w => length(w) > 0).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L),
          greatest(ceil((size(col("ws")) - lit(overlap)).cast("double") / step), lit(1.0))
            .cast("long") - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        size(slice(col("ws"), (col("chunk_id") * step + 1).cast("int"), lit(chunkSize)))
          .cast("long").as("n_chunk_words"),
        array_join(
          slice(col("ws"), (col("chunk_id") * step + 1).cast("int"), lit(chunkSize)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Corpus-LM fluency score (the CCNet/perplexity-filter shape with
    * a unigram model): per document, the mean log-probability of its
    * tokens under corpus unigram frequencies. Low scores = rare-token
    * soup (boilerplate, garbled OCR, spam); the standard cheap
    * quality signal before anything model-based.
    *
    * Shape: everything downstream of the tokenizer runs on DISTINCT
    * (doc, word) pairs, never token instances. The explode feeds one
    * (doc_id, w)-keyed partial aggregate — repeated words collapse
    * map-side, so the only corpus-sized thing that crosses the wire
    * is per-doc-distinct pairs (the previous form shuffled EVERY
    * token instance through the scoring join and again through the
    * per-doc aggregate — 3-4× the rows on natural text, 25 s at sf10
    * vs 13.5 s for this shape; the remainder is the 16-ingest-file
    * tokenize width, not the plan). Word frequencies cascade from the same
    * pair table (vocabulary-sized second aggregate); the corpus
    * total is a 1-row agg broadcast by the cross join
    * (scalar-subquery pattern — a billion-row raw vocab must never
    * funnel through one task, see text_tfidf); scoring joins pairs
    * to the frequency table and the per-doc mean re-weights by the
    * in-doc count (Σ c·log p / Σ c ≡ the instance average). Scores
    * round to 6 decimals so double-sum order never shows.
    *
    * `pairs` is the [[unigramPairs]] table. It feeds BOTH the
    * frequency build and the scoring join, so the registry routes it
    * through [[graft.Materialized]] and the tokenize+combine chain
    * runs once (the round-13 ADVICE: a per-query lazy checkpoint
    * stacked one more session-lifetime executor-block pin onto the
    * suite-context heap floor; as a memo it is built once and bounded,
    * and on the sink face it lives in parquet, off-heap entirely).
    */
  def unigramLogProb(pairs: DataFrame): DataFrame = {
    val freqs = pairs.groupBy("w").agg(sum("c_dw").as("cnt"))
    val freqsWithTotal =
      freqs.crossJoin(broadcast(freqs.agg(sum("cnt").as("n_total"))))
    // freqsWithTotal is vocabulary-sized by construction, but its size
    // ESTIMATE is aggregate-of-pairs × crossJoin — no smaller than the
    // pair side's — and the memoized pair checkpoint reports no stats at
    // all, so the planner picked the 11.6M-row PAIR table as the build
    // relation (a driver-built single-threaded HashedRelation over every
    // (doc, word) row — the exact text_tfidf idf hazard, measured there
    // as 17-50 s of the query at sf10). Broadcast the vocab side
    // explicitly; pairs then stream in their memo clustering and the
    // per-doc aggregate partial-aggs map-side.
    pairs.join(broadcast(freqsWithTotal), "w")
      .groupBy("doc_id")
      .agg(round(
        sum(col("c_dw") * log(col("cnt").cast("double") / col("n_total"))) /
          sum("c_dw"), 6).as("avg_logp"),
        sum("c_dw").as("n_toks"))
      .orderBy("doc_id")
  }

  /** The (doc_id, word, count) pair table behind [[unigramLogProb]] —
    * the memo unit. The explicit-width repartition BEFORE the groupBy
    * is load-bearing twice over: (a) a plain groupBy exchange was
    * AQE-coalesced and the 11.6M-group final aggregate ran near-serial
    * (jstack at sf10 — 10+ s in one task's findOrInsert), while
    * hash(doc_id) SATISFIES the (doc_id, w) clustering, so the
    * aggregate runs exchange-free at full width. (b) A checkpoint/memo
    * of this frame freezes the partitioning, and
    * [[unigramLogProb]]'s final per-doc aggregate reuses it with
    * no further exchange.
    */
  def unigramPairs(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .repartition(Sizing.width(documents), col("doc_id"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c_dw"))
  }

  /** Bigram-LM fluency score — the order-2 upgrade of
    * [[unigramLogProb]]: per-doc average log P(w2|w1) under add-1
    * smoothing, where c(w1) is the count of bigrams starting with w1
    * and V is the context vocabulary size. Catches shuffled/garbled
    * text that unigram frequency scoring cannot (same words, broken
    * order).
    *
    * Shape at 100 TB: bigram extraction is a map stage over the
    * materialized token array (zip of two slices — no inlined
    * re-split per element); bigram/context counts are one partial-agg
    * shuffle each (bigram-vocabulary-sized); V is a 1-row aggregate
    * cross-joined against the CONTEXT table (bounded); scoring joins
    * stream the corpus against vocabulary-sized build sides.
    *
    * Unsorted: the registry memoizes this frame through
    * [[graft.Materialized]] and serves BOTH the per-doc key and the
    * per-source rollup ([[pplBySource]]) from one build (round-12
    * finding: each key rebuilding the LM cost ~43 s at sf10, twice).
    */
  def bigramLogProb(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws0"))
      .select(col("doc_id"), filter(col("ws0"), w => length(w) > 0).as("ws"))
    val bi = toks.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
    val v = cu.agg(count(lit(1)).as("v"))
    bi.join(cb, Seq("w1", "w2"))
      .join(cu.crossJoin(broadcast(v)), Seq("w1"))
      .groupBy("doc_id")
      .agg(round(avg(log((col("cb") + 1) / (col("cu") + col("v")))), 6).as("avg_logp"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Corpus word frequencies: explode (generator surface) + count +
    * top-n. Map-side combine keeps the shuffle at vocabulary size,
    * not token count.
    */
  def topWords(documents: DataFrame, n: Int = 20): DataFrame =
    documents
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(n)

  /** Heavy-hitter tokens via the string-keyed
    * [[graft.functions.Aggregators.MisraGriesOf]] summary: "which
    * tokens dominate this corpus" in ONE pass with O(capacity) state
    * per partition — the profile you run before stop-word lists,
    * boilerplate detection, or vocabulary caps, on a token space too
    * large to groupBy exactly. Same bounded-summary machinery as the
    * Long-keyed hot-user op ([[graft.operators.EventOps.heavyHitterUsers]]);
    * on the testdata capacity ≥ |vocab| so estimates are exact and
    * the plain GROUP BY oracle pins the whole path.
    */
  def heavyHitterTokens(documents: DataFrame, capacity: Int = 1024,
                        minCount: Long = 100): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val mg = udaf(new graft.functions.Aggregators.MisraGriesOf[String](capacity)(
      Ordering[String],
      ExpressionEncoder[(Long, Long, Map[String, Long])](),
      ExpressionEncoder[Seq[(String, Long)]]()))
    documents
      .select(explode(split(lower(col("text")), " ", -1)).as("tok"))
      .filter(length(col("tok")) > 0)
      .agg(mg(col("tok")).as("hh"))
      .select(explode(col("hh")).as("p"))
      .select(col("p._1").as("token"), col("p._2").as("est_n"))
      .filter(col("est_n") >= minCount)
      .orderBy(desc("est_n"), col("token"))
  }

  /** BPE merge candidates: corpus-wide counts of adjacent
    * character-pair occurrences within words — the statistic the
    * first iteration of byte-pair-encoding vocabulary induction
    * maximizes (Sennrich et al. 2016). One call = one merge step's
    * candidate table; a tokenizer trainer loops this (apply the top
    * merge, recount) — the loop is driver logic over a bounded
    * vocabulary, the COUNTING is the corpus-scale part and is what
    * this op distributes.
    *
    * Shape at 100 TB: words pre-aggregate to (word, n) — the shuffle
    * carries the vocabulary, not the corpus — then pairs explode from
    * the VOCABULARY table weighted by word frequency. Corpus text is
    * touched exactly once, in the word-count map stage; pair rows are
    * |vocab| × avg word length, map-side combined into the final
    * top-k (TakeOrdered, no global sort).
    */
  def bpeMergeCandidates(documents: DataFrame, k: Int = 30): DataFrame = {
    val words = documents
      .select(explode(split(lower(col("text")), " ", -1)).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n"))
    words
      .select(col("n"), col("word"), split(col("word"), "", -1).as("cs"))
      .select(col("n"), explode(transform(sequence(lit(0), size(col("cs")) - 2),
        i => concat(element_at(col("cs"), i + 1), element_at(col("cs"), i + 2)))).as("pair"))
      .groupBy("pair")
      .agg(sum("n").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** Collocation mining via pointwise mutual information: which
    * adjacent word pairs co-occur far more than chance — the phrase /
    * multi-word-expression detector (Church & Hanks 1990) used to
    * protect collocations ("new york", "machine learning") during
    * tokenization and to build phrase vocabularies.
    *
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) from the bigram
    * table and p(·) from the unigram table. Low-count pairs are
    * noise-dominated (PMI's known bias), so only pairs with
    * ≥ `minCount` occurrences are scored.
    *
    * Shape at 100 TB: bigram extraction is the same zip-of-slices map
    * stage as [[bigramLogProb]]; bigram and unigram counts are one
    * partial-agg shuffle each (vocabulary-sized); the two corpus
    * totals are 1-row aggregates broadcast by cross join (the audited
    * scalar pattern); scoring joins the FILTERED bigram table (≥
    * minCount — far smaller than the full bigram vocabulary) against
    * the unigram table twice, both vocabulary-keyed hash joins.
    */
  def pmiBigrams(documents: DataFrame, minCount: Int = 5): DataFrame = {
    val toks = documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws0"))
      .select(col("doc_id"), filter(col("ws0"), w => length(w) > 0).as("ws"))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi = toks.filter(size(col("ws")) >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val nTok = uni.agg(sum("cw").as("n_tok"))
    val nBi = bi.agg(sum("n_ab").as("n_bi"))
    bi.filter(col("n_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("cw1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("cw2")), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("n_ab"),
        round(log((col("n_ab").cast("double") / col("n_bi")) /
          ((col("cw1").cast("double") / col("n_tok")) *
            (col("cw2").cast("double") / col("n_tok")))), 6).as("pmi"))
      .orderBy("w1", "w2")
  }

  /** Zipf-law fit over the frequency head: regression slope of
    * ln(count) on ln(rank) for the top-`topN` tokens — the one-number
    * corpus health check (natural text ≈ −1; flat slopes flag
    * templated/boilerplate corpora, steep ones flag tiny vocabularies).
    *
    * Shape at 100 TB: token counts are one vocabulary-sized shuffle
    * with map-side combine; the head is a TakeOrderedAndProject
    * (per-partition heaps, no global sort); ranking is a window over
    * the ≤ topN pre-cut rows (bounded by construction — same audited
    * shape as `q_pareto_share`); the regression is a single tiny
    * aggregate.
    */
  def zipfSlope(documents: DataFrame, topN: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val head = documents
      .select(explode(split(lower(col("text")), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(topN)
    head
      .withColumn("rank", row_number().over(Window.orderBy(col("cnt").desc, col("w"))))
      .agg(
        round(regr_slope(log(col("cnt").cast("double")), log(col("rank").cast("double"))), 4)
          .as("zipf_slope"),
        round(regr_intercept(log(col("cnt").cast("double")), log(col("rank").cast("double"))), 4)
          .as("zipf_intercept"),
        count(lit(1)).as("n_terms"))
  }

  /** Inverted index build: per term, document frequency, total term
    * frequency, and the posting list `doc:tf,...` sorted by doc_id —
    * the search/retrieval-side artifact of a curation pipeline (BM25
    * serving, decontamination lookups, quality-term audits).
    * Singleton terms (df < `minDf`) are dropped — they dominate the
    * vocabulary but serve no retrieval purpose here.
    *
    * Shape at 100 TB: (term, doc) term frequencies are one partial-agg
    * shuffle; list assembly is one groupBy(term) whose skew ceiling is
    * the stop-word problem — for production the heavy tail is sharded
    * as (term, doc_id mod S) posting segments (same rows, S bounded
    * lists per term); here the single-list form is kept so the oracle
    * can pin the exact assembly. `array_sort` on (doc_id, tf) structs
    * makes the list order deterministic regardless of arrival order.
    */
  def invertedIndex(documents: DataFrame, minDf: Int = 2): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
        array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("ps"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"), col("total_tf"),
        array_join(transform(col("ps"),
          p => concat_ws(":", p.getField("doc_id"), p.getField("tf"))), ",").as("postings"))
      .orderBy("term")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its HASHED-unigram distribution looks like
    * a target slice (here: `targetLang` docs) versus the whole
    * corpus — the feature-space importance ratio that drives
    * quality-targeted resampling without training a model. Hashing
    * tokens into `buckets` fixed cells is the paper's trick that
    * bounds the model at B cells regardless of vocabulary size.
    *
    * weight(doc) = mean over tokens of ln( p_target(b) / p_corpus(b) )
    * with add-1 smoothing on the target counts (unseen buckets must
    * not produce −∞).
    *
    * Shape at 100 TB: token→bucket is a map stage (md5, no shuffle);
    * both distributions are ≤ B-row aggregates; the B-row ratio table
    * and the two 1-row totals are BROADCAST, so scoring is one
    * map-side join over the token stream + a per-doc partial agg. No
    * vocabulary-sized shuffle anywhere — that is the entire point of
    * the hashing.
    */
  def dsirWeights(documents: DataFrame, targetLang: String = "en",
                  buckets: Int = 1024): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("b",
        pmod(conv(substring(md5(col("w").cast("binary")), 1, 7), 16, 10).cast("long"),
          lit(buckets.toLong)))
    // ALL four count tables derive from one (bucket, lang) aggregate —
    // ≤ buckets × |langs| rows. Deriving corpus/target/total counts
    // straight from `toks` re-ran the tokenize+md5 map stage once per
    // reference (5 full passes in the sf10 plan, 5.9 s warm); the sums
    // below are integer-exact, so every downstream double is
    // bit-identical to the per-reference form. The lazy localCheckpoint
    // (a few thousand rows) is load-bearing: without it the optimizer
    // pushes the target-lang filter BELOW the explode in that branch,
    // the subtrees stop canonicalizing equal, and all the passes return.
    val blCnt = toks.groupBy("b", "lang").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val corpusCnt = blCnt.groupBy("b").agg(sum("c").as("cc"))
    val targetCnt = blCnt.filter(col("lang") === targetLang)
      .groupBy("b").agg(sum("c").as("ct"))
    val nC = corpusCnt.agg(sum("cc").as("n_c"))
    val nT = targetCnt.agg(coalesce(sum("ct"), lit(0L)).as("n_t"))
    val dist = corpusCnt.join(targetCnt, Seq("b"), "left")
      .crossJoin(broadcast(nC)).crossJoin(broadcast(nT))
      .select(col("b"),
        ((coalesce(col("ct"), lit(0L)) + 1).cast("double") / (col("n_t") + buckets)).as("pt"),
        (col("cc").cast("double") / col("n_c")).as("pc"))
    toks.join(broadcast(dist), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        round(avg(log(col("pt") / col("pc"))), 6).as("avg_log_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus-LM fluency rolled up per source: the acquisition-level
    * quality comparison ("which crawl/feed is garbled") on top of the
    * per-doc [[bigramLogProb]] `scores`. One extra broadcast-sized
    * join (doc_id → source) and a |sources|-row aggregate.
    */
  def pplBySource(scores: DataFrame, documents: DataFrame): DataFrame =
    scores
      .join(documents.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("avg_logp"), 6).as("mean_logp"))
      .orderBy("source")

  /** Language ID via corpus-trained character-trigram profiles.
    *
    * Train (distributed): explode a deterministic 1-in-`trainModulo`
    * doc sample to trigrams, count per (lang, gram) — one shuffle with
    * map-side combine — keep the top-`profileSize` per language.
    * The finished profile is O(langs × profileSize) — KBs — so it is
    * collected and broadcast (the model-apply pattern: a bounded
    * model crosses to the driver once; 100 TB of documents never do).
    *
    * Classify (map-only): one typed pass per document scoring its
    * trigrams against all language profiles at once — one packed-long
    * LongMap probe per text position into a trigram → per-language
    * weight-vector table built once per task, no join/shuffle, no
    * per-position allocation. Score = Σ (profileSize+1-rank)
    * over matching grams; argmax with (score desc, lang asc)
    * tiebreak so output is deterministic; docs matching nothing get
    * "und". (Earlier join+groupBy+window formulation did the same in
    * ~4M shuffled rows — 5.4s at sf0.1 vs ~1s for this shape.)
    */
  def languageId(documents: DataFrame, profileSize: Int = 300, trainModulo: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    val grams = documents
      .filter(pmod(col("doc_id"), lit(trainModulo)) === 0)
      .select(col("lang"), lower(col("text")).as("t"))
      .select(col("lang"), col("t"), split(col("t"), "", -1).as("chars"))
      .select(col("lang"), explode(trigramsFromChars(col("t"), col("chars"))).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))
    val profileRows = grams
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= profileSize)
      .select("lang", "gram", "rank")
      .collect()
    val profile: Array[(String, Map[String, Long])] = profileRows
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.map(r => r.getString(1) -> (profileSize + 1L - r.getInt(2))).toMap
      }
      .toArray.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(profile)
    documents
      .select(col("doc_id"), col("lang").as("true_lang"), lower(col("text")).as("t"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val prof = bc.value
        // Per-task scoring table: trigram → dense per-language weight
        // vector, keyed by the 3 UTF-16 chars packed into 48 bits
        // (16-bit shifts are collision-free, so packed equality ≡
        // string equality for length-3 grams). One LongMap probe per
        // text position replaces |langs| string-keyed Map lookups AND
        // the per-position substring allocation — identical scores:
        // a probe miss contributes the same 0 to every language that
        // getOrElse(g, 0L) did.
        val table = new scala.collection.mutable.LongMap[Array[Long]](prof.length * 512)
        var j0 = 0
        while (j0 < prof.length) {
          prof(j0)._2.foreach { case (g, wt) =>
            // Profile grams are 3 CODE POINTS (trigramsFromChars slices a
            // code-point array), so one containing a supplementary char has
            // UTF-16 length > 3. The scan window below is 3 UTF-16 units —
            // such a gram could never match it (the pre-table scorer's
            // substring compare contributed 0), so skip it rather than key
            // it by a lossy 3-unit prefix that could spuriously match.
            if (g.length == 3) {
              val key = (g.charAt(0).toLong << 32) | (g.charAt(1).toLong << 16) | g.charAt(2).toLong
              val arr = table.getOrElseUpdate(key, new Array[Long](prof.length))
              arr(j0) += wt
            }
          }
          j0 += 1
        }
        it.map { case (id, trueLang, t) =>
          val scores = new Array[Long](prof.length)
          val n = t.length
          var key = 0L
          var i = 0
          while (i < n) {
            key = ((key << 16) | t.charAt(i).toLong) & 0xFFFFFFFFFFFFL
            if (i >= 2) {
              val arr = table.getOrNull(key)
              if (arr != null) {
                var j = 0
                while (j < arr.length) { scores(j) += arr(j); j += 1 }
              }
            }
            i += 1
          }
          var bestJ = -1; var bestS = 0L
          var j = 0
          while (j < prof.length) {
            if (scores(j) > bestS) { bestS = scores(j); bestJ = j }
            j += 1
          }
          val pred = if (bestJ < 0) "und" else prof(bestJ)._1
          (id, trueLang, pred, bestS)
        }
      }
      .toDF("doc_id", "true_lang", "pred_lang", "score")
      .orderBy("doc_id")
  }

  /** Relational twin of [[languageId]]: identical semantics (same
    * trigram profile, weights, argmax tiebreaks), expressed as
    * explode → join → groupBy → window so every step is plain SQL and
    * the DuckDB oracle can hash-check it end-to-end. The mapPartitions
    * fast path stays the production shape (~5× less shuffle: scoring
    * there is map-only against a broadcast profile; here each doc's
    * grams × matching languages cross the wire) — a differential spec
    * pins the two outputs equal.
    *
    * The twin exists purely as the oracle-checkable face of the math,
    * so it SCORES only a deterministic modulo-sample of docs
    * (`doc_id % scoreModulo == 1`, disjoint from the train residue 0;
    * both engines sample identically, the hash still pins every
    * scored row). Training still sees the full train split — the
    * profile must match the fast path's bit-for-bit.
    *
    * Unsorted: the registry memoizes this prediction frame through
    * [[graft.Materialized]] and serves BOTH the per-doc key and the
    * confusion-matrix rollup ([[langConfusionMatrix]]) from one build
    * (each key rebuilding the profile + scoring join cost ~15 s at
    * sf10, twice per suite).
    */
  def languageIdRelational(documents: DataFrame, profileSize: Int = 300,
                           trainModulo: Int = 8, scoreModulo: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .select(col("doc_id"), col("lang"), col("t"), split(col("t"), "", -1).as("chars"))
    val grams = docs.select(col("doc_id"), col("lang"),
      explode(trigramsFromChars(col("t"), col("chars"))).as("gram"))
    val train = grams
      .filter(pmod(col("doc_id"), lit(trainModulo)) === 0)
      .groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
    val wProf = Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))
    val prof = train
      .withColumn("rank", row_number().over(wProf))
      .filter(col("rank") <= profileSize)
      .select(col("lang").as("plang"), col("gram"),
        (lit(profileSize + 1L) - col("rank")).as("wt"))
    // prof is ≤ |langs| × profileSize rows by construction (KBs at any
    // corpus size) — broadcast explicitly so the gram-scoring join
    // never shuffles the exploded gram stream, with or without AQE.
    val scores = grams.select(col("doc_id"), col("gram"))
      .filter(pmod(col("doc_id"), lit(scoreModulo)) === 1)
      .join(broadcast(prof), "gram")
      .groupBy("doc_id", "plang")
      .agg(sum("wt").as("score"))
    // argmax with the fast path's exact tiebreak: score desc, lang asc;
    // score must be strictly positive (matches `scores(j) > bestS`)
    val wBest = Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))
    val best = scores
      .filter(col("score") > 0)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang").as("pred_lang"), col("score"))
    documents.select(col("doc_id"), col("lang").as("true_lang"))
      .filter(pmod(col("doc_id"), lit(scoreModulo)) === 1)
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("true_lang"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Character trigrams from an already-materialized text column `t`
    * and its materialized char-array `chars` (= split(t, "")).
    *
    * Two pitfalls this shape avoids (measured, not theoretical):
    * inlining `lower(text)`/`split` into the lambda re-evaluates them
    * per element under interpreted higher-order-function eval, and
    * `t.substr(i, 3)` seeks from the string start per element (O(len²)
    * per doc — 5.8s → sub-second at sf0.1 when switched to array
    * slices).
    */
  private[graft] def trigramsFromChars(t: org.apache.spark.sql.Column,
                                       chars: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(length(t) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(t) - 2),
        i => array_join(slice(chars, i, lit(3)), "")))

  /** Lowercased alphabetic tokens, one row per (doc, token). The
    * shared front end of the term-weighting operators below.
    */
  private def alphaTokens(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+", -1)).as("term"))
      .filter(length(col("term")) > 0)

  /** Top-`k` TF-IDF terms per document — the classic "what is this
    * document about" signal for corpus curation and topic balancing.
    *
    * Shape at 100 TB: explode → (doc,term) counts is one shuffle with
    * map-side combine; document frequencies reduce that to a
    * vocabulary-sized table; n_docs is a 1-row aggregate cross-joined
    * against the VOCAB table (bounded — the corpus side stays a clean
    * equi join on term with a vocabulary-sized build side). The final
    * top-k is a row_number window over an explicit-width doc_id
    * repartition: one exchange of the scored rows, then a per-doc
    * Tungsten sort of ~|terms-per-doc| rows — fully codegen'd,
    * spillable, no object aggregation. A bounded-heap UDAF finisher
    * was measured AGAINST this (sf10, fresh plans per rep): min 19 s
    * vs the window's 6.8 s — the hoped-for map-side shrink never
    * happens because a document's ~23 scored rows scatter across
    * partitions (≤1 row per doc per partition, on a 1000-executor
    * cluster even thinner), so the UDAF paid the ScalaAggregator
    * object/encoder path for zero shuffle savings. The result rows
    * are LAZILY localCheckpoint'd before the final presentation
    * `orderBy` — the range-partitioner's sampling pass otherwise
    * re-executes the whole window stage (measured 8 → 45 s at sf10);
    * lazy (not eager) so merely CONSTRUCTING this frame (plan audits,
    * explain) runs nothing — the first action materializes the
    * blocks, and the sort's sampling pass then reads them instead of
    * recomputing. Checkpoint blocks live in NON-RELIABLE executor
    * storage: on a real cluster, losing an executor after
    * materialization loses those partitions unrecoverably (the
    * lineage is truncated) and downstream actions fail — acceptable
    * for a presentation sort inside one job; a 100 TB pipeline that
    * needs restartability materializes through the
    * [[graft.Materialized]] parquet sink face instead. Scores round
    * to 6 decimals before ranking so float noise can't flip ranks
    * between engines.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame =
    tfidfRanked(documents, k).localCheckpoint(false).orderBy("doc_id", "rnk")

  /** The unsorted top-k rows behind [[tfidfTopTerms]], before its
    * checkpoint (whose plan no longer shows the window's exchange).
    */
  private[graft] def tfidfRanked(documents: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tfidfScored(documents)
      .repartition(Sizing.width(documents), col("doc_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rnk"))
  }

  /** The scored (doc_id, term, score) frame behind [[tfidfTopTerms]]
    * — one definition of the tokenize/tf/idf/round convention, shared
    * with the differential spec so it compares only the finishers.
    *
    * Two measured plan hazards live here (both found adjudicating the
    * 13.6×/decade flag, sf10 stage profile):
    *   - `idf` is broadcast EXPLICITLY. It is vocabulary-sized by
    *     construction, but its size ESTIMATE is aggregate-of-corpus ×
    *     crossJoin — no smaller than tf's — so the planner, left to
    *     stats, picked the 11.6M-row tf side as the build relation
    *     (a driver-side single-threaded HashedRelation over every
    *     (doc, term) row: 17-50 s of the query at sf10).
    *   - the df aggregate counts `col("tf")`, NOT `lit(1)`: `tf`
    *     feeds BOTH the probe side and the df/idf broadcast subtree,
    *     and with `count(1)` the optimizer prunes the df branch down
    *     to a distinct-shaped aggregate whose canonical form no
    *     longer matches the probe's — exchange reuse dies and the
    *     122M-token explode runs twice, concurrently, contending for
    *     the same cores (two ~6 s stages ballooning to ~38 s each).
    *     Referencing the payload column keeps the two subtrees'
    *     canonical forms equal. This trick is OPTIMIZER-VERSION-
    *     SENSITIVE (it relies on how Spark 4.1 canonicalizes
    *     aggregate children); the differential spec and the sf10
    *     bench are the regression tripwires if an upgrade breaks it.
    */
  private[graft] def tfidfScored(documents: DataFrame): DataFrame = {
    val toks = alphaTokens(documents)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // count(tf) — NOT count(1) — so the df branch still references the
    // tf column: with count(1) the optimizer prunes tf's aggregate
    // down to a distinct whose canonical form no longer matches the
    // probe side's, and exchange reuse dies (see scaladoc above)
    val df = tf.groupBy("term").agg(count(col("tf")).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(nDocs))
      .withColumn("idf", log(col("n_docs").cast("double") / col("df")))
    tf.join(broadcast(idf), "term")
      .withColumn("score", round(col("tf") * col("idf"), 6))
  }

  /** Domain-mixing weights: given a target language mixture for the
    * training recipe, compare against the corpus's actual shares and
    * emit the per-language sampling weight (target share / actual
    * share) — >1 means upsample, <1 means downsample. Languages
    * outside the target map get weight 0 (excluded from the mix).
    *
    * One vocabulary-sized aggregation (langs ≪ corpus) plus an
    * unpartitioned window over the LANG table for the total — the
    * same bounded-scalar pattern as [[unigramLogProb]]. Applying the
    * weights downstream is a map-only join against this KB-sized
    * table.
    */
  def mixWeights(documents: DataFrame,
                 target: Seq[(String, Double)] = Seq(
                   "en" -> 0.5, "zh" -> 0.2, "es" -> 0.15, "fr" -> 0.1, "de" -> 0.05))
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val targetCol = target.foldLeft(lit(0.0)) { case (acc, (l, w)) =>
      when(col("lang") === l, w).otherwise(acc)
    }
    documents.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("n_total", sum("n_docs").over(Window.partitionBy()))
      .withColumn("actual_share", round(col("n_docs").cast("double") / col("n_total"), 6))
      .withColumn("target_share", targetCol)
      .withColumn("weight",
        round(col("target_share") / (col("n_docs").cast("double") / col("n_total")), 6))
      .select("lang", "n_docs", "actual_share", "target_share", "weight")
      .orderBy("lang")
  }

  /** Mixture resampling: APPLY [[mixWeights]]' per-language weights as
    * deterministic hash acceptance — a doc survives when its md5
    * bucket (out of 10000) falls under weight-scaled-by-`scale`
    * per-mille odds, capped at keep-everything. This is the
    * downsample-the-over-represented-language pass that turns a
    * computed target mixture into an actual corpus: map-only per doc
    * after a broadcast join against the |langs|-row weight table, no
    * RNG, identical draw on any cluster/engine. (Weights > 1 mean
    * UNDER-represented languages — upsampling needs row replication,
    * a different op; here they cap at keep-all, the curation default.)
    */
  def mixResample(documents: DataFrame, scale: Double = 0.5): DataFrame = {
    val weights = mixWeights(documents)
      .select(col("lang"), least(col("weight") * scale, lit(1.0)).as("p_keep"))
    documents
      .join(broadcast(weights), "lang")
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"), lit(10000L)).cast("int").as("bucket"),
        round(col("p_keep") * 10000).cast("int").as("cut"))
      .filter(col("bucket") < col("cut"))
      .select("doc_id", "lang", "bucket", "cut")
      .orderBy("doc_id")
  }

  /** Exactly-k-per-group deterministic sample: the first `k` docs of
    * each source in md5(doc_id) order — an unbiased fixed-size draw
    * (hash order is independent of any document property, unlike
    * [[topKBySource]]'s intentional length bias) that is reproducible
    * across engines and runs. Complements [[hashSample]] (fixed
    * PERCENTAGE) and [[stratifiedSample]] (per-source percentages)
    * with a fixed COUNT per group — the eval-set / human-review draw.
    *
    * Window partitions on `source`; with few sources and a huge
    * corpus, swap the finisher for the bounded-heap TopK aggregator
    * (`Aggregators.TopK`, differential-spec'd for the ANN keys) —
    * same results, partial-agg plan.
    */
  def groupSample(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents.select(col("doc_id"), col("source"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("source", "rnk")
  }

  /** Vocabulary build + out-of-vocabulary rate: top-`vocabSize` words
    * by corpus frequency (deterministic count-then-word tie-break),
    * then the per-source average fraction of tokens outside that
    * vocabulary — the coverage check run before committing to a
    * tokenizer/vocab on a new corpus mix.
    *
    * Shape at 100 TB: word frequencies are one vocabulary-sized
    * shuffle with map-side combine; the cut vocabulary is bounded
    * (`vocabSize` rows) and broadcast, so the corpus-side OOV tagging
    * is a map stage; per-doc and per-source aggregations are ordinary
    * partial aggs. The only single-partition step is ranking the
    * vocabulary itself (vocab-sized ≪ corpus, same cost class as
    * broadcasting it).
    */
  def oovRate(documents: DataFrame, vocabSize: Int = 20): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left_outer")
      .groupBy("doc_id", "source")
      .agg(avg(when(col("in_vocab").isNull, 1.0).otherwise(0.0)).as("oov"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), round(avg("oov"), 6).as("avg_oov_rate"))
      .orderBy("source")
  }

  /** Vocabulary growth curve (Heap's law): distinct-word count and
    * cumulative token count at fixed doc_id checkpoints — the curve
    * that answers "is this corpus still adding new vocabulary, or are
    * we re-crawling the same text" before committing to more
    * ingestion. Sub-linear growth (V ≈ K·nᵝ, β≈0.5) is healthy;
    * a flat curve means saturation, a linear one means noise/OCR
    * garbage inflating the vocabulary.
    *
    * Shape at 100 TB: one vocabulary-sized aggregation taking each
    * word's FIRST-occurrence bucket (min doc_id — map-side combined),
    * one token-count aggregation per bucket, then the cumulative sums
    * ride an unpartitioned window over the BUCKET table —
    * `nBuckets` rows (a few dozen) no matter the corpus size, the
    * same bounded-input class as [[mixWeights]] (plan-audit
    * allowlisted). Raw text never shuffles; words do, once.
    */
  def vocabGrowth(documents: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // deterministic equal-width doc_id buckets: ceil((max_id+1)/n)
    val width = documents.agg(
      ceil((max("doc_id") + 1).cast("double") / nBuckets).cast("long").as("w"))
    val toks = documents
      .join(broadcast(width))
      .select(col("doc_id"), expr("doc_id div w").as("bucket"),
        explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
    val newWords = toks
      .groupBy("word").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_words"))
    val tokens = toks.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokens.join(newWords, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_words"), lit(0L)).as("n_new_words"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("vocab_size", sum("n_new_words").over(w))
      .select("bucket", "n_tokens", "n_new_words", "cum_tokens", "vocab_size")
      .orderBy("bucket")
  }

  /** Greedy sequence packing: assign documents to fixed token-budget
    * packs (pretraining batch prep — concatenate docs until the
    * context window fills). A doc lands in the pack its cumulative
    * token offset starts in: `pack_id = floor((cum - n_tokens) /
    * budget)` over a deterministic (source, doc_id) order, then packs
    * are profiled (docs, tokens, fill ratio). Docs can straddle pack
    * boundaries — the downstream tokenizer splits them — so this is
    * offset assignment, not bin packing (which is inherently
    * sequential and over-packs no better for long-tail docs).
    *
    * Shape at 100 TB: token counts are a map stage; the running sum
    * is one window shuffle on `source` (the natural pack domain —
    * dozens-to-thousands of partitions); the profile is a partial
    * agg on (source, pack_id). Nothing global, no driver state.
    */
  def packSequences(documents: DataFrame, budget: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("pack_id", floor((col("cum") - col("n_tokens")) / budget.toDouble).cast("long"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("source", "pack_id")
  }

  /** BM25 ranked retrieval: top-`k` documents for a fixed bag of
    * query terms (Okapi BM25, k1/b defaults).
    *
    * Shape at 100 TB: the query-term filter lands BEFORE the
    * (doc,term) aggregation, so only rows matching the handful of
    * query terms ever shuffle; document length and corpus stats come
    * from one token pass (reusable across queries if cached). The
    * per-term df table is query-sized; corpus stats are a 1-row
    * aggregate cross-joined against it (bounded). The doc-length
    * attach is the one corpus-sized side: past a 64 MB corpus
    * scan-stat gate (the q17 stats idiom, scaled to the corpus
    * table) it carries a SHUFFLE_HASH hint, because the planner's
    * post-aggregate estimate otherwise BROADCASTS docLen — a
    * one-row-per-document driver-built relation that grows with the
    * corpus and hits the 8 GB cap long before 100 TB. The gate is
    * deliberately conservative: past tens of MB of corpus the docLen
    * exchange costs ~1% of the tokenize it rides behind, so flipping
    * early is free insurance while flipping late is a dead job.
    * Below the gate the static broadcast plan is kept byte-identical
    * (the oracle SFs). Final top-k is TakeOrderedAndProject — no
    * global sort materializes.
    */
  def bm25Search(documents: DataFrame,
                 queryTerms: Seq[String] = Seq("spark", "join", "window"),
                 k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = alphaTokens(documents)
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = docLen.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    val docBytes = documents.queryExecution.optimizedPlan.stats.sizeInBytes
    val dlSide = if (docBytes > (1L << 26)) docLen.hint("shuffle_hash") else docLen
    tf.join(broadcast(df), "term")
      .join(dlSide, "doc_id")
      .withColumn("part",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("part"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Weighted sampling without replacement (Efraimidis & Spirakis
    * 2006): every doc draws a deterministic uniform u ∈ [0,1) from
    * the first 8 hex chars of md5(doc_id) and competes with key
    * u^(1/w), weight w = word count — the k largest keys are a
    * weight-proportional sample. This is the curation pick "sample k
    * docs, preferring the ones my weight column likes" (swap word
    * count for a quality score in production), reproducible on any
    * cluster because the randomness IS the hash, not an RNG.
    *
    * Shape at 100 TB: u, w and the key are map-only per-doc
    * expressions; the k winners come out of TakeOrderedAndProject
    * (per-partition bounded heaps, no global sort) — one k-row
    * result regardless of corpus size.
    */
  def weightedSample(documents: DataFrame, k: Int = 100): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val w = size(filter(split(col("text"), " ", -1), x => length(x) > 0))
    documents
      .select(col("doc_id"), w.cast("double").as("weight"), u.as("u"))
      .filter(col("weight") > 0)
      .select(col("doc_id"), col("weight"),
        pow(col("u"), lit(1.0) / col("weight")).as("key_raw"))
      .orderBy(col("key_raw").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("weight"), round(col("key_raw"), 6).as("es_key"))
  }

  /** Per-document character-entropy signal — Shannon entropy of the
    * character distribution, the classic gibberish/boilerplate
    * detector (base64 blobs and key-mash score high, templated
    * repetition scores low; natural prose sits in a narrow band).
    *
    * Shape at 100 TB: ONE codegen'd pass per row computes the char
    * histogram and entropy fold in place
    * ([[graft.functions.CharEntropyOf]]) — the whole key is map-only
    * plus the presentation sort. The previous relational spelling
    * (explode(sequence(1, length)) + substring(text, i, 1)) paid an
    * O(i) UTF-8 walk PER CHARACTER — quadratic per doc, 15.7 s warm
    * at sf10 and 9.8×/decade (round-13 verdict); the oracle keeps
    * that spelling, the expression's scaladoc carries the
    * equivalence argument.
    */
  def charEntropy(documents: DataFrame): DataFrame = {
    documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.charEntropy(col("text")).as("he"))
      .select(col("doc_id"), col("he.n_chars").as("n_chars"),
        round(col("he.entropy"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** n-gram diversity by source: distinct-n / total-n for n = 1..3
    * (the "distinct-n" generation-diversity metric applied to a
    * corpus) — low ratios flag templated or self-repetitive sources
    * that inflate token counts without adding signal; the per-source
    * breakdown feeds mixture reweighting alongside
    * [[mixWeights]]/[[dsirWeights]].
    *
    * Shape at 100 TB: ONE codegen'd pass per row emits every n's
    * grams ([[graft.functions.WordNgrams]] — the HOF spelling
    * (transform→slice→array_join per n) evaluates interpreted,
    * Slice.nullSafeEval + a collection copy per ELEMENT; jstack at
    * sf10 put all worker time there), and the distinct count is a
    * TWO-LEVEL aggregate: per-(source, n, gram) counts first
    * (map-side combine collapses repeats before the only corpus-
    * sized shuffle), then sum/count per (source, n) — partial-
    * aggregated to ~|sources|·maxN rows per map task before the
    * second, trivial exchange. The previous `count(DISTINCT gram)`
    * form planned an Expand that DOUBLED every gram row ahead of
    * that same shuffle (one copy per aggregate leg — the suite's
    * slowest key at sf10, 32.8 s warm); the cascaded form carries
    * each distinct gram exactly once and reads identically in the
    * oracle. No join, no window, no global sort.
    */
  def ngramDiversity(documents: DataFrame, maxN: Int = 3): DataFrame = {
    val grams = documents
      .select(col("source"),
        explode(graft.functions.VectorFunctions.wordNgrams(col("text"), maxN)).as("g"))
      // the report only needs COUNTS per distinct gram, so the
      // corpus-sized shuffle carries xxhash64(gram) longs, never gram
      // text (the [[graft.operators.Dedup.shingleDfHistogram]]
      // digest-key precedent — same birthday-bound collision odds and
      // the same failure mode: a collision surfaces as an oracle
      // mismatch on this key's diversity counts, since the DuckDB
      // oracle keeps string identity)
      .select(col("source"), col("g.n").as("n"), xxhash64(col("g.gram")).as("gram"))
    // the repartition satisfies the (source, n, gram) clustering, so
    // the heavy aggregate runs exchange-free; a plain groupBy exchange
    // was AQE-coalesced into a few fat tasks whose hash maps spilled
    // at the 8 g heap. The width scales with the corpus up to 8w
    // (measured at sf10): at a fixed concurrency, smaller partitions
    // divide the resident map bytes, the difference between riding
    // out a pressured 8 g heap and a GC storm when the suite's
    // neighbors have filled the old gen.
    grams
      .repartition(Sizing.width(documents, maxScale = 8),
        col("source"), col("n"), col("gram"))
      .groupBy("source", "n", "gram").agg(count(lit(1)).as("c"))
      .groupBy("source", "n")
      .agg(sum("c").as("n_total"), count(lit(1)).as("n_distinct"))
      .select(col("source"), col("n"), col("n_total"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_total"), 6).as("diversity"))
      .orderBy("source", "n")
  }

  /** Heaps'-law fit over the [[vocabGrowth]] curve: least-squares
    * slope β and scale K of ln(vocab) = ln(K) + β·ln(tokens) — the
    * vocabulary-growth exponent (natural corpora sit near β ≈ 0.5;
    * β → 1 means unbounded id/noise vocabulary, β → 0 means a closed
    * template vocabulary), the companion diagnostic to
    * [[zipfSlope]]'s frequency-side fit. The regression runs over
    * the nBuckets-row growth table — closed-form sums on a bounded
    * frame, nothing corpus-sized past the vocabGrowth shuffles.
    */
  def heapsLawFit(documents: DataFrame, nBuckets: Int = 10): DataFrame =
    vocabGrowth(documents, nBuckets)
      .filter(col("cum_tokens") > 0 && col("vocab_size") > 0)
      .select(log(col("cum_tokens").cast("double")).as("x"),
        log(col("vocab_size").cast("double")).as("y"))
      .agg(count(lit(1)).as("n_points"),
        avg("x").as("xb"), avg("y").as("yb"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("beta_raw",
        (col("sxy") - col("n_points") * col("xb") * col("yb")) /
          (col("sxx") - col("n_points") * col("xb") * col("xb")))
      .select(col("n_points"),
        round(col("beta_raw"), 6).as("beta"),
        round(exp(col("yb") - col("beta_raw") * col("xb")), 4).as("k"))

  /** Language-ID confusion matrix: the relational n-gram classifier's
    * predictions ([[languageIdRelational]], oracle-green) crossed
    * with the labeled `lang` column — per (true, predicted) counts
    * with a correctness flag, the evaluation artifact that turns the
    * classifier from "runs" into "measured" (precision/recall per
    * language read straight off the matrix). Adds one tiny
    * (langs × langs)-key aggregate on the classifier's scored
    * holdout `scores`.
    */
  def langConfusionMatrix(scores: DataFrame): DataFrame =
    scores
      .groupBy("true_lang", "pred_lang")
      .agg(count(lit(1)).as("n"),
        max(when(col("true_lang") === col("pred_lang"), 1L).otherwise(0L)).as("correct"))
      .orderBy("true_lang", "pred_lang")

  /** Code-vs-prose detection per source: density of code-symbol
    * characters ({}[]();=<>#|&*_) — the cheap structural signal
    * code-filtering curation passes run before anything model-based
    * (prose sits near 0, source code 5–15%). Map-only per-doc regex
    * count, one source-keyed aggregate; `minScore` sets the
    * code-like flag threshold.
    */
  def codeDetect(documents: DataFrame, minScore: Double = 0.05): DataFrame = {
    val symPat = "[{}\\[\\]();=<>#|&*_]"
    val scored = documents
      .filter(length(col("text")) > 0)
      .select(col("source"),
        round((length(col("text")) -
          length(regexp_replace(col("text"), symPat, ""))).cast("double") /
          length(col("text")), 6).as("code_score"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("code_score") >= minScore, 1L).otherwise(0L)).as("n_code_like"),
        round(avg("code_score"), 6).as("avg_code_score"))
      .select(col("source"), col("n_docs"), col("n_code_like"),
        round(col("n_code_like").cast("double") / col("n_docs"), 6).as("code_share"),
        col("avg_code_score"))
      .orderBy("source")
  }

  /** BPE-style token accounting per source: tokens under a
    * pre-tokenizer regex (letter runs | digit runs | punctuation
    * runs — the GPT-2-family pre-tokenization shape, RE2-safe so
    * every engine splits identically) next to whitespace words, and
    * their ratio — the tokens-per-word expansion factor that converts
    * corpus word counts into training-token budgets (code and
    * punctuation-heavy sources expand 2–3×; prose sits near 1.2).
    * Map-only regex per row, one source-keyed partial aggregate.
    */
  def tokenCount(documents: DataFrame): DataFrame = {
    val pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"
    documents
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_tok"),
        size(filter(split(col("text"), " ", -1), w => length(w) > 0)).as("n_words"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_words").as("n_words"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_words"),
        round(col("n_tokens").cast("double") / col("n_words"), 6).as("tokens_per_word"))
      .orderBy("source")
  }

  /** Pairwise source VOCABULARY overlap: Jaccard of the distinct word
    * sets of every source pair — the set-membership complement of
    * [[jsdSourceDrift]]'s distributional view (two sources can share
    * all words at wildly different frequencies, or share few words at
    * matching frequency shapes; curation needs both axes). The
    * self-join is keyed on the word with per-word source fan-out ≤
    * |sources|, so cost is Σ df² with df ≤ |sources| — bounded by
    * vocab × sources², never corpus-sized.
    */
  def sourceVocabOverlap(documents: DataFrame): DataFrame = {
    val sw = documents
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .select("source", "w").distinct()
    val sizes = sw.groupBy("source").agg(count(lit(1)).as("n_types"))
    val a = sw.select(col("source").as("source_a"), col("w"))
    val b = sw.select(col("source").as("source_b"), col("w"))
    a.join(b, Seq("w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_types").as("na"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_types").as("nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")), 6).as("vocab_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Per-source type-token ratio (lexical diversity at the SOURCE
    * granularity — the n=1 row of [[ngramDiversity]] is per (source,
    * n); this is the curation-dashboard headline number): distinct
    * word types over total tokens. Very low TTR flags template farms
    * and log spew; very high TTR flags OCR noise / id dumps. One
    * (source, w)-keyed aggregate; countDistinct rides the same
    * grouped shuffle as the token count.
    */
  def typeTokenRatio(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("w").as("n_types"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"))
      .orderBy("source")

  /** Per-source distribution drift: Jensen–Shannon divergence (natural
    * log) between each source's unigram distribution and the whole
    * corpus — the "is this slice the same language/register as the
    * mix" check run before reweighting a pretraining mixture (0 =
    * identical distribution, ln 2 = disjoint support). Reported next
    * to the source's vocabulary size.
    *
    * Shape at 100 TB: per-(source, w) counts are one map-side-combined
    * shuffle (vocabulary × sources, never token count); corpus totals
    * derive from that table, so raw text is read once. The JSD sum
    * needs every (source, corpus-word) cell — materialized as
    * vocab × n_sources rows via a broadcast of the source totals
    * (sources are few; the vocabulary table streams). Scores round to
    * 6 so double-sum order never shows.
    */
  def jsdSourceDrift(documents: DataFrame): DataFrame = {
    val sw = documents
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val st = sw.groupBy("source").agg(sum("c").as("n_src"))
    val cw = sw.groupBy("w").agg(sum("c").as("cc"))
    val ct = cw.agg(sum("cc").as("n_corpus"))
    // full grid: every corpus word × every source (absent word → c=0)
    val grid = cw.crossJoin(broadcast(ct)).crossJoin(broadcast(st))
      .join(sw, Seq("source", "w"), "left")
      .select(col("source"), col("n_src"),
        coalesce(col("c"), lit(0L)).cast("double").as("c"),
        col("cc").cast("double").as("cc"), col("n_corpus"))
    grid
      .select(col("source"),
        (col("c") / col("n_src")).as("p"),
        (col("cc") / col("n_corpus")).as("q"),
        when(col("c") > 0, lit(1L)).otherwise(lit(0L)).as("present"))
      .groupBy("source")
      .agg(
        round(sum(
          when(col("p") > 0,
            lit(0.5) * col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
            .otherwise(lit(0.0)) +
          lit(0.5) * col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))), 6)
          .as("jsd"),
        sum("present").as("n_types"))
      .orderBy("source")
  }

  /** Log₂-bucketed document-length histogram per source — the
    * power-law length profile curation dashboards plot (truncation
    * spikes, chunking artifacts, and binary-junk tails all show as
    * bucket anomalies). The bucket index is derived via the BINARY
    * DIGIT COUNT of n_chars (floor(log2) in pure integer/string
    * arithmetic — a floating log2 at an exact power of two rounds
    * differently across engines). Map-only per doc, then one tiny
    * (source, bucket) aggregate; the per-source share rides a
    * broadcast of per-source doc totals.
    */
  def docLengthHistogram(documents: DataFrame): DataFrame = {
    val b = documents
      .filter(col("n_chars") > 0)
      .select(col("source"), (length(expr("bin(n_chars)")) - 1).cast("int").as("bucket"))
    val totals = b.groupBy("source").agg(count(lit(1)).as("n_src"))
    b.groupBy("source", "bucket").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(totals), Seq("source"))
      .select(col("source"), col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("lo_chars"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1").as("hi_chars"),
        col("n_docs"),
        round(col("n_docs").cast("double") / col("n_src"), 6).as("share"))
      .orderBy("source", "bucket")
  }

  /** Gopher-style multi-rule quality gate (Rae et al. 2021 §A1.1
    * adapted to this corpus's whitespace-token text): per document,
    * word count bounds, mean-word-length band, minimum fraction of
    * words containing an alphabetic character, and a minimum number
    * of stopword hits — the classic "is this natural language at
    * all" screen that catches lorem-ipsum, symbol soup, and
    * navigation-bar scrapes before any model-based filter runs.
    * `keep` is the conjunction, decided on the UNROUNDED ratios so
    * both engines compare identical doubles; the reported ratios are
    * rounded for display.
    *
    * Scale: entirely map-side — the word array is materialized once
    * per doc in its own projection (interpreted higher-order lambdas
    * re-evaluate inlined children per element) and every rule is a
    * size/filter/aggregate over that array. No shuffle, no UDF; at
    * 100 TB this runs at scan speed and the `keep` column doubles as
    * a partition-pruning predicate for the write.
    */
  def gopherRules(documents: DataFrame,
                  minWords: Int = 5, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame =
    gopherScored(documents.select("doc_id", "text"), minWords, maxWords,
        minMeanLen, maxMeanLen, minAlphaFrac, minStopHits)
      .select("doc_id", "n_words", "mean_word_len", "frac_alpha", "n_stop", "keep")
      .orderBy("doc_id")

  /** `documents` with [[gopherRules]]' `keep` column appended, row for
    * row: the quality gate as a map-only projection, for pipelines
    * that filter on it instead of joining the gate's id set back.
    */
  def gopherKeep(documents: DataFrame): DataFrame =
    gopherScored(documents).select(documents.columns.map(col) :+ col("keep"): _*)

  /** `documents`' columns followed by the rule statistics and `keep`,
    * in two projections over the once-materialized word array.
    */
  private def gopherScored(documents: DataFrame,
                           minWords: Int = 5, maxWords: Int = 100000,
                           minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                           minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val in = documents.columns.map(col).toSeq
    val docs = documents.select(in :+
      filter(split(col("text"), " ", -1), w => length(w) > 0).as("_ws"): _*)
    val scored = docs.select(in ++ Seq(
      size(col("_ws")).as("n_words"),
      aggregate(col("_ws"), lit(0L), (acc, w) => acc + length(w)).as("sum_len"),
      size(filter(col("_ws"), w => w.rlike("[A-Za-z]"))).as("n_alpha"),
      size(filter(col("_ws"), w => w.isInCollection(gopherStopwords))).as("n_stop")): _*)
    val meanLen = col("sum_len").cast("double") / col("n_words")
    val alphaFrac = col("n_alpha").cast("double") / col("n_words")
    scored.select(in ++ Seq(
      col("n_words"),
      when(col("n_words") > 0, round(meanLen, 4)).as("mean_word_len"),
      when(col("n_words") > 0, round(alphaFrac, 6)).as("frac_alpha"),
      col("n_stop"),
      (col("n_words") >= minWords && col("n_words") <= maxWords &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        alphaFrac >= minAlphaFrac && col("n_stop") >= minStopHits).as("keep")): _*)
  }

  /** Language × source composition: per (source, lang) cell, doc and
    * char counts plus the share of the source's documents — the
    * "which crawls are language-pure" table a multilingual curation
    * run reads before setting per-language mix weights
    * ([[mixWeights]]) or routing sources to language-specific
    * filters. One map-side-combined aggregate over the labeled lang
    * column (for unlabeled corpora, feed [[languageId]]'s predictions
    * in as `lang`); per-source totals ride a broadcast join of a
    * sources-sized frame.
    */
  def langSourceMix(documents: DataFrame): DataFrame = {
    val cells = documents.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val totals = cells.groupBy("source").agg(sum("n_docs").as("n_src"))
    cells.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_chars"),
        round(col("n_docs").cast("double") / col("n_src"), 6).as("share"))
      .orderBy("source", "lang")
  }

  /** Quality × duplication cross-report: do documents that FAIL the
    * [[gopherRules]] gate duplicate more often than clean ones? (In
    * web crawls they do — boilerplate and template spam is both
    * low-quality and heavily mirrored — and the answer decides
    * whether to run the cheap quality filter before the expensive
    * dedup join to shrink its input.) Two rows: keep ∈ {true,
    * false}, each with its exact-duplicate membership rate.
    *
    * The dup flag rides the [[graft.operators.Dedup.exact]] wire
    * discipline — 16-byte digests shuffle, text never does; the
    * quality leg is the map-only rules pass; the final rollup is two
    * rows.
    */
  def qualityVsDup(documents: DataFrame): DataFrame = {
    val keepFlags = gopherRules(documents).select(col("doc_id"), col("keep"))
    val withDigest = documents.select(col("doc_id"), md5(col("text")).as("digest"))
    val counts = withDigest.groupBy("digest").agg(count(lit(1)).as("n_copies"))
    val dupFlags = withDigest.join(counts, Seq("digest"))
      .select(col("doc_id"), (col("n_copies") > 1).as("is_dup"))
    keepFlags.join(dupFlags, Seq("doc_id"))
      .groupBy("keep")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("keep"), col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs"), 6).as("dup_rate"))
      .orderBy("keep")
  }

  /** Word burstiness (Church & Gale 1995): collection frequency over
    * document frequency for the top-`n` words — cf/df ≈ 1 marks
    * function-word-like even spreading, cf/df ≫ 1 marks words that
    * "burst" inside few documents (topic terms, or boilerplate
    * repeated within template pages). Read next to [[topWords]]
    * before building stopword lists: high-cf words with high burst
    * are NOT stopwords, they're boilerplate. One vocabulary-keyed
    * aggregate over (word, doc) pairs — the df side dedups per doc
    * map-side via the distinct pair grouping; text never shuffles.
    */
  def wordBurstiness(documents: DataFrame, n: Int = 30): DataFrame =
    documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("word")
      .agg(sum("c").as("cf"), count(lit(1)).as("df"))
      .select(col("word"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df"), 6).as("burst"))
      .orderBy(col("cf").desc, col("word"))
      .limit(n)

  /** Corpus-mix diversity indices: for each grouping dimension
    * (source, lang), the Shannon entropy of the document shares, its
    * exponential (the "effective number" of equally-weighted sources
    * — Hill number of order 1), and the Herfindahl concentration
    * Σ share² — the one-page answer to "is this corpus actually
    * diverse or is it one crawl wearing ten names", read before
    * [[mixWeights]] re-balancing. Single-aggregate entropy identity
    * H = ln N − Σ n·ln n / N (the [[graft.operators.EventOps.userTypeEntropy]]
    * convention); each dimension is a values-sized aggregate
    * collapsed to ONE row.
    */
  def mixDiversity(documents: DataFrame): DataFrame = {
    def dim(name: String, key: org.apache.spark.sql.Column): DataFrame =
      documents.groupBy(key.as("k")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_values"), sum("n").as("total_docs"),
          sum(col("n").cast("double") * log(col("n"))).as("nlogn"),
          sum(col("n").cast("double") * col("n")).as("nsq"))
        .select(lit(name).as("dimension"), col("n_values"), col("total_docs"),
          round(log(col("total_docs")) - col("nlogn") / col("total_docs"), 6)
            .as("entropy"),
          round(exp(log(col("total_docs")) - col("nlogn") / col("total_docs")), 4)
            .as("effective_n"),
          round(col("nsq") / (col("total_docs") * col("total_docs")), 6)
            .as("herfindahl"))
    dim("lang", col("lang")).unionByName(dim("source", col("source")))
      .orderBy("dimension")
  }

  /** Temperature-scaled sampling weights (τ = 2): q_s ∝ √p_s over
    * the per-source document shares — the standard multilingual/
    * multi-source upsampling rule (Conneau & Lample 2019 §3.1;
    * T5/mC4 use the same family) that lifts small sources without
    * letting any source dominate. τ = 2 keeps both engines exact:
    * √ is correctly rounded IEEE everywhere, no pow() anywhere.
    * `upsample` = q/p says how much hotter each source samples than
    * its natural rate — feed it to [[mixResample]]. Two aggregates
    * over a sources-sized table; scalars ride 1-row broadcasts.
    */
  def temperatureWeights(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").as("total"))
    val p = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("n_docs").cast("double") / col("total")).as("p"),
        sqrt(col("n_docs").cast("double") / col("total")).as("sp"))
    val z = p.agg(sum("sp").as("z"))
    p.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), round(col("p"), 6).as("p"),
        round(col("sp") / col("z"), 6).as("q"),
        round(col("sp") / col("z") / col("p"), 4).as("upsample"))
      .orderBy("source")
  }

  /** Common document openings: the most frequent first-`k`-words
    * prefixes with the number of documents and sources sharing them —
    * the boilerplate-header detector ("Terms of Service", navigation
    * preambles, OCR cover pages) that feeds prefix-strip rules before
    * dedup inflates those shared openings into giant near-dup
    * clusters. Map-only prefix extraction (slice of the split array),
    * one prefix-keyed aggregate, global top-k via TakeOrdered.
    */
  def commonOpenings(documents: DataFrame, k: Int = 5, topN: Int = 20): DataFrame =
    documents
      .select(col("source"),
        concat_ws(" ", slice(split(col("text"), " ", -1), 1, k)).as("opening"),
        size(split(col("text"), " ", -1)).as("n_words"))
      .filter(col("n_words") >= k)
      .groupBy("opening")
      .agg(count(lit(1)).as("n_docs"), countDistinct("source").as("n_sources"))
      .orderBy(desc("n_docs"), col("opening"))
      .limit(topN)

  /** Vocabulary coverage curve: share of total token mass covered by
    * the top-k most frequent words, at several k — the table a
    * tokenizer/vocab-size decision reads ("32k types cover 99.2% of
    * tokens; doubling the vocab buys 0.3%"). Frequency ranking runs
    * on the VOCABULARY table (types, not tokens — orders of magnitude
    * smaller than the corpus at any scale); the cumulative window and
    * the k-grid join both operate on that same table.
    */
  def vocabCoverage(documents: DataFrame,
                    ks: Seq[Int] = Seq(10, 100, 1000, 10000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    val counts = documents
      .select(explode(split(lower(col("text")), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"))
    val w = Window.orderBy(col("c").desc, col("w"))
    val ranked = counts
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum", sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val grid = ks.toDF("k")
    // a k beyond the vocabulary covers everything → coalesce to total
    grid.join(ranked.select(col("rnk"), col("cum")),
        col("rnk") === col("k"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_types"), col("n_tokens"),
        coalesce(col("cum"), col("n_tokens")).as("covered_tokens"),
        round(coalesce(col("cum"), col("n_tokens")).cast("double") / col("n_tokens"), 6)
          .as("coverage"))
      .orderBy("k")
  }

  /** Per-source stopword profile: function-word share of each
    * source's token mass (the [[gopherRules]] stopword list) — a
    * language-fluency fingerprint that separates prose crawls
    * (≈3–8% on this list) from keyword-stuffed or tabular sources
    * (≈0%) without any model. Map-only higher-order counts per doc,
    * one sources-sized rollup.
    */
  def stopwordProfile(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("source"),
      filter(split(col("text"), " ", -1), w => length(w) > 0).as("ws"))
    docs.select(col("source"), size(col("ws")).as("n_words"),
      size(filter(col("ws"), w => w.isInCollection(gopherStopwords))).as("n_stop"))
      .groupBy("source")
      .agg(sum(col("n_words").cast("long")).as("n_words"),
        sum(col("n_stop").cast("long")).as("n_stop"))
      .select(col("source"), col("n_words"), col("n_stop"),
        round(col("n_stop").cast("double") / col("n_words"), 6).as("stop_rate"))
      .orderBy("source")
  }

  /** Distinctive keywords per source: top-`k` terms by source-level
    * TF-IDF, where TF is the term's token count within the source
    * and IDF is ln(|sources| / #sources-containing) — the domain
    * fingerprint table ("what is src7 about") read when deciding mix
    * weights or spotting a mislabeled crawl (a "news" source whose
    * keywords are SKU codes). Differs from [[tfidfTopTerms]] in the
    * document unit: there each doc is scored, here each SOURCE is
    * the document, so the whole computation lives on the
    * (source × term) table — vocabulary-sized, orders below the
    * corpus at any scale; |sources| rides a 1-row broadcast.
    */
  def sourceKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("source"), explode(split(lower(col("text")), " ", -1)).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nSources = documents.select("source").distinct()
      .agg(count(lit(1)).as("n_sources"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(nSources))
      .withColumn("score",
        round(col("tf") * log(col("n_sources").cast("double") / col("df")), 6))
    val w = Window.partitionBy("source").orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("source", "rnk")
  }

  /** Skip-gram PMI pairs: the top co-occurring (left, right) word
    * pairs within a ±`window` token window, ranked by pointwise
    * mutual information — exactly the pair-generation pass a
    * word2vec/GloVe-style embedding trainer consumes, and the
    * collocation table ("new york", "machine learning") that feeds
    * phrase-merging before tokenizer training. Marginals are taken
    * from the PAIR table (not raw unigrams) so PMI is
    * self-consistent; a `minCount` floor kills the noisy tail
    * before ranking; ranking runs on the ROUNDED pmi with a (a, b)
    * tiebreak so both engines agree.
    *
    * Pair extraction is the token array zipped against its own
    * 1..window shifts — map-only, no self-join, no positional
    * explode; the aggregate is the vocabulary²-bounded pair table
    * with map-side combine.
    */
  def skipgramPmi(documents: DataFrame, window: Int = 2, minCount: Int = 5,
                  topN: Int = 20): DataFrame = {
    val ws = documents
      .select(filter(split(lower(col("text")), " ", -1), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 2)
    // One scan/tokenize for ALL window distances: the per-distance
    // (w_i, w_{i+d}) struct arrays concat before a single explode, so
    // the corpus is split exactly once (the former union of d branches
    // re-read and re-tokenized the documents per distance — 2× the
    // scan+split work at window=2 for an identical pair multiset).
    val shifted = ws.select(explode(concat(
        (1 to window).map { d =>
          zip_with(col("ws"),
            slice(col("ws"), lit(d + 1), greatest(size(col("ws")) - d, lit(0))),
            (a, b) => struct(a.as("a"), b.as("b")))
        }: _*)).as("p"))
      .filter(col("p.b").isNotNull)
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cab = shifted.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val caL = cab.groupBy("a").agg(sum("c_ab").as("c_a"))
    val cbR = cab.groupBy("b").agg(sum("c_ab").as("c_b"))
    val tot = cab.agg(sum("c_ab").as("n_pairs"))
    cab.filter(col("c_ab") >= minCount)
      .join(caL, "a").join(cbR, "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("c_ab"),
        round(log(col("n_pairs").cast("double") * col("c_ab") /
          (col("c_a") * col("c_b"))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("a"), col("b"))
      .limit(topN)
  }

  /** Bigram conditional-entropy rate per source: H(next|prev) =
    * −Σ c(a,b)·ln(c(a,b)/c(a,·)) / N over each source's adjacent
    * word pairs — the sequence-predictability number that separates
    * templated/boilerplate sources (low H: the next word is nearly
    * determined) from diverse prose, on the same scale
    * ln-perplexity-per-token lives on. Complements
    * [[charEntropy]] (character level, per doc) and the
    * [[bigramLogProb]] fluency scorer (per doc vs a corpus model):
    * this is the corpus-level rate per source. All counts are
    * integers; the entropy sum runs over the vocabulary-sized bigram
    * table with map-side combine.
    */
  def bigramEntropyRate(documents: DataFrame): DataFrame = {
    // adjacency is the array zipped with its own tail - map-only, no
    // window, no per-doc key in the shuffle
    val pairs = documents
      .select(col("source"),
        filter(split(lower(col("text")), " ", -1), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("source"),
        explode(zip_with(col("ws"), slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .filter(col("p.b").isNotNull)
      .select(col("source"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = pairs.groupBy("source", "a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("source", "a").agg(sum("c_ab").as("c_a"))
    cab.join(ca, Seq("source", "a"))
      .groupBy("source")
      .agg(sum("c_ab").as("n_bigrams"),
        round(-sum(col("c_ab") *
          log(col("c_ab").cast("double") / col("c_a"))) / sum("c_ab"), 6)
          .as("entropy_rate"))
      .orderBy("source")
  }

  /** Per-source hapax legomena rate: share of each source's word
    * TYPES that occur exactly once in that source — the
    * lexical-novelty fingerprint that separates generative/templated
    * sources (low hapax — the same phrases recycle) from genuinely
    * diverse prose (high hapax), and the standard smoothing-mass
    * estimate (Good–Turing's n₁) a tokenizer/LM pipeline reads per
    * domain. One (source, word) count — vocabulary-sized after the
    * map-side combine — then a sources-sized rollup; the corpus text
    * itself crosses the shuffle only as word tokens with partial
    * counts, never as documents.
    */
  def hapaxBySource(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(split(lower(col("text")), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum("c").as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
        round(col("n_hapax").cast("double") / col("n_types"), 6).as("hapax_rate"))
      .orderBy("source")

  /** Curriculum buckets: decile each source's documents by a
    * fluency score (stopword share of the doc's tokens — the same
    * signal [[stopwordProfile]] aggregates per source, here applied
    * per document) and report each (source, decile) cell — the table
    * a curriculum-learning schedule reads ("start on decile 9, mix in
    * lower deciles by epoch"). ntile ties are broken by doc_id so the
    * assignment is total-order deterministic in both engines.
    *
    * Shape at 100 TB: scoring is map-only column math; the only
    * shuffle is the per-source ntile window, and its partition count
    * equals the source count — for a skewed mega-source, swap ntile
    * for percent_rank over a pre-aggregated score histogram (same
    * output contract). The report agg then runs on |sources|×10 rows.
    */
  def curriculumBuckets(documents: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = documents
      .select(col("doc_id"), col("source"),
        filter(split(col("text"), " ", -1), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"), size(col("ws")).as("n_words"),
        (size(filter(col("ws"), w => w.isInCollection(gopherStopwords)))
          .cast("double") / size(col("ws"))).as("score"))
    val w = Window.partitionBy("source").orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("score"), 6).as("avg_score"),
        round(avg(col("n_words").cast("double")), 4).as("avg_words"))
      .orderBy("source", "bucket")
  }

  /** Word-length profile per language: histogram of token lengths
    * (capped at `maxLen` — longer tokens land in the cap bucket) with
    * within-language shares — a model-free language fingerprint
    * (Chinese transliterations, German compounds, and URL-ish tokens
    * separate cleanly) and the input a subword-tokenizer budget reads.
    * Map-only length math; the agg output is bounded by
    * |langs| × maxLen rows regardless of corpus size.
    */
  def wordLenProfile(documents: DataFrame, maxLen: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .select(col("lang"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("lang"), least(length(col("w")), lit(maxLen)).as("word_len"))
      .groupBy("lang", "word_len").agg(count(lit(1)).as("n_words"))
    counts
      .withColumn("share",
        round(col("n_words") / sum("n_words").over(Window.partitionBy("lang")), 6))
      .orderBy("lang", "word_len")
  }

  /** Flesch reading-ease profile per source: per-doc score
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) with
    * the standard corpus heuristics — sentences counted as runs of
    * terminal punctuation `[.!?]+` (min 1 so headline-only docs don't
    * divide by zero) and syllables as vowel-group runs `[aeiouy]+`
    * (Flesch 1948; the vowel-run proxy is the usual model-free
    * stand-in for dictionary syllabification). Readability is a
    * standard pretraining-quality axis: sources whose mean score
    * collapses are boilerplate/code/gibberish, extreme highs are
    * template spam. Both regex counts use identical Java/RE2
    * character-class semantics, and the per-doc score is rounded
    * before the per-source mean so engines average identical doubles.
    *
    * Shape at 100 TB: pure map-side regex math per doc, then a
    * |sources|-group partial aggregate — text never shuffles.
    */
  def readabilityBySource(documents: DataFrame): DataFrame = {
    val perDoc = documents
      .select(col("source"),
        size(filter(split(lower(col("text")), " ", -1), w => length(w) > 0))
          .cast("double").as("n_words"),
        greatest(lit(1), regexp_count(col("text"), lit("[.!?]+")))
          .cast("double").as("n_sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+"))
          .cast("double").as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("source"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835) - lit(1.015) * (col("n_words") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables") / col("n_words")), 6).as("flesch"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("flesch"), 4).as("avg_flesch"),
        round(avg(col("n_words") / col("n_sentences")), 4).as("avg_words_per_sentence"),
        round(avg(col("n_syllables") / col("n_words")), 4).as("avg_syllables_per_word"))
      .orderBy("source")
  }

  /** Moving-average type-token ratio per source (MATTR, Covington &
    * McFall 2010): per doc, the mean distinct-share over sliding
    * `window`-token windows (stride `stride`), which — unlike the raw
    * [[typeTokenRatio]] — does not shrink mechanically with document
    * length, so sources mixing long and short docs compare fairly.
    * Docs shorter than one window fall back to their plain TTR. The
    * per-doc score is one exact integer sum (Σ window distinct
    * counts) over one division, rounded before the per-source mean.
    *
    * Shape at 100 TB: entirely map-side higher-order array functions
    * on the materialized token array (no explode, no shuffle of
    * text); the only exchange is the |sources|-group rollup. Per-doc
    * cost is O((n/stride)·window) array scans.
    */
  def mattrBySource(documents: DataFrame, window: Int = 25,
                    stride: Int = 10): DataFrame = {
    val toks = documents
      .select(col("source"),
        filter(split(lower(col("text")), " ", -1), w => length(w) > 0).as("ws"))
      .withColumn("n", size(col("ws")))
      .filter(col("n") > 0)
    val positions = sequence(lit(0), col("n") - window, lit(stride))
    val withM = toks.withColumn("mattr",
      when(col("n") >= window,
        round(aggregate(
          transform(positions,
            i => size(array_distinct(slice(col("ws"), i + 1, lit(window))))),
          lit(0L), (acc, x) => acc + x).cast("double") /
          (size(positions) * window), 6))
        .otherwise(round(size(array_distinct(col("ws"))).cast("double") / col("n"), 6)))
    withM.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), round(avg("mattr"), 4).as("avg_mattr"))
      .orderBy("source")
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword/punctuation-delimited word runs (≤
    * `maxPhraseLen` words); each word scores degree/frequency where
    * degree sums the lengths of the phrases it appears in, and a
    * phrase scores the sum of its words' scores — multi-word terms
    * whose words co-travel outrank frequent-but-generic unigrams,
    * which is exactly what TF-IDF misses for phrases. Top
    * `topK` phrases by (rounded score, phrase). The stopword set is
    * the shared [[gopherStopwords]] list, applied as one regex
    * (word-boundary alternation + terminal punctuation → delimiter)
    * with identical RE2/Java semantics.
    *
    * Shape at 100 TB: phrase extraction is map-side regex + split;
    * the word-stat and phrase-score aggregates are vocabulary- and
    * phrase-table-sized; the final cut is a TakeOrdered top-k.
    */
  def rakeKeywords(documents: DataFrame, maxPhraseLen: Int = 4,
                   topK: Int = 20): DataFrame = {
    val delimPat = "\\b(?:" + gopherStopwords.mkString("|") + ")\\b|[.!?,;:]"
    val occs = documents
      .select(explode(split(regexp_replace(lower(col("text")), delimPat, "|"),
        "\\|", -1)).as("raw"))
      .select(filter(split(col("raw"), " ", -1), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")).between(1, maxPhraseLen))
      .select(concat_ws(" ", col("ws")).as("phrase"), col("ws"))
    val wordStats = occs
      .select(size(col("ws")).as("len"), explode(col("ws")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .select(col("word"), round(col("deg") / col("freq"), 6).as("w_score"))
    val phrases = occs.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
    phrases
      .select(col("phrase"), col("n_occ"),
        filter(split(col("phrase"), " ", -1), w => length(w) > 0).as("ws"))
      .select(col("phrase"), col("n_occ"), explode(col("ws")).as("word"))
      .join(wordStats, "word")
      .groupBy("phrase", "n_occ")
      .agg(round(sum("w_score"), 4).as("score"))
      .orderBy(desc("score"), col("phrase"))
      .limit(topK)
  }

  /** Stopword list for [[gopherRules]] — shared with the oracle SQL. */
  private[graft] val gopherStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "on", "that", "for", "with")
}
