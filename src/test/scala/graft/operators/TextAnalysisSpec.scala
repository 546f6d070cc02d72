package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("textStats counts chars/words/tokens/markers") {
    val d = Seq((1L, "the cat9 sat on the mat")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(d).collect().head
    assert(r.getInt(1) == 23)          // n_chars
    assert(r.getInt(2) == 6)           // words
    assert(r.getInt(3) == 7)           // [a-z]+|[0-9]+ → the,cat,9,sat,on,the,mat
    assert(r.getInt(4) == 2)           // "the" occurrences
  }

  test("trigrams of short strings") {
    val d = Seq((1L, "abcd"), (2L, "ab")).toDF("id", "t")
    val out = d.select(col("id"),
        TextAnalysis.trigramsFromChars(col("t"), split(col("t"), "", -1)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("abc", "bcd"))
    assert(out(2L) == Seq())
  }

  test("repetitionSignals: duplicate/top-gram fractions on crafted docs") {
    val d = Seq((1L, "a a b"), (2L, "solo"), (3L, "x  x y x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // doc 1: 3 words, 2 distinct → dup 1/3; top word "a" 2/3;
    // bigrams "a a" and "a b" once each → top 1/2
    assert(out(1L) == ((3L, 0.333333, 0.666667, 0.5)))
    // doc 2: single word → no bigrams → fraction 0.0
    assert(out(2L) == ((1L, 0.0, 1.0, 0.0)))
    // doc 3: the double space yields an empty token that is filtered
    // BEFORE pairing, so the bigram stream pairs across the gap:
    // words x,x,y,x,y → bigrams "x x","x y","y x","x y" → top 2/4;
    // 5 words, 2 distinct → dup 3/5; top word "x" 3/5
    assert(out(3L) == ((5L, 0.6, 0.6, 0.5)))
  }

  test("chunkDocuments: overlapping windows cover the doc; short docs emit themselves") {
    val words120 = (1 to 120).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, words120), (2L, "tiny doc")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val doc1 = out.filter(_._1 == 1L)
    // ceil((120-10)/40) = 3 chunks: words 1-50, 41-90, 81-120
    assert(doc1.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(doc1.map(_._3).toSeq == Seq(50L, 50L, 40L))
    assert(doc1(0)._4.startsWith("w1 w2 ") && doc1(0)._4.endsWith(" w50"))
    assert(doc1(1)._4.startsWith("w41 ") && doc1(1)._4.endsWith(" w90"))
    assert(doc1(2)._4.startsWith("w81 ") && doc1(2)._4.endsWith(" w120"))
    // consecutive chunks overlap by exactly `overlap` words
    assert(doc1(0)._4.split(" ").takeRight(10).toSeq == doc1(1)._4.split(" ").take(10).toSeq)
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 2L, "tiny doc")))
  }

  test("stratifiedSample: per-source rates over the deterministic hash bucket") {
    val d = graft.Tables.documents(spark, sf0001)
    val out = TextAnalysis.stratifiedSample(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, source, bucket, pct) =>
      assert(bucket < pct)
      val even = source.filter(_.isDigit).toLong % 2 == 0
      assert(pct == (if (even) 20 else 5), s"wrong rate for $source")
    }
    // the boosted tier samples at ~4x the default rate
    val (evenN, oddN) = out.partition(_._4 == 20)
    assert(evenN.length > oddN.length)
    // buckets agree with the hashSample primitive (same md5 arithmetic)
    val hs = TextAnalysis.hashSample(d, pct = 100).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, _, bucket, _) => assert(hs(id) == bucket) }
  }

  test("fingerprints: case/punct-insensitive canonical hash") {
    val d = Seq((1L, "Hello, World!"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("piiScrub redacts planted emails and phone numbers") {
    val d = Seq(
      (1L, "contact me at alice.smith+spam@example.co.uk or call +1 555 867-5309 now"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L).contains("<EMAIL>") && !out(1L).contains("example.co.uk"))
    assert(out(1L).contains("<PHONE>") && !out(1L).contains("867"))
    assert(out(2L) == "no pii here at all")
  }

  test("qualityFilter keeps in-bounds docs with reasons") {
    val d = Seq(
      (1L, "short"),                                          // too_short
      (2L, ("x " * 30).trim),                                 // ok (60 chars, 30 words)
      (3L, "a" * 60)).toDF("doc_id", "text")                  // 60 chars but 1 word
    val out = TextAnalysis.qualityFilter(d).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(out(1L) == (false, "too_short"))
    assert(out(2L) == (true, "ok"))
    assert(out(3L) == (false, "too_few_words"))
  }

  test("datasetSplit partitions 80/10/10 deterministically") {
    val docs = Tables.documents(spark, sf0001)
    val out = TextAnalysis.datasetSplit(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("train", "val", "test"))
    assert(out.values.sum == docs.count())
    assert(out("train") > out("val") && out("train") > out("test"))
  }

  test("hashSample: deterministic, monotone in pct, roughly proportional") {
    val docs = Tables.documents(spark, sf0001)
    val s10 = TextAnalysis.hashSample(docs, 10).collect().map(_.getLong(0)).toSet
    val s10b = TextAnalysis.hashSample(docs.repartition(9), 10).collect().map(_.getLong(0)).toSet
    assert(s10 == s10b) // partitioning-independent
    val s5 = TextAnalysis.hashSample(docs, 5).collect().map(_.getLong(0)).toSet
    assert(s5.subsetOf(s10)) // smaller pct is a strict slice of larger
    val n = docs.count().toDouble
    assert(s10.size > n * 0.04 && s10.size < n * 0.20, s"10% sample got ${s10.size}/$n")
  }

  test("topKBySource keeps k longest docs per source with deterministic ranks") {
    val docs = Tables.documents(spark, sf0001)
    val out = TextAnalysis.topKBySource(docs, k = 3).collect()
    val bySrc = out.groupBy(_.getString(0))
    assert(bySrc.values.forall(_.length <= 3))
    bySrc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      // word counts non-increasing with rank
      assert(sorted.map(_.getInt(3)).toSeq.reverse.sorted.reverse == sorted.map(_.getInt(3)).toSeq)
    }
  }

  test("charEntropy: codegen one-pass equals the relational spelling it replaced") {
    // differential spec (the NormalizeText precedent): the quadratic
    // explode+substring chain stays as the reference here and in the
    // DuckDB oracle; the shipped CharEntropyOf must match it row-for-
    // row on real corpus text AND on adversarial shapes — multi-byte
    // UTF-8 (2/3/4-byte chars), single-distinct-char docs (the -0.0
    // edge), and an alphabet wider than ASCII.
    def relational(documents: org.apache.spark.sql.DataFrame) =
      documents
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"), length(col("text")).as("n_chars"),
          explode(sequence(lit(1), length(col("text")))).as("i"))
        .select(col("doc_id"), col("n_chars"), expr("substring(text, i, 1)").as("ch"))
        .groupBy("doc_id", "n_chars", "ch").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n_chars")
        .agg(round(-sum((col("c").cast("double") / col("n_chars")) *
          log(col("c").cast("double") / col("n_chars"))), 6).as("entropy"))
        .orderBy("doc_id")
    val edge = Seq(
      (9001L, "aaaa"),                       // one distinct char: entropy 0 (−0.0 edge)
      (9002L, "日本語テキストと café naïve — ünïcödé 🙂🙂 mixed"),
      (9003L, "ab"), (9004L, "x"),
      (9005L, "αβγαβγ ΔΔ θθθ"))
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
      .unionByName(edge)
    val want = relational(corpus).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val got = TextAnalysis.charEntropy(corpus).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    val diffs = want.collect { case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"mismatches: ${diffs.take(5)}")
    assert(want(9001L)._2 == 0.0 || want(9001L)._2 == -0.0)
  }

  test("unigramLogProb: common-word docs score higher than rare-word docs") {
    val d = Seq(
      (1L, "the the the the"),       // only common tokens
      (2L, "the qzx the wvy"),       // half rare
      (3L, "the the the the"))       // duplicate of 1 (boosts 'the' freq)
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(TextAnalysis.unigramPairs(d)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out(1L)._1 > out(2L)._1, s"common-word doc should score higher: $out")
    assert(out(1L) == out(3L))
    assert(out(2L)._2 == 4L)
    // exact value check: corpus = 12 tokens, cnt(the)=10, cnt(qzx)=cnt(wvy)=1
    val expect1 = math.log(10.0 / 12.0)
    assert(math.abs(out(1L)._1 - BigDecimal(expect1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("languageId is deterministic and labels every doc") {
    val docs = Tables.documents(spark, sf0001)
    val out = TextAnalysis.languageId(docs).cache()
    assert(out.count() == docs.count())
    assert(out.filter(col("pred_lang").isNull).count() == 0)
    // deterministic across partitionings
    val a = out.collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    val b = TextAnalysis.languageId(docs.repartition(9)).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(a == b)
    out.unpersist()
  }

  test("languageIdRelational matches the mapPartitions fast path row-for-row") {
    val docs = Tables.documents(spark, sf0001)
    // the relational twin scores only its deterministic modulo-sample
    // (doc_id % 8 == 1); the fast path restricted to the same docs
    // must agree exactly — profile training sees the full train split
    // in both, so any profile divergence would surface here too.
    val fast = TextAnalysis.languageId(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .filter(_._1 % 8 == 1)
    val rel = TextAnalysis.languageIdRelational(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(fast.toSeq == rel.toSeq)
  }

  test("languageId: supplementary-char profile grams are unmatchable (pre-table behavior)") {
    // Profile grams are 3 CODE POINTS (trigramsFromChars slices a
    // code-point array); one containing a non-BMP char has UTF-16 length
    // > 3, and the scorer's 3-UTF-16-unit scan window could never equal
    // it — it must contribute 0 to every language. Keying such a gram by
    // its first 3 UTF-16 units would let doc 1's surrogate-pair windows
    // spuriously match doc 0's profile.
    val mathA = "𝕒" // 𝕒 U+1D552, one code point, two UTF-16 units
    val docs = Seq(
      (0L, "aa", mathA * 6),            // train doc (0 % 8 == 0): every trigram non-BMP
      (8L, "cc", "abc abc abc abc"),    // BMP control profile
      (1L, "bb", mathA * 2),            // scan windows = the 3-unit PREFIX of 𝕒𝕒𝕒
      (2L, "cc", "abc abc"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.languageId(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(out(1L) == (("und", 0L)), s"spurious prefix match: ${out(1L)}")
    assert(out(0L) == (("und", 0L)), s"spurious prefix match: ${out(0L)}")
    assert(out(2L)._1 == "cc") // BMP matching unaffected
  }

  test("bigramLogProb: add-1 smoothed conditional log-probs, exact on a tiny corpus") {
    val d = Seq((1L, "a b a b"), (2L, "b a"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
    // cb: (a,b)=2, (b,a)=2; c(a)=c(b)=2; V=2 contexts
    // every bigram scores ln((2+1)/(2+2)) = ln(0.75)
    val lp = BigDecimal(math.log(0.75)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == List((1L, lp, 3L), (2L, lp, 1L)), out.toString)
    // single-token doc has no bigrams → absent, not null-scored
    assert(!out.exists(_._1 == 3L))
  }

  test("mixWeights: weight = target/actual; untargeted languages get 0") {
    val d = Seq(
      (1L, "a", "en"), (2L, "b", "en"), (3L, "c", "en"),  // 75% actual
      (4L, "d", "xx"))                                    // 25% actual, not in target
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.mixWeights(d, target = Seq("en" -> 0.5)).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out("en") == ((0.75, 0.5, BigDecimal(0.5 / 0.75)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)), out.toString)
    assert(out("xx") == ((0.25, 0.0, 0.0)), out.toString)
  }

  test("mixResample: over-represented language is thinned toward the target mixture") {
    val docs = graft.Tables.documents(spark, sf0001)
    val kept = TextAnalysis.mixResample(docs).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // observed keep fraction tracks the computed acceptance odds
    // p_keep = min(round6(target/actual) * 0.5, 1) for every language
    // (tolerance covers md5-bucket binomial noise at ~70-200 docs)
    val total = before.values.sum.toDouble
    val target = Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.15, "fr" -> 0.1, "de" -> 0.05)
    target.foreach { case (l, t) =>
      val w = BigDecimal(t / (before(l) / total))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val pKeep = math.min(w * 0.5, 1.0)
      val observed = kept.getOrElse(l, 0L).toDouble / before(l)
      assert(math.abs(observed - pKeep) < 0.12, s"$l: observed=$observed pKeep=$pKeep")
    }
    // cut column is the same for every doc of a language
    val cuts = TextAnalysis.mixResample(docs).select("lang", "cut").distinct().collect()
    assert(cuts.length == cuts.map(_.getString(0)).distinct.length)
  }

  test("groupSample: exactly k per source, hash-ordered, invariant under corpus growth") {
    val d = (1L to 10L).map(i => (i, s"t$i", if (i <= 6) "s0" else "s1"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.groupSample(d, k = 2).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    assert(out.count(_._1 == "s0") == 2 && out.count(_._1 == "s1") == 2)
    // the s0 picks don't change when s1 grows — selection is per-group only
    val grown = d.union(Seq((99L, "x", "s1"), (98L, "y", "s1")).toDF("doc_id", "text", "source"))
    val out2 = TextAnalysis.groupSample(grown, k = 2).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    assert(out.filter(_._1 == "s0").toSeq == out2.filter(_._1 == "s0").toSeq)
  }

  test("oovRate: coverage against the top-k vocabulary, frequency-then-word tie-break") {
    val d = Seq(
      (1L, "the the the cat", "s0"),  // vocab(2) = {the, cat?}: the×3, cat×1, dog×1, owl×1 → tie cat/dog/owl → cat wins alphabetically
      (2L, "dog owl", "s1"))          // both OOV → rate 1.0
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.oovRate(d, vocabSize = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map("s0" -> (1L, 0.0), "s1" -> (1L, 1.0)), out.toString)
  }

  test("heavyHitterTokens: string-keyed Misra-Gries is exact in the capacity >= vocab regime") {
    val d = Seq(
      (1L, ("hot " * 120).trim),
      (2L, ("hot " * 30).trim + " " + ("warm " * 110).trim),
      (3L, "cold rare words only"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.heavyHitterTokens(d, capacity = 16, minCount = 100).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.toSeq == Seq("hot" -> 150L, "warm" -> 110L), out.toSeq.toString)
  }

  test("bpeMergeCandidates: pair counts weight by word frequency; top pair is the BPE merge") {
    val d = Seq(
      (1L, "low low low lower"),   // "lo","ow" x4; "we","er" x1
      (2L, "lowest low"))          // "lo","ow" x2 more; "we","es","st" x1
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeCandidates(d, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // "lo" and "ow" appear once per occurrence of each of the 6 words
    assert(out.take(2).toMap == Map("lo" -> 6L, "ow" -> 6L), out.toSeq.toString)
    assert(out(2) == ("we" -> 2L), out.toSeq.toString) // lower + lowest
  }

  test("vocabGrowth: first occurrences drive vocab, cumulative counts are exact") {
    // width = ceil(4/2) = 2 → bucket 0 = docs {0,1}, bucket 1 = docs {2,3}
    val d = Seq(
      (0L, "a b"),       // new: a, b
      (1L, "a c"),       // new: c
      (2L, "a d d"),     // new: d
      (3L, "b c"))       // nothing new
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(d, nBuckets = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 4L, 3L, 4L, 3L), (1L, 5L, 1L, 9L, 4L)), out.toSeq.toString)
  }

  test("packSequences: docs fill packs by cumulative token offset per source") {
    val d = Seq(
      (1L, ("w " * 1000).trim, "s0"),  // 1000 tokens → pack 0 (offset 0)
      (2L, ("w " * 1500).trim, "s0"),  // offset 1000 → pack 0 (straddles into 1)
      (3L, ("w " * 100).trim, "s0"),   // offset 2500 → pack 1
      (4L, ("w " * 10).trim, "s1"))    // other source packs independently
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.packSequences(d, budget = 2048).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("s0", 0L) -> (2L, 2500L),
      ("s0", 1L) -> (1L, 100L),
      ("s1", 0L) -> (1L, 10L)), out.toString)
  }

  test("tfidfTopTerms: rare terms outrank common ones; ranks break ties on term") {
    val d = Seq(
      (1L, "alpha alpha alpha common common"),
      (2L, "beta common common"),
      (3L, "common common common"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // "common" appears in all 3 docs → idf = ln(1) = 0 → score 0
    // doc 1: alpha tf=3 idf=ln(3) → top; common second (score 0)
    val doc1 = out.filter(_._1 == 1L)
    assert(doc1.head._2 == "alpha" && doc1.head._4 == 1L)
    assert(math.abs(doc1.head._3 - BigDecimal(3.0 * math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(doc1(1)._2 == "common" && doc1(1)._3 == 0.0)
    // doc 3 has only "common" → a single rank-1 row, no padding
    assert(out.count(_._1 == 3L) == 1)
  }

  test("tfidfTopTerms: shipped plan matches an independent naive formulation row-for-row") {
    // Differential twin: gather every scored (term, score) row per doc
    // with collect_list, sort each doc's array by (-score, term) —
    // struct comparison is field-order lexicographic, so ascending on
    // (ns = -score, term) IS (score desc, term asc) — and slice the
    // top k. Totally different physical plan (object gather + per-row
    // array sort vs repartition + window), same semantics; run on real
    // corpus data and across input partitionings.
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, sf0001)
    def naive(docs: org.apache.spark.sql.DataFrame, k: Int) =
      TextAnalysis.tfidfScored(docs)
        .groupBy("doc_id")
        .agg(slice(sort_array(collect_list(struct((-col("score")).as("ns"), col("term")))),
          1, k).as("tk"))
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "pair")))
        .select(col("doc_id"), col("pair.term").as("term"), (-col("pair.ns")).as("score"),
          (col("pos") + 1).cast("long").as("rnk"))
        .orderBy("doc_id", "rnk")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    val expected = rows(naive(d, 3))
    assert(expected.nonEmpty)
    assert(rows(TextAnalysis.tfidfTopTerms(d, k = 3)) === expected)
    assert(rows(TextAnalysis.tfidfTopTerms(d.repartition(13), k = 3)) === expected)
  }

  test("bm25Search filters to query terms before aggregating and ranks matching docs") {
    val d = Seq(
      (1L, "spark join window spark spark"), // 3×spark + join + window
      (2L, "spark filler filler filler filler filler filler filler"),
      (3L, "filler filler"),                 // no query terms → absent
      (4L, "join window"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25Search(d, k = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(!out.map(_._1).contains(3L), "non-matching doc leaked into BM25 results")
    val scores = out.toMap
    // doc 1 matches all three query terms → strictly best
    assert(scores(1L) > scores(2L) && scores(1L) > scores(4L), scores.toString)
    // plan: top-k is TakeOrderedAndProject, not a global sort
    val plan = TextAnalysis.bm25Search(d, k = 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"global sort in BM25 top-k:\n$plan")
  }

  test("observe: quality-gate counters ride the same pass as the filter output") {
    import org.apache.spark.sql.functions._
    // Pipeline observability at 100 TB: you cannot afford a second
    // scan just to count what a gate dropped. Dataset.observe attaches
    // accumulator-backed aggregates to the SAME action that produces
    // the output — counters cost nothing extra and arrive with the
    // batch.
    // Gotcha, learned here: observe must NOT sit under a global sort —
    // range partitioning runs a separate SAMPLING job over the child
    // plan, so the observed accumulators count every row twice. Keep
    // observe on the sort-free write path (writes don't sort).
    val docs = Tables.documents(spark, sf0001)
    val obs = new org.apache.spark.sql.Observation("quality_gate")
    val kept = docs
      .observe(obs, count(lit(1)).as("n_in"),
        sum(when(length(col("text")) < 50, 1L).otherwise(0L)).as("n_short"))
      .filter(length(col("text")) >= 50)
      .collect()
    val m = obs.get
    val nIn = m("n_in").asInstanceOf[Long]
    val nShort = m("n_short").asInstanceOf[Long]
    // observed input count equals the table's row count — one pass saw
    // everything — and kept + dropped reconciles exactly
    assert(nIn == docs.count())
    assert(kept.length.toLong == nIn - nShort)
  }

  test("pmiBigrams: exact PMI on a tiny corpus; chance-level pairs score ~0") {
    // "a b" always adjacent (perfect collocation), "x y"/"y x" mixed
    val d = Seq.tabulate(6)(i => (i.toLong, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiBigrams(d, minCount = 5).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // 12 tokens (6 a, 6 a b), 6 bigrams, all "a b":
    // pmi = ln( (6/6) / ((6/12)*(6/12)) ) = ln 4
    assert(out.keySet == Set(("a", "b")))
    assert(out(("a", "b"))._1 == 6L)
    assert(math.abs(out(("a", "b"))._2 - math.log(4.0)) < 1e-6)
  }

  test("zipfSlope: a planted power-law head fits slope -1") {
    // word w_r appears round(1000/r) times => ln cnt = ln 1000 - ln r
    val rows = (1 to 50).flatMap { r =>
      val cnt = math.round(1000.0 / r).toInt
      Seq.fill(cnt)(s"w${"%03d".format(r)}")
    }
    val d = Seq((1L, rows.mkString(" "))).toDF("doc_id", "text")
    val row = TextAnalysis.zipfSlope(d, topN = 50).collect().head
    assert(row.getLong(2) == 50L)
    assert(math.abs(row.getDouble(0) - (-1.0)) < 0.01, s"slope ${row.getDouble(0)}")
    assert(math.abs(row.getDouble(1) - math.log(1000.0)) < 0.05,
      s"intercept ${row.getDouble(1)}")
  }

  test("dsirWeights: target-typical docs out-score off-target docs") {
    // en docs share vocabulary {alpha beta}, fr docs {gamma delta}.
    // Add-1 smoothing over B=1024 buckets pushes ABSOLUTE scores
    // negative on a tiny corpus — the contract is the ORDERING:
    // target-vocabulary docs rank strictly above off-target ones.
    val d = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha beta alpha beta", "en"),
      (3L, "gamma delta gamma delta", "fr"),
      (4L, "gamma delta gamma delta", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.dsirWeights(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(3L), out.toString)
    assert(out(1L) == out(2L) && out(3L) == out(4L))
    // smoothed target mass for unseen buckets is tiny but finite
    assert(!out.values.exists(_.isNaN) && !out.values.exists(_.isInfinite))
  }

  test("pplBySource: rollup is the mean of per-doc bigram scores by source") {
    val d = Seq(
      (1L, "a b a b a b", "s1"),
      (2L, "a b c d e f", "s1"),
      (3L, "x y x y", "s2")
    ).toDF("doc_id", "text", "source")
    val scores = TextAnalysis.bigramLogProb(d)
    val perDoc = scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val out = TextAnalysis.pplBySource(scores, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("s1")._1 == 2L && out("s2")._1 == 1L)
    assert(math.abs(out("s1")._2 - (perDoc(1L) + perDoc(2L)) / 2) < 1e-6)
    assert(math.abs(out("s2")._2 - perDoc(3L)) < 1e-6)
  }

  test("invertedIndex: postings sorted by doc_id, df filter drops singletons") {
    val d = Seq((3L, "b a a"), (1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(d, minDf = 2).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // "c" has df=1 → dropped; postings ordered by doc_id regardless of input order
    assert(out.keySet == Set("a", "b"))
    assert(out("a") == ((2L, 3L, "1:1,3:2")))
    assert(out("b") == ((2L, 2L, "1:1,3:1")))
  }

  test("weightedSample: deterministic, k-bounded, empty docs excluded, key = u^(1/w)") {
    val d = (1L to 50L).map(i => (i, ("w " * i.toInt).trim)) :+ (99L, "")
    val df = d.toDF("doc_id", "text")
    val out1 = TextAnalysis.weightedSample(df, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val out2 = TextAnalysis.weightedSample(df, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out1.sameElements(out2), "hash-keyed sampling must be run-stable")
    assert(out1.length == 10)
    assert(!out1.map(_._1).contains(99L), "zero-weight doc must not compete")
    // keys are valid ES keys: in [0,1], sorted descending
    assert(out1.forall { case (_, w, key) => w >= 1 && key >= 0.0 && key <= 1.0 })
    assert(out1.map(_._3).sameElements(out1.map(_._3).sortBy(-_)))
  }

  test("charEntropy: uniform alphabet hits ln(n), single-char string is 0") {
    val d = Seq((1L, "abcd"), (2L, "aaaa"), (3L, "aabb")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 4 && math.abs(out(1L)._2 - math.log(4)) < 1e-6)
    assert(out(2L)._2 == 0.0)
    assert(math.abs(out(3L)._2 - math.log(2)) < 1e-6)
  }

  test("ngramDiversity: repeated text collapses distinct counts; short docs skip large n") {
    val d = Seq((1L, "s1", "a b a b"), (2L, "s2", "x")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.ngramDiversity(d).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // s1 unigrams: 4 tokens, 2 distinct; bigrams: 3 ("a b","b a","a b") → 2 distinct
    assert(out(("s1", 1)) == ((4L, 2L, 0.5)))
    assert(out(("s1", 2)) == ((3L, 2L, 0.666667)))
    assert(out(("s1", 3)) == ((2L, 2L, 1.0)))
    // one-token doc only yields n=1
    assert(out.keySet.filter(_._1 == "s2") == Set(("s2", 1)))
    assert(out(("s2", 1)) == ((1L, 1L, 1.0)))
  }

  test("codeDetect: symbol-dense doc flags code-like, prose does not") {
    val d = Seq(
      (1L, "s1", "def f(x) { return (x + y[0]); } # comment"),
      (2L, "s1", "plain prose with ordinary words and no symbols at all"),
      (3L, "s2", "more plain text"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.codeDetect(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("s1")) == ((2L, 1L, 0.5)), out.toString)
    assert(out(("s2")) == ((1L, 0L, 0.0)))
  }

  test("langConfusionMatrix aggregates exactly the relational classifier's holdout") {
    val docs = graft.Tables.documents(spark, sf0001)
    val rel = TextAnalysis.languageIdRelational(docs).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expected = rel.groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    val got = TextAnalysis.langConfusionMatrix(TextAnalysis.languageIdRelational(docs)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.values.sum == rel.length.toLong)
  }

  test("tokenCount: regex pre-tokenizer splits punctuation runs off words") {
    val d = Seq(
      (1L, "s1", "Hello, world! 123 foo_bar"),  // 8 tokens, 4 words
      (2L, "s2", "plain words here"))           // 3 tokens, 3 words
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.tokenCount(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out("s1") == ((1L, 8L, 4L, 2.0)), out.toString)
    assert(out("s2") == ((1L, 3L, 3L, 1.0)))
  }

  test("sourceVocabOverlap: set Jaccard per source pair; disjoint pairs emit no row") {
    val d = Seq((1L, "s1", "a b c"), (2L, "s2", "b c d"), (3L, "s3", "x"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceVocabOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("s1", "s2")) == ((2L, 0.5)), out.toString) // {b,c} / {a,b,c,d}
    assert(!out.contains(("s1", "s3")) && !out.contains(("s2", "s3")),
      "zero-overlap pairs are absent by construction (word-keyed blocking)")
  }

  test("heapsLawFit: all-new-words growth fits beta=1, k=1 exactly") {
    // 10 docs (ids 0..9 → one per bucket), 2 unique tokens each:
    // cum vocab == cum tokens at every bucket → ln V = 1·ln N + ln 1
    val d = (0L to 9L).map(i => (i, s"u${i}a u${i}b", "s"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.heapsLawFit(d).collect().head
    assert(r.getLong(0) == 10L)
    assert(r.getDouble(1) == 1.0, r.toString)
    assert(r.getDouble(2) == 1.0, r.toString)
  }

  test("typeTokenRatio: distinct/total per source") {
    val d = Seq((1L, "s1", "a b a"), (2L, "s1", "a c"), (3L, "s2", "x y z"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.typeTokenRatio(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("s1") == ((5L, 3L, 0.6)))   // tokens a b a a c → types a b c
    assert(out("s2") == ((3L, 3L, 1.0)))
  }

  test("jsdSourceDrift: identical-distribution source scores 0; disjoint source scores by the mix formula") {
    // two sources with the SAME distribution → corpus == each source → jsd 0
    val same = Seq((1L, "s1", "a b"), (2L, "s2", "a b")).toDF("doc_id", "source", "text")
    val outSame = TextAnalysis.jsdSourceDrift(same).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(outSame("s1") == 0.0 && outSame("s2") == 0.0)
    // disjoint vocabularies, equal sizes: each source's distribution
    // vs the CORPUS (its 50/50 mix with the other source)
    val disj = Seq((1L, "s1", "a a b b"), (2L, "s2", "x x y y")).toDF("doc_id", "source", "text")
    val outDisj = TextAnalysis.jsdSourceDrift(disj).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // each source sees the corpus as half-own half-foreign:
    // 0.5·Σp·ln(2p/(p+q)): own words q=p/2... compute expected directly
    val p = 0.5; val qOwn = 0.25; val qFor = 0.25
    val expected = BigDecimal(
      2 * (0.5 * p * math.log(2 * p / (p + qOwn))) +        // own words (p=0.5, q=0.25)
      2 * (0.5 * qOwn * math.log(2 * qOwn / (p + qOwn))) +  // q-side of own words
      2 * (0.5 * qFor * math.log(2 * qFor / (0 + qFor))))   // foreign words (p=0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(outDisj("s1") - expected) < 1e-6, s"${outDisj("s1")} vs $expected")
    assert(outDisj("s1") == outDisj("s2"))
  }

  test("docLengthHistogram: power-of-two bucket edges are exact") {
    val d = Seq((1L, "s", 1L), (2L, "s", 2L), (3L, "s", 3L), (4L, "s", 1024L))
      .map { case (id, s, n) => (id, s, "x" * n.toInt, n) }
      .toDF("doc_id", "source", "text", "n_chars")
    val out = TextAnalysis.docLengthHistogram(d).collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out(0) == ((1L, 1L, 1L, 0.25)))      // n_chars=1 → bucket 0 [1,1]
    assert(out(1) == ((2L, 3L, 2L, 0.5)))       // 2,3 → bucket 1 [2,3]
    assert(out(10) == ((1024L, 2047L, 1L, 0.25))) // exactly 2^10 → bucket 10
  }

  test("stopwordProfile: function-word share per source") {
    val d = Seq(
      (1L, "the cat and dog", "s1"),
      (2L, "xyz abc", "s1"),
      (3L, "a a a a", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.stopwordProfile(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("s1", 6L, 2L, 0.333333), ("s2", 4L, 4L, 1.0)),
      out.toSeq.toString)
  }

  test("vocabCoverage: cumulative token mass at the k grid, over-vocab k reaches 1") {
    val d = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(d, ks = Seq(1, 2, 10)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1, 3L, 6L, 3L, 0.5), (2, 3L, 6L, 5L, 0.833333), (10, 3L, 6L, 6L, 1.0)),
      out.toSeq.toString)
  }

  test("skipgramPmi: window-2 pairs with pair-table marginals") {
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.skipgramPmi(d, minCount = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // pairs: (a,b),(b,c) at d=1; (a,c) at d=2; N=3
    // pmi(a,b) = ln(3/(2·1)), pmi(b,c) = ln(3/(1·2)), pmi(a,c) = ln(3/4)
    assert(out.toSeq == Seq(
      ("a", "b", 1L, 0.405465), ("b", "c", 1L, 0.405465),
      ("a", "c", 1L, -0.287682)), out.toSeq.toString)
  }

  test("bigramEntropyRate: deterministic chains score zero, branching scores ln2-mass") {
    val d = Seq(
      (1L, "a b a b", "s1"),    // every context has one continuation → H = 0
      (2L, "x y x z", "s2"))    // x branches 50/50 → 2·ln2 over 3 bigrams
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.bigramEntropyRate(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("s1", 3L, 0.0), ("s2", 3L, 0.462098)),
      out.toSeq.toString)
  }

  test("sourceKeywords: source-level TF-IDF ranks the distinctive term first") {
    val d = Seq(
      (1L, "alpha alpha shared", "s1"),
      (2L, "beta shared shared", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceKeywords(d, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // "shared" is in both sources → idf = ln(1) = 0; uniques score tf·ln(2)
    assert(out.toSeq == Seq(
      ("s1", 1L, "alpha", 2L, 1L, 1.386294),
      ("s1", 2L, "shared", 1L, 2L, 0.0),
      ("s2", 1L, "beta", 1L, 1L, 0.693147),
      ("s2", 2L, "shared", 2L, 2L, 0.0)), out.toSeq.toString)
  }

  test("hapaxBySource: once-per-source types counted within each source") {
    val d = Seq(
      (1L, "a a b", "s1"),
      (2L, "x y", "s2"),
      (3L, "x z", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.hapaxBySource(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // s1: types {a,b}, hapax {b}; s2: types {x,y,z}, x appears twice
    assert(out.toSeq == Seq(
      ("s1", 2L, 3L, 1L, 0.5), ("s2", 3L, 4L, 2L, 0.666667)), out.toSeq.toString)
  }

  test("curriculumBuckets: stopword-share deciles, ties broken by doc_id") {
    val d = Seq(
      (1L, "the the", "s"),   // score 1.0
      (2L, "the cat", "s"),   // score 0.5
      (3L, "cat dog", "s"),   // score 0.0
      (4L, "a cat", "s"))     // score 0.5 — ties with doc 2, doc_id breaks
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.curriculumBuckets(d, nBuckets = 2).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // desc order: doc1(1.0), doc2(.5), doc4(.5), doc3(0) → bucket1={1,2}, bucket2={4,3}
    assert(out(1L) == ((2L, 0.75)) && out(2L) == ((2L, 0.25)), out.toString)
  }

  test("wordLenProfile: per-lang length histogram with cap bucket") {
    val d = Seq(
      (1L, "ab abc a", "en"),
      (2L, "xxxx", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.wordLenProfile(d, maxLen = 2).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("en", 1, 1L, 0.333333), ("en", 2, 2L, 0.666667), ("fr", 2, 1L, 1.0)),
      out.toSeq.toString)
  }

  test("commonOpenings: shared prefixes counted with source spread, short docs skipped") {
    val d = Seq(
      (1L, "a b c d e f", "s1"),
      (2L, "a b c d e x", "s2"),
      (3L, "z z z z z", "s1"),
      (4L, "u v", "s1"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.commonOpenings(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a b c d e", 2L, 2L), ("z z z z z", 1L, 1L)), out.toSeq.toString)
  }

  test("temperatureWeights: sqrt scaling lifts the small source, weights sum to one") {
    val d = ((1 to 9).map(i => (i.toLong, "s1")) :+ (10L, "s2"))
      .toDF("doc_id", "source")
    val out = TextAnalysis.temperatureWeights(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val (sa, sb) = (math.sqrt(0.9), math.sqrt(0.1))
    val z = sa + sb
    assert(out("s1") == ((9L, 0.9, r6(sa / z), r4(sa / z / 0.9))), out("s1").toString)
    assert(out("s2") == ((1L, 0.1, r6(sb / z), r4(sb / z / 0.1))), out("s2").toString)
    // τ=2 softens: the big source samples cooler, the small one hotter
    assert(out("s1")._3 < 0.9 && out("s2")._3 > 0.1)
  }

  test("mixDiversity: single-valued dimension degenerates to zero entropy, even split to ln 2") {
    val d = Seq(
      (1L, "en", "s1"), (2L, "en", "s1"), (3L, "en", "s2"), (4L, "en", "s2")
    ).toDF("doc_id", "lang", "source")
    val out = TextAnalysis.mixDiversity(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("lang", 1L, 4L, 0.0, 1.0, 1.0),
      ("source", 2L, 4L, 0.693147, 2.0, 0.5)), out.toSeq.toString)
  }

  test("wordBurstiness: cf/df separates bursty words from evenly-spread ones") {
    val d = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.wordBurstiness(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", 3L, 1L, 3.0), ("b", 2L, 2L, 1.0), ("c", 1L, 1L, 1.0)), out.toSeq.toString)
  }

  test("qualityVsDup: dup rates split by the gopher keep flag") {
    val clean = "the quick brown fox jumps over the lazy dog and runs away"
    val clean2 = "the quick brown fox jumps over the lazy dog and walks away"
    val junk = "111 222 333 444 555"
    val d = Seq((1L, clean), (2L, clean), (3L, clean2), (4L, junk), (5L, junk))
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityVsDup(d).collect()
      .map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (false, 2L, 2L, 1.0), (true, 3L, 2L, 0.666667)), out.toSeq.toString)
  }

  test("langSourceMix: per-source language shares sum to one") {
    val d = Seq(
      (1L, "s1", "en", 10L), (2L, "s1", "en", 20L),
      (3L, "s1", "de", 5L), (4L, "s2", "de", 7L)
    ).toDF("doc_id", "source", "lang", "n_chars")
    val out = TextAnalysis.langSourceMix(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("s1", "de", 1L, 5L, 0.333333),
      ("s1", "en", 2L, 30L, 0.666667),
      ("s2", "de", 1L, 7L, 1.0)), out.toSeq.toString)
  }

  test("gopherRules: each rule fails on its planted doc; conjunction keeps only clean text") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away"), // clean
      (2L, "12345 67890 11111 22222 33333"),   // no alphabetic words
      (3L, "supercalifragilistic extraordinarily incomprehensibilities the and"), // mean len 12.4
      (4L, "cat dog fox"),                     // < 5 words, no stopwords
      (5L, "")                                  // empty → 0 words, null ratios
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(d).collect().map { r =>
      r.getLong(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getInt(4), r.getBoolean(5)))
    }.toMap
    // sum_len 46 / 12 words → 3.8333; stop hits: the,the,and
    assert(out(1L) == ((12, Some(3.8333), Some(1.0), 3, true)))
    assert(out(2L) == ((5, Some(5.0), Some(0.0), 0, false)))
    assert(out(3L) == ((5, Some(12.4), Some(1.0), 2, false)))
    assert(out(4L) == ((3, Some(3.0), Some(1.0), 0, false)))
    assert(out(5L) == ((0, None, None, 0, false)))
  }

  test("gopherKeep appends gopherRules' keep to every input row with no exchange") {
    val docs = Tables.documents(spark, sf0001)
    val kept = TextAnalysis.gopherKeep(docs)
    assert(kept.columns.toSeq == docs.columns.toSeq :+ "keep")
    assert(kept.count() == docs.count())
    val expected = TextAnalysis.gopherRules(docs).select("doc_id", "keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(expected.values.toSet == Set(true, false))
    assert(kept.select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap == expected)
    // through AQE's wrapper, which a join would plan
    val plan = kept.queryExecution.executedPlan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty, plan.toString)
  }

  test("readabilityBySource: vowel-run syllables, sentence floor, zero-word docs dropped") {
    val d = Seq(
      ("a", "The cat sat. The cat ran!"), // 6 words, 2 sentences, 6 vowel runs
      ("a", ""),                          // 0 words → dropped
      ("b", "Incomprehensibilities?"))    // 1 word, 1 sentence, 8 vowel runs
    .toDF("source", "text")
    val out = TextAnalysis.readabilityBySource(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // a: 206.835 − 1.015·(6/2) − 84.6·(6/6) = 119.19
    assert(out("a") == ((1L, 119.19, 3.0, 1.0)), out("a").toString)
    // b: i-n-c-o-m-p-r-e-h-e-n-s-i-b-i-l-i-t-i-e-s → runs i,o,e,e,i,i,i,ie = 8
    // 206.835 − 1.015·1 − 84.6·8 = −470.98
    assert(out("b") == ((1L, -470.98, 1.0, 8.0)), out("b").toString)
  }

  test("rakeKeywords: degree/frequency scoring, hand-checked phrase ranking") {
    // phrases: [red apple], [green apple], [red apple juice]
    // red: deg 5 / freq 2 = 2.5; apple: 7/3 = 2.333333; green: 2; juice: 3
    // → red apple juice 7.8333 > red apple 4.8333 > green apple 4.3333
    val d = Seq((1L, "the red apple and green apple. red apple juice"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeywords(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("red apple juice", 1L, 7.8333),
      ("red apple", 1L, 4.8333),
      ("green apple", 1L, 4.3333)), out.toSeq.toString)
  }

  test("mattrBySource: window positions, stride, and short-doc TTR fallback") {
    // a1: 30 tokens of a 5-word cycle → one window [0..24], 5 distinct
    //     → mattr 5/25 = 0.2
    // a2: 45 identical tokens → windows at 0,10,20 → each 1 distinct
    //     → mattr 3/(3·25) = 0.04
    // b:  3 tokens, shorter than a window → TTR fallback 2/3
    val cycle = Seq.fill(6)(Seq("a", "b", "c", "d", "e")).flatten.mkString(" ")
    val d = Seq(
      ("a", cycle),
      ("a", Seq.fill(45)("z").mkString(" ")),
      ("b", "x y x"))
      .toDF("source", "text")
    val out = TextAnalysis.mattrBySource(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("a") == ((2L, 0.12)), out("a").toString) // avg(0.2, 0.04)
    assert(out("b") == ((1L, 0.6667)), out("b").toString)
  }
}
