package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object DedupSpec {
  // crafted edges: unicode uppercase whose lower is non-ascii
  // (stripped), Kelvin sign (lowers to ascii k, kept), digits,
  // leading/trailing/multiple spaces, tabs/newlines (stripped, NOT
  // space), empty and all-stripped strings, multi-byte sequences
  val edgeTexts: Seq[String] = Seq("", "   ", "\u212A elvin", "\u00C9clair TEST  42",
    "a\tb\nc", "MiXeD  CaSe   07 ", " !@# $%^ ", "\u4F60\u597D world",
    "a!b", "A  B\u0301  C")

  /** The `dedup_ngram_jaccard` key's composition, with its parameters
    * open: Jaccard over the df-capped shingle counts, sorted by pair.
    */
  def jaccardPairs(documents: DataFrame, shingleK: Int = 5, threshold: Double = 0.2,
                   maxDf: Int = 1000): DataFrame =
    Dedup.jaccardFromCounts(Dedup.ngramPairCounts(documents, shingleK, maxDf), threshold)
      .orderBy("doc_a", "doc_b")

  /** The `dedup_prefix_pairs` key's composition, with its parameters
    * open: the prefix-filter scored pairs, sorted by pair.
    */
  def prefixPairs(documents: DataFrame, threshold: Double = 0.6, sampleMod: Int = 5,
                  maxBucket: Int = 1024): DataFrame =
    Dedup.prefixFilterScored(documents, threshold, sampleMod, maxBucket)
      .orderBy("doc_a", "doc_b")
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = Dedup.exact(d).collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("NormalizeText is byte-identical to the regex chain it replaces") {
    val edge = DedupSpec.edgeTexts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val corpus = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .unionByName(edge.toDF("doc_id", "text"))
    val both = corpus.select(
      graft.functions.VectorFunctions.normalizeText(col("text")).as("fast"),
      trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " ")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
    assert(both.count() > 30)
  }

  test("exactStats counts dupes") {
    val d = docs(1L -> "t", 2L -> "t", 3L -> "u", 4L -> "t")
    val r = Dedup.exactStats(d).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (4L, 2L, 2L))
  }

  test("exactStatsApprox (HLL sketch) tracks exact within rsd") {
    val d = graft.Tables.documents(spark, sf0001)
    val exact = Dedup.exactStats(d).collect().head
    val approx = Dedup.exactStatsApprox(d).collect().head
    assert(approx.getLong(0) == exact.getLong(0)) // n_docs is exact
    val rel = math.abs(approx.getLong(1) - exact.getLong(1)).toDouble /
      math.max(exact.getLong(1), 1L)
    assert(rel < 0.05, s"HLL estimate off by ${rel * 100}%")
  }

  test("wordShingles produces k-grams; short text → empty") {
    val d = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = d.select(graft.functions.VectorFunctions.wordShingles(col("text"), 3).as("s"))
      .collect().head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(short.select(graft.functions.VectorFunctions.wordShingles(col("text"), 3).as("s"))
      .collect().head.getSeq[String](0).isEmpty)
  }

  test("minhash: identical texts → identical signatures, est_jaccard 1.0") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> (1 to 40).map(i => s"z$i").mkString(" "))
    val sigs = Dedup.minhashSignatures(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.minhashNearDups(d).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("minhash: signatures deterministic across runs/partitioning") {
    val d = docs((1L, (1 to 60).map(i => s"tok$i").mkString(" ")))
    val s1 = Dedup.minhashSignatures(d).collect().head.getSeq[Long](1)
    val s2 = Dedup.minhashSignatures(d.repartition(7)).collect().head.getSeq[Long](1)
    assert(s1 == s2)
  }

  test("minhash approximates true jaccard on overlapping texts") {
    // 50 shingles shared prefix, distinct tails → J ≈ shared/(total)
    val common = (1 to 50).map(i => s"c$i").mkString(" ")
    val d = docs(
      1L -> (common + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      2L -> (common + " " + (1 to 10).map(i => s"b$i").mkString(" ")))
    val pairs = Dedup.minhashNearDups(d, threshold = 0.1).collect()
    assert(pairs.length == 1)
    val est = pairs.head.getDouble(2)
    assert(est > 0.4 && est < 0.95, s"estimated jaccard $est out of plausible band")
  }

  test("minhash flood bucket: maxBucket bounds pair counts deterministically") {
    // 20 identical docs share EVERY band bucket — uncapped that is
    // C(20,2)=190 pairs (n² in the flood size); with maxBucket=4 only
    // the 4 lowest doc_ids survive per bucket → exactly C(4,2)=6
    // pairs, always among ids 1..4. The SimHash pair builders share
    // the same cap: identical docs have identical fingerprints.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val flood = docs((1L to 20L).map(_ -> base): _*)
    assert(Dedup.minhashNearDups(flood).count() == 190L)
    val capped = Dedup.minhashNearDups(flood, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSet)
    val cappedMd5 = Dedup.minhashNearDupsMd5(flood, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedMd5 == capped)
    assert(Dedup.simhashNearDups(flood).count() == 190L)
    assert(Dedup.simhashMd5NearDups(flood).count() == 190L)
    val cappedSim = Dedup.simhashNearDups(flood, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedSim == capped)
    val cappedSimMd5 = Dedup.simhashMd5NearDups(flood, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedSimMd5 == capped)
  }

  test("minhashBandHistogram: flood bucket sizes and implied pair costs are exact") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    // 6 identical docs + 1 unrelated: every band has one bucket of 6
    // (6·5/2 = 15 candidate pairs each) and one singleton
    val d = docs(((1L to 6L).map(_ -> base) :+ (7L -> other)): _*)
    val out = Dedup.minhashBandHistogram(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(6L) == ((4L, 60L)), out.toString)   // 4 bands × C(6,2)=15
    assert(out(1L) == ((4L, 0L)), out.toString)    // singletons cost nothing
  }

  test("lshRecallAudit: identical docs are always recalled; counts are consistent") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> other)
    val r = Dedup.lshRecallAudit(d, DedupSpec.jaccardPairs(d), shingleK = 5, numHashes = 16,
      bands = 4).collect().head
    val (nTruth, nFound, nCand, recall) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    // identical docs share every band → the one true pair is found
    assert(nTruth == 1L && nFound == 1L && recall == 1.0, r.toString)
    assert(nCand >= nFound)
  }

  test("splitLeakage: cross-split dup pair flags leaks; within-split does not") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    // ids 1,2 → train/train; 7 (train) & 9 (test) share text → leak
    val d = docs(1L -> base, 2L -> base, 7L -> other, 9L -> other)
    val out = Dedup.splitLeakage(Dedup.minhashNearDupsMd5(d)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(("train", "train")) == ((1L, false)), out.toString)
    assert(out(("test", "train")) == ((1L, true)), out.toString)
  }

  test("crossSourceNearDups: pairs roll up to unordered source cells") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, base, "crawlA"), (2L, base, "crawlB"),  // cross-source dup
      (3L, base, "crawlB"),                        // B-B and A-B dups
      (4L, (1 to 40).map(i => s"z$i").mkString(" "), "crawlA"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceNearDups(d, Dedup.minhashNearDupsMd5(d)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // pairs: (1,2) A-B, (1,3) A-B, (2,3) B-B — all est_jaccard 1.0
    assert(out(("crawlA", "crawlB")) == ((2L, 1.0)), out.toString)
    assert(out(("crawlB", "crawlB")) == ((1L, 1.0)), out.toString)
    assert(!out.contains(("crawlA", "crawlA")))
  }

  test("simhash: identical → equal; disjoint vocab → different") {
    val t1 = (1 to 50).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> t1, 2L -> t1, 3L -> (1 to 50).map(i => s"q$i").mkString(" "))
    val hs = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
  }

  test("simhashNearDups: near-identical texts pair up; unrelated don't") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w30", "w30x") // one token changed
    val noise = (1 to 60).map(i => s"q$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> noise)
    val out = Dedup.simhashNearDups(d, maxDist = 16).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // identical docs → hamming 0
    val same = Dedup.simhashNearDups(docs(1L -> base, 2L -> base), maxDist = 3).collect()
    assert(same.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq == Seq((1L, 2L, 0)))
  }

  test("ngramJaccardPairs computes exact jaccard") {
    val d = docs(
      1L -> "a b c d e f",   // shingles(3): {abc,bcd,cde,def} n=4
      2L -> "a b c d e g")   // {abc,bcd,cde,deg} n=4, inter=3, union=5
    val out = DedupSpec.jaccardPairs(d, shingleK = 3, threshold = 0.1).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1L, 2L, 3L))
    assert(math.abs(r.getDouble(3) - 0.6) < 1e-9)
  }

  test("ngramJaccardPairs: df cap drops a corpus-common shingle's bucket") {
    // Every doc shares the boilerplate shingle "of the and"; tails are
    // unique. Uncapped, the common shingle alone creates all C(n,2)
    // candidate pairs; with maxDf below n the bucket is dropped and no
    // pair survives (they share nothing else).
    val n = 12
    val d = docs((1 to n).map(i => i.toLong -> s"of the and tail$i more$i words$i"): _*)
    val uncapped = DedupSpec.jaccardPairs(d, shingleK = 3, threshold = 0.0, maxDf = 1000)
    assert(uncapped.count() == n.toLong * (n - 1) / 2)
    val capped = DedupSpec.jaccardPairs(d, shingleK = 3, threshold = 0.0, maxDf = n - 1)
    assert(capped.count() == 0)
    // cap leaves rare-shingle pairs untouched (denominator stays uncapped)
    val d2 = docs(
      1L -> "of the and x y z",
      2L -> "of the and x y w",
      3L -> "of the and p q r")
    val cappedPairs = DedupSpec.jaccardPairs(d2, shingleK = 3, threshold = 0.0, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // "of the and"/"the and x" df=3/2... only doc1-doc2 share rare shingles
    assert(cappedPairs.map(p => (p._1, p._2)) == Set((1L, 2L)))
  }

  test("keepBestByFingerprint prefers the longest copy, doc_id tiebreak") {
    val d = Seq(
      (1L, "Hello, World!", 13),
      (2L, "hello world THE FULLER CAPTURE", 30), // different content
      (3L, "hello world", 11),                    // same canon as 1, shorter
      (4L, "HELLO WORLD", 11))                    // same canon as 1, tie with 3
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.keepBestByFingerprint(d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    // canon "hello world": best = 1 (13 chars); canon of doc 2 alone
    assert(out.toSet == Set((1L, 3L, 13), (2L, 1L, 30)))
    // tiebreak: equal length → smaller doc_id
    val tie = Seq((7L, "a b", 3), (5L, "A B", 3)).toDF("doc_id", "text", "n_chars")
    assert(Dedup.keepBestByFingerprint(tie).collect().head.getLong(1) == 5L)
  }

  test("decontaminate flags train docs sharing an 8-shingle with the eval set") {
    val evalText = (1 to 12).map(i => s"e$i").mkString(" ")
    val leaked = "x y " + (1 to 8).map(i => s"e$i").mkString(" ") + " z"
    val clean = (1 to 12).map(i => s"c$i").mkString(" ")
    val d = Seq(
      (0L, evalText),  // doc_id % 50 == 0 → eval set
      (1L, leaked),    // contains eval shingle e1..e8
      (2L, clean))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(1L, 2L)) // eval doc excluded from output
    assert(out(1L)._2 && out(1L)._1 == 1L, s"leaked doc not flagged: $out")
    assert(!out(2L)._2 && out(2L)._1 == 0L)
  }

  test("decontaminateNearDup flags edited near-copies of eval docs, not clean docs") {
    val evalText = (1 to 40).map(i => s"w$i").mkString(" ")
    // light edit: one word changed mid-doc — exact-shingle decon still
    // catches some shingles, but the POINT here is the high Jaccard
    val edited = (1 to 40).map(i => if (i == 20) "EDIT" else s"w$i").mkString(" ")
    val clean = (1 to 40).map(i => s"c$i").mkString(" ")
    val d = Seq(
      (0L, evalText),   // % 50 == 0 → eval set
      (50L, evalText),  // also eval — must never be flagged itself
      (1L, edited),     // near-copy of the eval doc
      (2L, clean),      // unrelated
      (3L, evalText))   // verbatim leak → est_jaccard 1.0
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateNearDup(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 3L), out.toString)
    assert(out(3L)._2 == 1.0)
    // struct-max tiebreak: the verbatim leak matches BOTH eval copies
    // equally → highest eval_id wins
    assert(out(3L)._1 == 50L, out.toString)
    assert(out(1L)._2 >= 0.5 && out(1L)._2 < 1.0, out.toString)
  }

  test("incrementalNovel: new batch anti-joined against corpus digests") {
    val corpus = docs(1L -> "seen before", 2L -> "also seen")
    val batch = docs(10L -> "seen before", 11L -> "genuinely new", 12L -> "also new")
    val out = Dedup.incrementalNovel(batch, corpus).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(11L, 12L))
    // empty corpus → everything is novel; empty batch → nothing
    assert(Dedup.incrementalNovel(batch, docs()).count() == 3)
    assert(Dedup.incrementalNovel(docs(), corpus).count() == 0)
  }

  test("pipelineKeepSet: exact dups die first, near-dup groups keep min id, clean docs survive") {
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, base),                 // representative
      (2L, base + " extra"),      // near-dup of 1 (8/9 shared shingles) → dropped
      (4L, base),                 // exact dup of 1 → dropped at stage 1
      (5L, (1 to 12).map(i => s"z$i").mkString(" "))) // unrelated → kept
      .toDF("doc_id", "text")
    val kept = Dedup.pipelineKeepSet(d).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 5L), kept.toString)
  }

  test("levenshteinNearDups: prefix-blocked edit-distance pairs, bounded head compare") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running"
    val d = Seq(
      (1L, base),
      (2L, base.replace("keeps", "kept")),            // 2 edits, same prefix → pair
      (3L, base + " " + ("x " * 40).trim),            // same 200-char head? no — longer tail
      (4L, "the quick brown fox " + ("z" * 60)),      // same 16-char block, head far → no pair
      (5L, "a totally different start " + base))      // different block → never compared
      .toDF("doc_id", "text")
    val out = Dedup.levenshteinNearDups(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.map(p => (p._1, p._2)).contains((1L, 2L)), s"close pair missed: ${out.toSeq}")
    assert(out.forall(_._3 <= 5), s"distance filter leaked: ${out.toSeq}")
    assert(!out.exists(p => p._1 == 5L || p._2 == 5L), "cross-block pair leaked")
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L), "far head within block leaked")
  }

  test("connectedGroups resolves transitive near-dup chains to min-id groups") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 9L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain 1-2-3-9 collapses to group 1 even though (1,9) was never a pair
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // deterministic under partitioning
    val out2 = Dedup.connectedGroups(pairs.repartition(4)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == out)
  }

  test("connectedGroups throws when maxIter rounds end unconverged") {
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](Dedup.connectedGroups(path, maxIter = 1))
    assert(e.getMessage.contains("1 rounds"), e.getMessage)
    assert(Dedup.connectedGroups(path).collect().forall(_.getLong(1) == 1L))
  }

  test("md5 twins: identical texts pair at est 1.0; fingerprints deterministic") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val d = docs(1L -> base, 2L -> base, 3L -> other)
    val pairs = Dedup.minhashNearDupsMd5(d).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq == Seq((1L, 2L, 1.0)))
    val fp1 = Dedup.simhashMd5(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = Dedup.simhashMd5(d.repartition(5)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp1 == fp2)
    assert(fp1(1L) == fp1(2L) && fp1(1L) != fp1(3L))
    // fingerprints are 32-bit values
    assert(fp1.values.forall(v => v >= 0L && v <= 0xFFFFFFFFL))
    val nd = Dedup.simhashMd5NearDups(docs(1L -> base, 2L -> base)).collect()
    assert(nd.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq == Seq((1L, 2L, 0)))
  }

  test("containment catches a nested doc that Jaccard misses") {
    // doc 2 = doc 1's text embedded in a much larger page
    val small = (1 to 10).map(i => s"w$i").mkString(" ")
    val large = ((1 to 10).map(i => s"w$i") ++ (1 to 60).map(i => s"x$i")).mkString(" ")
    val d = docs(1L -> small, 2L -> large)
    val cont = Dedup.containmentFromCounts(Dedup.ngramPairCounts(d), threshold = 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.mkString(","))
    // the same pair is far below any useful Jaccard threshold
    val jac = DedupSpec.jaccardPairs(d, threshold = 0.2).collect()
    assert(jac.isEmpty)
  }

  test("passageStats finds cross-doc chunks; passageDedup keeps first occurrence") {
    // w=2 chunks: doc1 = [a b][c d], doc2 = [a b][x y], doc3 = [p q]
    val d = docs(1L -> "a b c d", 2L -> "a b x y", 3L -> "p q")
    val stats = Dedup.passageStats(d, w = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.toSeq == Seq(("a b", 2L, 2L, 1L)))
    val ded = Dedup.passageDedup(d, w = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(ded.toSeq == Seq(
      (1L, "a b c d", 2L, 2L),   // doc1 owns the first "a b"
      (2L, "x y", 1L, 2L),       // doc2's copy dropped
      (3L, "p q", 1L, 1L)))
    // ragged tail: last chunk shorter than w still round-trips
    val ragged = Dedup.passageDedup(docs(9L -> "a b c"), w = 2).collect()
    assert(ragged.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "a b c")))
    // deterministic under partitioning
    val ded2 = Dedup.passageDedup(d.repartition(7), w = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(ded2.toSeq == ded.toSeq)
    // dup_rate counts corpus-wide repeated chunks per doc
    val rate = Dedup.passageDupRate(d, w = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rate.toSeq == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0)))
  }

  test("minhashEstErrorMd5: identical docs show zero estimator error; err is |est-true|") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> t, 2L -> t,
      3L -> "completely different text that shares nothing at all with those")
    val out = Dedup.minhashEstErrorMd5(d, Dedup.minhashNearDupsMd5(d), shingleK = 5,
      numHashes = 16).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.contains((1L, 2L)), out.keySet.toString)
    assert(out((1L, 2L)) == ((1.0, 1.0, 0.0)))
    // the reported error column is exactly |est - true| for every audited pair
    out.values.foreach { case (e, tr, er) => assert(math.abs(er - math.abs(e - tr)) < 1e-9) }
  }

  test("clusterStats: transitive near-dups report one group with byte mass") {
    val t = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq((1L, t, 66L), (2L, t, 66L), (3L, t + " x", 68L),
      (4L, "entirely unrelated words that never overlap with anything else", 62L))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.clusterStats(d, Dedup.connectedGroups(Dedup.minhashNearDupsMd5(d)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // docs 1,2,3 band together transitively; doc 4 is a singleton (excluded)
    assert(out.length == 1, out.mkString(","))
    assert(out.head == ((1L, 3L, 1L, 200L)))
  }

  test("impactBySource: dropped docs and bytes attribute to the copy's source") {
    val d = Seq(
      (1L, "same text", "s1", 9L),
      (2L, "same text", "s2", 9L),   // dup — keeper is doc 1 (s1)
      (3L, "unique here", "s2", 11L))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Dedup.impactBySource(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out == Map(
      "s1" -> ((1L, 0L, 9L, 0L)),
      "s2" -> ((2L, 1L, 20L, 9L))), out.toString)
  }

  test("boundaryOverlapPairs: tail-of-A equals head-of-B, short docs skipped") {
    val d = docs(
      1L -> "intro words then the seam one two three four",
      2L -> "one two three four and the continuation goes on",
      3L -> "one two three",            // < w words: skipped
      4L -> "unrelated content entirely different here")
    val out = Dedup.boundaryOverlapPairs(d, w = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 2L, "one two three four")), out.mkString(","))
  }

  test("dupRateByLength: duplicate mass concentrates in its length bucket") {
    val d = Seq(
      (1L, "t", 1L), (2L, "t", 1L),      // dup pair in bucket 0 [1,1]
      (3L, "u", 2L), (4L, "v", 3L))      // unique docs in bucket 1 [2,3]
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.dupRateByLength(d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (0, 1L, 1L, 2L, 2L, 1.0), (1, 2L, 3L, 2L, 0L, 0.0)), out.toSeq.toString)
  }

  test("clusterRepresentatives: longest member wins, ties fall to lowest doc_id") {
    val t1 = "one two three four five six seven eight"
    val t2 = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, t1, 10L), (2L, t1, 50L), (3L, t1, 20L), // group 1: rep = doc 2 (longest)
      (4L, t2, 30L), (5L, t2, 30L))                // group 4: tie → doc 4
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.clusterRepresentatives(d,
        Dedup.connectedGroups(Dedup.simhashMd5NearDups(d))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 2L, 50L), (4L, 2L, 4L, 30L)), out.toSeq.toString)
  }

  test("shingleDfHistogram: df buckets at binary edges with shares") {
    val d = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "x y z w v")
    val out = Dedup.shingleDfHistogram(d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // "a b c d e" appears in 2 docs (bucket 1 = df 2–3); "x y z w v" in 1 (bucket 0)
    assert(out.toSeq == Seq((0, 1L, 1L, 1L, 0.5), (1, 2L, 3L, 1L, 0.5)), out.toSeq.toString)
  }

  test("ngramNovelty: shared shingles are not novel, short docs contribute nothing") {
    val d = Seq(
      (1L, "a b c d e f", "s1"),  // shingles: "a b c d e"(shared), "b c d e f"(unique)
      (2L, "a b c d e x", "s2"),  // shingles: "a b c d e"(shared), "b c d e x"(unique)
      (3L, "too short", "s1")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.ngramNovelty(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("s1", 2L, 1L, 0.5), ("s2", 2L, 1L, 0.5)), out.toSeq.toString)
  }

  test("lexicalVsSemantic: template pairs split by embedding agreement; uncovered pairs drop") {
    val t1 = "one two three four five six seven"
    val t2 = "alpha beta gamma delta epsilon zeta eta"
    val t3 = "red green blue cyan magenta yellow black"
    val d = docs(1L -> t1, 2L -> t1, 3L -> t2, 4L -> t2, 5L -> t3, 6L -> t3)
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),  // same direction → cos 1
      (3L, Array(1.0f, 0.0f)), (4L, Array(0.0f, 1.0f))   // orthogonal → cos 0
      // docs 5/6 have no embeddings → their pair drops
    ).toDF("vec_id", "embedding")
    val out = Dedup.lexicalVsSemantic(e, Dedup.minhashNearDupsMd5(d)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 2L, 1.0, 1.0), (3L, 4L, 1.0, 0.0)), out.toSeq.toString)
  }

  test("lshBandPlan: divisor grid, exact crossover for b=16/r=4, s-curve monotone in jaccard") {
    val out = Dedup.lshBandPlan(spark).collect()
      .map(r => ((r.getInt(0), r.getDouble(3)), (r.getInt(1), r.getDouble(2), r.getDouble(4))))
      .toMap
    // 7 divisors of 64 × 5 jaccard levels
    assert(out.size == 35)
    // (1/16)^(1/4) = 0.5 exactly
    assert(out((16, 0.5))._2 == 0.5)
    // b=64, r=1: p = 1 − (1−j)^64 ≈ 1 at every level
    assert(out((64, 0.5))._3 == 1.0)
    // monotone: more similar pairs always more likely to surface
    for (b <- Seq(1, 2, 4, 8, 16, 32, 64)) {
      val ps = Seq(0.5, 0.7, 0.8, 0.9, 0.95).map(j => out((b, j))._3)
      assert(ps == ps.sorted, s"b=$b not monotone: $ps")
    }
    // steeper banding (smaller r) raises the low-similarity tail
    assert(out((64, 0.5))._3 > out((1, 0.5))._3)
  }

  test("estJaccardHistogram: candidate mass binned at signature-agreement levels") {
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> base,                                 // identical pair → est 1.0
      2L -> base,
      3L -> ((1 to 12).map(i => s"z$i").mkString(" "))) // unrelated, own bucket only
    val out = Dedup.estJaccardHistogram(d).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(out(1.0) == 1L, out.toString)          // the identical pair
    assert(out.values.sum == 1L)                  // no cross-candidate with doc 3
  }

  test("prefixFilterPairs: threshold pairs found via rare-token prefixes, low-sim excluded") {
    val d = docs(
      0L -> "apple banana cherry date elder",      // j(0,5) = 4/6 ≈ 0.667 ≥ 0.6
      5L -> "apple banana cherry date fig",
      10L -> "apple zebra yak xylo walrus venus")  // j with 0: 1/10 = 0.1
    val out = DedupSpec.prefixPairs(d, threshold = 0.6, sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0L, 5L, 0.666667)), out.toSeq.toString)
  }

  test("prefixFilterPairs: exhaustive at the threshold — brute-force differential") {
    // every pair with exact distinct-token Jaccard ≥ t must surface
    val d = docs((0L to 19L).map { i =>
      i -> ((0 to 5).map(j => s"w${(i + j) % 12}").mkString(" "))
    }: _*)
    val found = DedupSpec.prefixPairs(d, threshold = 0.5, sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val toks = d.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val truth = (for {
      a <- toks.keys; b <- toks.keys if a < b
      inter = (toks(a) & toks(b)).size
      j = inter.toDouble / (toks(a).size + toks(b).size - inter) if j >= 0.5
    } yield (a, b)).toSet
    assert(found == truth, s"missing=${truth -- found} extra=${found -- truth}")
    assert(truth.nonEmpty)
  }

  test("prefixFilterPairBands: band counts partition the pair list exactly") {
    val d = docs((0L to 19L).map { i =>
      i -> ((0 to 5).map(j => s"w${(i + j) % 12}").mkString(" "))
    }: _*)
    val pairs = DedupSpec.prefixPairs(d, threshold = 0.5, sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bands = Dedup.prefixFilterPairBands(
        Dedup.prefixFilterScored(d, threshold = 0.5, sampleMod = 1, maxBucket = 1024))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // same integer band arithmetic as the operator: round(j*1e6) / 50000
    val expected = pairs.groupBy(p => math.round(p._3 * 1e6) / 50000)
    assert(bands.map(_._2).sum == pairs.length.toLong)       // counts partition the list
    assert(bands.map(_._1).toSet == expected.keySet)          // same occupied bands
    bands.foreach { case (band, n, minJ, maxJ) =>
      val grp = expected(band)
      assert(n == grp.length.toLong, s"band $band")
      assert(minJ == grp.map(_._3).min && maxJ == grp.map(_._3).max, s"band $band")
    }
    // bands are 0.05-wide: every member's jaccard lands inside its band
    bands.foreach { case (band, _, minJ, maxJ) =>
      assert(minJ >= band * 0.05 - 1e-9 && maxJ < (band + 1) * 0.05 + 1e-9, s"band $band")
    }
  }

  test("simhashHammingTopK: self excluded, identical fingerprint ranks first") {
    val d = docs(
      0L -> "alpha beta gamma delta",
      1L -> "alpha beta gamma delta",   // fp identical to doc 0 → hamming 0
      2L -> "completely different words here",
      3L -> "alpha beta gamma epsilon")
    val out = Dedup.simhashHammingTopK(d, k = 3, nQueries = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 3)
    assert(out.head._3 == 1L && out.head._4 == 0L, out.toSeq.toString) // twin first
    assert(out.forall(_._3 != 0L))                                     // never self
    // ranks strictly increase with (hamming, cid)
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted)
  }

  test("winnowPairs: a shared run of w+k-1 words is guaranteed a shared fingerprint") {
    import spark.implicits._
    // k=4, w=4 → any shared run of ≥7 words must yield ≥1 shared
    // window-minimum (the Schleimer et al. no-false-negative bound)
    val run = "one two three four five six seven"
    val docs = Seq(
      (1L, s"$run alpha beta gamma delta"),
      (2L, s"x y z $run q r s"),
      (3L, "totally different words here completely unrelated content stream"),
      (4L, "a b c")) // shorter than one shingle → excluded
      .toDF("doc_id", "text")
    val out = Dedup.winnowPairs(docs, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)), out.toSeq.toString)
    // identical docs share EVERY fingerprint; count equals either side's set
    val twins = Seq((1L, s"$run alpha beta"), (2L, s"$run alpha beta"))
      .toDF("doc_id", "text")
    val t = Dedup.winnowPairs(twins, minShared = 1).collect().head
    assert(t.getLong(0) == 1L && t.getLong(1) == 2L && t.getLong(2) >= 1L)
  }

  test("weightedJaccardPairs: boilerplate excluded by the fractional cap, " +
    "rare overlap scores 1.0") {
    import spark.implicits._
    // 30 docs; 'common' is in 28 of them → df·10 > N → capped out of
    // the vocabulary; docs 1+2 share only the rare 'alpha' → 1.0.
    // Filler docs pairwise share ONLY 'common' (a plain Jaccard would
    // emit hundreds of pairs) → zero candidate pairs from them.
    val docs = (Seq((1L, "alpha"), (2L, "alpha")) ++
      (3L to 30L).map(i => (i, s"common uniq$i")))
      .toDF("doc_id", "text")
    val out = Dedup.weightedJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)), out.toSeq.toString)
  }
}
