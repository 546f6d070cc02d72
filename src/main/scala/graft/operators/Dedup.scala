package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
import graft.Sizing

/** Deduplication operators over `documents`: exact, canonicalized,
  * MinHash/LSH near-dup (Broder's resemblance sketch + banded LSH),
  * SimHash (Charikar's random-projection fingerprint), n-gram
  * Jaccard.
  *
  * Scale design:
  *   - exact / canonical dedup: hash-groupBy on a digest — one
  *     shuffle keyed by the digest, map-side combine, no text
  *     comparison after the hash.
  *   - MinHash: one per-row expression hashes each document's
  *     distinct shingles and keeps one min per hash function — a
  *     map-only projection, no exchange at any scale.
  *   - LSH banding: candidate pairs come from joining on
  *     (band_idx, band_hash) buckets, so comparison work is
  *     Σ bucket² instead of n² — the standard near-dup shape for
  *     corpus-scale dedup. The capped bucket join is [[Lsh]].
  *   - SimHash: fingerprint from per-bit vote sums over the token
  *     hashes, again one per-row expression with no exchange.
  *
  * All hash seeds are compile-time deterministic (splitmix64) so
  * signatures are reproducible across runs, partitionings, clusters.
  * The md5 oracle twins (below) use the same shapes with md5 token
  * hashes ([[graft.functions.Md5MinHashSignature]],
  * [[graft.functions.Md5SimHash32]]).
  *
  * Why not `org.apache.spark.ml.feature.MinHashLSH` (SURVEY §7.1
  * suggested trying it first): it consumes `ml.linalg.Vector`
  * columns, which forces a vocabulary-indexing pass
  * (CountVectorizer/HashingTF) over the corpus, carries a UDT column
  * type that the rest of the DataFrame pipeline can't push into
  * codegen, and buries the hash coefficients in fitted-model state.
  * The [[graft.functions.MinHashSignature]] expression keeps
  * string-shingle semantics, compile-time deterministic seeds, zero
  * extra corpus passes, and a plain array<long> column — measured
  * map-only with no shuffle.
  */
object Dedup {

  /** Exact dedup by full-text digest: groups, keeps the smallest
    * doc_id as representative, reports multiplicity.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** [[exact]]'s keep ids as an unsorted `doc_id` set: the input of a
    * semi-join, where a sort would be work no one reads.
    */
  private[graft] def exactKeepIds(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text"))).agg(min("doc_id").as("doc_id")).select("doc_id")

  /** Normalization-then-dedup: case-fold, collapse whitespace runs,
    * strip non-alphanumerics, THEN digest — catches the near-exact
    * copies (reformatted whitespace, punctuation drift, case) that
    * byte-exact dedup misses but MinHash is overkill for. In real
    * corpora this is the second gate of the dedup cascade (exact →
    * normalized → MinHash), each stage cheaper per-pair than the
    * next. Map-only normalization — one codegen pass per doc
    * ([[graft.functions.NormalizeText]]; byte-identical to the
    * two-regex chain the oracle spells out, without the per-doc
    * java.util.regex machinery), then the same one-shuffle digest
    * groupBy as [[exact]] — text never crosses the wire, only
    * 16-byte digests.
    */
  def exactNormalized(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"),
        md5(graft.functions.VectorFunctions.normalizeText(col("text")))
          .as("norm_hash"))
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")
  }

  /** Exact dedup counts — total vs distinct (the "how much would
    * dedup save" report).
    */
  def exactStats(documents: DataFrame): DataFrame =
    documents.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))

  /** Sketch twin of [[exactStats]] — the 100 TB default. `countDistinct`
    * expands to a full shuffle of every distinct digest
    * (Expand + two-phase distinct agg); `approx_count_distinct`
    * (HLL++) keeps a constant-size mergeable sketch per partition, so
    * the corpus-wide "how much would dedup save" report is one
    * map-side pass + a KB-sized merge regardless of corpus size.
    * rsd defaults to 0.05 (Spark's default); no SQL oracle (sketch
    * estimates are engine-specific) — a tolerance spec pins the
    * estimate against the exact count.
    */
  def exactStatsApprox(documents: DataFrame, rsd: Double = 0.05): DataFrame =
    documents.agg(
      count(lit(1)).as("n_docs"),
      approx_count_distinct(md5(col("text")), rsd).as("n_distinct_est"),
      (count(lit(1)) - approx_count_distinct(md5(col("text")), rsd)).as("n_dupes_est"))

  /** (doc_id, shingle) rows — distinct shingles per doc via the
    * per-row [[graft.functions.WordShingles]] expression (one JVM
    * pass, no interpreted lambdas), then an explode. Docs shorter
    * than k words keep one null-shingle row (explode_outer).
    */
  private[graft] def explodedShingles(documents: DataFrame, k: Int): DataFrame = {
    documents
      .select(col("doc_id"),
        graft.functions.VectorFunctions.wordShingles(col("text"), k).as("shingles"))
      .select(col("doc_id"), col("shingles"), explode_outer(col("shingles")).as("sh"))
  }

  /** MinHash signature: for hash i, min over the doc's shingles of
    * (a_i * xxhash64(shingle) + b_i) mod (2^61-1); empty docs get
    * the sentinel p everywhere.
    *
    * Computed by the dedicated
    * [[graft.functions.MinHashSignature]] expression — a map-only
    * projection with ZERO shuffle at any scale (the earlier
    * explode + groupBy(doc_id) formulation paid a docs × numHashes
    * exchange and interpreted per-shingle lambdas; values are
    * identical — min over the shingle multiset equals min over the
    * distinct set, same seeds, same xxhash64).
    */
  def minhashSignatures(documents: DataFrame, shingleK: Int = 5, numHashes: Int = 32): DataFrame = {
    documents.select(col("doc_id"),
      graft.functions.VectorFunctions.minhashSig(col("text"), shingleK, numHashes).as("signature"))
  }

  /** LSH banding over MinHash signatures → candidate near-dup pairs →
    * signature-agreement estimate of Jaccard.
    *
    * bands × rowsPerBand = numHashes. Docs sharing any
    * (band_idx, band_hash) bucket are candidates, capped at
    * `maxBucket` per bucket ([[Lsh]]). Exact dedup runs before LSH in
    * [[dedupPipeline]], so identical docs are already gone; the cap
    * guards near-identical floods. Output: pairs with estimated
    * Jaccard ≥ `threshold`.
    */
  def minhashNearDups(documents: DataFrame, shingleK: Int = 5, numHashes: Int = 32,
                      bands: Int = 8, threshold: Double = 0.5,
                      maxBucket: Int = 1024): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigs = minhashSignatures(documents, shingleK, numHashes)
    val bucket = Seq("band_idx", "band_hash")
    val banded = Lsh.capBuckets(sigs.select(col("doc_id"), col("signature"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_idx"),
          xxhash64(array_join(transform(
            slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")), ",")).as("band_hash")))).as("band"))
      .select(col("doc_id"), col("signature"),
        col("band.band_idx").as("band_idx"), col("band.band_hash").as("band_hash")),
      bucket, "doc_id", maxBucket)
    Lsh.bucketPairs(banded, banded, bucket, "doc_id", "signature", "est_jaccard",
        Lsh.agreement(_, _, numHashes), _ >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash: 64-bit fingerprint = sign of per-bit vote sums over
    * token hashes; near-identical texts agree on almost all bits.
    * Computed by the [[graft.functions.SimHash64]] expression — a
    * map-only projection, zero shuffle at any scale (the earlier
    * explode + 64-aggregate groupBy paid a shuffle and multi-second
    * janino compiles of the 64-wide generated aggregate).
    */
  def simhash(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"),
      graft.functions.VectorFunctions.simhash64(col("text")).as("simhash"))
  }

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxDist`.
    *
    * Pigeonhole banding ([[Lsh.pigeonholeBands]]): split the 64-bit
    * fingerprint into `maxDist + 1` bands — any pair within maxDist
    * bits must agree on at least one full band, so candidates come
    * from the capped (band_idx, band_bits) bucket join and the exact Hamming
    * check (`bit_count(xor)`, codegen'd) runs only within buckets.
    */
  def simhashNearDups(documents: DataFrame, maxDist: Int = 3,
                      maxBucket: Int = 256): DataFrame = {
    val sigs = simhash(documents)
    val bucket = Seq("band_idx", "band_bits")
    val banded = Lsh.capBuckets(sigs.select(col("doc_id"), col("simhash"),
      explode(Lsh.pigeonholeBands(col("simhash"), 64, maxDist)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_idx").as("band_idx"), col("band.band_bits").as("band_bits")),
      bucket, "doc_id", maxBucket)
    Lsh.bucketPairs(banded, banded, bucket, "doc_id", "simhash", "hamming",
        (x, y) => bit_count(x.bitwiseXOR(y)), _ <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** The candidate table the whole n-gram metric family shares:
    * (doc_a, doc_b, na, nb, inter) for every pair sharing ≥1
    * df-capped shingle — explode distinct shingles, self-join on the
    * shingle (blocking, no full crossJoin), count intersections.
    * Jaccard ([[jaccardFromCounts]]) and containment
    * ([[containmentFromCounts]]) are metric-only projections over the
    * SAME counts, so the registry materializes this frame once
    * ([[graft.Materialized]]) and both keys (plus the graph audit
    * family via the Jaccard edges) read it, instead of each re-running
    * the blocking join. The second-decade bench caught containment
    * paying the full build that Jaccard had already memoized (40.5 s
    * vs 0.09 s at sf10) — same work, built twice.
    *
    * Document-frequency cap: the shingle self-join costs Σ df² over
    * shingles, so ONE corpus-common shingle ("of the and of the",
    * boilerplate headers) with df = millions is an n²-scale bucket.
    * Shingles with df > `maxDf` are dropped before the join — bounded
    * work Σ min(df, maxDf)²; a pair's `inter` (and so its Jaccard) is
    * then a lower bound whenever a dropped shingle was shared
    * (`na`, `nb` stay uncapped). At the default, sf-test corpora are
    * unaffected (no shingle reaches df 1000), so exact values — and
    * the DuckDB oracle, which applies the identical cap — are
    * unchanged.
    */
  def ngramPairCounts(documents: DataFrame, shingleK: Int = 5,
                      maxDf: Int = 1000): DataFrame = {
    // ONE explicit-width exchange on sh up front; the df cap is a
    // WINDOW count over that partitioning (not a groupBy + join back
    // — a pruned-column df exchange can never reuse the probe's), and
    // the a×b self-join sides are then canonically identical, so the
    // single exchange is built once and reused. Left to size
    // estimates, the planner instead broadcast the post-explode frame
    // (Generate wrecks stats): at sf10 that meant THREE driver-side
    // single-threaded HashedRelations over 25M string-keyed rows and
    // the explode computed four times with zero exchange reuse (164 s,
    // and the documented 8 g-driver GC-locker deaths); this shape does
    // the same Σ min(df, maxDf)² work in executor-sized memory. The
    // shuffle_hash hint matters: the satisfied-distribution sides
    // would otherwise plan as SMJ and re-sort 25M strings.
    val capped = explodedShingles(documents, shingleK)
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), size(col("shingles")).as("n_sh"), col("sh"))
      .repartition(Sizing.width(documents), col("sh"))
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("_df") <= maxDf)
    val a = capped.select(col("sh"), col("doc_id").as("doc_a"), col("n_sh").as("na"))
    val b = capped.select(col("sh"), col("doc_id").as("doc_b"), col("n_sh").as("nb"))
    a.join(b.hint("shuffle_hash"), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
  }

  /** Exact n-gram Jaccard = inter / (|A| + |B| − inter) over
    * [[ngramPairCounts]] rows, kept at ≥ `threshold`.
    */
  def jaccardFromCounts(counts: DataFrame, threshold: Double = 0.2): DataFrame =
    counts
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "jaccard")

  /** Shingle CONTAINMENT pairs: Broder's inter / min(|A|, |B|) over
    * the same [[ngramPairCounts]] rows — the "doc A is (mostly)
    * inside doc B" detector Jaccard structurally misses: a
    * quote-plus-commentary page scores near 1.0 containment but low
    * Jaccard because the union is dominated by the larger doc. The
    * standard companion metric for nested-duplicate and
    * quote-extraction detection (Broder's containment comes from the
    * same resemblance paper as MinHash/Jaccard).
    */
  def containmentFromCounts(counts: DataFrame, threshold: Double = 0.6): DataFrame =
    counts
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "inter", "containment")

  /** The complete dedup pipeline in one call — what a corpus-curation
    * job actually runs: exact dedup (drop byte-identical copies, keep
    * lowest doc_id), minhash banded-LSH near-dup pairs over the
    * survivors, connected components to resolve transitive groups,
    * then keep each group's min doc_id. Returns the final kept doc_id
    * set.
    *
    * Every stage is the already-bounded building block: digest
    * groupBy (one shuffle), Σ bucket² banded self-join, one
    * contract-then-check CC round on near-dup clusters, one anti
    * join. Text never crosses the wire: the sketches are map-side,
    * and only ids reach CC and the final anti join. The exact keep
    * ids are materialized once (lazily, a narrow id set), so CC's
    * round and the final anti join read one digest groupBy.
    */
  def pipelineKeepSet(documents: DataFrame): DataFrame = {
    val keepExact = exactKeepIds(documents).localCheckpoint(false)
    val survivors = documents.join(keepExact, Seq("doc_id"), "left_semi")
    val pairs = minhashNearDupsMd5(survivors).select("doc_a", "doc_b")
    survivors.select("doc_id")
      .join(nonRepresentatives(pairs), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Edit-distance near-duplicates: pairs whose (truncated) texts are
    * within `maxDist` Levenshtein edits, blocked on a shared prefix —
    * the classic catch for fat-fingered re-uploads and tiny-edit
    * copies that shingle methods can miss on short texts.
    *
    * Shape at 100 TB: candidate pairs come from a self-join on the
    * `blockLen`-char canonical prefix (Σ block² like every blocking
    * join here, and a mass-duplicated prefix hits the same AQE skew
    * handling as LSH buckets); `levenshtein` runs only within blocks
    * and only on `cmpLen`-truncated texts, so the per-pair cost is a
    * bounded O(cmpLen²) codegen'd builtin, never full-document DP.
    * Prefix blocking trades recall for boundedness exactly like a
    * band cap: an edit inside the first `blockLen` chars escapes this
    * pass (the MinHash pipeline is the recall backstop).
    */
  def levenshteinNearDups(documents: DataFrame, maxDist: Int = 5,
                          blockLen: Int = 16, cmpLen: Int = 200): DataFrame = {
    val prepared = documents.select(
      col("doc_id"),
      substring(lower(col("text")), 1, blockLen).as("block"),
      substring(col("text"), 1, cmpLen).as("head"))
    val a = prepared.select(col("block"), col("doc_id").as("doc_a"), col("head").as("ha"))
    val b = prepared.select(col("block"), col("doc_id").as("doc_b"), col("head").as("hb"))
    a.join(b, "block")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("ha"), col("hb")))
      .filter(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  /** Eval-set decontamination: flag training documents sharing any
    * `shingleK`-word shingle with the held-out/benchmark set (here: a
    * deterministic doc_id stand-in for a real eval-doc table). The
    * mandatory pre-training hygiene pass against benchmark leakage.
    *
    * Shape at 100 TB: eval shingles are benchmark-sized (millions,
    * not corpus-sized) — the join on `sh` is bounded by eval-set
    * cardinality; training shingles stream through it map/shuffle-
    * side without ever pairing train docs against each other. Output
    * is one row per train doc (n_shared = 0 for clean docs), so the
    * result is a filterable audit column, not just the hits.
    */
  def decontaminate(documents: DataFrame, evalModulo: Int = 50,
                    shingleK: Int = 8): DataFrame = {
    val isEval = pmod(col("doc_id"), lit(evalModulo)) === 0
    val evalSh = explodedShingles(documents.filter(isEval), shingleK)
      .filter(col("sh").isNotNull).select("sh").distinct()
    val trainSh = explodedShingles(documents.filter(!isEval), shingleK)
      .filter(col("sh").isNotNull).select("doc_id", "sh")
    val shared = trainSh.join(evalSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    documents.filter(!isEval).select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** NEAR-duplicate eval-set decontamination: the MinHash-LSH upgrade
    * of [[decontaminate]] — exact shared shingles miss lightly edited
    * benchmark text (reworded prompts, shuffled answer options), the
    * leak mode that actually occurs in crawled corpora. Signatures
    * are the same md5 affine min-sketch as [[minhashNearDupsMd5]];
    * candidates come from a banded join of TRAIN bands against EVAL
    * bands only (never train×train), and each flagged train doc
    * reports its worst-matching eval doc with the agreement-estimated
    * Jaccard.
    *
    * Shape at 100 TB: a REAL eval table is benchmark-sized (KBs–MBs
    * of signatures) and AQE broadcast-converts it, so the train
    * signature stream never shuffles against itself; work is
    * Σ |train_band| × |eval_band|, bounded by the tiny side exactly
    * like [[decontaminate]]'s shingle join. No broadcast hint here:
    * the modulo-derived eval STAND-IN scales with the corpus (1/50
    * of it), so forcing a broadcast would blow the 8 GB limit on a
    * large run — the join strategy is left to size-based planning.
    */
  def decontaminateNearDup(documents: DataFrame, evalModulo: Int = 50,
                           shingleK: Int = 5, numHashes: Int = 16,
                           bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val banded = md5BandedSignatures(documents, shingleK, numHashes, bands)
    val isEval = pmod(col("doc_id"), lit(evalModulo)) === 0
    val train = banded.filter(!isEval).select(col("band_idx"), col("band_key"),
      col("doc_id"), col("signature").as("sig_t"))
    val eval_ = banded.filter(isEval).select(col("band_idx"), col("band_key"),
      col("doc_id").as("eval_id"), col("signature").as("sig_e"))
    train.join(eval_, Seq("band_idx", "band_key"))
      .withColumn("est_jaccard", Lsh.agreement(col("sig_t"), col("sig_e"), numHashes))
      .groupBy("doc_id")
      // argmax with deterministic tiebreak: struct max orders by
      // est_jaccard first, then highest eval_id
      .agg(max(struct(col("est_jaccard"), col("eval_id"))).as("best"))
      .select(col("doc_id"), col("best.eval_id").as("eval_id"),
        col("best.est_jaccard").as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy("doc_id")
  }

  /** Version-preference dedup: among documents sharing a canonical
    * fingerprint (case/punctuation-insensitive content identity),
    * keep the BEST copy — longest text, doc_id as tiebreak — instead
    * of [[exact]]'s arbitrary min-id. The "merge crawl snapshots,
    * prefer the fullest capture" pass. One shuffle on the
    * fingerprint; the window's per-group state is one row.
    */
  def keepBestByFingerprint(documents: DataFrame): DataFrame = {
    val fp = md5(regexp_replace(lower(col("text")), "[^a-z ]", ""))
    // composite BIGINT preference key: maximize n_chars, then minimize
    // doc_id — unique per doc, so max_by is fully deterministic (and
    // engine-portable: composite/struct arg_max keys aren't)
    val pref = col("n_chars").cast("long") * lit(4294967296L) - col("doc_id")
    documents.select(col("doc_id"), col("n_chars"), fp.as("fp"))
      .groupBy("fp")
      .agg(max_by(col("doc_id"), pref).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max("n_chars").as("best_chars"))
      .orderBy("keep_id")
  }

  /** Incremental exact dedup — which docs of a NEW batch are novel
    * against an existing corpus: anti-join on the content digest. The
    * daily-ingest pattern at 100 TB: the corpus side reduces to a
    * digest column (16 bytes/row regardless of document size, stored
    * once as a bucketed digest table and reused every increment); the
    * new batch is increment-sized. Neither side ever carries text
    * through the shuffle.
    */
  def incrementalNovel(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    newDocs.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(corpus.select(md5(col("text")).as("text_hash")).distinct(),
        Seq("text_hash"), "left_anti")
      .select("doc_id", "text_hash") // USING-join fronts the key column
      .orderBy("doc_id")

  /** Near-dup GROUP resolution: connected components over a candidate
    * pair list — the step that turns pairwise near-dups into an
    * actionable keep/kill list (every doc maps to its group's min
    * doc_id; keep the representative, drop the rest). Pairs alone
    * under-dedup: A~B and B~C must collapse to one group even when
    * A~C was never emitted.
    *
    * Algorithm: contract, then check (after Kiveris et al., SoCC
    * 2014: rounds cost more than data, so contract locally before any
    * global round). Each round:
    *   1. contract — a union-find over each partition of the edge
    *      list maps every node it sees to the min of its local
    *      component, its root; one `groupBy(node)` keeps the smallest
    *      root as the node's label. A label is a member of its node's
    *      component and ≤ the node;
    *   2. check — the star edges (node, root) connect exactly what the
    *      input edges connect, so the labels are final iff they agree
    *      at both ends of every star edge. One window keyed by root
    *      compares each root's label with its members' labels and
    *      keeps the label pairs that differ. If that set is empty,
    *      each component carries one label, and a label that is a
    *      member and ≤ every member is the minimum;
    *   3. otherwise the open label pairs are the next round's edges
    *      (the same components over far fewer nodes), and one left
    *      join relabels the nodes with that round's labels.
    * A round is one eager `localCheckpoint` (the groupBy and the
    * window shuffles, held in executor-local blocks with the lineage
    * cut) plus a one-job emptiness check; each task's union-find
    * holds its partition's distinct nodes in memory. In a clique every
    * member shares a partition with an edge to the minimum, so dense
    * near-dup clusters resolve in the first round, with no join.
    * Each later round lowers at least one label, so the loop ends;
    * the slow case is a long path spread one edge per partition.
    * Round one has no join and the relabel join can only build its
    * right side, so AQE plans the same shape on every run.
    *
    * Output covers docs appearing in ≥1 pair, ordered by doc_id; all
    * other docs are trivially their own singleton group. The pairs are
    * read as a set: a global sort on the input, at its top or under
    * Projects and Filters (a sorted pair operator's `.select(…)`), is
    * dropped unexecuted. Ids must be integral (they cross the
    * union-find as longs); the output keeps their type and
    * nullability. Throws `IllegalStateException` if `maxIter` rounds
    * end unconverged, rather than return labels that are not yet
    * components.
    */
  def connectedGroups(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val id = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).schema.head
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(id.dataType),
      s"connectedGroups needs integral ids, got ${id.dataType}")
    // nodes keep the input ids' nullability, so the output schema does
    val stars = Encoders.row(StructType(
      Seq("node", "root").map(StructField(_, LongType, id.nullable))))
    // One round, contract then check, in one materialization. Each
    // node sends its label to itself and to every root it reached, so
    // a root's window holds its own label beside its members'. Rows
    // a node sent to itself carry the labels; rows whose label is
    // above their window's min are the open label pairs.
    def round(edges: DataFrame): (DataFrame, DataFrame) = {
      val t = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .mapPartitions(unionFindStars)(stars)
        .groupBy("node").agg(min("root").as("label"), collect_set("root").as("roots"))
        .select(col("node"), col("label"),
          explode(array_union(array(col("node")), col("roots"))).as("key"))
        .select(col("node"), col("label"), (col("key") === col("node")).as("own"),
          min("label").over(Window.partitionBy("key")).as("key_min"))
        .filter(col("own") || col("label") =!= col("key_min"))
        .localCheckpoint(true)
      (t.filter(col("own")).select("node", "label"),
        t.filter(col("label") =!= col("key_min"))
          .select(col("label").as("src"), col("key_min").as("dst")))
    }
    // one job however many partitions: each task reports whether its
    // partition holds a row
    def isEmpty(df: DataFrame): Boolean =
      !df.queryExecution.toRdd.mapPartitions(rows => Iterator(rows.hasNext)).collect().contains(true)
    var (labels, open) = round(org.apache.spark.sql.GraftSqlShim.withoutTopSort(pairs)
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    var converged = isEmpty(open)
    var i = 1
    while (!converged && i < maxIter) {
      val (next, nextOpen) = round(open)
      labels = labels
        .join(next.select(col("node").as("label"), col("label").as("next")), Seq("label"), "left")
        .select(col("node"), coalesce(col("next"), col("label")).as("label"))
        .localCheckpoint(true)
      open = nextOpen
      converged = isEmpty(open)
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedGroups did not converge after $i rounds (maxIter = $maxIter)")
    labels.select(col("node").cast(id.dataType).as("doc_id"),
        col("label").cast(id.dataType).as("group_id"))
      .orderBy("doc_id")
  }

  /** One partition's union-find over (src, dst) edges: each node it
    * sees, paired with the min of its local component. Union by min
    * keeps every root its component's minimum; path halving keeps
    * `find` short.
    */
  private def unionFindStars(edges: Iterator[Row]): Iterator[Row] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var y = x
      while (parent(y) != y) { parent(y) = parent(parent(y)); y = parent(y) }
      y
    }
    edges.foreach { e =>
      val a = e.getLong(0)
      val b = e.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(x => Row(x, find(x)))
  }

  /** The keep-min rule over a candidate pair list: every doc of a
    * [[connectedGroups]] component except its minimum — the doc_ids a
    * near-dup pass drops. The one keep-min rule of `pipelineKeepSet`,
    * `Curation.curatePipeline` and `CurateStream`; on their near-dup
    * clusters it costs one contract-then-check round.
    */
  def nonRepresentatives(pairs: DataFrame): DataFrame =
    connectedGroups(pairs).filter(col("doc_id") =!= col("group_id")).select("doc_id")

  // ---- md5-seeded oracle twins --------------------------------------
  //
  // The xxhash64-based MinHash/SimHash above are the production fast
  // path, but Spark's seeded xxhash64 is not reproducible in other
  // engines, so those queries can only be spec-pinned, never
  // oracle-hashed. These twins swap the token hash for md5 (universal)
  // with arithmetic chosen to stay exact in 64-bit signed math in ANY
  // engine:
  //   - MinHash: h = first 7 hex chars of md5(shingle) < 2^28; affine
  //     family (a·h + b) mod M with M = 2^31-1 and a,b < 2^31 keeps
  //     every intermediate < 2^59 — no wrap, no HUGEINT needed;
  //   - SimHash: 32-bit fingerprint from the first 8 hex chars of
  //     md5(token) — bit votes and the final Σ 2^bit fit comfortably.
  // Both sketches are the same map-only per-row expressions as the fast
  // path ([[graft.functions.Md5MinHashSignature]],
  // [[graft.functions.Md5SimHash32]]): each document is hashed once,
  // with no exchange before the banding. The DuckDB oracle spells out
  // the explode + groupBy formulation of the same values, so a green
  // CORRECTNESS row here hash-validates the whole dedup pipeline
  // end-to-end against an independent engine.

  /** Shared md5-MinHash banded-signature builder: per doc, the
    * numHashes affine min-sketch ([[graft.functions.Md5MinHashSignature]],
    * a map-only projection) plus one row per LSH band with its
    * concatenated band key — the candidate-generation half of every
    * md5-twin LSH op ([[minhashNearDupsMd5]] self-join,
    * [[decontaminateNearDup]] train×eval join, the curation stream's
    * probe). One row per input row: no exchange between the scan and
    * the band explode.
    */
  private[graft] def md5BandedSignatures(documents: DataFrame, shingleK: Int,
                                         numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigs = documents.select(col("doc_id"),
      graft.functions.VectorFunctions.minhashSigMd5(col("text"), shingleK, numHashes)
        .as("signature"))
    sigs.select(col("doc_id"), col("signature"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        bnd => struct(bnd.as("band_idx"),
          array_join(transform(
            slice(col("signature"), bnd * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")), ",").as("band_key")))).as("band"))
      .select(col("doc_id"), col("signature"),
        col("band.band_idx").as("band_idx"), col("band.band_key").as("band_key"))
  }

  /** Oracle twin of [[minhashNearDups]]: md5-hashed shingles, affine
    * min-sketch mod 2^31-1 ([[md5BandedSignatures]], map-only), the
    * same capped banded join ([[Lsh]]) and agreement-estimated
    * Jaccard. Sorted by (doc_a, doc_b); consumers that read the pairs
    * as a set ([[connectedGroups]], a [[graft.Materialized]] memo) skip
    * that sort.
    */
  def minhashNearDupsMd5(documents: DataFrame, shingleK: Int = 5, numHashes: Int = 16,
                         bands: Int = 4, threshold: Double = 0.5,
                         maxBucket: Int = 1024): DataFrame = {
    val bucket = Seq("band_idx", "band_key")
    val banded = Lsh.capBuckets(md5BandedSignatures(documents, shingleK, numHashes, bands),
      bucket, "doc_id", maxBucket)
    Lsh.bucketPairs(banded, banded, bucket, "doc_id", "signature", "est_jaccard",
        Lsh.agreement(_, _, numHashes), _ >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash estimator audit: for every banded candidate pair, the
    * signature-agreement Jaccard ESTIMATE next to the exact
    * distinct-shingle Jaccard and their absolute error — the
    * "measure, don't guess" report that calibrates signature width /
    * band count before a 100 TB dedup run (Broder's bound: stderr ≈
    * √(J(1−J)/numHashes), so 16 hashes ⇒ ±0.125 at J=0.5; this op
    * shows the realized error on YOUR corpus).
    *
    * Scale shape: candidates come from the banded LSH join (never
    * all pairs); the exact-Jaccard leg restricts the shingle table to
    * candidate docs FIRST (distinct-id hash join — candidate sets are
    * pair-bounded), so the quadratic truth computation touches only
    * what LSH surfaced. Pairs sharing no shingle define truth = 0.
    * `pairs` carries (doc_a, doc_b, est_jaccard) from
    * [[minhashNearDupsMd5]] built with the same `shingleK`/`numHashes`,
    * so the exact-Jaccard truth leg audits the estimator that actually
    * produced them.
    */
  def minhashEstErrorMd5(documents: DataFrame, pairs: DataFrame,
                         shingleK: Int, numHashes: Int): DataFrame = {
    // Every join side here is CORPUS-scaled (the candidate-pair table,
    // its distinct doc ids, and the shingle-exploded truth legs), so
    // every join is hinted shuffle_hash — left to size estimates the
    // planner broadcast the post-aggregate pairs table (estimates
    // through aggregates are fiction, the ngramPairCounts lesson) and
    // the round-12 sf10 heap-floor probe caught it as the suite's ONE
    // 8 g failure: a driver-side build of millions of pair rows.
    // Executor-sized hash builds pass at the default heap.
    val sets = explodedShingles(documents, shingleK)
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), size(col("shingles")).as("n_sh"), col("sh"))
    val docsIn = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sub = sets.join(docsIn.hint("shuffle_hash"), Seq("doc_id"))
    val a = sub.select(col("sh"), col("doc_id").as("doc_a"), col("n_sh").as("na"))
    val b = sub.select(col("sh"), col("doc_id").as("doc_b"), col("n_sh").as("nb"))
    val truth = pairs.select("doc_a", "doc_b").hint("shuffle_hash")
      .join(a, Seq("doc_a")).join(b.hint("shuffle_hash"), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("true_jaccard"))
    pairs.join(truth.hint("shuffle_hash"), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        coalesce(col("true_jaccard"), lit(0.0)).as("true_jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("true_jaccard")), 6))
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup CLUSTER report: size, representative, and byte mass per
    * connected group of the banded-MinHash pair graph — the summary a
    * curation run reads before deleting anything ("how big are my dup
    * clusters, how much storage do they hold"). Composes
    * [[minhashNearDupsMd5]] → [[connectedGroups]] → one
    * group-keyed aggregate joined to doc metadata (never the text).
    * Docs in no pair are singleton groups by definition and excluded,
    * matching [[connectedGroups]]' contract.
    */
  def clusterStats(documents: DataFrame, groups: DataFrame): DataFrame = {
    groups.join(documents.select("doc_id", "n_chars"), Seq("doc_id"))
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("keep_id"),
        coalesce(sum("n_chars"), lit(0L)).as("total_chars"))
      .orderBy("group_id")
  }

  /** Exact-dedup impact report per source: how many documents (and
    * how many bytes) each acquisition source would lose to exact
    * dedup — the "is this feed worth its storage" decision table.
    * Keeper = min doc_id per content digest (same contract as
    * [[exact]]); one digest-keyed aggregate, one digest join, one
    * |sources|-row rollup. Text never shuffles — only 16-byte digests
    * and n_chars move.
    */
  def impactBySource(documents: DataFrame): DataFrame = {
    val keep = documents.groupBy(md5(col("text")).as("digest"))
      .agg(min("doc_id").as("keep_id"))
    documents
      .select(col("doc_id"), col("source"), col("n_chars"), md5(col("text")).as("digest"))
      .join(keep, Seq("digest"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum("n_chars"), lit(0L)).as("total_chars"),
        coalesce(sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(lit(0L))), lit(0L)).as("chars_dropped"))
      .orderBy("source")
  }

  /** Boundary-overlap pairs: document A's last `w` words equal
    * document B's first `w` words — the seam signature of content
    * split across crawl segments or of chunked re-ingestion
    * (contamination at chunk boundaries that whole-doc and
    * shingle-set dedup both under-weight). One equi-join on the
    * boundary key; at 100 TB key on a digest of the boundary string
    * (same never-shuffle-text trick as [[exact]]).
    */
  def boundaryOverlapPairs(documents: DataFrame, w: Int = 4): DataFrame = {
    val withWs = documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      .filter(size(col("ws")) >= w)
    val heads = withWs.select(col("doc_id").as("doc_b"),
      array_join(slice(col("ws"), 1, w), " ").as("boundary"))
    val tails = withWs.select(col("doc_id").as("doc_a"),
      array_join(slice(col("ws"), -w, w), " ").as("boundary"))
    tails.join(heads, Seq("boundary"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b", "boundary")
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle twin of [[simhash]]: a 32-bit fingerprint from md5 token
    * hashes, one (doc_id, simhash32) row per document, sorted by
    * doc_id. The fingerprint is [[graft.functions.Md5SimHash32]] over
    * `lower(text)`, a map-only projection; a null-text document has no
    * tokens and no row.
    */
  def simhashMd5(documents: DataFrame): DataFrame =
    simhashMd5Unsorted(documents).orderBy("doc_id")

  /** [[simhashMd5]]'s rows before the sort, for the banding and top-k
    * consumers that read them as a set.
    */
  private def simhashMd5Unsorted(documents: DataFrame): DataFrame = {
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhashMd5(lower(col("text"))).as("simhash32"))
  }

  /** Per-document word-window passages: text split into consecutive
    * `w`-word chunks, one output row per (doc_id, chunk index). The
    * building block for exact PASSAGE-level dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022 — boilerplate repeats across documents far more often than
    * whole documents do). Map-only: split + slice per row, no
    * shuffle; `sequence` bounds the chunk count per doc so nothing
    * materializes beyond the doc's own words.
    */
  private[graft] def explodedPassages(documents: DataFrame, w: Int): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((size(col("ws")) - 1) / w).cast("int"))).as("i"),
        col("ws"))
      .select(col("doc_id"), col("i").cast("int").as("i"),
        array_join(slice(col("ws"), col("i") * w + 1, lit(w)), " ").as("chunk"))

  /** Cross-document duplicated passages: which `w`-word chunks appear
    * in more than one document, how often, and where first. One
    * shuffle keyed on the chunk (at 100 TB: key on xxhash64(chunk)
    * and never move the text — same digest trick as [[exact]];
    * kept as the raw string here so the DuckDB oracle can pin it).
    */
  def passageStats(documents: DataFrame, w: Int = 8): DataFrame =
    explodedPassages(documents, w)
      .groupBy("chunk")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk")

  /** Per-document boilerplate fraction: what share of a doc's
    * `w`-word chunks also occur elsewhere in the corpus (any doc,
    * including within-doc repeats) — the doc-level QUALITY SIGNAL
    * derived from passage dedup ("mostly-boilerplate page" filters in
    * crawl curation). The occurrence count is a window keyed on the
    * chunk itself — high-cardinality, balanced, one groupBy-shaped
    * exchange — then one partial→final agg back onto doc_id.
    */
  def passageDupRate(documents: DataFrame, w: Int = 8): DataFrame = {
    val occ = Window.partitionBy("chunk")
    explodedPassages(documents, w)
      .withColumn("n_occ", count(lit(1)).over(occ))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_rate",
        round(col("n_dup").cast("double") / col("n_chunks"), 4))
      .orderBy("doc_id")
  }

  /** Passage-level dedup rewrite: every occurrence of a chunk except
    * the globally-first one (min (doc_id, i)) is dropped, and each
    * document is re-assembled from its kept chunks in order — the
    * pass that strips repeated boilerplate from a crawl while keeping
    * one canonical copy. The "first occurrence" rank is a window
    * keyed on the chunk itself — high-cardinality partition key, so
    * the window is ONE balanced shuffle (same key as a groupBy), then
    * re-assembly is one groupBy(doc_id) with an ordered collect.
    */
  def passageDedup(documents: DataFrame, w: Int = 8): DataFrame = {
    val firstOcc = Window.partitionBy("chunk").orderBy("doc_id", "i")
    explodedPassages(documents, w)
      .withColumn("rn", row_number().over(firstOcc))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1, struct(col("i"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("text_clean"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_total"))
      .orderBy("doc_id")
  }

  /** Oracle twin of [[simhashNearDups]]: pigeonhole banding
    * ([[Lsh.pigeonholeBands]]) over the 32-bit md5 fingerprint —
    * maxDist+1 bands, any pair within maxDist bits agrees on ≥1 band.
    *
    * The cap matters more here: a 32-bit fingerprint with 8-bit bands
    * has only 256 buckets per band, so uncapped the self-join
    * degenerates toward n²/256 (measured at the 100× decade: ~8.6 min
    * for the CC family build at 500k docs, vs 2.5 s for the 64-bit
    * production path whose 16-bit bands keep 65k buckets). The DuckDB
    * oracle CTE mirrors the [[Lsh.capBuckets]] rule verbatim, so the
    * twin stays hash-checkable. Production corpora still run
    * [[simhashNearDups]]. The fingerprints are banded unsorted: no
    * exchange runs between the scan and the band explode.
    */
  def simhashMd5NearDups(documents: DataFrame, maxDist: Int = 3,
                         maxBucket: Int = 256): DataFrame = {
    require(32 % (maxDist + 1) == 0, "maxDist+1 must divide 32")
    val sigs = simhashMd5Unsorted(documents)
    val bucket = Seq("band_idx", "band_bits")
    val banded = Lsh.capBuckets(sigs.select(col("doc_id"), col("simhash32"),
      explode(Lsh.pigeonholeBands(col("simhash32"), 32, maxDist)).as("band"))
      .select(col("doc_id"), col("simhash32"),
        col("band.band_idx").as("band_idx"), col("band.band_bits").as("band_bits")),
      bucket, "doc_id", maxBucket)
    Lsh.bucketPairs(banded, banded, bucket, "doc_id", "simhash32", "hamming",
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("int"), _ <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** LSH band-bucket size histogram — the audit that tells you BEFORE
    * a 100 TB run whether the banded self-join is safe: each (band,
    * key) bucket of size s costs s·(s−1)/2 candidate pairs, so the
    * histogram (and its implied pair count per size class) is exactly
    * the cost model the `maxBucket` flood guard in
    * [[minhashNearDupsMd5]] truncates. UNCAPPED by design — it
    * measures the true distribution the cap would act on. One
    * (band_idx, band_key) aggregate, then a size-class rollup of that
    * (bounded) bucket table; the raw text never shuffles.
    */
  def minhashBandHistogram(documents: DataFrame, shingleK: Int = 5,
                           numHashes: Int = 16, bands: Int = 4): DataFrame =
    md5BandedSignatures(documents, shingleK, numHashes, bands)
      .groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size")
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("bucket_size"), col("n_buckets"),
        (col("n_buckets") * col("bucket_size") * (col("bucket_size") - 1) / 2)
          .cast("long").as("cand_pairs"))
      .orderBy("bucket_size")

  /** LSH recall audit: what fraction of the TRUE near-dup pairs
    * (exact n-gram Jaccard ≥ threshold, df-capped) does the banded
    * minhash join actually surface as candidates — the other half of
    * the measure-don't-guess pair with [[minhashEstErrorMd5]] (that
    * op audits estimator PRECISION on surfaced pairs; this one audits
    * candidate-generation RECALL, the error silent everywhere else
    * because missed pairs never appear in any output). Run at a
    * pilot SF before committing band/hash parameters to a 100 TB
    * dedup. Truth comes from the bounded shingle self-join, candidates
    * from the banded LSH join; the comparison is one two-key hash
    * join and three 1-row aggregates. `truthPairs` carries the exact
    * (doc_a, doc_b) truth pairs ([[jaccardFromCounts]]); the candidate
    * leg runs at threshold 0, since recall needs the uncut candidate
    * set.
    */
  def lshRecallAudit(documents: DataFrame, truthPairs: DataFrame,
                     shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    val truth = truthPairs.select(col("doc_a"), col("doc_b"))
    val cand = minhashNearDupsMd5(documents, shingleK, numHashes, bands, threshold = 0.0)
      .select(col("doc_a"), col("doc_b"))
    truth.join(cand.withColumn("found", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum("found"), lit(0L)).as("n_found"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .select(col("n_truth"), col("n_found"), col("n_candidates"),
        round(col("n_found").cast("double") / col("n_truth"), 6).as("recall"))
  }

  /** Dataset-split leakage audit: near-dup pairs crossing the
    * train/val/test assignment ([[TextAnalysis.datasetSplit]]'s
    * deterministic rule) — the SELF-contamination check run after any
    * split ([[decontaminate]] guards against an EXTERNAL eval set; a
    * near-dup of a training doc sitting in your own test split
    * inflates eval exactly the same way). Cells are unordered split
    * pairs with a `leaks` flag on the off-diagonal; pair generation
    * is the capped banded LSH join ([[minhashNearDupsMd5]]), the split
    * tags are pure modulo arithmetic on the pair ids, so no corpus scan
    * happens here at all.
    */
  def splitLeakage(pairs: DataFrame): DataFrame = {
    def split(c: Column): Column =
      when(pmod(c, lit(10)) < 8, "train")
        .when(pmod(c, lit(10)) === 8, "val").otherwise("test")
    pairs
      .select(split(col("doc_a")).as("sa"), split(col("doc_b")).as("sb"))
      .select(least(col("sa"), col("sb")).as("split_x"),
        greatest(col("sa"), col("sb")).as("split_y"))
      .groupBy("split_x", "split_y")
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("split_x"), col("split_y"), col("n_pairs"),
        (col("split_x") =!= col("split_y")).as("leaks"))
      .orderBy("split_x", "split_y")
  }

  /** Cross-source near-duplication matrix: which sources copy from
    * which — minhash-LSH near-dup pairs rolled up to unordered
    * (source, source) cells with the mean estimated Jaccard. The
    * curation report behind "drop crawl B, it's 80% mirrors of crawl
    * A" decisions (within-source cells sit on the diagonal). Pair
    * generation is the banded LSH join; the doc→source attachment is
    * two joins against a (doc_id, source) projection — the text
    * itself never moves. `pairs` carries (doc_a, doc_b, est_jaccard)
    * from [[minhashNearDupsMd5]].
    */
  def crossSourceNearDups(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .groupBy(
        least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("est_jaccard"), 6).as("avg_est_jaccard"))
      .orderBy("source_x", "source_y")
  }

  /** Lexical-vs-semantic agreement audit: every MinHash-LSH near-dup
    * candidate pair annotated with the cosine similarity of the two
    * documents' embeddings — the cross-modal sanity check run before
    * trusting EITHER signal alone (high est-Jaccard + low cosine =
    * template pages with swapped entities, exactly what
    * entity-preserving dedup must NOT merge; low Jaccard pairs with
    * high cosine are paraphrases only the semantic pass can catch).
    * Pairs come from the capped banded join ([[minhashNearDupsMd5]]);
    * the embedding attach is two hash joins on the pair ids against
    * an id→vector projection, so vectors move only for candidate
    * pairs (LSH-bounded), never pairwise. Pairs without embeddings
    * on both sides drop (inner joins) — coverage is reported by the
    * row count vs `dedup_minhash_md5`.
    */
  def lexicalVsSemantic(embeddings: DataFrame, pairs: DataFrame): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pairs
      .join(vecs.select(col("vec_id").as("doc_a"), col("v").as("va")), Seq("doc_a"))
      .join(vecs.select(col("vec_id").as("doc_b"), col("v").as("vb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(graft.functions.VectorFunctions.cosineSim(col("va"), col("vb")), 6)
          .as("cos_sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-source shingle novelty: how much of each source's distinct
    * k-shingle vocabulary appears in NO other source — the "does this
    * crawl add new content or re-serve the others" measurement that
    * ranks acquisition value before mix weighting (complement of
    * [[crossSourceNearDups]]: that scores pairwise mirroring at
    * document level, this scores corpus-level content novelty).
    *
    * Shape at 100 TB: `source` rides the shingle explode directly
    * (documents already carries it — the former doc_id re-attach join
    * moved the exploded fact through an extra hash join for a column
    * the scan had), and the ONLY fact-sized exchange carries
    * (source, xxhash64(shingle)) — novelty counts are
    * encoding-invariant, so the raw 5-word shingle text never
    * shuffles (same digest trade as [[shingleDfHistogram]], same
    * birthday bound |vocab|²/2⁶⁵; a collision merges two shingles'
    * spread rows and would surface as an oracle count mismatch on
    * THIS key — suspect digest collision first). One repartition on
    * the digest serves all three keyed steps: the (source, shh)
    * distinct clusters by shh ⊇ subset, the per-shingle spread count
    * is a whole-partition window over the same clustering (no second
    * exchange, no self-join), and the per-source rollup partial-aggs
    * map-side to a sources-sized final exchange.
    */
  def ngramNovelty(documents: DataFrame, shingleK: Int = 5): DataFrame = {
    val srcSh = documents
      .select(col("source"),
        explode(graft.functions.VectorFunctions.wordShingles(col("text"), shingleK)).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("source"), xxhash64(col("sh")).as("shh"))
    val dist = srcSh.repartition(Sizing.width(documents), col("shh"))
      .dropDuplicates("source", "shh")
    dist
      .withColumn("n_sources", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shh")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6).as("novelty"))
      .orderBy("source")
  }

  /** Shingle document-frequency histogram (log₂ buckets): how many
    * distinct 5-shingles occur in 1 doc, 2–3, 4–7, … — the
    * calibration table for the `maxDf` caps on [[ngramPairCounts]]
    * and [[Dedup]]'s other df-capped joins (the join cost is
    * Σ min(df, maxDf)², so this histogram IS the cost model: read it,
    * pick the cap at the knee, know exactly what pair mass you
    * dropped). [[graft.functions.WordShingles]] already emits DISTINCT
    * shingles per doc, so df is one digest-keyed count — no separate
    * distinct pass, and the only corpus-sized shuffle carries
    * xxhash64(shingle) longs, never shingle text (the round-13
    * verdict's #2 sf10 key, 21.3 s, shuffled raw 5-word strings for a
    * report that only needs counts; df counts are encoding-invariant
    * and a 64-bit digest collision — birthday bound |vocab|²/2⁶⁵,
    * ≈ 3·10⁻⁴ at a 10⁸ vocabulary — merges two shingles' df rows.
    * Failure mode if one ever lands: THIS key's oracle gate mismatches
    * on a histogram count (the DuckDB oracle keeps string identity),
    * so an otherwise-undiagnosable `dedup_shingle_df_hist` hash
    * mismatch should suspect digest collision first — an acceptable
    * trade against shuffling corpus-scale shingle text).
    */
  def shingleDfHistogram(documents: DataFrame, shingleK: Int = 5): DataFrame = {
    val df = explodedShingles(documents, shingleK)
      .filter(col("sh").isNotNull)
      .select(xxhash64(col("sh")).as("shh"))
      .groupBy("shh").agg(count(lit(1)).as("df"))
    val b = df.select((length(expr("bin(df)")) - 1).cast("int").as("bucket"))
    val totals = b.agg(count(lit(1)).as("n_total"))
    b.groupBy("bucket").agg(count(lit(1)).as("n_shingles"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("lo_df"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1").as("hi_df"),
        col("n_shingles"),
        round(col("n_shingles").cast("double") / col("n_total"), 6).as("share"))
      .orderBy("bucket")
  }

  /** Near-dup cluster representatives by QUALITY, not id: each
    * connected near-dup group's member with the most characters
    * (ties → lowest doc_id) — the keep-best policy for near-dup
    * clusters, where [[pipelineKeepSet]] keeps min-id and
    * [[keepBestByFingerprint]] only handles EXACT fingerprint
    * groups. The "keep the longest copy" rule preserves the
    * least-truncated variant of a mirrored page. Groups come from
    * the proven simhash-band + [[connectedGroups]] chain; the argmax
    * is one group-partitioned window over the (docs-in-clusters)-sized
    * group table.
    */
  def clusterRepresentatives(documents: DataFrame, groups: DataFrame): DataFrame = {
    val w = Window.partitionBy("group_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    groups.join(documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("rep_doc_id"),
        max(when(col("rn") === 1, col("n_chars"))).as("rep_n_chars"))
      .orderBy("group_id")
  }

  /** Duplication rate by document length (log₂ buckets): exact-digest
    * dup membership cross-tabbed against the length histogram — in
    * web corpora duplication concentrates in the SHORT tail (error
    * pages, navigation stubs), and this table shows whether a simple
    * length floor would remove most duplicate mass before the dedup
    * join runs (the length-axis companion of
    * [[graft.operators.TextAnalysis.qualityVsDup]]). Digest-only
    * shuffle + binary-digit bucketing.
    */
  def dupRateByLength(documents: DataFrame): DataFrame = {
    val withDigest = documents
      .select(col("doc_id"), col("n_chars"), md5(col("text")).as("digest"))
    val counts = withDigest.groupBy("digest").agg(count(lit(1)).as("n_copies"))
    withDigest.join(counts, Seq("digest"))
      .filter(col("n_chars") > 0)
      .select((length(expr("bin(n_chars)")) - 1).cast("int").as("bucket"),
        (col("n_copies") > 1).as("is_dup"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("lo_chars"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1").as("hi_chars"),
        col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs"), 6).as("dup_rate"))
      .orderBy("bucket")
  }

  /** LSH band-plan sweep: for every (bands b, rows-per-band r) split
    * of an `nHashes`-hash MinHash signature, the s-curve candidate
    * probability P(pair surfaces) = 1 − (1 − j^r)^b at each planted
    * Jaccard level, plus the ≈50% crossover threshold (1/b)^(1/r)
    * (Leskovec–Rajaraman–Ullman, MMDS ch. 3). This is the parameter-
    * planning table consulted BEFORE running [[minhashNearDups]] at
    * scale — pick the (b, r) whose threshold brackets your target
    * similarity and whose tail probability at nuisance similarity is
    * acceptable, then measure the realized halves with
    * [[graft.operators.Dedup]]'s recall (`dedup_lsh_recall`) and
    * precision (`dedup_minhash_est_error`) audits.
    *
    * Pure generated arithmetic over a divisors×levels literal grid
    * (13×5 rows at the default 64 hashes) — no input table; the cost
    * is nil at any corpus size, which is the point: plan on paper,
    * not by re-running the join.
    */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession,
                  nHashes: Int = 64,
                  jaccards: Seq[Double] = Seq(0.5, 0.7, 0.8, 0.9, 0.95)): DataFrame = {
    import spark.implicits._
    val grid = for {
      b <- 1 to nHashes if nHashes % b == 0
      j <- jaccards
    } yield (b, nHashes / b, j)
    grid.toDF("b", "r", "jaccard")
      .select(col("b"), col("r"),
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6).as("threshold"),
        col("jaccard"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), col("r")), col("b")), 6)
          .as("p_candidate"))
      .orderBy("b", "jaccard")
  }

  /** Estimated-Jaccard histogram over ALL banded candidate pairs
    * (threshold 0): pair count per signature-agreement level — the
    * empirical companion of [[lshBandPlan]]'s theoretical S-curve
    * ("where does THIS corpus's candidate mass sit before the
    * threshold cuts"), read when picking the near-dup threshold the
    * same way [[graft.operators.Similarity.pairCosineHistogram]]
    * calibrates cosine thresholds. est_jaccard takes only
    * numHashes+1 distinct values, so the rollup is a ≤17-key agg
    * over the LSH-bounded pair set — no new shuffle shape.
    */
  def estJaccardHistogram(documents: DataFrame): DataFrame =
    minhashNearDupsMd5(documents, threshold = 0.0)
      .groupBy("est_jaccard").agg(count(lit(1)).as("n_pairs"))
      .orderBy("est_jaccard")

  /** Component-size histogram over near-dup `groups`
    * ([[connectedGroups]] output): number of connected clusters at
    * each size — the distribution view of the
    * per-cluster [[clusterRepresentatives]] table ("mostly pairs, or
    * a few thousand-doc template farms?"), which is what decides
    * whether keep-one dedup or cluster-cap sampling is the right
    * removal policy. Two bounded aggregates (|groups| rows, then
    * |distinct sizes| rows). Docs with no near-dup edge are
    * singletons and out of scope, as in every CC consumer here.
    */
  def clusterSizeHistogram(groups: DataFrame): DataFrame =
    groups
      .groupBy("group_id").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
      .orderBy("group_size")

  /** Prefix-filtered exact-Jaccard similarity join (the
    * AllPairs/PPJoin family, Bayardo et al. 2007; Xiao et al. 2008):
    * candidate pairs come from sharing a token in each document's
    * PREFIX — its (len − ⌈t·len⌉ + 1) globally-RAREST distinct
    * tokens — which is exhaustive for Jaccard ≥ t (two sets above
    * the threshold must overlap inside those prefixes), then exact
    * distinct-token Jaccard verifies. The deterministic alternative
    * to minhash LSH: zero false negatives, no signatures, candidate
    * cost bounded by Σ df² over PREFIX tokens only — and prefix
    * tokens are the rarest by construction, which is the entire
    * trick. Rarity order is a lexicographic (zero-padded df, token)
    * string key so both engines sort identically; a deterministic
    * `maxBucket` cap guards df-flood tokens like every LSH path.
    *
    * Runs on the `doc_id % sampleMod == 0` slice — the deterministic
    * quadratic-audit sample (as [[graft.operators.Similarity.knnGraph]])
    * that bounds pair volume on a heavily-duplicated corpus; set
    * sampleMod = 1 for the full join. Shape at 100 TB: one
    * (doc, token) distinct shuffle, one vocabulary-sized df join,
    * one prefix-token equi-join; candidates pass Bayardo's length
    * filter (min len ≥ t·max len — exhaustive for Jaccard ≥ t, so
    * size-mismatched pairs drop before any set arithmetic), dedupe
    * on the bare ID pair, and the token arrays join back once per
    * surviving pair. Output: unsorted (doc_a, doc_b, jaccard) rows.
    *
    * The registry serves the pair key and its bands twin
    * ([[prefixFilterPairBands]]) from ONE [[graft.Materialized]] memo
    * of this frame — the dedup-family "materialize pairs once, fan
    * out" contract — so the expensive candidate+verify chain builds
    * once per (session, dir), and the pair key's presentation sort
    * samples the memo's blocks instead of re-running the verify stage.
    */
  def prefixFilterScored(documents: DataFrame, threshold: Double,
                         sampleMod: Int, maxBucket: Int): DataFrame = {
    val docs = documents.filter(pmod(col("doc_id"), lit(sampleMod.toLong)) === 0)
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val df = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val keyed = toks.join(df, "tok")
      .select(col("doc_id"),
        concat(lpad(col("df").cast("string"), 10, "0"), lit(":"), col("tok"))
          .as("key"))
    // referenced three times (prefix emit + both sides of the verify
    // join) — materialize once: the frame is mod-sample-sized
    // (|docs|/sampleMod rows of token arrays), and without the
    // checkpoint each reference re-runs the explode+distinct+df-join
    // chain (measured 3× of the query's cost at sf0.1). EAGER: under
    // AQE even a lazy checkpoint runs the chain's shuffle stages at
    // construction, and its last stage then ran inside the consumers'
    // concurrent jobs. The first of those to finish cut the lineage
    // the others were still computing, so their tasks reported into
    // metrics already garbage-collected (DAGScheduler "non-existent
    // accumulator" errors, seen under GC pressure) and two jobs could
    // compute the same partition twice.
    val perDoc = keyed.groupBy("doc_id")
      .agg(array_sort(collect_list(col("key"))).as("keys"))
      .select(col("doc_id"), col("keys"), size(col("keys")).as("len"))
      .withColumn("p",
        col("len") - ceil(col("len") * threshold).cast("int") + 1)
      .localCheckpoint(true)
    val prefix = perDoc
      .select(col("doc_id"), col("p"), col("len"),
        posexplode(col("keys")).as(Seq("pos", "ktok")))
      .filter(col("pos") < col("p"))
      .select(col("doc_id"), col("ktok"), col("len"), col("pos"))
    val capped = Lsh.capBuckets(prefix, Seq("ktok"), "doc_id", maxBucket)
    // candidates dedupe on the ID PAIR alone; the token arrays join
    // back once per surviving pair (never ride through the distinct).
    // Two sound prunes run BEFORE the distinct and the verify join:
    //   - length filter (Bayardo et al. 2007 §3.1): J(A,B) ≥ t ⟹
    //     min(|A|,|B|) ≥ t·max(|A|,|B|), so size-mismatched
    //     candidates can never verify;
    //   - positional filter (Xiao et al. 2008 §3, PPJoin): a match at
    //     prefix positions (i, j) bounds the overlap by
    //     1 + min(la−1−i, lb−1−j) (both arrays share the same global
    //     sort order), which must reach ⌈t/(1+t)·(la+lb)⌉ — the
    //     overlap equivalent of J ≥ t. A pair survives iff its
    //     BEST (earliest) shared prefix token passes, which is
    //     exactly per-row filtering followed by the distinct.
    // Both are exhaustive for Jaccard ≥ t ON THE UNCAPPED candidate
    // set; the 1e-9 slack keeps the prunes conservative under FP
    // rounding. When the `maxBucket` flood guard truncates a bucket,
    // candidate GENERATION is already approximate (a pair whose only
    // shared tokens were cap-dropped is lost — the documented flood
    // trade, shared with every capped LSH path here), and the
    // positional bound for a pair surviving only via a LATER shared
    // token is pessimistic in the same regime. Neither effect can
    // occur until a bucket exceeds maxBucket (sf0.1 max observed:
    // 764 of 1024). Measured at sf0.1 the positional filter halves
    // the join output (3.1M → 1.6M rows) before the dedupe shuffle.
    val cand = capped.select(col("ktok"), col("doc_id").as("doc_a"),
        col("len").as("len_a"), col("pos").as("pos_a"))
      .join(capped.select(col("ktok"), col("doc_id").as("doc_b"),
        col("len").as("len_b"), col("pos").as("pos_b")),
        Seq("ktok"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("len_a"), col("len_b")).cast("double") >=
        greatest(col("len_a"), col("len_b")).cast("double") * threshold - 1e-9)
      .filter((lit(1) + least(col("len_a") - 1 - col("pos_a"),
          col("len_b") - 1 - col("pos_b"))).cast("double") >=
        ceil((col("len_a") + col("len_b")) * (threshold / (1 + threshold)) - 1e-9))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val ka = perDoc.select(col("doc_id").as("doc_a"), col("keys").as("ka"))
    val kb = perDoc.select(col("doc_id").as("doc_b"), col("keys").as("kb"))
    // The verify runs on the dropDuplicates exchange's (doc_a, doc_b)
    // partitioning, w wide before AQE. An explicit repartition on the
    // same keys at width w is removed by Spark as redundant, so none
    // is written here.
    cand.join(ka, "doc_a").join(kb, "doc_b")
      .withColumn("inter", size(array_intersect(col("ka"), col("kb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("ka")) + size(col("kb")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Count-only audit twin of the prefix-filter pair key: the scored
    * pair table ([[prefixFilterScored]]), finished as per-band pair
    * COUNTS (0.05-wide similarity bands) instead of the pair list. On
    * this corpus the pair list itself is the cost floor — 57% of
    * in-replica pairs genuinely match at J ≥ 0.6 (28.4M result rows
    * at sf10), so the emitting key's warm time measures output
    * volume, not plan quality. The twin decouples the plan-health audit from that
    * floor by BOTH skipping the full-width presentation sort AND
    * (in the registry) reading the shared [[graft.Materialized]]
    * memo of the scored table instead of rebuilding candidate
    * generation — the ≤17-row rollup costs one memo scan, so the
    * number it reports moves only when the memo build's PLAN
    * regresses. Banding is integer arithmetic on the round-6 jaccard
    * (`round(j·1e6) div 50000`), identical in both engines, so band
    * edges cannot flip on float noise.
    */
  def prefixFilterPairBands(scored: DataFrame): DataFrame =
    scored
      .withColumn("j_band", expr("cast(round(jaccard * 1e6) as bigint) div 50000"))
      .groupBy("j_band")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_j"),
        max(col("jaccard")).as("max_j"))
      .orderBy("j_band")

  /** Hamming top-k retrieval over the 32-bit md5 SimHash
    * fingerprints: for each query doc (doc_id < nQueries), the k
    * nearest corpus docs by fingerprint Hamming distance — the
    * bridge from dedup fingerprints to cheap retrieval (a 4-byte
    * code per doc answers "roughly similar" without touching text
    * or embeddings; Manku et al. 2007's lookup face). Fingerprints
    * are computed ONCE, the query side broadcasts, scoring is
    * map-only `bit_count(xor)` (codegen'd), and the per-query top-k
    * is the bounded-heap partial aggregate
    * ([[graft.functions.Aggregators.TopKPairs]] on similarity =
    * 32 − hamming, ties to the lower doc_id) — candidates reduce
    * map-side, nothing fact-scale crosses the shuffle.
    */
  def simhashHammingTopK(documents: DataFrame, k: Int = 5,
                         nQueries: Int = 10): DataFrame = {
    val fp = simhashMd5Unsorted(documents)
    val q = fp.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("simhash32").as("qfp"))
    val scored = fp.select(col("doc_id").as("cid"), col("simhash32").as("cfp"))
      .join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (lit(32.0) - expr("bit_count(qfp ^ cfp)").cast("double")).as("sim"))
    val topk = udaf(new graft.functions.Aggregators.TopKPairs(k))
    scored.groupBy("qid")
      .agg(topk(col("sim"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "pair")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
        col("pair._2").as("cid"),
        (lit(32L) - col("pair._1").cast("long")).as("hamming"))
      .orderBy("qid", "rnk")
  }

  /** Winnowing fingerprint pairs (Schleimer–Wilkerson–Aiken 2003 —
    * the MOSS algorithm): hash every ordered word `k`-gram, slide a
    * window of `w` hashes, keep each window's minimum — the selection
    * guarantees any shared run of ≥ w+k−1 words yields at least one
    * shared fingerprint (no false negatives above that length) while
    * keeping ~2/(w+1) of positions, so the candidate join runs on a
    * winnowed set several times smaller than the full shingle table.
    * The local-min selection is position-sensitive where plain
    * [[jaccardFromCounts]] is set-based: winnowing is the
    * plagiarism/passage-copy detector, Jaccard the near-dup scorer.
    * Hashes are md5-derived 28-bit ints (the engine-portable
    * convention), so both engines pick identical minima; docs with
    * fewer than w hashes keep their single global minimum.
    *
    * Shape at 100 TB: fingerprint selection is ONE codegen'd pass per
    * row ([[graft.functions.WinnowFingerprints]] — the equivalent
    * split→transform→window-min lambda chain pays interpreted
    * re-evaluation after projection collapse, measured ~300 s at
    * sf0.1 vs sub-second here); only (doc_id, fingerprint) pairs
    * shuffle, df-capped like every candidate emitter
    * (Σ min(df,maxDf)² bound).
    */
  def winnowPairs(documents: DataFrame, k: Int = 4, w: Int = 4,
                  minShared: Int = 2, maxDf: Int = 1000): DataFrame = {
    val fps = documents
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.winnowFps(col("text"), k, w))
          .as("fp"))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    // The df cut keeps nearly every fingerprint (content hashes are
    // rare by nature), so `capped` stays fact-sized and the planner's
    // post-filter size estimate let it BROADCAST the whole b side — a
    // driver-built HashedRelation over every surviving (fp, doc) row
    // (measured 7.5 s warm at sf10). Repartition once on fp (computed
    // once, read by both sides) and hint SHUFFLE_HASH: co-partitioned
    // self-join, per-partition build, no sorts, no fact broadcast.
    val capped = fps.join(rare, "fp").repartition(Sizing.width(documents), col("fp"))
    val a = capped.select(col("fp"), col("doc_id").as("doc_a"))
    val b = capped.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b.hint("shuffle_hash"), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** IDF-weighted Jaccard near-dup pairs over the informative
    * vocabulary: tokens with df ≤ `maxDf` carry weight ln(N/df)
    * (rounded to 6 so both engines sum identical doubles), and pair
    * similarity is Σ_{A∩B} w / Σ_{A∪B} w — the weighted set measure
    * (Chum et al. 2008) that plain [[jaccardFromCounts]] miscounts
    * when near-dups differ only in boilerplate: shared rare tokens
    * dominate, shared stopwords barely move the score. The df cap
    * serves double duty — the standard Σ min(df,maxDf)² pair-count
    * bound AND the weighted measure's vocabulary (high-df tokens
    * contribute ≈0 weight anyway, so capping them out changes little
    * while bounding the join).
    *
    * The vocabulary cap is dual: fractional (df·`dfDenom` ≤ N — a
    * token in more than 1/dfDenom of the corpus is boilerplate at ANY
    * corpus size, which keeps the measure discriminative whether N is
    * 500 or 5 billion) and absolute (df ≤ `maxDf` — the Σ df² join
    * bound that the fractional cap alone would not give at scale).
    *
    * Shape at 100 TB: distinct (doc, token) digests shuffle, text
    * does not; N rides a 1-row broadcast; per-doc weight totals are
    * one partial agg; the pair join is the df-capped self-join.
    */
  def weightedJaccardPairs(documents: DataFrame, threshold: Double = 0.3,
                           maxDf: Int = 1000, dfDenom: Int = 10): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val idf = tok.groupBy("w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * dfDenom <= col("n_docs") && col("df") <= maxDf)
      .select(col("w"), round(log(col("n_docs").cast("double") / col("df")), 6)
        .as("wt"))
    // idf is vocabulary-sized by construction but ESTIMATED no smaller
    // than the pair table it aggregates, so the planner left to stats
    // picked the fact-sized (doc, token) side as the broadcast build
    // relation — three driver-built HashedRelations over every distinct
    // pair (the text_tfidf idf hazard; measured 8.1 s warm at sf10).
    // Broadcast the vocab side explicitly, repartition the weighted
    // pairs ONCE on the token (both pair-join sides and nothing else
    // need that clustering — the one exchange is computed once and read
    // twice), and hint SHUFFLE_HASH so the co-partitioned self-join
    // skips sort-merge sorts; per-partition build is df-capped.
    val weighted = tok.join(broadcast(idf), "w")
    val docW = weighted.groupBy("doc_id").agg(sum("wt").as("w_total"))
    val byW = weighted.repartition(Sizing.width(documents), col("w"))
    val a = byW.select(col("w"), col("doc_id").as("doc_a"), col("wt"))
    val b = byW.select(col("w"), col("doc_id").as("doc_b"))
    a.join(b.hint("shuffle_hash"), "w")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum("wt").as("w_inter"))
      .join(docW.select(col("doc_id").as("doc_a"), col("w_total").as("wa")), "doc_a")
      .join(docW.select(col("doc_id").as("doc_b"), col("w_total").as("wb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("w_inter") / (col("wa") + col("wb") - col("w_inter")), 6)
          .as("w_jaccard"))
      .filter(col("w_jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }
}
