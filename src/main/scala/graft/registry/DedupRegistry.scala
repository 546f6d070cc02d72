package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Bearly
import graft.operators.{Dedup, EventOps, Multimodal, Similarity, TextAnalysis}
import graft.queries.{Relational, TpchShapes}

/** dedup + graph-audit family — the `dedupQueries`/`dedupOracles` slice of the driver contract
  * (split from the single SparkEntry registry in round 9; SparkEntry
  * merges every domain trait back into the 313-key map the driver
  * reads — see [[graft.SparkEntry]]).
  */
private[graft] trait DedupRegistry extends RegistryShared {
  // Shared near-dup intermediates for the cluster/graph audit family —
  // the "materialize pairs once, fan out" contract (see
  // [[graft.Materialized]]): the pair graph and its CC closure are
  // built once per (session, dir) and every downstream audit reuses
  // the checkpointed frame instead of re-running the LSH join or the
  // iterative fixpoint. Deterministic builders, so oracle rows are
  // unchanged; the first consumer in a bench round pays the build.
  // the pre-threshold (doc_a, doc_b, na, nb, inter) candidate table is
  // the memo unit: Jaccard AND containment are metric-only projections
  // over it, so the Σ min(df, cap)² blocking join runs once for the
  // whole n-gram family (second-decade finding: containment was paying
  // the full 40 s build at sf10 that the Jaccard key had memoized)
  private def ngramCountsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "ngram_pair_counts")(Dedup.ngramPairCounts(Tables.documents(s, d)))
  private def ngramPairsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "pairs_ngram")(Dedup.jaccardFromCounts(ngramCountsShared(s, d)))
  private def simhashPairsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "pairs_simhash_md5")(Dedup.simhashMd5NearDups(Tables.documents(s, d)))
  private def simhashGroupsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "groups_simhash_md5")(
      Dedup.connectedGroups(simhashPairsShared(s, d)))
  private def minhashPairsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "pairs_minhash_md5")(Dedup.minhashNearDupsMd5(Tables.documents(s, d)))
  private def minhashGroupsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "groups_minhash_md5")(
      Dedup.connectedGroups(minhashPairsShared(s, d)))
  // the PPJoin scored pair table is the memo unit for BOTH prefix
  // keys: on this corpus the verified pair list is the compute floor
  // (57% of in-replica candidates genuinely match at J ≥ 0.6), so the
  // bands twin must NOT rebuild candidate generation — it reads the
  // memo and pays only a ≤17-row rollup scan (round-12 finding: the
  // rebuild made the count-only twin the suite's slowest key at sf10)
  private def prefixScoredShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "pairs_prefix")(
      Dedup.prefixFilterScored(Tables.documents(s, d),
        threshold = 0.6, sampleMod = 5, maxBucket = 1024))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  protected def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_passage_stats" -> ((s, d) => Dedup.passageStats(Tables.documents(s, d))),
    "dedup_passage_dedup" -> ((s, d) => Dedup.passageDedup(Tables.documents(s, d))),
    "dedup_passage_rate" -> ((s, d) => Dedup.passageDupRate(Tables.documents(s, d))),
    // --- dedup ---
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "dedup_normalized" -> ((s, d) => Dedup.exactNormalized(Tables.documents(s, d))),
    "dedup_exact_stats" -> ((s, d) => Dedup.exactStats(Tables.documents(s, d))),
    "dedup_exact_stats_approx" -> ((s, d) => Dedup.exactStatsApprox(Tables.documents(s, d))),
    "dedup_minhash_pairs" -> ((s, d) => Dedup.minhashNearDups(Tables.documents(s, d))),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d)).orderBy("doc_id")),
    "dedup_simhash_neardups" -> ((s, d) => Dedup.simhashNearDups(Tables.documents(s, d), maxDist = 3)),
    "dedup_levenshtein" -> ((s, d) => Dedup.levenshteinNearDups(Tables.documents(s, d))),
    "dedup_pipeline" -> ((s, d) => Dedup.pipelineKeepSet(Tables.documents(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      ngramPairsShared(s, d)
        .orderBy(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))),
    "dedup_ngram_containment" -> ((s, d) =>
      Dedup.containmentFromCounts(ngramCountsShared(s, d))
        .orderBy(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))),
    // md5-seeded oracle twins of the xxhash64 fast paths (hash-checkable end-to-end)
    "dedup_minhash_md5" -> ((s, d) =>
      minhashPairsShared(s, d)
        .orderBy(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))),
    "dedup_minhash_est_error" -> ((s, d) =>
      Dedup.minhashEstErrorMd5(Tables.documents(s, d), minhashPairsShared(s, d),
        shingleK = 5, numHashes = 16)),
    "dedup_cluster_stats" -> ((s, d) =>
      Dedup.clusterStats(Tables.documents(s, d), minhashGroupsShared(s, d))),
    "dedup_impact_by_source" -> ((s, d) => Dedup.impactBySource(Tables.documents(s, d))),
    "dedup_boundary_overlap" -> ((s, d) => Dedup.boundaryOverlapPairs(Tables.documents(s, d))),
    "dedup_pagerank" -> ((s, d) => operators.Graph.pageRank(ngramPairsShared(s, d))),
    "dedup_triangles" -> ((s, d) => operators.Graph.triangleStats(ngramPairsShared(s, d))),
    "dedup_degree_hist" -> ((s, d) => operators.Graph.degreeHistogram(ngramPairsShared(s, d))),
    "dedup_band_histogram" -> ((s, d) => Dedup.minhashBandHistogram(Tables.documents(s, d))),
    "dedup_source_matrix" -> ((s, d) =>
      Dedup.crossSourceNearDups(Tables.documents(s, d), minhashPairsShared(s, d))),
    "dedup_lsh_recall" -> ((s, d) =>
      Dedup.lshRecallAudit(Tables.documents(s, d), ngramPairsShared(s, d),
        shingleK = 5, numHashes = 16, bands = 4)),
    "dedup_split_leakage" -> ((s, d) => Dedup.splitLeakage(minhashPairsShared(s, d))),
    "dedup_band_plan" -> ((s, _) => Dedup.lshBandPlan(s)),
    "dedup_kcore" -> ((s, d) => operators.Graph.kCorePeel(ngramPairsShared(s, d))),
    "dedup_lex_vs_sem" -> ((s, d) =>
      Dedup.lexicalVsSemantic(Tables.embeddings(s, d), minhashPairsShared(s, d))),
    "dedup_ngram_novelty" -> ((s, d) => Dedup.ngramNovelty(Tables.documents(s, d))),
    "dedup_shingle_df_hist" -> ((s, d) => Dedup.shingleDfHistogram(Tables.documents(s, d))),
    "dedup_cluster_best" -> ((s, d) =>
      Dedup.clusterRepresentatives(Tables.documents(s, d), simhashGroupsShared(s, d))),
    "dedup_rate_by_length" -> ((s, d) => Dedup.dupRateByLength(Tables.documents(s, d))),
    "dedup_simhash_md5" -> ((s, d) => Dedup.simhashMd5(Tables.documents(s, d))),
    "dedup_simhash_md5_neardups" -> ((s, d) =>
      simhashPairsShared(s, d)
        .orderBy(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))),
    "dedup_keep_best" -> ((s, d) => Dedup.keepBestByFingerprint(Tables.documents(s, d))),
    "dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val docs = Tables.documents(s, d)
      Dedup.incrementalNovel(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),  // today's batch
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0))  // existing corpus
    }),
    "dedup_groups_md5" -> ((s, d) =>
      simhashGroupsShared(s, d).orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    "dedup_decon_neardup" -> ((s, d) => Dedup.decontaminateNearDup(Tables.documents(s, d))),
    "dedup_est_jaccard_hist" -> ((s, d) => Dedup.estJaccardHistogram(Tables.documents(s, d))),
    "dedup_prefix_pairs" -> ((s, d) =>
      // memo blocks are already materialized (Materialized eagerly
      // checkpoints), so the presentation sort's sampling pass reads
      // them — no extra checkpoint layer needed here
      prefixScoredShared(s, d)
        .orderBy(org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))),
    "dedup_prefix_pair_bands" -> ((s, d) => Dedup.prefixFilterPairBands(prefixScoredShared(s, d))),
    "dedup_cluster_size_hist" -> ((s, d) =>
      Dedup.clusterSizeHistogram(simhashGroupsShared(s, d))),
    "dedup_assortativity" -> ((s, d) => operators.Graph.assortativity(ngramPairsShared(s, d))),
    "dedup_weighted_jaccard" -> ((s, d) => Dedup.weightedJaccardPairs(Tables.documents(s, d))),
    "dedup_winnow_pairs" -> ((s, d) => Dedup.winnowPairs(Tables.documents(s, d))),
  )


  /** Minhash-md5 banded-LSH pair CTE chain over an arbitrary source
    * relation (must expose doc_id, text) — shared by the standalone
    * pair oracle and the end-to-end pipeline oracle. Ends with a
    * `pairs` CTE of (doc_a, doc_b, sa, sb).
    */
  /** Shared CTE chain of the prefix-filter (AllPairs/PPJoin) oracles —
    * tokenize → document frequencies → zero-padded rarity keys →
    * per-doc sorted key arrays → prefixes → candidate pairs (length
    * filter) → exact-Jaccard verify. Ends with a `verified` CTE of
    * (doc_a, doc_b, jaccard) at J ≥ 0.6 round-6; the pair key and the
    * bands twin both finish from it.
    */
  private def prefixPairsCtes: String =
    """t AS (SELECT DISTINCT doc_id, x AS tok
      |      FROM (SELECT * FROM documents WHERE doc_id % 5 = 0) d,
      |           unnest(string_split(lower(text), ' ')) AS u(x)
      |      WHERE length(x) > 0),
      |df AS (SELECT tok, count(*) AS df FROM t GROUP BY 1),
      |k AS (SELECT doc_id, lpad(CAST(df AS VARCHAR), 10, '0') || ':' || tok AS key
      |      FROM t JOIN df USING (tok)),
      |pd AS (SELECT doc_id, list_sort(list(key)) AS keys FROM k GROUP BY 1),
      |pl AS (SELECT doc_id, keys, len(keys) AS len,
      |              CAST(len(keys) AS INTEGER)
      |                - CAST(ceil(len(keys) * 0.6) AS INTEGER) + 1 AS p
      |       FROM pd),
      |pref AS (SELECT doc_id, len, unnest(keys[1:p]) AS ktok FROM pl),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM pref a JOIN pref b USING (ktok)
      |         WHERE a.doc_id < b.doc_id
      |           AND least(a.len, b.len) >= greatest(a.len, b.len) * 0.6 - 1e-9),
      |j AS (SELECT doc_a, doc_b,
      |             len(list_intersect(pa.keys, pb.keys)) AS inter,
      |             len(pa.keys) AS la, len(pb.keys) AS lb
      |      FROM cand JOIN pd pa ON cand.doc_a = pa.doc_id
      |                JOIN pd pb ON cand.doc_b = pb.doc_id),
      |verified AS (SELECT doc_a, doc_b,
      |                    round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
      |             FROM j
      |             WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) >= 0.6)""".stripMargin

  /** Generated oracle for [[graft.operators.Dedup.minhashNearDupsMd5]]:
    * the affine coefficients are embedded as literals so both engines
    * evaluate the identical integer arithmetic.
    */
  private def minhashMd5Oracle: String = {
    val n = 16
    s"""WITH ${minhashPairCtes("documents")}
       |SELECT doc_a, doc_b, est_jaccard FROM (
       |  SELECT doc_a, doc_b,
       |         round(len(list_filter(range(1, ${n + 1}), i -> sa[i] = sb[i])) / $n.0, 6) AS est_jaccard
       |  FROM pairs) q
       |WHERE est_jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }


  /** Estimator-audit oracle: the [[minhashMd5Oracle]] pair chain plus
    * exact distinct-shingle Jaccard from the `shl` lists
    * (`list_intersect`), with the same rounded-then-differenced
    * arithmetic the Spark op applies.
    */
  private def minhashEstErrorOracle: String = {
    val n = 16
    s"""WITH ${minhashPairCtes("documents")},
       |e2 AS (SELECT * FROM (
       |  SELECT doc_a, doc_b,
       |         round(len(list_filter(range(1, ${n + 1}), i -> sa[i] = sb[i])) / $n.0, 6) AS est_jaccard
       |  FROM pairs) q WHERE est_jaccard >= 0.5),
       |tj AS (SELECT e2.doc_a, e2.doc_b, e2.est_jaccard,
       |              len(list_intersect(a.shs, b.shs)) AS inter,
       |              len(a.shs) AS na, len(b.shs) AS nb
       |       FROM e2 JOIN shl a ON e2.doc_a = a.doc_id
       |                JOIN shl b ON e2.doc_b = b.doc_id),
       |tr AS (SELECT doc_a, doc_b, est_jaccard,
       |              CASE WHEN inter > 0
       |                   THEN round(CAST(inter AS DOUBLE) / (na + nb - inter), 6)
       |                   ELSE 0.0 END AS true_jaccard
       |       FROM tj)
       |SELECT doc_a, doc_b, est_jaccard, true_jaccard,
       |       round(abs(est_jaccard - true_jaccard), 6) AS abs_err
       |FROM tr ORDER BY doc_a, doc_b""".stripMargin
  }


  /** Cluster-report oracle: minhash banded pairs → recursive-CTE
    * transitive closure (the [[dedupPipelineOracle]] machinery) →
    * per-group size/representative/byte-mass aggregate.
    */
  private def clusterStatsOracle: String = {
    val n = 16
    s"""WITH RECURSIVE
       |${minhashPairCtes("documents")},
       |nd AS (SELECT doc_a, doc_b FROM (
       |  SELECT doc_a, doc_b,
       |         round(len(list_filter(range(1, ${n + 1}), i -> sa[i] = sb[i])) / $n.0, 6) AS ej
       |  FROM pairs) q WHERE ej >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS nb FROM nd UNION SELECT doc_b, doc_a FROM nd),
       |reach(a, nb) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) seeds
       |  UNION
       |  SELECT r.a, e.nb FROM reach r JOIN edges e ON r.nb = e.a),
       |grp AS (SELECT a AS doc_id, min(nb) AS group_id FROM reach GROUP BY 1)
       |SELECT group_id, count(*) AS n_docs, min(doc_id) AS keep_id,
       |       CAST(coalesce(sum(d.n_chars), 0) AS BIGINT) AS total_chars
       |FROM grp JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }


  /** Shared CTE re-deriving the `pairs_ngram` memo
    * ([[graft.operators.Dedup.jaccardFromCounts]]: 5-gram shingles,
    * df ≤ 1000, jaccard ≥ 0.2) as the `pp` pair
    * table — the edge source for the graph-analytics oracles
    * (`dedup_pagerank`, `dedup_triangles`).
    */
  private def jaccardPairsCtes(p: String): String =
    s"""${p}w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |${p}sh AS (
      |  SELECT doc_id, CAST(len(shs) AS INTEGER) AS n_sh, unnest(shs) AS sh FROM (
      |    SELECT doc_id,
      |           list_distinct(CASE WHEN len(ws) >= 5
      |             THEN list_transform(range(0, len(ws)-5+1),
      |                    i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' '))
      |             ELSE [] END) AS shs
      |    FROM ${p}w) t),
      |${p}rare AS (SELECT sh FROM ${p}sh GROUP BY sh HAVING count(*) <= 1000),
      |${p}c AS (SELECT s.doc_id, s.n_sh, s.sh FROM ${p}sh s JOIN ${p}rare USING (sh)),
      |${p}p0 AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
      |  FROM ${p}c a JOIN ${p}c b USING (sh)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1,2,3,4),
      |${p}pp AS (SELECT doc_a, doc_b FROM (
      |  SELECT doc_a, doc_b, round(inter / (na + nb - inter), 6) AS jaccard
      |  FROM ${p}p0) q WHERE jaccard >= 0.2)""".stripMargin


  private val jaccardPairsCte: String = jaccardPairsCtes("")


  /** Oracle for [[graft.operators.Graph.triangleStats]] over the
    * jaccard near-dup pairs: oriented two-join triangle enumeration,
    * wedge count Σ C(deg, 2), cc = 3·triangles / wedges.
    */
  private def trianglesOracle: String =
    s"""WITH $jaccardPairsCte,
       |tri AS (SELECT count(*) AS n_triangles
       |        FROM pp ab JOIN pp bc ON ab.doc_b = bc.doc_a
       |        JOIN pp ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
       |deg AS (SELECT node, count(*) AS deg FROM (
       |          SELECT doc_a AS node FROM pp UNION ALL SELECT doc_b FROM pp) u GROUP BY 1),
       |wg AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
       |ne AS (SELECT count(*) AS n_edges FROM pp)
       |SELECT n_edges, n_triangles, n_wedges,
       |       round(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6) AS global_cc
       |FROM ne, tri, wg""".stripMargin


  /** PageRank oracle: the dedup_ngram_jaccard pair CTEs as the edge
    * list, then `iters` unrolled power-iteration steps — each the
    * same (1−d)/N + d·Σ pr/deg expression tree Spark evaluates, so
    * doubles round identically at 6 decimals.
    */
  private def pagerankOracle(iters: Int = 3): String = {
    def step(prev: String, out: String) =
      s"""$out AS (SELECT nd.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(s.in_sum, 0.0) AS pr
         |       FROM nodes nd CROSS JOIN nn
         |       LEFT JOIN (SELECT e.dst AS node, sum(p.pr / deg.deg) AS in_sum
         |                  FROM e JOIN $prev p ON e.src = p.node
         |                         JOIN deg ON e.src = deg.src
         |                  GROUP BY 1) s ON nd.node = s.node)""".stripMargin
    val steps = (1 to iters).map(i => step(if (i == 1) "pr0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n")
    s"""WITH $jaccardPairsCte,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pp
       |      UNION SELECT doc_b, doc_a FROM pp),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT node, round(pr, 6) AS pagerank FROM it$iters ORDER BY node""".stripMargin
  }


  /** Oracle for [[graft.operators.Graph.assortativity]]: endpoint
    * degrees over the directed jaccard-pair edges, Pearson r from the
    * five exact-BIGINT sums — identical expression tree to Spark's.
    */
  private def assortativityOracle: String =
    s"""WITH $jaccardPairsCte,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pp
       |      UNION SELECT doc_b, doc_a FROM pp),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |d2 AS (SELECT da.deg AS x, db.deg AS y
       |       FROM e JOIN deg da ON e.src = da.src
       |              JOIN deg db ON e.dst = db.src),
       |s AS (SELECT count(*) AS m, CAST(sum(x) AS BIGINT) AS sx,
       |             CAST(sum(y) AS BIGINT) AS sy,
       |             CAST(sum(x * y) AS BIGINT) AS sxy,
       |             CAST(sum(x * x) AS BIGINT) AS sx2,
       |             CAST(sum(y * y) AS BIGINT) AS sy2 FROM d2),
       |nn AS (SELECT count(*) AS n_nodes FROM deg)
       |SELECT CAST(m // 2 AS BIGINT) AS n_edges, n_nodes,
       |       CASE WHEN m * sx2 - sx * sx > 0 AND m * sy2 - sy * sy > 0
       |            THEN round((m * sxy - sx * sy) /
       |                   sqrt(CAST(m * sx2 - sx * sx AS DOUBLE) *
       |                        CAST(m * sy2 - sy * sy AS DOUBLE)), 6)
       |       END AS assortativity
       |FROM s, nn""".stripMargin


  /** Near-dup decontamination oracle: same signature/band CTEs as
    * [[minhashMd5Oracle]]; keeps only train×eval band collisions,
    * then per train doc the (est_jaccard, eval_id)-max match —
    * the row_number tiebreak mirrors Spark's struct-max exactly.
    */
  private def deconNearDupOracle: String = {
    val n = 16
    s"""WITH ${minhashPairCtes("documents")},
       |te AS (
       |  SELECT CASE WHEN doc_a % 50 = 0 THEN doc_b ELSE doc_a END AS doc_id,
       |         CASE WHEN doc_a % 50 = 0 THEN doc_a ELSE doc_b END AS eval_id,
       |         round(len(list_filter(range(1, ${n + 1}), i -> sa[i] = sb[i])) / $n.0, 6) AS ej
       |  FROM pairs
       |  WHERE (doc_a % 50 = 0) <> (doc_b % 50 = 0)),
       |best AS (SELECT doc_id, eval_id, ej FROM (
       |  SELECT doc_id, eval_id, ej,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY ej DESC, eval_id DESC) AS rn
       |  FROM te) t WHERE rn = 1)
       |SELECT doc_id, eval_id, ej AS est_jaccard FROM best
       |WHERE ej >= 0.5 ORDER BY doc_id""".stripMargin
  }


  /** End-to-end dedup pipeline oracle: exact dedup survivors →
    * minhash banded pairs (≥ 0.5 est. Jaccard) → recursive-CTE
    * transitive closure → keep each group's min doc_id.
    */
  private def dedupPipelineOracle: String = {
    val n = 16
    s"""WITH RECURSIVE
       |ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |surv AS (SELECT d.doc_id, d.text FROM documents d JOIN ex USING (doc_id)),
       |${minhashPairCtes("surv")},
       |nd AS (SELECT doc_a, doc_b FROM (
       |  SELECT doc_a, doc_b,
       |         round(len(list_filter(range(1, ${n + 1}), i -> sa[i] = sb[i])) / $n.0, 6) AS ej
       |  FROM pairs) q WHERE ej >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS nb FROM nd UNION SELECT doc_b, doc_a FROM nd),
       |reach(a, nb) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) seeds
       |  UNION
       |  SELECT r.a, e.nb FROM reach r JOIN edges e ON r.nb = e.a
       |),
       |grp AS (SELECT a AS doc_id, min(nb) AS g FROM reach GROUP BY 1),
       |drops AS (SELECT doc_id FROM grp WHERE doc_id <> g)
       |SELECT s.doc_id FROM surv s
       |WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = s.doc_id)
       |ORDER BY s.doc_id""".stripMargin
  }


  /** Oracle for [[graft.operators.Dedup.connectedGroups]] over the md5
    * SimHash near-dup pairs: transitive closure via a recursive CTE,
    * group id = min reachable doc (exactly the component minimum).
    */
  /** The simhash-band → reachability chain shared by the CC oracles:
    * ends with a `grp(doc_id, group_id)` CTE (must be opened with
    * WITH RECURSIVE).
    */
  private def groupsMd5Ctes: String =
    s"""$simhashMd5Cte,
       |bands0 AS (SELECT doc_id, simhash32, CAST(band_idx AS INTEGER) AS band_idx,
       |             (simhash32 >> CAST(band_idx * 8 AS INTEGER)) & 255 AS band_bits
       |      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) bi),
       |bands AS (SELECT doc_id, simhash32, band_idx, band_bits FROM (
       |        SELECT bands0.*, row_number() OVER (PARTITION BY band_idx, band_bits
       |                                            ORDER BY doc_id) AS rn
       |        FROM bands0) q WHERE rn <= 256),
       |nd AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |       FROM bands x JOIN bands y USING (band_idx, band_bits)
       |       WHERE x.doc_id < y.doc_id AND bit_count(xor(x.simhash32, y.simhash32)) <= 3),
       |edges AS (SELECT doc_a AS a, doc_b AS nb FROM nd UNION SELECT doc_b, doc_a FROM nd),
       |reach(a, nb) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
       |  UNION
       |  SELECT r.a, e.nb FROM reach r JOIN edges e ON r.nb = e.a
       |),
       |grp AS (SELECT a AS doc_id, min(nb) AS group_id FROM reach GROUP BY 1)""".stripMargin


  private def groupsMd5Oracle: String =
    s"""WITH RECURSIVE $groupsMd5Ctes
       |SELECT doc_id, group_id FROM grp ORDER BY doc_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (approx / non-relational
    * ops) fall back to the driver's rows-only check.
    */

  protected def dedupOracles: Map[String, String] = Map(
    "dedup_passage_stats" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c0 AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        |       FROM w),
        |c AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
        |        array_to_string(ws[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ') AS chunk
        |      FROM c0)
        |SELECT chunk, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
        |       min(doc_id) AS first_doc
        |FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) > 1
        |ORDER BY chunk""".stripMargin,
    "dedup_passage_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c0 AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        |       FROM w),
        |c AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
        |        array_to_string(ws[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ') AS chunk
        |      FROM c0),
        |o AS (SELECT doc_id, i, chunk,
        |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, i) AS rn
        |      FROM c)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY i), '') AS text_clean,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  count(*) AS n_total
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_passage_rate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c0 AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        |       FROM w),
        |c AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
        |        array_to_string(ws[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ') AS chunk
        |      FROM c0),
        |o AS (SELECT doc_id, count(*) OVER (PARTITION BY chunk) AS n_occ FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
        |    AS dup_rate
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_minhash_md5" -> minhashMd5Oracle,
    "dedup_minhash_est_error" -> minhashEstErrorOracle,
    "dedup_pagerank" -> pagerankOracle(),
    "dedup_triangles" -> trianglesOracle,
    "dedup_degree_hist" ->
      s"""WITH $jaccardPairsCte,
         |e AS (SELECT doc_a AS node FROM pp UNION ALL SELECT doc_b FROM pp),
         |d AS (SELECT node, count(*) AS deg FROM e GROUP BY 1)
         |SELECT deg, count(*) AS n_nodes FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // band-bucket histogram over the UNCAPPED banded table `b` of the
    // shared minhash CTE chain (the unused `pairs` CTE is inert)
    "dedup_band_histogram" ->
      s"""WITH ${minhashPairCtes("documents")},
         |bs AS (SELECT band_idx, band_key, count(*) AS bucket_size FROM b GROUP BY 1,2)
         |SELECT bucket_size, count(*) AS n_buckets,
         |       CAST(count(*) * bucket_size * (bucket_size - 1) // 2 AS BIGINT) AS cand_pairs
         |FROM bs GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_source_matrix" ->
      s"""WITH ${minhashPairCtes("documents")},
         |nd AS (SELECT doc_a, doc_b, ej FROM (
         |  SELECT doc_a, doc_b,
         |         round(len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0, 6) AS ej
         |  FROM pairs) q WHERE ej >= 0.5),
         |m AS (SELECT least(da.source, db.source) AS source_x,
         |             greatest(da.source, db.source) AS source_y, nd.ej
         |      FROM nd JOIN documents da ON da.doc_id = nd.doc_a
         |              JOIN documents db ON db.doc_id = nd.doc_b)
         |SELECT source_x, source_y, count(*) AS n_pairs,
         |       round(avg(ej), 6) AS avg_est_jaccard
         |FROM m GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // truth chain (prefix j) and LSH candidate chain coexist in one WITH
    "dedup_lsh_recall" ->
      s"""WITH ${minhashPairCtes("documents")},
         |${jaccardPairsCtes("j")},
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |tr AS (SELECT doc_a, doc_b FROM jpp),
         |hit AS (SELECT count(*) AS n_found FROM tr JOIN cand USING (doc_a, doc_b)),
         |nt AS (SELECT count(*) AS n_truth FROM tr),
         |nc AS (SELECT count(*) AS n_candidates FROM cand)
         |SELECT n_truth, n_found, n_candidates,
         |       round(CAST(n_found AS DOUBLE) / n_truth, 6) AS recall
         |FROM nt CROSS JOIN hit CROSS JOIN nc""".stripMargin,
    // divisors×levels s-curve grid; both engines compute the same
    // power() arithmetic over the same literal grid
    "dedup_band_plan" ->
      """WITH b AS (SELECT CAST(range AS INTEGER) AS b FROM range(1, 65)
        |           WHERE 64 % range = 0),
        |j AS (SELECT CAST(unnest([0.5, 0.7, 0.8, 0.9, 0.95]) AS DOUBLE) AS jaccard),
        |g AS (SELECT b, CAST(64 // b AS INTEGER) AS r, jaccard FROM b CROSS JOIN j)
        |SELECT b, r,
        |       round(power(1.0 / b, 1.0 / r), 6) AS threshold,
        |       jaccard,
        |       round(1.0 - power(1.0 - power(jaccard, r), b), 6) AS p_candidate
        |FROM g ORDER BY b, jaccard""".stripMargin,
    // 3 unrolled peel rounds over the shared jaccard pair graph —
    // the fixed-iteration convention of the pagerank oracle; each round
    // reads the last twice, so the chain is materialized
    "dedup_kcore" -> materializeCtes(
      s"""WITH $jaccardPairsCte,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pp
         |      UNION ALL SELECT doc_b, doc_a FROM pp),
         |n0 AS (SELECT DISTINCT src AS node FROM e),
         |d1 AS (SELECT e.src AS node, count(*) AS deg
         |       FROM e JOIN n0 a ON e.src = a.node JOIN n0 b ON e.dst = b.node
         |       GROUP BY 1),
         |w1 AS (SELECT n0.node, coalesce(d1.deg, 0) AS deg FROM n0 LEFT JOIN d1 USING (node)),
         |n1 AS (SELECT node FROM w1 WHERE deg >= 2),
         |d2 AS (SELECT e.src AS node, count(*) AS deg
         |       FROM e JOIN n1 a ON e.src = a.node JOIN n1 b ON e.dst = b.node
         |       GROUP BY 1),
         |w2 AS (SELECT n1.node, coalesce(d2.deg, 0) AS deg FROM n1 LEFT JOIN d2 USING (node)),
         |n2 AS (SELECT node FROM w2 WHERE deg >= 2),
         |d3 AS (SELECT e.src AS node, count(*) AS deg
         |       FROM e JOIN n2 a ON e.src = a.node JOIN n2 b ON e.dst = b.node
         |       GROUP BY 1),
         |w3 AS (SELECT n2.node, coalesce(d3.deg, 0) AS deg FROM n2 LEFT JOIN d3 USING (node)),
         |n3 AS (SELECT node FROM w3 WHERE deg >= 2)
         |SELECT node, CAST(peeled_round AS INTEGER) AS peeled_round FROM (
         |  SELECT node, 1 AS peeled_round FROM w1 WHERE deg < 2
         |  UNION ALL SELECT node, 2 FROM w2 WHERE deg < 2
         |  UNION ALL SELECT node, 3 FROM w3 WHERE deg < 2
         |  UNION ALL SELECT node, 0 FROM n3) t
         |ORDER BY node""".stripMargin),
    // the oracle-green minhash md5 pair chain + embedding cosine on
    // both pair ids (inner joins: pairs need vectors on both sides)
    "dedup_lex_vs_sem" ->
      s"""WITH ${minhashPairCtes("documents")},
         |p AS (SELECT doc_a, doc_b,
         |             round(len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0, 6) AS est_jaccard
         |      FROM pairs),
         |pf AS (SELECT * FROM p WHERE est_jaccard >= 0.5),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT pf.doc_a, pf.doc_b, pf.est_jaccard,
         |       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
         |FROM pf JOIN e a ON a.vec_id = pf.doc_a JOIN e b ON b.vec_id = pf.doc_b
         |ORDER BY pf.doc_a, pf.doc_b""".stripMargin,
    // distinct (source, shingle) vocabulary → cross-source spread →
    // per-source unique-content share
    "dedup_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |shl AS (SELECT doc_id, source,
        |               list_distinct(CASE WHEN len(ws) >= 5
        |                 THEN list_transform(range(0, len(ws)-4),
        |                        i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' '))
        |                 ELSE [] END) AS shs
        |        FROM w),
        |ss AS (SELECT DISTINCT source, unnest(shs) AS sh FROM shl),
        |sp AS (SELECT sh, count(*) AS n_sources FROM ss GROUP BY 1)
        |SELECT source, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |       round(CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS novelty
        |FROM ss JOIN sp USING (sh)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // distinct (doc, shingle) → df per shingle → binary-digit buckets
    "dedup_shingle_df_hist" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |shl AS (SELECT doc_id,
        |               list_distinct(CASE WHEN len(ws) >= 5
        |                 THEN list_transform(range(0, len(ws)-4),
        |                        i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' '))
        |                 ELSE [] END) AS shs
        |        FROM w),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS sh FROM shl),
        |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
        |b AS (SELECT CAST(length(bin(df)) - 1 AS INTEGER) AS bucket FROM df),
        |tot AS (SELECT count(*) AS n_total FROM b)
        |SELECT bucket,
        |       CAST(1 AS BIGINT) << bucket AS lo_df,
        |       (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi_df,
        |       count(*) AS n_shingles,
        |       round(CAST(count(*) AS DOUBLE) / any_value(n_total), 6) AS share
        |FROM b, tot GROUP BY 1 ORDER BY 1""".stripMargin,
    // the CC reachability chain + longest-member argmax per group
    "dedup_cluster_best" ->
      s"""WITH RECURSIVE $groupsMd5Ctes,
         |j AS (SELECT g.group_id, g.doc_id, d.n_chars,
         |             row_number() OVER (PARTITION BY g.group_id
         |                ORDER BY d.n_chars DESC, g.doc_id) AS rn
         |      FROM grp g JOIN documents d USING (doc_id))
         |SELECT group_id, count(*) AS n_members,
         |       max(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
         |       max(CASE WHEN rn = 1 THEN n_chars END) AS rep_n_chars
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact-digest dup flags × log2 length buckets
    "dedup_rate_by_length" ->
      """WITH dg AS (SELECT doc_id, n_chars, md5(text) AS digest FROM documents),
        |cnt AS (SELECT digest, count(*) AS n_copies FROM dg GROUP BY 1),
        |b AS (SELECT CAST(length(bin(n_chars)) - 1 AS INTEGER) AS bucket,
        |             cnt.n_copies > 1 AS is_dup
        |      FROM dg JOIN cnt USING (digest) WHERE n_chars > 0)
        |SELECT bucket,
        |       CAST(1 AS BIGINT) << bucket AS lo_chars,
        |       (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi_chars,
        |       count(*) AS n_docs,
        |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS dup_rate
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_split_leakage" ->
      s"""WITH ${minhashPairCtes("documents")},
         |nd AS (SELECT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b,
         |         round(len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0, 6) AS ej
         |  FROM pairs) q WHERE ej >= 0.5),
         |sp AS (SELECT
         |  CASE WHEN doc_a % 10 < 8 THEN 'train'
         |       WHEN doc_a % 10 = 8 THEN 'val' ELSE 'test' END AS sa,
         |  CASE WHEN doc_b % 10 < 8 THEN 'train'
         |       WHEN doc_b % 10 = 8 THEN 'val' ELSE 'test' END AS sb
         |  FROM nd)
         |SELECT least(sa, sb) AS split_x, greatest(sa, sb) AS split_y,
         |       count(*) AS n_pairs,
         |       least(sa, sb) <> greatest(sa, sb) AS leaks
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_cluster_stats" -> clusterStatsOracle,
    "dedup_impact_by_source" ->
      """WITH k AS (SELECT md5(text) AS digest, min(doc_id) AS keep_id
        |           FROM documents GROUP BY 1),
        |d AS (SELECT doc_id, source, n_chars, md5(text) AS digest FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(coalesce(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END), 0)
        |            AS BIGINT) AS n_dropped,
        |       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars,
        |       CAST(coalesce(sum(CASE WHEN d.doc_id <> k.keep_id THEN n_chars ELSE 0 END), 0)
        |            AS BIGINT) AS chars_dropped
        |FROM d JOIN k USING (digest)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_boundary_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |h AS (SELECT doc_id AS doc_b, array_to_string(ws[1:4], ' ') AS boundary
        |      FROM w WHERE len(ws) >= 4),
        |t AS (SELECT doc_id AS doc_a, array_to_string(ws[-4:], ' ') AS boundary
        |      FROM w WHERE len(ws) >= 4)
        |SELECT doc_a, doc_b, boundary FROM t JOIN h USING (boundary)
        |WHERE doc_a <> doc_b ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_decon_neardup" -> deconNearDupOracle,
    "dedup_pipeline" -> dedupPipelineOracle,
    "dedup_groups_md5" -> groupsMd5Oracle,
    "dedup_simhash_md5" ->
      s"""WITH $simhashMd5Cte
         |SELECT doc_id, simhash32 FROM fp ORDER BY doc_id""".stripMargin,
    // mirrors simhashMd5NearDups' maxBucket=256 flood guard: lowest
    // 256 doc_ids per (band_idx, band_bits) bucket before the join
    "dedup_simhash_md5_neardups" ->
      s"""WITH $simhashMd5Cte,
         |b0 AS (SELECT doc_id, simhash32, CAST(band_idx AS INTEGER) AS band_idx,
         |             (simhash32 >> CAST(band_idx * 8 AS INTEGER)) & 255 AS band_bits
         |      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) bands),
         |b AS (SELECT doc_id, simhash32, band_idx, band_bits FROM (
         |        SELECT b0.*, row_number() OVER (PARTITION BY band_idx, band_bits
         |                                        ORDER BY doc_id) AS rn
         |        FROM b0) q WHERE rn <= 256)
         |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash32, c.simhash32)) AS INTEGER) AS hamming
         |FROM b a JOIN b c USING (band_idx, band_bits)
         |WHERE a.doc_id < c.doc_id AND bit_count(xor(a.simhash32, c.simhash32)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_levenshtein" ->
      """WITH p AS (SELECT doc_id, substr(lower(text), 1, 16) AS block,
        |                  substr(text, 1, 200) AS head FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.head, b.head) AS INTEGER) AS dist
        |FROM p a JOIN p b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // exact word-shingle Jaccard — mirrors Dedup.jaccardFromCounts
    // (k=5 distinct shingles, df<=1000 cap, threshold on the rounded
    // value) with DuckDB list lambdas.
    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(len(shs) AS INTEGER) AS n_sh, unnest(shs) AS sh FROM (
        |    SELECT doc_id,
        |           list_distinct(CASE WHEN len(ws) >= 5
        |             THEN list_transform(range(0, len(ws)-5+1),
        |                    i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' '))
        |             ELSE [] END) AS shs
        |    FROM w) t),
        |rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 1000),
        |c AS (SELECT s.doc_id, s.n_sh, s.sh FROM sh s JOIN rare USING (sh)),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM c a JOIN c b USING (sh)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1,2,3,4)
        |SELECT doc_a, doc_b, inter, jaccard FROM (
        |  SELECT doc_a, doc_b, inter,
        |         round(inter / (na + nb - inter), 6) AS jaccard
        |  FROM p) q
        |WHERE jaccard >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // same df-capped shingle CTE as dedup_ngram_jaccard with Broder's
    // containment metric (inter / min side) instead of Jaccard
    "dedup_ngram_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(len(shs) AS INTEGER) AS n_sh, unnest(shs) AS sh FROM (
        |    SELECT doc_id,
        |           list_distinct(CASE WHEN len(ws) >= 5
        |             THEN list_transform(range(0, len(ws)-5+1),
        |                    i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' '))
        |             ELSE [] END) AS shs
        |    FROM w) t),
        |rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 1000),
        |c AS (SELECT s.doc_id, s.n_sh, s.sh FROM sh s JOIN rare USING (sh)),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM c a JOIN c b USING (sh)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1,2,3,4)
        |SELECT doc_a, doc_b, inter, containment FROM (
        |  SELECT doc_a, doc_b, inter,
        |         round(inter / least(na, nb), 6) AS containment
        |  FROM p) q
        |WHERE containment >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dedup_exact_stats" ->
      """SELECT count(*) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
        |       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dupes
        |FROM documents""".stripMargin,
    "dedup_incremental" ->
      """SELECT a.doc_id, md5(a.text) AS text_hash
        |FROM documents a
        |WHERE a.doc_id % 10 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents b
        |                  WHERE b.doc_id % 10 <> 0 AND md5(b.text) = md5(a.text))
        |ORDER BY a.doc_id""".stripMargin,
    "dedup_keep_best" ->
      """SELECT md5(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS fp,
        |       arg_max(doc_id, CAST(n_chars AS BIGINT) * 4294967296 - doc_id) AS keep_id,
        |       count(*) AS n_copies,
        |       max(n_chars) AS best_chars
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // the shared banded-pair chain at threshold 0 → ≤17-level rollup
    "dedup_est_jaccard_hist" ->
      s"""WITH ${minhashPairCtes("documents")}
         |SELECT est_jaccard, count(*) AS n_pairs FROM (
         |  SELECT round(len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0, 6)
         |           AS est_jaccard
         |  FROM pairs) q
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // prefix filtering (Bayardo 2007): rarity order is the identical
    // zero-padded (df, token) string key in both engines
    "dedup_prefix_pairs" ->
      s"""WITH $prefixPairsCtes
        |SELECT doc_a, doc_b, jaccard FROM verified
        |ORDER BY doc_a, doc_b""".stripMargin,
    // count-only twin: integer band arithmetic on the round-6 jaccard
    // (round(j*1e6) // 50000) so band edges cannot flip on float noise
    "dedup_prefix_pair_bands" ->
      s"""WITH $prefixPairsCtes
        |SELECT CAST(round(jaccard * 1e6) AS BIGINT) // 50000 AS j_band,
        |       count(*) AS n_pairs, min(jaccard) AS min_j, max(jaccard) AS max_j
        |FROM verified GROUP BY 1 ORDER BY 1""".stripMargin,
    // prefix sums run in the identical ordered frame in both engines,
    // so the unrounded argmax agrees bit-for-bit
    "dedup_cluster_size_hist" ->
      s"""WITH RECURSIVE $groupsMd5Ctes,
         |sizes AS (SELECT group_id, count(*) AS group_size FROM grp GROUP BY 1)
         |SELECT group_size, count(*) AS n_groups
         |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_assortativity" -> assortativityOracle,
    // window-min fingerprint selection; md5-derived 28-bit hashes
    "dedup_winnow_pairs" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                                      x -> length(x) > 0) AS ws
        |           FROM documents),
        |h AS (SELECT doc_id,
        |             list_transform(range(0, len(ws) - 4 + 1),
        |               i -> CAST(concat('0x', substr(md5(array_to_string(
        |                 ws[CAST(i + 1 AS INTEGER):CAST(i + 4 AS INTEGER)], ' ')),
        |                 1, 7)) AS BIGINT)) AS hs
        |      FROM w WHERE len(ws) >= 4),
        |f AS (SELECT DISTINCT doc_id, fp FROM (
        |        SELECT doc_id,
        |               unnest(list_transform(
        |                 range(0, greatest(len(hs) - 4, 0) + 1),
        |                 j -> list_min(hs[CAST(j + 1 AS INTEGER):
        |                                  CAST(j + 4 AS INTEGER)]))) AS fp
        |        FROM h) z),
        |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 1000),
        |c AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |      FROM c a JOIN c b USING (fp) WHERE a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // ln(N/df) weights rounded to 6 before any sum; df-capped vocabulary
    "dedup_weighted_jaccard" ->
      """WITH tok AS (SELECT DISTINCT doc_id, w FROM (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |                                    x -> length(x) > 0)) AS w
        |  FROM documents) z),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |idf AS (SELECT w, round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS wt FROM (
        |  SELECT w, count(*) AS df FROM tok GROUP BY 1) d, nd
        |  WHERE df * 10 <= n_docs AND df <= 1000),
        |wt AS (SELECT t.doc_id, t.w, i.wt FROM tok t JOIN idf i USING (w)),
        |dw AS (SELECT doc_id, sum(wt) AS w_total FROM wt GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wt) AS w_inter
        |      FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |s AS (SELECT doc_a, doc_b,
        |             round(w_inter / (wa.w_total + wb.w_total - w_inter), 6)
        |               AS w_jaccard
        |      FROM p JOIN dw wa ON p.doc_a = wa.doc_id
        |             JOIN dw wb ON p.doc_b = wb.doc_id)
        |SELECT doc_a, doc_b, w_jaccard FROM s WHERE w_jaccard >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
