package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Bearly
import graft.operators.{Dedup, EventOps, Multimodal, Similarity, TextAnalysis}
import graft.queries.{Relational, TpchShapes}

/** similarity / ANN / embedding hygiene — the `simQueries`/`simOracles` slice of the driver contract
  * (split from the single SparkEntry registry in round 9; SparkEntry
  * merges every domain trait back into the 313-key map the driver
  * reads — see [[graft.SparkEntry]]).
  */
private[graft] trait SimilarityRegistry {
  // Shared hyperplane-LSH cosine pair table (threshold 0.2, the
  // defaults all three consumers use) — the "materialize pairs once,
  // fan out" contract ([[graft.Materialized]]): sim_cosine_neardup,
  // sim_semantic_groups (CC over it), and sim_threshold_sweep
  // (cumulative counts over it) reuse one checkpointed build.
  private def cosinePairsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "pairs_cosine_lsh")(
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), threshold = 0.2,
        nTables = 4, bitsPerTable = 8))

  // CC closure over the shared pair table, memoized like the dedup
  // family's groups_* kinds (DedupRegistry precedent): without this,
  // every consumer call re-runs the CC rounds — on the sink
  // face that re-reads the pair PARQUET and re-checkpoints the edge
  // table per call (the round-14 verdict's sim_semantic_groups sink
  // tax, +4.7 s/iteration at sf10); as a memo the closure is built
  // once per corpus snapshot and served from blocks (memo face) or
  // its own parquet table (sink face).
  private def semanticGroupsShared(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "groups_cosine_lsh")(
      Similarity.semanticGroups(cosinePairsShared(s, d)))

  protected def simQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_knn_graph" -> ((s, d) => Similarity.knnGraph(Tables.embeddings(s, d))),
    "sim_semantic_groups" -> ((s, d) =>
      semanticGroupsShared(s, d).orderBy(org.apache.spark.sql.functions.col("vec_id"))),
    "sim_l2_topk" -> ((s, d) => Similarity.l2TopK(Tables.embeddings(s, d))),
    "sim_dim_stats" -> ((s, d) => Similarity.dimensionStats(Tables.embeddings(s, d))),
    "sim_top_component" -> ((s, d) => Similarity.topComponent(Tables.embeddings(s, d))),
    "sim_label_confusion" -> ((s, d) => Similarity.labelConfusion(Tables.embeddings(s, d))),
    "sim_split_drift" -> ((s, d) => Similarity.splitDrift(Tables.embeddings(s, d))),
    "sim_trunc_recall" -> ((s, d) => Similarity.truncatedDimRecall(Tables.embeddings(s, d))),
    "sim_probe_sweep" -> ((s, d) => Similarity.ivfProbeSweep(Tables.embeddings(s, d))),
    "sim_label_margin" -> ((s, d) => Similarity.labelMargin(Tables.embeddings(s, d))),
    "sim_cell_balance" -> ((s, d) => Similarity.ivfCellBalance(Tables.embeddings(s, d))),
    "sim_effective_dims" -> ((s, d) => Similarity.effectiveDims(Tables.embeddings(s, d))),
    "sim_coverage" -> ((s, d) =>
      Similarity.embeddingCoverage(Tables.documents(s, d), Tables.embeddings(s, d))),
    "sim_knn_homophily" -> ((s, d) => Similarity.knnLabelHomophily(Tables.embeddings(s, d))),
    "sim_radius_search" -> ((s, d) => Similarity.radiusSearch(Tables.embeddings(s, d))),
    // --- similarity search ---
    "sim_bruteforce_topk" -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d))),
    "sim_ivf_topk" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), iters = 3)),
    // iters=0 twin: seed centroids are the 16 lowest vec_ids, so index
    // build + probe + search are all DuckDB-expressible end-to-end —
    // the oracle-checkable face of the same IVF code path
    "sim_ivf_topk_seed" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), iters = 0)),
    "sim_ivf_recall" -> ((s, d) => Similarity.ivfRecallReport(Tables.embeddings(s, d))),
    "sim_cosine_neardup" -> ((s, d) =>
      cosinePairsShared(s, d)
        .orderBy(org.apache.spark.sql.functions.col("vec_a"),
          org.apache.spark.sql.functions.col("vec_b"))),
    "sim_threshold_sweep" -> ((s, d) =>
      Similarity.thresholdSweep(cosinePairsShared(s, d))),
    "sim_label_centroids" -> ((s, d) => Similarity.labelCentroids(Tables.embeddings(s, d))),
    "sim_outliers" -> ((s, d) => Similarity.labelOutliers(Tables.embeddings(s, d))),
    "sim_hard_negatives" -> ((s, d) => Similarity.hardNegatives(Tables.embeddings(s, d))),
    "sim_mips_topk" -> ((s, d) => Similarity.mipsTopK(Tables.embeddings(s, d))),
    "sim_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8Report(Tables.embeddings(s, d))),
    "sim_vector_stats" -> ((s, d) =>
      Similarity.vectorStats(Tables.embeddings(s, d))),
    "sim_random_projection" -> ((s, d) =>
      Similarity.randomProjection(Tables.embeddings(s, d))),
    "sim_pair_hist" -> ((s, d) => Similarity.pairCosineHistogram(Tables.embeddings(s, d))),
    "sim_cell_cohesion" -> ((s, d) => Similarity.ivfCellCohesion(Tables.embeddings(s, d))),
    "sim_mmr_rerank" -> ((s, d) => Similarity.mmrRerank(Tables.embeddings(s, d))),
    "sim_cell_purity" -> ((s, d) => Similarity.cellLabelPurity(Tables.embeddings(s, d))),
    "sim_rrf_fusion" -> ((s, d) => Similarity.rrfFusion(Tables.embeddings(s, d))),
  )


  /** Oracle for [[graft.operators.Similarity.thresholdSweep]]: the
    * LSH candidate pairs vs a 15-cutoff grid; LEFT join keeps
    * zero-count cutoffs, mirroring the Spark zero-restore join.
    */
  private def thresholdSweepOracle: String =
    s"""WITH $cosineNearDupBaseCte,
       |nd AS (SELECT DISTINCT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.2),
       |grid AS (SELECT CAST(t AS DOUBLE) AS threshold FROM
       |           unnest([0.2, 0.25, 0.3, 0.35, 0.4, 0.45, 0.5, 0.55,
       |                   0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9]) AS u(t)),
       |cnt AS (SELECT threshold, count(*) AS n_pairs
       |        FROM nd JOIN grid ON cos_sim >= threshold GROUP BY 1)
       |SELECT threshold, coalesce(n_pairs, 0) AS n_pairs
       |FROM grid LEFT JOIN cnt USING (threshold) ORDER BY threshold""".stripMargin


  /** Oracle for [[graft.operators.Similarity.mmrRerank]]: k unrolled
    * greedy steps (the repo's fixed-iteration convention — pagerank,
    * k-core); every score is rounded to 6 before each argmax, λ=0.7
    * and μ=0.3 are independent literals exactly as in the Spark op.
    */
  private def mmrOracle(k: Int = 5): String = {
    def step(i: Int) =
      s"""s$i AS (SELECT aid AS cid, arel AS rel, $i AS step,
         |        round(0.7 * arel - 0.3 * max_sim, 6) AS mmr_score
         |  FROM (SELECT aid, arel, max(sim) AS max_sim FROM p
         |        WHERE bid IN (SELECT cid FROM u${i - 1})
         |          AND aid NOT IN (SELECT cid FROM u${i - 1})
         |        GROUP BY 1, 2) t
         |  ORDER BY mmr_score DESC, cid LIMIT 1),
         |u$i AS (SELECT cid FROM u${i - 1} UNION ALL SELECT cid FROM s$i)""".stripMargin
    val steps = (2 to k).map(step).mkString(",\n")
    val unions = (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
       |                round(list_cosine_similarity(
       |                  CAST(embedding AS DOUBLE[]), qv), 6) AS rel
       |         FROM embeddings, q WHERE vec_id <> 0
       |         ORDER BY rel DESC, cid LIMIT 20),
       |p AS (SELECT a.cid AS aid, a.rel AS arel, b.cid AS bid,
       |             round(list_cosine_similarity(a.cv, b.cv), 6) AS sim
       |      FROM cand a JOIN cand b ON a.cid <> b.cid),
       |s1 AS (SELECT cid, rel, 1 AS step, rel AS mmr_score FROM cand
       |       ORDER BY rel DESC, cid LIMIT 1),
       |u1 AS (SELECT cid FROM s1),
       |$steps
       |SELECT step, cid AS vec_id, rel, mmr_score FROM ($unions) z
       |ORDER BY step""".stripMargin
  }


  /** Shared CTE chain for the hyperplane-LSH oracles: literal
    * splitmix64 plane matrix → banded buckets → capped buckets →
    * scored candidate pairs `p(vec_a, vec_b, cos_sim)`.
    */
  private def cosineNearDupBaseCte: String = {
    val nTables = 4; val bits = 8; val dim = 64
    val maxBucket = 256
    import graft.functions.HyperplaneSignature.comp
    val arms = (0 until nTables).map { t =>
      val bucket = (0 until bits).map { b =>
        val plane = t * bits + b
        val dot = (0 until dim)
          .map(j => s"v[${j + 1}]*(${comp(plane, j)})").mkString(" + ")
        s"(CASE WHEN $dot >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("CAST(", "\n     + ", " AS BIGINT)")
      s"SELECT vec_id, v, $t AS table_idx,\n  $bucket AS bucket FROM e"
    }.mkString("\n UNION ALL\n ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS ($arms),
       |capped AS (SELECT table_idx, bucket, vec_id, v FROM (
       |  SELECT table_idx, bucket, vec_id, v,
       |         row_number() OVER (PARTITION BY table_idx, bucket ORDER BY vec_id) AS rn
       |  FROM b) t WHERE rn <= $maxBucket),
       |p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |             round(list_cosine_similarity(a.v, c.v), 6) AS cos_sim
       |      FROM capped a JOIN capped c USING (table_idx, bucket)
       |      WHERE a.vec_id < c.vec_id)""".stripMargin
  }


  /** Generated oracle for [[graft.operators.Similarity.topComponent]]:
    * `iters` unrolled power-iteration rounds, each one CTE pair —
    * d_r projects every row's xᵀv against the previous round's
    * (data-dependent) v columns with the same j-ascending
    * left-associated dot product `graft_dot` runs, s_r sums the 64
    * components, i_r normalizes by the left-folded √Σs² the Scala
    * driver computes. Engines differ only in row-sum order (~1e-13),
    * absorbed by round(6)/round(4).
    */
  private def topComponentOracle(iters: Int = 3): String = {
    val dims = 0 until 64
    val i0 = s"i0 AS (SELECT ${dims.map(j => s"${if (j == 0) "1.0" else "0.0"} AS v$j").mkString(", ")})"
    val rounds = (1 to iters).map { r =>
      val dot = dims.map(j => s"x.v[${j + 1}] * p.v$j").mkString(" + ")
      val d = s"d$r AS (SELECT x.v AS v, ($dot) AS xv FROM x CROSS JOIN i${r - 1} p)"
      val s = s"s$r AS (SELECT ${dims.map(j => s"sum(v[${j + 1}] * xv) AS s$j").mkString(", ")} FROM d$r)"
      val nrm = dims.map(j => s"s$j * s$j").mkString(" + ")
      val i = s"i$r AS (SELECT ${dims.map(j => s"s$j / nrm AS v$j").mkString(", ")}, nrm " +
        s"FROM (SELECT *, sqrt($nrm) AS nrm FROM s$r) t)"
      s"$d,\n$s,\n$i"
    }.mkString(",\n")
    s"""WITH x AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$i0,
       |$rounds
       |SELECT CAST(i - 1 AS INTEGER) AS dim,
       |       round(l[CAST(i AS INTEGER)], 6) AS loading,
       |       round(nrm, 4) AS eig_est
       |FROM (SELECT ${dims.map(j => s"v$j").mkString("list_value(", ", ", ")")} AS l, nrm FROM i$iters)
       |CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
       |ORDER BY dim""".stripMargin
  }


  /** Generated oracle for [[graft.operators.Similarity.cosineNearDupPairs]]:
    * the splitmix64 hyperplane matrix
    * ([[graft.functions.HyperplaneSignature.comp]]) is embedded as
    * double literals (shortest-round-trip `Double.toString`, so DuckDB
    * parses back the identical bits), and each plane's dot product is
    * written as the same left-associated j-ascending sum the Scala
    * loop computes — bit-identical doubles ⇒ identical bucket signs ⇒
    * identical candidate pairs. Scoring mirrors `graft_cosine` via
    * `list_cosine_similarity` rounded to 6 (the proven
    * `sim_bruteforce_topk` parity).
    */
  private def cosineNearDupOracle: String =
    s"""WITH $cosineNearDupBaseCte
       |SELECT DISTINCT vec_a, vec_b, cos_sim FROM p
       |WHERE cos_sim >= 0.2
       |ORDER BY vec_a, vec_b""".stripMargin


  /** Oracle for [[graft.operators.Similarity.semanticGroups]]: the
    * LSH candidate pairs above, closed transitively by a recursive
    * CTE with group id = min reachable vec (the component minimum).
    */
  private def semanticGroupsOracle: String =
    s"""WITH RECURSIVE $cosineNearDupBaseCte,
       |nd AS (SELECT DISTINCT vec_a, vec_b FROM p WHERE cos_sim >= 0.2),
       |edges AS (SELECT vec_a AS a, vec_b AS nb FROM nd
       |          UNION SELECT vec_b, vec_a FROM nd),
       |reach(a, nb) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
       |  UNION
       |  SELECT r.a, e.nb FROM reach r JOIN edges e ON r.nb = e.a
       |)
       |SELECT a AS vec_id, min(nb) AS group_id FROM reach GROUP BY 1 ORDER BY 1""".stripMargin


  /** Oracle for [[graft.operators.Similarity.randomProjection]] — the
    * same splitmix matrix (offset plane ids 1000+) as SQL literals;
    * term sums are left-associative in both engines, so the fold
    * order matches Spark's sequential `aggregate` exactly.
    */
  private def randomProjectionOracle: String = {
    val outDim = 8; val dim = 64
    import graft.functions.HyperplaneSignature.comp
    val cols = (0 until outDim).map { k =>
      val dot = (0 until dim).map(j => s"v[${j + 1}]*(${comp(1000 + k, j)})").mkString(" + ")
      s"round($dot, 6) AS p$k"
    }.mkString(",\n       ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT vec_id,
       |       $cols
       |FROM e ORDER BY vec_id""".stripMargin
  }

  protected def simOracles: Map[String, String] = Map(
    // the fixed-size md5-ordered panel cap (LIMIT 512) mirrors
    // knnGraph's maxPanel — audit cost flat in corpus size
    "sim_knn_graph" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100
        |        AS INTEGER) < 25
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 512),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |             round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |      FROM s a CROSS JOIN s b WHERE a.vec_id <> b.vec_id),
        |r AS (SELECT qid, cid, cos_sim,
        |             CAST(row_number() OVER (PARTITION BY qid
        |                  ORDER BY cos_sim DESC, cid) AS INTEGER) AS rnk
        |      FROM p)
        |SELECT qid, rnk, cid, cos_sim FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,
    "sim_cosine_neardup" -> cosineNearDupOracle,
    "sim_threshold_sweep" -> thresholdSweepOracle,
    "sim_semantic_groups" -> semanticGroupsOracle,
    "sim_random_projection" -> randomProjectionOracle,
    // IVF with seed centroids (iters=0): index build (argmax cell per
    // vector), probe (top-4 cells per query) and in-cell search all
    // re-derived relationally; list_cosine_similarity ↔ graft_cosine
    // parity is the same contract sim_cosine_neardup already pins
    "sim_ivf_topk_seed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, v AS centroid
        |          FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, cell_id, v FROM (
        |    SELECT e.vec_id, c.cell_id, e.v,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell_id) AS rn
        |    FROM e CROSS JOIN cents c) t WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT qid, qv, cell_id FROM (
        |    SELECT q.qid, q.qv, c.cell_id,
        |           row_number() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(q.qv, c.centroid) DESC, c.cell_id) AS rn
        |    FROM q CROSS JOIN cents c) t WHERE rn <= 4),
        |scored AS (
        |  SELECT p.qid, a.vec_id AS cid,
        |         round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
        |  FROM probes p JOIN assigned a USING (cell_id)
        |  WHERE p.qid <> a.vec_id)
        |SELECT qid, CAST(rnk AS INTEGER) AS rnk, cid, cos_sim FROM (
        |  SELECT qid, cid, cos_sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // the IVF-vs-exact recall composition, both legs re-derived
    // relationally and joined — hash-checks the eval loop end-to-end
    "sim_ivf_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, v AS centroid
        |          FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, cell_id, v FROM (
        |    SELECT e.vec_id, c.cell_id, e.v,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell_id) AS rn
        |    FROM e CROSS JOIN cents c) t WHERE rn = 1),
        |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT qid, qv, cell_id FROM (
        |    SELECT qs.qid, qs.qv, c.cell_id,
        |           row_number() OVER (PARTITION BY qs.qid
        |             ORDER BY list_cosine_similarity(qs.qv, c.centroid) DESC, c.cell_id) AS rn
        |    FROM qs CROSS JOIN cents c) t WHERE rn <= 4),
        |iscored AS (
        |  SELECT p.qid, a.vec_id AS cid,
        |         round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
        |  FROM probes p JOIN assigned a USING (cell_id)
        |  WHERE p.qid <> a.vec_id),
        |ivf AS (SELECT qid, cid FROM (
        |          SELECT qid, cid,
        |                 row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rnk
        |          FROM iscored) t WHERE rnk <= 5),
        |bscored AS (
        |  SELECT qs.qid, c2.vec_id AS cid,
        |         round(list_cosine_similarity(qs.qv, c2.v), 6) AS cos_sim
        |  FROM qs CROSS JOIN e c2 WHERE qs.qid <> c2.vec_id),
        |bf AS (SELECT qid, cid FROM (
        |         SELECT qid, cid,
        |                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rnk
        |         FROM bscored) t WHERE rnk <= 5),
        |hits AS (SELECT bf.qid, count(*) AS n_hits
        |         FROM bf JOIN ivf USING (qid, cid) GROUP BY 1)
        |SELECT q2.qid, coalesce(n_hits, 0) AS n_hits,
        |       round(CAST(coalesce(n_hits, 0) AS DOUBLE) / 5, 6) AS recall
        |FROM (SELECT DISTINCT qid FROM bf) q2 LEFT JOIN hits USING (qid)
        |ORDER BY qid""".stripMargin,
    "sim_split_drift" ->
      """WITH x AS (SELECT vec_id % 10 < 8 AS is_train,
        |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |     d AS (SELECT is_train, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS x
        |           FROM x CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx)
        |SELECT dim,
        |       round(avg(CASE WHEN is_train THEN x END), 6) AS train_mean,
        |       round(avg(CASE WHEN NOT is_train THEN x END), 6) AS holdout_mean,
        |       round(abs(avg(CASE WHEN is_train THEN x END) -
        |                 avg(CASE WHEN NOT is_train THEN x END)), 6) AS mean_gap
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // full-dim truth top-5 vs first-32-dims top-5, overlap per query
    "sim_trunc_recall" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |sf AS (SELECT qid, cid, round(list_cosine_similarity(qv, cv), 6) AS cs
        |       FROM q CROSS JOIN c WHERE qid <> cid),
        |tf AS (SELECT qid, cid FROM (
        |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |                ORDER BY cs DESC, cid) AS rnk FROM sf) WHERE rnk <= 5),
        |st AS (SELECT qid, cid, round(list_cosine_similarity(qv[1:32], cv[1:32]), 6) AS cs
        |       FROM q CROSS JOIN c WHERE qid <> cid),
        |tt AS (SELECT qid, cid FROM (
        |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |                ORDER BY cs DESC, cid) AS rnk FROM st) WHERE rnk <= 5),
        |ov AS (SELECT qid, count(*) AS n_overlap FROM tf JOIN tt USING (qid, cid)
        |       GROUP BY 1)
        |SELECT qid, CAST(coalesce(n_overlap, 0) AS INTEGER) AS n_overlap,
        |       round(CAST(coalesce(n_overlap, 0) AS DOUBLE) / 5, 6) AS recall
        |FROM (SELECT DISTINCT qid FROM q) qq LEFT JOIN ov USING (qid)
        |ORDER BY qid""".stripMargin,
    // seed-centroid IVF probe sweep: candidates carry the probe rank
    // of their cell; levels grid replays the ranking per nProbe
    "sim_probe_sweep" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, v AS centroid
        |          FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, cell_id, v FROM (
        |    SELECT e.vec_id, c.cell_id, e.v,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell_id) AS rn
        |    FROM e CROSS JOIN cents c) t WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |pr AS (
        |  SELECT qid, qv, cell_id, rn AS probe_rn FROM (
        |    SELECT q.qid, q.qv, c.cell_id,
        |           row_number() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(q.qv, c.centroid) DESC, c.cell_id) AS rn
        |    FROM q CROSS JOIN cents c) t WHERE rn <= 8),
        |scored AS (
        |  SELECT p.qid, a.vec_id AS cid, p.probe_rn,
        |         round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
        |  FROM pr p JOIN assigned a USING (cell_id)
        |  WHERE p.qid <> a.vec_id),
        |lv AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INTEGER) AS n_probe),
        |cand AS (SELECT lv.n_probe, s.qid, s.cid, s.cos_sim
        |         FROM scored s JOIN lv ON s.probe_rn <= lv.n_probe),
        |ivf AS (SELECT n_probe, qid, cid FROM (
        |          SELECT n_probe, qid, cid,
        |                 row_number() OVER (PARTITION BY n_probe, qid
        |                   ORDER BY cos_sim DESC, cid) AS rnk
        |          FROM cand) t WHERE rnk <= 5),
        |sf AS (SELECT q.qid, e.vec_id AS cid,
        |              round(list_cosine_similarity(q.qv, e.v), 6) AS cs
        |       FROM q CROSS JOIN e WHERE q.qid <> e.vec_id),
        |truth AS (SELECT qid, cid FROM (
        |            SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |                   ORDER BY cs DESC, cid) AS rnk FROM sf) t WHERE rnk <= 5),
        |hits AS (SELECT n_probe, qid, count(*) AS n_hit
        |         FROM ivf JOIN truth USING (qid, cid) GROUP BY 1, 2),
        |nc AS (SELECT n_probe, qid, count(*) AS n_candidates FROM cand GROUP BY 1, 2)
        |SELECT lv.n_probe, q.qid,
        |       CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
        |       CAST(coalesce(h.n_hit, 0) AS INTEGER) AS n_hit,
        |       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5, 6) AS recall
        |FROM lv CROSS JOIN q
        |LEFT JOIN nc ON nc.n_probe = lv.n_probe AND nc.qid = q.qid
        |LEFT JOIN hits h ON h.n_probe = lv.n_probe AND h.qid = q.qid
        |ORDER BY lv.n_probe, q.qid""".stripMargin,
    // own-centroid vs best-other-centroid margin on the rounded
    // label-centroid table (same cent CTE as sim_outliers)
    "sim_label_margin" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT label, list(mean_v ORDER BY pos) AS centroid FROM (
        |    SELECT label, pos, round(avg(v), 6) AS mean_v FROM (
        |      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings) u
        |    GROUP BY 1, 2) t
        |  GROUP BY label),
        |s AS (SELECT e.vec_id, e.label, c.label AS cl,
        |             list_cosine_similarity(e.v, c.centroid) AS sim
        |      FROM e CROSS JOIN cent c)
        |SELECT vec_id, label,
        |       round(max(CASE WHEN cl = label THEN sim END), 6) AS own_sim,
        |       round(max(CASE WHEN cl <> label THEN sim END), 6) AS best_other_sim,
        |       round(max(CASE WHEN cl = label THEN sim END) -
        |             max(CASE WHEN cl <> label THEN sim END), 6) AS margin
        |FROM s GROUP BY 1, 2 ORDER BY vec_id""".stripMargin,
    // seed-centroid assignment (same CTE as sim_ivf_topk_seed) → cell
    // counts with share and load factor
    "sim_cell_balance" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, v AS centroid
        |          FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, cell_id FROM (
        |    SELECT e.vec_id, c.cell_id,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell_id) AS rn
        |    FROM e CROSS JOIN cents c) t WHERE rn = 1),
        |counts AS (SELECT cell_id, count(*) AS n_vectors FROM assigned GROUP BY 1),
        |tot AS (SELECT sum(n_vectors) AS total FROM counts)
        |SELECT cell_id, n_vectors,
        |       round(CAST(n_vectors AS DOUBLE) / total, 6) AS share,
        |       round(CAST(n_vectors AS DOUBLE) * 16 / total, 6) AS load_factor
        |FROM counts, tot ORDER BY cell_id""".stripMargin,
    // per-dim variance shares + cumulative in descending-variance
    // order + participation ratio (Σλ)²/Σλ²
    "sim_effective_dims" ->
      """WITH x AS (SELECT CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS x
        |           FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e
        |           CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx),
        |vr AS (SELECT dim, var_pop(x) AS v FROM x GROUP BY 1),
        |tot AS (SELECT sum(v) AS tv, sum(v * v) AS tv2 FROM vr),
        |c AS (SELECT dim, v, sum(v) OVER (ORDER BY v DESC, dim
        |             ROWS UNBOUNDED PRECEDING) AS cum FROM vr)
        |SELECT dim, round(v, 9) AS variance,
        |       round(v / tv, 6) AS var_share,
        |       round(cum / tv, 6) AS cum_share,
        |       round(tv * tv / tv2, 4) AS participation_ratio
        |FROM c, tot ORDER BY variance DESC, dim""".stripMargin,
    "sim_coverage" ->
      """SELECT d.source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_with_vec,
        |       round(CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS coverage
        |FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact top-5 neighbors (the bruteforce CTE) × label agreement
    "sim_knn_homophily" ->
      """WITH q AS (SELECT vec_id AS qid, label AS q_label,
        |                  CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, label AS c_label,
        |             CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT qid, q_label, cid, c_label,
        |             round(list_cosine_similarity(qv, cv), 6) AS cs
        |      FROM q CROSS JOIN c WHERE qid <> cid),
        |t AS (SELECT qid, q_label, c_label FROM (
        |        SELECT qid, q_label, c_label,
        |               row_number() OVER (PARTITION BY qid
        |                 ORDER BY cs DESC, cid) AS rnk FROM s) x WHERE rnk <= 5)
        |SELECT qid, q_label,
        |       CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS INTEGER)
        |         AS n_same,
        |       round(CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
        |             / 5, 6) AS homophily
        |FROM t GROUP BY 1, 2 ORDER BY qid""".stripMargin,
    // broadcast-query frame finished by a radius census
    "sim_radius_search" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT qid, cid, round(list_cosine_similarity(qv, cv), 6) AS cs
        |      FROM q CROSS JOIN c WHERE qid <> cid)
        |SELECT qid,
        |       CAST(sum(CASE WHEN cs >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
        |       round(max(cs), 6) AS best_sim
        |FROM s GROUP BY 1 ORDER BY qid""".stripMargin,
    // L2 from the norm identity on list_inner_product — the same
    // left-associated arithmetic the Spark op runs over graft_dot
    "sim_l2_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |     s AS (SELECT qid, cid,
        |                  round(sqrt(greatest(0.0, list_inner_product(qv, qv)
        |                        - 2.0 * list_inner_product(qv, cv)
        |                        + list_inner_product(cv, cv))), 6) AS dist
        |           FROM q CROSS JOIN c WHERE qid <> cid),
        |     r AS (SELECT qid, cid, dist,
        |                  CAST(row_number() OVER (PARTITION BY qid
        |                       ORDER BY dist ASC, cid) AS INTEGER) AS rnk
        |           FROM s)
        |SELECT qid, rnk, cid, dist FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "sim_top_component" -> topComponentOracle(),
    // rounded per-(label, dim) centroids → ordered lists → pairwise cosine
    "sim_label_confusion" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |     d AS (SELECT label, i, round(avg(v[CAST(i AS INTEGER)]), 6) AS m
        |           FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
        |           GROUP BY 1, 2),
        |     c AS (SELECT label, list(m ORDER BY i) AS centroid FROM d GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |       round(list_cosine_similarity(a.centroid, b.centroid), 6) AS centroid_sim
        |FROM c a JOIN c b ON a.label < b.label
        |ORDER BY 1, 2""".stripMargin,
    "sim_dim_stats" ->
      """WITH x AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |     d AS (SELECT CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS x
        |           FROM x CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx)
        |SELECT dim, count(*) AS n, round(avg(x), 6) AS mean,
        |       round(stddev_samp(x), 6) AS sd,
        |       round(min(x), 6) AS min_x, round(max(x), 6) AS max_x,
        |       round(max(abs(x)), 6) AS max_abs
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT label, list(mean_v ORDER BY pos) AS centroid FROM (
        |    SELECT label, pos, round(avg(v), 6) AS mean_v FROM (
        |      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings) u
        |    GROUP BY 1, 2) t
        |  GROUP BY label)
        |SELECT e.label, e.vec_id,
        |       round(list_cosine_similarity(e.v, c.centroid), 6) AS centroid_sim
        |FROM e JOIN cent c USING (label)
        |WHERE round(list_cosine_similarity(e.v, c.centroid), 6) < 0.2
        |ORDER BY label, vec_id""".stripMargin,
    "sim_label_centroids" ->
      """SELECT label, CAST(pos - 1 AS INTEGER) AS pos,
        |       round(avg(v), 6) AS mean_v, count(*) AS n
        |FROM (SELECT label,
        |             CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings) t
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // bruteforce shape ranked by raw inner product (list_inner_product
    // sums left-to-right, matching the graft_dot codegen loop exactly)
    "sim_mips_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |     s AS (SELECT qid, cid, round(list_inner_product(qv, cv), 6) AS score
        |           FROM q CROSS JOIN c WHERE qid <> cid),
        |     r AS (SELECT qid, cid, score,
        |                  CAST(row_number() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, cid) AS INTEGER) AS rnk
        |           FROM s)
        |SELECT qid, rnk, cid, score FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // bruteforce shape with a label-mismatch filter before ranking
    "sim_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, label AS cl, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings),
        |     s AS (SELECT qid, cid, round(list_cosine_similarity(qv, cv), 6) AS cos_sim
        |           FROM q CROSS JOIN c WHERE ql <> cl),
        |     r AS (SELECT qid, cid, cos_sim,
        |                  CAST(row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_sim DESC, cid) AS INTEGER) AS rnk
        |           FROM s)
        |SELECT qid, rnk, cid, cos_sim FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |     s AS (SELECT qid, cid, round(list_cosine_similarity(qv, cv), 6) AS cos_sim
        |           FROM q CROSS JOIN c WHERE qid <> cid),
        |     r AS (SELECT qid, cid, cos_sim,
        |                  CAST(row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_sim DESC, cid) AS INTEGER) AS rnk
        |           FROM s)
        |SELECT qid, rnk, cid, cos_sim FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "sim_vector_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS dim,
        |       round(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2_norm,
        |       CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
        |       round(list_max(list_transform(v, x -> abs(x))), 6) AS max_abs
        |FROM e ORDER BY vec_id""".stripMargin,
    // floor-quantization (no round-half tie convention) and errors ≫
    // summation noise at round(…,6) make this cross-engine exact
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn,
        |             (list_max(v) - list_min(v)) / 255.0 AS sc FROM e),
        |err AS (SELECT vec_id, v, sc,
        |         CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x ->
        |                     abs(x - (mn + floor((x - mn) / sc) * sc))) END AS errs
        |        FROM m)
        |SELECT vec_id, CAST(len(v) AS INTEGER) AS dim, round(sc, 6) AS scale,
        |       round(list_max(errs), 6) AS max_err,
        |       round(list_sum(errs) / len(v), 6) AS mean_err
        |FROM err ORDER BY vec_id""".stripMargin,
    // buckets computed on the ROUNDED cosine so both engines bin
    // identical values (see Similarity.pairCosineHistogram);
    // fixed-size md5-ordered side panels (LIMIT 128) mirror
    // pairCosineHistogram's maxSide — census cost flat in corpus size
    "sim_pair_hist" ->
      """WITH a AS (SELECT vec_id AS ida, CAST(embedding AS DOUBLE[]) AS va
        |           FROM embeddings WHERE vec_id % 37 = 0
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 128),
        |b AS (SELECT vec_id AS idb, CAST(embedding AS DOUBLE[]) AS vb
        |      FROM embeddings WHERE vec_id % 41 = 0
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 128),
        |s AS (SELECT round(list_cosine_similarity(va, vb), 6) AS cs
        |      FROM a CROSS JOIN b WHERE ida <> idb),
        |h AS (SELECT CAST(least(floor(cs * 10), 9) AS INTEGER) AS bucket,
        |             count(*) AS n_pairs
        |      FROM s GROUP BY 1)
        |SELECT bucket, round(CAST(bucket AS DOUBLE) / 10, 6) AS lo,
        |       round(CAST(bucket + 1 AS DOUBLE) / 10, 6) AS hi, n_pairs,
        |       round(CAST(n_pairs AS DOUBLE) / sum(n_pairs) OVER (), 6) AS share
        |FROM h ORDER BY bucket""".stripMargin,
    // same seed-centroid assignment chain as sim_cell_balance, with
    // the per-vector similarity carried into the cell rollup
    "sim_cell_cohesion" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, v AS centroid
        |          FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, cell_id, sim FROM (
        |    SELECT e.vec_id, c.cell_id,
        |           list_cosine_similarity(e.v, c.centroid) AS sim,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC,
        |                      c.cell_id) AS rn
        |    FROM e CROSS JOIN cents c) t WHERE rn = 1)
        |SELECT cell_id, count(*) AS n_vectors,
        |       round(avg(sim), 6) AS mean_sim, round(min(sim), 6) AS min_sim
        |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_mmr_rerank" -> mmrOracle(),
    // seed-centroid assignment (iters=0) + majority label per cell
    "sim_cell_purity" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INTEGER) AS cell_id, v AS centroid
        |          FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, label, cell_id FROM (
        |    SELECT e.vec_id, e.label, c.cell_id,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC,
        |               c.cell_id) AS rn
        |    FROM e CROSS JOIN cents c) t WHERE rn = 1),
        |cl AS (SELECT cell_id, label, count(*) AS n FROM assigned GROUP BY 1, 2),
        |w AS (SELECT cell_id, label, n,
        |             CAST(sum(n) OVER (PARTITION BY cell_id) AS BIGINT)
        |               AS n_vectors,
        |             row_number() OVER (PARTITION BY cell_id
        |               ORDER BY n DESC, label) AS rn FROM cl)
        |SELECT cell_id, n_vectors, label AS majority_label,
        |       round(CAST(n AS DOUBLE) / n_vectors, 6) AS purity
        |FROM w WHERE rn = 1 ORDER BY cell_id""".stripMargin,
    // Σ 1/(60+rank) over the cosine and inner-product top-10 lists
    "sim_rrf_fusion" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |sc AS (SELECT qid, cid, round(list_cosine_similarity(qv, cv), 6) AS s
        |       FROM q CROSS JOIN c WHERE qid <> cid),
        |rc AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |         ORDER BY s DESC, cid) AS rc FROM sc),
        |sd AS (SELECT qid, cid, round(list_inner_product(qv, cv), 6) AS s
        |       FROM q CROSS JOIN c WHERE qid <> cid),
        |rd AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |         ORDER BY s DESC, cid) AS rd FROM sd),
        |f AS (SELECT coalesce(rc.qid, rd.qid) AS qid,
        |             coalesce(rc.cid, rd.cid) AS cid,
        |             round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rc.rc), 0.0)
        |                 + coalesce(CAST(1.0 AS DOUBLE) / (60 + rd.rd), 0.0), 6)
        |               AS rrf
        |      FROM (SELECT * FROM rc WHERE rc <= 10) rc
        |      FULL OUTER JOIN (SELECT * FROM rd WHERE rd <= 10) rd
        |        ON rc.qid = rd.qid AND rc.cid = rd.cid),
        |r AS (SELECT qid, cid, rrf,
        |             CAST(row_number() OVER (PARTITION BY qid
        |               ORDER BY rrf DESC, cid) AS INTEGER) AS rnk FROM f)
        |SELECT qid, rnk, cid, rrf FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,
  )
}
