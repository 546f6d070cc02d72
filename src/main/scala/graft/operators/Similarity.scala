package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  * (Distributed top-k similarity literature: PAPERS.md — e.g.
  * "Incremental … Top-K Similarity Search", EDBT 2020; REPOSE,
  * ICDE 2021 — the IVF cell/probe trade below is the standard
  * partition-then-prune shape those systems build on.)
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact top-k cosine — broadcast the (small)
  *     query set against the full corpus; per-partition scoring, then
  *     a per-query top-k window. The corpus is never shuffled; work
  *     is |queries| × |corpus| dots, embarrassingly parallel. This is
  *     the correctness baseline and the right choice whenever the
  *     query set fits in a broadcast (≲ tens of MB).
  *   - [[ivfTopK]]: IVF-style ANN — partition the corpus into
  *     Voronoi cells around deterministic centroids, search only the
  *     `nProbe` nearest cells per query. At 100 TB the cell
  *     assignment is a one-off map stage (re-usable, writable as a
  *     bucketed table) and each query touches nProbe/nCells of the
  *     data — the standard recall/throughput trade.
  *
  * Scoring uses double precision throughout (cast from float) and
  * results are ranked on `round(cos, 6)` with vec_id tiebreaks so
  * output is deterministic and engine-independent.
  */
object Similarity {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Per-query top-k finisher over `(qid, cid, cos_sim)` scored rows,
    * as a bounded-heap partial aggregate
    * ([[graft.functions.Aggregators.TopKPairs]]): map-side combine
    * reduces each partition's candidates to k pairs BEFORE the
    * exchange, so the shuffle carries n_partitions × k rows per query
    * instead of every scored row. The window formulation this
    * replaces (kept in `SimilaritySpec` as the differential
    * reference) shuffled |corpus| × |queries| rows onto ≤ |queries|
    * partition keys — a scale-killer when queries are few.
    */
  private def topKPerQuery(scored: DataFrame, k: Int,
                           scoreName: String = "cos_sim"): DataFrame = {
    val topk = udaf(new graft.functions.Aggregators.TopKPairs(k))
    scored.groupBy("qid")
      .agg(topk(col(scoreName), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "pair")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rnk"),
        col("pair._2").as("cid"), col("pair._1").as(scoreName))
      .orderBy("qid", "rnk")
  }

  /** Shared broadcast-query scoring scaffold: corpus streams against
    * the broadcast query set, scored by `score` (rounded to 6), with
    * either the self-pair or the same-label pairs excluded. Every
    * brute-force retrieval variant ([[bruteForceTopK]],
    * [[hardNegatives]], [[mipsTopK]]) is this frame plus a finisher —
    * one definition of the query-selection and rounding convention.
    */
  private def scoredPairs(embeddings: DataFrame, nQueries: Int,
                          score: (Column, Column) => Column,
                          scoreName: String,
                          excludeSameLabel: Boolean): DataFrame = {
    val corpus = embeddings.select(
      (Seq(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv")) ++
        (if (excludeSameLabel) Seq(col("label").as("cl")) else Nil)): _*)
    val queries = embeddings.filter(col("vec_id") < nQueries).select(
      (Seq(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv")) ++
        (if (excludeSameLabel) Seq(col("label").as("ql")) else Nil)): _*)
    val joined = corpus.crossJoin(broadcast(queries))
    val filtered =
      if (excludeSameLabel) joined.filter(col("cl") =!= col("ql"))
      else joined.filter(col("qid") =!= col("cid"))
    filtered.select(col("qid"), col("cid"),
      round(score(col("qv"), col("cv")), 6).as(scoreName))
  }

  /** Scored candidate rows for [[bruteForceTopK]] (shared with the
    * differential spec).
    */
  private[graft] def bruteForceScored(embeddings: DataFrame, nQueries: Int): DataFrame =
    scoredPairs(embeddings, nQueries, VectorFunctions.cosineSim, "cos_sim",
      excludeSameLabel = false)

  /** Exact top-k cosine neighbors for every query vector (default:
    * vec_id < nQueries), excluding self. Queries are broadcast; the
    * corpus side streams and is reduced map-side to k candidates per
    * (partition, query) — no row-level shuffle. Ranking on rounded
    * cosine + vec_id for determinism.
    */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame =
    topKPerQuery(bruteForceScored(embeddings, nQueries), k)

  /** k-nearest-neighbor graph over a deterministic hash-sample of the
    * corpus: every sampled vector gets its k most-similar sampled
    * neighbors — the adjacency list that semantic-dedup clustering
    * and diversity analysis start from (SemDeDup-style pipelines).
    *
    * Scale: the md5-bucket sample (same primitive as
    * [[TextAnalysis.hashSample]]) thins the corpus, and `maxPanel`
    * makes the audit cost FLAT in corpus size: a percentage sample
    * alone still grows (pct·n)² — measured as a 55× blow-up on a 10×
    * corpus — so the sample is capped to a fixed-size md5-ordered
    * panel (`TakeOrderedAndProject`, a bounded heap, never a global
    * sort). Audits run on constant-size panels; only the panel
    * SELECTION scans the corpus. One side is broadcast (the panel
    * fits by construction); scoring is map-only over the other side
    * and [[topKPerQuery]] reduces each partition to k candidates per
    * node BEFORE the exchange. For the full-corpus graph at 100 TB,
    * swap the panel for [[ivfAssign]] cells and run this per cell
    * (Σ cell² ≪ n²).
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5, samplePct: Int = 25,
               maxPanel: Int = 512): DataFrame = {
    val sampled = embeddings
      .filter(pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
        .cast("long"), lit(100L)).cast("int") < samplePct)
      .withColumn("_h", md5(col("vec_id").cast("string")))
      .orderBy("_h").limit(maxPanel)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val a = sampled.select(col("vec_id").as("qid"), col("v").as("qv"))
    val b = sampled.select(col("vec_id").as("cid"), col("v").as("cv"))
    val scored = a.crossJoin(broadcast(b))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(VectorFunctions.cosineSim(col("qv"), col("cv")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive / embedding training: for
    * each query vector, the k most-similar corpus vectors whose LABEL
    * differs — the near-misses a retrieval or classification model
    * must learn to separate (the in-batch-negatives upgrade every
    * dense-retrieval recipe ships, e.g. DPR/ANCE-style training).
    *
    * Same scale shape as [[bruteForceTopK]]: the query set is
    * broadcast, the corpus streams map-only through scoring, and the
    * label-mismatch filter runs before the bounded-heap top-k, so the
    * exchange carries ≤ n_partitions × k candidates per query. At
    * 100 TB swap the scored stream for [[ivfAssign]]-probed cells —
    * the filter and finisher are unchanged.
    */
  def hardNegatives(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame =
    topKPerQuery(scoredPairs(embeddings, nQueries, VectorFunctions.cosineSim, "cos_sim",
      excludeSameLabel = true), k)

  /** Maximum-inner-product top-k: ranks by the raw dot product
    * instead of cosine — the retrieval metric when vector NORMS carry
    * signal (recommendation scores, learned relevance embeddings;
    * normalizing would erase it). Same broadcast-queries /
    * bounded-heap shape as [[bruteForceTopK]], scored by the
    * [[graft.functions.InnerProduct]] codegen expression.
    */
  def mipsTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame =
    topKPerQuery(scoredPairs(embeddings, nQueries, VectorFunctions.dotProduct, "score",
      excludeSameLabel = false), k, "score")

  /** Train/holdout embedding drift per dimension: split the corpus by
    * the deterministic modulo rule (vec_id % 10 < 8 → train, else
    * holdout) and compare per-dimension means — a non-zero gap on a
    * random split is sampling noise, but on a TIME- or SOURCE-ordered
    * id space it is distribution drift, the silent killer of ANN
    * recall and centroid models trained on yesterday's corpus. Same
    * posexplode + 64-key aggregate as [[dimensionStats]], pivoted by
    * the split flag in one pass (conditional aggregates, no join).
    */
  def splitDrift(embeddings: DataFrame): DataFrame =
    embeddings
      .select(pmod(col("vec_id"), lit(10)).<(8).as("is_train"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(
        round(avg(when(col("is_train"), col("x"))), 6).as("train_mean"),
        round(avg(when(!col("is_train"), col("x"))), 6).as("holdout_mean"),
        round(abs(avg(when(col("is_train"), col("x"))) -
          avg(when(!col("is_train"), col("x")))), 6).as("mean_gap"))
      .orderBy("dim")

  /** Per-DIMENSION embedding statistics (the axis [[vectorStats]]
    * doesn't cover: that op profiles each vector, this one profiles
    * each coordinate across the corpus) — dead dimensions (max_abs ≈
    * 0), un-centered dimensions (|mean| ≫ 0), and scale imbalance
    * (sd spread) are the standard pre-flight checks before cosine /
    * quantization / random-projection stages. posexplode fans each
    * vector into (dim, x) rows map-side; the aggregate is one
    * 64-key shuffle with map-side combine.
    */
  def dimensionStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        round(avg("x"), 6).as("mean"),
        round(stddev_samp(col("x")), 6).as("sd"),
        round(min("x"), 6).as("min_x"),
        round(max("x"), 6).as("max_x"),
        round(max(abs(col("x"))), 6).as("max_abs"))
      .orderBy("dim")

  /** Dominant principal direction of the embedding set by matrix-free
    * power iteration (fixed `iters` rounds from the deterministic e₀
    * start): v ← normalize(Σ_x x·(xᵀv)). The "All-but-the-top"
    * hygiene primitive (Mu & Viswanath, ICLR 2018) — embedding sets
    * share a large common direction that drowns cosine contrast;
    * this op measures it (per-dim loading + Rayleigh-quotient
    * eigenvalue estimate) so a de-meaning/projection stage can
    * remove it. Output: one row per dimension.
    *
    * Shape at 100 TB: each round is ONE map-reduce pass — the current
    * v rides into the scan as 64 literals, each row contributes
    * x·(xᵀv) map-side, and the 64 component sums partial-aggregate up
    * (no shuffle of vectors, no driver-side data beyond the 64
    * doubles collected per round — the same KB-scale justified
    * collect as the IVF centroids). Fixed iteration count keeps the
    * result deterministic and oracle-checkable (run-to-tolerance
    * would not be), exactly like [[graft.operators.Graph.pageRank]].
    */
  def topComponent(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val xs = embeddings.select(asDouble(col("embedding")).as("v"))
    var v: Array[Double] = Array.tabulate(64)(j => if (j == 0) 1.0 else 0.0)
    var eig = 0.0
    for (_ <- 1 to iters) {
      val vLit = array(v.map(lit): _*)
      val sums = xs
        .select(VectorFunctions.dotProduct(col("v"), vLit).as("xv"), col("v"))
        .select((0 until 64).map(j =>
          sum(element_at(col("v"), j + 1) * col("xv")).as(s"s$j")): _*)
        .collect().head
      val w = Array.tabulate(64)(j => if (sums.isNullAt(j)) 0.0 else sums.getDouble(j))
      // left-fold norm — the exact association the oracle SQL unrolls
      val nrm = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
      // empty/degenerate input (all-zero sums): keep the current
      // direction instead of dividing to NaN; eig reports 0
      eig = nrm
      if (nrm > 0) v = w.map(_ / nrm)
    }
    v.zipWithIndex.map { case (x, j) => (j, x) }.toSeq.toDF("dim", "loading_raw")
      .select(col("dim"), round(col("loading_raw"), 6).as("loading"),
        round(lit(eig), 4).as("eig_est"))
      .orderBy("dim")
  }

  /** Euclidean (L2) nearest-neighbor top-k — the metric for
    * magnitude-sensitive embeddings where cosine's normalization is
    * wrong (e.g. count sketches, un-normalized encoder outputs).
    * Distance comes from the norm identity ‖q−c‖ = √(q·q − 2 q·c +
    * c·c) on the SAME codegen dot product the MIPS path proves
    * cross-engine — at scale the corpus self-norms are precomputed
    * once per vector instead of re-subtracting per pair. Ranking
    * negates the ALREADY-ROUNDED distance so the shared max-heap
    * finisher returns nearest-first with the exact tie-break the
    * oracle's ORDER BY dist ASC, cid applies.
    */
  def l2TopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val dist = (q: Column, c: Column) => sqrt(greatest(lit(0.0),
      VectorFunctions.dotProduct(q, q) - lit(2.0) * VectorFunctions.dotProduct(q, c) +
        VectorFunctions.dotProduct(c, c)))
    val scored = scoredPairs(embeddings, nQueries, dist, "dist",
      excludeSameLabel = false)
    topKPerQuery(scored.withColumn("neg", -col("dist")), k, "neg")
      .select(col("qid"), col("rnk"), col("cid"), (-col("neg")).as("dist"))
      .orderBy("qid", "rnk")
  }

  /** Deterministic IVF seed centroids: the embeddings of the `nCells`
    * lowest vec_ids (a fixed, reproducible starting point;
    * [[trainCentroids]] refines them with k-means).
    */
  private def seedCentroids(embeddings: DataFrame, nCells: Int): DataFrame =
    embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell_id"), asDouble(col("embedding")).as("centroid"))

  /** Nearest-centroid assignment against an explicit centroid frame:
    * broadcast the (tiny) centroids, score map-only, keep the argmax
    * per vector as (vec_id, cell_id, v, sim). Shared by index build,
    * probe, cell reports and k-means rounds.
    */
  private def assignToCells(embeddings: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cell_id"),
        VectorFunctions.cosineSim(col("v"), col("centroid")).as("sim"))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cell_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell_id"), col("v"), col("sim"))
  }

  /** IVF probe ranking: the query frame (the first `nQueries` vectors
    * as `qid`, `qv`) and, per query, its `nProbe` cells whose
    * centroids are most cosine-similar, ranked `probe_rn` by
    * (csim desc, cell_id) against the broadcast centroids. Shared by
    * [[ivfTopK]] and [[ivfProbeSweep]].
    */
  private def rankedProbes(embeddings: DataFrame, cents: DataFrame, nQueries: Int,
                           nProbe: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    val wProbe = Window.partitionBy("qid").orderBy(col("csim").desc, col("cell_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("cell_id"),
        VectorFunctions.cosineSim(col("qv"), col("centroid")).as("csim"))
      .withColumn("probe_rn", row_number().over(wProbe))
      .filter(col("probe_rn") <= nProbe)
      .select("qid", "qv", "cell_id", "probe_rn")
    (queries, probes)
  }

  /** Distributed spherical k-means for IVF centroids: `iters` rounds
    * of assign (broadcast centroids, map-only argmax) + recompute
    * (posexplode → per-(cell, dim) partial-agg mean). Each round the
    * new centroid set — nCells × dim doubles, KBs — is collected and
    * re-broadcast: the standard iterate-model-apply pattern (what
    * MLlib k-means does), NOT a driver-side data loop; the data-sized
    * work stays fully distributed. Means are rounded to 9 decimals so
    * training is reproducible across runs and partitionings
    * (double-sum order noise ~1e-13 « the rounding grid). Cells left
    * empty by a round keep their previous centroid. Cosine ignores
    * scale, so means need no re-normalization.
    */
  private[graft] def trainCentroids(embeddings: DataFrame, nCells: Int,
                                    iters: Int): Seq[(Int, Seq[Double])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // sort: collect order varies with partitioning; cell order must not
    var cents: Seq[(Int, Seq[Double])] =
      seedCentroids(embeddings, nCells).as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    for (_ <- 0 until iters) {
      val centsDf = cents.toDF("cell_id", "centroid")
      val means = assignToCells(embeddings, centsDf)
        .select(col("cell_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos")
        .agg(round(avg("x"), 9).as("m"))
        .as[(Int, Int, Double)].collect()
      val byCell = means.groupBy(_._1).map { case (c, xs) =>
        c -> xs.sortBy(_._2).map(_._3).toSeq
      }
      cents = cents.map { case (c, old) => c -> byCell.getOrElse(c, old) }
    }
    cents
  }

  /** Centroid frame for the IVF index: seeds refined by `iters`
    * k-means rounds (iters = 0 → raw seeds, the round-1 behavior).
    */
  private def centroids(embeddings: DataFrame, nCells: Int, iters: Int): DataFrame =
    if (iters <= 0) seedCentroids(embeddings, nCells)
    else {
      val spark = embeddings.sparkSession
      import spark.implicits._
      trainCentroids(embeddings, nCells, iters).toDF("cell_id", "centroid")
    }

  /** Cell assignment: nearest centroid per vector, with its cosine
    * `sim` (broadcast centroids, map-only). Persist/bucket this at
    * scale — it is the "index build".
    */
  def ivfAssign(embeddings: DataFrame, nCells: Int = 16, iters: Int = 0): DataFrame =
    assignToCells(embeddings, centroids(embeddings, nCells, iters))

  /** ANN top-k: per query, search only the nProbe cells whose
    * centroids are most similar to the query. Join on cell_id bounds
    * the candidate set; everything else mirrors the brute-force path.
    * Probe and assignment share ONE centroid set (computed once).
    */
  def ivfTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
              nCells: Int = 16, nProbe: Int = 4, iters: Int = 0): DataFrame = {
    val cents = centroids(embeddings, nCells, iters)
    val assigned = assignToCells(embeddings, cents)
    val (_, probes) = rankedProbes(embeddings, cents, nQueries, nProbe)
    val scored = probes.join(assigned, "cell_id")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(VectorFunctions.cosineSim(col("qv"), col("v")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** IVF recall report — the ANN eval loop run INSIDE the engine:
    * per query, how many of the exact top-k ([[bruteForceTopK]]) the
    * probe-limited IVF search ([[ivfTopK]], seed centroids) returned.
    * This is the recall@k number an index owner tracks when tuning
    * nProbe/nCells; computing it as a query (semi-join of the two
    * result sets, grouped count) means the eval runs distributed on a
    * SAMPLE of queries at any corpus size — no exporting result sets
    * to a driver script. Both legs are oracle-pinned individually;
    * the report's own oracle re-derives both relationally and joins
    * them, so the composition is hash-checked too.
    */
  def ivfRecallReport(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val exact = bruteForceTopK(embeddings, k, nQueries).select(col("qid"), col("cid"))
    val approx = ivfTopK(embeddings, k, nQueries, iters = 0).select(col("qid"), col("cid"))
    val hits = exact.join(approx, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    // recall denominator is the constant k (matching the oracle SQL), NOT
    // the per-query exact result count: on a corpus with <= k non-self
    // vectors the two diverge, and recall@k is conventionally out-of-k.
    // The distinct enumerates qids so zero-hit queries still emit a row.
    exact.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k), 6)
          .as("recall"))
      .orderBy("qid")
  }

  /** Per-label centroids in long form (label, dimension, mean):
    * posexplode + groupBy — the elementwise-mean aggregate Spark
    * lacks natively, in partial-agg shape (shuffle = labels × dims
    * doubles). Long form keeps the oracle trivial and feeds straight
    * back into IVF as trained centroids.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg("v"), 6).as("mean_v"), count(lit(1)).as("n"))
      .orderBy("label", "pos")

  /** Label-confusion matrix: cosine similarity between every pair of
    * label centroids — the class-overlap diagnostic read before
    * trusting labels for hard-negative mining or stratified dedup
    * (two labels whose centroids cosine ≈ 1 are the same concept
    * split by naming, and their "negatives" would be false). Builds
    * on the rounded [[labelCentroids]] table (labels × dims — KBs),
    * so the pairwise stage is a broadcast self-join over a
    * label-count-sized frame; the corpus is read once by the
    * centroid aggregate.
    */
  def labelConfusion(embeddings: DataFrame): DataFrame = {
    val centroids = labelCentroids(embeddings)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("cs"))
      .select(col("label"), expr("transform(cs, c -> c.mean_v)").as("centroid"))
    val a = centroids.select(col("label").as("label_a"), col("centroid").as("ca"))
    val b = centroids.select(col("label").as("label_b"), col("centroid").as("cb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(VectorFunctions.cosineSim(col("ca"), col("cb")), 6).as("centroid_sim"))
      .orderBy("label_a", "label_b")
  }

  /** Label-conditional outlier report: each vector's cosine
    * similarity to ITS label's centroid, flagging vectors below a
    * similarity floor — the SemDeDup-adjacent hygiene pass that
    * catches mislabeled/garbage embeddings before they poison a
    * semantic-dedup or curation run (a far-from-centroid vector is
    * either mislabeled or noise; both get reviewed, not averaged in).
    *
    * Shape at 100 TB: centroids come from [[labelCentroids]] (labels
    * × dims rows — KBs), collapse back to one array row per label,
    * and BROADCAST; scoring is then a map-only pass over the corpus
    * (one broadcast hash join on label, `graft_cosine` per row). No
    * corpus shuffle anywhere; the report filter keeps output
    * outlier-sized.
    */
  def labelOutliers(embeddings: DataFrame, maxSim: Double = 0.2): DataFrame = {
    val centroids = labelCentroids(embeddings)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("cs"))
      .select(col("label"), expr("transform(cs, c -> c.mean_v)").as("centroid"))
    embeddings
      .join(broadcast(centroids), "label")
      .select(col("label"), col("vec_id"),
        round(VectorFunctions.cosineSim(asDouble(col("embedding")), col("centroid")), 6)
          .as("centroid_sim"))
      .filter(col("centroid_sim") < maxSim)
      .orderBy("label", "vec_id")
  }

  /** Int8 scalar quantization report: per-vector affine (min, max)
    * quantization to 256 levels — the storage format that cuts an
    * embedding corpus 4× before ANN indexing — with the
    * reconstruction-error audit a pipeline needs before committing
    * to it. Codes use `floor((x - min) / scale)` (truncation, not
    * round-half — deterministic across engines, no tie convention).
    *
    * Scale shape: pure map-only projection, one row per vector, no
    * shuffle; the lambda only references materialized attribute
    * columns (mn / sc), never inlined subexpressions, so interpreted
    * HOF evaluation stays O(dim) per row. Error sums are O(1e-1) of
    * values ~1e-3, so round(…, 6) is far above any summation-order
    * noise and the report hash-matches DuckDB exactly.
    */
  def quantizeInt8Report(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("mn"),
        ((array_max(col("v")) - array_min(col("v"))) / 255.0).as("sc"))
      .select(col("vec_id"), col("v"),
        when(col("sc") === 0, transform(col("v"), _ => lit(0.0)))
          .otherwise(transform(col("v"), x =>
            abs(x - (col("mn") + floor((x - col("mn")) / col("sc")) * col("sc")))))
          .as("errs"),
        col("sc"))
      .select(
        col("vec_id"),
        size(col("v")).as("dim"),
        round(col("sc"), 6).as("scale"),
        round(array_max(col("errs")), 6).as("max_err"),
        round(
          aggregate(col("errs"), lit(0.0), (acc, x) => acc + x) / size(col("v")), 6)
          .as("mean_err"))
      .orderBy("vec_id")

  /** Per-vector audit stats via higher-order array functions —
    * `aggregate` (sequential fold → deterministic sum order),
    * `filter`, `transform`, `array_max` — the embedding-hygiene
    * check (norms, dead/positive dims, outliers) a pipeline runs
    * before indexing a corpus.
    *
    * Scale shape: map-only projection, one row per vector, no
    * shuffle; lambdas fold over the materialized array column
    * directly (never an inlined subexpression — the interpreted-HOF
    * re-evaluation trap), so the pass is O(dim) per row. For a hot
    * inner loop the codegen'd `graft_cosine` Expression shows the
    * upgrade path; for an audit pass the HOF surface is the right
    * cost/clarity trade.
    */
  def vectorStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(
        col("vec_id"),
        size(col("v")).cast("long").as("dim"),
        round(sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)), 6)
          .as("l2_norm"),
        size(filter(col("v"), x => x > 0)).cast("long").as("n_pos"),
        round(array_max(transform(col("v"), x => abs(x))), 6).as("max_abs"))
      .orderBy("vec_id")

  /** Johnson-Lindenstrauss-style random projection: reduce each
    * embedding to `outDim` components against a deterministic
    * splitmix64 matrix (same generator as the hyperplane LSH, offset
    * plane ids) — the cheap dimensionality cut before clustering or
    * coarse ANN when 4x-8x fewer floats per vector is worth ~epsilon
    * distance distortion.
    *
    * Map-only: the matrix is outDim x dim of compile-time literals
    * (KBs, inlined into the plan — nothing broadcast, nothing
    * collected), each component a zip_with dot product folded
    * sequentially so the sum order is engine-portable; round(…,6)
    * absorbs last-ulp noise.
    */
  def randomProjection(embeddings: DataFrame, outDim: Int = 8, dim: Int = 64): DataFrame = {
    import graft.functions.HyperplaneSignature.comp
    val v = asDouble(col("embedding"))
    val projCols = (0 until outDim).map { k =>
      val w = array((0 until dim).map(j => lit(comp(1000 + k, j))): _*)
      round(aggregate(zip_with(v, w, (x, p) => x * p), lit(0.0), (acc, x) => acc + x), 6)
        .as(s"p$k")
    }
    embeddings.select(col("vec_id") +: projCols: _*).orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicate pairs above a similarity
    * threshold, bucketed by banded multi-table random-hyperplane LSH
    * ([[graft.functions.HyperplaneSignature]]): per table, vectors
    * agreeing on all `bitsPerTable` hyperplane signs share a bucket;
    * candidates are pairs sharing ANY table's bucket (OR across
    * tables → recall that a single wide table loses), scored with the
    * codegen'd cosine only within buckets.
    *
    * Scale shape: the signature is a map-only projection
    * (dimension-generic — no hard-coded dim); candidates come from the
    * capped (table_idx, bucket) join of [[Lsh]], scored before the
    * cross-table pair dedup.
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double = 0.95,
                         nTables: Int = 4, bitsPerTable: Int = 8,
                         maxBucket: Int = 256): DataFrame = {
    val bucket = Seq("table_idx", "bucket")
    val capped = Lsh.capBuckets(embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        posexplode(VectorFunctions.hyperplaneSig(col("v"), nTables, bitsPerTable))
          .as(Seq("table_idx", "bucket"))),
      bucket, "vec_id", maxBucket)
    Lsh.bucketPairs(capped, capped, bucket, "vec_id", "v", "cos_sim",
        (x, y) => round(VectorFunctions.cosineSim(x, y), 6), _ >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Semantic dedup groups (SemDeDup, Abbas et al. 2023): embedding
    * near-duplicate PAIRS from the banded hyperplane LSH
    * ([[cosineNearDupPairs]] — Σ bucket² candidate generation, never
    * n²) resolved into connected components
    * ([[Dedup.connectedGroups]] — per-partition union-find, then a
    * label check: one round of four Spark jobs when the clusters are
    * dense), so transitively-linked paraphrase clusters collapse to
    * one group id (= min member). Downstream keeps one representative
    * per group. `pairs` is the [[cosineNearDupPairs]] output; both
    * legs are the already-scale-argued building blocks, and the
    * composition adds no new shuffle shape.
    */
  def semanticGroups(pairs: DataFrame): DataFrame =
    Dedup.connectedGroups(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("group_id"))
      .orderBy("vec_id")

  /** The default cutoff grid of [[thresholdSweep]]. Its minimum, 0.2,
    * is the threshold the registry's shared `pairs_cosine_lsh` memo is
    * mined at, so every cutoff counts the full candidate set; a lower
    * cutoff needs pairs mined at that cutoff or below.
    */
  val defaultSweepGrid: Seq[Double] = Seq(0.2, 0.25, 0.3, 0.35, 0.4, 0.45,
    0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9)

  /** Near-dup threshold calibration curve: pair count at every
    * candidate cosine cutoff — the report a curator reads BEFORE
    * picking the semantic-dedup threshold (where does the count
    * elbow? how many docs would each setting remove?). Counts are
    * cumulative over the same LSH candidate set [[cosineNearDupPairs]]
    * mines, so the curve describes exactly what the production dedup
    * would do at each setting.
    *
    * Shape at 100 TB: the pair set is LSH-bucket-bounded (never
    * all-pairs); the grid is a compile-time ≤ 15-row broadcast, so
    * the range join is a bounded nested loop (≤ |grid| fan-out per
    * pair — the audited pattern), collapsing straight into a
    * 15-group partial aggregate. LEFT join keeps zero-count rows so
    * the curve's tail is explicit. `pairs` must be mined at (or
    * below) `thresholds.min`, so the cumulative counts describe the
    * full candidate set.
    */
  def thresholdSweep(pairs: DataFrame,
                     thresholds: Seq[Double] = defaultSweepGrid): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val grid = thresholds.toDF("threshold")
    // inner BNLJ with the GRID as the broadcast build side (pairs
    // stream), then a 15×15 hash join restores zero-count cutoffs —
    // never builds on the pair set.
    val counted = pairs.join(broadcast(grid), col("cos_sim") >= col("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    grid.join(counted, Seq("threshold"), "left")
      .select(col("threshold"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("threshold")
  }

  /** IVF probe-count sweep: recall@k and candidate-set size per
    * query at nProbe ∈ `levels` — the cost/recall trade-off curve an
    * index owner reads before fixing nProbe (the [[lshBandPlan]]
    * analogue for the ANN side, but measured on the live index, not
    * closed-form). Seed centroids (iters = 0) keep it oracle-exact.
    *
    * One pass builds everything: scored candidates carry the probe
    * rank of their cell, so "candidates at level p" is a broadcast
    * BNLJ against the tiny levels grid (`probe_rn` ≤ `n_probe`) —
    * the corpus is scored ONCE, not once per level. Ranking windows
    * partition by (level, query): bounded keys × bounded candidates.
    */
  def ivfProbeSweep(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
                    nCells: Int = 16,
                    levels: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = seedCentroids(embeddings, nCells)
    val assigned = assignToCells(embeddings, cents)
    val (queries, probeRanked) = rankedProbes(embeddings, cents, nQueries, levels.max)
    val scored = probeRanked.join(assigned, "cell_id")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"), col("probe_rn"),
        round(VectorFunctions.cosineSim(col("qv"), col("v")), 6).as("cos_sim"))
    val lv = levels.toDF("n_probe")
    val cand = scored.join(broadcast(lv), col("probe_rn") <= col("n_probe"))
    val wTop = Window.partitionBy("n_probe", "qid")
      .orderBy(col("cos_sim").desc, col("cid"))
    val ivfTop = cand.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k).select("n_probe", "qid", "cid")
    val truth = bruteForceTopK(embeddings, k, nQueries).select("qid", "cid")
    val hits = ivfTop.join(truth, Seq("qid", "cid"))
      .groupBy("n_probe", "qid").agg(count(lit(1)).as("n_hit"))
    val nCand = cand.groupBy("n_probe", "qid").agg(count(lit(1)).as("n_candidates"))
    lv.crossJoin(queries.select("qid"))
      .join(nCand, Seq("n_probe", "qid"), "left_outer")
      .join(hits, Seq("n_probe", "qid"), "left_outer")
      .select(col("n_probe"), col("qid"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hit"), lit(0L)).cast("int").as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 6).as("recall"))
      .orderBy("n_probe", "qid")
  }

  /** IVF cell-balance report: vectors per cell with share and load
    * factor (n · nCells / total — 1.0 is perfectly balanced) — the
    * index-health check run after [[ivfAssign]] and before committing
    * nCells/nProbe: a cell with load 8× means its probes scan 8× the
    * expected candidates ([[ivfProbeSweep]] then measures what that
    * costs), and empty-ish cells waste probe budget. Seed centroids
    * for oracle exactness; one count aggregate over the map-only
    * assignment, total rides the 1-row broadcast scalar pattern.
    */
  def ivfCellBalance(embeddings: DataFrame, nCells: Int = 16): DataFrame = {
    val counts = assignToCells(embeddings, seedCentroids(embeddings, nCells))
      .groupBy("cell_id").agg(count(lit(1)).as("n_vectors"))
    counts.crossJoin(broadcast(counts.agg(sum("n_vectors").as("total"))))
      .select(col("cell_id"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("total"), 6).as("share"),
        round(col("n_vectors").cast("double") * nCells / col("total"), 6)
          .as("load_factor"))
      .orderBy("cell_id")
  }

  /** Per-cell cohesion of the seed-centroid IVF index: vector count
    * plus mean and minimum cosine to the OWN cell centroid — the
    * quality axis [[ivfCellBalance]]'s size axis doesn't see (a cell
    * can be perfectly sized and still be a junk-drawer of unrelated
    * vectors; low mean_sim cells are where [[ivfProbeSweep]] recall
    * dies first). Same broadcast-centroid map-only assignment as
    * every IVF op; the report agg is nCells keys.
    */
  def ivfCellCohesion(embeddings: DataFrame, nCells: Int = 16): DataFrame = {
    assignToCells(embeddings, seedCentroids(embeddings, nCells))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_vectors"),
        round(avg("sim"), 6).as("mean_sim"),
        round(min("sim"), 6).as("min_sim"))
      .orderBy("cell_id")
  }

  /** Effective dimensionality: per-coordinate variance with its share
    * of total variance, the cumulative share in descending-variance
    * order ("how many dims hold 90%"), and the participation ratio
    * (Σλ)²/Σλ² — the axis-aligned screen run before paying for
    * [[randomProjection]] / [[truncatedDimRecall]] experiments (if 10
    * of 64 dims hold the variance, truncation is nearly free; PR ≈ 64
    * says don't bother). Axis-aligned variance, not PCA — the
    * covariance-free one-pass version ([[topComponent]] finds the
    * rotated direction when this screen says it exists).
    * One posexplode aggregate (dims-keyed); totals ride a 1-row
    * broadcast; the cumulative window runs on the 64-row dim table.
    */
  def effectiveDims(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vars = embeddings
      .select(posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy("dim").agg(var_pop(col("x")).as("v"))
    val tot = vars.agg(sum("v").as("tv"), sum(col("v") * col("v")).as("tv2"))
    val w = Window.orderBy(col("v").desc, col("dim"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vars.crossJoin(broadcast(tot))
      .withColumn("cum", sum("v").over(w))
      .select(col("dim"), round(col("v"), 9).as("variance"),
        round(col("v") / col("tv"), 6).as("var_share"),
        round(col("cum") / col("tv"), 6).as("cum_share"),
        round(col("tv") * col("tv") / col("tv2"), 4).as("participation_ratio"))
      .orderBy(col("variance").desc, col("dim"))
  }

  /** Embedding coverage per source: how many of each source's
    * documents actually HAVE a vector in the embeddings table — the
    * pipeline-completeness audit run before any embedding-based
    * curation decision (a dedup/quality pass that silently skips the
    * 60% of a source the embedder never processed is biased exactly
    * where it's blind; `dedup_lex_vs_sem`'s inner joins make that
    * coverage dependence explicit). One left semi-ish join on the id
    * (broadcast the id projection if the embedding table is the
    * smaller side, as here) + a sources-sized rollup.
    */
  def embeddingCoverage(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val withVec = documents.select(col("doc_id"), col("source"))
      .join(embeddings.select(col("vec_id").as("doc_id"), lit(1L).as("has_vec")),
        Seq("doc_id"), "left_outer")
    withVec.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("has_vec"), lit(0L)).as("n_with_vec"))
      .select(col("source"), col("n_docs"), col("n_with_vec"),
        round(col("n_with_vec").cast("double") / col("n_docs"), 6).as("coverage"))
      .orderBy("source")
  }

  /** Per-vector label margin: similarity to the OWN label's centroid
    * minus the best similarity to any OTHER label's centroid — the
    * separability audit behind hard-negative mining and
    * label-stratified curation (negative margin ⇒ the vector sits in
    * another class's territory: mislabeled, or the classes overlap;
    * [[labelConfusion]] says which classes, this says which rows).
    * Centroids are the rounded [[labelCentroids]] table collapsed to
    * one array per label and BROADCAST; scoring is a map-only pass
    * over the corpus with a labels-count fan-out collapsed by one
    * keyed aggregate — no corpus shuffle.
    */
  def labelMargin(embeddings: DataFrame): DataFrame = {
    val centroids = labelCentroids(embeddings)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("cs"))
      .select(col("label").as("cl"), expr("transform(cs, c -> c.mean_v)").as("centroid"))
    embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("cl"),
        VectorFunctions.cosineSim(col("v"), col("centroid")).as("sim"))
      .groupBy("vec_id", "label")
      .agg(max(when(col("cl") === col("label"), col("sim"))).as("own_raw"),
        max(when(col("cl") =!= col("label"), col("sim"))).as("other_raw"))
      .select(col("vec_id"), col("label"),
        round(col("own_raw"), 6).as("own_sim"),
        round(col("other_raw"), 6).as("best_other_sim"),
        round(col("own_raw") - col("other_raw"), 6).as("margin"))
      .orderBy("vec_id")
  }

  /** Neighborhood label homophily: for each query, how many of its
    * exact top-k cosine neighbors share its label — the "do
    * embeddings respect the labels" smoke test (homophily ≈ 1/|labels|
    * means the space ignores labels; [[labelMargin]] scores
    * centroid-level separation, this scores the NEIGHBORHOOD level,
    * which is what kNN-style retrieval actually experiences). Rides
    * the proven broadcast-query top-k frame plus two label attaches
    * on the (queries × k)-row result.
    */
  def knnLabelHomophily(embeddings: DataFrame, k: Int = 5,
                        nQueries: Int = 10): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    bruteForceTopK(embeddings, k, nQueries)
      .join(broadcast(labels.select(col("vec_id").as("qid"),
        col("label").as("q_label"))), Seq("qid"))
      .join(labels.select(col("vec_id").as("cid"), col("label").as("c_label")),
        Seq("cid"))
      .groupBy("qid", "q_label")
      .agg(sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L))
        .as("n_same"))
      .select(col("qid"), col("q_label"), col("n_same").cast("int").as("n_same"),
        round(col("n_same").cast("double") / k, 6).as("homophily"))
      .orderBy("qid")
  }

  /** Radius (range) search census: for each query, how many corpus
    * vectors lie within cosine ≥ τ, with the best match — the
    * range-query complement of [[bruteForceTopK]] (top-k answers
    * "give me k no matter how far"; radius answers "how crowded is
    * this neighborhood", which is what dedup-threshold and
    * density-bias decisions actually need). Same broadcast-query
    * scoring frame, finished by one small aggregate instead of a
    * heap.
    */
  def radiusSearch(embeddings: DataFrame, tau: Double = 0.2,
                   nQueries: Int = 10): DataFrame =
    bruteForceScored(embeddings, nQueries)
      .groupBy("qid")
      .agg(sum(when(col("cos_sim") >= tau, 1L).otherwise(0L)).as("n_within"),
        round(max("cos_sim"), 6).as("best_sim"))
      .orderBy("qid")

  /** Truncated-dimension retrieval recall: overlap@k between the
    * full-dimension cosine top-k (ground truth) and the top-k
    * computed on only the first `keepDims` coordinates — the
    * Matryoshka-style "can we search on a prefix of the vector"
    * audit run before committing to a cheaper index dimension
    * (complement of [[randomProjection]], which changes the basis;
    * this keeps it and just truncates).
    *
    * Both sides are the proven broadcast-query scoring frame with the
    * bounded-heap top-k finisher; the truncated leg simply slices the
    * stored vector before scoring, so corpus bytes are read once per
    * leg and never shuffled. The final overlap count joins two
    * (queries×k)-row tables — driver-trivial at any corpus size.
    */
  def truncatedDimRecall(embeddings: DataFrame, k: Int = 5,
                         nQueries: Int = 10, keepDims: Int = 32): DataFrame = {
    val truth = bruteForceTopK(embeddings, k, nQueries)
    val sliced = embeddings.withColumn(
      "embedding", slice(col("embedding"), 1, keepDims))
    val trunc = bruteForceTopK(sliced, k, nQueries)
    val overlap = truth.as("f")
      .join(trunc.as("t"), Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
    truth.select("qid").distinct()
      .join(overlap, Seq("qid"), "left_outer")
      .select(col("qid"),
        coalesce(col("n_overlap"), lit(0L)).cast("int").as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
      .orderBy("qid")
  }

  /** Unbiased cosine-similarity histogram over a deterministic pair
    * sample: vectors with vec_id ≡ 0 (mod `modA`) × vectors with
    * vec_id ≡ 0 (mod `modB`) — the full-distribution census
    * (including the negative lobe) that calibrates every threshold
    * the LSH/ANN ops take as input. [[thresholdSweep]] counts only
    * LSH-candidate pairs above a floor; this op answers "what does a
    * RANDOM pair look like", which is what separates a meaningful
    * 0.8 from an ambient one.
    *
    * Coprime moduli keep the two samples independent, and `maxSide`
    * caps each side to a fixed-size md5-ordered panel — a
    * percentage-style sample alone still grows n²/(modA·modB) pairs
    * (measured 14× on a 10× corpus), while capped panels make the
    * census cost FLAT in corpus size (only panel selection scans the
    * corpus; `TakeOrderedAndProject` bounded heaps, no global sort).
    * The smaller side broadcasts (it is the build side). Bucketing
    * runs on the ROUNDED cosine so both engines bucket identical
    * values — an unrounded value a double-ulp below a bucket edge
    * would otherwise flip buckets between engines. Map-only scoring
    * after the broadcast; the histogram agg is ≤ 2·nBins keys.
    */
  def pairCosineHistogram(embeddings: DataFrame, modA: Int = 37, modB: Int = 41,
                          nBins: Int = 10, maxSide: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = embeddings.filter(pmod(col("vec_id"), lit(modA)) === 0)
      .withColumn("_h", md5(col("vec_id").cast("string")))
      .orderBy("_h").limit(maxSide)
      .select(col("vec_id").as("ida"), asDouble(col("embedding")).as("va"))
    val b = embeddings.filter(pmod(col("vec_id"), lit(modB)) === 0)
      .withColumn("_h", md5(col("vec_id").cast("string")))
      .orderBy("_h").limit(maxSide)
      .select(col("vec_id").as("idb"), asDouble(col("embedding")).as("vb"))
    val scored = broadcast(a).join(b, col("ida") =!= col("idb"))
      .select(round(VectorFunctions.cosineSim(col("va"), col("vb")), 6).as("cs"))
    val binned = scored
      .select(least(floor(col("cs") * nBins), lit(nBins - 1)).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    binned
      .select(col("bucket"),
        round(col("bucket").cast("double") / nBins, 6).as("lo"),
        round((col("bucket") + 1).cast("double") / nBins, 6).as("hi"),
        col("n_pairs"),
        round(col("n_pairs") / sum("n_pairs").over(Window.partitionBy()), 6)
          .as("share"))
      .orderBy("bucket")
  }

  /** IVF cell label purity: per cell, the share of vectors carrying
    * the cell's majority label — the external-validity check on the
    * coarse quantizer ([[ivfCellBalance]] sees size skew,
    * [[ivfCellCohesion]] sees geometric spread; purity sees whether
    * cells MEAN anything). Uses the deterministic seed-centroid
    * assignment (iters=0, same as the oracle-twinned IVF paths); ties
    * in the majority vote break toward the smaller label id.
    *
    * Shape at 100 TB: assignment is the broadcast-16-centroid scoring
    * pass; everything after runs on the (cells × labels)-sized count
    * table with cell-partitioned windows.
    */
  def cellLabelPurity(embeddings: DataFrame, nCells: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssign(embeddings, nCells, iters = 0)
      .select("vec_id", "cell_id")
      .join(embeddings.select("vec_id", "label"), "vec_id")
    val byCell = Window.partitionBy("cell_id")
    assigned.groupBy("cell_id", "label").agg(count(lit(1)).as("n"))
      .withColumn("n_vectors", sum("n").over(byCell))
      .withColumn("rn", row_number().over(byCell.orderBy(desc("n"), col("label"))))
      .filter(col("rn") === 1)
      .select(col("cell_id"), col("n_vectors"),
        col("label").as("majority_label"),
        round(col("n") / col("n_vectors"), 6).as("purity"))
      .orderBy("cell_id")
  }

  /** Reciprocal-rank fusion (Cormack–Clarke–Buettcher 2009): merge
    * the cosine top-`poolK` and inner-product top-`poolK` lists per
    * query by Σ 1/(c + rank) — the standard parameter-free way to
    * combine retrieval signals (here: direction vs direction×norm;
    * in production: dense + BM25). RRF needs only RANKS, never score
    * calibration, and 1/(c+rank) on exact integer ranks is
    * bit-identical cross-engine before the single rounding.
    *
    * Shape at 100 TB: both input lists come from the broadcast-query
    * bounded-heap scorers (corpus read twice, map-side reduced to
    * poolK per query); fusion joins two |queries|×poolK tables.
    */
  def rrfFusion(embeddings: DataFrame, k: Int = 5, poolK: Int = 10,
                nQueries: Int = 10, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cosR = bruteForceTopK(embeddings, poolK, nQueries)
      .select(col("qid"), col("cid"), col("rnk").as("rc"))
    val dotR = mipsTopK(embeddings, poolK, nQueries)
      .select(col("qid"), col("cid"), col("rnk").as("rd"))
    val fused = cosR.join(dotR, Seq("qid", "cid"), "full_outer")
      .select(col("qid"), col("cid"),
        round(coalesce(lit(1.0) / (lit(c) + col("rc")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rd")), lit(0.0)), 6).as("rrf"))
    val w = Window.partitionBy("qid").orderBy(desc("rrf"), col("cid"))
    fused.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "cid", "rrf")
      .orderBy("qid", "rnk")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998): from the query's top-`nCand` cosine candidates, greedily
    * pick `k` results maximizing λ·rel(c) − μ·max_{s∈S} sim(c, s) —
    * the diversified retrieval head that keeps a near-dup-heavy
    * corpus from returning k copies of one document. Every score is
    * rounded to 6 before any argmax (ties broken by id), so the
    * greedy trajectory is identical cross-engine; λ and μ are
    * independent literals (never 1−λ, whose binary representation
    * would differ from a 0.3 literal).
    *
    * Shape at 100 TB: one broadcast-query scoring pass over the
    * corpus ends in a TakeOrdered top-nCand; everything after —
    * the nCand² pair-sim table and k greedy steps — runs on ≤ 20-row
    * frames (localCheckpointed per step to keep the iterative plan
    * flat). The selection loop is k driver-side plan builds, not
    * data movement.
    */
  def mmrRerank(embeddings: DataFrame, k: Int = 5, nCand: Int = 20,
                lambdaRel: Double = 0.7, muDiv: Double = 0.3,
                queryId: Long = 0L): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(asDouble(col("embedding")).as("qv"))
    val cands = embeddings.filter(col("vec_id") =!= queryId)
      .select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
      .crossJoin(broadcast(q))
      .select(col("cid"), col("cv"),
        round(VectorFunctions.cosineSim(col("cv"), col("qv")), 6).as("rel"))
      .orderBy(desc("rel"), col("cid")).limit(nCand)
      .localCheckpoint(true)
    val pairs = cands.select(col("cid").as("aid"), col("cv").as("av"),
        col("rel").as("arel"))
      .crossJoin(broadcast(cands.select(col("cid").as("bid"), col("cv").as("bv"))))
      .filter(col("aid") =!= col("bid"))
      .select(col("aid"), col("arel"), col("bid"),
        round(VectorFunctions.cosineSim(col("av"), col("bv")), 6).as("sim"))
      .localCheckpoint(true)
    var selected = cands.orderBy(desc("rel"), col("cid")).limit(1)
      .select(col("cid"), col("rel"), lit(1).as("step"), col("rel").as("mmr_score"))
      .localCheckpoint(true)
    for (step <- 2 to k) {
      val scored = pairs
        .join(broadcast(selected.select(col("cid").as("bid"))), Seq("bid"))
        .groupBy("aid", "arel").agg(max("sim").as("max_sim"))
        .join(selected.select(col("cid").as("aid")), Seq("aid"), "left_anti")
        .select(col("aid"), col("arel"),
          round(lit(lambdaRel) * col("arel") - lit(muDiv) * col("max_sim"), 6)
            .as("mmr"))
      val pick = scored.orderBy(desc("mmr"), col("aid")).limit(1)
        .select(col("aid").as("cid"), col("arel").as("rel"),
          lit(step).as("step"), col("mmr").as("mmr_score"))
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    selected.select(col("step"), col("cid").as("vec_id"), col("rel"),
      col("mmr_score")).orderBy("step")
  }
}
