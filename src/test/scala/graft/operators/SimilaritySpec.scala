package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object SimilaritySpec {
  /** Cosine as three higher-order aggregates: the bit-for-bit
    * reference for [[graft.functions.CosineSimilarity]].
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = aggregate(a, lit(0.0), (acc, x) => acc + x * x)
    val nb = aggregate(b, lit(0.0), (acc, x) => acc + x * x)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** The per-query top-k finisher as a row_number window over
    * `(qid, cid, cos_sim)` rows: the reference for the bounded-heap
    * aggregate behind [[Similarity.bruteForceTopK]].
    */
  def topKPerQueryWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "cid", "cos_sim")
      .orderBy("qid", "rnk")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._
  import SimilaritySpec.{cosine, topKPerQueryWindow}

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine: known vectors") {
    val d = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 2.0), Seq(2.0, 4.0)))
      .toDF("a", "b")
    val out = d.select(cosine(col("a"), col("b")).as("c"),
        graft.functions.VectorFunctions.cosineSim(col("a"), col("b")).as("k"))
      .collect()
    for (i <- 0 to 1) {
      assert(math.abs(out(0).getDouble(i) - 0.0) < 1e-12)
      assert(math.abs(out(1).getDouble(i) - 1.0) < 1e-12)
    }
  }

  test("codegen CosineSimilarity matches the higher-order-function formulation bit-for-bit") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val paired = e.select(col("vec_id"), col("v"))
      .crossJoin(e.select(col("vec_id").as("id2"), col("v").as("v2")))
      .filter(col("vec_id") < col("id2")).limit(200)
    val diffs = paired.select(
      cosine(col("v"), col("v2")).as("hof"),
      graft.functions.VectorFunctions.cosineSim(col("v"), col("v2")).as("cg"))
      .filter(col("hof") =!= col("cg")).count()
    assert(diffs == 0L)
  }

  test("graft_cosine is available in SQL via session extensions (no manual registration)") {
    // the shared session is built by GraftSession → GraftExtensions
    // injectFunction makes the function resolvable from plain SQL
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("bruteForceTopK: identical vector ranks first") {
    val v1 = Seq.tabulate(64)(i => math.sin(i).toFloat)
    val v2 = Seq.tabulate(64)(i => math.cos(i * 2).toFloat)
    val d = emb(0L -> v1, 10L -> v1, 11L -> v2, 12L -> v2.map(x => (-x)))
    val out = Similarity.bruteForceTopK(d, k = 3, nQueries = 1).collect()
    assert(out.length == 3)
    // rank 1 must be the duplicate of the query vector
    assert(out.head.getLong(2) == 10L)
    assert(out.head.getDouble(3) == 1.0)
  }

  test("ivfTopK achieves reasonable recall vs brute force on real embeddings") {
    val e = Tables.embeddings(spark, sf0001)
    val exact = Similarity.bruteForceTopK(e, k = 5, nQueries = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.ivfTopK(e, k = 5, nQueries = 5, nCells = 8, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low (nProbe=4/8 cells)")
    // probing all cells must recover brute force exactly
    val full = Similarity.ivfTopK(e, k = 5, nQueries = 5, nCells = 8, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == exact)
  }

  test("k-means training lifts IVF recall; trained probe-all still exact") {
    val e = Tables.embeddings(spark, sf0001)
    val exact = Similarity.bruteForceTopK(e, k = 5, nQueries = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val trained = Similarity.ivfTopK(e, k = 5, nQueries = 10, nCells = 16, nProbe = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & trained).size.toDouble / exact.size
    assert(recall >= 0.8, s"trained IVF recall $recall < 0.8 (nProbe=4/16 cells)")
    // training must not break the probe-all == exact invariant
    val full = Similarity.ivfTopK(e, k = 5, nQueries = 10, nCells = 16, nProbe = 16, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == exact)
    // training is deterministic across partitionings
    val c1 = Similarity.trainCentroids(e, 8, 2)
    val c2 = Similarity.trainCentroids(e.repartition(7), 8, 2)
    assert(c1 == c2)
  }

  test("cosineNearDupPairs finds planted near-duplicates (dim != 64)") {
    // 48-dim frame: the signature must derive dim from the data —
    // the old formulation hard-coded 64 and nulled out here
    val base = Seq.tabulate(48)(i => (math.sin(i * 1.7) * 10).toFloat)
    val nearDup = base.updated(0, base(0) + 0.01f)
    val noise = Seq.tabulate(48)(i => (math.cos(i * 3.1) * 10).toFloat)
    val d = emb(1L -> base, 2L -> nearDup, 3L -> noise)
    val out = Similarity.cosineNearDupPairs(d, threshold = 0.99,
      nTables = 4, bitsPerTable = 4).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("cosineNearDupPairs: maxBucket caps candidate work; more tables = more recall") {
    val e = Tables.embeddings(spark, sf0001)
    // cap 1: at most one vector survives per bucket → zero pairs
    assert(Similarity.cosineNearDupPairs(e, threshold = 0.0,
      nTables = 2, bitsPerTable = 4, maxBucket = 1).count() == 0L)
    // more tables can only add candidate pairs (OR across tables)
    val one = Similarity.cosineNearDupPairs(e, threshold = 0.2,
      nTables = 1, bitsPerTable = 8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val four = Similarity.cosineNearDupPairs(e, threshold = 0.2,
      nTables = 4, bitsPerTable = 8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one.subsetOf(four))
    assert(four.nonEmpty, "4-table LSH found no pairs at threshold 0.2")
  }

  test("quantizeInt8Report: error bounded by one step; constant vectors degrade to zero") {
    import spark.implicits._
    val real = Similarity.quantizeInt8Report(Tables.embeddings(spark, sf0001)).collect()
    assert(real.length == 500)
    real.foreach { r =>
      val (scale, maxErr, meanErr) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(maxErr <= scale + 1e-9, s"max_err $maxErr exceeds one quantization step $scale")
      assert(meanErr <= maxErr + 1e-9)
    }
    val const = Seq((1L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8Report(const).collect().head
    assert((r.getDouble(2), r.getDouble(3), r.getDouble(4)) == ((0.0, 0.0, 0.0)))
  }

  test("labelOutliers: flags the vector pointing away from its label centroid") {
    import spark.implicits._
    // label "a": three near-identical vectors + one anti-aligned outlier;
    // the centroid stays dominated by the majority direction
    val e = Seq(
      (1L, "a", Array(1.0f, 0.0f)),
      (2L, "a", Array(0.9f, 0.1f)),
      (3L, "a", Array(1.0f, 0.1f)),
      (4L, "a", Array(-1.0f, -0.1f)), // outlier: cosine vs centroid ≈ -1
      (5L, "b", Array(0.0f, 1.0f))    // singleton label = its own centroid, sim 1
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.labelOutliers(e, maxSim = 0.2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1 && out.head._1 == "a" && out.head._2 == 4L, out.toSeq.toString)
    assert(out.head._3 < -0.9)
    // centroid table must broadcast — the corpus side never shuffles
    val plan = Similarity.labelOutliers(e).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$plan")
  }

  test("vectorStats: exact norms/counts on known vectors; map-only plan") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(3.0f, -4.0f)),           // l2 = 5, n_pos = 1, max_abs = 4
      (2L, Array(0.0f, 0.0f, 0.0f)),      // all-zero vector: l2 = 0, n_pos = 0
      (3L, Array(1.0f, 1.0f, 1.0f, 1.0f)) // l2 = 2
    ).toDF("vec_id", "embedding")
    val out = Similarity.vectorStats(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, 5.0, 1L, 4.0),
      (2L, 3L, 0.0, 0L, 0.0),
      (3L, 4L, 2.0, 4L, 1.0)), out.toSeq.toString)
    // audit pass must stay shuffle-free (ordering aside): no Exchange
    // before the sort that presents results
    val plan = Similarity.vectorStats(e).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), s"unexpected shuffle in map-only audit:\n$plan")
  }

  test("randomProjection: basis vectors read out exact matrix components") {
    import spark.implicits._
    import graft.functions.HyperplaneSignature.comp
    // e_j projects to exactly row j of the matrix; zero vector to zeros
    val basis5 = Array.tabulate(64)(j => if (j == 5) 1.0f else 0.0f)
    val e = Seq((1L, basis5), (2L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(e).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getDouble).toSeq).toMap
    val expect = (0 until 8).map(k => BigDecimal(comp(1000 + k, 5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1L) == expect, s"${out(1L)} vs $expect")
    assert(out(2L) == Seq.fill(8)(0.0))
  }

  test("bounded-heap top-k finisher matches the window formulation row-for-row") {
    val e = Tables.embeddings(spark, sf0001)
    val scored = Similarity.bruteForceScored(e, nQueries = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(Similarity.bruteForceTopK(e, k = 5, nQueries = 10)) ==
      rows(topKPerQueryWindow(scored, 5)))
    // and across partitionings (merge path of the aggregator)
    assert(rows(Similarity.bruteForceTopK(e.repartition(13), k = 5, nQueries = 10)) ==
      rows(topKPerQueryWindow(scored, 5)))
  }

  test("semanticGroups: planted clusters collapse to min-id groups; singleton excluded") {
    import spark.implicits._
    def base(f: Int => Double) = (i: Int) =>
      Array.tabulate(64)(j => (f(j) + 1e-4 * i).toFloat)
    val clusterA = base(j => math.sin(j + 1))
    val clusterB = base(j => math.cos(3 * j + 2))
    val lone = Array.tabulate(64)(j => (if (j % 2 == 0) 1.0f else -1.0f))
    val e = (Seq(0, 1, 2).map(i => (i.toLong, clusterA(i))) ++
      Seq(10, 11).map(i => (i.toLong, clusterB(i))) :+ (20L, lone))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticGroups(Similarity.cosineNearDupPairs(e, threshold = 0.9))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L),
      out.toString)
  }

  test("knnGraph: symmetric membership on planted clusters, sample is honored") {
    import spark.implicits._
    // two tight clusters of near-identical vectors; every sampled
    // node's top neighbor must come from its own cluster
    def vec(base: Int, jitter: Float) =
      Array.tabulate(64)(j => (if (j % 2 == base % 2) 1.0f else 0.1f) + jitter * j)
    val e = (0 until 20).map(i => (i.toLong, vec(i % 2, 0.001f * (i / 2)))).toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(e, k = 3, samplePct = 100).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val nodes = out.map(_._1).distinct
    assert(nodes.length == 20) // samplePct=100 keeps everyone
    out.filter(_._2 == 1).foreach { case (q, _, c) =>
      assert(q % 2 == c % 2, s"node $q's nearest neighbor $c crossed clusters")
    }
    // sub-sampling keeps a strict, deterministic subset of nodes
    val sub = Similarity.knnGraph(e, k = 3, samplePct = 40).collect().map(_.getLong(0)).distinct
    assert(sub.nonEmpty && sub.length < 20)
    assert(Similarity.knnGraph(e, k = 3, samplePct = 40).collect().map(_.getLong(0)).distinct
      .sameElements(sub))
  }

  test("codegen InnerProduct matches a sequential fold bit-for-bit; SQL-visible") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val paired = e.crossJoin(e.select(col("vec_id").as("id2"), col("v").as("v2")))
      .filter(col("vec_id") < col("id2")).limit(200)
    val fold = aggregate(zip_with(col("v"), col("v2"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diffs = paired.select(fold.as("hof"),
      graft.functions.VectorFunctions.dotProduct(col("v"), col("v2")).as("cg"))
      .filter(col("hof") =!= col("cg")).count()
    assert(diffs == 0L)
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }

  test("mipsTopK ranks by norm-weighted relevance where cosine cannot") {
    import spark.implicits._
    // vectors 10 and 11 point the SAME direction as the query; 11 is
    // 3x longer. Cosine ties them; MIPS must put 11 first.
    val base = Seq.tabulate(16)(i => 1.0f + (i % 3))
    val e = Seq(
      (0L, base),
      (10L, base.map(_ * 1.0f)),
      (11L, base.map(_ * 3.0f)),
      (12L, base.map(x => -x))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mipsTopK(e, k = 3, nQueries = 1).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._2).take(2).toSeq == Seq(11L, 10L), out.mkString(","))
    // dot(q, 3q) = 3·dot(q, q)
    assert(math.abs(out(0)._3 - 3 * out(1)._3) < 1e-6)
  }

  test("hardNegatives: same-label near-misses are excluded, cross-label ranked") {
    import spark.implicits._
    // query 0 (label 0): its nearest vector 1 SHARES the label and must
    // not appear; the best cross-label vector is the true hard negative
    val e = Seq(
      (0L, Array.fill(8)(1.0f), 0),
      (1L, Array.tabulate(8)(j => if (j == 0) 0.99f else 1.0f), 0), // near-identical, same label
      (2L, Array.tabulate(8)(j => if (j < 6) 1.0f else 0.0f), 1),   // closest other-label
      (3L, Array.tabulate(8)(j => if (j < 2) 1.0f else 0.0f), 1),
      (4L, Array.tabulate(8)(j => if (j % 2 == 0) 1.0f else -1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(e, k = 2, nQueries = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.map(_._1).forall(_ == 0L))
    assert(!out.map(_._3).contains(1L), "same-label vector leaked into the negatives")
    assert(out.head == ((0L, 1, 2L)), out.mkString(","))
    assert(out.length == 2)
  }

  test("thresholdSweep: full grid with zero rows kept; counts cumulative-monotone") {
    // identical vectors (cos 1.0 pair, co-bucketed in every LSH
    // table) plus an orthogonal third
    val e = emb(
      (1L, Array.tabulate(64)(j => if (j == 0) 1.0f else 0.0f).toSeq),
      (2L, Array.tabulate(64)(j => if (j == 0) 1.0f else 0.0f).toSeq),
      (3L, Array.tabulate(64)(j => if (j == 1) 1.0f else 0.0f).toSeq))
    val pairs = Similarity.cosineNearDupPairs(e,
      threshold = Similarity.defaultSweepGrid.min)
    val rows = Similarity.thresholdSweep(pairs).collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(rows.length == 15, "every cutoff reported, including zero-count ones")
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted))
    // cumulative counts can only shrink as the cutoff rises
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 >= b._2 })
    // the identical pair (cos 1.0) survives even the 0.9 cutoff
    assert(rows.last._2 >= 1L, rows.mkString(","))
  }

  test("splitDrift: planted mean shift between train and holdout ids reads exactly") {
    import spark.implicits._
    def const(v: Float) = Array.fill(64)(v)
    // ids 0..7 → train (value 1.0), ids 8..9 → holdout (value 3.0)
    val e = (0L to 9L).map(i => (i, const(if (i % 10 < 8) 1.0f else 3.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.splitDrift(e).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 64)
    assert(out.forall { case (_, t, h, g) => t == 1.0 && h == 3.0 && g == 2.0 }, out.head.toString)
  }

  test("labelConfusion: identical-label pair reads 1.0, orthogonal pair 0.0") {
    import spark.implicits._
    def axis(j: Int, s: Float) = Array.tabulate(64)(k => if (k == j) s else 0.0f)
    val e = Seq(
      (1L, "a", axis(0, 1.0f)), (2L, "a", axis(0, 3.0f)),  // centroid along e0
      (3L, "b", axis(0, 2.0f)),                            // same direction as a
      (4L, "c", axis(1, 1.0f)))                            // orthogonal
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.labelConfusion(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("a", "b")) == 1.0, out.toString)
    assert(out(("a", "c")) == 0.0 && out(("b", "c")) == 0.0)
    assert(out.size == 3) // unordered pairs only, no diagonal
  }

  test("topComponent: recovers a planted dominant direction with its eigenvalue") {
    import spark.implicits._
    // ±2e₀ dominates a single e₁ vector: XᵀX = diag(8, 1, 0, ...) —
    // power iteration from e₀ stays exactly on e₀ with Rayleigh 8
    def axis(j: Int, s: Float) = Array.tabulate(64)(k => if (k == j) s else 0.0f)
    val e = Seq((1L, axis(0, 2.0f)), (2L, axis(0, -2.0f)), (3L, axis(1, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.topComponent(e).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(out.length == 64)
    assert(out.head == ((0, 1.0, 8.0)), out.head.toString)
    assert(out.tail.forall { case (_, l, eig) => l == 0.0 && eig == 8.0 })
  }

  test("dimensionStats: per-coordinate moments and dead-dim detection") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(3.0f, -4.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.dimensionStats(e).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(out(0) == ((2L, 2.0, 1.414214, 1.0, 3.0, 3.0)), out.toString)
    assert(out(1) == ((2L, -2.0, 2.828427, -4.0, 0.0, 4.0)), out.toString)
    assert(out(2) == ((2L, 0.0, 0.0, 0.0, 0.0, 0.0)), "dead dimension reads all-zero")
  }

  test("l2TopK: nearest-first ordering with exact distances, ties break on cid") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(3.0f, 4.0f)),   // dist 5 from query 0
      (2L, Array(1.0f, 0.0f)),   // dist 1
      (3L, Array(0.0f, 1.0f)),   // dist 1 — ties with 2, loses on cid
      (4L, Array(6.0f, 8.0f))    // dist 10
    ).toDF("vec_id", "embedding")
    val out = Similarity.l2TopK(e, k = 3, nQueries = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (0L, 1, 2L, 1.0), (0L, 2, 3L, 1.0), (0L, 3, 1L, 5.0)), out.toSeq.toString)
  }

  test("ivfProbeSweep: missed cross-cell neighbor at nProbe=1, full recall when every cell is probed") {
    val e = Seq(
      (0L, Array(1.0f, 0.01f)),    // query + seed centroid 0
      (1L, Array(0.6f, 0.8f)),     // seed centroid 1
      (2L, Array(0.99f, 0.0f)),    // cell 0 — truth #1
      (3L, Array(0.707f, 0.707f)), // cell 1 — truth #2, invisible at nProbe=1
      (4L, Array(0.0f, 1.0f))      // cell 1 — far from query
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfProbeSweep(e, k = 2, nQueries = 1, nCells = 2,
      levels = Seq(1, 2)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    // nProbe=1 probes only the query's own cell: 1 candidate, 1 of 2 truth hits;
    // nProbe=2 probes both cells = brute force: 4 candidates, perfect recall
    assert(out.toSeq == Seq((1, 0L, 1L, 1, 0.5), (2, 0L, 4L, 2, 1.0)), out.toSeq.toString)
  }

  test("radiusSearch: neighborhood census at a cosine threshold") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f)),   // cos 1.0
      (2L, Array(0.0f, 1.0f)),   // cos 0.0
      (3L, Array(1.0f, 1.0f))    // cos ≈ 0.707107
    ).toDF("vec_id", "embedding")
    val out = Similarity.radiusSearch(e, tau = 0.5, nQueries = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0L, 2L, 1.0)), out.toSeq.toString)
  }

  test("knnLabelHomophily: same-label neighbor share at k") {
    val e = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(0.9f, 0.1f)),
      (2L, 0, Array(0.95f, 0.05f)),
      (3L, 1, Array(0.5f, 0.5f)),
      (4L, 1, Array(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.knnLabelHomophily(e, k = 3, nQueries = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // top-3 of query 0: vecs 2, 1 (label 0) and 3 (label 1)
    assert(out.toSeq == Seq((0L, 0, 2, 0.666667)), out.toSeq.toString)
  }

  test("embeddingCoverage: per-source coverage of the embeddings table") {
    val d = Seq((1L, "s1"), (2L, "s1"), (3L, "s2")).toDF("doc_id", "source")
    val e = Seq((1L, Array(1.0f)), (3L, Array(1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.embeddingCoverage(d, e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("s1", 2L, 1L, 0.5), ("s2", 1L, 1L, 1.0)), out.toSeq.toString)
  }

  test("effectiveDims: one-hot variance → PR 1, even split → PR 2, cumulative shares ordered") {
    val oneHot = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (2L, Array(4.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val o = Similarity.effectiveDims(oneHot).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(o.toSeq == Seq(
      (0, 2.666666667, 1.0, 1.0, 1.0), (1, 0.0, 0.0, 1.0, 1.0)), o.toSeq.toString)
    val even = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(-1.0f, 0.0f)), (3L, Array(0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val e = Similarity.effectiveDims(even).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(e.toSeq == Seq(
      (0, 0.5, 0.5, 0.5, 2.0), (1, 0.5, 0.5, 1.0, 2.0)), e.toSeq.toString)
  }

  test("ivfCellBalance: cell counts, shares, and load factors on a planted 2-cell split") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),  // seed 0
      (1L, Array(0.0f, 1.0f)),  // seed 1
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.8f, 0.2f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfCellBalance(e, nCells = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0, 3L, 0.6, 1.2), (1, 2L, 0.4, 0.8)), out.toSeq.toString)
  }

  test("labelMargin: correctly-labeled vectors get positive margin, a planted mislabel goes negative") {
    val e = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 1, Array(0.0f, 1.0f)),
      (3L, 1, Array(0.0f, 1.0f)),
      (4L, 1, Array(1.0f, 0.0f))  // mislabeled: sits on label 0's centroid
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.labelMargin(e).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(0L)._3 > 0 && out(2L)._3 > 0)
    assert(out(4L)._3 < 0, s"mislabeled margin should be negative: ${out(4L)}")
    // own/other decompose consistently: margin = own − best_other (rounded)
    out.values.foreach { case (own, other, margin) =>
      assert(math.abs((own - other) - margin) < 2e-6) }
  }

  test("truncatedDimRecall: a prefix-identical imposter displaces the true second neighbor") {
    def vec(pairs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      pairs.foreach { case (i, v) => a(i) = v }
      a
    }
    val e = Seq(
      (0L, vec(0 -> 1.0f, 32 -> 1.0f)),              // query
      (1L, vec(0 -> 1.0f, 32 -> 1.0f)),              // identical: full 1.0, trunc 1.0
      (2L, vec(0 -> 1.0f, 32 -> -1.0f)),             // imposter: full 0.0, trunc 1.0
      (3L, vec(1 -> 0.001f, 32 -> 1.0f)),            // true #2: full ≈0.707, trunc 0.0
      (4L, vec(1 -> 1.0f, 33 -> 1.0f))               // orthogonal everywhere
    ).toDF("vec_id", "embedding")
    val out = Similarity.truncatedDimRecall(e, k = 2, nQueries = 1, keepDims = 32)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // truth top-2 = {1, 3}; truncated top-2 = {1, 2} → overlap 1 of 2
    assert(out.toSeq == Seq((0L, 1, 0.5)), out.toSeq.toString)
    // keeping every dimension reproduces the truth exactly
    val full = Similarity.truncatedDimRecall(e, k = 2, nQueries = 1, keepDims = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(full.toSeq == Seq((0L, 2, 1.0)), full.toSeq.toString)
  }

  test("ivfCellCohesion: per-cell mean/min similarity to own centroid") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)),   // centroid cell 0
      (1L, Seq(0.0f, 1.0f)),   // centroid cell 1
      (2L, Seq(1.0f, 0.0f)),   // → cell 0, sim 1.0
      (3L, Seq(1.0f, 1.0f)))   // → cell 0 (tie 0.707 both cells, lower id wins)
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfCellCohesion(e, nCells = 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // cell 0: sims {1.0 (self), 1.0, 0.707107} → mean 0.902369, min 0.707107
    assert(out(0) == ((3L, 0.902369, 0.707107)), out.toString)
    // cell 1: only its own centroid
    assert(out(1) == ((1L, 1.0, 1.0)))
  }

  test("pairCosineHistogram: mod-sampled pairs binned on rounded cosine") {
    val e = emb(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 1.0f)))
    // modA=modB=1: all ordered pairs a≠b → 6 pairs
    // cos(0,1)=0 → bucket 0 ×2; cos(0,2)=cos(1,2)=0.707107 → bucket 7 ×4
    val out = Similarity.pairCosineHistogram(e, modA = 1, modB = 1).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0, 0.0, 0.1, 2L, 0.333333), (7, 0.7, 0.8, 4L, 0.666667)), out.toSeq.toString)
  }

  test("pairCosineHistogram: negative cosines land in negative buckets") {
    val e = emb(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(-1.0f, 0.0f)))
    val out = Similarity.pairCosineHistogram(e, modA = 1, modB = 1).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    // cos = -1.0 → floor(-10) = -10 → bucket -10, [-1.0, -0.9)
    assert(out.toSeq == Seq((-10, -1.0, -0.9, 2L)), out.toSeq.toString)
  }

  test("mmrRerank: greedy trajectory matches a scalar reference MMR; " +
    "diversification demotes the near-dup of the first pick") {
    // query 0; candidates 1 ≈ 2 (near-dups, both very relevant); 3 is
    // equally relevant but on the mirror side of the query (low sim to
    // 1 — only possible in ≥3 dims); 4 is diverse and weakly relevant
    val e = emb(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.43f, 0.0f)),
      (2L, Seq(0.9f, 0.44f, 0.01f)),
      (3L, Seq(0.9f, -0.43f, 0.0f)),
      (4L, Seq(0.1f, 0.0f, 0.9f)))
    val out = Similarity.mmrRerank(e, k = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // scalar reference: same rounding discipline as the operator
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = Map(1L -> Seq(0.9f, 0.43f, 0.0f), 2L -> Seq(0.9f, 0.44f, 0.01f),
      3L -> Seq(0.9f, -0.43f, 0.0f), 4L -> Seq(0.1f, 0.0f, 0.9f))
    val q = Seq(1.0f, 0.0f, 0.0f)
    var sel = List.empty[Long]
    val expected = (1 to 4).map { step =>
      val scored = vecs.keys.filterNot(sel.contains).map { c =>
        val rel = cos(vecs(c), q)
        val score = if (sel.isEmpty) rel
          else BigDecimal(0.7 * rel - 0.3 * sel.map(s => cos(vecs(c), vecs(s))).max)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (c, score)
      }.toSeq
      val (picked, sc) = scored.minBy { case (c, s) => (-s, c) }
      sel = sel :+ picked
      (step, picked, sc)
    }
    assert(out.map(r => (r._1, r._2, r._4)).toSeq == expected, out.toSeq.toString)
    // the near-dup pair (1, 2) must NOT occupy steps 1+2 — diversity kicks in
    assert(out.take(2).map(_._2).toSet != Set(1L, 2L), out.toSeq.toString)
  }

  test("cellLabelPurity: majority share per seed cell, pure cell scores 1.0") {
    // centroids = vectors 0 and 1; cell 0 collects {0,2,3} with labels
    // {0,0,1} → purity 2/3; cell 1 collects {1,4} labels {1,1} → 1.0
    val e = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.0f, 1.0f), 1),
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.8f, 0.2f), 1),
      (4L, Seq(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.cellLabelPurity(e, nCells = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0, 3L, 0, 0.666667), (1, 2L, 1, 1.0)),
      out.toSeq.toString)
  }

  test("rrfFusion: rank-only fusion promotes the agreed-upon, hand-checked scores") {
    // cosine ties 1 and 3 at 1.0 (ranks by cid); inner product ranks 2
    // first (norm wins). RRF sums 1/(60+rank) per list:
    // 1 → 1/61+1/62 = .032522, 2 → 1/63+1/61 = .032266, 3 → 1/62+1/63 = .032002
    val e = emb(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(10.0f, 1.0f)),
      (3L, Seq(0.1f, 0.0f)))
    val out = Similarity.rrfFusion(e, k = 3, poolK = 3).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1, 1L, 0.032522), (2, 2L, 0.032266), (3, 3L, 0.032002)),
      out.toSeq.toString)
  }

  test("mmrRerank: fewer candidates than k returns all candidates once") {
    val e = emb(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.2f, 0.8f)))
    val out = Similarity.mmrRerank(e, k = 5).collect()
    assert(out.length == 2 && out.map(_.getLong(1)).toSet == Set(1L, 2L))
  }
}
