package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists the dedup/similarity operators
  * emit (near-dup pairs, kNN adjacency). Complements the
  * connected-components resolver ([[Dedup.connectedGroups]]): CC
  * answers "which docs form one group", centrality answers "which doc
  * REPRESENTS the group / how load-bearing is this node".
  */
object Graph {

  /** Fixed-iteration PageRank over an undirected pair list — the
    * centrality score used to pick canonical representatives inside
    * near-dup clusters and to weight hub documents in link/similarity
    * graphs (Page et al. 1999; fixed iteration count is the standard
    * batch formulation — rank mass converges geometrically, and a
    * FIXED count keeps the result deterministic and oracle-checkable,
    * unlike run-to-tolerance).
    *
    * Per iteration: one hash join (edges × current ranks, both keyed
    * on the node id) and one partial-agg shuffle summing incoming
    * contributions — the standard MapReduce-PageRank shape, O(|E|)
    * per round with no driver-side data movement. An eager
    * `localCheckpoint` materializes the edge list once and each
    * round's rank table, cutting lineage so the plan stays flat (as
    * in [[Dedup.connectedGroups]]); node count rides a 1-row broadcast cross
    * join (the audited scalar pattern). Dangling nodes cannot exist
    * here: every node of an undirected pair list has out-degree ≥ 1.
    */
  def pageRank(pairs: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("node")).distinct()
    val nN = nodes.agg(count(lit(1)).as("n"))
    var pr = nodes.crossJoin(broadcast(nN))
      .select(col("node"), (lit(1.0) / col("n")).as("pr"), col("n"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(pr.select(col("node").as("src"), col("pr")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
        .groupBy("node").agg(sum("c").as("in_sum"))
      pr = pr.select(col("node"), col("n"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) / col("n") +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("pr"),
          col("n"))
        .localCheckpoint(true)
    }
    pr.select(col("node"), round(col("pr"), 6).as("pagerank")).orderBy("node")
  }

  /** Triangle census + global clustering coefficient of an
    * undirected pair list (edges `doc_a < doc_b`, unique — the
    * contract of every pair emitter here). Near-dup graphs from true
    * duplication are clique-heavy (one source document ⇒ all its
    * copies pairwise similar), so a LOW coefficient flags spurious
    * bucket-collision edges — the one-row health check run before
    * trusting connected components to define dup groups.
    *
    * Shape at 100 TB: degree-oriented ("forward", Schank–Wagner 2005)
    * triangle enumeration — each edge points from its lower-(deg, id)
    * endpoint to the higher, so every triangle is enumerated exactly
    * once at its minimum-degree vertex and a wedge candidate list is
    * bounded by Σ outdeg² = O(E^1.5), never the Σ deg² of raw-id
    * orientation (a degree-d hub with mid-range id would emit d²/4
    * wedges; degree-oriented it emits ZERO — all its edges point IN).
    * Two hash joins keyed on node ids, never an all-pairs product;
    * wedge and degree counts are one partial-agg shuffle over the
    * edge list. The three 1-row aggregates meet in broadcast cross
    * joins (the audited scalar pattern).
    */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nTri = degreeOrientedWedges(pairs)
      .join(orientedEdges(pairs).select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val nWedge = deg.agg(sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nTri))
      .crossJoin(broadcast(nWedge))
      .select(col("n_edges"), col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("global_cc"))
  }

  /** Edges of the undirected pair list re-oriented from the
    * lower-(deg, id) endpoint to the higher (total order — ties on
    * degree break by id). Out-degree in this DAG is O(√E), the bound
    * that makes [[degreeOrientedWedges]] hub-safe. Carries the dst's
    * (deg, id) key so wedge enumeration can order out-neighbors
    * without re-joining degrees.
    */
  private[graft] def orientedEdges(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val keyA = struct(col("deg_a").as("deg"), col("a").as("id"))
    val keyB = struct(col("deg_b").as("deg"), col("b").as("id"))
    val aFirst = keyA < keyB
    e.join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, keyB).otherwise(keyA).as("dst_key"))
  }

  /** Wedge candidates of the forward algorithm: for each node, every
    * ordered pair (v, w) of its out-neighbors with key(v) < key(w).
    * A triangle exists iff the oriented edge v→w also exists — the
    * closing join in [[triangleStats]]. Exposed package-private so the
    * planted-hub spec can pin the row-count bound (a star's hub emits
    * zero wedges here).
    */
  private[graft] def degreeOrientedWedges(pairs: DataFrame): DataFrame = {
    val o = orientedEdges(pairs)
    val x = o.select(col("src"), col("dst").as("v"), col("dst_key").as("key_v"))
    val y = o.select(col("src"), col("dst").as("w"), col("dst_key").as("key_w"))
    x.join(y, Seq("src")).filter(col("key_v") < col("key_w")).select("v", "w")
  }

  /** Degree distribution of an undirected pair list: how many nodes
    * have each degree. The first graph-shape question asked of a
    * dup-pair graph ("are these tight cliques or one giant hub?") and
    * the input to the Σ deg² cost estimate every join-based graph op
    * here depends on — a heavy tail in this table is the early
    * warning for [[triangleStats]]/[[pageRank]] hub blow-ups. Two
    * tiny aggregates (per-node degree, then per-degree node count);
    * the edge list is read once.
    */
  def degreeHistogram(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("node"))
      .unionByName(pairs.select(col("doc_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")

  /** Fixed-round k-core peel (Seidman 1983 coreness, bounded
    * iteration): repeatedly remove nodes whose degree in the
    * SURVIVING subgraph is < k — after `rounds` passes, survivors
    * are an upper bound on the k-core and `peeled_round` records how
    * early each node fell. On a near-dup pair graph this separates
    * the dense template-farm nucleus (survives) from incidental
    * chain/pendant matches (peeled round 1–2) — the triage that
    * decides which clusters get a human look before mass deletion.
    * A FIXED round count keeps it deterministic and oracle-checkable
    * (the unrolled-CTE convention of [[pageRank]]); coreness
    * converges after few rounds on df-capped pair graphs.
    *
    * Per round: degrees of the induced subgraph via two semi-joins
    * of the (checkpointed-once) edge list against the shrinking
    * alive set, one partial-agg count — O(|E|) a round, alive-set
    * lineage cut per round, no driver data movement.
    */
  def kCorePeel(pairs: DataFrame, k: Int = 2, rounds: Int = 3): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct() // duplicate pair rows must not inflate degrees
      .localCheckpoint(true)
    var alive = edges.select(col("src").as("node")).distinct()
    var peeledParts = List.empty[DataFrame]
    for (r <- 1 to rounds) {
      val degAlive = edges
        .join(alive.select(col("node").as("src")), Seq("src"))
        .join(alive.select(col("node").as("dst")), Seq("dst"))
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "node")
      val withDeg = alive.join(degAlive, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      peeledParts ::= withDeg.filter(col("deg") < k)
        .select(col("node"), lit(r).as("peeled_round"))
      alive = withDeg.filter(col("deg") >= k).select("node").localCheckpoint(true)
    }
    val survivors = alive.select(col("node"), lit(0).as("peeled_round"))
    (peeledParts :+ survivors).reduce(_ unionByName _).orderBy("node")
  }

  /** Degree assortativity of an undirected pair list: the Pearson
    * correlation of endpoint degrees over all directed edges
    * (Newman 2002) — r < 0 means hubs attach to leaves (star-shaped
    * template-spam clusters), r > 0 means hubs interlink (a dense
    * boilerplate core that [[kCorePeel]] should be pointed at). The
    * correlation is computed from the five raw sums with the degrees
    * kept as exact BIGINTs, so the only float ops are the final
    * divisions — bit-identical cross-engine; a degree-regular graph
    * (zero variance) reports null rather than NaN.
    *
    * Shape at 100 TB: two hash joins decorating the edge list with
    * endpoint degrees, then a single partial-agg pass for the sums;
    * the node count rides a 1-row broadcast cross join.
    */
  def assortativity(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val decorated = edges
      .join(deg, Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("deg_dst")), Seq("dst"))
      .select(col("deg").as("x"), col("deg_dst").as("y"))
    val sums = decorated.agg(
      count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    sums.crossJoin(broadcast(nNodes))
      .select((col("m") / 2).cast("long").as("n_edges"), col("n_nodes"),
        when(col("m") * col("sx2") - col("sx") * col("sx") > 0 &&
             col("m") * col("sy2") - col("sy") * col("sy") > 0,
          round((col("m") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("m") * col("sx2") - col("sx") * col("sx")).cast("double") *
              (col("m") * col("sy2") - col("sy") * col("sy")).cast("double")), 6))
          .as("assortativity"))
  }
}
