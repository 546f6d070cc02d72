package graft

/** Blanket plan audit over EVERY registered query: at 100 TB a single
  * accidental cartesian product or unbounded nested-loop join is an
  * outage, so the whole `SparkEntry.queries` surface is swept and any
  * plan regression fails CI — not a benchmark three rounds later.
  *
  * BroadcastNestedLoopJoin is allowed only for queries that
  * deliberately cross-join a 1-row aggregate (corpus scalars like
  * N-docs / avgdl) against a bounded vocabulary/query-sized side —
  * those are O(small) by construction and documented in each
  * operator's scaladoc.
  */
class PlanAuditSpec extends SparkSpec {

  // 1-row-scalar × bounded-side cross joins, each justified in its scaladoc
  private val boundedNestedLoop = Set(
    "text_tfidf",          // n_docs (1 row) × vocabulary-sized df table
    "text_bm25",           // corpus stats (1 row) × query-sized df table
    "text_bigram_logprob", // V (1 row) × context-vocabulary table
    "text_unigram_logprob", // corpus-token total (1 row) × vocabulary table — replaces the old single-partition window
    "text_vocab_growth",   // bucket width (1-row max aggregate) × corpus — O(1) per row
    "text_pmi_bigrams",    // n_tok / n_bi (two 1-row aggregates) × the minCount-filtered bigram table
    "text_dsir_weights",   // n_c / n_t (two 1-row totals) × the B=1024-row bucket table
    "text_ppl_by_source",  // V (1 row) × context vocabulary — inherited from the bigram_logprob leg
    "ev_rfm",              // per-user purchase aggregate × 1-row corpus-watermark scalar
    "sim_hard_negatives",  // corpus streams × broadcast(nQueries=10 labeled vectors) — same bound as sim_bruteforce_topk
    "sim_mips_topk",       // corpus streams × broadcast(nQueries=10 vectors), dot-product scoring
    "sim_bruteforce_topk", // corpus streams × broadcast(nQueries=10 vectors) — scoring fan-out bounded by |Q|
    "sim_ivf_topk",        // same broadcast query set, candidates pre-pruned to probed cells
    "sim_ivf_topk_seed",   // iters=0 oracle twin of the same path (broadcast 16 centroids)
    "sim_knn_graph",       // hash-sampled index-build set × broadcast of itself — pair count bounded by (pct/100)²·n² by construction
    "sim_ivf_recall",      // composition of the two allowed legs above (broadcast query set / 16 centroids)
    "q11_balance_concentration", // 25-row per-nation agg × 1-row global threshold (> compare defeats hash join)
    "q22_dormant_customers",     // customer stream × 1-row broadcast avg-balance scalar — map-side filter, no fan-out
    "q_pareto_share",            // per-customer aggregate × 1-row broadcast total-revenue scalar — share denominator
    "sim_threshold_sweep",       // LSH-bounded pair set × broadcast 15-row threshold grid (≤15 fan-out per pair)
    "dedup_triangles",           // three 1-row aggregates (edges/triangles/wedges) meeting in scalar cross joins
    "ev_decayed_score",          // event stream × 1-row broadcast corpus-watermark scalar — map-side decay term
    "q_copurchase_lift",         // pair/part aggregates × 1-row broadcast order-universe scalar
    "q_copurchase_lift_capped",  // same 1-row order-universe scalar over the basket-capped population
    "ev_hour_of_week",           // 168-row hour table × 1-row broadcast total — share denominator
    "ev_power_users",            // per-user aggregate × 1-row broadcast (p90, total) scalar — map-side filter
    "sim_l2_topk",               // corpus streams × broadcast(nQueries=10 vectors) — same bound as sim_bruteforce_topk
    "text_curate_pipeline",      // pack/shard 1-row aggregates × broadcast 1-row survivor-totals scalar
    "text_jsd_drift",            // vocabulary table × 1-row corpus total + |sources|-row totals broadcast
    "ev_session_histogram",      // log2-bucket table (≤64 rows) × 1-row broadcast total — share denominator
    "dedup_lsh_recall",          // three 1-row aggregates (truth/found/candidates) meeting in scalar cross joins
    "sim_label_confusion",       // label-count-sized centroid table × broadcast of itself (a < b pairing)
    "text_heaps_fit",            // inherits text_vocab_growth's 1-row bucket-width broadcast
    "ev_peak_concurrency",       // sessions × broadcast |days|-row list (carry-in non-equi join)
    "q_revenue_deciles",         // order stream × 1-row broadcast threshold array — map-side binning
    "ev_ewma_daily",             // |days|-row daily table × broadcast 14-row offset grid + 1-row min-day scalar
    "ev_metric_corr",            // |days|-row day list × broadcast |types|-row table (dense-grid build)
    "ev_user_overlap",           // |types|-row size table × broadcast of itself (a < b pairing)
    "sim_cell_balance",          // corpus × broadcast 16 centroids; cell-count table × 1-row total
    "sim_label_margin",          // corpus streams × broadcast label-count-sized centroid table
    "sim_probe_sweep",           // corpus × broadcast query/centroid sets; candidates × broadcast 4-row levels grid
    "sim_trunc_recall",          // corpus streams × broadcast(nQueries=10 vectors), both top-k legs
    "sim_effective_dims",        // 64-row per-dim variance table × 1-row (tv, tv2) broadcast scalar
    "text_temperature_weights",  // sources-sized table × two 1-row broadcast scalars (total, Z)
    "dedup_shingle_df_hist",     // ≤64-row bucket table × 1-row broadcast total — share denominator
    "ev_conversion_sweep",       // purchases-sized as-of result × broadcast 5-row window grid
    "ev_mix_drift",              // |types|-row table × 1-row total + |weeks|-row totals broadcast
    "text_vocab_coverage",       // 4-row k grid × 1-row (n_tokens, n_types) broadcast scalar
    "sim_knn_homophily",         // inherits sim_bruteforce_topk's broadcast(nQueries=10) frame
    "sim_radius_search",         // same broadcast(nQueries=10) scoring frame, aggregate finisher
    "sim_pair_hist",             // broadcast n/37 mod-sample × n/41 mod-sample — pair count n²/1517 by construction
    "sim_cell_cohesion",         // corpus × broadcast 16 seed centroids — same bound as sim_cell_balance
    "text_source_keywords",      // (source × term) table × 1-row broadcast |sources| scalar
    "text_simhash_topk",         // 4-byte fingerprints × broadcast(nQueries=10 fingerprints) — same bound as sim_bruteforce_topk
    "ev_retention_fit",          // |days|-row curve × 1-row broadcast user-base scalar; 1-row OLS report
    "ev_strict_funnel",          // three 1-row stage counts meeting in scalar cross joins
    "text_skipgram_pmi",         // pair table × 1-row broadcast total-pairs scalar
    "ev_behavior_sim",           // |users| count-vectors × broadcast(nQueries=10 vectors)
    "q_benford",                 // 9-row digit table × 1-row broadcast total scalar
    "dedup_assortativity",       // 1-row sum table × 1-row node-count scalar
    "sim_mmr_rerank",            // corpus × 1-row broadcast query vector; nCand=20 frames thereafter
    "ev_ab_ks",                  // per-user metric × ≤19-row broadcast percentile grid + 1-row totals
    "dedup_weighted_jaccard",    // vocabulary df table × 1-row broadcast n_docs scalar
    "mm_text_embedding_align",   // 1-row coverage table × 1-row broadcast sums scalar
    "ev_psi_drift",              // event stream × 1-row broadcast split-day scalar — map-side flag
    "ev_ab_hte",                 // per-user metric × 1-row broadcast tercile array — map-side binning
    "ev_diff_in_diff",           // event stream × 1-row broadcast split-day scalar; 1-row cell × user frames
    "ev_cuped",                  // event stream × 1-row broadcast split-day scalar — map-side flag
    "sim_cell_purity",           // corpus × broadcast 16 seed centroids — same bound as sim_cell_balance
    "sim_rrf_fusion",            // two broadcast(nQueries=10) scoring frames, bounded-heap reduced
    "q_gini",                    // per-customer spends × 1-row broadcast threshold array — map-side binning
    "q_weighted_median",         // price-group table × 1-row broadcast threshold array — map-side binning
    "ev_kaplan_meier",           // per-user span table × 1-row broadcast censor-horizon scalar
    "ev_interval_join"           // tagged stream × 1-row broadcast (ts_lo, ts_hi) bounds — chunk-index binning
  )

  // Unpartitioned windows whose INPUT is provably tiny (post-aggregate
  // or post-limit), each justified where the operator is defined. An
  // unpartitioned WindowExec over a fact-scale input funnels the whole
  // table through one task — the round-5 finding this gate makes
  // permanent (text_unigram_logprob's vocabulary-wide total,
  // q_pareto_share's whole-customer-base ranking).
  private val boundedGlobalWindow = Set(
    "q_pareto_share",    // TakeOrderedAndProject(topN=25) precedes the window
    "text_mix_weights",  // window input is the per-LANGUAGE aggregate (|langs| rows)
    "text_mix_resample", // broadcasts text_mix_weights' |langs|-row table; same window
    "text_vocab_growth", // cumulative sums over the BUCKET table (nBuckets rows)
    "text_heaps_fit",    // regression over the same nBuckets-row growth table
    "text_zipf_slope",   // ranking window input is the limit(topN=1000) frequency head
    "sim_effective_dims", // cumulative window over the 64-row per-dim variance aggregate
    "text_vocab_coverage", // ranking/cumulative window over the VOCABULARY (types) table
    "sim_pair_hist",      // share denominator over the ≤20-row histogram aggregate
    "q_drawdown",         // running peak over the per-MONTH aggregate (≤ decades × 12 rows)
    "ev_session_gap_hist", // share denominator over the ≤169-row gap-hour histogram
    "q_gini",             // bucket-offset cumulative over the nBuckets=32-row table
    "q_weighted_median",  // bucket-offset/total cumulative over the nBuckets=32-row table
    "ev_kaplan_meier",    // risk/survival windows over the |days|-bounded lifetime histogram
    "q_customer_acquisition", // cumulative over the per-MONTH first-order table
    "text_curate_pipeline",  // inherits text_mix_weights' |langs|-row aggregate window
    "ev_interval_join",      // prefix-sum stitching over the ≤parts(=64)-row per-partition summary
    "ev_peak_concurrency"    // carry-in prefix sum over the per-DAY boundary aggregate (≤ |calendar days| rows)
  )

  private def windowPartitionSpecs(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    plan.collect {
      case w: WindowExec => Seq(w.partitionSpec.length)
      case a: AdaptiveSparkPlanExec => windowPartitionSpecs(a.inputPlan)
    }.flatten
  }

  test("no registered query plans an unpartitioned window outside the bounded-input allowlist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val specs =
        try windowPartitionSpecs(fn(spark, sf0001).queryExecution.executedPlan)
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      if (specs.exists(_ == 0) && !boundedGlobalWindow(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec over a potentially fact-scale input " +
        s"(allowlist it in boundedGlobalWindow ONLY with a bounded-input proof):\n" +
        offenders.mkString("\n"))
  }

  test("no registered query keeps Spark's Lower/Upper in its optimized plan") {
    // CaseMapRewrite must reach every default-collation case mapping:
    // one Spark Lower/Upper left anywhere loads the 1.5 s title-case
    // table of CollationAwareUTF8String in every JVM that runs it.
    import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, fn) =>
      fn(spark, sf0001).queryExecution.optimizedPlan
        .collectWithSubqueries { case p => p.expressions }.flatten
        .exists(_.exists { case _: Lower | _: Upper => true; case _ => false })
    }.map(_._1)
    assert(offenders.isEmpty, s"Spark's Lower/Upper survived the optimizer in:\n${offenders.mkString("\n")}")
  }

  test("q_pareto_share pre-cuts with TakeOrderedAndProject below its global window") {
    val plan = SparkEntry.queries("q_pareto_share")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val take = plan.indexOf("TakeOrderedAndProject")
    val win = plan.indexOf("Window")
    assert(take >= 0, s"expected a TakeOrderedAndProject pre-cut:\n$plan")
    assert(win >= 0 && win < take, // parent-first print: window must sit ABOVE the take
      s"the ranking window must consume the topN pre-cut, not the full customer base:\n$plan")
  }

  test("q_rank_profile windows only inside (priority, bin) boundary buckets — never per-priority") {
    // Round-13 reshape pin: a window partitioned by o_orderpriority
    // alone has a 5-task parallelism ceiling (17.6 s at sf10; fatal at
    // 100 TB). The splitter-binning plan may window ONLY on the
    // two-key (pri, bin) spec, whose input is the ≤15 boundary
    // buckets (~n/32 rows each).
    val specs = windowPartitionSpecs(
      SparkEntry.queries("q_rank_profile")(spark, sf0001)
        .queryExecution.executedPlan)
    assert(specs.nonEmpty, "expected the boundary-bucket row_number window")
    assert(specs.forall(_ == 2),
      s"q_rank_profile must never window on fewer than (pri, bin) keys: $specs")
  }

  test("text_ngram_diversity plans a cascaded distinct — no Expand ahead of the gram shuffle") {
    // Round-13 reshape pin: count(DISTINCT gram) planned an Expand
    // that DOUBLED every gram row before the only corpus-sized
    // shuffle (one copy per aggregate leg — the suite's slowest key
    // at sf10, 32.8 s warm). The two-level form (count per (source,
    // n, gram), then sum/count per (source, n)) carries each distinct
    // gram exactly once; a reappearing Expand means someone folded
    // the rollup back into a single countDistinct aggregate.
    val plan = SparkEntry.queries("text_ngram_diversity")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"text_ngram_diversity must keep the cascaded two-level distinct:\n$plan")
  }

  test("ngramPairCounts plans no broadcast at any scale — co-partitioned shuffle joins only") {
    // Round-11 regression pin: left to post-Generate size estimates
    // the planner broadcast the corpus-sized exploded-shingle frame
    // (three driver-side HashedRelations at sf10 — 164 s and 8 g-heap
    // deaths). The repartition + shuffle_hash shape must hold
    // regardless of estimates, so assert it at spec scale.
    val plan = operators.Dedup.ngramPairCounts(Tables.documents(spark, sf0001))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"ngramPairCounts must never broadcast (corpus-sized sides):\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected co-partitioned shuffle-hash joins:\n$plan")
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"expected the explicit-width sh repartition (AQE-coalesce-exempt):\n$plan")
  }

  test("minhashEstErrorMd5 plans no broadcast at any scale — every join side is corpus-sized") {
    // Round-12 regression pin: the sf10 heap-floor probe's one 8 g
    // failure was the planner broadcasting the post-aggregate
    // candidate-pair table into the exploded-shingle truth leg (a
    // driver-side build of millions of pair rows). The shuffle_hash
    // hints must hold regardless of estimates.
    // production shape: the registry feeds the MEMOIZED pairs table
    // (Materialized.of → checkpointed frame), mirrored here with a
    // localCheckpoint — the inline-pairs overload's band self-join is
    // a different subtree with its own (AQE-governed) broadcast story
    val docs = Tables.documents(spark, sf0001)
    val pairs = operators.Dedup.minhashNearDupsMd5(docs).localCheckpoint(true)
    val plan = operators.Dedup.minhashEstErrorMd5(docs, pairs, 5, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"minhashEstErrorMd5 must never broadcast (corpus-sized sides):\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected shuffle-hash truth joins:\n$plan")
  }

  test("tfidfScored broadcasts the vocabulary side, never the corpus-keyed tf side") {
    // Round-11 regression pin: idf's size ESTIMATE (aggregate ×
    // crossJoin) is no smaller than tf's, so without the explicit
    // broadcast the planner built the HashedRelation from the
    // 11.6M-row (doc_id, term) side at sf10. A corpus-keyed build
    // side (output carries doc_id) must never appear under a
    // broadcast join here.
    // string-level: AdaptiveSparkPlanExec hides its subtree from
    // collect(), so inspect each BroadcastExchange's first child line
    // — the build relation's output — for a corpus key
    val lines = operators.TextAnalysis.tfidfScored(Tables.documents(spark, sf0001))
      .queryExecution.executedPlan.toString.split("\n").toSeq
    val exchangeIdx = lines.zipWithIndex
      .filter(_._1.contains("BroadcastExchange HashedRelationBroadcastMode")).map(_._2)
    assert(exchangeIdx.nonEmpty, s"expected the tf ⋈ broadcast(idf) join:\n${lines.mkString("\n")}")
    exchangeIdx.foreach { i =>
      val buildHead = lines(i + 1)
      assert(!buildHead.contains("doc_id#"),
        s"broadcast build side carries doc_id (corpus-sized relation):\n$buildHead")
    }
  }

  test("no registered query plans a CartesianProduct or an unbounded nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan =
        try fn(spark, sf0001).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !boundedNestedLoop(name)
      if (cart || bnlj)
        Some(s"$name: ${if (cart) "CartesianProduct " else ""}${if (bnlj) "BroadcastNestedLoopJoin" else ""}")
      else None
    }
    assert(offenders.isEmpty, s"scale-unsafe join shapes:\n${offenders.mkString("\n")}")
  }
}
