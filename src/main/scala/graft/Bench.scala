package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs SparkEntry queries against SPARK_GRAFT_SF_DIR,
  * materializing each result fully via the noop sink (so
  * projections/aggregations aren't pruned away the way a bare count()
  * would allow). Prints ONE JSON line.
  *
  * Round order (the headline artifact is banked before anything long
  * starts, and re-emitted after every round, so a kill mid-way leaves
  * the last complete round's parseable line behind):
  *   1. warm the HEADLINE keys only (concurrent, sf0.001) — cheap;
  *   1.5 UNTIMED prebuild of the headline keys at the bench SF, so
  *      the shared memo builds are paid before any timed round;
  *   2. two timed headline rounds, emitting after each;
  *   3. warm the remaining keys (concurrent, sf0.001);
  *   4. up to SPARK_GRAFT_BENCH_FULL_ITERS (default 2) full-set rounds
  *      (full per-query detail → /tmp/bench_full.json);
  *   5. more headline rounds, up to SPARK_GRAFT_BENCH_ITERS in all.
  *
  * A key's minimum comes from its in-suite samples only. Each round
  * shuffles its key order, so neighbor effects land on different keys
  * in different rounds; a minimum over one sample is not bankable and
  * the key is listed in `low_sample_keys`. Two full rounds give every
  * key two samples; [[admits]] still gates the second.
  *
  * Schedule: every timed start after the first headline round passes
  * [[admits]] with an estimate this process measured, the last
  * completed round of the same kind. The first full round has no such
  * estimate; the guard in front of phase 3 (under 0.6 of the budget)
  * admits it, so the budget is soft for that round: one that starts
  * near 0.6 of the budget and runs longer than the rest ends past it
  * (any round that ends past the budget is logged). The prebuild stops
  * at half the budget. Nothing is read from an earlier process, so how
  * many rounds fit depends only on the inputs and this run's own
  * timings. A scale run sizes SPARK_GRAFT_BENCH_BUDGET_S to hold its
  * full rounds: when a full round is refused, the log names the
  * [[budgetToAdmit]] that would have started it.
  *
  * Heap sizing (`SPARK_DRIVER_MEM`, default 8 g): sufficient for the
  * sf0.1 driver contract. On a 4-core, 15 GB box every suite runs at
  * 12 g or less (ROADMAP item 3); the 24-48 g table in SCALING.md
  * "Round-11 memory contract" was measured on a larger host.
  */
object Bench {
  /** Representative headline subset: one key per major operator
    * family, plus the three standing evidence keys — the slowest
    * query (`dedup_prefix_pairs`, whose Bayardo length-filter win
    * needs a warm number), the materialize-once first consumer
    * (`dedup_cluster_best`, pays the shared simhash-CC build), and a
    * memo re-user (`dedup_source_matrix`, should be near-free warm).
    */
  val headline: Seq[String] = Seq(
    "bearly_sum_lineitem", "q1_pricing_summary", "q3_top_revenue",
    "q5_local_supplier", "q_star_join_region_year", "q_window_topk",
    "q_percentiles_approx", "q_recursive_cte", "dedup_exact",
    "dedup_minhash_md5", "dedup_groups_md5", "dedup_ngram_jaccard",
    "dedup_pipeline", "dedup_passage_dedup", "sim_bruteforce_topk",
    "sim_ivf_topk", "sim_cosine_neardup", "sim_semantic_groups",
    "sim_knn_graph", "text_stats", "text_tfidf", "text_lang_id",
    "text_quality_filter", "ev_sessionize", "ev_asof_native",
    "ev_heavy_hitters", "mm_decode_features",
    "dedup_prefix_pairs", "dedup_cluster_best", "dedup_source_matrix")

  /** The one admission rule: a phase estimated to take `estimateS`
    * starts at `elapsedS` only if 1.2 × the estimate still ends before
    * 0.95 of the budget.
    */
  def admits(elapsedS: Double, estimateS: Double, budgetS: Double): Boolean =
    elapsedS + 1.2 * estimateS < 0.95 * budgetS

  /** The budget above which [[admits]] starts that phase. */
  def budgetToAdmit(elapsedS: Double, estimateS: Double): Double =
    (elapsedS + 1.2 * estimateS) / 0.95

  /** The compact line, the full JSON and the keys whose
    * minimum rests on one in-suite sample.
    */
  final case class Report(compact: String, full: String, lowSampleKeys: Seq[String])

  // True median: for an even sample count average the middle pair —
  // s(len/2) alone would report the MAX of 2 samples and bias the
  // headline high against odd-iteration baselines.
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
  private def jsonMap(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")

  /** Renders the timed `runs` (one `(key, seconds)` list per round),
    * the `failed` keys, the SF dir and the requested iteration count.
    *
    * The harness captures only the TAIL of the process output, so a
    * single JSON line carrying all per-query medians (~4 KB) gets
    * its head truncated and fails to parse (round-4 lesson:
    * BENCH_r04.json "parsed": null). So the report is split: full
    * per-query detail (median + min) is the full JSON; the compact
    * (<2 KB) headline JSON always fits the tail window intact.
    */
  def report(runs: Seq[Seq[(String, Double)]], failed: Seq[String], sfDir: String,
             iters: Int): Report = {
    val itersCompleted = runs.length
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val byName = runs.flatten.map(_._1).distinct.sorted
      .map(n => n -> runs.flatMap(_.toMap.get(n)))
    val med = byName.map { case (n, xs) => n -> median(xs) }
    val mins = byName.map { case (n, xs) => n -> xs.min }
    val total = med.map(_._2).sum
    val totalMin = mins.map(_._2).sum
    // Banking guard (round-16 q_except incident: a single warm sample
    // produced a spurious 13.2x decade flag): keys whose minimum rests
    // on ONE in-suite sample are listed so the drift gate can refuse
    // to bank them. Full JSON only — the compact line is unchanged.
    val lowSample = byName.collect { case (n, xs) if xs.length < 2 => n }
    val lowSampleJson = lowSample.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonMap(med)},"queries_min":${jsonMap(mins)},"low_sample_keys":$lowSampleJson,"total_min":$totalMin%.3f,"failed":$failedJson,"sf":"$sfDir","iters":$iters,"iters_completed":$itersCompleted}"""
    val minMap = mins.toMap
    val headSet = headline.toSet
    val headKvs = med.filter(kv => headSet.contains(kv._1))
    val headMinKvs = headline.flatMap(n => minMap.get(n).map(n -> _))
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonMap(headKvs)},"queries_min":${jsonMap(headMinKvs)},"total_min":$totalMin%.3f,"n_queries":${byName.length},"full":"/tmp/bench_full.json","failed":$failedJson,"sf":"$sfDir","iters":$iters,"iters_completed":$itersCompleted}"""
    Report(compact, full, lowSample)
  }

  def main(args: Array[String]): Unit = {
    val wallStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warmup exists to trigger codegen/janino/JIT/classloading — that
    // fixed cost dominates timed rounds when paid cold (r6: ~210 s
    // cold vs ~85 s warm for the full set). It runs 4 queries
    // CONCURRENTLY: sf0.001 jobs are tiny (wall time is driver-side
    // planning/janino, which parallelizes across Spark's FIFO
    // scheduler) and warmup timings are never reported — only the
    // codegen/JIT side effect matters.
    val warmDir = "/root/testdata/sf0.001"
    val qmap: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      SparkEntry.queries
    def warm(names: Seq[String]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = names.sorted.map { name =>
        scala.concurrent.Future {
          try qmap(name)(spark, warmDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs), scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
    }
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "4").toInt
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "420").toDouble
    val fullIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_ITERS", "2").toInt
    def elapsedS: Double = (System.nanoTime() - wallStart) / 1e9
    def fits(estimateS: Double): Boolean = admits(elapsedS, estimateS, budgetS)
    val allNames = qmap.keys.toSeq.sorted
    val headSet = headline.toSet
    val runs = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]

    // A FAILED query must not contribute a timing sample: its
    // time-to-exception (often milliseconds) would read as a massive
    // "improvement" in the medians and silently pass the drift gate.
    // Failures are excluded from samples and surfaced in the JSON.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runRound(names: Seq[String]): Double = {
      val r0 = System.nanoTime()
      // Key order is SHUFFLED per round (deterministically, in the
      // round index) so neighbor heap/page-cache effects land on
      // different keys each round and min-over-iters strips the
      // suite-context inflation — round 15's decade gate saw a key
      // inflate 47% purely from run order, forcing manual worktree
      // bisects to adjudicate. Memo builds still amortize exactly as
      // before (they key on (dir, kind), not on position).
      val order = new scala.util.Random(0xC0FFEEL + runs.length).shuffle(names)
      runs += order.flatMap { name =>
        val t0 = System.nanoTime()
        try {
          qmap(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          None
        }
      }
      if (elapsedS > budgetS)
        System.err.println(f"[bench] round ${runs.length} ended at $elapsedS%.1f s, past the $budgetS%.0f s budget")
      (System.nanoTime() - r0) / 1e9
    }

    // Writes both reports after every round; prints the compact line
    // unless this is the last call (main prints that one after
    // spark.stop()).
    def emit(last: Boolean): Report = {
      val r = report(runs.toSeq, failed.toSeq, sfDir, iters)
      // one try per file: a failed write of one must not skip the other
      def write(path: String, line: String): Unit =
        try java.nio.file.Files.write(java.nio.file.Paths.get(path), (line + "\n").getBytes("UTF-8"))
        catch { case e: Throwable =>
          System.err.println(s"[bench] writing $path failed: ${e.getMessage}")
        }
      write("/tmp/bench_full.json", r.full)
      write("/tmp/bench.json", r.compact)
      if (!last) { println(r.compact); System.err.println(r.compact) }
      r
    }

    // Phase 1-2: headline warmup + 2 timed headline rounds. This is
    // the part that MUST land — it produces iters_completed ≥ 2 and a
    // queries_min that differs from queries (real warm evidence) even
    // if the time box closes during everything after it.
    warm(headline)
    System.err.println(f"[bench] headline warmup done at $elapsedS%.1f s")
    // Phase 1.5: UNTIMED prebuild of the headline keys at the BENCH
    // SF. The sf0.001 warmup warms codegen, not data — the shared
    // memo tables (pair graphs, CC closures) build on first
    // consumption at sfDir, and letting timed round 1 pay them turned
    // the round-14 driver artifact into one 166 s cold round whose
    // inflated time failed every later round's admission (no warm
    // evidence). Prebuilding here makes every TIMED round warm, so
    // min/median are build-free by construction.
    // The prebuild is BUDGET-BOUNDED: if the bench-SF memo builds hang
    // or balloon, an unbounded loop could eat the whole budget and
    // bank NO artifact at all — worse than the cold round it replaces.
    // Past half the budget, remaining prebuilds are skipped (timed
    // round 1 then pays those builds cold, which the min/median over
    // later rounds absorbs).
    val prebuildS = {
      val t0 = System.nanoTime()
      var skipped = 0
      headline.foreach { name =>
        if (elapsedS > budgetS * 0.5) skipped += 1
        else try qmap(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] prebuild $name failed: ${e.getMessage}")
        }
      }
      if (skipped > 0)
        System.err.println(s"[bench] prebuild skipped $skipped keys (past half budget)")
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[bench] headline prebuild done at $elapsedS%.1f s ($prebuildS%.1f s)")
    var lastHeadS = runRound(headline)
    System.err.println(f"[bench] headline round 1 done at $elapsedS%.1f s (round $lastHeadS%.1f s, budget $budgetS%.0f s)")
    emit(last = false)
    var i = 1
    while (i < 2 && fits(lastHeadS)) {
      lastHeadS = runRound(headline)
      i += 1
      System.err.println(f"[bench] headline round $i done at $elapsedS%.1f s (round $lastHeadS%.1f s)")
      emit(last = false)
    }
    // Phase 3-4: warm the rest, then the full-set rounds. The first
    // has no measured estimate, so the guard here admits it; each
    // later one is admitted on the round before it. A mid-round kill
    // costs nothing (the artifact above is already banked and
    // re-emitted after every round) while a completed full round buys
    // per-query coverage for all keys.
    if (elapsedS < budgetS * 0.6) {
      warm(allNames.filterNot(headSet.contains))
      System.err.println(f"[bench] full warmup done at $elapsedS%.1f s")
      var lastFullS: Option[Double] = None
      var j = 0
      while (j < fullIters && lastFullS.forall(fits)) {
        lastFullS = Some(runRound(allNames))
        j += 1
        System.err.println(f"[bench] full round $j/$fullIters done at $elapsedS%.1f s (round ${lastFullS.get}%.1f s)")
        emit(last = false)
      }
      if (j < fullIters)
        System.err.println(f"[bench] stopping full rounds at $j/$fullIters (round ${lastFullS.get}%.1f s won't fit at $elapsedS%.1f s; " +
          f"SPARK_GRAFT_BENCH_BUDGET_S > ${budgetToAdmit(elapsedS, lastFullS.get)}%.0f would start it)")
    }
    // Phase 5: more headline rounds until the budget closes.
    while (i < iters && fits(lastHeadS)) {
      lastHeadS = runRound(headline)
      i += 1
      System.err.println(f"[bench] headline round $i/$iters done at $elapsedS%.1f s (round $lastHeadS%.1f s)")
      emit(last = false)
    }
    val last = emit(last = true)
    // surface the banking guard loudly: a min resting on one in-suite
    // sample is not bankable evidence (the drift gate refuses
    // artifacts whose low_sample_keys is non-empty)
    if (last.lowSampleKeys.nonEmpty)
      System.err.println(s"[bench] WARNING: ${last.lowSampleKeys.length} key(s) have a " +
        s"single warm sample (not bankable as minima): ${last.lowSampleKeys.take(8).mkString(",")}...")
    spark.stop()
    // Emit the parseable line LAST so no later output (Spark shutdown
    // logs, sbt's "[success]") can push it out of the tail window.
    println(last.compact)
    System.err.println(last.compact)
  }
}
