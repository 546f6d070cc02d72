package graft

import graft.TempDirs.withTempDir
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.GraftSqlShim

/** Pins the [[Materialized]] memo contract: build-once per
  * (session, dir, kind), session isolation via `sessionUUID` keys
  * (NOT identity hash codes), nested `of()` calls (the simhash
  * groups builder memoizes its own pair input), and the
  * stop-session lifecycle — entries of a stopped session are evicted
  * and a recreated session rebuilds rather than receiving frames
  * bound to a dead context.
  */
class MaterializedSpec extends SparkSpec {

  test("builds once per key and returns the same rows") {
    val builds = new AtomicInteger(0)
    def make() = Materialized.of(spark, sf0001, "spec_memo_once") {
      builds.incrementAndGet()
      Tables.documents(spark, sf0001).select("doc_id").orderBy("doc_id").limit(5)
    }
    val a = make().collect().map(_.getLong(0)).toSeq
    val b = make().collect().map(_.getLong(0)).toSeq
    assert(builds.get() === 1, "second of() must hit the memo, not rebuild")
    assert(a === b)
  }

  test("nested of() calls (groups-over-pairs) build without recursive-update errors") {
    // The real registry nests: groups builder forces the pairs memo
    // inside its own build. Under the old computeIfAbsent-runs-build
    // design this was a forbidden recursive map update that threw
    // IllegalStateException when keys shared a hash bin.
    val builds = new AtomicInteger(0)
    def pairs = Materialized.of(spark, sf0001, "spec_memo_inner") {
      builds.incrementAndGet()
      Tables.documents(spark, sf0001).select("doc_id").limit(3)
    }
    val outer = Materialized.of(spark, sf0001, "spec_memo_outer") {
      pairs.groupBy().count()
    }
    assert(outer.collect().head.getLong(0) === 3)
    assert(builds.get() === 1)
    // Inner memo is independently visible afterwards.
    assert(pairs.count() === 3)
    assert(builds.get() === 1)
  }

  test("sessions are isolated: a cloned session gets its own entry") {
    val builds = new AtomicInteger(0)
    def in(s: org.apache.spark.sql.SparkSession) =
      Materialized.of(s, sf0001, "spec_memo_session") {
        builds.incrementAndGet()
        Tables.documents(s, sf0001).select("doc_id").limit(2)
      }
    in(spark).count()
    val s2 = spark.newSession()
    assert(GraftSqlShim.sessionUUID(s2) !== GraftSqlShim.sessionUUID(spark))
    in(s2).count()
    assert(builds.get() === 2, "distinct sessions must not share memo entries")
    in(spark).count(); in(s2).count()
    assert(builds.get() === 2)
  }

  test("concurrent of() calls for one key build exactly once") {
    // the registry is exercised concurrently by Bench's warmup pool;
    // the lazy-cell design must serialize the BUILD per key without
    // serializing unrelated keys (the old computeIfAbsent-runs-build
    // design held the map's bin lock for the whole Spark job)
    val builds = new AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 8).map { _ =>
      scala.concurrent.Future {
        Materialized.of(spark, sf0001, "spec_memo_concurrent") {
          builds.incrementAndGet()
          Tables.documents(spark, sf0001).select("doc_id").limit(6)
        }.count()
      }
    }
    val counts = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(60, "s"))
    pool.shutdown()
    assert(counts.forall(_ == 6L))
    assert(builds.get() === 1, "8 concurrent readers must share one build")
  }

  test("production face: asTable writes once, then serves readers from the sink") {
    withTempDir("graft_sink") { base =>
      val builds = new AtomicInteger(0)
      def make() = Materialized.asTable(spark, sf0001, "spec_sink_once", base) {
        builds.incrementAndGet()
        Tables.documents(spark, sf0001).select("doc_id").orderBy("doc_id").limit(5)
      }
      val a = make().collect().map(_.getLong(0)).sorted.toSeq
      val b = make().collect().map(_.getLong(0)).sorted.toSeq
      assert(builds.get() === 1, "second asTable() must read the sink, not rebuild")
      assert(a === b && a.size === 5)
      // a NEW process (simulated by clearing the in-process sink cells)
      // sees the _SUCCESS marker and still skips the rebuild
      Materialized.clearSinks()
      val c = make().collect().map(_.getLong(0)).sorted.toSeq
      assert(builds.get() === 1, "a prior snapshot's _SUCCESS must skip the write")
      assert(c === a)
    }
  }

  test("production face: sink key is injective — sanitization collisions stay distinct") {
    // "/…/graft sf10" and "/…/graft_sf10" sanitize to the same safe
    // name; without the md5 suffix the second corpus would silently
    // be served the first corpus's materialized table
    withTempDir("graft_sink_inj") { base =>
      val builds = new AtomicInteger(0)
      def make(dir: String, v: Long) =
        Materialized.asTable(spark, dir, "spec_sink_inj", base) {
          builds.incrementAndGet()
          spark.range(v, v + 1).toDF("v")
        }
      val a = make("/corpora/graft sf10", 1L).collect().map(_.getLong(0)).toSeq
      val b = make("/corpora/graft_sf10", 2L).collect().map(_.getLong(0)).toSeq
      assert(builds.get() === 2, "distinct dirs must build distinct sinks")
      assert(a === Seq(1L) && b === Seq(2L),
        "a sanitization collision must not serve one corpus's table to the other")
      Materialized.clearSinks()
    }
  }

  test("production face: no half-written live path — temp dirs never linger") {
    withTempDir("graft_sink_tmp") { base =>
      Materialized.asTable(spark, sf0001, "spec_sink_tmp", base) {
        Tables.documents(spark, sf0001).select("doc_id").limit(3)
      }.count()
      val entries = new java.io.File(base).listFiles().map(_.getName).toSeq
      assert(entries.exists(_.startsWith("spec_sink_tmp__")), s"live sink missing: $entries")
      assert(!entries.exists(_.contains(".inprogress-")),
        s"in-progress temp dir left behind: $entries")
      Materialized.clearSinks()
    }
  }

  test("production face: sink-backed dedup family rows == memo-backed rows") {
    // the flag routes every Materialized.of through the parquet sink;
    // the dedup family keys that fan out from the shared pair/CC
    // memos must return exactly the same rows either way
    withTempDir("graft_sink_fam") { base =>
      def rows(key: String): Seq[String] =
        SparkEntry.queries(key)(spark, sf0001).collect().map(_.toString).sorted.toSeq
      val keys = Seq("dedup_simhash_md5_neardups", "dedup_groups_md5",
        "dedup_cluster_best", "dedup_cluster_size_hist", "dedup_minhash_md5",
        "dedup_source_matrix")
      val memoBacked = keys.map(k => k -> rows(k)).toMap
      spark.conf.set(Materialized.SinkConfKey, base)
      try {
        val sinkBacked = keys.map(k => k -> rows(k)).toMap
        keys.foreach { k =>
          assert(sinkBacked(k) === memoBacked(k), s"sink-backed $k diverges from memo-backed")
        }
        // the shared pair table materialized as a real parquet sink
        val fs = new java.io.File(base)
        assert(fs.listFiles().nonEmpty, "no sink tables written")
      } finally {
        spark.conf.unset(Materialized.SinkConfKey)
        Materialized.clearSinks()
      }
    }
  }

  test("hybrid face: small memos stay checkpoints, big memos promote to the sink and release blocks") {
    withTempDir("graft_hybrid") { base =>
      val builds = new AtomicInteger(0)
      spark.conf.set(Materialized.SinkConfKey, base)
      spark.conf.set(Materialized.SpillConfKey, (64L * 1024).toString) // 64 KB
      try {
        // SMALL memo (a handful of rows): below the threshold → served
        // as a checkpoint, nothing written to the sink
        val small = Materialized.of(spark, sf0001, "spec_hybrid_small") {
          builds.incrementAndGet()
          Tables.documents(spark, sf0001).select("doc_id").limit(5)
        }
        assert(small.count() === 5)
        assert(GraftSqlShim.checkpointBytes(small).isDefined,
          "below-threshold memo must stay a checkpoint")
        assert(!new java.io.File(base).listFiles()
          .exists(_.getName.startsWith("spec_hybrid_small")),
          "below-threshold memo must not write a sink table")
        // BIG memo (full text column, well over 64 KB): promoted — sink
        // table committed, served frame is a parquet read (no blocks)
        val big = Materialized.of(spark, sf0001, "spec_hybrid_big") {
          builds.incrementAndGet()
          Tables.documents(spark, sf0001).select("doc_id", "text")
        }
        val nBig = big.count()
        assert(nBig > 5)
        assert(GraftSqlShim.checkpointBytes(big).isEmpty,
          "promoted memo must be served from parquet, not blocks")
        val sinkDir = new java.io.File(base).listFiles()
          .find(_.getName.startsWith("spec_hybrid_big"))
        assert(sinkDir.isDefined, "above-threshold memo must commit a sink table")
        assert(new java.io.File(sinkDir.get, "_SUCCESS").exists())
        // a NEW session (fresh memo cells) finds the committed table and
        // serves it WITHOUT building
        val s2 = spark.newSession()
        s2.conf.set(Materialized.SinkConfKey, base)
        s2.conf.set(Materialized.SpillConfKey, (64L * 1024).toString)
        val again = Materialized.of(s2, sf0001, "spec_hybrid_big") {
          builds.incrementAndGet()
          sys.error("must not rebuild: committed sink table exists")
        }
        assert(again.count() === nBig)
        assert(builds.get() === 2, "hybrid fast path must skip the build")
      } finally {
        spark.conf.unset(Materialized.SinkConfKey)
        spark.conf.unset(Materialized.SpillConfKey)
        Materialized.clearSinks()
      }
    }
  }

  test("one memo rule: a threshold with no sink base fails loudly, naming both keys") {
    spark.conf.set(Materialized.SpillConfKey, "1024")
    try {
      val e = intercept[IllegalArgumentException] {
        Materialized.of(spark, sf0001, "spec_rule_orphan_threshold") {
          sys.error("must not build: the config is rejected first")
        }
      }
      assert(e.getMessage.contains(Materialized.SpillConfKey) &&
        e.getMessage.contains(Materialized.SinkConfKey), e.getMessage)
    } finally spark.conf.unset(Materialized.SpillConfKey)
  }

  test("one memo rule: setting a sink base later promotes instead of serving the stale checkpoint") {
    withTempDir("graft_rule_late") { base =>
      def make() = Materialized.of(spark, sf0001, "spec_rule_late_sink") {
        Tables.documents(spark, sf0001).select("doc_id", "text")
      }
      val memo = make()
      val n = memo.count()
      assert(GraftSqlShim.checkpointBytes(memo).isDefined, "no sink base: memo stays a checkpoint")
      spark.conf.set(Materialized.SinkConfKey, base)
      spark.conf.set(Materialized.SpillConfKey, "1")
      try {
        val served = make()
        assert(served.count() === n)
        assert(GraftSqlShim.checkpointBytes(served).isEmpty,
          "with a sink base and a reached threshold the memo must be served from parquet")
        val sinkDir = new java.io.File(base).listFiles()
          .find(_.getName.startsWith("spec_rule_late_sink"))
        assert(sinkDir.exists(d => new java.io.File(d, "_SUCCESS").exists()),
          "promotion must commit the sink table")
      } finally {
        spark.conf.unset(Materialized.SinkConfKey)
        spark.conf.unset(Materialized.SpillConfKey)
        Materialized.clearSinks()
      }
    }
  }

  test("one memo rule: with the default threshold an empty memo is still committed to the sink") {
    withTempDir("graft_rule_empty") { base =>
      spark.conf.set(Materialized.SinkConfKey, base)
      try {
        val served = Materialized.of(spark, sf0001, "spec_rule_empty") {
          Tables.documents(spark, sf0001).select("doc_id")
            .where(org.apache.spark.sql.functions.col("doc_id") < 0)
        }
        assert(served.count() === 0)
        assert(served.columns.toSeq === Seq("doc_id"))
        assert(GraftSqlShim.checkpointBytes(served).isEmpty, "empty memo must be served from parquet")
        val sinkDir = new java.io.File(base).listFiles()
          .find(_.getName.startsWith("spec_rule_empty"))
        assert(sinkDir.exists(d => new java.io.File(d, "_SUCCESS").exists()),
          "threshold 0 must commit even an empty memo")
      } finally {
        spark.conf.unset(Materialized.SinkConfKey)
        Materialized.clearSinks()
      }
    }
  }

  test("stop/recreate lifecycle: dead-session entries evict, new session rebuilds") {
    val uuid1 = GraftSqlShim.sessionUUID(spark)
    Materialized.of(spark, sf0001, "spec_memo_lifecycle") {
      Tables.documents(spark, sf0001).select("doc_id").limit(4)
    }.count()
    assert(Materialized.entriesFor(uuid1) >= 1)
    spark.stop()
    // getOrCreate after stop → a brand-new session (and context).
    val s2 = GraftSession.local("4")
    val uuid2 = GraftSqlShim.sessionUUID(s2)
    assert(uuid2 !== uuid1)
    // The context-stop listener evicted the dead session's entries.
    assert(Materialized.entriesFor(uuid1) === 0,
      "stopped session's memo entries must be evicted")
    // Re-reading the memo under the new session rebuilds and works.
    val n = Materialized.of(s2, sf0001, "spec_memo_lifecycle") {
      Tables.documents(s2, sf0001).select("doc_id").limit(4)
    }.count()
    assert(n === 4)
    assert(Materialized.entriesFor(uuid2) >= 1)
  }
}
