package perfbench

import java.io.FileInputStream
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit}

import graft.{GraftSession, Materialized, ScaleData, SparkEntry, Tables}
import graft.operators.{Dedup, TextAnalysis}
import graft.streaming.CurateStream

/** One benchmark process. `run.py` writes a plan (a Java properties
  * file) and reads back one JSON result; all statistics, correctness
  * comparisons against DuckDB and the report live on the Python side.
  *
  * Modes:
  *   - `prepare`: build a seeded corpus with [[ScaleData.generate]];
  *   - `chain`:   run keys once each, in order, writing each result to
  *     parquet — a batch job in a fresh JVM, no warm-up;
  *   - `loop`:    warm up every key once (writing its result to
  *     parquet for the correctness check), then run the request
  *     sequence through the noop sink, checking each row count;
  *   - `stream`:  feed the corpus to [[CurateStream.curateToSink]] as
  *     fixed-size micro-batches and compare the sink's survivors with
  *     the batch funnel's (computed once per corpus, after timing).
  *
  * Usage: `perfbench.Harness <plan.properties> <result.json>`
  */
object Harness {

  /** What a request does with the DataFrame it built; returns its row count. */
  type Action = (String, Int, DataFrame) => Long

  final case class Req(key: String, seconds: Double, ok: Boolean, rows: Long,
                       memoBuilds: Int, error: String)

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = new FileInputStream(args(0))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"plan lacks '$k'"))
    HeapMonitor.install()
    val spawnMs = p("spawn_epoch_ms").toLong
    val spark = GraftSession.configure(SparkSession.builder(), p("cores")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (p("trace") == "1") Some(Tracer.install(spark)) else None
    val run = new Run(spark, p("data"), tracer)
    val out = mutable.LinkedHashMap.empty[String, Any]
    def setupDone(): Unit =
      out("setup_s") = (System.currentTimeMillis() - spawnMs) / 1000.0
    p("mode") match {
      case "prepare" =>
        ScaleData.generate(spark, p("source"), p("data"), p("reps").toInt,
          alphabet = p("alphabet"))
      case "chain" =>
        setupDone()
        out("requests") = run.timed(csv(p("keys")), run.writeParquet(p("check_dir")))
        out ++= oracles(csv(p("keys")))
      case "loop" =>
        val warm = csv(p("warm_keys")).map(k => run.query(-1, k, run.writeParquet(p("check_dir"))))
        out("warmup") = warm
        setupDone()
        val expected = warm.filter(_.ok).map(r => r.key -> r.rows).toMap
        out("requests") = run.timed(csv(p("sequence")), run.noopRows).map { r =>
          if (r.ok && !expected.get(r.key).contains(r.rows))
            r.copy(ok = false, error = s"rows ${r.rows}, verified ${expected.get(r.key)}")
          else r
        }
        out ++= oracles(csv(p("warm_keys")))
      case "stream" =>
        out ++= run.stream(p("batch_docs").toInt, p("warm_batches").toInt, p("sink_dir"),
          p("warm_sink_dir"), p("survivors"), () => setupDone())
    }
    tracer.foreach { t =>
      t.drain()
      out("spans") = t.spans.toSeq
      out("layers") = t.snapshot ++ run.layerTotals
    }
    out("heap_after_gc_peak_mb") = HeapMonitor.peakMb
    spark.stop()
    Files.writeString(Paths.get(args(1)), Json(out))
  }

  /** The DuckDB oracle SQL of `keys`, and of the noOracleEvidence twin
    * of each key that has no oracle of its own.
    */
  def oracles(keys: Seq[String]): Map[String, Any] = {
    val twins = keys.flatMap(k => SparkEntry.noOracleEvidence.get(k).flatMap(_._1).map(k -> _)).toMap
    Map("oracle_sql" -> (keys ++ twins.values).flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap,
      "twins" -> twins)
  }

  def csv(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** State of one process: the session, its input, and the traced
    * run's extra counters (codegen, GC, memo footprint).
    */
  final class Run(spark: SparkSession, dir: String, tracer: Option[Tracer]) {
    private val uuid = org.apache.spark.sql.GraftSqlShim.sessionUUID(spark)
    private val extra = mutable.LinkedHashMap.empty[String, Double]
    private def bump(k: String, v: Double): Unit = extra(k) = extra.getOrElse(k, 0.0) + v

    def layerTotals: Map[String, Double] = {
      val storage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      extra.toMap + ("Materialized.storage_bytes" -> storage.toDouble)
    }

    private def spanned[T](name: String, id: Int)(f: => T): T = tracer match {
      case Some(t) if id >= 0 =>
        val t0 = Clock.nowMs
        try f finally t.span(Span(name, id, t0, Clock.nowMs))
      case _ => f
    }

    /** Run `keys` as timed requests 0..n-1. */
    def timed(keys: Seq[String], action: Harness.Action): Seq[Req] =
      keys.zipWithIndex.map { case (k, i) => query(i, k, action) }

    /** One registry request: build the DataFrame through
      * `SparkEntry.queries`, then run the action on it.
      */
    def query(id: Int, key: String, action: Harness.Action): Req = request(id, key) {
      val df = spanned("registry.build", id)(SparkEntry.queries(key)(spark, dir))
      if (id >= 0) tracer.foreach { t =>
        df.queryExecution.tracker.phases.get("analysis").foreach(s =>
          t.phaseSpan("analysis", id, s.startTimeMs, s.endTimeMs))
      }
      spanned("sink.write", id)(action(key, id, df))
    }

    /** Time one request (id < 0: warm-up, never traced). A request that
      * throws is recorded as failed; its time is not a latency sample.
      * Traced requests also add the process-wide codegen and GC counter
      * deltas over their interval.
      */
    def request(id: Int, key: String)(body: => Long): Req = {
      val memo0 = Materialized.entriesFor(uuid)
      val cg0 = (Codegen.compileSeconds, Codegen.classes, HeapMonitor.gcSeconds)
      tracer.foreach(_.request = id)
      spark.sparkContext.setJobGroup(s"${Tracer.GroupPrefix}$id", key)
      val t0 = System.nanoTime()
      val r0 = Clock.nowMs
      val outcome: Either[String, Long] =
        try Right(body) catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      if (tracer.isDefined && id >= 0) {
        bump("codegen.compile_s", Codegen.compileSeconds - cg0._1)
        bump("codegen.classes", (Codegen.classes - cg0._2).toDouble)
        bump("exec.gc_s", HeapMonitor.gcSeconds - cg0._3)
      }
      tracer.foreach { t =>
        if (id >= 0) t.span(Span("request", id, r0, Clock.nowMs))
        t.drain()
        t.request = -1
      }
      if (id >= 0) HeapMonitor.collect()
      Req(key, secs, outcome.isRight, outcome.getOrElse(-1L),
        Materialized.entriesFor(uuid) - memo0, outcome.left.getOrElse(""))
    }

    private def observed(df: DataFrame, id: Int)(write: DataFrame => Unit): Long = {
      val obs = Observation(s"perfbench_rows_${id + 1}_${System.nanoTime()}")
      write(df.observe(obs, count(lit(1)).as("n")))
      obs.get("n").asInstanceOf[Long]
    }

    def noopRows(key: String, id: Int, df: DataFrame): Long =
      observed(df, id)(_.write.format("noop").mode("overwrite").save())

    def writeParquet(checkDir: String)(key: String, id: Int, df: DataFrame): Long =
      observed(df, id)(_.write.mode("overwrite").parquet(s"$checkDir/$key"))

    /** Stage-for-stage the document half of the batch curation funnel,
      * which the stream's sink must reproduce exactly under monotone
      * doc_id ingest (the CurateStreamSpec replay pin).
      */
    def expectedSurvivors(): Seq[Long] = {
      val d0 = Tables.documents(spark, dir).select("doc_id", "source", "lang", "text")
      val keep1 = TextAnalysis.gopherRules(d0).filter(col("keep")).select("doc_id")
      val d1 = d0.join(keep1, Seq("doc_id"), "left_semi")
      val keep2 = Dedup.exact(d1).select(col("keep_id").as("doc_id"))
      val d2 = d0.join(keep2, Seq("doc_id"), "left_semi")
      val drops3 = Dedup.connectedGroups(Dedup.minhashNearDupsMd5(d2).select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("group_id")).select("doc_id")
      d2.join(drops3, Seq("doc_id"), "left_anti").collect().map(_.getLong(0)).toSeq
    }

    def stream(batchDocs: Int, warmBatches: Int, sinkDir: String, warmSinkDir: String,
               survivorsFile: String, setupDone: () => Unit): Map[String, Any] = {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select("doc_id", "source", "lang", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
      val batches = docs.grouped(batchDocs).toSeq
      def feed(sink: String, chunks: Seq[Seq[(Long, String, String, String)]], first: Int) = {
        val mem = MemoryStream[(Long, String, String, String)]
        val q = CurateStream.curateToSink(mem.toDF().toDF("doc_id", "source", "lang", "text"), sink)
        try {
          val reqs = chunks.zipWithIndex.map { case (c, i) =>
            val id = if (first < 0) -1 else first + i
            request(id, s"batch_$i") {
              mem.addData(c: _*)
              q.processAllAvailable()
              c.length.toLong
            }
          }
          (reqs, q.recentProgress.toSeq)
        } finally q.stop()
      }
      // warm-up: the first batches into a throwaway sink, so the timed
      // stream starts from empty state with both the first-batch and the
      // state-reading paths compiled
      feed(warmSinkDir, batches.take(warmBatches), -1)
      setupDone()
      val (reqs, progress) = feed(sinkDir, batches, 0)
      val got = CurateStream.sinkDocs(spark, sinkDir).select("doc_id").collect().map(_.getLong(0)).toSet
      // the expected set is computed once per corpus, after the first
      // stream's timed phase, and cached beside the corpus
      val survivors = Paths.get(survivorsFile)
      if (!Files.exists(survivors)) {
        val tmp = Paths.get(s"$survivorsFile.tmp")
        Files.write(tmp, expectedSurvivors().sorted.map(_.toString).asJava)
        Files.move(tmp, survivors)
      }
      val want = Files.readAllLines(survivors).asScala.map(_.toLong).toSet
      val sinkBytes = Files.walk(Paths.get(sinkDir)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      if (tracer.isDefined) {
        bump("streaming.batch_s", progress.map(_.durationMs.getOrDefault("triggerExecution", 0L).longValue).sum / 1000.0)
        bump("streaming.add_batch_s", progress.map(_.durationMs.getOrDefault("addBatch", 0L).longValue).sum / 1000.0)
        bump("streaming.state_rows",
          progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble)
        bump("streaming.sink_bytes", sinkBytes.toDouble)
      }
      Map("requests" -> reqs,
        "stream" -> Map("survivors_ok" -> (got == want), "survivors" -> got.size,
          "expected_survivors" -> want.size, "sink_bytes" -> sinkBytes,
          "input_text_bytes" -> docs.map(_._4.getBytes("UTF-8").length.toLong).sum))
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Span => apply(Map("name" -> s.name, "request" -> s.request,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    case r: Harness.Req => apply(Map("key" -> r.key, "seconds" -> r.seconds, "ok" -> r.ok,
      "rows" -> r.rows, "memo_builds" -> r.memoBuilds, "error" -> r.error))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
