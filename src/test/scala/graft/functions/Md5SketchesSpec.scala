package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import graft.{Materialized, SparkEntry, SparkSpec, Tables}
import graft.operators.Dedup

/** [[Md5MinHashSignature]] and [[Md5SimHash32]] against the
  * explode + groupBy formulation they replaced (kept here, and only
  * here, as the reference), under whole-stage codegen and interpreted
  * `eval`; and the plan shapes of the md5 dedup chain: no exchange
  * before the band explode, and no sort under an order-insensitive
  * consumer.
  */
class Md5SketchesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // null, empty, fewer than k words, repeated shingles, runs of
  // spaces, tabs, non-ASCII (ß lowers to itself and uppers to SS)
  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "one two", "a b c d", "a b c d e",
    "a b c a b c a b c a b c", "x  y   z    w     v u t s",
    "tab\tseparated words\tare one\ttoken each here", "  leading and trailing spaces  ",
    "Straße STRASSE straße ÄÖÜ äöü naïve café ß ß ß end",
    "The THE the tHe ThE the quick brown fox", "日本語 の テキスト も 単語 に 分かれ ない")

  private def edgeDocs(s: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    s.createDataFrame(s.sparkContext.parallelize(
      edgeTexts.zipWithIndex.map { case (t, i) => Row(1000L + i, t) }, 3), schema)
  }

  private def inputs: Seq[(String, DataFrame)] = Seq(
    "sf0.001" -> Tables.documents(spark, sf0001).select("doc_id", "text"),
    "edge texts" -> edgeDocs(spark))

  // ---- the reference: the explode + groupBy formulation -------------

  private def refMinhash(documents: DataFrame, k: Int, n: Int): DataFrame = {
    val h = conv(substring(md5(col("sh").cast("binary")), 1, 7), 16, 10).cast("long")
    val mins = (0 until n).map(i =>
      min(pmod(h * Md5MinHashSignature.A(i) + Md5MinHashSignature.B(i),
        lit(Md5MinHashSignature.M))).as(s"_s$i"))
    Dedup.explodedShingles(documents, k)
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until n).map(i =>
        coalesce(col(s"_s$i"), lit(Md5MinHashSignature.M))): _*).as("signature"))
  }

  private def refSimhash(documents: DataFrame): DataFrame = {
    val withH = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ", -1)).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10).cast("long").as("h"))
    val votes = (0 until 32).map(bit =>
      sum(when(shiftrightunsigned(col("h"), bit).bitwiseAND(lit(1L)) === lit(1L), lit(1))
        .otherwise(lit(-1))).as(s"_v$bit"))
    withH.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(bit => when(col(s"_v$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash32"))
      .orderBy("doc_id")
  }

  private def kernelMinhash(documents: DataFrame, k: Int, n: Int): DataFrame =
    documents.select(col("doc_id"), VectorFunctions.minhashSigMd5(col("text"), k, n).as("signature"))

  private def byId(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("Md5MinHashSignature equals the explode + groupBy min-sketch, codegen on and off") {
    for ((name, docs) <- inputs; (k, n) <- Seq((5, 16), (2, 8))) {
      val expected = byId(refMinhash(docs, k, n))
      assert(expected.nonEmpty)
      assert(byId(kernelMinhash(docs, k, n)) == expected, s"$name k=$k codegen")
      withConfs(interpreted: _*) {
        assert(byId(kernelMinhash(docs, k, n)) == expected, s"$name k=$k interpreted")
      }
    }
    val edge = byId(kernelMinhash(edgeDocs(spark), 5, 16))
    val allM = Seq.fill(16)(Md5MinHashSignature.M)
    assert(edge(1000L) == allM, "null text")
    assert(edge(1001L) == allM, "empty text")
    assert(edge(1004L) == allM, "four words, k = 5")
    assert(edge(1005L) != allM, "five words make one shingle")
  }

  test("Md5SimHash32 equals the explode + 32-vote groupBy fingerprint, codegen on and off") {
    for ((name, docs) <- inputs) {
      val expected = refSimhash(docs).collect().toSeq
      assert(expected.nonEmpty)
      assert(Dedup.simhashMd5(docs).collect().toSeq == expected, s"$name codegen")
      withConfs(interpreted: _*) {
        assert(Dedup.simhashMd5(docs).collect().toSeq == expected, s"$name interpreted")
      }
    }
    val edge = Dedup.simhashMd5(edgeDocs(spark)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!edge.contains(1000L), "a null text has no row")
    assert(edge.contains(1001L), "an empty text is one empty token")
  }

  test("interpreted eval of both kernels matches the reference row by row") {
    val docs = edgeDocs(spark)
    val minRef = byId(refMinhash(docs, 5, 16))
    val simRef = refSimhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    edgeTexts.zipWithIndex.foreach { case (t, i) =>
      val lit = Literal.create(t, StringType)
      val sig = Md5MinHashSignature(lit, 5, 16).eval().asInstanceOf[ArrayData].toLongArray().toSeq
      assert(sig == minRef(1000L + i), s"minhash of [$t]")
      val lowered = Option(t).map(s => CaseMap.lower(UTF8String.fromString(s)).toString).orNull
      val fp = Md5SimHash32(Literal.create(lowered, StringType)).eval()
      // a null text has no tokens: fingerprint 0, and no reference row
      assert(simRef.get(1000L + i).getOrElse(0L) == fp, s"simhash of [$t]")
    }
  }

  test("output schemas and nullability match the reference formulation") {
    val docs = Tables.documents(spark, sf0001)
    assert(Dedup.simhashMd5(docs).schema == refSimhash(docs).schema)
    assert(Dedup.simhashMd5(docs).schema == StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("simhash32", LongType, nullable = false))))
    val sig = kernelMinhash(docs, 5, 16).schema
    assert(sig == refMinhash(docs, 5, 16).schema)
    assert(sig("signature") == StructField("signature",
      ArrayType(LongType, containsNull = false), nullable = false))
    assert(Dedup.md5BandedSignatures(docs, 5, 16, 4).schema("signature") == sig("signature"))
  }

  // ---- plan shapes -------------------------------------------------

  /** Every explode in `df`'s plan, with whether an exchange runs below it. */
  private def explodes(df: DataFrame): Seq[Boolean] =
    collect(df.queryExecution.executedPlan) { case g: GenerateExec =>
      g.child.find(_.isInstanceOf[Exchange]).isDefined }

  test("no exchange runs between the scan and the band explode of the md5 operators") {
    val docs = Tables.documents(spark, sf0001)
    Seq(
      "md5BandedSignatures" -> Dedup.md5BandedSignatures(docs, 5, 16, 4),
      "minhashNearDupsMd5" -> Dedup.minhashNearDupsMd5(docs),
      "simhashMd5NearDups" -> Dedup.simhashMd5NearDups(docs)
    ).foreach { case (name, df) =>
      val ex = explodes(df)
      assert(ex.nonEmpty, s"$name has no explode")
      assert(!ex.contains(true), s"$name: an exchange runs below its band explode")
    }
    assert(collect(Dedup.md5BandedSignatures(docs, 5, 16, 4).queryExecution.executedPlan) {
      case e: Exchange => e }.isEmpty)
  }

  /** Range-partitioning exchanges of every plan `body` runs in a new
    * session, one count per executed query.
    */
  private def rangeExchanges(body: SparkSession => Unit): Seq[Int] = {
    val s = spark.newSession()
    val counts = mutable.ArrayBuffer.empty[Int]
    def ranges(p: SparkPlan): Int = collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.size
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        counts.synchronized(counts += ranges(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    })
    try body(s) finally Materialized.evict(org.apache.spark.sql.GraftSqlShim.sessionUUID(s))
    // listener delivery is async: wait until no plan arrived for 1 s
    var n = -1
    val deadline = System.nanoTime() + 30e9.toLong
    while (counts.synchronized(counts.size) != n && System.nanoTime() < deadline) {
      n = counts.synchronized(counts.size)
      Thread.sleep(1000)
    }
    counts.synchronized(counts.toList)
  }

  test("a Materialized build of a sorted builder runs no range partitioning") {
    var rows = Seq.empty[Long]
    val counts = rangeExchanges { s =>
      val memo = Materialized.of(s, sf0001, "spec_sorted_builder") {
        Tables.documents(s, sf0001).select("doc_id", "n_chars").orderBy(col("n_chars").desc)
      }
      rows = memo.collect().map(_.getLong(0)).toSeq
    }
    assert(counts.nonEmpty, "the memo build was not observed")
    assert(counts.sum == 0, s"range exchanges per query: $counts")
    assert(rows.sorted == Tables.documents(spark, sf0001).select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted)
  }

  test("connectedGroups drops a sort under the select of its input") {
    val pairs = Seq((5L, 6L), (1L, 2L), (2L, 3L), (9L, 8L), (3L, 4L))
    var out = Seq.empty[(Long, Long)]
    val counts = rangeExchanges { s =>
      val sorted = s.createDataFrame(pairs).toDF("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b").select("doc_a", "doc_b")
      val groups = Dedup.connectedGroups(sorted)
      out = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    }
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L,
      8L -> 8L, 9L -> 8L))
    // the round's checkpoint sorts nothing; the one range exchange is
    // the output's own doc_id order, read by the collect
    assert(counts.size >= 2, s"CC's round was not observed: $counts")
    assert(counts.init.sum == 0 && counts.last == 1, s"range exchanges per query: $counts")
  }

  test("dedup_groups_md5 runs one range partitioning, its presented order") {
    val counts = rangeExchanges(s => SparkEntry.queries("dedup_groups_md5")(s, sf0001).collect())
    assert(counts.sum == 1, s"range exchanges per query: $counts")
  }
}
