package graft.functions

import java.util.Locale

import graft.SparkSpec
import graft.TempDirs.withTempDir
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Lower, Upper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

class CaseMapSpec extends SparkSpec {
  import spark.implicits._

  private def planExprs(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p.expressions }
      .flatten.flatMap(_.collect { case e => e })

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("SimHash64 and WinnowFingerprints lowercase ASCII text the same under a Turkish default locale") {
    val text = UTF8String.fromString("THE TITLE IS IN THIS LIST OF WORDS IN THE INDEX AND IT IS HIDDEN")
    val winnow = WinnowFingerprints(Literal(""), 3, 4)
    val simhash = SimHash64.compute(text)
    val fps = winnow.compute(text).toLongArray.toSeq
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr"))
      assert("TITLE".toLowerCase != "title") // the JVM path this guards against
      assert(SimHash64.compute(text) == simhash)
      assert(winnow.compute(text).toLongArray.toSeq == fps)
    } finally Locale.setDefault(saved)
  }

  test("lower/upper rewritten by CaseMapRewrite give exactly Spark's bytes") {
    // DedupSpec's NormalizeText edge strings, then null, dotted capital
    // I, a Greek word ending in capital sigma, sharp s, the Kelvin sign
    // and an emoji; invalid UTF-8 is added below
    val edge = graft.operators.DedupSpec.edgeTexts ++ Seq(null, "\u0130stanbul",
      "\u039F\u0394\u039F\u03A3", "Stra\u00DFe", "\u212A", "smile \uD83D\uDE00 SMILE")
    withTempDir("case_map_") { dir =>
      edge.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
        .unionByName(spark.range(1).select(lit(100L).as("id"),
          unhex(lit("C328")).cast("string").as("text")))
        .unionByName(graft.Tables.documents(spark, sf0001)
          .select((col("doc_id") + 1000L).as("id"), col("text")))
        .write.mode("overwrite").parquet(dir)
      def mapped(): (DataFrame, Seq[(Long, Option[Seq[Byte]], Option[Seq[Byte]])]) = {
        // a parquet scan, so no LocalRelation folding runs Spark's
        // expression before the rule sees it
        val df = spark.read.parquet(dir).select(col("id"),
          lower(col("text")).cast("binary").as("lo"), upper(col("text")).cast("binary").as("up"))
        (df, df.collect().toSeq.map(r => (r.getLong(0),
          Option(r.getAs[Array[Byte]](1)).map(_.toSeq),
          Option(r.getAs[Array[Byte]](2)).map(_.toSeq))).sortBy(_._1))
      }
      val (graftDf, graftRows) = mapped()
      val (sparkDf, sparkRows) =
        withConf(SQLConf.OPTIMIZER_EXCLUDED_RULES.key, CaseMapRewrite.ruleName)(mapped())
      val rewritten = planExprs(graftDf)
      assert(rewritten.exists(_.isInstanceOf[CaseMapLower]) && rewritten.exists(_.isInstanceOf[CaseMapUpper]))
      assert(!rewritten.exists(e => e.isInstanceOf[Lower] || e.isInstanceOf[Upper]))
      assert(planExprs(sparkDf).exists(_.isInstanceOf[Lower]))
      assert(graftRows.size > 30)
      assert(graftRows == sparkRows)
      val strasse = graftRows.find(_._1 == edge.indexOf("Stra\u00DFe").toLong).get
      assert(new String(strasse._3.get.toArray, "UTF-8") == "STRASSE")
      assert(graftRows.find(_._1 == edge.indexOf(null).toLong).get._2.isEmpty)
    }
  }

  test("Dedup.simhashMd5 plans graft_lower with ICU mappings on and Spark's Lower with them off") {
    val docs = graft.Tables.documents(spark, sf0001)
    val on = planExprs(Dedup.simhashMd5(docs))
    assert(on.exists(_.isInstanceOf[CaseMapLower]))
    assert(!on.exists(_.isInstanceOf[Lower]))
    val off = withConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key, "false")(
      planExprs(Dedup.simhashMd5(docs)))
    assert(off.exists(_.isInstanceOf[Lower]))
    assert(!off.exists(_.isInstanceOf[CaseMapLower]))
  }
}
