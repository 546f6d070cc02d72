package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkSpec, Tables}
import graft.operators.DedupSpec
import VectorFunctions._

/** graft's Catalyst kernels as [[VectorFunctions]] builds them: the
  * interpreted `eval` of each equals its generated code, and the
  * builders need nothing registered on the session that runs them.
  */
class KernelEvalSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** sf0.001 texts, the dedup edge texts and a null, keyed by `id`. */
  private def texts(s: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val extra = (null +: DedupSpec.edgeTexts).zipWithIndex.map { case (t, i) => Row(-1L - i, t) }
    Tables.documents(s, sf0001).select(col("doc_id").as("id"), col("text"))
      .unionByName(s.createDataFrame(s.sparkContext.parallelize(extra, 2), schema))
  }

  /** Each sf0.001 embedding `v` beside its successor's `v2`, plus a null
    * on either side, empty arrays and a ragged pair.
    */
  private def vectors(s: SparkSession): DataFrame = {
    val e = Tables.embeddings(s, sf0001)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType)), StructField("v2", ArrayType(DoubleType))))
    val extra = Seq(Row(-1L, null, Seq(1.0, 2.0)), Row(-2L, Seq(1.0, 2.0), null),
      Row(-3L, Seq.empty[Double], Seq.empty[Double]), Row(-4L, Seq(1.0, 2.0, 3.0), Seq(0.5, -2.0)))
    e.join(e.select((col("id") - 1).as("id"), col("v").as("v2")), Seq("id"))
      .unionByName(s.createDataFrame(s.sparkContext.parallelize(extra, 2), schema))
  }

  private val textKernels: Seq[(String, Column)] = Seq(
    "MinHashSignature" -> minhashSig(col("text"), 5, 32),
    "SimHash64" -> simhash64(col("text")),
    "WordShingles" -> wordShingles(col("text"), 3),
    "WordNgrams" -> wordNgrams(col("text"), 3),
    "WinnowFingerprints" -> winnowFps(col("text"), 4, 4),
    "NormalizeText" -> normalizeText(col("text")),
    "CharEntropyOf" -> charEntropy(col("text")))

  private val vectorKernels: Seq[(String, Column)] = Seq(
    "CosineSimilarity" -> cosineSim(col("v"), col("v2")),
    "InnerProduct" -> dotProduct(col("v"), col("v2")),
    "HyperplaneSignature" -> hyperplaneSig(col("v"), 4, 8))

  test("each kernel's interpreted eval equals its generated code") {
    def run(in: DataFrame, kernel: Column): (Seq[Row], Boolean) = {
      val df = in.select(col("id"), kernel.as("out")).orderBy("id")
      val rows = df.collect().toSeq
      (rows, find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined)
    }
    for ((in, kernels) <- Seq(texts(spark) -> textKernels, vectors(spark) -> vectorKernels);
         (name, kernel) <- kernels) {
      val (generated, wholeStage) = run(in, kernel)
      val (evaluated, interpretedWholeStage) = withConfs(interpreted: _*)(run(in, kernel))
      assert(wholeStage && !interpretedWholeStage, name)
      assert(generated.length > 30 && generated.exists(_.isNullAt(1)), name)
      assert(evaluated == generated, s"$name: interpreted eval differs from codegen")
    }
  }

  test("a new session runs every column builder, and graft_cosine and graft_dot from SQL") {
    val fresh = spark.newSession()
    def all(s: SparkSession): Seq[Row] =
      texts(s).select(col("id") +: (textKernels.map(_._2) ++ Seq(
          minhashSigMd5(col("text"), 5, 16), simhashMd5(lower(col("text"))))): _*)
        .orderBy("id").collect().toSeq ++
        vectors(s).select(col("id") +: vectorKernels.map(_._2): _*)
          .orderBy("id").collect().toSeq
    assert(all(fresh) == all(spark))
    val sql = fresh.sql("SELECT graft_cosine(array(1.0D, 0.0D), array(2.0D, 0.0D)), " +
      "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head()
    assert(sql == Row(1.0, 11.0))
  }
}
