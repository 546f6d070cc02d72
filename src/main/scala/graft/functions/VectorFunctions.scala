package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over
  * `array<double>` — the promoted hot path for similarity search
  * (SURVEY §7.2: "start with higher-order functions, measure, then
  * promote"). One fused loop per pair instead of three interpreted
  * higher-order aggregates. On equal-length arrays without null
  * elements its values equal the higher-order formulation bit for bit
  * (same sequential accumulation order, double precision; that
  * formulation is `SimilaritySpec`'s reference) and hash-match the
  * DuckDB oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSimilarity.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The one cosine body: interpreted `eval` and generated code both
    * call it (statically, as [[SimHash64]]). Sequential accumulation
    * over the first min(|x|, |y|) elements, double precision.
    */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Native inner (dot) product over `array<double>` — the scoring
  * kernel for MIPS retrieval (unnormalized relevance, the metric
  * recommendation/retrieval systems rank by when vector norms carry
  * signal). Same fused-loop/codegen shape as [[CosineSimilarity]];
  * sequential accumulation matches DuckDB `list_inner_product`
  * bit-for-bit FOR EQUAL-LENGTH inputs. On ragged inputs the two
  * diverge deliberately: this truncates to the shorter length
  * (mirroring [[CosineSimilarity]] — a streaming scorer must not
  * abort a 100 TB job on one malformed row) while DuckDB raises;
  * validate dimensions upstream if ragged vectors are possible.
  */
case class InnerProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    InnerProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.InnerProduct.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object InnerProduct {
  /** The one dot-product body, shared by `eval` and generated code. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }
}

/** Column builders for graft's Catalyst kernels. Each one constructs
  * its expression node directly (the `Int` parameters become case
  * class fields), so a builder works on any session with no function
  * registration. The analyzed tree holds the same node a SQL call
  * would: `prettyName` is the kernel's SQL-facing name. Only
  * `graft_cosine` and `graft_dot` are callable from SQL
  * ([[graft.GraftExtensions]]).
  */
object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    column(InnerProduct(expression(a), expression(b)))

  def minhashSig(text: Column, shingleK: Int, numHashes: Int): Column =
    column(MinHashSignature(expression(text), shingleK, numHashes))

  def simhash64(text: Column): Column = column(SimHash64(expression(text)))

  def minhashSigMd5(text: Column, shingleK: Int, numHashes: Int): Column =
    column(Md5MinHashSignature(expression(text), shingleK, numHashes))

  def simhashMd5(lowered: Column): Column = column(Md5SimHash32(expression(lowered)))

  def wordShingles(text: Column, shingleK: Int): Column =
    column(WordShingles(expression(text), shingleK))

  def hyperplaneSig(v: Column, nTables: Int, bitsPerTable: Int): Column =
    column(HyperplaneSignature(expression(v), nTables, bitsPerTable))

  def normalizeText(text: Column): Column = column(NormalizeText(expression(text)))

  def wordNgrams(text: Column, maxN: Int): Column = column(WordNgrams(expression(text), maxN))

  def winnowFps(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprints(expression(text), k, w))

  def charEntropy(text: Column): Column = column(CharEntropyOf(expression(text)))
}
