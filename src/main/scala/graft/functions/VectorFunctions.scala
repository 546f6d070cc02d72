package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over
  * `array<double>` — the promoted hot path for similarity search
  * (SURVEY §7.2: "start with higher-order functions, measure, then
  * promote"). One fused codegen loop per pair instead of three
  * interpreted higher-order aggregates; semantically identical
  * (same sequential accumulation order, double precision) so results
  * hash-match the HOF formulation and the DuckDB oracle.
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  private val cosineName = "graft_cosine"
  private val dotName = "graft_dot"
  private val minhashName = "graft_minhash"
  private val simhashName = "graft_simhash"
  private val minhashMd5Name = "graft_minhash_md5"
  private val simhashMd5Name = "graft_simhash_md5"
  private val shinglesName = "graft_shingles"
  private val hyperName = "graft_hyperplanes"
  private val winnowName = "graft_winnow"
  private val normalizeName = "graft_normalize"
  private val ngramsName = "graft_ngrams"
  private val charEntropyName = "graft_char_entropy"

  private def literalInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** Idempotently register graft's functions on the session's
    * function registry (temp functions — session-scoped, no catalog
    * writes).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      cosineName, exprs => CosineSimilarity(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      dotName, exprs => InnerProduct(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      minhashName, exprs => MinHashSignature(exprs.head,
        literalInt(exprs(1), "shingleK"), literalInt(exprs(2), "numHashes")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      simhashName, exprs => SimHash64(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      minhashMd5Name, exprs => Md5MinHashSignature(exprs.head,
        literalInt(exprs(1), "shingleK"), literalInt(exprs(2), "numHashes")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      simhashMd5Name, exprs => Md5SimHash32(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      shinglesName, exprs => WordShingles(exprs.head,
        literalInt(exprs(1), "shingleK")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      hyperName, exprs => HyperplaneSignature(exprs.head,
        literalInt(exprs(1), "nTables"), literalInt(exprs(2), "bitsPerTable")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      winnowName, exprs => WinnowFingerprints(exprs.head,
        literalInt(exprs(1), "k"), literalInt(exprs(2), "w")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      normalizeName, exprs => NormalizeText(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      ngramsName, exprs => WordNgrams(exprs.head,
        literalInt(exprs(1), "maxN")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      charEntropyName, exprs => CharEntropyOf(exprs.head), "built-in")
  }

  /** Column-level APIs (require [[ensureRegistered]] on the session
    * that analyzes the plan).
    */
  def cosineSim(a: Column, b: Column): Column = call_function(cosineName, a, b)

  def dotProduct(a: Column, b: Column): Column = call_function(dotName, a, b)

  def minhashSig(text: Column, shingleK: Int, numHashes: Int): Column =
    call_function(minhashName, text,
      org.apache.spark.sql.functions.lit(shingleK),
      org.apache.spark.sql.functions.lit(numHashes))

  def simhash64(text: Column): Column = call_function(simhashName, text)

  def minhashSigMd5(text: Column, shingleK: Int, numHashes: Int): Column =
    call_function(minhashMd5Name, text,
      org.apache.spark.sql.functions.lit(shingleK),
      org.apache.spark.sql.functions.lit(numHashes))

  def simhashMd5(lowered: Column): Column = call_function(simhashMd5Name, lowered)

  def wordShingles(text: Column, shingleK: Int): Column =
    call_function(shinglesName, text, org.apache.spark.sql.functions.lit(shingleK))

  def hyperplaneSig(v: Column, nTables: Int, bitsPerTable: Int): Column =
    call_function(hyperName, v,
      org.apache.spark.sql.functions.lit(nTables),
      org.apache.spark.sql.functions.lit(bitsPerTable))

  def normalizeText(text: Column): Column = call_function(normalizeName, text)

  def wordNgrams(text: Column, maxN: Int): Column =
    call_function(ngramsName, text, org.apache.spark.sql.functions.lit(maxN))

  def winnowFps(text: Column, k: Int, w: Int): Column =
    call_function(winnowName, text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))

  def charEntropy(text: Column): Column = call_function(charEntropyName, text)
}
