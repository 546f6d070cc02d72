package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a whitespace-tokenized, lowercased text as a
  * single per-row expression: per bit, +1 vote per token whose
  * xxhash64 (seed 42 — Spark's SQL xxhash64) has the bit set, -1
  * otherwise; fingerprint bit = 1 iff the vote sum is positive.
  *
  * Replaces an explode + groupBy(doc_id) with 64 sum(when(...))
  * aggregate columns: same values, but map-only (zero shuffle) and
  * no 64-wide generated aggregate — whose janino compilation alone
  * cost multi-second first-runs per plan variant.
  *
  * Codegen: emits a static call to [[SimHash64.compute]] — the row
  * stays inside whole-stage codegen with no interpreted-eval
  * fallback boxing (previously `CodegenFallback`).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Static so generated code can call it without a reference object. */
  def compute(input: UTF8String): Long = {
    val tokens = CaseMap.lower(input).toString.split(" ", -1)
    val votes = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val h = XxHash64Function.hash(
        UTF8String.fromString(tokens(i)), StringType, 42L)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var fp = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }
}
