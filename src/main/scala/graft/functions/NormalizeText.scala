package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Dedup text normalization as ONE per-row pass:
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""),
  * " +", " "))` — byte-identical output, ~4 string allocations and two
  * java.util.regex passes per document collapsed into lower + a single
  * byte scan. The normalized-digest groupBy is map-only up to the
  * 16-byte digest shuffle, so at 100 TB this key is pure per-byte CPU;
  * regex machinery was the whole cost (measured 25.8 s warm at sf10,
  * the suite's 4th-slowest key, for a two-regex chain over ~2 GB of
  * text per replica decade).
  *
  * Equivalence argument (the DuckDB oracle keeps the regex spelling):
  * after Unicode `lower` (delegated to [[CaseMap.lower]] — the same
  * ICU calls Spark's `lower` makes with its default ICU case
  * mappings), the keep-class [a-z0-9 ] is pure
  * ASCII, and UTF-8 continuation/multi-byte lead bytes are all
  * ≥ 0x80, so a byte-level filter keeps exactly the regex's chars;
  * collapse-then-trim ≡ "emit one space between kept runs, never
  * leading/trailing", which the scan does with one pending-space flag.
  *
  * COLLATION ASSUMPTION (asserted, not just documented): the
  * byte-identity argument holds for the default UTF8_BINARY collation
  * only — `lower()` under a non-UTF8_BINARY collation (or a future
  * Spark changing the default lowercase path) takes collation-aware
  * case mapping that this expression does not reproduce, so the fast
  * path would silently diverge from the oracle spelling.
  * [[checkInputDataTypes]] rejects any non-default string collation at
  * ANALYSIS time — a collation change fails loudly instead of via
  * oracle drift (round-13 ADVICE).
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s if s == StringType => // the UTF8_BINARY (default-collation) StringType
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_normalize requires a UTF8_BINARY-collated string (its byte-level " +
            s"scan is equivalence-argued against lower()'s default-collation path " +
            s"only); got $other")
    }

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(input: UTF8String): UTF8String = {
    val b = CaseMap.lower(input).getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = c; n += 1
      } else if (c == ' ') {
        pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normalize", this, classOf[NormalizeText].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
