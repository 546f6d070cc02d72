package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken 2003)
  * as a single per-row expression (array<long>): lowercase-tokenize,
  * hash every ordered word `k`-gram to the md5-first-7-hex-chars
  * 28-bit value (the engine-portable hash convention, so the DuckDB
  * oracle computes identical minima), slide a window of `w` hashes
  * keeping each window's minimum, and return the distinct selected
  * fingerprints in first-occurrence order.
  *
  * One JVM pass replaces a split→transform(md5 ∘ slice)→window-min
  * higher-order-function chain whose interpreted lambdas re-evaluate
  * the inlined split per element after projection collapse (measured
  * ~300 s at sf0.1; this expression: sub-second). Same motivation and
  * shape as [[WordShingles]]/[[MinHashSignature]]; codegen emits one
  * [[compute]] call via a reference object.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(input: UTF8String): ArrayData = {
    val words = CaseMap.lower(input).toString.split(" ", -1).filter(_.nonEmpty)
    if (words.length < k) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val nH = words.length - k + 1
    val hs = new Array[Long](nH)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nH) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      // first 7 hex chars = 28 bits: b0, b1, b2 and b3's high nibble
      hs(i) = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >>> 4)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val nW = math.max(nH - w, 0) + 1
    var p = 0
    while (p < nW) {
      var m = hs(p)
      var q = p + 1
      val end = math.min(p + w, nH)
      while (q < end) { if (hs(q) < m) m = hs(q); q += 1 }
      seen.add(m)
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = it.next().longValue(); n += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnow", this, classOf[WinnowFingerprints].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
