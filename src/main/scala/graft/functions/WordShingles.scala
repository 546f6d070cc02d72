package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct k-word shingles of a whitespace-tokenized text as a
  * single per-row expression (array<string>). Replaces the
  * split→transform→slice→array_join higher-order-function chain whose
  * interpreted lambdas allocate per element; one JVM pass, one
  * LinkedHashSet for dedup (insertion order = first occurrence, so
  * output order is deterministic). Codegen emits one [[compute]] call
  * via a reference object (previously `CodegenFallback`).
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(input: UTF8String): ArrayData = {
    val seen = WordShingles.distinct(input, k)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingles", this, classOf[WordShingles].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  /** The distinct k-word shingles of `split(input, " ", -1)` in order
    * of first occurrence; empty when the text has fewer than k words.
    */
  def distinct(input: UTF8String, k: Int): java.util.LinkedHashSet[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    val words = input.toString.split(" ", -1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= words.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }
}
