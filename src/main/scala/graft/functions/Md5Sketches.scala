package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The md5 MinHash signature of the dedup oracle twins as a single
  * per-row expression: for hash i, the min over the text's distinct
  * k-word shingles ([[WordShingles.distinct]]) of (A_i·h + B_i) mod M,
  * where h is the first 7 hex digits of md5 of the shingle's UTF-8
  * bytes. A text with fewer than k words, or a null text, gets M at
  * every position, so the result is never null.
  *
  * Every intermediate stays below 2^59 (h < 2^28, A_i < 2^31), which
  * is why the DuckDB oracle can spell out the same arithmetic in
  * BIGINT. Map-only: no exchange, one md5 per distinct shingle.
  * Codegen calls [[compute]] through a reference object.
  */
case class Md5MinHashSignature(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression {
  import Md5MinHashSignature.{A, B, M}
  require(numHashes <= A.length, s"at most ${A.length} hash functions")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_md5"

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  def compute(input: UTF8String): ArrayData = {
    val sig = Array.fill(numHashes)(M)
    if (input != null) {
      val md = MessageDigest.getInstance("MD5")
      val it = WordShingles.distinct(input, shingleK).iterator()
      while (it.hasNext) {
        val h = Md5Sketches.prefixBits(md.digest(it.next().getBytes(UTF_8)), 28)
        var i = 0
        while (i < numHashes) {
          val v = (h * A(i) + B(i)) % M
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashMd5", this, classOf[Md5MinHashSignature].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = $ref.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5MinHashSignature {
  /** The modulus, 2^31 - 1 (prime), and the empty-sketch value. */
  val M = 2147483647L

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Affine coefficients of the 16 hash functions — compile-time
    * deterministic, embedded as literals in the DuckDB oracle SQL.
    */
  val A: Array[Long] =
    Array.tabulate(16)(i => (splitmix64(1000L + 2 * i) & Long.MaxValue) % (M - 1) + 1)
  val B: Array[Long] =
    Array.tabulate(16)(i => (splitmix64(1001L + 2 * i) & Long.MaxValue) % M)
}

/** The 32-bit md5 SimHash of the dedup oracle twins as a single
  * per-row expression over an already-lowercased text: tokens are
  * `split(text, " ", -1)`, empty tokens included; each token votes +1
  * on the bits set in the first 8 hex digits of md5 of its UTF-8 bytes
  * and -1 on the rest; bit b of the fingerprint is set iff its vote
  * sum is positive. A null text has no tokens and fingerprint 0, so
  * the result is never null (`Dedup.simhashMd5` drops null texts
  * before, as the token explode it replaced did).
  *
  * The caller passes `lower(text)` as a Column, so the plan keeps the
  * one case-mapping policy ([[CaseMapRewrite]]). Map-only: no
  * exchange, no 32-wide generated aggregate. Codegen calls the static
  * [[Md5SimHash32.compute]].
  */
case class Md5SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash_md5"

  override def eval(input: InternalRow): Any =
    Md5SimHash32.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = graft.functions.Md5SimHash32.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5SimHash32 {
  def compute(lowered: UTF8String): Long = {
    val md = MessageDigest.getInstance("MD5")
    val tokens = if (lowered == null) Array.empty[String] else lowered.toString.split(" ", -1)
    val votes = new Array[Int](32)
    var i = 0
    while (i < tokens.length) {
      val h = Md5Sketches.prefixBits(md.digest(tokens(i).getBytes(UTF_8)), 32)
      var bit = 0
      while (bit < 32) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var fp = 0L
    var bit = 0
    while (bit < 32) {
      if (votes(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }
}

private object Md5Sketches {
  /** The first `bits` bits (a multiple of 4, at most 32) of a digest as
    * a non-negative long: the value of its first bits/4 hex digits.
    */
  def prefixBits(digest: Array[Byte], bits: Int): Long = {
    val top = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
    top >>> (32 - bits)
  }
}
