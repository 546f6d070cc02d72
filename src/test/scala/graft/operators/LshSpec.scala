package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins the SimHash pigeonhole banding rule ([[Lsh.pigeonholeBands]])
  * that the batch near-dup operators, the streaming near-dup flags and
  * the state probe share: for 32- and 64-bit fingerprints and several
  * `maxDist`, the bands are `maxDist + 1` disjoint bit ranges, and any
  * pair within `maxDist` bits agrees on at least one band.
  */
class LshSpec extends SparkSpec {
  import spark.implicits._

  // maxDist 0 is one full-width band: on 64 bits its mask is all ones,
  // which `(1L << 64) - 1` does not spell
  private val cases = for (width <- Seq(32, 64); maxDist <- Seq(0, 1, 3, 4, 7)) yield (width, maxDist)

  /** Each fingerprint's bands as (band_idx, band_bits), in input order. */
  private def bands(fps: Seq[Long], width: Int, maxDist: Int): Seq[Seq[(Int, Long)]] =
    fps.zipWithIndex.toDF("fp", "i")
      .select(col("i"), Lsh.pigeonholeBands(col("fp"), width, maxDist).as("b"))
      .orderBy("i").collect().toSeq
      .map(_.getSeq[Row](1).map(r => (r.getInt(0), r.getLong(1))))

  private def mask(bits: Int): Long = if (bits == 64) -1L else (1L << bits) - 1

  test("pigeonholeBands: maxDist + 1 disjoint bit ranges of width / (maxDist + 1) bits") {
    for ((width, maxDist) <- cases) {
      val ctx = s"width=$width maxDist=$maxDist"
      val bandBits = width / (maxDist + 1)
      // one single-bit fingerprint per bit: the band a bit lights up
      // is the band that bit belongs to
      val single = bands((0 until width).map(1L << _), width, maxDist)
      single.foreach(bs => assert(bs.map(_._1) == (0 to maxDist), ctx))
      val owner = single.map(_.collect { case (b, v) if v != 0 => b })
      assert(owner.forall(_.length <= 1), s"$ctx: a bit lies in two bands")
      val bitsOf = (0 to maxDist).map(b => owner.indices.filter(i => owner(i) == Seq(b)))
      bitsOf.zipWithIndex.foreach { case (bits, b) =>
        assert(bits == (b * bandBits until (b + 1) * bandBits), s"$ctx band $b: $bits")
      }
      // a band's value is its bit range, shifted down
      val fp = new scala.util.Random(width * 31 + maxDist).nextLong() & mask(width)
      val got = bands(Seq(fp), width, maxDist).head
      assert(got == (0 to maxDist).map(b =>
        b -> ((fp >>> (b * bandBits)) & mask(bandBits))), ctx)
    }
  }

  test("pigeonholeBands: a pair within maxDist bits shares a band; maxDist + 1 flips can miss") {
    for ((width, maxDist) <- cases) {
      val ctx = s"width=$width maxDist=$maxDist"
      val bandBits = width / (maxDist + 1)
      val rnd = new scala.util.Random(width * 101 + maxDist)
      def flip(fp: Long, bits: Seq[Int]): Long = bits.foldLeft(fp)((x, i) => x ^ (1L << i))
      // random pairs at every distance 0..maxDist, plus the worst case:
      // one flipped bit in each of maxDist different bands
      val near = for (d <- 0 to maxDist; _ <- 0 until 8) yield {
        val a = rnd.nextLong() & mask(width)
        a -> flip(a, rnd.shuffle((0 until width).toList).take(d))
      }
      val worst = (0 to maxDist).map { kept =>
        val a = rnd.nextLong() & mask(width)
        a -> flip(a, (0 to maxDist).filter(_ != kept).map(_ * bandBits))
      }
      val pairs = near ++ worst
      pairs.foreach { case (a, b) =>
        assert(java.lang.Long.bitCount(a ^ b) <= maxDist, ctx)
      }
      val bs = bands(pairs.flatMap { case (a, b) => Seq(a, b) }, width, maxDist)
      bs.grouped(2).zip(pairs).foreach { case (Seq(ba, bb), (a, b)) =>
        assert(ba.intersect(bb).nonEmpty, f"$ctx: $a%x and $b%x share no band")
      }
      // the bound is tight: one flip in every band separates all bands
      val a = rnd.nextLong() & mask(width)
      val far = flip(a, (0 to maxDist).map(_ * bandBits))
      val Seq(fa, ff) = bands(Seq(a, far), width, maxDist)
      assert(fa.intersect(ff).isEmpty, ctx)
    }
  }
}
