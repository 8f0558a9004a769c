package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Pins the SimHash banding recall contract: candidate generation must
  * have 100% recall at hamming ≤ maxHamming (pigeonhole over
  * maxHamming + 1 disjoint bands). The planted pairs place their
  * differing bits ADVERSARIALLY — one flip in each of maxHamming
  * distinct bands, so exactly one band survives untouched. A banding
  * with fewer than maxHamming + 1 bands (e.g. the fixed 4x16 split at
  * maxHamming = 8) has zero surviving bands on these pairs and silently
  * drops them.
  */
class SimhashRecallSpec extends SparkSpec {

  test("simhashBands: h+1 disjoint bands covering all 64 bits") {
    for (h <- Seq(0, 1, 3, 7, 8, 15, 63)) {
      val bands = Dedup.simhashBands(h)
      assert(bands.size == h + 1, s"h=$h band count")
      assert(bands.map(_._2).sum == 64, s"h=$h total width")
      // disjoint + contiguous coverage: each band starts where the
      // previous ended
      bands.sliding(2).foreach {
        case Seq((s1, w1), (s2, _)) => assert(s1 + w1 == s2, s"h=$h gap")
        case _ => ()
      }
      assert(bands.head._1 == 0 && bands.last._1 + bands.last._2 == 64)
    }
  }

  /** Flip one bit in each of `flips` DISTINCT bands (lowest bit of each
    * band) — the worst case for band survival. */
  private def adversarialFlip(sig: Long, maxHamming: Int, flips: Int): Long = {
    val bands = Dedup.simhashBands(maxHamming)
    require(flips <= bands.size)
    bands.take(flips).foldLeft(sig) { case (s, (shift, _)) => s ^ (1L << shift) }
  }

  private def recallAt(maxHamming: Int, flips: Int): Double = {
    val rnd = new scala.util.Random(20260812L)
    val n = 200
    val base = Seq.fill(n)(rnd.nextLong())
    // ids: planted partner of base i is i + n; distractors beyond
    val rows = base.zipWithIndex.flatMap { case (sig, i) =>
      Seq((i.toLong, sig), ((i + n).toLong, adversarialFlip(sig, maxHamming, flips)))
    }
    import spark.implicits._
    val sh = rows.toDF("id", "sim")
    val pairs = Dedup.simhashPairs(sh, maxHamming)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val found = (0 until n).count { i =>
      pairs.contains((i.toLong, (i + n).toLong)) ||
        pairs.contains(((i + n).toLong, i.toLong))
    }
    found.toDouble / n
  }

  test("100% candidate recall at hamming == maxHamming (h=8, adversarial spread)") {
    assert(recallAt(maxHamming = 8, flips = 8) == 1.0)
  }

  test("100% candidate recall at hamming == maxHamming (h=3)") {
    assert(recallAt(maxHamming = 3, flips = 3) == 1.0)
  }

  test("100% candidate recall below the radius (h=8, 5 flips)") {
    assert(recallAt(maxHamming = 8, flips = 5) == 1.0)
  }

  test("hamming filter is exact: pairs beyond the radius are excluded") {
    import spark.implicits._
    // hamming 9 concentrated in the first two bands of h=8 (all 8 bits
    // of band 0 + 1 bit of band 1): 7 bands stay identical so the pair
    // DOES surface as a candidate — the output filter must still drop it
    val sig = 0x0123456789ABCDEFL
    val bands = Dedup.simhashBands(8)
    val far1 = (0 until bands.head._2) // all bits of band 0
      .foldLeft(sig)((s, b) => s ^ (1L << (bands.head._1 + b)))
    val far = far1 ^ (1L << bands(1)._1) // 1 bit of band 1
    assert(java.lang.Long.bitCount(sig ^ far) == 9)
    val sh = Seq((1L, sig), (2L, far)).toDF("id", "sim")
    assert(Dedup.simhashPairs(sh, 8).count() == 0)
  }
}
