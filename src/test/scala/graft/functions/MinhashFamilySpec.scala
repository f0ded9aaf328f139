package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Driver-only guard on the MinHash permutation family
  * (Text.minhashCoeffA/B): at the similarity of a one-word lexical
  * edit (Jaccard 57/59 over 3-gram hashes), every pair of a fixed
  * sample must share a band of the registries' 8x4 banding, and the
  * mean slot agreement must sit within one slot of 32 * J — what 32
  * independent permutations give. The retired family (a_j, b_j
  * multiples of j) fails the same check, which is what the guard is
  * for. */
class MinhashFamilySpec extends AnyFunSuite {

  private val P = Text.MinhashP
  private val NumPerm = 32
  private val RowsPerBand = 4
  private val Shared = 57 // |A ∩ B|; |A ∪ B| = 59
  private val J = Shared / 59.0

  /** 2000 fixed-seed set pairs: 57 shared hashes plus one private hash
    * on each side, all uniform in [0, p). */
  private val pairs: Seq[(Array[Long], Array[Long])] = {
    val rnd = new scala.util.Random(20261019L)
    def h(): Long = (rnd.nextLong() & Long.MaxValue) % P
    Seq.fill(2000) {
      val common = Array.fill(Shared)(h())
      (common :+ h(), common :+ h())
    }
  }

  private def signature(hs: Array[Long], a: Int => Long, b: Int => Long): Array[Long] =
    (1 to NumPerm).map(j => hs.iterator.map(x => (a(j) * x + b(j)) % P).min).toArray

  /** (pairs sharing no band, mean agreeing slots) under a family. */
  private def check(a: Int => Long, b: Int => Long): (Int, Double) = {
    val agreements = pairs.map { case (x, y) =>
      val sx = signature(x, a, b)
      val sy = signature(y, a, b)
      val agree = sx.zip(sy).map { case (u, v) => u == v }
      val anyBand = agree.grouped(RowsPerBand).exists(_.forall(identity))
      (anyBand, agree.count(identity))
    }
    (agreements.count(!_._1), agreements.map(_._2).sum.toDouble / pairs.size)
  }

  test("coefficients stay in range: a_j in [1, p), b_j in [0, p)") {
    (1 to 1024).foreach { j =>
      assert(Text.minhashCoeffA(j) >= 1 && Text.minhashCoeffA(j) < P)
      assert(Text.minhashCoeffB(j) >= 0 && Text.minhashCoeffB(j) < P)
    }
  }

  test("every Jaccard-57/59 pair shares a band; mean agreement is 32*J within 1 slot") {
    val (missed, meanAgree) = check(Text.minhashCoeffA, Text.minhashCoeffB)
    assert(missed == 0, s"$missed of ${pairs.size} pairs share no band")
    assert(math.abs(meanAgree - NumPerm * J) <= 1.0,
      s"mean agreement $meanAgree vs ${NumPerm * J}")
  }

  test("the retired family (a_j, b_j multiples of j) fails the same check") {
    val (missed, _) = check(j => (j * 2654435761L) % P, j => (j * 40503L) % P)
    assert(missed > 0, "the correlated family should miss some pairs")
  }
}
