package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.Multimodal

/** The q210 media near-dup funnel's banded-candidate completeness
  * theorem under random feature corpora: with the hot-key guard
  * disarmed (maxBandDf >= corpus size), the funnel's keeper/cluster
  * output must EQUAL the brute-force ground truth — quantize every
  * vector, connect every pair within the Hamming radius over the
  * bucket vectors, min-id per component. The pigeonhole banding
  * (radius+1 bands) may only drop pairs BEYOND the radius, never a
  * true near-dup; the verify stage may only drop candidates beyond
  * the radius. Random features drawn near bucket multiples make
  * boundary collisions (values straddling a floor edge) common, so
  * the quantize-then-compare order is pinned too. */
object MediaNearDupProps extends Properties("mediaNearDup") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val Dim = 6
  private val Width = 4.0

  // features clustered near bucket edges: base points at multiples of
  // the width, jittered +-1.5 so floor() flips often between close rows
  private val feature: Gen[Array[Float]] =
    Gen.listOfN(Dim, for {
      base <- Gen.choose(0, 5)
      jit <- Gen.choose(-15, 15)
    } yield (base * Width + jit / 10.0).toFloat).map(_.toArray)

  private def brute(rows: Seq[(Long, Array[Float])], radius: Int)
      : Map[Long, (Option[Long], Boolean)] = {
    val q = rows.map { case (id, f) =>
      id -> f.map(v => math.floor(v.toDouble / Width).toLong).toSeq
    }
    val edges = for {
      (ia, ba) <- q; (ib, bb) <- q if ia < ib
      if ba.zip(bb).count { case (x, y) => x != y } <= radius
    } yield (ia, ib)
    // connected components by fixpoint label propagation
    var label = q.map { case (id, _) => id -> id }.toMap
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m || label(b) != m) {
          label += a -> m; label += b -> m; changed = true
        }
      }
    }
    val inComp = edges.flatMap(e => Seq(e._1, e._2)).toSet
    q.map { case (id, _) =>
      if (!inComp(id)) id -> (None, true)
      else {
        val c = label(id)
        val keep = q.collect { case (i, _) if label(i) == c => i }.min
        id -> (Some(c), id == keep)
      }
    }.toMap
  }

  property("funnel == brute force at radius 0 and 1 (guard disarmed)") =
    forAll(Gen.choose(4, 10).flatMap(k =>
      Gen.listOfN(k, feature))) { feats =>
      val rows = feats.zipWithIndex.map { case (f, i) => (i.toLong, f) }
      val df = rows.map { case (id, f) => (id, "image", f.length * 4, f) }
        .toDF("media_id", "kind", "n_bytes", "feature")
      Seq(0, 1).forall { radius =>
        val got = Multimodal.nearDupFunnelFromFeatures(
            df, Dim, Width, radius, maxBandDf = rows.size + 1)
          .select("media_id", "nd_cluster", "kept").collect()
          .map(r => r.getLong(0) ->
            ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
              r.getBoolean(2)))
          .toMap
        val want = brute(rows, radius)
        // cluster LABELS must agree too: both sides use min-id of the
        // component, so the comparison is exact, not just partition-equal
        got == want
      }
    }
}
