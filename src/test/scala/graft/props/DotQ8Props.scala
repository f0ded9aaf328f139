package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftBridge, LongDotProduct}
import graft.TestSpark
import graft.operators.Similarity

/** ScalaCheck property for Similarity.dotQ8 as one codegen'd
  * LongDotProduct over array<int>: it must return exactly what the
  * earlier form did — float casts per element, float_dot, cast to
  * long — kept here as the test-local oracle. Random int8 arrays up
  * to dim 180 (the EmbedDedupRegistry bound), +-127 extremes, empty
  * arrays, null arrays, null elements and length mismatches; results
  * equal as Long or both null. */
object DotQ8Props extends Properties("dot_q8") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private def oracle(a: Column, b: Column): Column =
    Similarity.dot(transform(a, x => x.cast("float")),
      transform(b, x => x.cast("float"))).cast("long")

  private type Vec = Option[Seq[Option[Int]]]

  private val int8: Gen[Int] = Gen.frequency(
    6 -> Gen.choose(-127, 127), 1 -> Gen.oneOf(-127, 127, 0))

  private def vec(n: Int): Gen[Seq[Option[Int]]] = Gen.listOfN(n, int8.map(Some(_)))

  /** Mostly same-length pairs; the rest exercise each null rule. */
  private val pair: Gen[(Vec, Vec)] = Gen.choose(0, 180).flatMap { n =>
    Gen.frequency(
      8 -> (for (a <- vec(n); b <- vec(n)) yield (Some(a), Some(b))),
      1 -> (for (a <- vec(n); b <- vec(n + 1)) yield (Some(a), Some(b))),
      1 -> vec(n).map(a => (Some(a), None)),
      1 -> (for (a <- vec(n + 1); b <- vec(n + 1); i <- Gen.choose(0, n))
        yield (Some(a), Some(b.updated(i, None)))))
  }

  /** A literal-backed LocalRelation constant-folds before execution —
    * round-trip through parquet so both forms run as generated code
    * over scanned arrays. */
  private def viaParquet(rows: Seq[(Int, Vec, Vec)]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dotq8prop_").toString
    rows.toDF("i", "a", "b").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def agrees(rows: Seq[(Int, Vec, Vec)]): Boolean = {
    val q = viaParquet(rows).select(col("i"),
      Similarity.dotQ8(col("a"), col("b")).as("got"),
      oracle(col("a"), col("b")).as("want"))
    val usesKernel = q.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[LongDotProduct]))
    val out = q.collect()
    usesKernel && out.length == rows.size && out.forall { r =>
      (r.isNullAt(1) && r.isNullAt(2)) ||
        (!r.isNullAt(1) && !r.isNullAt(2) && r.getLong(1) == r.getLong(2))
    }
  }

  property("dotQ8 is one LongDotProduct, with no higher-order function") = {
    val e = GraftBridge.expression(Similarity.dotQ8(col("a"), col("b")))
    e.isInstanceOf[LongDotProduct] && !e.exists(_.isInstanceOf[HigherOrderFunction])
  }

  property("dotQ8 == float-cast float_dot oracle, as Long or null") =
    forAll(Gen.listOfN(16, pair)) { pairs =>
      agrees(pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) })
    }

  property("edge cases: extremes at dim 180, empty, null array, null element, length mismatch") = {
    val max = Seq.fill(180)(Option(127))
    val min = Seq.fill(180)(Option(-127))
    val rows: Seq[(Int, Vec, Vec)] = Seq(
      (0, Some(max), Some(max)),
      (1, Some(max), Some(min)),
      (2, Some(Seq.empty), Some(Seq.empty)),
      (3, None, Some(max)),
      (4, Some(max.updated(7, None)), Some(max)),
      (5, Some(max), Some(max.take(179))))
    val got = viaParquet(rows).select(col("i"), Similarity.dotQ8(col("a"), col("b")))
      .as[(Int, Option[Long])].collect().toMap
    agrees(rows) && got == Map(0 -> Some(180L * 16129), 1 -> Some(-180L * 16129),
      2 -> Some(0L), 3 -> None, 4 -> None, 5 -> None)
  }
}
