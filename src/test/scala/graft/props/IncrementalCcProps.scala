package graft.props

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.TestSpark
import graft.operators.Dedup

/** Connected components on RANDOM graphs. Three implementations must
  * agree row for row: the driver union-find connectedComponents runs
  * below its edge cap, the distributed pointer-jumping fixpoint
  * (connectedComponentsLoop, its path above the cap) and the
  * test-local reference union-find `refCC` — on random graphs, long
  * shuffled chains, self-loops, duplicate and reversed edges, empty
  * input, null endpoints and string ids whose UTF-8 and UTF-16 orders
  * disagree. Then the incremental-CC contract: for ANY edge set and
  * ANY split into standing/batch, clustering the standing edges and
  * folding the batch in must equal clustering everything at once —
  * the q182 oracle property, here exercised across arbitrary graph
  * shapes (chains, stars, bridges, isolated merges) instead of one
  * corpus. */
object IncrementalCcProps extends Properties("incrementalCC") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  /** Random edges over a small id space (dense enough to force merges). */
  private val edges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 18)
    es <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 11L)
      b <- Gen.choose(0L, 11L) if a != b
    } yield (a, b))
  } yield es

  /** Random edges WITH self-loops, then some edges repeated as they
    * are and some reversed; possibly empty. */
  private val messyEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 16)
    es <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    dup <- Gen.someOf(es)
    rev <- Gen.someOf(es)
  } yield scala.util.Random.shuffle(es ++ dup ++ rev.map(_.swap))

  private def cc(es: Seq[(Long, Long)]): Map[Long, Long] =
    if (es.isEmpty) Map.empty
    else Dedup.connectedComponents(es.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  private def edgeFrame(es: Seq[(Any, Any)], idType: String): DataFrame =
    spark.createDataFrame(es.map { case (a, b) => Row(a, b) }.asJava,
      StructType.fromDDL(s"id_a $idType, id_b $idType"))

  private def labels(d: DataFrame): Map[Any, Any] = {
    val rows = d.collect()
    val m = rows.map(r => r.get(0) -> r.get(1)).toMap
    assert(m.size == rows.length, s"one row per id, got ${rows.toSeq}")
    m
  }

  /** Driver path, loop and reference agree on the labels, and the
    * driver path returns the loop's column types and nullability. */
  private def threeWay[T](es: Seq[(T, T)], idType: String)
                         (implicit ord: Ordering[T]): Boolean = {
    val pairs = edgeFrame(es, idType)
    val local = Dedup.connectedComponents(pairs)
    val loop = Dedup.connectedComponentsLoop(pairs)
    local.isLocal && local.schema == loop.schema &&
      labels(local) == refCC(es) && labels(loop) == refCC(es)
  }

  /** Reference union-find (driver-side, path-compressed, union-by-min)
    * — the INDEPENDENT oracle both paths must match: attaching the
    * larger root under the smaller keeps the root the component's min
    * id at every step. A null endpoint is an id of its own (null) that
    * links nothing. */
  private def refCC[T](es: Seq[(T, T)])(implicit ord: Ordering[T]): Map[Any, Any] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      if (a != null && b != null) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
    }
    es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(i => (i: Any) -> (if (i == null) null else find(i))).toMap
  }

  property("pointer-jumping fixpoint == reference union-find") =
    forAll(edges) { es =>
      es.isEmpty || Dedup.connectedComponentsLoop(es.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap == refCC(es)
    }

  property("driver union-find == fixpoint == reference, with self-loops, " +
    "duplicate and reversed edges, and empty input") =
    forAll(messyEdges)(es => threeWay(es, "BIGINT"))

  /** The pointer-jumping adversarial case: one long CHAIN (diameter =
    * n), edges delivered shuffled — plain propagation's O(diameter)
    * worst case, the shape the label-of-label jump exists for. */
  property("long shuffled chains cluster to the chain min (the " +
    "O(log d) adversarial shape)") =
    forAll(Gen.choose(5, 30), Gen.choose(0L, 1000L)) { (n, off) =>
      val chain = (0 until n).map(i => (off + i, off + i + 1))
      val shuffled = scala.util.Random.shuffle(chain.toList)
      val got = cc(shuffled)
      got.nonEmpty && got.values.forall(_ == off) &&
        got.keySet == (off to off + n).toSet && threeWay(shuffled, "BIGINT")
    }

  property("null endpoints: one (null, null) row, and a null links nothing") =
    forAll(messyEdges, Gen.choose(1, 3)) { (es, k) =>
      val boxed: Seq[(java.lang.Long, java.lang.Long)] =
        es.map { case (a, b) => (Long.box(a), Long.box(b)) }
      val nulls = Seq.tabulate(k)(i =>
        if (i % 2 == 0) (Long.box(i.toLong), null) else (null, null))
      threeWay(scala.util.Random.shuffle(boxed ++ nulls), "BIGINT")(
        Ordering.by[java.lang.Long, Long](_.longValue))
    }

  /** U+FFFF is one UTF-16 unit above a surrogate but its UTF-8 bytes
    * (EF BF BF) sort below any supplementary character's (F0 ...):
    * Java's String order and Spark's byte order disagree on it. */
  property("string ids cluster to the min under UTF-8 byte order, not " +
    "Java's UTF-16 order") = {
    val utf8: Ordering[String] = (x, y) =>
      java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    val ids = Gen.oneOf("\uFFFF", "\uD83D\uDE00", "\uE000", "a", "ab", "", "z\u00E9")
    forAll(Gen.listOf(Gen.zip(ids, ids))) { es =>
      val linked = Seq(("\uFFFF", "\uD83D\uDE00"))
      val got = labels(Dedup.connectedComponents(edgeFrame(linked, "STRING")))
      got("\uD83D\uDE00") == "\uFFFF" && threeWay(es ++ linked, "STRING")(utf8)
    }
  }

  property("fold(standing, batch) == full recompute, for any split") =
    forAll(edges, Gen.choose(0, 100)) { (es, splitPct) =>
      val k = es.length * splitPct / 100
      val (standing, batch) = es.splitAt(k)
      val full = cc(es)
      val incremental =
        if (batch.isEmpty) cc(standing)
        else Dedup.connectedComponentsIncremental(
            if (standing.isEmpty)
              Seq.empty[(Long, Long)].toDF("id", "cluster")
            else Dedup.connectedComponents(standing.toDF("id_a", "id_b")),
            batch.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
      incremental == full
    }

  property("folding a batch twice equals folding it once (idempotent)") =
    forAll(edges) { es =>
      val (standing, batch) = es.splitAt(es.length / 2)
      if (batch.isEmpty) true
      else {
        val base =
          if (standing.isEmpty) Seq.empty[(Long, Long)].toDF("id", "cluster")
          else Dedup.connectedComponents(standing.toDF("id_a", "id_b"))
        val once = Dedup.connectedComponentsIncremental(
          base, batch.toDF("id_a", "id_b"))
        val twice = Dedup.connectedComponentsIncremental(
            once, batch.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        twice == once.as[(Long, Long)].collect().toMap
      }
    }
}
