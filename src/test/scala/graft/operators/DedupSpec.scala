package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operators over a tiny planted corpus: one exact-dup pair,
  * one near-dup pair (one token changed), one unrelated doc. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val a = "spark query engine scans parquet files with vectorized readers and pushes filters down"
  private val aNear = a.replace("vectorized", "columnar") // 1 token differs
  private val b = "completely different text about cooking pasta with garlic butter and fresh basil leaves"

  private def corpus = Seq(
    (1L, a), (2L, a), (3L, aNear), (4L, b)
  ).toDF("doc_id", "text")

  test("exactDedup keeps the smallest id per key and counts the group") {
    val out = Dedup.exactDedup(corpus, "doc_id", md5(col("text")))
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("exactDedup: NULL keys never deduplicate against each other " +
    "(a null-propagating key expression must not collapse the unkeyed rows)") {
    // key = md5(title): rows 10/11 have NULL titles (key NULL) and
    // DIFFERENT bodies — both must survive, each its own group
    val df = Seq(
      (10L, Option.empty[String], "body one"),
      (11L, Option.empty[String], "body two"),
      (12L, Some("t"), "x"), (13L, Some("t"), "y")
    ).toDF("doc_id", "title", "body")
    val out = Dedup.exactDedup(df, "doc_id", md5(col("title")))
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out == Map(10L -> 1L, 11L -> 1L, 12L -> 2L))
  }

  test("jaccardPairs finds the exact-dup and the near-dup pair, not the unrelated doc") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)) && keys.contains((1L, 3L)) && keys.contains((2L, 3L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    val exact = pairs.find(p => (p._1, p._2) == (1L, 2L)).get
    assert(exact._3 == 1.0)
  }

  test("containmentPairs catches a partial copy that jaccard misses") {
    // doc 6 pastes doc 5 whole into a much longer unrelated tail:
    // containment(5 in 6) = 1.0 but jaccard is ~|A|/|B| — far below
    // any resemblance threshold. Asymmetry is the whole point.
    val small = "alpha beta gamma delta epsilon"
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq((5L, small), (6L, s"$small $filler"), (7L, filler))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val cont = Dedup.containmentPairs(sh, permille = 900)
      .select("id_a", "id_b", "inter", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // (5,6): all 3 of doc 5's shingles appear in doc 6
    assert(cont.exists(p => p._1 == 5L && p._2 == 6L && p._3 == 3L && p._4 == 3L))
    val jac = Dedup.jaccardPairsFromShingles(sh, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((5L, 6L)), "jaccard should miss the partial copy")
    // (6,7): doc 7 is contained in doc 6 too (the filler tail)
    assert(cont.exists(p => p._1 == 6L && p._2 == 7L))
    // (5,7): nothing shared
    assert(!cont.exists(p => p._1 == 5L && p._2 == 7L))
  }

  test("minhashLshPairs recovers the same pairs as exact jaccard at this threshold") {
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 4, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // LSH candidates are a subset of all pairs; verified jaccard makes
    // them exact — near-dups this strong (j>=0.8) can't be missed by
    // 8 bands of 4 (P(miss) = (1-j^4)^8 < 1e-3 at j=0.8).
    assert(lsh == exact)
  }

  test("minhash signature agreement estimates jaccard") {
    // sig-agreement/numPerm is an unbiased estimator of Jaccard; on
    // this deterministic corpus check it lands near the exact value.
    val sh = Dedup.shingleSets(corpus, "doc_id", "text", 3)
    val sigs = Dedup.minhashSigTable(sh, 32).collect()
      .map(r => r.getLong(0) -> (1 to 32).map(j => r.getAs[Long](s"mh_$j"))).toMap
    val est13 = sigs(1L).zip(sigs(3L)).count(p => p._1 == p._2) / 32.0
    val exact13 = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.0)
      .filter(col("id_a") === 1 && col("id_b") === 3)
      .select("jaccard").collect().head.getDouble(0)
    assert(math.abs(est13 - exact13) < 0.25)
    assert(sigs(1L) == sigs(2L)) // exact dups: identical signatures
  }

  test("connectedComponents: chains merge transitively, components stay apart") {
    // 1-2, 2-3, 3-4 form one component (diameter 3 forces multiple
    // label-propagation rounds); 10-11 is another.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(Dedup.connectedComponents(pairs).schema ==
      Dedup.connectedComponentsLoop(pairs).schema)
  }

  test("connectedComponents submits as many jobs for a 2-node graph as " +
    "for a 40-node shuffled chain (no job per propagation round)") {
    def jobs(es: Seq[(Long, Long)]): Int = {
      val pairs = es.toDF("id_a", "id_b").repartition(3)
      org.apache.spark.JobsSubmitted.during(spark.sparkContext) {
        Dedup.connectedComponents(pairs).collect()
      }
    }
    val chain = new scala.util.Random(7).shuffle((0L until 39L).map(i => (i, i + 1)))
    assert(jobs(Seq((1L, 2L))) == jobs(chain))
  }

  test("connectedComponents above the edge cap runs the distributed " +
    "fixpoint, with the same labels") {
    val n = Dedup.LocalEdgeCap + 1
    val pairs = spark.range(n)
      .select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
    val out = Dedup.connectedComponents(pairs)
    assert(!out.isLocal, "above the cap the labels must come from the loop")
    assert(out.count() == 2L * n)
    assert(out.filter(col("cluster") =!= col("id") - col("id") % 2).isEmpty)
    assert(Dedup.connectedComponents(pairs.limit(10)).isLocal)
  }

  test("connectedComponentsStar matches the fixpoint variant on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(30)
      val nEdges = 1 + rnd.nextInt(2 * n)
      val pairs = Seq.fill(nEdges) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (a, b)
      }.filter { case (a, b) => a != b }
      if (pairs.nonEmpty) {
        val df = pairs.toDF("id_a", "id_b")
        val fix = Dedup.connectedComponents(df).as[(Long, Long)].collect().toSet
        val star = Dedup.connectedComponentsStar(df).as[(Long, Long)].collect().toSet
        assert(star == fix, s"trial $trial with edges $pairs")
      }
    }
  }

  test("connectedComponentsStar: long path (adversarial diameter)") {
    // a 24-node path: diameter 23 — the star variant converges in
    // O(log n) rounds and must still label every node with the min.
    val pairs = (0L until 23L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap
    assert(out.size == 24 && out.values.forall(_ == 0L))
  }

  test("simhashGroups: exact dups share a fingerprint and bucket") {
    val out = Dedup.simhashGroups(corpus, "doc_id", "text", bits = 16)
      .select("id", "simhash", "bucket_size").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == out(2L)._1)
    assert(out(1L)._2 >= 2)
    assert(out(1L)._1 != out(4L)._1)
  }

  test("minhashLshPairsIncremental: new batch probes old corpus, old x old never reported") {
    // doc 3 (the near-dup of 1/2) is the "new batch"; 1, 2, 4 are the
    // corpus. The exact-dup pair (1,2) is old x old and must NOT
    // appear even though its Jaccard is 1.0 — incremental maintenance
    // only pays for the batch.
    val sh = Dedup.DefaultMaterialize(
      Dedup.shingleSets(corpus, "doc_id", "text", 3))
    val out = Dedup.minhashLshPairsIncremental(sh, col("id") === 3,
        bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(out.forall(_._1 == 3L))
    assert(out.map(_._2).subsetOf(Set(1L, 2L)))
    assert(out.nonEmpty) // the near-dup was found through the band index
  }

  test("simhash64: exact dups collide, unrelated text is far, empty doc has no fp") {
    val withEmpty = corpus.union(Seq((5L, "   ")).toDF("doc_id", "text"))
    val fp = Dedup.simhash64(withEmpty, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(!fp.contains(5L)) // zero tokens -> no fingerprint
    assert(fp(1L) == fp(2L)) // identical text -> identical 64-bit fp
    // near-dup (1 of 13 tokens changed) is closer than unrelated text
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)))
    // fingerprints use the full width: some doc sets a high bit
    assert(fp.values.exists(v => (v >>> 48) != 0))
  }

  test("incremental CC: batch edges fold into a standing labeling == full recompute") {
    // standing clusters {1,2}, {3,4}, {6,7}
    val oldEdges = Seq((1L, 2L), (3L, 4L), (6L, 7L)).toDF("id_a", "id_b")
    val standing = Dedup.connectedComponents(oldEdges)
    // batch: bridge {1,2}<->{3,4} via (2,3); attach NEW node 9 to 7;
    // and a brand-new pair (10,11) touching nothing standing
    val batch = Seq((2L, 3L), (9L, 7L), (10L, 11L)).toDF("id_a", "id_b")
    val inc = Dedup.connectedComponentsIncremental(standing, batch)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
        oldEdges.union(batch))
      .as[(Long, Long)].collect().toMap
    assert(inc == full, s"incremental $inc must equal full recompute $full")
    // and the labels are the min ids: merged component -> 1, 9 -> 6
    assert(inc(4L) == 1L && inc(9L) == 6L && inc(11L) == 10L)
  }

  test("incremental CC: intra-cluster batch edges are a no-op") {
    val oldEdges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val standing = Dedup.connectedComponents(oldEdges)
    val before = standing.as[(Long, Long)].collect().toMap
    val inc = Dedup.connectedComponentsIncremental(standing,
        Seq((1L, 3L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(inc == before, "an edge inside one cluster must change nothing")
  }
}
