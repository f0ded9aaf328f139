package graft.operators

import graft.SparkSpec
import graft.pipeline.{Arbitrage, Bovada, Normalize}
import org.apache.spark.sql.functions._

/** Degenerate-input robustness: every operator must return an EMPTY
  * result with the right schema (never throw, never emit garbage)
  * when fed zero rows — the reference's scrape-failure path
  * (bovada_pull.py:34-42 sentinel) generalized: empty DataFrame in,
  * empty DataFrame out. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
  private val noGrid = Seq.empty[(Int, String, String, String, String, String)]
    .toDF("idx", "Sport", "Team", "BetType", "Info", "DraftKings")

  test("dedup operators on an empty corpus") {
    assert(Dedup.exactDedup(noDocs, "doc_id", md5(col("text"))).count() == 0)
    assert(Dedup.jaccardPairs(noDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.minhashLshPairs(noDocs, "doc_id", "text", 3, 8, 4, 0.5).count() == 0)
    assert(Dedup.simhashGroups(noDocs, "doc_id", "text", 16).count() == 0)
  }

  test("similarity operators on an empty corpus") {
    assert(Similarity.bruteForceTopK(noVecs, noVecs, "vec_id", "embedding", 5).count() == 0)
    assert(Similarity.lshTopK(noVecs, noVecs, "vec_id", "embedding", 4, 4, 5).count() == 0)
    assert(Similarity.cosinePairs(noVecs, "vec_id", "embedding", 4, 0.5).count() == 0)
    val noLabeled = Seq.empty[(Long, Array[Float], String)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.hardNegatives(noLabeled, noLabeled,
      "vec_id", "embedding", "label", 5).count() == 0)
  }

  test("round-5 additions on an empty corpus") {
    assert(Dedup.ophSignatures(noDocs, "doc_id", "text", 3, 8).count() == 0)
    assert(Dedup.prefixFilterPairs(
      Dedup.shingleSets(noDocs, "doc_id", "text", 3), 500).count() == 0)
    val cents = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.semDedup(noVecs, cents, "vec_id", "embedding", 0.9).count() == 0)
    assert(Similarity.rerankTopK(
      Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id"),
      noVecs, noVecs, "vec_id", "embedding", 5).count() == 0)
    // a doc too short to shingle yields no signature row, not a crash
    val short = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(Dedup.ophSignatures(short, "doc_id", "text", 3, 8).count() == 0)
  }

  test("round-6 hierarchical quantizer on empty and degenerate corpora") {
    // empty corpus: empty coarse fit, empty fine fit, empty output —
    // never a throw (the documented dense-id seed contract is about
    // SPARSE ids, not absent rows)
    val (coarse, fine) = Similarity.hierarchicalQuantizerFit(
      noVecs, "vec_id", "embedding", k = 4, maxIter = 2)
    assert(coarse.count() == 0 && fine.count() == 0)
    assert(Similarity.hierarchicalAssign(noVecs, coarse, fine,
      "vec_id", "embedding").count() == 0)
    assert(Similarity.hierarchicalSemDedupAuto(noVecs, "vec_id",
      "embedding", eps = 0.5, maxIter = 2).count() == 0)
    val cents = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.semDedupCapped(noVecs, cents, "vec_id", "embedding",
      eps = 0.5, cellCap = 3).count() == 0)
    // single-vector corpus: it seeds coarse AND fine, assigns to
    // itself, survives dedup as a singleton
    val one = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.hierarchicalSemDedupAuto(one, "vec_id",
      "embedding", eps = 0.5, maxIter = 2)
    assert(out.count() == 1 && out.filter(col("kept")).count() == 1)
  }

  test("round-6 trainers on empty and exhausted inputs") {
    // empty feature table: every round is (0 misclassified, zero
    // deltas) — sum() over zero rows is NULL and must coalesce to 0,
    // not NPE (found by review)
    val noFeats = Seq.empty[(Long, Long, Int)].toDF("doc_id", "x", "y")
    val pout = Perceptron.fit(noFeats, Seq("x"), "y", rounds = 2)
      .orderBy("round").collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(pout.toSeq == Seq((0L, 0L, 0L), (0L, 0L, 0L)))
    // a corpus that runs OUT of adjacent pairs before `rounds`:
    // trajectory ends early instead of throwing on the empty argmax
    // (found by review). 'ab' fully merges in round 1.
    val words = Seq(("ab", 3L)).toDF("word", "freq")
    val merges = BpeTrain.fit(words, rounds = 4).collect()
    assert(merges.length == 1)
    assert(merges(0).getString(1) == "a" && merges(0).getString(2) == "b")
    // no words at all: empty trajectory, right schema
    val noWords = Seq.empty[(String, Long)].toDF("word", "freq")
    assert(BpeTrain.fit(noWords, rounds = 2).count() == 0)
    // subword encode over a corpus that tokenizes to nothing: empty
    // encodings and zero counts, never a throw (found by review)
    val punct = Seq((1L, "!!! ??? ...")).toDF("doc_id", "text")
    val vocab = Subword.vocabulary(noDocs, "doc_id", "text", 50)
    assert(Subword.encodeCorpus(noDocs, "doc_id", "text", vocab).count() == 0)
    assert(Subword.encodeCorpus(punct, "doc_id", "text", vocab).count() == 0)
    assert(Subword.docCounts(punct, "doc_id", "text", vocab).count() == 0)
  }

  test("robust outliers on empty and single-row entities") {
    val noEvents = Seq.empty[(Long, String, Double)]
      .toDF("event_id", "user_id", "value")
    assert(Robust.madOutliers(noEvents, "user_id", "value", "event_id", 3.0)
      .count() == 0)
    // single observation: it IS the median, dev=0, MAD=0 -> no flag
    val one = Seq((1L, "u", 5.0)).toDF("event_id", "user_id", "value")
    assert(Robust.madOutliers(one, "user_id", "value", "event_id", 3.0)
      .count() == 0)
  }

  test("pipeline on an empty grid (the failed-scrape path)") {
    val out = Arbitrage.detect(noGrid, Seq("DraftKings"), 3)
    assert(out.count() == 0)
    assert(out.columns.contains("message")) // schema intact
    assert(Normalize.grid(noGrid, Seq("DraftKings"), "DraftKings").count() == 0)
    val noBlobs = Seq.empty[(Int, String)].toDF("blob_id", "t")
    assert(Bovada.quotes(noBlobs, "t").count() == 0)
  }

  test("as-of join with an empty right side keeps left rows, null payload") {
    val ticks = Seq(("k", new java.sql.Timestamp(1000), "t1")).toDF("key", "ts", "tick")
    val noQuotes = Seq.empty[(String, java.sql.Timestamp, Double)].toDF("key", "qts", "px")
    val out = AsOfJoin.backward(ticks, noQuotes, Seq("key"), "ts", "qts", Seq("px"))
      .select("tick", "px").as[(String, Option[Double])].collect()
    assert(out.toSeq == Seq(("t1", None)))
    val fwd = AsOfJoin.forward(ticks, noQuotes, Seq("key"), "ts", "qts", Seq("px"))
      .select("tick", "px").as[(String, Option[Double])].collect()
    assert(fwd.toSeq == Seq(("t1", None)))
  }

  test("chunking and k-means on empty inputs") {
    assert(Chunking.chunk(noDocs, "doc_id", "text", 32, 8).count() == 0)
    assert(Chunking.truncateToCharBudget(noDocs, "doc_id", "text", 100).count() == 0)
    // empty corpus -> no assignments -> no centroids
    assert(Similarity.kmeansIteration(noVecs, noVecs, "vec_id", "embedding").count() == 0)
    // empty SEEDS with a non-empty corpus: nothing to assign to
    val vecs = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(Similarity.kmeansIteration(vecs, noVecs, "vec_id", "embedding").count() == 0)
  }

  test("curation ops on empty inputs") {
    // signatures / connected components over nothing
    assert(Dedup.minhashSignatures(noDocs, "doc_id", "text", 3, 32).count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
  }
}
