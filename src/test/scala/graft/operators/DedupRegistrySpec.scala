package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Cross-run content dedup against the persistent fingerprint
  * registry: in-batch dups resolve to the smallest id, later batches
  * (and replays) are deduped against everything ever accepted. */
class DedupRegistrySpec extends SparkSpec {
  import spark.implicits._

  test("dedupAppend keeps new content only, across batches and replays") {
    val dir = Files.createTempDirectory("graft_reg_").toString + "/reg"
    val reg = new DedupRegistry(dir)
    def fp = md5(col("text"))

    // batch 1: two copies of A (min id wins) + B; the corpus sink
    // callback must see exactly the survivors BEFORE they register
    var persisted = Set.empty[Long]
    val b1 = Seq((2L, "doc A"), (1L, "doc A"), (3L, "doc B")).toDF("doc_id", "text")
    val out1 = reg.dedupAppend(b1, "doc_id", fp,
        persist = d => persisted = d.select("doc_id").as[Long].collect().toSet)
      .select("doc_id").as[Long].collect().toSet
    assert(out1 == Set(1L, 3L))
    assert(persisted == Set(1L, 3L))

    // batch 2: A again (registered), C (new)
    val b2 = Seq((10L, "doc A"), (11L, "doc C")).toDF("doc_id", "text")
    val out2 = reg.dedupAppend(b2, "doc_id", fp)
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(11L))

    // replay of batch 2: everything already registered
    val out3 = reg.dedupAppend(b2, "doc_id", fp).count()
    assert(out3 == 0)

    // registry holds exactly the three accepted fingerprints
    assert(reg.read(spark).distinct().count() == 3)
  }

  test("index compaction is invisible to the gate; forget re-admits " +
    "(the shared GenIndex contract)") {
    // VERDICT r6 #6: the exact-fingerprint registry runs the same
    // generation lifecycle as NearDup/Winnow — per-batch appends
    // fragment, compaction swaps generations with a deterministic
    // <= nBuckets file count, forget rewrites behind the same swap.
    val dir = Files.createTempDirectory("graft_regc_").toString + "/reg"
    val reg = new DedupRegistry(dir)
    def fp = md5(col("text"))
    reg.dedupAppend(Seq((1L, "doc A")).toDF("doc_id", "text"), "doc_id", fp)
    reg.dedupAppend(Seq((2L, "doc B")).toDF("doc_id", "text"), "doc_id", fp)
    reg.dedupAppend(Seq((3L, "doc C")).toDF("doc_id", "text"), "doc_id", fp)
    def files(loc: String): Int =
      new java.io.File(loc).listFiles.count(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val locBefore = reg.indexLocation(spark)
    assert(files(locBefore) >= 3)
    assert(!reg.compactIndex(spark, maxFiles = 100)) // under threshold
    assert(reg.compactIndex(spark, maxFiles = 2))
    val locAfter = reg.indexLocation(spark)
    assert(locAfter !== locBefore, "compaction must swap generations")
    assert(files(locAfter) <= 8)
    // verdicts unchanged from a FRESH instance (sidecar resolution)
    val reg2 = new DedupRegistry(dir)
    val out = reg2.dedupAppend(
      Seq((10L, "doc A"), (11L, "doc D")).toDF("doc_id", "text"),
      "doc_id", fp).select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L))
    // forget doc A's fingerprint: a repost is admissible again
    val fpA = Seq(Tuple1("doc A")).toDF("text")
      .select(md5(col("text"))).as[String].head()
    reg2.forget(spark, Seq(fpA))
    assert(reg2.dedupAppend(Seq((12L, "doc A")).toDF("doc_id", "text"),
      "doc_id", fp).count() == 1)
  }

  test("read takes its schema from one committed footer on the driver: " +
    "no job") {
    val dir = Files.createTempDirectory("graft_reg_").toString + "/reg"
    val reg = new DedupRegistry(dir)
    reg.dedupAppend(Seq((1L, "doc A"), (2L, "doc B")).toDF("doc_id", "text"),
      "doc_id", md5(col("text")))
    var fps: org.apache.spark.sql.DataFrame = null
    assert(org.apache.spark.JobsSubmitted.during(spark.sparkContext) {
      fps = reg.read(spark)
    } == 0)
    assert(fps.columns.toSeq == Seq("fp") && fps.count() == 2)
  }
}
