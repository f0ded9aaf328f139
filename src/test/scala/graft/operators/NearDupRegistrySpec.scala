package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-run NEAR-dup gating through the signature registry: batch 2
  * must drop a near-duplicate of a batch-1 doc without ever seeing
  * batch 1's text, in-batch near-dups resolve to one representative,
  * and a replayed batch self-matches its own registered signatures
  * (at-least-once replays converge instead of duplicating). */
class NearDupRegistrySpec extends SparkSpec {
  import spark.implicits._

  // One-word edits of a 69-token text: 3-gram Jaccard 0.91, well inside
  // what an 8x4 banding at threshold 0.5 catches (a 13-token text with
  // one word changed is Jaccard 0.57, which that banding misses ~41%
  // of the time under independent permutations)
  private val a = "spark query engine scans parquet files with vectorized readers " +
    "and pushes filters down into the scan so that only the row groups whose " +
    "statistics can match the predicate are read from disk while the optimizer " +
    "rewrites joins into broadcast hash joins when one side is small enough to " +
    "ship to every executor and the planner fuses operators into whole stage " +
    "generated code that runs tight loops over columnar batches"
  private val aNear = a.replace("vectorized", "columnar")
  private val aNear2 = a.replace("parquet", "orc")
  private val b = "completely different text about cooking pasta with garlic butter and fresh basil leaves"
  private val c = "yet another unrelated document describing mountain hiking trails and alpine weather patterns"

  private def reg(dir: String) =
    new NearDupRegistry(dir, numPerm = 32, bands = 8, rowsPerBand = 4,
      simThreshold = 0.5)

  test("in-batch reps, cross-run near-dup drop, replay converges") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_reg").toString + "/reg"
    val r = reg(dir)

    // batch 1: a + its exact dup (in-batch cluster -> rep 1) + b
    var persisted = Seq.empty[Long]
    val out1 = r.dedupAppend(
      Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text"),
      "doc_id", "text",
      persist = d => persisted = d.select("doc_id").as[Long].collect().toSeq.sorted)
    assert(out1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(persisted == Seq(1L, 3L)) // sink saw the survivors first

    // batch 2: a near-dup of the REGISTERED doc 1 (never re-read) is
    // dropped; the genuinely new doc survives
    val out2 = r.dedupAppend(
      Seq((4L, aNear), (5L, c)).toDF("doc_id", "text"), "doc_id", "text")
    assert(out2.select("doc_id").as[Long].collect().toSeq == Seq(5L))

    // replay of batch 2 (at-least-once): its survivor's signature is
    // registered now, so the replay self-matches and returns empty
    val replay = r.dedupAppend(
      Seq((4L, aNear), (5L, c)).toDF("doc_id", "text"), "doc_id", "text")
    assert(replay.isEmpty)

    // registry contents: exactly the three accepted signatures
    assert(r.read(spark).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 5L))
  }

  test("OPH mode: same gate semantics on the 32x cheaper signature") {
    // OPH needs docs with >= numPerm-ish shingles (its documented
    // regime: with most bins occupied, slot agreement estimates
    // jaccard like permutation mins; a 12-shingle doc in 32 bins is
    // mostly densified entries and the estimate degrades) — so this
    // fixture uses paragraph-length docs, the realistic registry load
    val longA = (1 to 60).map(i => s"token$i").mkString(" ")
    val longANear = longA.replace("token30", "changed30")
    val longB = (100 to 160).map(i => s"word$i").mkString(" ")
    val longC = (200 to 260).map(i => s"item$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("neardup_oph").toString + "/reg"
    val r = new NearDupRegistry(dir, numPerm = 32, bands = 8,
      rowsPerBand = 4, simThreshold = 0.5, sigMode = "oph")
    val out1 = r.dedupAppend(
      Seq((1L, longA), (2L, longA), (3L, longB)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(out1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // cross-run: the near-dup of registered doc 1 is dropped on the
    // OPH signature too (q185's measured banding recall, exercised)
    val out2 = r.dedupAppend(
      Seq((4L, longANear), (5L, longC)).toDF("doc_id", "text"), "doc_id", "text")
    assert(out2.select("doc_id").as[Long].collect().toSeq == Seq(5L))
    // replay converges
    assert(r.dedupAppend(
      Seq((4L, longANear), (5L, longC)).toDF("doc_id", "text"), "doc_id", "text")
      .isEmpty)
  }

  test("signature-mode mismatch fails loudly, never silently mixes") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_mode").toString + "/reg"
    val r = new NearDupRegistry(dir, numPerm = 32, bands = 8,
      rowsPerBand = 4, simThreshold = 0.5, sigMode = "oph")
    r.dedupAppend(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    // opening the same path as minhash (the default) must refuse:
    // same-shape signatures, incompatible semantics
    val wrong = new NearDupRegistry(dir, numPerm = 32, bands = 8,
      rowsPerBand = 4, simThreshold = 0.5)
    val e = intercept[IllegalArgumentException] {
      wrong.probe(Seq((9L, a)).toDF("doc_id", "text"), "doc_id", "text")
        .count()
    }
    assert(e.getMessage.contains("sigMode"))
    // a LEGACY registry (committed signatures, no sidecar) is minhash
    // by definition: opening it as oph must refuse too
    val legacyDir = java.nio.file.Files.createTempDirectory("neardup_legacy").toString + "/reg"
    val legacy = new NearDupRegistry(legacyDir, numPerm = 32, bands = 8,
      rowsPerBand = 4, simThreshold = 0.5)
    legacy.dedupAppend(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(legacyDir + "_sig_mode")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(legacyDir + "_sig_mode"), false)
    val asOph = new NearDupRegistry(legacyDir, numPerm = 32, bands = 8,
      rowsPerBand = 4, simThreshold = 0.5, sigMode = "oph")
    val e2 = intercept[IllegalArgumentException] {
      asOph.probe(Seq((9L, a)).toDF("doc_id", "text"), "doc_id", "text")
        .count()
    }
    assert(e2.getMessage.contains("minhash"))
  }

  test("a registry of the retired MinHash family is refused, pinned or unpinned") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_retired").toString + "/reg"
    reg(dir).dedupAppend(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    val sidecar = dir + "_sig_mode"
    val fs = new org.apache.hadoop.fs.Path(sidecar)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(RegistryIO.readLines(fs, sidecar).contains(Seq(graft.functions.Text.MinhashFamily)))
    def refused(): Unit = {
      val e = intercept[IllegalArgumentException] {
        reg(dir).probe(Seq((9L, a)).toDF("doc_id", "text"), "doc_id", "text").count()
      }
      assert(e.getMessage.contains("retired MinHash family"), e.getMessage)
    }
    // the sidecar value the correlated family pinned...
    RegistryIO.atomicWriteLines(fs, sidecar, Seq("minhash"))
    refused()
    // ...and committed signatures older than any sidecar
    fs.delete(new org.apache.hadoop.fs.Path(sidecar), false)
    refused()
  }

  test("in-batch near-dup CHAIN keeps one representative (components, not greedy)") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_reg2").toString + "/reg"
    // a ~ aNear and a ~ aNear2: a chain that a pairwise greedy drop
    // could mangle; components keep exactly min-id
    val out = reg(dir).dedupAppend(
      Seq((10L, a), (11L, aNear), (12L, aNear2), (13L, b)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(10L, 13L))
  }

  test("an empty micro-batch is a no-op: empty result, registry unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_reg4").toString + "/reg"
    val r = reg(dir)
    r.dedupAppend(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    val out = r.dedupAppend(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assert(out.isEmpty)
    assert(r.read(spark).select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("probe join: registry side is the persisted index — no Exchange, no re-banding") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val dir = java.nio.file.Files.createTempDirectory("neardup_reg7").toString + "/reg"
    val r = reg(dir)
    r.dedupAppend(Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = r.probe(Seq((9L, aNear), (10L, c)).toDF("doc_id", "text"),
        "doc_id", "text")
      assert(probe.as[Long].collect().toSeq == Seq(9L))
      val plan = probe.queryExecution.executedPlan
      val joins = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(joins.nonEmpty, s"expected a broadcast probe join in:\n$plan")
      val j = joins.head
      val regSide = if (j.buildSide == BuildRight) j.left else j.right
      // the registry side reads the PERSISTED bucketed index...
      val scans = regSide.collect { case s: FileSourceScanExec => s }
      assert(scans.exists(_.relation.location.rootPaths
          .exists(_.toString.contains("_band_idx"))),
        s"registry side does not scan the band index:\n$regSide")
      // ...with no Exchange of any kind (never shuffled, never
      // broadcast) and no Generate (band keys come off disk, not
      // recomputed per batch — the whole point of VERDICT r4 #1)
      assert(!regSide.exists(_.isInstanceOf[Exchange]),
        s"Exchange on the registry side:\n$regSide")
      assert(!regSide.exists(_.isInstanceOf[GenerateExec]),
        s"re-banding Generate on the registry side:\n$regSide")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a legacy registry (signatures only, no index) heals itself and still gates") {
    val base1 = java.nio.file.Files.createTempDirectory("neardup_reg8").toString
    val r1 = reg(base1 + "/reg")
    r1.dedupAppend(Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text")
    // simulate a registry written before the band index existed: copy
    // ONLY the signature parquet and its signature-mode sidecar to a
    // fresh path (no index files, no catalog entry for the new path's
    // table; signatures with no sidecar at all are the retired MinHash
    // family and refused — see below)
    val base2 = java.nio.file.Files.createTempDirectory("neardup_reg9").toString
    val src = java.nio.file.Paths.get(base1, "reg")
    val dst = java.nio.file.Paths.get(base2, "reg")
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    java.nio.file.Files.copy(java.nio.file.Paths.get(base1, "reg_sig_mode"),
      java.nio.file.Paths.get(base2, "reg_sig_mode"))
    val r2 = reg(base2 + "/reg")
    // the healed index must gate a near-dup of the legacy content
    val out = r2.dedupAppend(
      Seq((3L, aNear), (4L, c)).toDF("doc_id", "text"), "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(4L))
    // and the index now exists on disk for the next instance
    assert(spark.read.parquet(r2.indexLocation(spark)).select("id").distinct()
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("index compaction is invisible to probes and survives new instances") {
    // VERDICT r5 #8: per-batch appends fragment the band index into
    // one file group per dedupAppend; compaction must rewrite it into
    // ~nBuckets files WITHOUT changing any probe verdict, and without
    // an in-place overwrite's forget-history crash window (GenIndex
    // builds the next generation beside the live one).
    val dir = java.nio.file.Files.createTempDirectory("neardup_regc").toString + "/reg"
    val r = reg(dir)
    // three appends -> three file groups in the gen-0 index
    r.dedupAppend(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    r.dedupAppend(Seq((2L, b)).toDF("doc_id", "text"), "doc_id", "text")
    r.dedupAppend(Seq((3L, c)).toDF("doc_id", "text"), "doc_id", "text")
    def files(loc: String): Int =
      new java.io.File(loc).listFiles.count(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = files(r.indexLocation(spark))
    assert(before >= 3, s"expected >=3 file groups pre-compaction, got $before")

    val probeBatch = Seq((10L, aNear), (11L, c), (12L, "nothing like the others whatsoever in any way"))
      .toDF("doc_id", "text")
    val preProbe = r.probe(probeBatch, "doc_id", "text")
      .as[Long].collect().sorted.toSeq

    // under the threshold -> no-op; over it -> rewrite
    assert(!r.compactIndex(spark, maxFiles = 100))
    assert(r.compactIndex(spark, maxFiles = 2))
    val loc = r.indexLocation(spark)
    assert(loc != dir + "_band_idx", "compaction must move to a new generation")
    assert(files(loc) < before, s"compaction must shrink file count (${files(loc)} vs $before)")

    // replay-invisibility: identical probe verdicts after compaction,
    // from this instance AND from a fresh one (sidecar resolution)
    assert(r.probe(probeBatch, "doc_id", "text")
      .as[Long].collect().sorted.toSeq == preProbe)
    val r2 = reg(dir)
    assert(r2.probe(probeBatch, "doc_id", "text")
      .as[Long].collect().sorted.toSeq == preProbe)
    // and the gate still works end-to-end: near-dup dropped, fresh
    // content admitted and registered into the NEW generation
    val out = r2.dedupAppend(
      Seq((20L, aNear2), (21L, "entirely novel content with zero overlap against history"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(21L))
    assert(r2.dedupAppend(
      Seq((21L, "entirely novel content with zero overlap against history"))
        .toDF("doc_id", "text"), "doc_id", "text").isEmpty)
  }

  test("a registry written with a different numPerm fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_reg3").toString + "/reg"
    reg(dir).dedupAppend(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    val other = new NearDupRegistry(dir, numPerm = 16, bands = 4,
      rowsPerBand = 4, simThreshold = 0.5)
    val ex = intercept[Exception] {
      other.dedupAppend(Seq((2L, b)).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(ex.getMessage.contains("numPerm") ||
      Option(ex.getCause).exists(_.getMessage.contains("numPerm")))
  }
}
