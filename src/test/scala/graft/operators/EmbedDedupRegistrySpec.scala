package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Cross-run SEMANTIC dedup against the persistent embedding
  * registry: in-batch dups resolve via the SemDeDup keep rule,
  * later batches (and replays) drop anything eps-cosine-close to any
  * vector ever accepted, the centroid-identity guard refuses a
  * mismatched probe, and the registry probe is a directory-pruned
  * scan of the batch's cells only. */
class EmbedDedupRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def cents = Seq(
    (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (200L, Array(0.0f, 1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cross-run drop, novel accept, replay self-dedups to empty") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)

    val b1 = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    var persisted = Set.empty[Long]
    val out1 = reg.dedupAppend(b1, cents, "vec_id", "embedding",
        persist = d => persisted = d.select("vec_id").as[Long].collect().toSet)
      .select("vec_id").as[Long].collect().toSet
    assert(out1 == Set(1L, 9L))
    assert(persisted == Set(1L, 9L))

    // 10 ~ batch-1's id 1 (cos ~ 0.995 > 0.98) -> dropped by history;
    // 11 is 45-degrees off both accepted vectors -> fresh
    val b2 = Seq(
      (10L, Array(0.999f, 0.01f, 0.0f, 0.0f)),
      (11L, Array(0.7f, 0.7f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out2 = reg.dedupAppend(b2, cents, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    assert(out2 == Set(11L))

    // replay: everything already registered
    assert(reg.dedupAppend(b2, cents, "vec_id", "embedding").count() == 0)
    assert(reg.read(spark).count() == 3)
  }

  test("the probe join's condition is the compiled int8 dot: LongDotProduct, no higher-order function") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.graft.{FloatDotProduct, LongDotProduct}
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    reg.dedupAppend(Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"), cents, "vec_id", "embedding")
    val plans = org.apache.spark.PlansExecuted.during(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]) {
      reg.dedupAppend(Seq((2L, Array(0.999f, 0.01f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"), cents, "vec_id", "embedding")
    }
    // every join whose condition scores pairs (winners x registry on
    // cell, filtered on qdot) — per candidate pair, so no lambda there
    val conditions = plans.flatMap(_.collect { case j: Join => j.condition }.flatten)
      .filter(_.exists(e => e.isInstanceOf[LongDotProduct] || e.isInstanceOf[FloatDotProduct]))
    assert(conditions.nonEmpty, s"no pair-scoring join among ${plans.size} plans")
    conditions.foreach { c =>
      assert(c.exists(_.isInstanceOf[LongDotProduct]), s"not the int8 kernel: $c")
      assert(!c.exists(_.isInstanceOf[HigherOrderFunction]), s"interpreted lambda: $c")
    }
  }

  test("in-batch dups resolve first: one signature per dup group") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    val b = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.02f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = reg.dedupAppend(b, cents, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    // SemDeDup keep rule: the lower-centroid-sim member (id 2) wins
    assert(out == Set(2L))
    assert(reg.read(spark).count() == 1)
  }

  test("crash between sink write and signature append: batch-keyed " +
    "persist replays to zero duplicates (append-mode persist does not)") {
    // VERDICT r6 #4 — the asymmetric at-least-once window, closed.
    // The simulated crash: persist completes its sink write, then the
    // job dies BEFORE the signature append (persist throws after
    // writing — dedupAppend runs persist first, so nothing reaches
    // the registry).
    val root = Files.createTempDirectory("graft_eregc_").toString
    val b = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    final class SimCrash extends RuntimeException("simulated crash")

    // 1. the CLOSED window: IdempotentSink batch-keyed persist
    val reg = new EmbedDedupRegistry(s"$root/reg", epsPermille = 980)
    val sink = s"$root/sink"
    intercept[SimCrash] {
      reg.dedupAppend(b, cents, "vec_id", "embedding", persist = out => {
        graft.streaming.IdempotentSink.parquetByBatch(sink)(out, 7L)
        throw new SimCrash
      })
    }
    assert(reg.read(spark).count() == 0, "crash must precede the append")
    // replay the SAME (batch, batchId): overwrites its own partition
    val out = reg.dedupAppendBatch(b, cents, "vec_id", "embedding", sink, 7L)
      .select("vec_id").as[Long].collect().toSet
    assert(out == Set(1L, 9L))
    val sunk = spark.read.parquet(sink)
      .groupBy("vec_id").count().as[(Long, Long)].collect().toMap
    assert(sunk == Map(1L -> 1L, 9L -> 1L),
      s"batch-keyed sink must hold exactly one copy per survivor, got $sunk")
    assert(reg.read(spark).count() == 2)
    // a replay AFTER the append self-matches to empty and leaves the
    // sink untouched (empty dynamic overwrite touches no partitions)
    assert(reg.dedupAppendBatch(b, cents, "vec_id", "embedding", sink, 7L)
      .count() == 0)
    assert(spark.read.parquet(sink).count() == 2)

    // 2. the OPEN window it replaces, demonstrated: a blind
    // append-mode persist double-lands the batch on replay
    val reg2 = new EmbedDedupRegistry(s"$root/reg2", epsPermille = 980)
    val sink2 = s"$root/sink2"
    def appendPersist(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.mode("append").parquet(sink2)
    intercept[SimCrash] {
      reg2.dedupAppend(b, cents, "vec_id", "embedding", persist = out => {
        appendPersist(out); throw new SimCrash
      })
    }
    reg2.dedupAppend(b, cents, "vec_id", "embedding", persist = appendPersist)
    assert(spark.read.parquet(sink2).count() == 4,
      "append-mode persist replays as duplicates — the window the " +
        "batch-keyed layout closes")
  }

  test("zero-norm survivor: post-append replay leaves the batch's " +
    "other survivors in the sink (id self-match covers what the " +
    "cosine test cannot)") {
    // A near-zero embedding quantizes to all-zero int8 (|x|*127 <
    // 0.5 rounds to 0): nq = 0, so its stored signature is invisible
    // to the qdot > 0 cosine match. Before the id self-match, a
    // replay AFTER the signature append re-survived exactly that row
    // — a NONEMPTY survivor set — and the batch-keyed dynamic
    // overwrite replaced partition batch_id=3 with it alone,
    // silently deleting the first run's other survivors from the
    // corpus sink. Off-axis from every other member so the in-batch
    // float-cosine SemDeDup pass (which sees the unquantized vector)
    // keeps all three.
    val root = Files.createTempDirectory("graft_eregz_").toString
    val reg = new EmbedDedupRegistry(s"$root/reg", epsPermille = 980)
    val sink = s"$root/sink"
    val b = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 0.003f, 0.0f)),
      (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out1 = reg.dedupAppendBatch(b, cents, "vec_id", "embedding", sink, 3L)
      .select("vec_id").as[Long].collect().toSet
    assert(out1 == Set(1L, 5L, 9L))
    assert(reg.read(spark).count() == 3)
    // the post-append replay must self-match COMPLETELY
    assert(reg.dedupAppendBatch(b, cents, "vec_id", "embedding", sink, 3L)
      .count() == 0)
    val sunk = spark.read.parquet(sink)
      .groupBy("vec_id").count().as[(Long, Long)].collect().toMap
    assert(sunk == Map(1L -> 1L, 5L -> 1L, 9L -> 1L),
      s"replay must leave the first run's survivors standing, got $sunk")
  }

  test("centroid-identity guard refuses a mismatched probe") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    val b = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    reg.dedupAppend(b, cents, "vec_id", "embedding")
    val other = Seq(
      (100L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (200L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      reg.dedupAppend(b, other, "vec_id", "embedding")
    }
  }

  test("a zero-norm signature cannot poison its cell") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    // a degenerate all-zeros embedding registers with nq = 0
    val b1 = Seq((1L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(reg.dedupAppend(b1, cents, "vec_id", "embedding").count() == 1)
    // a real vector in the same cell must NOT match it (qdot = 0
    // against the zero signature; `0 >= e2*nq*0` would have said dup)
    val b2 = Seq((2L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = reg.dedupAppend(b2, cents, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    assert(out == Set(2L))
  }

  test("reserved columns and oversized dims are refused up front") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    val b = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      reg.dedupAppend(b.withColumn("cell", lit(7)), cents, "vec_id", "embedding")
    }
    // dim 200 overflows the exact int64 eps cross-multiply
    val bigCents = Seq((100L, Array.fill(200)(0.1f))).toDF("vec_id", "embedding")
    val bigB = Seq((1L, Array.fill(200)(0.2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      reg.dedupAppend(bigB, bigCents, "vec_id", "embedding")
    }
    // batch_id is reserved by the BATCH-KEYED sink path only: the
    // idempotent sink would silently overwrite a data column of that
    // name, so it refuses the batch before any write; plain
    // dedupAppend, whose sinks are caller-defined, accepts it
    intercept[IllegalArgumentException] {
      reg.dedupAppendBatch(b.withColumn("batch_id", lit(5L)), cents,
        "vec_id", "embedding", dir + "_sink", batchId = 1L)
    }
  }

  test("refit migrates to a larger centroid set; probes are replay-equivalent") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    // two well-separated clusters -> quantization noise cannot move
    // any vector across a cell border during refit
    val b1 = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    reg.dedupAppend(b1, cents, "vec_id", "embedding")

    // identity refit: same fingerprint, no-op — registry untouched
    val before = reg.read(spark).orderBy("id").collect().toSeq
    reg.refit(spark, cents, "vec_id", "embedding")
    assert(reg.read(spark).orderBy("id").collect().toSeq == before)

    // grow 2 -> 3 cells (a refined set: old axes kept, one added)
    val cents3 = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (300L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    reg.refit(spark, cents3, "vec_id", "embedding")

    // unaffected vectors: same ids, same signatures, same cells
    // (their nearest centroid did not change)
    val after = reg.read(spark).orderBy("id").collect().toSeq
    assert(after.map(_.getLong(0)) == before.map(_.getLong(0)))
    assert(after.map(r => (r.getLong(0), r.getLong(3))).toSet ==
      before.map(r => (r.getLong(0), r.getLong(3))).toSet)

    // probe equivalence: a near-dup of an accepted vector still drops
    val b2 = Seq(
      (10L, Array(0.999f, 0.01f, 0.0f, 0.0f)), // ~ id 1 -> drop
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)) // new cell 300 -> fresh
    ).toDF("vec_id", "embedding")
    val out = reg.dedupAppend(b2, cents3, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    assert(out == Set(11L))

    // the OLD centroid set is now the mismatched probe
    intercept[IllegalArgumentException] {
      reg.dedupAppend(b2, cents, "vec_id", "embedding")
    }
    // and a replay of b2 self-dedups against the refit registry
    assert(reg.dedupAppend(b2, cents3, "vec_id", "embedding").count() == 0)
  }

  test("refit refuses a never-appended registry; oversized dims refused") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    intercept[IllegalArgumentException] {
      reg.refit(spark, cents, "vec_id", "embedding")
    }
    val b = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    reg.dedupAppend(b, cents, "vec_id", "embedding")
    val bigCents = Seq((100L, Array.fill(200)(0.1f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      reg.refit(spark, bigCents, "vec_id", "embedding")
    }
  }

  test("appends land in the staging tier as one file; compaction folds " +
    "them into a directory-pruned store (PartitionFilters on cell) " +
    "with verdicts unchanged") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    val b = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    reg.dedupAppend(b, cents, "vec_id", "embedding")
    // the batch append is ONE staging file, not a file per cell (the
    // O(batch)-not-O(cells) append contract)
    val staged = new java.io.File(dir + "_staged").listFiles
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(staged == 1, s"expected one staged file, found $staged")
    // probe verdicts read the staging tier too (before any compaction)
    assert(reg.read(spark).count() == 2)
    assert(reg.dedupAppend(b, cents, "vec_id", "embedding").count() == 0)

    // compaction folds staging into a fresh BUCKET-partitioned
    // generation (bounded partition cardinality — see DirBuckets):
    // the probe prunes directories by the probed cells' buckets and
    // row-filters on cell inside them
    assert(reg.compactStaging(spark))
    assert(!reg.compactStaging(spark)) // staging now empty: no-op
    val probe = reg.probeRead(spark, Seq(100L))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert("PartitionFilters: \\[[^\\]]*cellb".r.findFirstIn(plan).isDefined, plan)
    assert(probe.select("id").as[Long].collect().toSet == Set(1L))
    // verdicts unchanged across the fold, and post-compaction appends
    // stage against the NEW generation
    assert(reg.dedupAppend(b, cents, "vec_id", "embedding").count() == 0)
    val b2 = Seq((20L, Array(0.7f, 0.7f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(reg.dedupAppend(b2, cents, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet == Set(20L))
    assert(reg.read(spark).count() == 3)
    // generation names are DETERMINISTIC counters (_c1, _c2, ...);
    // each fold RETAINS its immediate predecessor for in-flight
    // readers (the GenIndex retention contract) and GCs the one
    // before that: after this second fold c1 (retained) and c2
    // (active) are on disk; a THIRD fold GCs c1
    assert(reg.compactStaging(spark))
    val parent = new java.io.File(dir).getParentFile
    def gens() = parent.listFiles.map(_.getName)
      .filter(n => n.startsWith("reg_gen_") && !n.endsWith("_staged")).sorted
    assert(gens().toSeq.map(_.takeRight(3)) == Seq("_c1", "_c2"), gens().mkString(", "))
    assert(reg.read(spark).count() == 3)
    val b3 = Seq((30L, Array(0.0f, 0.0f, 0.9f, 0.1f))).toDF("vec_id", "embedding")
    reg.dedupAppend(b3, cents, "vec_id", "embedding")
    assert(reg.compactStaging(spark))
    assert(gens().toSeq.map(_.takeRight(3)) == Seq("_c2", "_c3"), gens().mkString(", "))
    assert(reg.read(spark).count() == 4)
  }

  test("compactStaging retry reclaims a crashed attempt's orphan " +
    "generation (deterministic target name)") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    val b = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    reg.dedupAppend(b, cents, "vec_id", "embedding")
    assert(reg.compactStaging(spark)) // -> ..._c1
    val parent = new java.io.File(dir).getParentFile
    val gen1 = parent.listFiles.map(_.getName)
      .find(n => n.startsWith("reg_gen_") && n.endsWith("_c1")).get
    // simulate a crash between the c2 write and the sidecar swap:
    // the DETERMINISTIC next target already exists with stale content
    val orphan = new java.io.File(parent, gen1.stripSuffix("_c1") + "_c2")
    assert(orphan.mkdirs())
    val junk = new java.io.File(orphan, "part-junk.parquet")
    java.nio.file.Files.writeString(junk.toPath, "not parquet")
    // the retry: stage another row, fold — must land on the SAME _c2
    // name (clear-before-build reclaims the orphan), swap, and read
    // back exactly the two real rows
    val b2 = Seq((9L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    reg.dedupAppend(b2, cents, "vec_id", "embedding")
    assert(reg.compactStaging(spark))
    assert(!junk.exists())
    val gens = parent.listFiles.map(_.getName)
      .filter(n => n.startsWith("reg_gen_") && !n.endsWith("_staged")).sorted
    // c1 is RETAINED (reader contract); c2 is active and holds only
    // the two real rows — the orphan junk was cleared before build
    assert(gens.toSeq == Seq(gen1, gen1.stripSuffix("_c1") + "_c2"),
      gens.mkString(", "))
    assert(reg.read(spark).select("id").as[Long].collect().toSet == Set(1L, 9L))
  }

  test("probeTopK's pruned read returns exactly the unpruned answer " +
    "across a mixed compacted+staging store") {
    val dir = Files.createTempDirectory("graft_ereg_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 995)
    // two vectors per cell, far enough apart to all be accepted
    val b1 = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.4f, 0.0f, 0.0f)),
      (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    reg.dedupAppend(b1, cents, "vec_id", "embedding")
    assert(reg.compactStaging(spark)) // -> bucket-partitioned main tier
    val b2 = Seq((10L, Array(0.4f, 0.9f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    reg.dedupAppend(b2, cents, "vec_id", "embedding") // -> staging tier
    // queries route to ONE cell each at nprobe=1; the pruned read
    // (review: probeTopK used to scan the whole store) must return
    // the identical top-k as the same probe over the unpruned read()
    val qs = Seq(
      (50L, Array(0.95f, 0.2f, 0.0f, 0.0f)),
      (60L, Array(0.1f, 0.95f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id")
      .collect().map(_.toSeq).toSet
    Seq(1, 2).foreach { np =>
      val pruned = rows(reg.probeTopK(qs, cents, "vec_id", "embedding",
        k = 2, nprobe = np))
      val full = rows(Similarity.ivfQuantizedTopKFromSignatures(qs,
        reg.read(spark), cents, "vec_id", "embedding", k = 2, nprobe = np))
      assert(pruned === full, s"nprobe=$np")
      assert(pruned.nonEmpty)
    }
  }

  test("read takes its schema from one committed footer on the driver " +
    "(no job); a committed file lacking vq still fails loudly") {
    val base = Files.createTempDirectory("graft_ereg_").toString
    val reg = new EmbedDedupRegistry(base + "/reg", epsPermille = 980)
    reg.dedupAppend(Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
        (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      cents, "vec_id", "embedding")
    var sigs: org.apache.spark.sql.DataFrame = null
    assert(org.apache.spark.JobsSubmitted.during(spark.sparkContext) {
      sigs = reg.read(spark)
    } == 0)
    assert(sigs.columns.toSeq == Seq("id", "vq", "nq", "cell") && sigs.count() == 2)

    // the staging tier of a never-pinned registry holds a committed
    // file without vq: corruption, not emptiness
    Seq((1L, 1L, 0L)).toDF("id", "nq", "cell").write.parquet(base + "/bad_staged")
    val e = intercept[IllegalArgumentException] {
      new EmbedDedupRegistry(base + "/bad", epsPermille = 980).read(spark)
    }
    assert(e.getMessage.contains("vq"))
  }
}
