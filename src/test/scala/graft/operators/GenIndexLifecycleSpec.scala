package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** The shared GenIndex lifecycle contracts added in round 8 (VERDICT
  * r7 #3/#4), exercised across the whole registry family — the three
  * registries share ONE rewrite implementation, and these tests pin
  * it through each registry's real append path:
  *
  *  1. RACING APPEND: a `dedupAppend` that interleaves into a
  *     `rewrite` (after the rewrite's source snapshot, before its
  *     swap) lands a file group the rewrite never scanned. The old
  *     behavior silently lost those rows at GC; the contract now is
  *     full absorption — the post-rewrite index still gates content
  *     the raced batch registered. The interleaving is deterministic
  *     via GenIndex.onSourceSnapshot (a synchronous test seam at the
  *     exact window), not thread timing.
  *
  *  2. READER vs GC: a reader DataFrame planned over generation N
  *     keeps executing across the swap to N+1 — the outgoing
  *     generation is retained until the NEXT rewrite GCs it, so disk
  *     holds at most one stale generation.
  */
class GenIndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** Run `race` inside the window after reg's index snapshots its
    * rewrite source; always uninstalls the seam. */
  private def withRaceWindow(index: GenIndex)(race: => Unit)(rewrite: => Unit): Unit = {
    index.onSourceSnapshot = () => race
    try rewrite finally index.onSourceSnapshot = () => ()
  }

  test("DedupRegistry: a dedupAppend racing compactIndex is absorbed, not lost") {
    val dir = Files.createTempDirectory("graft_race_dd_").toString
    val reg = new DedupRegistry(s"$dir/reg")
    def app(id: Long, text: String) =
      reg.dedupAppend(Seq((id, text)).toDF("doc_id", "text"), "doc_id",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
    // three fragmenting appends so compaction has something to do
    app(1L, "alpha content one")
    app(2L, "beta content two")
    app(3L, "gamma content three")
    // the RACE: doc 7 registers between the compaction's source
    // snapshot and its swap — its fp file group lands in the
    // outgoing generation, invisible to the compaction scan
    withRaceWindow(reg.index) {
      assert(app(7L, "raced content seven").count() === 1L)
    } {
      assert(reg.compactIndex(spark, maxFiles = 2))
    }
    // zero silently-lost rows: the post-compaction index must still
    // hold doc 7's fingerprint, so a byte-identical re-post is dropped
    assert(app(8L, "raced content seven").count() === 0L,
      "racing append's fingerprint was lost by the rewrite")
    // and the pre-race fingerprints survived the compaction as usual
    assert(app(9L, "beta content two").count() === 0L)
  }

  test("NearDupRegistry: a dedupAppend racing compactIndex is absorbed") {
    val dir = Files.createTempDirectory("graft_race_nd_").toString
    def mk() = new NearDupRegistry(s"$dir/reg", numPerm = 32, bands = 8,
      rowsPerBand = 4, simThreshold = 0.5)
    val reg = mk()
    val a = "spark engine scans parquet files with vectorized readers and pushes filters down today"
    reg.dedupAppend(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text")
    reg.dedupAppend(Seq((2L, "entirely different prose about cooking pasta with garlic butter and basil leaves"))
      .toDF("doc_id", "text"), "doc_id", "text")
    reg.dedupAppend(Seq((3L, "third unrelated document describing mountain hiking trails and alpine weather patterns"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val raced = "completely novel raced material concerning deep sea currents and bioluminescent squid colonies"
    withRaceWindow(reg.index) {
      assert(reg.dedupAppend(Seq((7L, raced)).toDF("doc_id", "text"),
        "doc_id", "text").count() === 1L)
    } {
      assert(reg.compactIndex(spark, maxFiles = 2))
    }
    // the raced doc's bands survived: a byte-identical re-post probes
    // as a duplicate from a FRESH instance (exact text, so every band
    // collides — the test pins absorption, not near-match recall)
    val hit = mk().probe(
      Seq((9L, raced)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(col1[Long](hit) == Seq(9L),
      "racing append's band signatures were lost by the rewrite")
  }

  test("DedupRegistry: a dedupAppend racing forget's rewrite is absorbed " +
    "and still passes the forget filter") {
    val dir = Files.createTempDirectory("graft_race_df_").toString
    val reg = new DedupRegistry(s"$dir/reg")
    def app(id: Long, text: String) =
      reg.dedupAppend(Seq((id, text)).toDF("doc_id", "text"), "doc_id",
        org.apache.spark.sql.functions.md5(col("text")))
    def fp(text: String) = Seq(text).toDF("text")
      .select(org.apache.spark.sql.functions.md5(col("text"))).as[String].head()
    app(1L, "forgotten content one")
    app(2L, "kept content two")
    // the race interleaves into a FORGET rewrite — the row-local
    // transform case: the absorbed rows run through the same fp
    // filter the scanned rows did, so the raced doc 6 (whose fp is
    // on the forget list) goes, and the raced doc 7 stays
    withRaceWindow(reg.index) {
      assert(app(6L, "raced forgotten six").count() === 1L)
      assert(app(7L, "raced content seven").count() === 1L)
    } {
      reg.forget(spark, Seq(fp("forgotten content one"), fp("raced forgotten six")))
    }
    // forgotten fingerprints, scanned and absorbed -> admissible again
    assert(app(8L, "forgotten content one").count() === 1L)
    assert(app(9L, "raced forgotten six").count() === 1L,
      "the forget filter was not re-applied to the racing append")
    // doc 7's raced fingerprint absorbed -> its content still gates
    assert(app(10L, "raced content seven").count() === 0L,
      "racing append's fingerprint was lost by the forget rewrite")
    assert(app(11L, "kept content two").count() === 0L)
  }

  // ---- EmbedDedupRegistry: the semantic member rides its own cutover
  // (cell-partitioned store, fp-pinned sidecar) but the SAME lifecycle
  // contract — racing-append absorption, retention, manifest GC ----

  private val embCents = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  private def embApp(reg: EmbedDedupRegistry, id: Long, v: Array[Float]) =
    reg.dedupAppend(Seq((id, v)).toDF("vec_id", "embedding"), embCents,
      "vec_id", "embedding")

  test("EmbedDedupRegistry: a dedupAppend racing compactStaging is absorbed") {
    val dir = Files.createTempDirectory("graft_race_em_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    embApp(reg, 1L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    embApp(reg, 2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    val raced = Array(0.6f, 0.8f, 0.0f, 0.0f)
    // the race: vector 7 registers (a staging file) between the
    // fold's source snapshot and its swap
    reg.onSourceSnapshot = () => assert(embApp(reg, 7L, raced).count() === 1L)
    try assert(reg.compactStaging(spark))
    finally reg.onSourceSnapshot = () => ()
    // zero silently-lost rows: an identical re-post gates
    assert(embApp(reg, 9L, raced).count() === 0L,
      "racing append's signature was lost by the fold")
    // and genuinely fresh content still lands
    assert(embApp(reg, 10L, Array(0.0f, 0.0f, 1.0f, 0.0f)).count() === 1L)
  }

  test("EmbedDedupRegistry: refit BACK to a previously-used centroid set " +
    "keeps all history (rollback names a fresh generation, never a " +
    "retained dir)") {
    val dir = Files.createTempDirectory("graft_rollback_em_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    val centsB = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    embApp(reg, 1L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    embApp(reg, 2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    // A -> B -> A -> B: the LAST refit re-targets centroid set B,
    // whose generation dir (from the first B refit) is exactly the
    // dir the previous cutover retired — the regression that used to
    // overwrite-and-GC the live store (pre-fix: read() resolved to a
    // deleted dir and every dup was silently re-admitted)
    reg.refit(spark, centsB, "vec_id", "embedding")
    reg.refit(spark, embCents, "vec_id", "embedding")
    reg.refit(spark, centsB, "vec_id", "embedding")
    assert(reg.read(spark).count() === 2L,
      "rollback refit must not lose the registry's history")
    assert(reg.dedupAppend(Seq((9L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"), centsB, "vec_id", "embedding")
      .count() === 0L,
      "a duplicate must still gate after the rollback refit")
    // the fp guard still enforces the CURRENT set after the rollback
    intercept[IllegalArgumentException] {
      reg.dedupAppend(Seq((11L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
        .toDF("vec_id", "embedding"), embCents, "vec_id", "embedding")
    }
  }

  test("EmbedDedupRegistry: reader planned over the outgoing tier survives " +
    "the cutover (retention); the retained dirs are GC'd by the NEXT one") {
    val dir = Files.createTempDirectory("graft_retain_em_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    embApp(reg, 1L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    embApp(reg, 2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    val oldStaging = dir + "_staged"
    // plan (and file-list) a reader over the outgoing staging tier
    val reader = spark.read.parquet(oldStaging)
    assert(reg.compactStaging(spark))
    // retention: the pre-swap plan still executes over the retired tier
    assert(reader.count() === 2L,
      "pre-swap reader must keep executing over the retained tier")
    assert(new java.io.File(oldStaging).exists())
    // the NEXT cutover GCs exactly the retained dirs
    embApp(reg, 3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    assert(reg.compactStaging(spark))
    assert(!new java.io.File(oldStaging).exists(),
      "retained tier must be GC'd by the following cutover")
    // verdicts unchanged throughout
    assert(embApp(reg, 9L, Array(0.0f, 1.0f, 0.0f, 0.0f)).count() === 0L)
  }

  test("EmbedDedupRegistry: a STRADDLING append into the retired staging " +
    "tier is absorbed by the next cutover's manifest-diff GC; a foreign-fp " +
    "straggler is refused by a fold and absorbed by a refit") {
    val dir = Files.createTempDirectory("graft_straddle_em_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    embApp(reg, 1L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    embApp(reg, 2L, Array(0.8f, 0.6f, 0.0f, 0.0f))
    val parent = new java.io.File(dir).getParentFile
    // the straddler: an append whose sidecar read predated the swap
    // commits its staging file into a RETIRED staging dir, beyond the
    // manifest — built with the registry's own signature rules
    def plantStraggler(target: String, id: Long, v: Array[Float],
                       cell: Long): Unit =
      Seq((id, v)).toDF("id", "embedding")
        .select(col("id"),
          Similarity.quantize8(col("embedding")).as("vq"))
        .withColumn("nq", Similarity.dotQ8(col("vq"), col("vq")))
        .withColumn("cell", org.apache.spark.sql.functions.lit(cell))
        .coalesce(1).write.mode("append").parquet(target)

    val oldStaging = dir + "_staged" // staging of the original active dir
    assert(reg.compactStaging(spark)) // retires (reg, reg_staged) + manifests
    plantStraggler(oldStaging, 7L, Array(0.0f, 1.0f, 0.0f, 0.0f), cell = 1L)
    embApp(reg, 3L, Array(0.0f, 0.0f, 1.0f, 0.0f)) // stages against gen c1
    assert(reg.compactStaging(spark)) // GCs the straddled dirs: diff + absorb
    assert(embApp(reg, 9L, Array(0.0f, 1.0f, 0.0f, 0.0f)).count() === 0L,
      "straddling append's signature was lost by the manifest GC")
    // manifest kept the carried rows from re-absorption: 1,2,3,7 only
    assert(reg.read(spark).count() === 4L,
      "manifest-diff GC must absorb ONLY the unaccounted file groups")
    assert(!new java.io.File(oldStaging).exists(),
      "the straddled staging dir is still GC'd after absorption")

    // FOREIGN-FP straggler: a refit (fp changes) retires the c2
    // generation under the OLD fp; a straggler landing there can NOT
    // be identity-folded (its cells belong to the old centroid set)
    val activeC2 = parent.listFiles.map(_.getName)
      .find(n => n.startsWith("reg_gen_") && n.endsWith("_c2")).get
    val c2Staging = new java.io.File(parent, activeC2 + "_staged").toString
    val cents3 = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    reg.refit(spark, cents3, "vec_id", "embedding") // retires (c2, c2_staged)
    plantStraggler(c2Staging, 21L, Array(0.0f, 0.0f, 0.0f, 1.0f), cell = 0L)
    reg.dedupAppend(Seq((4L, Array(0.5f, 0.5f, 0.70710678f, 0.0f)))
      .toDF("vec_id", "embedding"), cents3, "vec_id", "embedding")
    // a FOLD refuses the foreign-fp straggler loudly (identity
    // migration cannot re-cell rows written under another fp) ...
    val err = intercept[IllegalArgumentException] { reg.compactStaging(spark) }
    assert(err.getMessage.contains("refit"), err.getMessage)
    // ... and a REFIT absorbs it (fp-agnostic: cells re-derived from
    // the signature itself), after which the straggler's content gates
    val cents4 = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    reg.refit(spark, cents4, "vec_id", "embedding")
    assert(reg.dedupAppend(Seq((29L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
        .toDF("vec_id", "embedding"), cents4, "vec_id", "embedding")
      .count() === 0L,
      "foreign-fp straggler was not absorbed by the refit's manifest GC")
  }

  test("STRADDLING append (sidecar read before the swap, file commit " +
    "after the re-list) is absorbed by the NEXT rewrite's manifest-diff " +
    "GC — and the manifest prevents double-absorption of carried rows") {
    val dir = Files.createTempDirectory("graft_straddle_").toString
    val reg = new DedupRegistry(s"$dir/reg")
    def app(id: Long, text: String) =
      reg.dedupAppend(Seq((id, text)).toDF("doc_id", "text"), "doc_id",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
    app(1L, "one"); app(2L, "two"); app(3L, "three")
    val genN = reg.indexLocation(spark)
    assert(reg.compactIndex(spark, maxFiles = 2)) // gen N retired, manifest written
    // the straddler: an append whose sidecar read predated the swap
    // commits its file group into the RETIRED directory after the
    // rewrite's re-listing — beyond the manifest. Its on-disk
    // artifact is exactly a plain fp file group in gen N's dir.
    Seq("raced content seven").toDF("text")
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("fp"))
      .write.mode("append").parquet(genN)
    app(4L, "four"); app(5L, "five"); app(6L, "six")
    assert(reg.compactIndex(spark, maxFiles = 2)) // GCs gen N: diff + absorb
    // the straddler's fingerprint survived into the live generation
    assert(app(7L, "raced content seven").count() === 0L,
      "straddling append's fingerprint was lost by the manifest GC")
    // and the manifest kept the 6 carried rows from being re-absorbed:
    // 6 appends + 1 straddler, nothing doubled
    assert(reg.index.df(spark).count() === 7L,
      "manifest-diff GC must absorb ONLY the unaccounted file groups")
    // gen N's directory is gone after its straggler was carried
    assert(!new java.io.File(new java.net.URI(
        if (genN.startsWith("file:")) genN else "file://" + genN).getPath)
      .exists(), "the straddled generation is still GC'd after absorption")
  }

  // ---- MAINTENANCE MUTEX (VERDICT r8 #1): rewrite-vs-rewrite was the
  // one lifecycle race the manifest algebra could not see — both
  // rewrites target generation N+1, interleave files in one directory,
  // and both pass the post-swap generation check. The create-exclusive
  // lock converts it to a loud abort with the index untouched. ----

  test("MUTEX: a rewrite firing INSIDE another rewrite (double-fired " +
    "compaction) aborts loudly; the index is intact and a later rewrite " +
    "succeeds") {
    val dir = Files.createTempDirectory("graft_mutex_gi_").toString
    val reg = new DedupRegistry(s"$dir/reg")
    def app(id: Long, text: String) =
      reg.dedupAppend(Seq((id, text)).toDF("doc_id", "text"), "doc_id",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
    app(1L, "one"); app(2L, "two"); app(3L, "three")
    // the second rewrite fires in the first's snapshot window — the
    // deterministic stand-in for a scheduler double-firing compaction
    var innerErr: Throwable = null
    withRaceWindow(reg.index) {
      innerErr = intercept[IllegalStateException] { reg.index.rewrite(spark) }
    } {
      assert(reg.compactIndex(spark, maxFiles = 2))
    }
    assert(innerErr.getMessage.contains("holds the lock"), innerErr.getMessage)
    // the outer rewrite completed unharmed: verdicts unchanged, no
    // interleaved/doubled rows
    assert(reg.index.df(spark).count() === 3L,
      "the aborted inner rewrite must leave zero rows behind")
    assert(app(9L, "two").count() === 0L)
    // the lock was released: maintenance works again
    app(4L, "four"); app(5L, "five")
    assert(reg.compactIndex(spark, maxFiles = 2))
  }

  test("MUTEX: a fresh foreign lock blocks a rewrite; a STALE one " +
    "(crashed holder) is broken and the rewrite proceeds") {
    val dir = Files.createTempDirectory("graft_mutex_stale_").toString
    val reg = new DedupRegistry(s"$dir/reg")
    def app(id: Long, text: String) =
      reg.dedupAppend(Seq((id, text)).toDF("doc_id", "text"), "doc_id",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
    app(1L, "one"); app(2L, "two"); app(3L, "three")
    // the lock root is the index's ROOT location (generation 0), which
    // is also the active location before any rewrite
    val lock = new org.apache.hadoop.fs.Path(
      reg.indexLocation(spark) + "_maint_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(lock, false)
    try os.write("pid=0 t=0".getBytes("UTF-8")) finally os.close()
    // fresh lock (a LIVE concurrent holder): abort loudly
    intercept[IllegalStateException] { reg.compactIndex(spark, maxFiles = 2) }
    assert(app(9L, "two").count() === 0L, "index must be intact after the abort")
    // backdate the lock past the stale horizon (a crashed holder's
    // debris): the next rewrite breaks it and proceeds
    fs.setTimes(lock, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
    assert(reg.compactIndex(spark, maxFiles = 2),
      "a stale lock must be broken, not block maintenance forever")
    assert(!fs.exists(lock), "the broken-and-reacquired lock must be released")
    assert(app(10L, "three").count() === 0L)
  }

  test("MUTEX (EmbedDedupRegistry): a cutover firing inside another " +
    "cutover aborts loudly with the store intact") {
    val dir = Files.createTempDirectory("graft_mutex_em_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    embApp(reg, 1L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    embApp(reg, 2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    var innerErr: Throwable = null
    reg.onSourceSnapshot = () =>
      innerErr = intercept[IllegalStateException] { reg.compactStaging(spark) }
    try assert(reg.compactStaging(spark))
    finally reg.onSourceSnapshot = () => ()
    assert(innerErr.getMessage.contains("holds the lock"), innerErr.getMessage)
    // the outer fold completed; history is whole and maintenance works
    assert(reg.read(spark).count() === 2L)
    assert(embApp(reg, 9L, Array(0.0f, 1.0f, 0.0f, 0.0f)).count() === 0L)
    embApp(reg, 3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    assert(reg.compactStaging(spark), "the lock must be released after the fold")
  }

  test("IDENTITY refit (ADVICE r8): the fold's foreign-fp refusal is " +
    "PRE-swap (registry fully intact), and a same-fp refit is the working " +
    "recovery — it absorbs the stragglers via the requantizing migration") {
    val dir = Files.createTempDirectory("graft_idrefit_em_").toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    embApp(reg, 1L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    embApp(reg, 2L, Array(0.8f, 0.6f, 0.0f, 0.0f))
    val centsB = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    def appB(id: Long, v: Array[Float]) =
      reg.dedupAppend(Seq((id, v)).toDF("vec_id", "embedding"), centsB,
        "vec_id", "embedding")
    val oldStaging = dir + "_staged"
    reg.refit(spark, centsB, "vec_id", "embedding") // retires dirs under fp A
    // the straggler: an old-fp process's append commits into the
    // RETIRED staging dir after the refit's re-list — rows whose cell
    // was derived under centroid set A
    Seq((7L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("id", "embedding")
      .select(col("id"), Similarity.quantize8(col("embedding")).as("vq"))
      .withColumn("nq", Similarity.dotQ8(col("vq"), col("vq")))
      .withColumn("cell", org.apache.spark.sql.functions.lit(1L))
      .coalesce(1).write.mode("append").parquet(oldStaging)
    appB(3L, Array(0.0f, 0.0f, 1.0f, 0.0f)) // stages new content under B
    val before = reg.read(spark).count()
    // the fold refuses BEFORE writing or swapping anything
    val err = intercept[IllegalArgumentException] { reg.compactStaging(spark) }
    assert(err.getMessage.contains("identity refit"), err.getMessage)
    assert(reg.read(spark).count() === before,
      "a refused fold must leave the registry byte-identical")
    // the prescribed recovery: refit with the CURRENT centroids — an
    // identity refit, which must RUN (not early-return) because a
    // foreign-fp straggler needs the fp-agnostic migration
    reg.refit(spark, centsB, "vec_id", "embedding")
    assert(appB(9L, Array(0.0f, 1.0f, 0.0f, 0.0f)).count() === 0L,
      "identity refit must absorb the foreign-fp straggler")
    assert(reg.read(spark).count() === before + 1,
      "absorption must add exactly the straggler's rows")
    // and maintenance is healthy again
    appB(10L, Array(0.5f, 0.5f, 0.70710678f, 0.0f))
    assert(reg.compactStaging(spark))
  }

  test("reader planned over the outgoing generation survives the swap; " +
    "the retained generation is GC'd by the NEXT rewrite") {
    val dir = Files.createTempDirectory("graft_retain_").toString
    val reg = new DedupRegistry(s"$dir/reg")
    def app(id: Long, text: String) =
      reg.dedupAppend(Seq((id, text)).toDF("doc_id", "text"), "doc_id",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
    app(1L, "one"); app(2L, "two"); app(3L, "three")
    val genN = reg.indexLocation(spark)
    // plan (and file-list) a reader over generation N BEFORE the swap
    val reader = spark.read.parquet(genN)
    assert(reg.compactIndex(spark, maxFiles = 2))
    val genN1 = reg.indexLocation(spark)
    assert(genN1 !== genN)
    // generation N is retained: the pre-swap plan still executes
    assert(reader.count() === 3L,
      "pre-swap reader must keep executing over the retained generation")
    assert(new java.io.File(new java.net.URI(
        if (genN.startsWith("file:")) genN else "file://" + genN).getPath)
      .exists(), "outgoing generation directory must be retained")
    // the NEXT rewrite GCs exactly the retained generation
    app(4L, "four"); app(5L, "five"); app(6L, "six")
    assert(reg.compactIndex(spark, maxFiles = 2))
    assert(!new java.io.File(new java.net.URI(
        if (genN.startsWith("file:")) genN else "file://" + genN).getPath)
      .exists(), "generation N must be GC'd by the N+1 -> N+2 rewrite")
    // and the N+1 generation is now the retained one
    assert(new java.io.File(new java.net.URI(
        if (genN1.startsWith("file:")) genN1 else "file://" + genN1).getPath)
      .exists(), "generation N+1 must be retained until the next rewrite")
    // verdicts unchanged throughout
    assert(app(9L, "two").count() === 0L)
    assert(app(10L, "genuinely new").count() === 1L)
  }

  test("ABSORB IDEMPOTENCE (VERDICT r9 #4): a crash between a straggler " +
    "absorption's insertInto and its manifest update does NOT double the " +
    "absorbed rows on the retry — the anti-join absorb inserts nothing") {
    val dir = Files.createTempDirectory("graft_absorb_crash_").toString
    val reg = new DedupRegistry(s"$dir/reg")
    def app(id: Long, text: String) =
      reg.dedupAppend(Seq((id, text)).toDF("doc_id", "text"), "doc_id",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")))
    app(1L, "one"); app(2L, "two"); app(3L, "three")
    val genN = reg.indexLocation(spark)
    assert(reg.compactIndex(spark, maxFiles = 2)) // gen N retired + manifest
    // a straddler beyond gen N's manifest (the STRADDLING test's shape)
    Seq("raced content seven").toDF("text")
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("fp"))
      .write.mode("append").parquet(genN)
    app(4L, "four"); app(5L, "five"); app(6L, "six")
    // CRASH in the window: the GC absorb's insertInto has committed
    // the straggler rows to the generation being built, the manifest
    // update has not happened — the exact window that used to double
    // rows on the next rewrite
    reg.index.onStragglerAbsorbed =
      () => throw new RuntimeException("simulated crash mid-absorb")
    val crashed = intercept[RuntimeException] {
      reg.index.rewrite(spark)
    }
    reg.index.onStragglerAbsorbed = () => ()
    assert(crashed.getMessage.contains("simulated crash"), crashed.getMessage)
    // RETRY: gen N's straggler files are still unaccounted, so they
    // re-surface — and the full-row anti-join against the source rows
    // (which already carry them) must absorb ZERO new rows
    reg.index.rewrite(spark)
    assert(reg.index.df(spark).count() === 7L,
      "crash-retry re-absorbed already-carried straggler rows (doubled)")
    // the straggler's verdict still gates
    assert(app(7L, "raced content seven").count() === 0L)
    // and the crashed generation's own rows were not doubled either
    assert(app(9L, "two").count() === 0L)
  }

  test("ABSORB IDEMPOTENCE (EmbedDedupRegistry): crash between the GC " +
    "absorb's write and its manifest update; the retry doubles nothing") {
    val dir = Files.createTempDirectory("graft_absorb_crash_em_")
      .toString + "/reg"
    val reg = new EmbedDedupRegistry(dir, epsPermille = 980)
    embApp(reg, 1L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    embApp(reg, 2L, Array(0.8f, 0.6f, 0.0f, 0.0f))
    val oldStaging = dir + "_staged"
    assert(reg.compactStaging(spark)) // retires (reg, reg_staged)
    // same-fp straggler into the retired staging tier (the registry's
    // own signature rules, the STRADDLING test's planting helper shape)
    Seq((7L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("id", "embedding")
      .select(col("id"), Similarity.quantize8(col("embedding")).as("vq"))
      .withColumn("nq", Similarity.dotQ8(col("vq"), col("vq")))
      .withColumn("cell", org.apache.spark.sql.functions.lit(1L))
      .coalesce(1).write.mode("append").parquet(oldStaging)
    embApp(reg, 3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    reg.onStragglerAbsorbed =
      () => throw new RuntimeException("simulated crash mid-absorb")
    val crashed = intercept[RuntimeException] { reg.compactStaging(spark) }
    reg.onStragglerAbsorbed = () => ()
    assert(crashed.getMessage.contains("simulated crash"), crashed.getMessage)
    // retry: straggler re-surfaces (manifest never updated), anti-join
    // absorbs zero — 1,2,3,7 exactly once each
    embApp(reg, 5L, Array(0.70710678f, 0.0f, 0.70710678f, 0.0f))
    assert(reg.compactStaging(spark))
    assert(reg.read(spark).count() === 5L,
      "crash-retry re-absorbed already-carried straggler rows (doubled)")
    assert(embApp(reg, 9L, Array(0.0f, 1.0f, 0.0f, 0.0f)).count() === 0L,
      "the straggler's signature must still gate after the crash-retry")
  }
}
