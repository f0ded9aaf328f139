package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A persisted BUCKETED index table with a GENERATION lifecycle —
  * the shared machinery behind DedupRegistry's fingerprint index,
  * NearDupRegistry's band index, and the token, edge, code and
  * tombstone tables of LateInteractionRegistry, KnnGraphRegistry and
  * PQRegistry.
  *
  * Why generations: the index is append-per-batch, so a long-lived
  * registry accretes one small file group per `dedupAppend` — at
  * 100 TB ingest cadence that is thousands of sub-MB files whose
  * open/footer cost eventually dominates the probe scan. The naive
  * fix (read + INSERT OVERWRITE in place) carries a crash window
  * where the delete has happened and the rewrite has not: for these
  * indexes that silently FORGETS dedup history — the exact failure
  * the RegistryIO fail-loud policy exists to prevent. So a rewrite
  * never touches the live generation: it builds generation N+1 in a
  * fresh sibling directory (its own catalog table, same bucketing),
  * then swaps a one-line sidecar by atomic rename — the
  * EmbedDedupRegistry refit discipline. A crash before the swap
  * leaves generation N fully active (the half-built N+1 is garbage,
  * cleared on the next attempt); after the swap, N+1 is active,
  * generations OLDER than N are deleted best-effort (an orphaned old
  * generation is garbage, never corruption), and N itself is
  * retained for in-flight readers until the next rewrite GCs it.
  *
  * Layout: generation 0 lives at `rootLocation` itself (the legacy
  * layout — pre-generation registries resolve with no migration),
  * generation N>0 at `<rootLocation>_genN`; the sidecar
  * `<rootLocation>_gen` holds the active generation number. Catalog
  * names are per-generation (`<tableBase>` / `<tableBase>_gN`)
  * because a datasource table's location is fixed at CREATE time.
  *
  * CONCURRENCY CONTRACT (whole lifecycle family — this class,
  * EmbedDedupRegistry's refit/compactStaging, and every registry
  * built on them): maintenance (`rewrite`) requires an exclusive
  * writer, and since round 9 ENFORCES it — a create-exclusive lock
  * file (`<rootLocation>_maint_lock`, RegistryIO.withMaintenanceLock)
  * is taken before the source snapshot and released after GC, so a
  * second concurrent rewrite (a scheduler double-firing compaction —
  * the one lifecycle race the manifest algebra cannot see, VERDICT
  * r8 #1: both rewrites target generation N+1 and interleave files
  * in one directory, and both pass the post-swap generation check)
  * aborts loudly before writing anything. A crashed holder's lock
  * goes stale after an hour. A deployment that needs genuinely
  * concurrent writers still puts a commit protocol (a transactional
  * table format) in front.
  * Maintenance-vs-APPEND needs no lock — silent loss is not the
  * failure mode when a racing append lands (VERDICT r7 #3): `rewrite`
  * snapshots
  * the outgoing generation's committed file list, reads EXACTLY that
  * list as its source, and after the sidecar swap re-lists the
  * outgoing directory — any file group a racing `append` landed
  * after the snapshot is ABSORBED into the new generation (the
  * transform re-applied to just those files). This is sound because
  * every transform this family passes is ROW-LOCAL (identity
  * compaction, per-row forget filters — see `rewrite`'s doc); the
  * absorbed rows see the same per-row rule they would have seen had
  * they arrived before the snapshot. Crash-safety (the generation
  * contract) and replay-safety (each registry's idempotent-append
  * algebra) are separate properties and hold without coordination.
  *
  * READER-vs-GC (VERDICT r7 #4): a rewrite RETAINS the outgoing
  * generation's directory (and catalog entry) instead of deleting it
  * post-swap — a long-running reader whose plan was built over
  * generation N keeps executing against N's files across the swap to
  * N+1. The retained generation is garbage-collected by the NEXT
  * rewrite, so disk holds at most one stale generation at a time
  * (generations older than the outgoing one ARE deleted immediately,
  * including orphans from crashed swaps).
  *
  * STRADDLING APPEND (the residual race the re-list alone leaves): an
  * append can read the sidecar BEFORE the swap yet commit its files
  * to the outgoing directory AFTER the rewrite's re-listing — those
  * files are in neither the source snapshot nor the late-file diff.
  * So the rewrite records what it DID account for in an `_accounted`
  * manifest inside the retired directory (src snapshot + absorbed
  * late files, by name), and the NEXT rewrite's GC diffs each
  * manifest-carrying directory against it before deletion: any
  * unaccounted file group is absorbed into the generation being
  * built, closing the loss window entirely — a straddler would now
  * have to hold its stale sidecar read across TWO full rewrite
  * cycles, i.e. not a race but a stopped process, and its rows still
  * land the moment its files are seen. A directory WITHOUT a manifest
  * at GC time is pre-upgrade garbage or a crashed swap's leftovers —
  * every file it held when it was retired was carried forward — and
  * is deleted outright (absorbing it would double rows).
  *
  * ABSORB IDEMPOTENCE (VERDICT r9 #4 — closes the last crash window):
  * a crash BETWEEN an absorption insertInto and its manifest update
  * used to leave the absorbed files committed to the new generation
  * but still unaccounted in the retired dir, so the NEXT rewrite
  * re-absorbed them — duplicated index rows (accepted+documented in
  * r8; the manifest-before-insert alternative would flip the failure
  * to SILENT ROW LOSS, the one failure mode this design exists to
  * prevent). Since round 10 straggler absorption is IDEMPOTENT
  * instead: absorbed rows full-row anti-join (null-safe) the rows
  * already committed to the generation being built, so a re-absorb
  * of already-carried files inserts nothing. This makes absorption
  * SET-semantics on whole rows — sound for every GenIndex member
  * because their rows are idempotent facts (probes decide by
  * distinct-id membership / agreement >= threshold; a registry whose
  * row MULTIPLICITY carries meaning must not ride GenIndex, because
  * a re-absorb would collapse its duplicate rows). The window
  * between the in-rewrite late-file absorb and its manifest update
  * is covered by the same mechanism one cycle later: the late files
  * re-surface as stragglers and anti-join away against the source
  * rows that already carried them.
  */
object GenIndex {
  /** Catalog table-base for a registry index at `path`: a stable
    * per-path suffix (md5 prefix — catalog names can't hold slashes)
    * under the registry family's prefix. One definition (review: the
    * idiom was copy-pasted into three registries; a naming-scheme
    * change applied to fewer than all of them would silently diverge
    * their catalog tables). */
  def tableBaseFor(prefix: String, path: String): String =
    prefix + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
}

class GenIndex(tableBase: String, rootLocation: String,
               schemaDDL: String, bucketCols: Seq[String], nBuckets: Int) {
  require(bucketCols.nonEmpty && nBuckets > 0)

  private val genSidecar = rootLocation + "_gen"

  /** TEST SEAM (lifecycle contract spec only — production never sets
    * it): invoked synchronously right after `rewrite` captures its
    * source snapshot and before it builds the new generation — the
    * exact window where a racing `append` lands a file group the
    * rewrite's scan never saw. Lets the spec interleave a real
    * registry dedupAppend deterministically instead of racing
    * threads. */
  @volatile private[operators] var onSourceSnapshot: () => Unit = () => ()

  /** TEST SEAM (lifecycle contract spec only): invoked synchronously
    * right after a GC-time straggler absorption commits its insertInto
    * and BEFORE the manifest update that accounts those files — the
    * crash window that used to double index rows on the next rewrite
    * (class doc: ABSORB IDEMPOTENCE). Lets the spec crash there
    * deterministically and assert the retry absorbs nothing twice. */
  @volatile private[operators] var onStragglerAbsorbed: () => Unit = () => ()

  private def hadoopFs(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(rootLocation)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def currentGen(spark: SparkSession): Int = {
    val fs = hadoopFs(spark)
    val p = new org.apache.hadoop.fs.Path(genSidecar)
    if (!fs.exists(p)) 0
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      txt.toInt
    }
  }

  private def location(gen: Int): String =
    if (gen == 0) rootLocation else s"${rootLocation}_gen$gen"

  private def tableName(gen: Int): String =
    if (gen == 0) tableBase else s"${tableBase}_g$gen"

  private def createTable(spark: SparkSession, gen: Int): Unit = {
    // materialize the location dir BEFORE the DDL: CREATE TABLE lists
    // the location, and an absent dir makes that listing log a
    // HadoopFSUtils "was it deleted very recently?" WARN stack per
    // fresh registry (VERDICT r8 #6 — noise that buries real
    // warnings). An empty dir is inert: committedDataExists and
    // listDataFiles both answer "never written" over it.
    val loc = new org.apache.hadoop.fs.Path(location(gen))
    val fs = hadoopFs(spark)
    if (!fs.exists(loc)) fs.mkdirs(loc)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${tableName(gen)}
         |($schemaDDL)
         |USING PARQUET
         |CLUSTERED BY (${bucketCols.mkString(", ")}) INTO $nBuckets BUCKETS
         |LOCATION '${location(gen)}'""".stripMargin)
  }

  /** Register the ACTIVE generation's table (an in-memory catalog
    * forgets bucket metadata across JVMs; the files keep it) and
    * return its name. */
  def ensure(spark: SparkSession): String = {
    val gen = currentGen(spark)
    createTable(spark, gen)
    tableName(gen)
  }

  /** The active generation's rows (bucketed scan — joins on
    * `bucketCols` need no Exchange on this side). */
  def df(spark: SparkSession): DataFrame = spark.table(ensure(spark))

  def append(rows: DataFrame): Unit = {
    val spark = rows.sparkSession
    rows.write.mode("append").insertInto(ensure(spark))
  }

  /** Where the active generation's files live (for specs/tools). */
  def activeLocation(spark: SparkSession): String = location(currentGen(spark))

  /** (table name, location) of the active generation from ONE sidecar
    * read — for callers whose consistency checks must bind to exactly
    * the generation they then scan (PQRegistry.boundCodes: a separate
    * activeLocation + df pair could straddle a concurrent swap and
    * check one generation while scanning another). */
  def ensureBound(spark: SparkSession): (String, String) = {
    val gen = currentGen(spark)
    createTable(spark, gen)
    (tableName(gen), location(gen))
  }

  private def listDataFiles(spark: SparkSession, loc: String): Seq[String] =
    RegistryIO.listDataFiles(spark, loc)

  /** Committed data files in the active generation. */
  def dataFileCount(spark: SparkSession): Int =
    listDataFiles(spark, activeLocation(spark)).size

  /** Accounting manifests ride the shared RegistryIO format (ONE
    * implementation across the lifecycle family — review: the algebra
    * written twice had already drifted once): header = the generation
    * number being retired, then the carried data-file names. The next
    * rewrite's GC absorbs anything beyond the set — the
    * straddling-append contract in the class doc. */
  private def writeAccounted(fs: org.apache.hadoop.fs.FileSystem, gen: Int,
                             loc: String, names: Seq[String]): Unit =
    RegistryIO.writeAccounted(fs, loc, s"gen=$gen", names)

  private def fileName(path: String): String = RegistryIO.fileName(path)

  /** Generation-swap rewrite: build gen N+1 from `transform` of the
    * active rows, atomically repoint the sidecar, absorb any file
    * groups a racing `append` landed in the outgoing generation
    * after the source snapshot, GC generations OLDER than the
    * outgoing one (the outgoing generation itself is retained until
    * the next rewrite — the reader-vs-GC contract in the class doc).
    *
    * `transform` MUST be row-local (each output row a function of
    * one input row — identity and per-row filters qualify; every
    * transform in this family is one of those): the racing-append
    * absorption re-applies it to just the late files, which is only
    * equivalent to having scanned them in the main pass when no
    * cross-row state exists. A transform that aggregates across rows
    * would need the exclusive-writer discipline for real. */
  def rewrite(spark: SparkSession,
              transform: DataFrame => DataFrame = identity,
              beforeSwap: String => Unit = _ => ()): Unit =
    swapCore(spark, Some(transform), None, beforeSwap)

  /** Generation-swap REBUILD: the next generation's rows come from a
    * SUPPLIED frame instead of a transform of the active rows — for
    * registries whose stored rows are LOSSY derivatives of an
    * external source (PQRegistry: m-byte codes cannot be re-encoded
    * from themselves; a codebook refit re-encodes from the corpus).
    * Because no row-local migration exists for such rows, the
    * racing-append absorption contract CANNOT hold here: the caller
    * must serialize appends against rebuilds (PQRegistry holds its
    * registry-level lock over both), and any late/straggling file
    * this method still finds is a contract violation that aborts
    * loudly AFTER the swap (the new generation is complete and
    * active; the unabsorbable rows are named, never silently mixed
    * in or dropped). */
  def rebuild(spark: SparkSession, rows: DataFrame,
              beforeSwap: String => Unit = _ => ()): Unit =
    swapCore(spark, None, Some(rows), beforeSwap)

  /** `beforeSwap` fires with the NEW generation's location after its
    * rows are fully committed and BEFORE the sidecar flips — the slot
    * for registry-level sidecar files that must be visible the moment
    * the generation is (PQRegistry's `_cbfp` stamp: stamping after
    * the swap opened a window where lock-free probes saw an active
    * generation with no stamp and aborted spuriously). */
  private def swapCore(spark: SparkSession,
                       transform: Option[DataFrame => DataFrame],
                       replacement: Option[DataFrame],
                       beforeSwap: String => Unit = _ => ()): Unit = {
    val fs = hadoopFs(spark)
    // MAINTENANCE MUTEX (VERDICT r8 #1): two concurrent rewrites both
    // target generation N+1 and interleave files in one directory —
    // the post-swap `require(seen == next)` below cannot catch it
    // (both read the same number). The create-exclusive lock makes
    // the second rewrite abort loudly BEFORE it writes anything;
    // appends/probes never take it (their races are absorbed by the
    // snapshot/re-list/manifest contract below). Held across GC so a
    // racing rewrite can't GC a generation this one is absorbing from.
    RegistryIO.withMaintenanceLock(fs, rootLocation + "_maint_lock",
      s"GenIndex($rootLocation).rewrite") {
    val gen = currentGen(spark)
    val next = gen + 1
    // a crashed prior attempt left inactive garbage here (the sidecar
    // never pointed at it) — clear before building
    val nextPath = new org.apache.hadoop.fs.Path(location(next))
    if (fs.exists(nextPath)) fs.delete(nextPath, true)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(next)}")
    createTable(spark, next)
    // one shuffle into the bucket layout so the new generation lands
    // as AT MOST nBuckets committed files, DETERMINISTICALLY:
    // repartition(nBuckets, bucketCols) assigns partition id with the
    // same Pmod(Murmur3Hash(cols), nBuckets) function the bucketed
    // write uses for bucket ids, so every writer task holds exactly
    // one bucket and the writer splits nothing further.
    //
    // The source is read as PLAIN PARQUET FILES, not via the bucketed
    // table (root cause of a compaction flake, VERDICT r6 #3,
    // reproduced deterministically): a bucketed-table scan
    // advertises HashPartitioning(bucketCols, nBuckets), which lets
    // EnsureRequirements elide the repartition exchange — and with no
    // exchange left downstream, the auto-bucketed-scan rule then
    // downgrades the scan to arbitrary file-group partitions (nothing
    // remaining "interests" the distribution), so the bucketed write
    // splits every mixed partition per bucket: compaction output
    // ballooned to ~tasks x buckets files with the count depending on
    // how the listing coalesced into splits (53 files from a 95-file
    // generation in the repro; 11-12 in the spec, varying with host
    // load). A plain file scan claims no partitioning, the exchange
    // always materializes, and the file bound holds on any host.
    // Column order is pinned to the table schema (insertInto is
    // positional); the empty-snapshot case uses a literal empty frame
    // of the table schema — NOT the table scan, whose file listing
    // happens at action time and would also see a racing append's
    // files, double-counting them with the late-file absorption
    // below.
    //
    // The source is an EXPLICIT file-list snapshot, not a directory
    // read: the same file set diffed against the post-swap re-listing
    // below, so a racing append's files are detected exactly — no
    // TOCTOU between "what the rewrite read" and "what the directory
    // held" (VERDICT r7 #3).
    val tableCols = spark.table(ensure(spark)).columns
    val outgoingLoc = activeLocation(spark)
    val srcFiles = listDataFiles(spark, outgoingLoc)
    onSourceSnapshot()
    // rewrite path: transform of the snapshot; rebuild path: the
    // supplied frame verbatim (the snapshot is still taken — the
    // manifest below accounts every outgoing file as carried, since
    // the replacement supersedes them all by the rebuild contract)
    val newRows = replacement.getOrElse {
      val src =
        if (srcFiles.isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          spark.table(ensure(spark)).schema)
        else spark.read.parquet(srcFiles: _*)
          .select(tableCols.map(col): _*)
      transform.get(src)
    }
    newRows.select(tableCols.map(col): _*)
      .repartition(nBuckets, bucketCols.map(col): _*)
      .write.mode("append").insertInto(tableName(next))
    // the snapshot manifest goes down BEFORE the swap: were it
    // written only after, a crash in between would leave a retired
    // generation with no manifest — which the no-manifest GC rule
    // reads as "everything was carried forward" and deletes, losing
    // any straddler. Pre-swap the manifest is inert (the generation
    // is still active; appends landing now are caught by the re-list
    // below or, post-crash, by the next attempt's fresh snapshot).
    writeAccounted(fs, gen, outgoingLoc, srcFiles.map(fileName))
    beforeSwap(location(next))
    // atomic activation: readers see gen or gen+1, never a partial
    // (the RegistryIO.SwapStore seam — rename-overwrite on HDFS/POSIX)
    RegistryIO.atomicWriteLines(fs, genSidecar, Seq(next.toString))
    // VERIFY the swap before GC'ing anything: if the sidecar read
    // does not resolve to the generation just activated, deleting the
    // old generation below would destroy the live index. A silent
    // stale read here is also the one way a caller could keep
    // operating on the pre-rewrite files believing it compacted
    // (that flake's suspected shape) — fail loudly
    // with both numbers instead.
    val seen = currentGen(spark)
    require(seen == next,
      s"GenIndex($rootLocation): sidecar swap to generation $next " +
        s"not visible (read back $seen) — aborting before old-" +
        "generation GC; the pre-rewrite index is still fully active")
    // RACING-APPEND DETECTION (VERDICT r7 #3): an `append` that read
    // the sidecar before the swap lands its file group in the
    // OUTGOING generation; anything there that was not in the source
    // snapshot was invisible to the rewrite's scan and would have
    // been silently lost at GC. Re-list and absorb those rows into
    // the new generation — `transform` re-applied (row-local, see
    // method doc), same bucket-aligned repartition so the file-count
    // bound degrades by at most nBuckets, not by the raw late files.
    // Appends that land AFTER this re-listing read the swapped
    // sidecar and go to the new generation directly.
    val lateFiles =
      (listDataFiles(spark, outgoingLoc).toSet -- srcFiles.toSet).toSeq.sorted
    if (lateFiles.nonEmpty) {
      // rebuild path: no row-local migration exists for these rows
      // (method doc) — the caller broke the serialize-appends
      // contract; QUARANTINE the files (rename to an _-prefixed name:
      // bytes preserved for manual recovery, invisible to every data
      // listing so no later identity rewrite can silently absorb the
      // stale-encoding rows into a validly-stamped generation), then
      // abort loudly. The new generation is complete and active;
      // nothing is mixed or lost silently.
      if (transform.isEmpty) quarantineAndAbort(fs, lateFiles,
        s"GenIndex($rootLocation).rebuild: files landed in the outgoing " +
          "generation during the rebuild — rebuild rows cannot absorb " +
          "appended rows (lossy derivative contract); callers must " +
          "serialize appends against rebuilds. Re-append those rows' " +
          "source data against the new generation.")
      transform.get(spark.read.parquet(lateFiles: _*)
          .select(tableCols.map(col): _*))
        .repartition(nBuckets, bucketCols.map(col): _*)
        .write.mode("append").insertInto(tableName(next))
    }
    // ACCOUNTING MANIFEST: record in the retired directory exactly
    // which data files this rewrite carried forward (snapshot + late
    // absorption). A STRADDLING append — sidecar read before the
    // swap, file commit after the re-listing above — lands files in
    // the retired directory beyond this set; the NEXT rewrite's GC
    // below diffs against the manifest and absorbs them, so even that
    // window loses nothing (class doc).
    if (lateFiles.nonEmpty)
      writeAccounted(fs, gen, outgoingLoc,
        (srcFiles ++ lateFiles).map(fileName))
    // GC generations OLDER than the outgoing one. The outgoing
    // generation `gen` is RETAINED — already-planned readers keep
    // executing over its files — and becomes GC-eligible at the next
    // rewrite, so disk holds at most one stale generation. Before
    // deleting a manifest-carrying directory, absorb any file group
    // beyond its manifest (a straddling append's rows — see above;
    // applying only the CURRENT transform is correct because in
    // serialization order that append happened after the rewrite
    // whose scan missed it, so earlier per-row filters do not apply
    // to it, same as any post-rewrite append). A directory with NO
    // manifest is pre-upgrade garbage or a crashed swap's leftovers:
    // everything it held was already carried forward, absorb nothing.
    // Absorb errors propagate (fail loud before delete); the delete
    // itself stays best-effort.
    (0 until gen).foreach { g =>
      val loc = location(g)
      RegistryIO.stragglersIn(spark, fs, loc).foreach {
        case (_, accounted, stragglers) if stragglers.nonEmpty =>
          if (transform.isEmpty) quarantineAndAbort(fs, stragglers,
            s"GenIndex($rootLocation).rebuild: retired dir $loc holds " +
              "unaccounted files no row-local migration can absorb — " +
              "serialize appends against rebuilds and re-append that " +
              "source data.")
          // IDEMPOTENT absorb (class doc: ABSORB IDEMPOTENCE): a crash
          // between a prior absorb's insertInto and its manifest
          // update re-surfaces the same files as stragglers here; the
          // null-safe full-row anti-join against the rows already
          // committed to the generation being built makes the retry
          // insert nothing. Sound because GenIndex rows are set-
          // semantic facts by contract. The built side is index-sized
          // — one scan on the rare straggler path, the price of
          // idempotence.
          val absorbed = transform.get(spark.read.parquet(stragglers: _*)
            .select(tableCols.map(col): _*))
          val built = spark.table(tableName(next))
          val cond = tableCols.map(c => absorbed(c) <=> built(c)).reduce(_ && _)
          absorbed.join(built, cond, "left_anti")
            .repartition(nBuckets, bucketCols.map(col): _*)
            .write.mode("append").insertInto(tableName(next))
          onStragglerAbsorbed()
          // mark the absorbed files accounted BEFORE deleting the
          // directory: a crash between this absorb and the delete
          // would otherwise re-absorb them on the retry (now a no-op
          // by the anti-join, but the accounting keeps GC O(new rows))
          writeAccounted(fs, g, loc,
            (accounted ++ stragglers.map(fileName)).toSeq)
        case _ => ()
      }
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(g)}")
      val p = new org.apache.hadoop.fs.Path(loc)
      try { if (fs.exists(p)) fs.delete(p, true) } catch { case _: java.io.IOException => }
    }
    } // maintenance lock released
  }

  /** Rename unabsorbable files to an `_quarantined_` prefix (invisible
    * to listDataFiles and all future absorption — a later identity
    * rewrite would otherwise silently absorb their stale-encoding rows
    * into a validly-stamped generation), then abort loudly with the
    * quarantine locations named. Hadoop FileSystem.rename reports most
    * failures by RETURNING FALSE, not throwing — a failed rename must
    * be named as such (the file is still visible to data listings and
    * a later identity rewrite WOULD absorb it), never reported as
    * quarantined (review r10 ADVICE). */
  private def quarantineAndAbort(fs: org.apache.hadoop.fs.FileSystem,
                                 files: Seq[String], why: String): Nothing = {
    var anyFailed = false
    val moved = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val q = new org.apache.hadoop.fs.Path(p.getParent,
        "_quarantined_" + p.getName)
      val ok = try fs.rename(p, q)
               catch { case _: java.io.IOException => false }
      if (ok) q.toString
      else { anyFailed = true; f + " (rename FAILED — STILL VISIBLE)" }
    }
    val residue = if (!anyFailed) "" else
      " WARNING: one or more renames FAILED — those files remain " +
        "visible to scans and future absorption; remove or rename them " +
        "manually before any further rewrite/compact on this registry."
    val verb = if (anyFailed) "quarantine ATTEMPTED (see per-file status)"
               else "quarantined (bytes preserved, invisible to " +
                 "every scan/absorption)"
    throw new IllegalStateException(
      s"$why Offending rows $verb: ${moved.mkString(", ")}.$residue")
  }

  /** Compact when the active generation holds more than `maxFiles`
    * committed data files; returns whether a rewrite ran. Probe
    * results are unchanged by construction (same rows, same bucket
    * layout) — spec-asserted per registry. */
  def compact(spark: SparkSession, maxFiles: Int,
              beforeSwap: String => Unit = _ => ()): Boolean = {
    val n = dataFileCount(spark)
    if (n <= maxFiles) false
    else { rewrite(spark, identity, beforeSwap); true }
  }
}
