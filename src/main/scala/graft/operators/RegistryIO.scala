package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The ONE implementation of the registry bootstrap policy (ADVICE
  * r4, refined by review): a state/registry path maps to "empty"
  * only when it has never been COMMITTED to — path absent, or
  * present without any committed data file (the crash-during-first-
  * append window leaves a dir holding only `_temporary`/markers; the
  * true registry state is still empty, and treating it as corruption
  * would brick ingestion where the documented contract is replay).
  * Anything else — the path exists with data files — must be read,
  * and schema problems then PROPAGATE: silently forgetting
  * dedup/state history re-admits every duplicate. */
object RegistryIO {

  /** True iff `path` holds at least one committed data file. ANY
    * non-marker file counts (ADVICE r5) — not just Spark's own
    * part-* naming: a registry whose data files were written or
    * compacted by another tool must be READ (and then judged by the
    * schema check), not silently treated as never-committed — that
    * is exactly the forget-history failure this policy exists to
    * prevent. Markers are `_`/`.`-prefixed (SUCCESS files, CRC
    * sidecars, in-flight tmp) — the same classes Spark's own reader
    * skips. */
  def committedDataExists(spark: SparkSession, path: String): Boolean =
    firstDataFile(spark, path).isDefined

  /** The first committed data file under `path` in listing order,
    * found by the scan `committedDataExists` describes (it stops at
    * the first hit). */
  def firstDataFile(spark: SparkSession,
                    path: String): Option[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def scan(dir: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).iterator.flatMap { s =>
        val n = s.getPath.getName
        // partition dirs (cell=...) hold the files; _temporary and
        // other _-prefixed dirs are uncommitted scaffolding
        if (n.startsWith("_") || n.startsWith(".")) None
        else if (s.isDirectory) scan(s.getPath)
        else Some(s)
      }.nextOption()
    if (fs.exists(p)) scan(p) else None
  }

  /** THE read of committed state: every registry, state table and
    * log reads through here. A path that was never committed to
    * (absent, or holding only `_temporary`/markers) reads as an empty
    * frame typed by `schema`; that is the only silent-empty case. A
    * committed path is read with the schema of ONE committed file's
    * footer, read on the driver: the single footer Spark's inference
    * would read in a job of its own on every read. Partition columns
    * are still discovered from the directory names. A committed first
    * file that lacks a column of `schema` (its own columns or its
    * partition directories) throws, naming the path and the missing
    * columns, and a committed file that is not parquet fails loudly
    * too: state read as empty forgets its history.
    *
    * Columns in `optional` may be missing from committed files; they
    * read as null, so such a read uses `schema` itself rather than the
    * footer's (a file written before a column was added). */
  def readCommitted(spark: SparkSession, path: String, schema: StructType,
                    optional: Set[String] = Set.empty): DataFrame =
    firstDataFile(spark, path) match {
      case None =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      case Some(f) =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration))
        val meta = try reader.getFooter.getFileMetaData finally reader.close()
        // Spark-written files carry their Spark schema; foreign ones are
        // converted from the parquet schema under the session's settings
        val footer = Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))
        val partitionCols = Iterator.iterate(f.getPath.getParent)(_.getParent)
          .takeWhile(d => d != null && d.getName.contains("="))
          .map(_.getName.takeWhile(_ != '=')).toSet
        val found = footer.fieldNames.toSet ++ partitionCols
        val missing = schema.fieldNames.filterNot(c => optional(c) || found(c))
        require(missing.isEmpty,
          s"committed state at $path lacks ${missing.mkString(", ")} " +
            s"(found: ${found.toSeq.sorted.mkString(", ")}) — refusing to " +
            "treat corrupt state as empty")
        spark.read.schema(if (optional.isEmpty) footer else schema).parquet(path)
    }

  /** All committed data files under `path`, recursively (partition
    * subdirectories included), as full paths sorted for deterministic
    * set algebra — the lifecycle family's snapshot/re-list primitive
    * (GenIndex.rewrite and EmbedDedupRegistry's cutover both diff
    * these lists to detect racing/straddling appends). Markers and
    * `_`/`.`-prefixed directories are skipped — the same classes as
    * `committedDataExists`. */
  def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      def scan(dir: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(dir).toSeq.flatMap { s =>
          val n = s.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Seq.empty
          else if (s.isDirectory) scan(s.getPath)
          else Seq(s.getPath.toString)
        }
      scan(p).sorted
    }
  }

  /** Dir-local (scheme-independent) name of a data-file path —
    * manifests record names, not full paths. */
  def fileName(path: String): String =
    new org.apache.hadoop.fs.Path(path).getName

  /** THE accounting-manifest format, shared by every lifecycle root
    * (GenIndex.rewrite and EmbedDedupRegistry's cutover — review: the
    * manifest algebra written twice had already drifted once): line 0
    * is a non-empty HEADER (the generation number for GenIndex, the
    * centroid fingerprint for the semantic store — whatever identifies
    * what the directory's rows were written under), the rest are the
    * data-file NAMES the retiring rewrite carried forward. The next
    * rewrite's GC diffs the directory against it and absorbs anything
    * beyond — a straddling append's rows. */
  val AccountedManifest = "_accounted"

  def writeAccounted(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                     header: String, names: Iterable[String]): Unit = {
    require(header.trim.nonEmpty,
      "accounting manifest header must be non-empty (blank lines are dropped on read)")
    writeLines(fs, dir + "/" + AccountedManifest,
      header +: names.toSeq.sorted)
  }

  /** (header, accounted names) of a retired dir's manifest; None when
    * the dir was retired pre-upgrade (everything it held was carried
    * forward — absorb nothing, delete outright). */
  def readAccounted(fs: org.apache.hadoop.fs.FileSystem,
                    dir: String): Option[(String, Set[String])] =
    readLines(fs, dir + "/" + AccountedManifest)
      .map(ls => (ls.head, ls.tail.toSet))

  /** Manifest-diff of a retired dir: (header, accounted, straggler
    * file paths beyond the manifest) — the GC-time primitive both
    * lifecycle roots absorb from. */
  def stragglersIn(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                   dir: String): Option[(String, Set[String], Seq[String])] =
    readAccounted(fs, dir).map { case (header, accounted) =>
      (header, accounted,
        listDataFiles(spark, dir).filterNot(f => accounted(fileName(f))))
    }

  /** Create-or-verify a parameter sidecar (the sig-mode discipline
    * generalized): the FIRST writer pins `value`; every later open
    * with a different value fails loudly instead of silently mixing
    * incompatible cells/sketches (CMS d/w, KMV k — same-shape rows,
    * incompatible semantics). Crash between data write and pin:
    * the next call re-pins the same value, a no-op. */
  def pinParams(fs: org.apache.hadoop.fs.FileSystem, path: String,
                value: String, what: String): Unit =
    readLines(fs, path) match {
      case None => writeLines(fs, path, Seq(value))
      case Some(lines) if lines.mkString(",") == value => ()
      case Some(lines) => throw new IllegalArgumentException(
        s"$what: registry is pinned to '${lines.mkString(",")}' but was " +
          s"opened with '$value' — parameter drift would silently corrupt " +
          "every estimate; migrate explicitly instead")
    }

  /** MAINTENANCE MUTEX (VERDICT r8 #1 — the last undetected lifecycle
    * race): two CONCURRENT rewrites both target generation N+1,
    * interleave files in the same directory, and the post-swap
    * `require(seen == next)` check passes for both — silent index
    * corruption from nothing worse than a scheduler double-firing a
    * compaction. This converts it to a loud abort: a create-EXCLUSIVE
    * lock file is taken before the source snapshot and released after
    * GC, so the second rewrite fails before it writes anything and
    * the first one's index is untouched.
    *
    * Crash recovery: a rewrite that died holding the lock leaves the
    * file behind; once it is older than `staleMs` (default 1 h — far
    * past any maintenance run, far under any real schedule gap) a
    * later attempt claims the break by ATOMIC RENAME to a
    * breaker-unique tombstone and retries the exclusive create ONCE
    * (see breakStale below for why rename, not delete).
    * The lock serializes maintenance only — appends/probes never
    * touch it (their races are absorbed by the snapshot/re-list/
    * manifest contract, which this mutex complements, not replaces).
    *
    * HDFS `create(path, overwrite = false)` is an atomic namenode op;
    * Hadoop's RawLocalFileSystem implements it as check-then-create
    * (exists? then create), so the local-FS guarantee is WEAKER than
    * HDFS — the token read-back below is what actually decides
    * ownership there. Object stores without atomic create-exclusive
    * or atomic rename need a real coordination service — same caveat
    * as every lock file.
    * One accepted edge: a transient read failure in the ownership
    * verification right after a successful create leaves that fresh
    * lock as an orphan until the stale horizon — maintenance delayed,
    * never corrupted (deleting on an unverifiable read could delete a
    * LIVE holder's lock, the worse trade). */
  def withMaintenanceLock[T](fs: org.apache.hadoop.fs.FileSystem,
                             lockPath: String, what: String,
                             staleMs: Long = 60L * 60 * 1000)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(lockPath)
    val token = s"pid=${ProcessHandle.current().pid()} " +
      s"t=${System.currentTimeMillis()} u=${java.util.UUID.randomUUID()}"
    // create-exclusive, then read BACK and verify ownership: two
    // processes breaking the same stale lock could interleave
    // (A deletes+creates, B's delete then removes A's fresh lock and
    // B creates) — the unique token makes that near-impossible race
    // lose loudly instead of letting both proceed.
    def tryAcquire(): Boolean =
      try {
        swapStore.putIfAbsent(fs, lockPath, token) && // the CAS
          readLines(fs, lockPath).exists(_.mkString("\n") == token)
      } catch { case _: java.io.IOException => false }
    // Stale-holder escape hatch: a crashed rewrite's lock outlives its
    // process; past staleMs it is debris, not a writer. Claiming the
    // break by DELETE was racy (ADVICE r9): two breakers that both see
    // the same stale status can interleave so that B's delete removes
    // the fresh lock A just created and verified — both then proceed,
    // recreating the concurrent-rewrite corruption. Claim by atomic
    // RENAME instead: the stale lock is renamed to a breaker-unique
    // tombstone, exactly one rename can succeed (the source exists
    // only once), and only that winner deletes the tombstone and races
    // for the fresh create — a loser never touches any lock file, so
    // it can never remove a successor's fresh lock.
    def breakStale(): Boolean = {
      val mod =
        try fs.getFileStatus(lock).getModificationTime
        catch {
          case _: java.io.FileNotFoundException =>
            return tryAcquire() // vanished (holder released): plain retry
          case _: java.io.IOException => return false // unreadable: assume live
        }
      mod < System.currentTimeMillis() - staleMs && {
        val tomb = new org.apache.hadoop.fs.Path(
          lockPath + ".broken." + java.util.UUID.randomUUID())
        val won = try fs.rename(lock, tomb)
          catch { case _: java.io.IOException => false }
        if (won) { try fs.delete(tomb, false)
          catch { case _: java.io.IOException => () } }
        won && tryAcquire()
      }
    }
    val acquired = tryAcquire() || breakStale()
    if (!acquired) throw new IllegalStateException(
      s"$what: another maintenance rewrite holds the lock at $lockPath " +
        "— concurrent rewrites would interleave files in one target " +
        "generation and corrupt the index silently; this one is " +
        "aborting with the index untouched. If the holder crashed, " +
        s"the lock goes stale after ${staleMs / 1000}s (or delete it " +
        "manually once the holder is confirmed dead).")
    try body
    finally {
      // Release only OUR lock: if the body outlived the stale horizon
      // and a breaker already rename-claimed it (and possibly created
      // its own fresh lock), a blind delete would remove the
      // successor's lock — verify the holder token first. The
      // read-then-delete window that remains requires this lock to be
      // past staleMs while we are actively releasing it — the same
      // horizon assumption the whole scheme rests on.
      try {
        if (readLines(fs, lockPath).exists(_.mkString("\n") == token))
          fs.delete(lock, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** CONDITIONAL-PUT SEAM (VERDICT r12 #7 — the r12 README deployment
    * notes, landed as code): every lifecycle root's crash safety rests
    * on exactly TWO filesystem primitives, so they live behind one
    * trait. A deployment on an object store without atomic rename /
    * create-exclusive (raw S3) implements this ONCE with the store's
    * conditional put (`If-None-Match: *` for putIfAbsent; a
    * read-modify-put-if-match loop or a pointer object for swap) and
    * every registry — GenIndex generation sidecars, the three serving
    * registries' meta files, the `_cbfp`/`_lin` generation stamps,
    * the maintenance lock — inherits the change. The default is the
    * HDFS/POSIX implementation this repo has always used; behavior on
    * those filesystems is unchanged. */
  trait SwapStore {
    /** Atomically publish `lines` at `path`, replacing any previous
      * version — concurrent readers see the old or the new content,
      * never a partial or blank file. */
    def swap(fs: org.apache.hadoop.fs.FileSystem, path: String,
             lines: Seq[String]): Unit
    /** Create `path` exclusively holding `content`; false when the
      * path already exists (or the store cannot decide — callers
      * treat false as "lost the race"). */
    def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem, path: String,
                    content: String): Boolean
  }

  /** The HDFS/POSIX default: swap = write-tmp + FileContext rename
    * with OVERWRITE (atomic on HDFS and POSIX; the tmp name is
    * `.`-/`_`-suffixed-unique so in-flight files stay invisible to
    * every data listing), putIfAbsent = create-exclusive (an atomic
    * namenode op on HDFS; RawLocalFileSystem's check-then-create is
    * weaker, which is why the lock additionally verifies ownership by
    * token read-back). */
  object HdfsRenameSwapStore extends SwapStore {
    def swap(fs: org.apache.hadoop.fs.FileSystem, path: String,
             lines: Seq[String]): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(
        path + ".tmp-" + java.util.UUID.randomUUID().toString)
      val os = fs.create(tmp, false)
      try os.write(lines.mkString("\n").getBytes("UTF-8")) finally os.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        tmp.toUri, fs.getConf)
      fc.rename(tmp, new org.apache.hadoop.fs.Path(path),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem, path: String,
                    content: String): Boolean =
      try {
        val os = fs.create(new org.apache.hadoop.fs.Path(path), false)
        try os.write(content.getBytes("UTF-8")) finally os.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** The active implementation — a deployment seam, not a runtime
    * toggle: set once at process start before any registry call. */
  @volatile var swapStore: SwapStore = HdfsRenameSwapStore

  /** Atomically publish a small line-file (generation sidecars, meta
    * files, stamps) through the active SwapStore. */
  def atomicWriteLines(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       lines: Seq[String]): Unit =
    swapStore.swap(fs, path, lines)

  /** The signature scheme a registry's state at `dataPath` was written
    * under, from its one-line `sidecar`. Committed state with no
    * sidecar predates the pin and reads as `legacy`. A registry with
    * no committed state and no sidecar pins `scheme` now, BEFORE any
    * signature lands (a crash after the pin leaves a sidecar with no
    * data, which the next run re-asserts), and gets `scheme` back.
    * The caller refuses any answer other than its own scheme. */
  def pinnedScheme(spark: SparkSession, dataPath: String, sidecar: String,
                   scheme: String, legacy: String): String = {
    val fs = new org.apache.hadoop.fs.Path(sidecar)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readLines(fs, sidecar).flatMap(_.headOption).getOrElse {
      if (committedDataExists(spark, dataPath)) legacy
      else { atomicWriteLines(fs, sidecar, Seq(scheme)); scheme }
    }
  }

  /** Overwrite a small line-file (lifecycle manifests). Creates the
    * parent directory when absent — writing a manifest into a
    * retired-but-never-created staging dir is what lets a straddling
    * append into that dir be detected later. */
  def writeLines(fs: org.apache.hadoop.fs.FileSystem, path: String,
                 lines: Seq[String]): Unit = {
    val os = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try os.write(lines.mkString("\n").getBytes("UTF-8")) finally os.close()
  }

  /** Read a small line-file; None when absent. Blank lines dropped. */
  def readLines(fs: org.apache.hadoop.fs.FileSystem,
                path: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq)
    }
  }
}
