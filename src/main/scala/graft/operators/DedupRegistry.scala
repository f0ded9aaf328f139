package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CONTINUOUS-ingest dedup: a parquet-backed fingerprint registry
  * that persists across runs, so every new corpus batch is deduped
  * against EVERYTHING ever accepted — the production shape of corpus
  * ingestion (the sinks.NotificationLog read-back loop applied to
  * content dedup).
  *
  * Scale notes: the registry is a one-column table of fingerprints —
  * at 10^10 docs it is still orders of magnitude narrower than the
  * corpus; the membership probe is a key-shuffle anti-join (swap in a
  * bloom-filter pre-probe when the registry outgrows comfortable
  * shuffle, same plan shape, q80's broadcast→bloom note). In-batch
  * duplicates resolve FIRST (keep the smallest id per fingerprint,
  * exactDedup's rule) so one batch can never register a fingerprint
  * twice.
  *
  * LIFECYCLE (VERDICT r6 #6 — one compaction + crash-window policy
  * across the registry family): appends, compaction, and forget run
  * through the same GenIndex generation machinery as NearDupRegistry
  * — per-batch appends fragment one file group per
  * batch, `compactIndex` rewrites the active generation into
  * ~nBuckets files behind an atomic sidecar swap (a crash leaves the
  * old generation fully active), and `forget` removes fingerprints by
  * the same swap. READS stay plain-parquet on the active location
  * rather than going through the bucketed catalog table: the ADVICE
  * r5 policy requires files written or compacted by another tool to
  * be READ, and a bucketed table scan would reject foreign file
  * names — the probe's anti-join ships only the one fp column, so
  * the bucket-locality a table scan would buy is the smallest win in
  * the family (the structural index that probes by key every batch,
  * NearDup's bands, does use it). Compaction
  * itself reads plain files too (the GenIndex contract), so a
  * foreign-compacted generation migrates INTO the bucketed layout on
  * its next rewrite instead of being rejected.
  */
class DedupRegistry(path: String, nBuckets: Int = 8) {

  private[operators] val index = new GenIndex(
    GenIndex.tableBaseFor("graft_dedup_reg_", path),
    path, "fp STRING", Seq("fp"), nBuckets)

  /** Where the active generation's files live (for specs/tools). */
  def indexLocation(spark: SparkSession): String = index.activeLocation(spark)

  def read(spark: SparkSession): DataFrame =
    RegistryIO.readCommitted(spark, indexLocation(spark),
      org.apache.spark.sql.types.StructType.fromDDL("fp STRING")).select("fp")

  /** Maintenance: rewrite the fingerprint index into ~nBuckets files
    * when per-batch appends have fragmented it past `maxFiles`.
    * Probe verdicts are unchanged (same fingerprints); crash-safe by
    * the GenIndex generation-swap contract. */
  def compactIndex(spark: SparkSession,
                   maxFiles: Int = 4 * nBuckets): Boolean =
    index.compact(spark, maxFiles)

  /** Right-to-be-forgotten: remove the given fingerprints, so content
    * hashing to them is admissible again — a GenIndex generation
    * swap, same crash contract as compaction. */
  def forget(spark: SparkSession, fps: Seq[String]): Unit =
    index.rewrite(spark, _.filter(!col("fp").isin(fps: _*)))

  /** Dedup `batch` against the registry AND within itself, persist
    * the survivors via `persist`, THEN append their fingerprints, and
    * return the surviving rows (original schema). `fingerprint` is
    * any deterministic Column over the batch's columns (content md5,
    * minhash band key, simhash...).
    *
    * WRITE ORDER is the delivery guarantee: the corpus sink runs
    * BEFORE the registry append, so a crash between the two replays
    * the batch as duplicates (at-least-once, fixable downstream) —
    * never as silent loss. Registering first would make any failure
    * before the sink drop those documents FOREVER: the replay
    * anti-joins against its own fingerprints and returns nothing. */
  def dedupAppend(batch: DataFrame, idCol: String, fingerprint: Column,
                  persist: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val fpCol = "_reg_fp"
    require(!batch.columns.contains(fpCol),
      s"DedupRegistry: batch must not contain reserved column $fpCol")
    val withFp = batch.withColumn(fpCol, fingerprint)
    // in-batch winners: smallest id per fingerprint
    val inBatch = Dedup.exactDedup(withFp, idCol, col(fpCol)).select(col(idCol))
    val winners = withFp.join(inBatch, Seq(idCol), "left_semi")
    // registry probe: drop fingerprints seen in ANY earlier batch
    val fresh = winners.join(
      read(spark).withColumnRenamed("fp", fpCol),
      Seq(fpCol), "left_anti")
    // Materialize BEFORE appending: the survivors plan reads the
    // registry it is about to extend (same recache hazard as the
    // notification log, SURVEY.md §7 risk 6).
    val pinned = fresh.localCheckpoint(true)
    val out = pinned.drop(fpCol)
    persist(out)
    index.append(pinned.select(col(fpCol).as("fp")))
    out
  }
}
