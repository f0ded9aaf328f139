package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch-partitioned ADDITIVE-registry discipline shared by
  * CmsRegistry (term-frequency cells) and HistRegistry (quantile
  * histogram buckets): the fold is a SUM over key columns —
  * commutative and associative but NOT idempotent — so replay safety
  * cannot come from the algebra (the SketchRegistry/KmvRegistry
  * route). It comes from the layout: each batch's deltas land in
  * their own batch_id partition (IdempotentSink), an at-least-once
  * replay overwrites its own partition byte-identically, and the
  * folded sum is exactly-once.
  *
  * Compaction encodes the absorbed horizon in the base partition's
  * id: compact(upTo = K) writes batch_id = -(K+2), so -2 absorbs
  * batch 0, -3 absorbs 0..1, ... Readers take the NEWEST base and
  * ignore both older bases and every live partition at or below its
  * horizon. Post-compaction cleanup is therefore garbage collection,
  * never a correctness step: a crash between base write and cleanup
  * double-counts nothing, a replay of an absorbed batch recreates a
  * partition readers already ignore, and appends running
  * CONCURRENTLY with compact land above the horizon and survive
  * untouched (the write is a dynamic overwrite of the single new
  * base partition, never the whole tree).
  *
  * Why this family does NOT ride the GenIndex generation lifecycle
  * the membership registries (Dedup/NearDup/Winnow) share (VERDICT
  * r6 #6, considered and rejected): those registries' rows are
  * IDEMPOTENT facts — re-appending a fingerprint changes no verdict,
  * so replay safety is free and the only lifecycle problem is file
  * fragmentation, which a whole-index generation swap solves. Here
  * the fold is a NON-idempotent sum: replay safety comes from the
  * batch_id partition keying itself (a replayed batch overwrites its
  * own partition), so the layout IS the correctness mechanism, and a
  * generation swap that rewrote the tree as one unkeyed table would
  * destroy exactly that. The horizon-encoded base gives this family
  * the same two guarantees by different means: bounded file count
  * (absorbed partitions collapse into one base) and no crash window
  * (readers ignore a partially-GC'd state by construction).
  */
object AdditiveRegistry {

  private def baseId(upTo: Long): Long = -(upTo + 2)

  /** The absorbed horizon encoded by the newest base partition, or
    * -1 when no compaction has run: read from the `batch_id=`
    * directories of the committed data files `all` lists, so it costs
    * no job and describes exactly the snapshot `all` reads. */
  private def horizon(all: DataFrame): Long =
    all.inputFiles.iterator.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName)
      .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=").toLong }
      .filter(_ <= -2L).map(b => -b - 2L).maxOption.getOrElse(-1L)

  /** Every stored cell: `like`'s columns plus the batch_id partition,
    * through the shared committed-state read (empty, typed, before the
    * first committed batch). */
  private def readAll(spark: SparkSession, path: String, like: DataFrame): DataFrame =
    graft.operators.RegistryIO.readCommitted(spark, path,
        like.schema.add("batch_id", org.apache.spark.sql.types.LongType))
      .withColumn("batch_id", col("batch_id").cast("long"))

  /** Valid cells under horizon h: the base encoding h plus every
    * live partition above h. (With no base, h = -1 keeps exactly the
    * live partitions.) */
  private def valid(all: DataFrame, h: Long): DataFrame =
    all.filter(col("batch_id") === baseId(h) || col("batch_id") > h)

  /** The folded registry: key-wise sum of the newest base plus every
    * live partition above its horizon (the merge law of whatever
    * sketch the cells encode). `like` declares the cells' schema: a
    * never-committed path folds to an empty frame of it (a probe
    * racing the stream's first batch reads empty, not PATH_NOT_FOUND). */
  def fold(spark: SparkSession, path: String, keys: Seq[String],
           valueCol: String, like: DataFrame): DataFrame = {
    val all = readAll(spark, path, like)
    valid(all, horizon(all))
      .groupBy(keys.map(col): _*).agg(sum(valueCol).as(valueCol))
  }

  /** The fold restricted to batches STRICTLY BEFORE `beforeBatchId` —
    * the replay-safe offset read for consumers whose batch output
    * DEPENDS on the folded state (PackRegistry: a replayed batch must
    * recompute its assignment from the same prefix it originally saw,
    * so its own possibly-crash-committed delta partition must be
    * excluded). Fails loudly when compaction has already absorbed the
    * requested prefix boundary (the exact prefix is then
    * unreconstructable): compact must trail the stream's replay
    * horizon for such consumers — a standard checkpoint-trailing
    * maintenance schedule, named here instead of silently misfolding. */
  def foldBefore(spark: SparkSession, path: String, keys: Seq[String],
                 valueCol: String, like: DataFrame,
                 beforeBatchId: Long): DataFrame = {
    val all = readAll(spark, path, like)
    val h = horizon(all)
    def unreconstructable(atHorizon: Long) =
      s"AdditiveRegistry.foldBefore: horizon $atHorizon absorbed batches " +
        s">= the requested prefix boundary $beforeBatchId — the exact " +
        "prefix fold is unreconstructable. Schedule compact() behind the " +
        "stream's replay horizon for prefix-dependent consumers."
    require(h < beforeBatchId, unreconstructable(h))
    // This read runs WITHOUT the maintenance lock (appends and reads
    // are lock-free by design), so a compact() racing it can pass the
    // check above and then GC absorbed partitions mid-scan. Two-part
    // defense: materialize the fold EAGERLY (so the scan happens here,
    // not at some later consumer action), surfacing a GC-torn scan as
    // the NAMED contract violation instead of a raw
    // FileNotFoundException; then RE-CHECK the horizon — if a compact
    // crossed the boundary while we scanned, the fold may have read a
    // mix of old listing and new tree, so abort loudly even when the
    // scan itself survived. Materialization is COLLECT-AND-RETURN,
    // not localCheckpoint (ADVICE r12): a checkpoint handed to the
    // caller has no owner to unpersist it, so repeated folds piled up
    // storage blocks until the GC-driven ContextCleaner noticed. The
    // fold is per-key registry state, bounded by contract (one row
    // per distinct key combination — PackRegistry's (lang, fclass)
    // cells), so the local relation is registry metadata, not data;
    // downstream joins broadcast it for free and nothing lingers.
    val folded =
      try {
        val plan = valid(all, h).filter(col("batch_id") < beforeBatchId)
          .groupBy(keys.map(col): _*).agg(sum(valueCol).as(valueCol))
        spark.createDataFrame(
          java.util.Arrays.asList(plan.collect(): _*), plan.schema)
      }
      catch {
        case e: Throwable if causedByMissingFile(e) =>
          throw new IllegalStateException(
            unreconstructable(horizon(readAll(spark, path, like))) +
              " (a concurrent compact() GC'd absorbed partitions " +
              "mid-fold)", e)
      }
    val h2 = horizon(readAll(spark, path, like))
    require(h2 < beforeBatchId, unreconstructable(h2) +
      " (a compact() crossed the boundary while this fold was scanning)")
    folded
  }

  private def causedByMissingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])

  /** Compact the current base and every live partition with
    * batch_id <= upToBatchId into ONE new base — the q123
    * maintenance shape applied to the registry, bounding partition
    * count. Absorbed partitions are then deleted as garbage;
    * correctness never depends on the deletion (see the object doc).
    * `like` declares the cells' schema, as for `fold`. */
  def compact(spark: SparkSession, path: String, keys: Seq[String],
              valueCol: String, like: DataFrame, upToBatchId: Long): Unit = {
    // MAINTENANCE MUTEX (the GenIndex/EmbedDedup round-9 discipline
    // extended to the additive family): concurrent compacts are the
    // one writer pair the horizon algebra cannot absorb — two
    // compacts at the SAME upTo dynamic-overwrite one base partition
    // and can interleave files in it (double-counted cells); at
    // DIFFERENT upTo, the later one's fold scan can race the earlier
    // one's GC deletions and write an authoritative base missing the
    // absorbed counts. Appends stay lock-free by design (they land
    // above any horizon and never touch the base — the object doc's
    // concurrent-append guarantee is unchanged).
    val lockFs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.RegistryIO.withMaintenanceLock(lockFs,
      path + "_maint_lock", s"AdditiveRegistry($path).compact") {
    val all = readAll(spark, path, like)
    val h = horizon(all)
    require(upToBatchId > h,
      s"AdditiveRegistry.compact: upToBatchId=$upToBatchId must exceed " +
        s"the current horizon $h (older batches are already absorbed)")
    val base = valid(all, h).filter(col("batch_id") <= upToBatchId)
      .groupBy(keys.map(col): _*).agg(sum(valueCol).as(valueCol))
      .withColumn("batch_id", lit(baseId(upToBatchId)))
      // pin BEFORE writing into the tree the plan reads (the
      // ParquetState rule)
      .localCheckpoint(true)
    base.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)
    // GC: drop absorbed live partitions and superseded bases — pure
    // cleanup, readers already ignore them
    // resolve the filesystem FROM THE PATH (review): FileSystem.get
    // returns fs.defaultFS, which throws "Wrong FS" for a registry on
    // any other scheme (s3a://, file:/ under an hdfs default) — the
    // GC would then fail on every compact and the file count grows
    // unbounded. Same idiom as RegistryIO/GenIndex/Bucketing.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("batch_id=")) {
        val b = name.stripPrefix("batch_id=").toLong
        val absorbedLive = b >= 0 && b <= upToBatchId
        val oldBase = b <= -2 && b != baseId(upToBatchId)
        if (absorbedLive || oldBase) fs.delete(st.getPath, true)
      }
    }
    } // maintenance lock released
  }
}
