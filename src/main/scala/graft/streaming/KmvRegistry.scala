package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{BottomKDistinctAggregator, Text}
import graft.operators.RegistryIO

/** Streaming KMV registry: one bottom-k-distinct content sketch per
  * source, folded incrementally from document micro-batches — the
  * streaming face of q152's exact merge law. The registry answers
  * "how many distinct contents has source X ever shipped" (and holds
  * a deterministic uniform content sample) without rescanning
  * history.
  *
  * Exactly-once BY ALGEBRA, like SketchRegistry: set-union followed
  * by bottom-k is idempotent, commutative, and associative, so
  * foreachBatch's at-least-once replay of a batch is a fixpoint and
  * the registry converges to the single-pass sketch of the full
  * corpus (both asserted in KmvRegistrySpec).
  *
  * Scale: per-batch work is the q152 aggregate shape (map-side
  * partial aggregation, at most k values shuffle per source);
  * registry size is |sources| x k longs — broadcastable state,
  * parquet here, a keyed store on a cluster, the operator unchanged.
  */
object KmvRegistry {

  /** Per-source bottom-k sketch (sorted array<long>, length <= k) of
    * the batch's distinct content hashes. */
  def batchSketches(docs: DataFrame, sourceCol: String, textCol: String,
                    k: Int): DataFrame = {
    val kmv = udaf(new BottomKDistinctAggregator(k),
      org.apache.spark.sql.Encoders.scalaLong)
    docs.select(col(sourceCol).as("source"),
        Text.md5Long(col(textCol), 12).as("h"))
      .groupBy("source").agg(kmv(col("h")).as("sk"))
      .select(col("source"), col("sk.vals").as("sketch"))
  }

  /** foreachBatch body: union-then-rebottom the batch sketch into the
    * parquet registry. Guard: a stored sketch LARGER than k was
    * written at a different k — truncating it would silently move the
    * kth minimum and corrupt every later estimate, so fail loudly
    * (the SketchRegistry numPerm-guard rule). */
  def mergeIntoRegistry(path: String, sourceCol: String, textCol: String,
                        k: Int)(batch: DataFrame, batchId: Long): Unit = {
    // k is the sketch's semantic identity, pinned in a sidecar on
    // first use (review): the in-plan size guard below only catches a
    // SHRUNK k — a registry written at a smaller k passes size <= k
    // and merges silently, but its sources already discarded every
    // hash above their old kth minimum, so the refilled kth minimum
    // is biased and estimates permanently undercount. Raising OR
    // lowering k on a lived-in registry now fails loudly.
    val pp = new org.apache.hadoop.fs.Path(path + "_params")
    RegistryIO.pinParams(
      pp.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration),
      pp.toString, s"k=$k", "KmvRegistry")
    val sketches = batchSketches(batch, sourceCol, textCol, k)
    val empty = array().cast("array<bigint>")
    val merged = RegistryIO.readCommitted(batch.sparkSession, path, sketches.schema)
      .select(col("source"), col("sketch").as("old_sk"))
      .join(sketches.select(col("source"), col("sketch").as("new_sk")),
        Seq("source"), "full_outer")
      .select(col("source"),
        when(col("old_sk").isNull || size(col("old_sk")) <= k,
          slice(array_sort(array_distinct(concat(
            coalesce(col("old_sk"), empty), coalesce(col("new_sk"), empty)))),
            1, k))
          .otherwise(raise_error(concat(
            lit(s"KmvRegistry: stored sketch larger than k=$k for source "),
            col("source")))).as("sketch"))
    ParquetState.pinAndOverwrite(merged, path)
  }

  /** Distinct-count estimates straight off the registry (no corpus
    * scan): exact while the sketch is under-full, the KMV estimator
    * (k-1) / (kth_min / 2^48) once it fills. */
  def estimates(registry: DataFrame, k: Int): DataFrame =
    registry.select(col("source"),
      size(col("sketch")).cast("long").as("sketch_size"),
      when(size(col("sketch")) < k, size(col("sketch")).cast("double"))
        .otherwise(round(lit((k - 1) * 281474976710656.0)
          / element_at(col("sketch"), k), 6)).as("est_distinct"))
}
