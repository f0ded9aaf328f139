package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming whole-document sequence packing: the harmonic class
  * packing of operators.Packing run INCREMENTALLY over micro-batches
  * — the training-data ingestion shape where documents arrive
  * continuously and packs (training sequences) must fill across
  * batch boundaries instead of leaving every batch's last pack
  * half-empty.
  *
  * Harmonic classes make the state trivial: the ONLY cross-batch
  * state the assignment needs is the RUNNING DOC COUNT per
  * (lang, fclass) — doc g (0-based, class-global) always lands in
  * pack g div f, so continuing a stream is continuing a counter.
  * Those counters are additive cells, so the state store IS an
  * AdditiveRegistry: batch count-deltas land in their own batch_id
  * partition (IdempotentSink), the fold is exactly-once under
  * at-least-once replay, and compaction bounds file count.
  *
  * Replay correctness is the one subtlety: a replayed batch must
  * recompute its assignment from the same counter prefix it
  * originally saw, so the offset read is AdditiveRegistry.foldBefore
  * (strictly earlier batches only) — a crash between the two writes
  * (assignments, deltas) replays to byte-identical partitions in
  * either order. Compaction must trail the stream's replay horizon
  * (foldBefore fails loudly if it has not — named, not silent).
  *
  * Pack feasibility is batch-independent: class-f docs have
  * n <= L/f, a pack holds exactly f of them regardless of which
  * batches contributed — so a pack shared by three micro-batches is
  * exactly as budget-feasible as a batch-mode pack, and the whole
  * stream's assignment equals operators.Packing.harmonicPack over
  * the concatenated corpus whenever arrival order matches id order
  * (spec-pinned).
  */
object PackRegistry {

  private val Keys = Seq("lang", "fclass")

  /** Pack one micro-batch: assign docs to packs continuing the
    * registry's per-(lang, class) counters, write assignments to
    * `assignOut/batch_id=<id>/` and counter deltas to
    * `registryPath/batch_id=<id>/` (both IdempotentSink partitions —
    * replay overwrites byte-identically). Batch must carry
    * (idCol, lang, nCol); rows with n <= 0 are dropped. */
  def packBatch(spark: SparkSession, registryPath: String,
                assignOut: String, idCol: String, nCol: String,
                budget: Int)(batch: DataFrame, batchId: Long): Unit = {
    require(budget > 0, "PackRegistry.packBatch: budget must be positive")
    val classed = batch.filter(col(nCol) > 0)
      .withColumn("fclass", expr(s"CAST($budget AS BIGINT) div $nCol"))
    val likeCells = classed
      .groupBy(Keys.map(col): _*).agg(count(lit(1)).as("n_assigned"))
    val offsets = AdditiveRegistry.foldBefore(spark, registryPath, Keys,
      "n_assigned", likeCells, batchId)
      .withColumnRenamed("n_assigned", "n_before")
    val w = Window.partitionBy(Keys.map(col): _*).orderBy(col(idCol).asc)
    val assigned = classed
      .join(offsets, Keys, "left")
      .withColumn("n_before", coalesce(col("n_before"), lit(0L)))
      .withColumn("rb", row_number().over(w).cast("long"))
      .withColumn("g", col("n_before") + col("rb") - 1L)
      .withColumn("perpack", greatest(col("fclass"), lit(1L)))
      .withColumn("bin", expr("g div perpack"))
      .withColumn("pack_key",
        concat_ws("-", graft.operators.Packing.keySeg(col("lang")),
          col("fclass"), col("bin")))
      .withColumn("is_overflow", col(nCol) > budget)
      .drop("n_before", "rb", "g", "perpack", "bin")
    // pin the assignment BEFORE the first write: both sinks must see
    // the SAME offsets snapshot even if the registry tree changes
    // between the two writes (the ParquetState rule)
    val pinned = assigned.localCheckpoint(true)
    IdempotentSink.parquetByBatch(assignOut)(pinned, batchId)
    IdempotentSink.parquetByBatch(registryPath)(
      pinned.groupBy(Keys.map(col): _*).agg(count(lit(1)).as("n_assigned")),
      batchId)
  }

  /** All assignments written so far (every batch partition). */
  def assignments(spark: SparkSession, assignOut: String): DataFrame =
    spark.read.parquet(assignOut)

  /** Bound the registry's file count (see AdditiveRegistry.compact's
    * horizon algebra). Only safe behind the stream's replay horizon —
    * foldBefore enforces this loudly on any later replay. */
  def compact(spark: SparkSession, registryPath: String,
              upToBatchId: Long): Unit =
    AdditiveRegistry.compact(spark, registryPath, Keys, "n_assigned",
      spark.range(0).select(lit("").as("lang"), col("id").as("fclass"),
        col("id").as("n_assigned")), upToBatchId)
}
