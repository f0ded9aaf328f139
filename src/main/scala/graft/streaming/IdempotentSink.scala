package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once parquet delivery under foreachBatch's AT-LEAST-once
  * replay contract: after a failure between "sink write" and "offset
  * commit", Structured Streaming re-runs the SAME batchId with the
  * SAME data — so a sink that appends blindly double-writes. Keying
  * the physical layout on batch_id and overwriting ONLY the touched
  * partition (dynamic partition overwrite) makes the replay land on
  * its own partition, byte-identical: write is idempotent, delivery
  * is effectively exactly-once. Same pattern at 100 TB — the partition
  * column also gives readers batch-aligned incremental consumption.
  */
object IdempotentSink {

  /** foreachBatch handler: (batch, batchId) => write to
    * `out/batch_id=<id>/`, replacing that partition if it exists.
    * `batch_id` is reserved: a data column of that name would be
    * silently overwritten in the sink while the caller's rows keep
    * the original values, so such a batch is refused before any
    * write. Case-insensitive, because withColumn resolves names that
    * way and would clobber "Batch_ID" just the same. */
  def parquetByBatch(out: String)(batch: DataFrame, batchId: Long): Unit = {
    require(!batch.columns.exists(_.equalsIgnoreCase("batch_id")),
      "IdempotentSink.parquetByBatch: batch must not contain a batch_id " +
        "column (the sink keys its partitions on it)")
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      // scoped to this write: only partitions present in the incoming
      // frame are replaced; earlier batches' partitions are untouched
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(out)
  }
}
