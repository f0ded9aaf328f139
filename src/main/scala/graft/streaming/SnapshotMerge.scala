package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.{Merge, RegistryIO}

/** Streaming table maintenance: apply each micro-batch of CDC changes
  * onto a parquet snapshot with the batch MERGE operator — the
  * foreachBatch pattern that turns a changelog stream into an
  * always-current table (the lakehouse "merge into" loop).
  *
  * Contract: at most ONE change row per key per batch — compose with
  * StreamOps.compactLatest (update mode) upstream, whose per-batch
  * emissions are exactly that. Replay-safe by algebra, not bookkeeping:
  * re-applying the same upsert/delete batch is a fixpoint (same values
  * win again, deleted keys stay absent), so foreachBatch's at-least-
  * once delivery still converges to the exactly-once state.
  *
  * Scale: the snapshot re-write is the simple-and-correct local form;
  * on a real cluster the same Merge.upsert output feeds a format with
  * transactional row-level replace instead of a full overwrite —
  * the operator (one full-outer join keyed on the merge key, delta
  * side broadcast when small) is unchanged.
  */
object SnapshotMerge {

  def mergeIntoSnapshot(path: String, keys: Seq[String],
                        opCol: String = "op", deleteOp: String = "D")
                       (batch: DataFrame, batchId: Long): Unit = {
    // first batch: no snapshot yet — empty target with the changes'
    // value schema
    val target = RegistryIO.readCommitted(batch.sparkSession, path,
      batch.drop(opCol).schema)
    ParquetState.pinAndOverwrite(
      Merge.upsert(target, batch, keys, opCol, deleteOp).drop("action"),
      path)
  }
}
