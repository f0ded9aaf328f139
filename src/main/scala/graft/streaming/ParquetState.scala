package graft.streaming

import org.apache.spark.sql.DataFrame

/** Shared scaffold for foreachBatch sinks that maintain a parquet
  * state table (SnapshotMerge's row snapshot, the Sketch/Kmv/Cluster
  * registries): they read it through graft.operators.RegistryIO's
  * committed-state read and write it back through the
  * pin-before-overwrite rule below, in ONE place. */
private[streaming] object ParquetState {

  /** Pin PRE-write state, then overwrite: a plan that reads the path
    * it is about to replace must materialize first (the README
    * plan-notes rule — a cache would be re-invalidated by the write
    * and silently re-derive from the new files). */
  def pinAndOverwrite(df: DataFrame, path: String): Unit =
    df.localCheckpoint(true).write.mode("overwrite").parquet(path)
}
