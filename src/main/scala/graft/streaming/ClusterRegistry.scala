package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, RegistryIO}

/** Streaming cluster registry: a persistent (id, cluster) labeling
  * maintained across micro-batches of near-dup EDGES — the streaming
  * face of Dedup.connectedComponentsIncremental, and the last stage
  * of the continuous dedup loop (NearDupRegistry/WinnowRegistry
  * discover a batch's pairs batch-proportionally; this folds them
  * into the standing clusters without ever re-clustering history).
  *
  * Exactly-once BY ALGEBRA (the SketchRegistry/KmvRegistry route,
  * not the CmsRegistry layout route): folding an edge set into a
  * labeling is idempotent — re-applying the same edges finds every
  * endpoint already sharing a cluster, the contracted graph is empty,
  * and the labeling is a fixpoint. So foreachBatch's at-least-once
  * replay converges to the same registry as a single-pass clustering
  * of all edges ever seen (both asserted in ClusterRegistrySpec).
  *
  * Scale: per-batch cost is the incremental-CC shape — the iterative
  * fixpoint touches only the contracted rep graph (bounded by the
  * batch), the standing registry pays two rep-lookup joins and one
  * remap join, all equi-joins on id. Registry size is |ids| rows —
  * parquet here, a keyed store on a cluster, the operator unchanged.
  */
object ClusterRegistry {

  /** foreachBatch body: fold this batch's edges into the registry. */
  def mergeIntoRegistry(path: String, aCol: String = "id_a",
                        bCol: String = "id_b")(
      batch: DataFrame, batchId: Long): Unit = {
    val edges = batch.select(col(aCol), col(bCol))
    val updated = Dedup.connectedComponentsIncremental(
      clusters(batch.sparkSession, path), edges, aCol, bCol)
    ParquetState.pinAndOverwrite(updated, path)
  }

  /** The standing labeling — empty (typed) before the first batch;
    * the merge path folds each batch into it. */
  def clusters(spark: SparkSession, path: String): DataFrame =
    RegistryIO.readCommitted(spark, path,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, cluster BIGINT"))
      .select("id", "cluster")
}
