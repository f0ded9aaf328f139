package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.RegistryIO

/** Streaming MinHash registry: one signature per source, folded
  * incrementally from document micro-batches — the streaming face of
  * q129's sketch-merge law. The registry answers "how similar is
  * source X's corpus to source Y's" (signature agreement estimates
  * Jaccard) without ever rescanning history.
  *
  * Exactly-once BY ALGEBRA, like SnapshotMerge: elementwise min is
  * idempotent, commutative, and associative, so foreachBatch's
  * at-least-once replay of a batch is a fixpoint — the registry
  * converges to the same state as one pass over the full corpus
  * (asserted against the batch operator in SketchRegistrySpec).
  *
  * Scale: per-batch work is the q32 aggregate shape (explode +
  * codegen'd min aggregates, map-side partial agg); registry size is
  * |sources| x numPerm longs — broadcastable state, parquet here,
  * a keyed store on a cluster, the operator unchanged.
  */
object SketchRegistry {

  /** Per-source MinHash signature (array<long>, length numPerm) of a
    * (sourceCol, textCol) document batch. */
  def batchSignatures(docs: DataFrame, sourceCol: String, textCol: String,
                      n: Int, numPerm: Int): DataFrame = {
    val hashed = docs
      .select(col(sourceCol).as("source"), Text.tokens(col(textCol)).as("toks"))
      .select(col("source"), explode(Text.shingles(col("toks"), n)).as("s"))
      .select(col("source"),
        pmod(Text.md5Long(col("s"), 12), lit(Text.MinhashP)).as("h"))
    val aggs = Text.minhashAggs(col("h"), numPerm)
    hashed.groupBy("source").agg(aggs.head, aggs.tail: _*)
      .select(col("source"),
        array((1 to numPerm).map(j => col(s"mh_$j")): _*).as("sig"))
  }

  /** foreachBatch body: fold the batch's per-source signatures into
    * the parquet registry by elementwise min. A source seen for the
    * first time inserts its batch signature as-is. The MinHash family
    * is pinned in a `<path>_sig_mode` sidecar, as NearDupRegistry
    * pins its mode. */
  def mergeIntoRegistry(path: String, sourceCol: String, textCol: String,
                        n: Int, numPerm: Int)
                       (batch: DataFrame, batchId: Long): Unit = {
    // Guard: state written under the retired MinHash family (no
    // sidecar, or a sidecar naming it) must be rejected, not merged —
    // the elementwise min of two families' signatures estimates
    // nothing, and nothing in the data tells them apart.
    val family = RegistryIO.pinnedScheme(batch.sparkSession, path,
      path + "_sig_mode", Text.MinhashFamily, legacy = Text.RetiredMinhashFamily)
    require(family == Text.MinhashFamily,
      s"SketchRegistry at $path holds signatures of MinHash family " +
        s"'$family', not '${Text.MinhashFamily}'; merging would mix " +
        "permutation families — rebuild the registry at a new path")
    val sigs = batchSignatures(batch, sourceCol, textCol, n, numPerm)
    // Guard: a registry written with a DIFFERENT numPerm must be
    // rejected, not silently merged — zip_with pads the shorter array
    // with nulls and least() would ignore them, yielding a
    // mixed-permutation signature that estimates nothing.
    val lenOk = (col("old_sig").isNull || size(col("old_sig")) === numPerm) &&
      (col("new_sig").isNull || size(col("new_sig")) === numPerm)
    val merged = RegistryIO.readCommitted(batch.sparkSession, path, sigs.schema)
      .select(col("source"), col("sig").as("old_sig"))
      .join(sigs.select(col("source"), col("sig").as("new_sig")),
        Seq("source"), "full_outer")
      .select(col("source"),
        when(lenOk,
          coalesce(zip_with(col("old_sig"), col("new_sig"), (a, b) => least(a, b)),
            col("old_sig"), col("new_sig")))
          .otherwise(raise_error(concat(
            lit(s"SketchRegistry: signature length != numPerm=$numPerm for source "),
            col("source")))).as("sig"))
    ParquetState.pinAndOverwrite(merged, path)
  }
}
