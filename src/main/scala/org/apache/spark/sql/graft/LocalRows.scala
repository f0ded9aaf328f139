package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Driver round trips in Catalyst's own value representation, for
  * operators that finish a small relation on the driver
  * (Dedup.connectedComponents below its edge cap).
  *
  * `collect` executes the plan's whole RDD, which is ONE job: a root
  * limit plans as CollectLimitExec, whose execute() gathers the
  * limited partitions into one inside that job. `Dataset.collect()`
  * of the same plan goes through executeTake instead, which scans
  * partitions in growing rounds, one job per round, so its job count
  * follows the data. Values stay Catalyst values (UTF8String, boxed
  * primitives): driver code can compare and hash them exactly as
  * Spark's operators do, and `relation` hands them back unconverted.
  * Lives under org.apache.spark.sql because Dataset.ofRows is
  * private[sql] (same pattern as CheckpointUtils).
  */
object LocalRows {
  def collect(ds: Dataset[_]): Array[InternalRow] =
    ds.queryExecution.toRdd.map(_.copy()).collect()

  /** A local relation over `rows`: planning it submits no job. */
  def relation(spark: SparkSession, schema: StructType,
               rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
