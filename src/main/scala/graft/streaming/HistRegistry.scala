package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Hist

/** Streaming histogram registry: the quantile counterpart of
  * CmsRegistry, folding q181's mergeable integer histograms across
  * event micro-batches so "where is p95 over EVERYTHING we have ever
  * ingested" is answerable without rescanning history — continuous
  * quantile monitoring as a registry read.
  *
  * The fold is bucket-wise ADDITION (AdditiveRegistry: batch_id
  * partition layout for replay safety, horizon-encoding bases for
  * compaction). The sketch is deterministic — unlike KLL/t-digest
  * there is no randomized compaction, so the folded registry equals
  * the single-pass histogram of the full history EXACTLY, and the
  * q181 guarantee carries over: any rank statistic is located to
  * within one 500-micro bucket.
  *
  * Scale: a batch ships O(range/width) cells no matter how many rows
  * it scanned (map-side combined); the registry grows one bounded
  * partition per batch and compacts by re-summing; the quantile read
  * is a cumsum window over the bucket-bounded folded table.
  */
object HistRegistry {

  /** One batch's histogram deltas: (bucket, n) over the batch's
    * values — micro/bucket are the shared Hist definitions, so the
    * streaming cells land in exactly q181's cells. */
  def batchHist(events: DataFrame, valueCol: String): DataFrame =
    events.select(col(valueCol).as("value"))
      // NULL values never enter the registry (review): they would
      // persist as a bucket=null cell forever, and quantileEstimates'
      // cumsum window orders nulls FIRST — every quantile would shift
      // down as if null were smaller than every real value, silently
      .filter(col("value").isNotNull)
      .select(expr(Hist.MicroSql).as("micro"))
      .select(expr(Hist.BucketSql).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  /** The bucket geometry is the registry's semantic identity (VERDICT
    * r8 #4 — the CmsRegistry (d,w) / KmvRegistry k discipline): cells
    * bucketed under one width are meaningless under another, and a
    * BUILD whose `Hist.BucketMicro` constant changed would fold new
    * 250-micro cells into old 500-micro cells silently — every
    * quantile read then answers over a mixed-geometry histogram with
    * no error. First use pins the width (and the micro scale, same
    * argument) in a sidecar; every later open verifies it. */
  private def pin(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path + "_params")
    graft.operators.RegistryIO.pinParams(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p.toString, s"bucket_micro=${Hist.BucketMicro},micro=${Hist.MicroSql}",
      "HistRegistry")
  }

  /** foreachBatch handler: write this batch's deltas under
    * batch_id=<id>, replacing that partition on replay. Pins the
    * bucket geometry on first use; an append from a build with a
    * changed `Hist.BucketMicro` fails loudly instead of mixing
    * incompatible buckets. */
  def appendBatch(path: String, valueCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    pin(batch.sparkSession, path)
    IdempotentSink.parquetByBatch(path)(batchHist(batch, valueCol), batchId)
  }

  /** The folded histogram of everything ever ingested (empty, typed,
    * before the first committed batch). Verifies the pinned bucket
    * geometry — a read under a drifted width would mis-scale every
    * `bucket * BucketMicro` boundary it reports. */
  def histogram(spark: SparkSession, path: String): DataFrame = {
    pin(spark, path)
    AdditiveRegistry.fold(spark, path, Seq("bucket"), "n", cells(spark))
  }

  /** The buckets' schema, as an empty frame. */
  private def cells(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("bucket"), col("id").as("n"))

  /** Compact batches <= upToBatchId into one base partition
    * (geometry-verified like the fold). */
  def compact(spark: SparkSession, path: String, upToBatchId: Long): Unit = {
    pin(spark, path)
    AdditiveRegistry.compact(spark, path, Seq("bucket"), "n", cells(spark), upToBatchId)
  }

  /** Quantile estimates off a folded histogram: for each percentile,
    * the first bucket whose cumulative count reaches the ceil-rank
    * target — the exact rank statistic is GUARANTEED inside
    * [bucket_lo, bucket_lo + 500) micro (q181's contained/mid_err_ok
    * columns, proven there against exact ranks). The cumsum window
    * rides the bucket-bounded folded table, never the event stream. */
  def quantileEstimates(hist: DataFrame, pcts: Seq[Int]): DataFrame = {
    val cumW = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum("n").as("n_total"))
    hist.withColumn("cum", sum(col("n")).over(cumW))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("cum"), col("n_total"),
        explode(array(pcts.map(lit(_)): _*)).as("pct"))
      .withColumn("target", expr("(n_total * pct + 99) div 100"))
      .filter(col("cum") >= col("target"))
      .groupBy("pct", "target")
      .agg(min(col("bucket") * Hist.BucketMicro).as("bucket_lo"))
  }
}
