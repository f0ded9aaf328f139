package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Streaming count-min registry: the frequency counterpart of
  * KmvRegistry, folding q161's relational CMS cells across document
  * micro-batches so "how often has this term appeared EVER" is
  * answerable without rescanning history.
  *
  * The fold is cell-wise ADDITION — replay safety and compaction are
  * the AdditiveRegistry discipline (batch_id partition layout +
  * horizon-encoding base partitions); this object contributes only
  * the CMS shape: what a batch's cells ARE and how probes read the
  * folded sketch.
  *
  * Scale: a batch ships at most d*w cells (the partial-agg bound);
  * the registry grows one d*w-cell partition per batch and compacts
  * by re-summing — the same maintenance shape as q123's compaction
  * plan. Estimates never touch the corpus: probe terms broadcast-join
  * the folded d*w-cell table.
  */
object CmsRegistry {

  private val Keys = Seq("i", "bucket")

  /** One batch's cell deltas: (i, bucket, cell) summed over the
    * batch's term occurrences — d*w rows max, map-side combined. */
  def batchCells(docs: DataFrame, textCol: String, d: Int, w: Int): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .select(col("term"), col("cnt"),
        explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("bucket", Text.cmsBucket(col("i"), col("term"), w))
      .groupBy("i", "bucket").agg(sum("cnt").as("cell"))

  /** (d, w) is the sketch's semantic identity: cells hashed under
    * one (d, w) are meaningless under another, and a mismatched
    * probe/append silently UNDER-estimates (probe buckets mostly miss
    * -> coalesce 0 -> min 0) — violating the >= contract with no
    * error. First appendBatch pins the pair in a sidecar; later
    * appends and the verifying `sketch` overload fail loudly on
    * drift (review; the KmvRegistry/SketchRegistry fail-loudly rule). */
  private def pin(spark: SparkSession, path: String, d: Int, w: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path + "_params")
    graft.operators.RegistryIO.pinParams(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p.toString, s"d=$d,w=$w", "CmsRegistry")
  }

  /** foreachBatch handler: write this batch's deltas under
    * batch_id=<id>, replacing that partition on replay. Pins (d, w)
    * on first use; a later append under different parameters fails
    * loudly instead of mixing incompatible cells. */
  def appendBatch(path: String, textCol: String, d: Int, w: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    pin(batch.sparkSession, path, d, w)
    IdempotentSink.parquetByBatch(path)(
      batchCells(batch, textCol, d, w), batchId)
  }

  /** The folded sketch: cell-wise sum of the newest base plus every
    * live partition above its horizon (the CMS merge law, same as
    * q161's merge_law_ok). Empty (typed) before the first committed
    * batch — the shared committed-state read. */
  def sketch(spark: SparkSession, path: String): DataFrame =
    AdditiveRegistry.fold(spark, path, Keys, "cell", cells(spark))

  /** The cells' schema, as an empty frame. */
  private def cells(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").cast("int").as("i"),
      col("id").as("bucket"), col("id").as("cell"))

  /** The verified fold: checks the caller's (d, w) against the
    * registry's pinned identity before folding, so a probe written
    * for the wrong geometry cannot silently under-estimate. */
  def sketch(spark: SparkSession, path: String, d: Int, w: Int): DataFrame = {
    pin(spark, path, d, w)
    sketch(spark, path)
  }

  /** Compact batches <= upToBatchId into one base partition
    * (AdditiveRegistry.compact with the CMS cell keys). */
  def compact(spark: SparkSession, path: String, upToBatchId: Long): Unit =
    AdditiveRegistry.compact(spark, path, Keys, "cell", cells(spark), upToBatchId)

  /** Point estimates for probe terms against a folded sketch:
    * min over hash rows of the probed cell; a never-touched cell is
    * an exact zero. Estimates >= true count, deterministically. */
  def estimate(terms: DataFrame, termCol: String, sk: DataFrame,
               d: Int, w: Int): DataFrame =
    terms.select(col(termCol).as("term"))
      .select(col("term"), explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("bucket", Text.cmsBucket(col("i"), col("term"), w))
      .join(sk, Seq("i", "bucket"), "left")
      .groupBy("term").agg(min(coalesce(col("cell"), lit(0L))).as("est"))
}
