package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.RegistryIO
import java.nio.file.Files

/** The streaming sketch registry must converge to exactly the
  * signature a single batch pass over the full corpus computes
  * (q129's merge law), and replaying a batch must be a no-op
  * (elementwise min is idempotent — exactly-once by algebra). */
class SketchRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val NumPerm = 8

  private val b1 = Seq(
    ("web", "the quick brown fox jumps over the lazy dog"),
    ("web", "pack my box with five dozen liquor jugs"),
    ("books", "it was the best of times it was the worst of times"))
  private val b2 = Seq(
    ("web", "how vexingly quick daft zebras jump over fences"),
    ("news", "the five boxing wizards jump quickly at dawn"))

  test("incremental merge equals one pass over the full corpus; replay is a fixpoint") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sketch_").toString
    val reg = s"$dir/registry"
    val in = MemoryStream[(String, String)]
    val q = in.toDF().toDF("source", "text").writeStream
      .foreachBatch(
        SketchRegistry.mergeIntoRegistry(reg, "source", "text", 3, NumPerm) _)
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()

      val streamed = spark.read.parquet(reg)
        .select(col("source"), col("sig"))
        .as[(String, Seq[Long])].collect().toMap
      val oneShot = SketchRegistry.batchSignatures(
          (b1 ++ b2).toDF("source", "text"), "source", "text", 3, NumPerm)
        .as[(String, Seq[Long])].collect().toMap
      assert(streamed == oneShot,
        "incremental registry must equal the single-pass signatures")

      // at-least-once replay of batch 2: registry must not change
      SketchRegistry.mergeIntoRegistry(reg, "source", "text", 3, NumPerm)(
        b2.toDF("source", "text"), 1L)
      val replayed = spark.read.parquet(reg)
        .select(col("source"), col("sig"))
        .as[(String, Seq[Long])].collect().toMap
      assert(replayed == streamed, "replaying a batch must be a fixpoint")
    } finally q.stop()
  }

  test("state of the retired MinHash family is refused, never merged") {
    val reg = Files.createTempDirectory("graft_sketch_").toString + "/registry"
    def merge(): Unit = SketchRegistry.mergeIntoRegistry(reg, "source", "text", 3, NumPerm)(
      b1.toDF("source", "text"), 0L)
    merge()
    val sidecar = reg + "_sig_mode"
    val fs = new org.apache.hadoop.fs.Path(sidecar)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(RegistryIO.readLines(fs, sidecar).contains(Seq(graft.functions.Text.MinhashFamily)))
    merge() // the pinned family merges on
    def refused(): Unit = {
      val e = intercept[IllegalArgumentException](merge())
      assert(e.getMessage.contains("MinHash family"), e.getMessage)
    }
    // committed state with no sidecar predates the pin: retired family
    fs.delete(new org.apache.hadoop.fs.Path(sidecar), false)
    refused()
    RegistryIO.atomicWriteLines(fs, sidecar, Seq("minhash"))
    refused()
  }
}
