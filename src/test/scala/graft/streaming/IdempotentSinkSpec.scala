package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** foreachBatch replay safety: re-delivering a batchId must not
  * duplicate rows (dynamic partition overwrite lands on the same
  * partition), while new batchIds append alongside old ones. */
class IdempotentSinkSpec extends SparkSpec {
  import spark.implicits._

  test("replaying a batch overwrites its own partition; new batches append") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink_").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v").writeStream
      .foreachBatch(IdempotentSink.parquetByBatch(dir) _)
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      val afterTwo = spark.read.parquet(dir)
      assert(afterTwo.count() == 3)

      // simulate the at-least-once replay of batch 0: same data, same
      // batchId, delivered again after a "failure"
      IdempotentSink.parquetByBatch(dir)(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
      val afterReplay = spark.read.parquet(dir)
      assert(afterReplay.count() == 3, "replay must not duplicate rows")
      assert(afterReplay.select("batch_id").distinct().count() == 2)
    } finally q.stop()
  }

  test("a frame carrying its own batch_id column (any case) is refused; nothing is written") {
    val out = Files.createTempDirectory("graft_sink_").toString + "/out"
    val e = intercept[IllegalArgumentException] {
      IdempotentSink.parquetByBatch(out)(
        Seq((1L, "a", 9L)).toDF("id", "v", "Batch_ID"), 0L)
    }
    assert(e.getMessage.contains("batch_id"), e.getMessage)
    // no data file anywhere under `out` (absent or empty both count)
    def files(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles).toSeq.flatten.flatMap(c => if (c.isDirectory) files(c) else Seq(c))
    assert(files(new java.io.File(out)).isEmpty)
  }
}
