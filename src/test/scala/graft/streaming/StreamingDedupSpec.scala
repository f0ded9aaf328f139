package graft.streaming

import graft.SparkSpec
import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Streaming ingestion dedup by CONTENT fingerprint: documents stream
  * in, each gets a fingerprint from the Text primitives, and
  * re-submissions within the watermark are dropped by Spark's
  * dropDuplicatesWithinWatermark. Then the alerting tail as a stream:
  * each micro-batch of alerts goes through the notification log's
  * rate limit and then to the sink, inside writeStream.foreachBatch. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000000L / 86400000L * 86400000L
  private def ts(m: Int) = new Timestamp(base + m * 60000L)

  test("content-fingerprint dedup across micro-batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text")
    val deduped = docs
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("hashes", transform(col("toks"), t => Text.md5Long(t, 4)))
      .withColumn("fp", Text.simhashFromHashes(col("hashes"), 16))
      .drop("toks", "hashes")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")

    val q = deduped.writeStream.format("memory")
      .queryName("sd_out").outputMode("append").start()
    try {
      val text = "spark query engine with vectorized parquet readers"
      in.addData((ts(0), 1L, text), (ts(1), 2L, "totally different content here"))
      q.processAllAvailable()
      in.addData((ts(2), 3L, text)) // exact re-submission -> dropped
      q.processAllAvailable()
      val kept = spark.table("sd_out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L))
    } finally q.stop()
  }

  test("nearDupWithinWatermark drops token-reordered copies, keeps distinct docs") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text")
    // order-invariant token-multiset fingerprint: md5 of the sorted
    // Text.tokens array (lower() first: tokens match [a-z0-9]+ runs)
    val deduped = docs
      .withColumn("_nd_fp",
        md5(concat_ws(" ", sort_array(Text.tokens(lower(col("text")))))))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("_nd_fp")
      .drop("_nd_fp")
    val q = deduped.writeStream.format("memory").queryName("nd_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), 1L, "the quick brown fox jumps over the lazy dog"),
        (ts(1), 2L, "completely different content with other words"))
      q.processAllAvailable()
      // token-REORDERED copy: different text, same order-invariant
      // fingerprint -> dropped (exact content dedup would keep it)
      in.addData((ts(2), 3L, "lazy dog the quick brown fox jumps over the"))
      q.processAllAvailable()
      val kept = spark.table("nd_out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L))
    } finally q.stop()
  }

  test("the full E3 loop per micro-batch: pipeline -> log rate limit -> sink") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("slog").toString + "/log"
    val log = new graft.sinks.NotificationLog(dir)
    val sink = new graft.sinks.CollectingAlertSink

    val in = MemoryStream[(String, Timestamp, String)]
    val alerts = in.toDF().toDF("team", "ts", "message")
    val q = alerts.writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.Alerting.deliver(
          log.rateLimitAndAppend(batch, maxPerDay = 2), "message", sink)
        ()
      }
      .start()
    try {
      in.addData(("A", ts(0), "m1"), ("A", ts(1), "m2"))
      q.processAllAvailable()
      in.addData(("A", ts(2), "m3"), ("B", ts(2), "b1")) // A over quota
      q.processAllAvailable()
      assert(sink.sent.toSet == Set("m1", "m2", "b1"))
      assert(log.read(spark).count() == 3)
    } finally q.stop()
  }
}
