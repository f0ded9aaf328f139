package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.Arbitrage

/** The reference's "re-run the whole batch pipeline every poll"
  * cadence (SURVEY.md §2.11) as writeStream.foreachBatch: each
  * micro-batch of raw grid rows flows through the same batch plan,
  * so batch and streaming share one implementation. */
class MicroBatchPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch re-runs the arbitrage plan per micro-batch") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Int, String, String, String, String, String, String)]
    val named = in.toDF().toDF("idx", "Sport", "Team", "BetType", "Info",
      "DraftKings", "Caesars")

    val alerts = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = named.writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Arbitrage.detect(batch, Seq("DraftKings", "Caesars"), 3)
          .select("Team").collect()
          .foreach(r => alerts.synchronized { alerts += ((id, r.getString(0))) })
      }
      .start()
    try {
      // batch 1: the planted arb
      in.addData((1, "NFL", "Chiefs", "ML", "Payout", "+225", "-500"),
        (2, "NFL", "Bills", "ML", "Payout", "-600", "-180"))
      q.processAllAvailable()
      // batch 2: nothing alert-worthy
      in.addData((3, "NFL", "Jets", "ML", "Payout", "-110", "-115"),
        (4, "NFL", "Dolphins", "ML", "Payout", "-110", "-112"))
      q.processAllAvailable()
      val teams = alerts.synchronized { alerts.map(_._2).toSet }
      assert(teams == Set("Chiefs", "Bills"))
    } finally q.stop()
  }

  test("the WHOLE Engine per poll: rate-limit state persists across polls") {
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Int, String, String, String, String, String)]
    val named = in.toDF().toDF("idx", "Sport", "Team",
      "DraftKings", "Caesars", "Bet365")
    val teams = Seq(("Chiefs", "NFL", "KC"), ("Bills", "NFL", "BUF"))
      .toDF("Team", "Sport", "Abbreviation")
    val log = new graft.sinks.NotificationLog(
      java.nio.file.Files.createTempDirectory("mblog").toString + "/log")
    val sink = new graft.sinks.CollectingAlertSink
    val t0 = to_timestamp(lit("2026-03-01 12:00:00"))

    val delivered = scala.collection.mutable.ArrayBuffer[Int]()
    val q = named.writeStream
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val r = graft.pipeline.Engine.run(batch,
          Seq("DraftKings", "Caesars", "Bet365"), "Bet365", teams,
          None, Map.empty, log, sink, None,
          maxAlertsPerTeamDay = 1, now = t0)
        delivered.synchronized { delivered += r.delivered }
        ()
      }
      .start()
    try {
      val arb = Seq(
        (1, "NFL", "Chiefs", "+225", "-500", "+215"),
        (2, "NFL", "Bills", "-600", "-180", "-580"))
      in.addData(arb.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)): _*)
      q.processAllAvailable()
      in.addData(arb.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)): _*)
      q.processAllAvailable()
      // poll 1 delivers both legs; poll 2 is silenced by the log quota
      assert(delivered.synchronized(delivered.toList) == List(2, 0))
      assert(sink.sent.size == 2)
    } finally q.stop()
  }
}
