package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(dayMs: Long, h: Int): Timestamp = new Timestamp(dayMs + h * 3600L * 1000)
  private val day0 = 1700_000_000_000L / 86400000L * 86400000L

  test("windowedCounts finalizes a window after the watermark passes") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val counts = StreamOps.windowedCounts(
      in.toDF().toDF("ts", "kind"), "ts", "kind", "1 hour", "30 minutes")
    val q = counts.writeStream.format("memory")
      .queryName("wc_out").outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(day0, 1), "x"), (ts(day0, 1), "x"), (ts(day0, 1), "y"))
      q.processAllAvailable()
      // advance the watermark far past the first window's end
      in.addData((ts(day0, 5), "x"))
      q.processAllAvailable()
      val out = spark.table("wc_out")
        .select("kind", "n").as[(String, Long)].collect().toSet
      assert(out == Set(("x", 2L), ("y", 1L))) // hour-1 window finalized
    } finally q.stop()
  }

  test("intervalJoin matches right rows within [leftTs, leftTs + tolerance] per key") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(String, Timestamp, String)]
    val buys = MemoryStream[(String, Timestamp, Double)]
    val joined = StreamOps.intervalJoin(
      clicks.toDF().toDF("user", "cts", "click").withWatermark("cts", "1 hour"),
      buys.toDF().toDF("user", "bts", "amount").withWatermark("bts", "1 hour"),
      Seq("user"), "cts", "bts", "2 hours")
    val q = joined.writeStream.format("memory")
      .queryName("ij_out").outputMode(OutputMode.Append).start()
    try {
      clicks.addData(("u1", ts(day0, 1), "c1"), // buy at h2 within 2h -> match
        ("u1", ts(day0, 8), "c2"),              // no buy within [8, 10] -> dropped
        ("u2", ts(day0, 1), "c3"))              // other user's buy must NOT match
      buys.addData(("u1", ts(day0, 2), 5.0), ("u1", ts(day0, 12), 7.0))
      q.processAllAvailable()
      // referencing the key post-join must not be ambiguous (the
      // right-side copy is dropped by intervalJoin)
      val out = spark.table("ij_out")
        .select("user", "click", "amount").as[(String, String, Double)].collect().toSet
      assert(out == Set(("u1", "c1", 5.0)))
    } finally q.stop()
  }

  test("intervalJoinLeftOuter emits unmatched lefts only after the watermark closes their interval") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(String, Timestamp, String)]
    val buys = MemoryStream[(String, Timestamp, Double)]
    val joined = StreamOps.intervalJoinLeftOuter(
      clicks.toDF().toDF("user", "cts", "click").withWatermark("cts", "1 hour"),
      buys.toDF().toDF("user", "bts", "amount").withWatermark("bts", "1 hour"),
      Seq("user"), "cts", "bts", "2 hours")
    val q = joined.writeStream.format("memory")
      .queryName("ijo_out").outputMode(OutputMode.Append).start()
    try {
      clicks.addData(("u1", ts(day0, 1), "c1"), // buy at h2 -> matched
        ("u1", ts(day0, 5), "c2"))              // no buy in [5, 7]: never converts
      buys.addData(("u1", ts(day0, 2), 5.0))
      q.processAllAvailable()
      def rows = spark.table("ijo_out")
        .select("click", "amount").as[(String, Option[Double])].collect().toSet
      // the match emits promptly; the non-converter must NOT emit yet
      // (its interval [5, 7] is still open — a buy could arrive)
      assert(rows == Set(("c1", Some(5.0))))

      // push BOTH watermarks (the join watermark is their min) far
      // past c2's interval end -> the engine can prove no match
      clicks.addData(("u9", ts(day0, 12), "late"))
      buys.addData(("u9", ts(day0, 12), 1.0))
      q.processAllAvailable()
      assert(rows.contains(("c2", None)),
        s"unmatched left must emit with NULL right after the watermark, got $rows")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins the dim per micro-batch") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.broadcast
    val dim = Seq(("A", "Hawks"), ("B", "Lions")).toDF("team", "full_name")
    val in = MemoryStream[(String, Timestamp)]
    val enriched = in.toDF().toDF("team", "ts")
      .join(broadcast(dim), Seq("team"), "left")
    val q = enriched.writeStream.format("memory")
      .queryName("ss_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(("A", ts(day0, 1)), ("C", ts(day0, 2)))
      q.processAllAvailable()
      val out = spark.table("ss_out")
        .select("team", "full_name").as[(String, Option[String])].collect().toSet
      assert(out == Set(("A", Some("Hawks")), ("C", None)))
    } finally q.stop()
  }

  test("sessionize merges within the gap, splits across it, emits once closed") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val sessions = StreamOps.sessionize(
      in.toDF().toDF("user", "ts").withWatermark("ts", "0 seconds"),
      "user", "ts", "30 minutes")
    val q = sessions.writeStream.format("memory")
      .queryName("sz_out").outputMode(OutputMode.Append).start()
    try {
      // u1: events 10 min apart (one session) + one 4h later (second
      // session); u2: a single event
      in.addData(("u1", ts(day0, 1)),
        ("u1", new Timestamp(day0 + 3600_000 + 600_000)),
        ("u2", ts(day0, 1)), ("u1", ts(day0, 5)))
      q.processAllAvailable()
      // advance the watermark far past every session end + gap
      in.addData(("u3", ts(day0, 12)))
      q.processAllAvailable()
      in.addData(("u3", ts(day0, 13)))
      q.processAllAvailable()
      val out = spark.table("sz_out")
        .select("user", "n_events").as[(String, Long)].collect()
        .filter(r => r._1 == "u1" || r._1 == "u2")
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(out == Map("u1" -> Seq(1L, 2L), "u2" -> Seq(1L)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops repeated business keys") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val deduped = StreamOps.dedupWithinWatermark(
      in.toDF().toDF("ts", "event_id"), "ts", Seq("event_id"), "1 hour")
    val q = deduped.writeStream.format("memory")
      .queryName("dd_out").outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(day0, 1), 7L), (ts(day0, 1), 7L), (ts(day0, 2), 8L))
      q.processAllAvailable()
      in.addData((ts(day0, 2), 7L)) // dup again within watermark
      q.processAllAvailable()
      val out = spark.table("dd_out").select("event_id").as[Long].collect().toSeq
      assert(out.sorted == Seq(7L, 8L))
    } finally q.stop()
  }
}
