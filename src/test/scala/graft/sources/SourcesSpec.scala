package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TextBlobSpec extends SparkSpec {
  import spark.implicits._

  test("sections: date-marker split with pre-marker junk dropped") {
    val blob = "HEADER JUNK 9/14/25 Chiefs vs Bills odds here 9/15/25 Jets vs Dolphins lines"
    val out = TextBlob.sections(Seq((1, blob)).toDF("blob_id", "t"), "t")
      .select("blob_id", "section_no", "marker", "content")
      .as[(Int, Int, String, String)].collect().toSeq
    assert(out == Seq(
      (1, 1, "9/14/25", "Chiefs vs Bills odds here"),
      (1, 2, "9/15/25", "Jets vs Dolphins lines")))
  }

  test("sections: misaligned blob (no markers) yields zero rows, not garbage") {
    val out = TextBlob.sections(Seq((1, "no dates at all")).toDF("blob_id", "t"), "t")
    assert(out.count() == 0)
  }
}

class TeamDimsSpec extends SparkSpec {
  import spark.implicits._

  test("CSV load with explicit schema + single broadcast enrich join") {
    val dir = Files.createTempDirectory("teams").toFile.getAbsolutePath
    Files.writeString(java.nio.file.Paths.get(s"$dir/nfl.csv"),
      "Team,Sport,Abbreviation\nChiefs,NFL,KC\nBills,NFL,BUF\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/nba.csv"),
      "Team,Sport,Abbreviation\nLakers,NBA,LAL\n")
    val teams = TeamDims.load(spark, Seq(s"$dir/nfl.csv", s"$dir/nba.csv"))
    assert(teams.count() == 3)
    val odds = Seq(("Chiefs", "NFL", "+225"), ("Pelicans", "NBA", "-110"))
      .toDF("Team", "Sport", "quote")
    val enriched = TeamDims.enrich(odds, teams)
      .select("Team", "Abbreviation").as[(String, String)].collect().toMap
    assert(enriched == Map("Chiefs" -> "KC", "Pelicans" -> null))
  }
}

class NotificationLogSpec extends SparkSpec {
  import spark.implicits._

  // aligned to a UTC day start so all hours land on the same day
  private val dayBase = 1700000000000L / 86400000L * 86400000L
  private def ts(h: Int) = new java.sql.Timestamp(dayBase + h * 3600L * 1000)

  test("feedback loop: read-back caps alerts across runs") {
    val dir = Files.createTempDirectory("nlog").toFile.getAbsolutePath + "/log"
    val log = new graft.sinks.NotificationLog(dir)
    // run 1: two alerts for A -> both pass (cap 3)
    val r1 = log.rateLimitAndAppend(
      Seq(("A", ts(1), "m1"), ("A", ts(2), "m2")).toDF("team", "ts", "message"),
      maxPerDay = 3)
    assert(r1.count() == 2)
    // run 2: three more for A the same day -> only 1 passes; B passes
    val r2 = log.rateLimitAndAppend(
      Seq(("A", ts(3), "m3"), ("A", ts(4), "m4"), ("A", ts(5), "m5"),
        ("B", ts(3), "b1")).toDF("team", "ts", "message"),
      maxPerDay = 3)
    val out = r2.select("team", "message").as[(String, String)].collect().toSet
    assert(out == Set(("A", "m3"), ("B", "b1")))
    // durable state: the log now holds 4 rows
    assert(log.read(spark).count() == 4)
  }

  test("a file written before updated_at existed reads back null and still counts") {
    val dir = Files.createTempDirectory("nlog").toFile.getAbsolutePath + "/log"
    // the older, narrower log layout: no updated_at column
    Seq(("A", ts(1), "old1"), ("A", ts(2), "old2")).toDF("team", "sent_at", "message")
      .write.parquet(dir)
    val log = new graft.sinks.NotificationLog(dir)
    val old = log.read(spark)
    assert(old.columns.toSeq == Seq("team", "sent_at", "message", "updated_at"))
    assert(old.filter($"updated_at".isNull).count() == 2)
    // two of A's three per day are already spent in the old file
    val out = log.rateLimitAndAppend(
      Seq(("A", ts(3), "m3"), ("A", ts(4), "m4"), ("B", ts(3), "b1"))
        .toDF("team", "ts", "message"),
      maxPerDay = 3, appendedAt = lit(ts(5)))
    assert(out.select("team", "message").as[(String, String)].collect().toSet ==
      Set(("A", "m3"), ("B", "b1")))
    // both layouts read together: old rows null, new rows stamped
    val all = log.read(spark).select("message", "updated_at")
      .as[(String, Option[String])].collect().toMap
    assert(all.keySet == Set("old1", "old2", "m3", "b1"))
    assert(all("old1").isEmpty && all("old2").isEmpty)
    assert(all("m3").nonEmpty && all("b1").nonEmpty)
  }

  test("rate limit: quota resets on a new day") {
    val dir = Files.createTempDirectory("nlog").toFile.getAbsolutePath + "/log"
    val out = new graft.sinks.NotificationLog(dir).rateLimitAndAppend(
      Seq(("A", ts(1), "d0a"), ("A", ts(2), "d0b"), ("A", ts(25), "d1a"))
        .toDF("team", "ts", "message"),
      maxPerDay = 1)
    assert(out.select("message").as[String].collect().toSet == Set("d0a", "d1a"))
  }

  test("rate limit: equal timestamps keep the smaller message, on replay too") {
    // two of A's three slots are spent; two alerts share the next ts
    def oneSlotLeft() = {
      val dir = Files.createTempDirectory("nlog").toFile.getAbsolutePath + "/log"
      val log = new graft.sinks.NotificationLog(dir)
      log.rateLimitAndAppend(
        Seq(("A", ts(1), "m1"), ("A", ts(2), "m2")).toDF("team", "ts", "message"),
        maxPerDay = 3)
      log
    }
    val tied = Seq(("A", ts(3), "zeta"), ("A", ts(3), "alpha"))
    val survivors = Seq(tied, tied.reverse).map { alerts =>
      oneSlotLeft().rateLimitAndAppend(alerts.toDF("team", "ts", "message"),
        maxPerDay = 3).select("message").as[String].collect().toSeq
    }
    assert(survivors == Seq(Seq("alpha"), Seq("alpha")))
  }

  test("a committed log file without sent_at throws instead of lifting the cap") {
    val dir = Files.createTempDirectory("nlog").toFile.getAbsolutePath + "/log"
    Seq(("A", "m1")).toDF("team", "message").write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      new graft.sinks.NotificationLog(dir).rateLimitAndAppend(
        Seq(("A", ts(1), "m2")).toDF("team", "ts", "message"), maxPerDay = 1)
    }
    assert(e.getMessage.contains("sent_at"))
  }
}
