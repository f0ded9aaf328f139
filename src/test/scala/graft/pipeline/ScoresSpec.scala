package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScoresSpec extends SparkSpec {
  import spark.implicits._

  // A raw scores grid row: 8 positional columns, info at 0, teams at
  // 4 and 7 (the reference's iloc[:, [4, 7]] shape).
  private def row(info: String, t1: String, t2: String) =
    (info, "x1", "x2", "x3", t1, "x5", "x6", t2)

  private val longFinal = "Final " + "x" * 44 // exactly 50 chars
  private val shortFinal = "Final " + "x" * 43 // 49 chars -> dropped
  private val longLive = "Live " + "x" * 60 // not Final -> dropped

  test("finishedGames filters, picks ordinals, stacks and extracts teams") {
    val raw = Seq(
      row(longFinal, "Cardinals99-77Final", "49ers21-10Final"),
      row(shortFinal, "Hawks1-2", "Lions3-4"), // too short
      row(longLive, "Bears5-6", "Jets7-8"), // not Final
      row(longFinal, "76ers99-88Final", "Bills10-3Final") // 76ers -> null
    ).toDF("c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
    val out = Scores.finishedGames(raw, "NFL")
      .as[(Option[String], String)].collect().toSet
    assert(out == Set(
      (Some("Cardinals"), "NFL"), (Some("49ers"), "NFL"),
      (None, "NFL"), (Some("Bills"), "NFL")))
  }

  test("teamPrefix: 49ers case, alpha run, null on no-alpha") {
    val d = Seq("49ers21-10", "Cardinals99", "BuffaloBills3", "123abc", "")
      .toDF("t")
    val out = d.select(Scores.teamPrefix(col("t"))).as[Option[String]]
      .collect().toSeq
    assert(out == Seq(Some("49ers"), Some("Cardinals"), Some("BuffaloBills"),
      None, None))
  }

  test("removeFinished keeps unmatched and null-team odds rows (P11)") {
    val odds = Seq(
      ("Chiefs", "NFL", 1), ("Cardinals", "NFL", 2),
      ("Cardinals", "MLB", 3), // same team, other sport: kept
      (null.asInstanceOf[String], "NFL", 4) // null never matches: kept
    ).toDF("Team", "Sport", "bet_id")
    val finished = Seq(
      ("Cardinals", "NFL"), (null.asInstanceOf[String], "NFL"),
      ("Cardinals", "NFL") // a team listed twice drops its rows once
    ).toDF("Team", "Sport")
    val kept = Scores.removeFinished(odds, finished)
      .select("bet_id").as[Int].collect().toSeq.sorted
    assert(kept == Seq(1, 3, 4))
  }

  test("end-to-end: scrape grid -> finished set -> anti join") {
    val raw = Seq(row(longFinal, "Cardinals99-77Final", "Chiefs21-10Final"))
      .toDF("c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
    val odds = Seq(("Cardinals", "NFL", 1), ("Chiefs", "NFL", 2),
      ("Bills", "NFL", 3)).toDF("Team", "Sport", "bet_id")
    val out = Scores.removeFinished(odds, Scores.finishedGames(raw, "NFL"))
    assert(out.select("bet_id").as[Int].collect().toSeq == Seq(3))
  }
}
