package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S2 + P9 + P10 + J3 (SURVEY.md §2.1, §2.3): the finished-games
  * scores feed — the stage the reference runs on EVERY scan to drop
  * games that already ended (arbitrage_scanner.py:216-252).
  *
  * Input shape: one row per scraped `<tr>`, positional string columns
  * (the scores site has no headers worth trusting). Column 0 is the
  * game-info blob; columns 4 and 7 carry the two team strings.
  *
  * The team strings arrive as concatenations like "Cardinals99-77Final"
  * — the reference keeps the LEADING ALPHA RUN as the team name, with
  * one special case: names starting with "49ers" (digits first) would
  * extract as empty, so they are matched literally
  * (arbitrage_scanner.py:237-238).
  */
object Scores {

  /** Alpha-prefix team extraction with the 49ers case
    * (arbitrage_scanner.py:237-238): "49ers..." -> "49ers", else the
    * leading [A-Za-z]+ run, else null (pandas' None on no match).
    */
  def teamPrefix(c: Column): Column = {
    val alpha = regexp_extract(c, "^([A-Za-z]+)", 1)
    when(substring(c, 1, 5) === "49ers", lit("49ers"))
      .otherwise(when(alpha === "", lit(null)).otherwise(alpha))
  }

  /** Raw per-sport scores grid -> (Team, Sport) finished-games
    * relation:
    *   - P9: keep rows whose info blob is >= 50 chars AND starts with
    *     "Final " (arbitrage_scanner.py:232-233);
    *   - P10: ordinal column picks for the two team strings
    *     (`iloc[:, [4, 7]]`, arbitrage_scanner.py:234);
    *   - O5: stack Team1/Team2 into one Team column
    *     (arbitrage_scanner.py:239);
    *   - F15-adjacent: alpha-prefix extraction (teamPrefix above).
    * Unparseable team strings stay as null rows, exactly like the
    * reference (None never equi-joins, so they are inert in J3).
    */
  def finishedGames(raw: DataFrame, sport: Column,
                    infoOrdinal: Int = 0,
                    teamOrdinals: (Int, Int) = (4, 7)): DataFrame = {
    val cols = raw.columns
    val info = col(cols(infoOrdinal))
    raw
      .filter(length(info) >= 50 && info.startsWith("Final "))
      .select(col(cols(teamOrdinals._1)).as("Team1"),
        col(cols(teamOrdinals._2)).as("Team2"), sport.as("Sport"))
      .select(explode(array(col("Team1"), col("Team2"))).as("raw_team"),
        col("Sport"))
      .select(teamPrefix(col("raw_team")).as("Team"), col("Sport"))
  }

  def finishedGames(raw: DataFrame, sport: String): DataFrame =
    finishedGames(raw, lit(sport))

  /** J3 (arbitrage_scanner.py:251-252): remove odds rows whose
    * (Team, Sport) appears in the finished-games set. The reference
    * writes left-join + `!= 'Game Over'`, which KEEPS rows with no
    * match (P11 NaN-keeping semantics) — exactly a left_anti join.
    * finished is broadcast as is: per scan it is at most a few hundred
    * teams regardless of odds volume, and a repeated key returns the
    * same anti-join rows, so a `distinct` would only add a shuffle
    * stage (and a job) per scan.
    */
  def removeFinished(odds: DataFrame, finished: DataFrame): DataFrame =
    odds.join(
      broadcast(finished.select("Team", "Sport").na.drop("any")),
      Seq("Team", "Sport"), "left_anti")
}
