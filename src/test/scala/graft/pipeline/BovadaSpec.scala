package graft.pipeline

import graft.SparkSpec

/** E2 golden test: raw bovada-style text blob -> long quote rows,
  * including the camel-concatenated team pair and the 49ers case. */
class BovadaSpec extends SparkSpec {
  import spark.implicits._

  private val blob =
    "junk header 9/14/25 " +
      "10:10 PM Seattle SeahawksSan Francisco 49ers +3.5(-110)-3.5(-108) O47.5(-110)U47.5(-105) +165-195 " +
      "9/15/25 " +
      "1:00 PM Buffalo BillsMiami Dolphins -2.5(-105)+2.5(-115) O51.0(-110)U51.0(-110) -130+110 " +
      "9/16/25 NBA Bets"

  test("quotes: sections -> sides -> bet-type projections") {
    val q = Bovada.quotes(Seq((1, blob)).toDF("blob_id", "t"), "t")
      .as[(String, String, String, String)].collect().toSet

    // camel split with the 49ers case; Team reduced to the nickname
    // (last word, bovada_pull.py:167,180,191) — the grid joins on it
    assert(q.contains(("Seahawks", "ML", "Payout", "+165")))
    assert(q.contains(("49ers", "ML", "Payout", "-195")))
    // spreads: line + payout per side
    assert(q.contains(("Seahawks", "Spread", "Line", "+3.5")))
    assert(q.contains(("49ers", "Spread", "Payout", "-108")))
    // totals: O -> +line for side 1, U -> -line for side 2
    assert(q.contains(("Seahawks", "Over/Under", "Line", "+47.5")))
    assert(q.contains(("49ers", "Over/Under", "Line", "-47.5")))
    assert(q.contains(("Bills", "ML", "Payout", "-130")))
    assert(q.contains(("Dolphins", "Spread", "Line", "+2.5")))
    // the junk " Bets" section parsed into nothing
    assert(q.size == 2 * 2 * 5) // 2 games x 2 sides x 5 projections
  }

  test("EVEN payouts parse and normalize to +100 (not dropped)") {
    val b = "x 9/14/25 " +
      "10:10 PM Seattle SeahawksSan Francisco 49ers " +
      "+3.5(EVEN)-3.5(-108) O47.5(-110)U47.5(EVEN) EVEN-195"
    val q = Bovada.quotes(Seq((1, b)).toDF("blob_id", "t"), "t")
      .as[(String, String, String, String)].collect().toSet
    assert(q.size == 2 * 5) // the matchup survives the size filter
    assert(q.contains(("Seahawks", "Spread", "Payout", "+100"))) // (EVEN)
    assert(q.contains(("49ers", "Over/Under", "Payout", "+100")))
    assert(q.contains(("Seahawks", "ML", "Payout", "+100"))) // bare EVEN
    assert(q.contains(("49ers", "ML", "Payout", "-195")))
  }

  test("second matchup of a team is dropped whole (bovada_pull.py:156-162)") {
    val b = "x 9/14/25 " +
      "10:10 PM Seattle SeahawksSan Francisco 49ers " +
      "+3.5(-110)-3.5(-108) O47.5(-110)U47.5(-105) +165-195 " +
      "9/21/25 " + // the Seahawks appear AGAIN next week vs the Rams
      "1:00 PM Seattle SeahawksLos Angeles Rams " +
      "-2.5(-105)+2.5(-115) O51.0(-110)U51.0(-110) -130+110"
    val q = Bovada.quotes(Seq((1, b)).toDF("blob_id", "t"), "t")
      .select("Team").as[String].collect().toSet
    // game 2 removed entirely — including the innocent Rams side
    assert(q == Set("Seahawks", "49ers"))
  }

  test("plan shape: the blob is scanned once (repeat-matchup flag, no self-join)") {
    val dir = java.nio.file.Files.createTempDirectory("bovada").toString + "/blob"
    Seq(blob).toDF("value").write.text(dir)
    val blobs = spark.read.option("wholetext", "true").text(dir)
      .select($"value".as("text"))
    val plan = Bovada.quotes(blobs, "text").queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1, plan.treeString)
  }
}
