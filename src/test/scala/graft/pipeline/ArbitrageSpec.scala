package graft.pipeline

import graft.SparkSpec

/** Golden end-to-end test of the composed pipeline using the
  * reference's own fault-injection arb (arbitrage_scanner.py:257-263:
  * DraftKings +225 / Caesars -180 must fire) plus guard cases. */
class ArbitrageSpec extends SparkSpec {
  import spark.implicits._

  private val bookies = Seq("DraftKings", "Caesars")

  // (idx, Sport, Team, BetType, Info, DraftKings, Caesars)
  private def grid = Seq(
    // game 1: the planted arb (+225 DK / -180 Caesars)
    (1, "NFL", "Chiefs", "ML", "Payout", "+225", "-500"),
    (2, "NFL", "Bills", "ML", "Payout", "-600", "-180"),
    // game 2: no arb (sum of best payouts negative)
    (3, "NFL", "Jets", "ML", "Payout", "-110", "-115"),
    (4, "NFL", "Dolphins", "ML", "Payout", "-110", "-112"),
    // game 3: double-EVEN false positive (must be excluded)
    (5, "NFL", "Rams", "Over/Under", "Payout", "EVEN", "-105"),
    (6, "NFL", "49ers", "Over/Under", "Payout", "EVEN", "-102"),
    // game 4: same-sign pair (sign audit must reject)
    (7, "NFL", "Bears", "ML", "Payout", "+150", "+120"),
    (8, "NFL", "Lions", "ML", "Payout", "+155", "+130")
  ).toDF("idx", "Sport", "Team", "BetType", "Info", "DraftKings", "Caesars")

  test("the planted +225/-180 arb fires with the reference's numbers") {
    val out = Arbitrage.detect(grid, bookies, minMarginPct = 3)
      .orderBy("idx").collect()
    assert(out.map(_.getAs[String]("Team")).toSeq == Seq("Chiefs", "Bills"))
    val chiefs = out(0); val bills = out(1)
    // decimal odds: +225 -> 3.25, -180 -> 1.5555...; payout = 325
    assert(chiefs.getAs[String]("best_bookie") == "DraftKings")
    assert(bills.getAs[String]("best_bookie") == "Caesars")
    assert(chiefs.getAs[Double]("payout") == 325.0)
    assert(chiefs.getAs[Double]("stake") == 100.0)
    assert(bills.getAs[Double]("stake") == 208.93) // 325 / (100/180+1), 2dp
    assert(chiefs.getAs[Double]("total_stake") == 308.93)
    assert(chiefs.getAs[Int]("margin_pct") == 5) // (325-308.93)/308.93 -> 5%
    assert(chiefs.getAs[String]("message").contains("+225 (DraftKings)"))
  }

  test("guards: negative calc, double-EVEN, and same-sign games never alert") {
    val out = Arbitrage.detect(grid, bookies, minMarginPct = 0)
      .select("Team").as[String].collect().toSet
    assert(out == Set("Chiefs", "Bills"))
  }

  test("margin threshold filters marginal arbs") {
    val out = Arbitrage.detect(grid, bookies, minMarginPct = 6).count()
    assert(out == 0) // the 5% arb is below a 6% threshold
  }

  test("plan shape: jurisdiction flags games in a window, with no self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = Arbitrage.jurisdiction(Arbitrage.detect(grid, bookies, minMarginPct = 0),
      bannedBookies = Seq("Caesars"), starBookies = Seq("DraftKings"))
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, plan.treeString)
  }
}
