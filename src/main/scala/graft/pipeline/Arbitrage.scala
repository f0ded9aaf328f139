package graft.pipeline

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Odds
import graft.operators.Reshape

/** The reference's end-to-end arbitrage pipeline (E1, SURVEY.md §3)
  * as one composed lazy plan over a wide odds grid:
  *
  *   normalize payout strings -> per-leg best quote across bookies
  *   (struct-argmax) -> per-game window sum (the arbitrage calc) ->
  *   guards (double-EVEN false positive, sign audit) -> stake sizing
  *   -> profit margin -> alert threshold -> formatted alert message.
  *
  * Input grid contract (the shape arbitrage_scanner.py builds by
  * line 181): one row per (game leg, Info), columns
  *   idx (explicit load order -- replaces the pandas implicit index),
  *   Sport, Team, BetType in {ML, Spread, Over/Under},
  *   Info in {Line, Payout}, and one STRING column per bookie.
  *
  * Every reference rule is cited inline. The whole plan is
  * window/aggregate + narrow expressions: one shuffle on
  * (Sport, BetType, game_id), bookie-count-bounded row width, no UDFs.
  */
object Arbitrage {

  /** American-odds sign as +/- (arbitrage_scanner.py:428). */
  private def sign(c: Column): Column = when(c >= 0, lit("+")).otherwise(lit("-"))

  /** Detect arbitrage opportunities and size stakes. Returns one row
    * per game LEG for games clearing every guard and the margin
    * threshold (arbitrage_scanner.py:275-431 semantics). */
  def detect(grid: DataFrame, bookies: Seq[String],
             minMarginPct: Int = 3): DataFrame = {
    // game id: consecutive row PAIRS within (Sport, BetType) in load
    // order (the i//2+1 idiom, arbitrage_scanner.py:104-114). A grid
    // that ALREADY carries game_id (Normalize.grid output) keeps it:
    // the reference assigns ids at build time, so a leg orphaned by
    // finished-game removal must NOT re-pair with its neighbor — the
    // sign audit then drops the single-leg game, like the reference.
    val ordered = grid.withColumn("idx", col("idx").cast("long"))
    val withGame =
      if (ordered.columns.contains("game_id")) ordered
      else ordered.withColumn("game_id",
        Reshape.pairId(Seq("Sport", "BetType"), Seq(col("idx"))))

    // payout legs only (arbitrage_scanner.py:275). Per bookie:
    // strip trailing " +" (F6), EVEN -> +100 / N/A -> null (F8), then
    // coerce like pd.to_numeric(errors='coerce') via try_cast.
    // One ordered projection for all bookies: a withColumn per bookie
    // would re-analyse the growing plan once per bookie.
    val payouts = withGame.filter(col("Info") === "Payout")
    val parsed = payouts.withColumns(ListMap(bookies.map(b =>
      s"${b}__v" -> Odds.normalizePayout(
        trim(regexp_replace(col(b), "[ +]+$", ""))).try_cast("double")): _*))

    // per-leg best payout + which bookie offers it: struct-argmax
    // (replaces the O(cols) row scan at arbitrage_scanner.py:350-355).
    val quoteStructs = bookies.map(b =>
      struct(coalesce(col(s"${b}__v"), lit(Double.MinValue)).as("v"),
        lit(b).as("bookie")))
    val best = array_max(array(quoteStructs: _*))

    val wGame = Window.partitionBy("Sport", "BetType", "game_id")
    val wLeg = wGame.orderBy("idx")

    // ONE window pass, ONE filter at the end. Every guard in this
    // chain is GAME-level — arb_calc, the double-EVEN test (both legs
    // are +100 when it fires), n_signs, and margin_pct take the same
    // value on every leg of a game — so no filter ever drops a single
    // leg. Window results over the pre-filter rows are therefore
    // identical to the reference's filter-then-window sequence, and
    // collapsing lets Spark evaluate the whole chain in 3 Window
    // operators (wGame agg / wLeg ordered / wGame over stake) on one
    // sorted partition pass instead of 6+ with re-sorts between.
    // Scalar window INPUTS are projected first (sign, anchor payout):
    // a Project interleaved between two Window nodes blocks Spark's
    // CollapseWindow, so all four first-stage window columns are added
    // in ONE withColumns — ExtractWindowExpressions then groups them
    // into exactly two Window operators (wGame agg + wLeg ordered,
    // row_number and first sharing the same cumulative row frame).
    val sized = parsed
      .withColumn("max_payout", best.getField("v"))
      .withColumn("best_bookie", best.getField("bookie"))
      .withColumn("dec_odds", Odds.americanToDecimal(col("max_payout")))
      .withColumn("_sign", sign(col("max_payout")))
      .withColumn("_anchor_pay", round(col("dec_odds") * 100, 2))
      .withColumns(Map(
        // the arbitrage calc: per-game sum of best payouts
        // (arbitrage_scanner.py:280-287) -- window, not groupby+join-back
        "arb_calc" -> sum(col("max_payout")).over(wGame),
        // sign audit input: both legs carrying the same sign is a
        // scrape error, not an arb (arbitrage_scanner.py:427-431)
        "n_signs" -> size(collect_set(col("_sign")).over(wGame)),
        // stake sizing (arbitrage_scanner.py:360-378): anchor leg
        // stakes 100 at decimal odds d1 (payout = 100*d1); the other
        // leg hedges payout/d2 so both legs pay out equally.
        "is_anchor" -> (row_number().over(wLeg) === 1),
        "payout" -> first(col("_anchor_pay")).over(
          wLeg.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .withColumn("stake", when(col("is_anchor"), lit(100.0))
        .otherwise(Odds.hedgeStake(col("payout"), col("dec_odds"))))
      .withColumn("total_stake", round(sum(col("stake")).over(wGame), 2))
      .withColumn("margin_pct", Odds.profitMargin(col("payout"), col("total_stake")))
      .filter(
        // positive calc = guaranteed profit exists; the double-EVEN
        // (+100/+100) false positive is excluded (arbitrage_scanner.py:331-332)
        col("arb_calc") > 0 &&
        !(col("max_payout") === 100 && col("arb_calc") === 200) &&
        col("n_signs") =!= 1 &&
        col("margin_pct") >= minMarginPct) // arbitrage_scanner.py:401

    alertColumns(sized)
  }

  /** P13/J10 (arbitrage_scanner.py:469-475): jurisdiction rules over
    * the alert set. Games whose winning bookie is in `bannedBookies`
    * (legal in NEITHER jurisdiction) are removed WHOLE — both legs,
    * keyed (Sport, BetType, game_id) like every game-scoped rule.
    * Games involving a `starBookies` member (legal in only one) keep
    * both legs but the Sport is star-prefixed as a warning marker.
    * Both rules are per-game window flags, `max(best_bookie IN (...))`
    * over the game key `detect` already partitions by: the alert plan
    * is read once, with no self-join and no extra shuffle. As with an
    * equi-join on the game key, a leg with a null key part matches no
    * game: it is neither removed nor starred.
    */
  def jurisdiction(alerts: DataFrame, bannedBookies: Seq[String],
                   starBookies: Seq[String] = Nil): DataFrame = {
    val keyCols = Seq("Sport", "BetType", "game_id")
    val wGame = Window.partitionBy(keyCols.map(col): _*)
    val keyed = keyCols.map(col(_).isNotNull).reduce(_ && _)
    def gameUses(bs: Seq[String]): Column =
      keyed && coalesce(max(col("best_bookie").isin(bs: _*)).over(wGame), lit(false))
    // a banned game is removed whole, so the star flag over the
    // pre-filter rows equals the flag over the surviving games
    val flagged = alerts.withColumns(ListMap(
      Seq("_banned" -> bannedBookies, "_star" -> starBookies)
        .collect { case (n, bs) if bs.nonEmpty => n -> gameUses(bs) }: _*))
    val kept = if (bannedBookies.isEmpty) flagged else flagged.filter(!col("_banned"))
    val marked =
      if (starBookies.isEmpty) kept
      else kept
        .withColumn("Sport",
          when(col("_star"), concat(lit("*"), col("Sport"))).otherwise(col("Sport")))
        // the star must reach the DELIVERED channel too: rebuild the
        // message from the (now starred) Sport, like the reference
        // formats Combined AFTER the star markup
        // (arbitrage_scanner.py:474-489).
        .withColumn("message", messageExpr)
    // game key first: the column order the join form produced
    marked.select((keyCols ++ alerts.columns.filterNot(keyCols.contains)).map(col): _*)
  }

  /** Notification text (arbitrage_scanner.py:478-489 shape). */
  private[graft] def messageExpr: Column =
    format_string("%s %s %s: bet %.2f on %s @ %s (%s), margin %d%%",
      col("Sport"), col("BetType"), col("Team"), col("stake"),
      col("Team"), Odds.plusPrefix(col("max_payout")), col("best_bookie"),
      col("margin_pct"))

  private def alertColumns(sized: DataFrame): DataFrame =
    sized.select(col("Sport"), col("game_id"), col("BetType"), col("Team"),
      col("best_bookie"), col("max_payout"), col("stake"),
      col("payout"), col("total_stake"), col("margin_pct"),
      messageExpr.as("message"))
}
