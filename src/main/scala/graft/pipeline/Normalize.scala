package graft.pipeline

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Odds, TextNorm}
import graft.operators.Reshape

/** E1 steps 2-4 (SURVEY.md §3): raw scraped wide odds table -> the
  * canonical long odds grid that Arbitrage.detect consumes.
  *
  * Input (FIXTURES.md A1 `odds_raw` shape): one row per (game, side),
  * string columns
  *   idx (load order), Sport, Team, one column per bookie with
  *   `"<line> <payout>"` (Spread/OU), `"+150"`-style (ML), `even`,
  *   `N/A`, and embedded repeated header rows from the scraper.
  *
  * Output: one row per (leg, Info in {Line, Payout}) with per-bookie
  * normalized string values — FIXTURES.md A2 `odds_grid`.
  */
object Normalize {

  /** P1 (arbitrage_scanner.py:61-66): positional scraped rows ->
    * named columns, promoting the embedded header row — the bridge
    * from the `odds-html` source's (file, row_no, cells) shape to the
    * named raw grid `grid()` consumes.
    *
    * The single-row header read is driver-side ON PURPOSE (bounded by
    * construction, exactly like the reference's `columns = iloc[0]`);
    * every data row stays distributed. All snapshots in the frame are
    * expected to share a layout (same site, same scraper). `row_no`
    * survives as the in-file load order (the future `idx`), and
    * `file` survives for per-snapshot tagging (e.g. sport-from-path).
    */
  def promoteHeader(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val headerRow = cells.orderBy("file", "row_no").select("cells")
      .limit(1).collect().headOption
    val header = headerRow match {
      case Some(Row(c: scala.collection.Seq[_])) => c.map(String.valueOf)
      // failed scrape (zero snapshots / zero rows / null cells):
      // return an EMPTY (file, row_no, idx) frame. There is no header
      // to derive named columns from, so callers that feed grid()
      // must guard on isEmpty — the same check the Fetcher-None skip
      // sentinel requires.
      case _ => return cells.filter(lit(false))
        .select(col("file"), col("row_no"), lit(0L).as("idx"))
    }
    // de-duplicate promoted names the explicit way (a scraped header
    // can repeat a label): suffix _2, _3, ...
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val named = header.map { h =>
      val n = seen.updateWith(h)(c => Some(c.getOrElse(0) + 1)).get
      if (n == 1) h else s"${h}_$n"
    }
    // global load-order idx across snapshots: per-file row_no repeats
    // between files, and downstream pairing needs ONE total order
    // (the reference concatenates per-sport frames the same way).
    // Single-partition window — scrape snapshots are KB-scale per
    // cycle; never feed this a large table.
    val w = org.apache.spark.sql.expressions.Window.orderBy("file", "row_no")
    cells.filter(col("row_no") > 0)
      .withColumn("idx", row_number().over(w).cast("long"))
      .select(col("file") +: col("row_no") +: col("idx") +:
        named.zipWithIndex.map { case (h, i) =>
          col("cells").getItem(i).as(h)
        }.toSeq: _*)
  }

  /** @param classifierBookie bookie column used to classify the bet
    *   type (the reference reads Bet365, arbitrage_scanner.py:90-99).
    */
  def grid(raw: DataFrame, bookies: Seq[String],
           classifierBookie: String): DataFrame = {
    // P2/P6 (arbitrage_scanner.py:62-66,142-143): drop empty teams
    // and embedded header rows (a cell equal to its own column name)
    // — null-safe comparisons throughout.
    val clean = raw
      // idx arrives as a STRING on the scraped shape: ordering must be
      // numeric, or lexicographic '10' < '2' mispairs legs and the
      // sign audit can bless a fabricated arbitrage. Junk idx fails
      // loudly (ANSI cast) instead of silently mis-sorting.
      .withColumn("idx", col("idx").cast("long"))
      .filter(coalesce(col("Team"), lit("")) =!= "")
      .filter(coalesce(col(classifierBookie), lit("")) =!= classifierBookie)

    // F16: classify each row's bet type from the classifier bookie.
    val classified = clean.withColumn("BetType", Odds.betType(col(classifierBookie)))

    // W1: consecutive-pair game id within (Sport, BetType), load order.
    val withGame = classified.withColumn("game_id",
      Reshape.pairId(Seq("Sport", "BetType"), Seq(col("idx"))))

    // G1 (arbitrage_scanner.py:122-133): expand each leg into
    // Line/Payout rows; ML carries no line.
    val expanded = Reshape.explodeLinePayout(withGame, "BetType")

    // F4/F5/F8 per bookie (arbitrage_scanner.py:146-162,178-179):
    // Line rows keep token 0 with o/u mapped to +/-;
    // Payout rows keep everything after the first space (ML: the
    // whole cell). EVEN/N-A normalization happens downstream
    // (Arbitrage.detect / Odds.normalizePayout) like the reference.
    // One projection for all bookies, not one analysis pass each.
    expanded.withColumns(ListMap(bookies.map(b => b ->
      when(col("Info") === "Line",
        Odds.totalLineToSigned(TextNorm.firstToken(col(b))))
        .otherwise(when(col("BetType") === "ML", col(b))
          .otherwise(TextNorm.afterFirstSpace(col(b))))): _*))
  }

  /** J2 (arbitrage_scanner.py:205-209): merge the bovada quote column
    * into the grid — broadcast left join on (Team, BetType, Info); a
    * missing/failed bovada scrape is just an empty quotes frame and
    * leaves the column null (the reference's skip sentinel, done with
    * schema instead of a string). */
  def withBovada(grid: DataFrame, bovada: DataFrame): DataFrame =
    grid.join(broadcast(bovada), Seq("Team", "BetType", "Info"), "left")
}
