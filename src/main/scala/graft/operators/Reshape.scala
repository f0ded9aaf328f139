package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Order-sensitive reshaping operators (SURVEY.md §2.6-§2.8). The
  * reference leans on pandas' implicit row index; every operator here
  * takes explicit partition/order keys instead — the #1 semantic gap
  * called out in SURVEY.md §1.1. All are narrow or single-shuffle:
  * pair/renumber windows partition by a high-cardinality key so state
  * per partition is tiny at any scale.
  */
object Reshape {

  /** W1: the reference's positional `i//2+1` pair id (game id over
    * consecutive row pairs, arbitrage_scanner.py:104,109,114) with an
    * explicit deterministic order.
    */
  def pairId(partition: Seq[String], order: Seq[Column]): Column = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    (floor((row_number().over(w) - 1) / 2) + 1).cast("int")
  }

  /** W3: anchor-leg flag — first row of each pair is the stake-100 leg
    * (arbitrage_scanner.py:368-370).
    */
  def isAnchorLeg(partition: Seq[String], order: Seq[Column]): Column = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    row_number().over(w) === 1
  }

  /** G1: duplicate each row with Info ∈ {Line, Payout}, dropping the
    * (ML, Line) combination (arbitrage_scanner.py:122-133) — the
    * iterrows loop as a single Generator.
    */
  def explodeLinePayout(df: DataFrame, betTypeCol: String): DataFrame =
    df.withColumn("Info", explode(array(lit("Line"), lit("Payout"))))
      .filter(!(col(betTypeCol) === "ML" && col("Info") === "Line"))

  /** G2: two-sides-per-row → one-side-per-row. Each element of
    * `sides` maps output column name → source expression for that
    * side; emits one row per side with a `side_no` ordinal
    * (bovada_pull.py:123-148 without the blank-then-coalesce dance).
    */
  def explodeSides(df: DataFrame, sides: Seq[Seq[(String, Column)]]): DataFrame = {
    val structs = sides.zipWithIndex.map { case (cols, i) =>
      struct((lit(i + 1).as("side_no") +: cols.map { case (n, c) => c.as(n) }): _*)
    }
    val names = sides.head.map(_._1)
    val exploded = df.withColumn("_side", explode(array(structs: _*)))
    val keep = df.columns.map(col).toSeq :+ col("_side.side_no").as("side_no")
    exploded.select(keep ++ names.map(n => col(s"_side.$n").as(n)): _*)
  }

  /** O5: wide → long unpivot of measure columns (the mega_df melt,
    * arbitrage_scanner.py:335-343) via the codegen'd stack generator.
    */
  def unpivot(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
              keyName: String = "metric", valueName: String = "value"): DataFrame = {
    // Escape interpolated identifiers/literals: a backtick in a column
    // name or a quote in the label would otherwise mis-parse (or
    // inject into) the generated stack() SQL.
    def ident(c: String) = "`" + c.replace("`", "``") + "`"
    def strLit(c: String) = "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val stackArgs = valueCols.map(c => s"${strLit(c)}, ${ident(c)}").mkString(", ")
    df.selectExpr(idCols.map(ident) :+
      s"stack(${valueCols.size}, $stackArgs) as (${ident(keyName)}, ${ident(valueName)})": _*)
  }

  /** W2: forward-fill over an explicit order (pandas ffill,
    * arbitrage_scanner.py:369).
    */
  def ffill(c: Column, partition: Seq[String], order: Seq[Column]): Column =
    last(c, ignoreNulls = true).over(
      Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** O6 batch form (bovada_pull.py:156-162): when a team appears in a
    * SECOND matchup within one scrape (Monday pull showing tonight's
    * AND next weekend's game), drop that second game entirely — both
    * its rows. Composed: W1 pair id over the explicit order + per-team
    * cumcount + a per-game "has a rank-2 row" window flag, so the input
    * plan is read once (no self-join on the offending game ids).
    * Faithful to the reference: only rank == 2 marks a game (a third
    * appearance is dropped transitively only if its game shares the
    * rank-2 game id). A row with a null `partition` key is never
    * dropped, as under the equi-join this replaces. Output keeps the
    * assigned `game_id`, after the `partition` columns.
    */
  def dropRepeatMatchups(df: DataFrame, teamCol: String, order: Seq[Column],
                         partition: Seq[String] = Nil): DataFrame = {
    val gameKey = partition :+ "game_id"
    val wPairs = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    val wTeam = Window.partitionBy((partition :+ teamCol).map(col): _*)
      .orderBy(order: _*)
    val wGame = Window.partitionBy(gameKey.map(col): _*)
    val keyed = partition.map(col(_).isNotNull).foldLeft(lit(true))(_ && _)
    df.withColumns(ListMap(
        "game_id" -> (floor((row_number().over(wPairs) - 1) / 2) + 1).cast("int"),
        "_team_rank" -> row_number().over(wTeam)))
      .withColumn("_repeat", max(col("_team_rank") === 2).over(wGame))
      .filter(!(keyed && col("_repeat")))
      .select((gameKey ++ df.columns.filterNot(gameKey.contains)).map(col): _*)
  }

  /** A3 argmax: value AND name of the greatest of several named
    * columns — the find_max_payout_column row-scan
    * (arbitrage_scanner.py:350-355) as a single struct-max expression.
    * Null columns lose ties; ties break toward the later name in
    * `cols` (struct comparison is lexicographic on (value, name)).
    */
  def argmax(df: DataFrame, cols: Seq[String], valueName: String, nameName: String): DataFrame = {
    val best = array_max(array(cols.map(c =>
      struct(col(c).as("v"), lit(c).as("n"))): _*))
    df.withColumn(valueName, best.getField("v"))
      .withColumn(nameName, best.getField("n"))
  }
}
