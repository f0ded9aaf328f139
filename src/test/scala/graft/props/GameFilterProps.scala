package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestSpark
import graft.operators.Reshape
import graft.pipeline.Arbitrage

/** The game-scoped set filters (`Arbitrage.jurisdiction`,
  * `Reshape.dropRepeatMatchups`) are window flags; their join forms
  * (distinct offending keys + left_anti / left join back) are kept
  * here as oracles. Random games include null key parts, which an
  * equi-join never matches, and empty rule lists. */
object GameFilterProps extends Properties("game filters") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(16)

  /** Same rows (as a multiset) and the same column order. */
  private def same(got: DataFrame, want: DataFrame): Boolean =
    got.columns.toSeq == want.columns.toSeq &&
      got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq

  // ---- jurisdiction -------------------------------------------------

  private val keyCols = Seq("Sport", "BetType", "game_id")

  private def jurisdictionByJoin(alerts: DataFrame, banned: Seq[String],
                                 star: Seq[String]): DataFrame = {
    val bannedKeys = alerts.filter(col("best_bookie").isin(banned: _*))
      .select(keyCols.map(col): _*).distinct()
    val kept = alerts.join(broadcast(bannedKeys), keyCols, "left_anti")
    if (star.isEmpty) kept
    else {
      val starred = kept.filter(col("best_bookie").isin(star: _*))
        .select(keyCols.map(col): _*).distinct()
        .withColumn("_star", lit(true))
      kept.join(broadcast(starred), keyCols, "left")
        .withColumn("Sport",
          when(col("_star"), concat(lit("*"), col("Sport"))).otherwise(col("Sport")))
        .drop("_star")
        .withColumn("message", Arbitrage.messageExpr)
    }
  }

  private val bookies = Seq("DK", "CZ", "FD", "MGM")

  private val legs = Gen.listOf(for {
    sport <- Gen.frequency(4 -> Gen.oneOf("NFL", "NBA").map(Option(_)), 1 -> Gen.const(None))
    betType <- Gen.frequency(6 -> Gen.oneOf("ML", "Spread"), 1 -> Gen.const(null: String))
    game <- Gen.choose(1, 4)
    best <- Gen.frequency(6 -> Gen.oneOf(bookies).map(Option(_)), 1 -> Gen.const(None))
    pay <- Gen.choose(-300, 300)
  } yield (sport, betType, game, best, pay))

  // an empty rule list is one case in three
  private val rule = Gen.frequency(1 -> Gen.const(Seq.empty[String]),
    2 -> Gen.atLeastOne(bookies).map(_.toSeq))

  private def alerts(rows: List[(Option[String], String, Int, Option[String], Int)]) =
    rows.zipWithIndex.map { case ((s, bt, g, b, p), i) =>
      (s, g, bt, s"team$i", b, p.toDouble, 100.0, 200.0, 300.0, i % 7, s"msg$i")
    }.toDF("Sport", "game_id", "BetType", "Team", "best_bookie", "max_payout",
      "stake", "payout", "total_stake", "margin_pct", "message")

  property("jurisdiction == the banned anti-join + starred left-join oracle") =
    forAll(legs, rule, rule) { (rows, banned, star) =>
      val in = alerts(rows)
      same(Arbitrage.jurisdiction(in, banned, star), jurisdictionByJoin(in, banned, star))
    }

  // ---- dropRepeatMatchups -------------------------------------------

  private def dropRepeatByJoin(df: DataFrame, teamCol: String, order: Seq[Column],
                               partition: Seq[String]): DataFrame = {
    val wPairs = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    val wTeam = Window.partitionBy((partition :+ teamCol).map(col): _*)
      .orderBy(order: _*)
    val withIds = df
      .withColumn("game_id", (floor((row_number().over(wPairs) - 1) / 2) + 1).cast("int"))
      .withColumn("_team_rank", row_number().over(wTeam))
    val offending = withIds.filter(col("_team_rank") === 2)
      .select((partition :+ "game_id").map(col): _*).distinct()
    withIds.join(offending, partition :+ "game_id", "left_anti")
      .drop("_team_rank")
  }

  private val sides = Gen.listOf(Gen.zip(
    Gen.frequency(4 -> Gen.oneOf("S0", "S1").map(Option(_)), 1 -> Gen.const(None)),
    Gen.frequency(8 -> Gen.oneOf("Bills", "Jets", "Rams", "Lions", "Bears").map(Option(_)),
      1 -> Gen.const(None))))

  property("dropRepeatMatchups == the offending-game anti-join oracle") =
    forAll(sides, Gen.oneOf(Seq.empty[String], Seq("sport"))) { (rows, partition) =>
      val in = rows.zipWithIndex.map { case ((s, t), i) => (i, s, t) }
        .toDF("idx", "sport", "team")
      same(Reshape.dropRepeatMatchups(in, "team", Seq(col("idx")), partition),
        dropRepeatByJoin(in, "team", Seq(col("idx")), partition))
    }
}
