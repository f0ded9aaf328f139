package graft.props

import java.nio.file.Files

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.pipeline.{Arbitrage, Bovada, Engine, Normalize, Scores}
import graft.sinks.{Alerting, CollectingAlertSink, CollectingMirror, NotificationLog}
import graft.sources.TeamDims

/** `Engine.run` binds each cycle's inputs into templates analysed once
  * per input shape. The composition it replaced, which built and
  * analysed every plan from the cycle's own inputs, is kept here as the
  * oracle. Each case runs consecutive cycles over one log per side:
  * random grids, Bovada present then absent, an empty scores map, one
  * DataFrame bound to two league slots, an extra bookie column (a new
  * shape), and `now` as `lit`, `to_timestamp(lit)` and
  * `current_timestamp()`. Delivered messages, mirrored rows,
  * `Result.alerts` and the log must match after every cycle. */
object PreparedScanProps extends Properties("prepared scan") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3)

  /** The per-cycle composition `Engine.run` had before templates. */
  private def oracleRun(rawOdds: DataFrame, bookies: Seq[String], classifierBookie: String,
                        teams: DataFrame, bovadaBlobs: Option[DataFrame],
                        scoresRaw: Map[String, DataFrame], log: NotificationLog,
                        sink: CollectingAlertSink, mirror: CollectingMirror,
                        banned: Seq[String], star: Seq[String], maxPerDay: Int,
                        now: Column): Engine.Result = {
    val enriched = TeamDims.enrich(Normalize.grid(rawOdds, bookies, classifierBookie), teams)
    val (withBov, allBookies) = bovadaBlobs match {
      case Some(blobs) =>
        (Normalize.withBovada(enriched, Bovada.quotes(blobs, "text")), bookies :+ "Bovada")
      case None => (enriched, bookies)
    }
    val finished = scoresRaw.toSeq.sortBy(_._1).map { case (sport, raw) =>
      Scores.finishedGames(raw, sport)
    }.reduceOption(_ unionByName _)
    val current = finished.fold(withBov)(f => Scores.removeFinished(withBov, f))
      .localCheckpoint(eager = false)
    val mirrored = Alerting.mirror(Alerting.withUpdatedAt(current, now), mirror)
    val alerts = Arbitrage.jurisdiction(Arbitrage.detect(current, allBookies, 3), banned, star)
    val limited = log.rateLimitAndAppend(
      alerts.select(col("Team").as("team"), now.as("ts"), col("message")),
      maxPerDay = maxPerDay, appendedAt = now)
    Engine.Result(current, alerts, Alerting.deliver(limited, "message", sink), mirrored)
  }

  private val Sports = Map(
    "NFL" -> Seq("Hawks", "Bears", "Lions", "Rams", "Jets", "Bills"),
    "NBA" -> Seq("Suns", "Heat", "Nets", "Bulls", "Magic", "Kings"))
  private val Underdog = Seq("+150", "+120", "+105", "-110")
  private val Favourite = Seq("-180", "-200", "-500", "-140")

  /** One game: sport, bet type, two teams, and per bookie the two side
    * cells (the classifier bookie always quotes). A planted game has
    * one bookie at +225 against favourites no better than -180: an
    * arbitrage above the 3% margin. */
  private def game(bookies: Seq[String], classifier: String) = for {
    sport <- Gen.oneOf(Sports.keys.toSeq.sorted)
    teams <- Gen.pick(2, Sports(sport))
    betType <- Gen.oneOf("ML", "Spread", "Over/Under")
    line <- Gen.oneOf("3.5", "7")
    planted <- Gen.oneOf(true, false)
    winner <- Gen.oneOf(bookies)
    cells <- Gen.sequence[Seq[(String, String)], (String, String)](bookies.map { b =>
      for {
        p1 <- Gen.oneOf(Underdog)
        p2 <- Gen.oneOf(if (planted) Favourite.take(3) else Favourite)
        na <- Gen.frequency(7 -> false,
          (if (b == classifier || (planted && b == winner)) 0 else 1) -> true)
      } yield {
        val (u, f) = (if (planted && b == winner) "+225" else p1, p2)
        if (na) ("N/A", "N/A")
        else betType match {
          case "ML" => (u, f)
          case "Spread" => (s"-$line $u", s"+$line $f")
          case _ => (s"o4$line $u", s"u4$line $f")
        }
      }
    })
  } yield (sport, teams.toSeq, cells)

  /** A raw odds page: a header row, then each game's two rows. */
  private def page(bookies: Seq[String], classifier: String) =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, game(bookies, classifier))).map { games =>
      val header = Seq("0", "Sport", "Team") ++ bookies
      val rows = games.flatMap { case (sport, teams, cells) =>
        Seq(teams(0) -> cells.map(_._1), teams(1) -> cells.map(_._2)).map { case (t, cs) =>
          Seq(sport, t) ++ cs
        }
      }.zipWithIndex.map { case (r, i) => (i + 1).toString +: r }
      header +: rows
    }

  private def odds(rows: Seq[Seq[String]], bookies: Seq[String]): DataFrame = {
    val names = Seq("idx", "Sport", "Team") ++ bookies
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(org.apache.spark.sql.Row.fromSeq): _*),
      org.apache.spark.sql.types.StructType(names.map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType))))
  }

  private def teams = Sports.toSeq.flatMap { case (s, ts) =>
    ts.take(4).map(t => (t, s, t.take(3).toUpperCase))
  }.toDF("Team", "Sport", "Abbreviation")

  /** A Bovada page quoting two of a sport's teams. */
  private val bovada = for {
    sport <- Gen.oneOf(Sports.keys.toSeq.sorted)
    t <- Gen.pick(2, Sports(sport))
    ml1 <- Gen.oneOf("+225", "+150"); ml2 <- Gen.oneOf("-180", "-999")
  } yield Seq((1, s"x 9/14/25 10:10 PM Old ${t(0)}New ${t(1)} " +
    s"+3.5(-110)-3.5(-108) O47.5(-110)U47.5(-105) $ml1$ml2")).toDF("blob_id", "text")

  /** A league's scores page listing some of its teams' games as Final. */
  private def scores(sport: String) = Gen.someOf(Sports(sport)).map { done =>
    val fin = "Final " + "x" * 44
    done.toSeq.grouped(2).map(p => (fin, "a", "b", "c", s"${p.head}21-10Final", "d", "e",
      s"${p.last}3-7Final")).toSeq
      .toDF("c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
  }

  /** One cycle's inputs: page, Bovada page or none, scores map. */
  private case class Cycle(page: Seq[Seq[String]], bookies: Seq[String],
                           bovada: Option[DataFrame], scores: Map[String, DataFrame],
                           now: Column)

  private val Base = Seq("DraftKings", "Caesars", "Bet365")
  private val Wide = Base :+ "FanDuel"
  private def at(h: Int) = java.time.Instant.parse("2026-03-01T00:00:00Z").plusSeconds(h * 3600L)

  private val cycles: Gen[Seq[Cycle]] = for {
    p1 <- page(Base, "Bet365"); p2 <- page(Base, "Bet365"); p3 <- page(Base, "Bet365")
    p4 <- page(Wide, "Bet365"); p5 <- page(Wide, "Bet365"); p6 <- page(Wide, "Bet365")
    b1 <- bovada; b3 <- bovada; b4 <- bovada; b5 <- bovada
    nfl <- scores("NFL"); nba <- scores("NBA")
  } yield Seq(
    Cycle(p1, Base, Some(b1), Map("NFL" -> nfl), lit(at(0))),
    Cycle(p2, Base, None, Map.empty, to_timestamp(lit("2026-03-01 02:00:00"))),
    // one DataFrame bound to two league slots
    Cycle(p3, Base, Some(b3), Map("NFL" -> nfl, "NBA" -> nfl), lit(at(4))),
    // an extra bookie column: a new shape
    Cycle(p4, Wide, Some(b4), Map("NFL" -> nfl, "NBA" -> nba), lit(at(6))),
    Cycle(p5, Wide, Some(b5), Map("NFL" -> nfl, "NBA" -> nba),
      to_timestamp(lit("2026-03-01 08:00:00"))),
    Cycle(p6, Wide, None, Map("NBA" -> nba), current_timestamp()))

  private def rows(d: DataFrame): Seq[String] = d.collect().map(_.toString).sorted.toSeq

  /** Mirror rows without the instant-dependent `updated_at` column when
    * the cycle's clock is the wall clock (each side reads its own). */
  private def mirrorRows(m: CollectingMirror, wallClock: Boolean): (Seq[String], Seq[String]) = {
    val (header, rs) = m.last.get
    val keep = header.indices.filterNot(i => wallClock && header(i) == "updated_at")
    (keep.map(header), rs.map(r => keep.map(r).mkString("|")).sorted)
  }

  private def logRows(log: NotificationLog, wallClock: Boolean): Seq[String] = {
    val d = log.read(spark)
    rows(if (wallClock) d.select("team", "message") else d)
  }

  property("Engine.run == the per-cycle composition over consecutive cycles") =
    forAll(cycles, Gen.oneOf(Seq.empty[String], Seq("Caesars")),
      Gen.oneOf(Seq.empty[String], Seq("DraftKings")), Gen.choose(1, 2)) {
      (cs, banned, star, cap) =>
        val root = Files.createTempDirectory("prepared_").toString
        val (preparedLog, oracleLog) =
          (new NotificationLog(root + "/prepared"), new NotificationLog(root + "/oracle"))
        val dims = teams
        cs.zipWithIndex.forall { case (c, k) =>
          val wallClock = k == cs.size - 1
          val raw = odds(c.page, c.bookies)
          val (ps, pm, os, om) = (new CollectingAlertSink, new CollectingMirror,
            new CollectingAlertSink, new CollectingMirror)
          val builds = Engine.templateBuilds
          val got = Engine.run(raw, c.bookies, "Bet365", dims, c.bovada, c.scores,
            preparedLog, ps, Some(pm), banned, star, maxAlertsPerTeamDay = cap, now = c.now)
          // a repeated shape builds no template
          val rebuilt = Engine.templateBuilds - builds
          val want = oracleRun(raw, c.bookies, "Bet365", dims, c.bovada, c.scores,
            oracleLog, os, om, banned, star, cap, c.now)
          val ok = (k != 4 || rebuilt == 0) &&
            got.delivered == want.delivered && got.mirrored == want.mirrored &&
            ps.sent.sorted == os.sent.sorted &&
            mirrorRows(pm, wallClock) == mirrorRows(om, wallClock) &&
            got.alerts.columns.toSeq == want.alerts.columns.toSeq &&
            rows(got.alerts) == rows(want.alerts) &&
            logRows(preparedLog, wallClock) == logRows(oracleLog, wallClock)
          if (!ok) println(s"prepared scan differs from the oracle at cycle $k " +
            s"(templates built: $rebuilt): delivered ${ps.sent} vs ${os.sent}")
          ok
        }
    }
}
