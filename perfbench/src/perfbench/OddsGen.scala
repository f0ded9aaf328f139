package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Locale

/** Shape of one odds market: which leagues, how many games per league,
  * which bookies quote them, and the jurisdiction rules. */
final case class Market(leagues: Seq[String], gamesPerLeague: Int,
                        bookies: Seq[String], classifier: String,
                        banned: Seq[String], star: Seq[String],
                        bovadaShare: Double, arbShare: Double)

/** Seeded odds-site generator and the oracle for what the scanner
  * must deliver.
  *
  * Every game keeps its two teams, its favourite and its lines for the
  * whole run; quotes drift each cycle. A planted arbitrage lasts one
  * four-cycle episode, so the same teams alert again and the
  * per-team-per-day cap has work to do. Games finish one at a time:
  * from its finish cycle a game is listed as Final on the scores page
  * while the odds page keeps listing it for three more cycles, so the
  * scanner must drop it through the scores feed. Team names are unique
  * across the market and made of letters only (the scores parser keeps
  * the leading letter run of a team cell).
  *
  * The oracle re-derives the expected alert messages from the game
  * model with plain JVM arithmetic, in the same order of operations the
  * reference formulas use (decimal odds, anchor payout, hedge stake,
  * margin), so its doubles and rounding match exactly. */
final class OddsGen(seed: Long, m: Market) {
  import OddsGen._

  val Lag = 4
  private val Types = Seq("ML", "Spread", "Over/Under")

  def team(li: Int, g: Int, side: Int): String =
    Rng.capital(Rng.word((li.toLong * m.gamesPerLeague + g) * 2 + side, 3))

  private def city(li: Int, g: Int, side: Int): String =
    Rng.capital(Rng.word(Rng(seed, 10, li, g, side).nextInt(343000), 2))

  /** Finish cycle of every game: in a seeded order of the games, one
    * finishes every `Lag` cycles from cycle -1 on, so the scores pages
    * of every cycle list exactly one game as Final that the odds pages
    * still carry, and the first finished game is no first-use cost of
    * some later cycle. */
  private val finishAt: Map[(Int, Int), Int] = {
    val r = Rng(seed, 14)
    val games = for (li <- m.leagues.indices; g <- 0 until m.gamesPerLeague) yield (li, g)
    games.map(x => (r.nextLong(), x)).sortBy(_._1).map(_._2)
      .zipWithIndex.map { case (x, j) => x -> (Lag * j - 1) }.toMap
  }

  def finish(li: Int, g: Int): Int = finishAt((li, g))

  def onPage(li: Int, g: Int, k: Int): Boolean = finish(li, g).toLong + Lag > k
  def live(li: Int, g: Int, k: Int): Boolean = finish(li, g) > k

  private def hasBovada(li: Int, g: Int): Boolean =
    Rng(seed, 15, li, g).nextDouble() < m.bovadaShare

  /** Payout cells per (bet type, side): grid bookies in `m.bookies`
    * order, then Bovada's quote when the game is on the Bovada page.
    * Values are signed integers, "even" (+100) or "N/A". */
  private def game(li: Int, g: Int, k: Int): Game = {
    val base = Rng(seed, 11, li, g)
    val favSide = base.nextInt(2)
    val fav = -(150 + base.nextInt(151))
    val dog = -fav - 20 - base.nextInt(21)
    val line = 1.5 + base.nextInt(9)
    val total = 38.5 + base.nextInt(30)
    val bov = hasBovada(li, g)
    val nQuoters = m.bookies.size + (if (bov) 1 else 0)
    val r = Rng(seed, 12, li, g, k)
    val cls = m.bookies.indexOf(m.classifier)
    // pay(bt)(side)(quoter)
    val pay = Array.tabulate(3, 2, nQuoters) { (bt, side, q) =>
      val na = q != cls && q < m.bookies.size && r.nextDouble() < 0.04
      if (na) NA
      else if (bt == 0) {
        if (side == favSide) (fav - r.nextInt(9)).toString else (dog - r.nextInt(9)).toString
      } else if (r.nextDouble() < 0.03) Even
      else (-(102 + r.nextInt(24))).toString
    }
    val ep = Rng(seed, 13, li, g, k / 4)
    if (ep.nextDouble() < m.arbShare) {
      val bt = ep.nextInt(3)
      val side = if (bt == 0) 1 - favSide else ep.nextInt(2)
      val q = ep.nextInt(nQuoters)
      pay(bt)(side)(q) =
        (if (bt == 0) -fav + 15 + ep.nextInt(46) else 115 + ep.nextInt(46)).toString
    }
    Game(li, g, pay, line, total, bov)
  }

  private def sign(v: String): String = v match {
    case NA | Even => v
    case s if s.startsWith("-") => s
    case s => "+" + s
  }

  private def fmtLine(x: Double): String = String.format(Locale.US, "%.1f", Double.box(x))

  /** The odds-site cell of grid bookie `q` for (bet type, side). */
  private def cell(gm: Game, bt: Int, side: Int, q: Int): String = {
    val p = gm.pay(bt)(side)(q)
    if (p == NA) NA
    else bt match {
      case 0 => sign(p)
      case 1 => s"${if (side == 0) "+" else "-"}${fmtLine(gm.line)} ${sign(p)}"
      case _ => s"${if (side == 0) "o" else "u"}${fmtLine(gm.total)} ${sign(p)}"
    }
  }

  /** Writes cycle `k`'s snapshot: odds/<league>.html, scores/<league>.html,
    * bovada.txt, and (once) dims/<league>.csv. */
  def write(k: Int, dir: Path): Unit = {
    Files.createDirectories(dir.resolve("odds"))
    Files.createDirectories(dir.resolve("scores"))
    val header = ("Time" +: "Team" +: m.bookies)
    def tr(cells: Seq[String], tag: String = "td") =
      cells.map(c => s"<$tag>$c</$tag>").mkString("<tr>", "", "</tr>\n")
    val bovada = new StringBuilder("Bovada Sportsbook odds 10/16/26 +38 Bets ")
    m.leagues.zipWithIndex.foreach { case (league, li) =>
      val odds = new StringBuilder("<html><body><h1>Odds</h1>\n<table class=\"odds\">\n")
      odds ++= tr(header, "th")
      val scores = new StringBuilder("<html><body><table>\n")
      var listed = 0
      for (g <- 0 until m.gamesPerLeague if onPage(li, g, k)) {
        if (listed > 0 && listed % 8 == 0) {
          // the site repeats its header and a blank spacer row
          odds ++= tr(header)
          odds ++= tr(header.map(_ => ""))
        }
        listed += 1
        val gm = game(li, g, k)
        val time = s"${1 + (g % 11)}:${"%02d".format((g * 7) % 60)} PM"
        for (bt <- 0 until 3; side <- 0 until 2)
          odds ++= tr(time +: team(li, g, side) +:
            m.bookies.indices.map(q => cell(gm, bt, side, q)))
        val (a, b) = (team(li, g, 0), team(li, g, 1))
        if (!live(li, g, k))
          scores ++= tr(Seq(s"Final - $a at $b, box score and recap of the game",
            "a", "b", "c", s"${a}99-77Final", "d", "e", s"${b}77-99Final"))
        else if (g % 5 == 0)
          scores ++= tr(Seq(s"Q3 4:12 - $a at $b, live play by play and box score",
            "a", "b", "c", s"${a}21-17", "d", "e", s"${b}17-21"))
        else if (g % 7 == 0)
          scores ++= tr(Seq("Final short", "a", "b", "c", s"${a}1-0Final",
            "d", "e", s"${b}0-1Final"))
        if (gm.bovada) {
          val bq = m.bookies.size
          def bp(bt: Int, side: Int) = gm.pay(bt)(side)(bq) match {
            case Even => "EVEN"
            case p => sign(p)
          }
          bovada ++= s"10/17/26 $time ${city(li, g, 0)} $a${city(li, g, 1)} $b " +
            s"+${fmtLine(gm.line)}(${bp(1, 0)})-${fmtLine(gm.line)}(${bp(1, 1)}) " +
            s"O${fmtLine(gm.total)}(${bp(2, 0)})U${fmtLine(gm.total)}(${bp(2, 1)}) " +
            s"${bp(0, 0)}${bp(0, 1)} "
          if (g % 3 == 0) bovada ++= s"10/17/26 +${10 + g % 90} Bets "
        }
      }
      odds ++= "</table>\n</body></html>\n"
      scores ++= "</table></body></html>\n"
      Files.write(dir.resolve(s"odds/$league.html"), odds.toString.getBytes(UTF_8))
      Files.write(dir.resolve(s"scores/$league.html"), scores.toString.getBytes(UTF_8))
    }
    Files.write(dir.resolve("bovada.txt"), bovada.toString.getBytes(UTF_8))
  }

  def writeDims(dir: Path): Seq[String] = {
    Files.createDirectories(dir)
    m.leagues.zipWithIndex.map { case (league, li) =>
      val sb = new StringBuilder("Team,Sport,Abbreviation\n")
      for (g <- 0 until m.gamesPerLeague; side <- 0 until 2) {
        val t = team(li, g, side)
        sb ++= s"$t,$league,${t.take(3).toUpperCase(Locale.ROOT)}\n"
      }
      val p = dir.resolve(s"$league.csv")
      Files.write(p, sb.toString.getBytes(UTF_8))
      p.toString
    }
  }

  /** Grid rows the scanner keeps in cycle `k`: ten per live game
    * (ML payout x2, Spread and Over/Under line+payout x2 each). */
  def gridRows(k: Int): Long =
    (for (li <- m.leagues.indices; g <- 0 until m.gamesPerLeague if live(li, g, k)) yield 1L).sum * 10

  /** (team, message) of every alert leg cycle `k` should raise before
    * the rate limit. */
  def alerts(k: Int): Seq[(String, String)] = {
    val quoters = m.bookies :+ "Bovada"
    for {
      (league, li) <- m.leagues.zipWithIndex
      g <- 0 until m.gamesPerLeague if live(li, g, k)
      gm = game(li, g, k)
      bt <- 0 until 3
      legs = (0 until 2).map { side =>
        // struct(value, bookie) max: value first, then the greater name
        val vals = quoters.indices.map { q =>
          val raw = if (q < gm.pay(bt)(side).length) gm.pay(bt)(side)(q) else NA
          (payoutValue(raw).getOrElse(Double.MinValue), quoters(q))
        }
        vals.max(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String))
      }
      calc = legs(0)._1 + legs(1)._1
      signs = legs.map(l => if (l._1 >= 0) "+" else "-").distinct.size
      dec = legs.map(l => decimal(l._1))
      payout = round(dec(0) * 100, 2)
      stakes = Seq(100.0, round(payout / dec(1), 2))
      totalStake = round(stakes(0) + stakes(1), 2)
      margin = round((payout - totalStake) / totalStake * 100, 0).toInt
      if calc > 0 && signs != 1 && margin >= 3
      if legs.forall(l => !(l._1 == 100 && calc == 200))
      if !legs.exists(l => m.banned.contains(l._2))
      sport = if (legs.exists(l => m.star.contains(l._2))) "*" + league else league
      side <- 0 until 2
    } yield {
      val t = team(li, g, side)
      t -> String.format(Locale.US, "%s %s %s: bet %.2f on %s @ %s (%s), margin %d%%",
        sport, Types(bt), t, Double.box(stakes(side)), t,
        String.format(Locale.US, "%+d", Int.box(legs(side)._1.toInt)), legs(side)._2,
        Int.box(margin))
    }
  }
}

object OddsGen {
  val NA = "N/A"
  val Even = "even"

  final case class Game(li: Int, g: Int, pay: Array[Array[Array[String]]],
                        line: Double, total: Double, bovada: Boolean)

  /** A payout cell as the reference reads it: trailing " +" stripped,
    * EVEN is +100, N/A and junk are missing. */
  def payoutValue(raw: String): Option[Double] = {
    val s = raw.replaceAll("[ +]+$", "").trim
    if (s.equalsIgnoreCase("even")) Some(100.0)
    else scala.util.Try(s.toDouble).toOption
  }

  def decimal(v: Double): Double =
    if (v > 0) v / 100 + 1 else if (v < 0) 100 / math.abs(v) + 1 else 1.0

  def round(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue
}
