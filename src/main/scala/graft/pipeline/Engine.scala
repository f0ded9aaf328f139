package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sinks.{AlertSink, Alerting, NotificationLog, TableMirror}
import graft.sources.TeamDims

/** The COMPLETE reference run (E1 + E2 + E3, SURVEY.md §3) as one
  * composed entry point — what a user of the reference calls instead
  * of `python arbitrage_scanner.py`:
  *
  *   raw odds grid -> Normalize.grid -> TeamDims.enrich ->
  *   Normalize.withBovada (E2 quotes; None = the skip sentinel) ->
  *   Scores.removeFinished (S2 feed) -> mirror sink (K1) ->
  *   Arbitrage.detect -> Arbitrage.jurisdiction (P13/J10) ->
  *   NotificationLog.rateLimitAndAppend (E3 feedback loop, K2) ->
  *   Alerting.deliver (K3).
  *
  * The grid after finished-game removal (`current`) is pinned ONCE
  * with a lazy `localCheckpoint`: the mirror, `Arbitrage.detect` and
  * the log append all start from that one materialized relation
  * instead of each re-analysing, re-planning and re-running the
  * sources -> normalize -> bovada -> scores lineage (a shared
  * intermediate gets no ReuseExchange across separate actions). Being
  * lazy, the pin runs the grid's shuffle stages when it is taken and
  * its last stage inside the first consumer's job (the mirror's
  * collect, or the log append when there is no mirror): no stage runs
  * twice. The driver-side materializations are then the two bounded
  * sink collects and the log append (pinned, see NotificationLog),
  * each planned over the small pinned grid.
  */
object Engine {

  case class Result(grid: DataFrame, alerts: DataFrame,
                    delivered: Int, mirrored: Int)

  /** @param rawOdds      scraped wide odds rows (idx, Sport, Team, one
    *                     STRING column per bookie)
    * @param bovadaBlobs  E2 page blobs, None when the scrape gave up
    *                     (Fetcher returned None — the typed skip
    *                     sentinel)
    * @param scoresRaw    per-sport positional scores grids (S2); empty
    *                     map = feed unavailable, no games removed
    * @param now          injectable wall clock for deterministic tests
    */
  def run(rawOdds: DataFrame,
          bookies: Seq[String],
          classifierBookie: String,
          teams: DataFrame,
          bovadaBlobs: Option[DataFrame],
          scoresRaw: Map[String, DataFrame],
          log: NotificationLog,
          alertSink: AlertSink,
          mirror: Option[TableMirror] = None,
          bannedBookies: Seq[String] = Nil,
          starBookies: Seq[String] = Nil,
          minMarginPct: Int = 3,
          maxAlertsPerTeamDay: Int = 3,
          now: Column = current_timestamp()): Result = {

    // E1 steps 2-4: grid + dims + bovada quotes (E2).
    val grid = Normalize.grid(rawOdds, bookies, classifierBookie)
    val enriched = TeamDims.enrich(grid, teams)
    val (withBov, allBookies) = bovadaBlobs match {
      case Some(blobs) =>
        (Normalize.withBovada(enriched, Bovada.quotes(blobs, "text")),
          bookies :+ "Bovada")
      case None => (enriched, bookies)
    }

    // E1 step 5: drop finished games (reference loop over sports).
    val finished = scoresRaw.toSeq.sortBy(_._1).map { case (sport, raw) =>
      Scores.finishedGames(raw, sport)
    }.reduceOption(_ unionByName _)
    val current = finished.fold(withBov)(f => Scores.removeFinished(withBov, f))
      .localCheckpoint(eager = false)

    // K1: the sheet mirror gets the full current grid with the
    // updated_at display stamp (arbitrage_scanner.py:296-320).
    val mirrored = mirror.fold(0)(m =>
      Alerting.mirror(Alerting.withUpdatedAt(current, now), m))

    // E1 steps 6+8: arbitrage math + alert hygiene.
    val alerts = Arbitrage.jurisdiction(
      Arbitrage.detect(current, allBookies, minMarginPct),
      bannedBookies, starBookies)

    // E3: rate limit against the append log, then push survivors (K3).
    val limited = log.rateLimitAndAppend(
      alerts.select(col("Team").as("team"), now.as("ts"), col("message")),
      maxPerDay = maxAlertsPerTeamDay, appendedAt = now)
    val delivered = Alerting.deliver(limited, "message", alertSink)

    Result(current, alerts, delivered, mirrored)
  }
}
