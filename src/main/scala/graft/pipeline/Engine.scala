package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Rebind
import org.apache.spark.sql.types.{DataType, StructType}
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
  *   NotificationLog.survivors + append (E3 feedback loop, K2) ->
  *   Alerting.deliver (K3).
  *
  * A scan runs the same composition every cycle; only the inputs and
  * the clock change. So the composition is analysed ONCE per input
  * shape, into four templates over placeholder slots (Rebind):
  *  - `current`: grid -> dims -> Bovada -> finished-game removal, over
  *    the odds, teams, Bovada and per-league scores inputs;
  *  - `mirror`: the mirror frame with its `updated_at` stamp, over a
  *    `current` slot;
  *  - `alerts`: detect + jurisdiction, over a `current` slot;
  *  - `survivors`: the log's rate limit, over an `alerts` and a `log`
  *    slot.
  * Each cycle binds its inputs into the templates and so skips the
  * analyser; the optimizer and planner run as before. The templates
  * are cached per shape: the session, each input's name and schema,
  * `now`'s type, the bookies, the rules, the thresholds and the
  * session's SQL conf.
  * Anything analysis depends on is in that key, so a new shape
  * builds new templates and never reuses a stale one.
  *
  * `now` is evaluated ONCE per cycle on the driver and bound as one
  * literal into every template: the mirror's `updated_at`, the alert
  * `ts` and the log's stamp share one instant.
  *
  * The bound `current` is pinned ONCE with a lazy `localCheckpoint`:
  * the mirror, the alerts and the log append all start from that one
  * materialized relation instead of each re-planning and re-running
  * the sources -> normalize -> bovada -> scores lineage (a shared
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

  /** Input shapes whose templates stay cached (least recently used out). */
  private val MaxPrepared = 8

  private case class Shape(spark: SparkSession, inputs: Seq[(String, StructType)],
                           nowType: DataType, bookies: Seq[String],
                           classifierBookie: String, bannedBookies: Seq[String],
                           starBookies: Seq[String], minMarginPct: Int,
                           maxAlertsPerTeamDay: Int, conf: Map[String, String])

  private case class Prepared(current: DataFrame, mirror: DataFrame,
                              alerts: DataFrame, survivors: DataFrame)

  private val prepared = new java.util.LinkedHashMap[Shape, Prepared](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Shape, Prepared]): Boolean =
      size > MaxPrepared
  }

  @volatile private var builds = 0L

  /** Template sets built so far (one per new input shape). */
  private[graft] def templateBuilds: Long = builds

  private def prepare(s: Shape): Prepared = prepared.synchronized {
    Option(prepared.get(s)).getOrElse {
      val in = s.inputs.map { case (n, schema) => n -> Rebind.slot(s.spark, n, schema) }.toMap
      val now = Rebind.param("now", s.nowType)

      // E1 steps 2-4: grid + dims + bovada quotes (E2).
      val enriched = TeamDims.enrich(
        Normalize.grid(in("odds"), s.bookies, s.classifierBookie), in("teams"))
      val (withBov, allBookies) = in.get("bovada") match {
        case Some(blobs) =>
          (Normalize.withBovada(enriched, Bovada.quotes(blobs, "text")),
            s.bookies :+ "Bovada")
        case None => (enriched, s.bookies)
      }
      // E1 step 5: drop finished games (reference loop over sports).
      val finished = s.inputs.collect {
        case (n, _) if n.startsWith("scores:") =>
          Scores.finishedGames(in(n), n.stripPrefix("scores:"))
      }.reduceOption(_ unionByName _)
      val current = finished.fold(withBov)(f => Scores.removeFinished(withBov, f))

      val pinned = Rebind.slot(s.spark, "current", current.schema)
      // K1: the sheet mirror gets the full current grid with the
      // updated_at display stamp (arbitrage_scanner.py:296-320).
      val mirror = Alerting.withUpdatedAt(pinned, now)
      // E1 steps 6+8: arbitrage math + alert hygiene.
      val alerts = Arbitrage.jurisdiction(
        Arbitrage.detect(pinned, allBookies, s.minMarginPct),
        s.bannedBookies, s.starBookies)
      // E3: the rate limit against the append log.
      val survivors = NotificationLog.survivors(
        Rebind.slot(s.spark, "alerts", alerts.schema)
          .select(col("Team").as("team"), now.as("ts"), col("message")),
        in("log"), maxPerDay = s.maxAlertsPerTeamDay, appendedAt = now)

      val p = Prepared(current, mirror, alerts, survivors)
      prepared.put(s, p)
      builds += 1
      p
    }
  }

  /** @param rawOdds      scraped wide odds rows (idx, Sport, Team, one
    *                     STRING column per bookie)
    * @param bovadaBlobs  E2 page blobs, None when the scrape gave up
    *                     (Fetcher returned None — the typed skip
    *                     sentinel)
    * @param scoresRaw    per-sport positional scores grids (S2); empty
    *                     map = feed unavailable, no games removed
    * @param now          injectable wall clock for deterministic tests;
    *                     evaluated once per call
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
    val spark = rawOdds.sparkSession
    val logRows = log.read(spark)
    val inputs = Seq("odds" -> rawOdds, "teams" -> teams) ++
      bovadaBlobs.map("bovada" -> _) ++
      scoresRaw.toSeq.sortBy(_._1).map { case (sport, raw) => s"scores:$sport" -> raw } :+
      ("log" -> logRows)
    val instant = Rebind.literal(spark, now)
    val p = prepare(Shape(spark, inputs.map { case (n, df) => n -> df.schema },
      instant.dataType, bookies, classifierBookie, bannedBookies, starBookies,
      minMarginPct, maxAlertsPerTeamDay, spark.conf.getAll))
    def bind(template: DataFrame, in: Seq[(String, DataFrame)]) =
      Rebind.bind(template, in.toMap, Map("now" -> instant))

    val current = bind(p.current, inputs).localCheckpoint(eager = false)
    val mirrored = mirror.fold(0)(m =>
      Alerting.mirror(bind(p.mirror, Seq("current" -> current)), m))
    val alerts = bind(p.alerts, Seq("current" -> current))
    // E3: rate limit against the append log, then push survivors (K3).
    val limited = log.append(bind(p.survivors, Seq("alerts" -> alerts, "log" -> logRows)))
    val delivered = Alerting.deliver(limited, "message", alertSink)

    Result(current, alerts, delivered, mirrored)
  }
}
