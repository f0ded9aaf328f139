package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.{CollectingAlertSink, CollectingMirror, NotificationLog}
import org.apache.spark.sql.functions._

/** The complete composed run (E1+E2+E3): raw strings in, pushed
  * alerts + mirrored grid + appended log out. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private val bookies = Seq("DraftKings", "Caesars", "Bet365")

  private def raw = Seq(
    (0, "NFL", "Time", "DraftKings", "Caesars", "Bet365"),
    (1, "NFL", "Chiefs", "+225", "-500", "+215"), // planted arb, DK wins
    (2, "NFL", "Bills", "-600", "-180", "-580"), // Caesars wins this leg
    (3, "NFL", "Jets", "-3.5 -110", "-3.5 -105", "-3.5 -108"),
    (4, "NFL", "Dolphins", "+3.5 -110", "+3.5 -115", "+3.5 -112")
  ).toDF("idx", "Sport", "Team", "DraftKings", "Caesars", "Bet365")

  private def teams = Seq(
    ("Chiefs", "NFL", "KC"), ("Bills", "NFL", "BUF"),
    ("Jets", "NFL", "NYJ"), ("Dolphins", "NFL", "MIA")
  ).toDF("Team", "Sport", "Abbreviation")

  private val t0 = to_timestamp(lit("2026-03-01 12:00:00"))

  private def newLog() = new NotificationLog(
    Files.createTempDirectory("elog").toString + "/log")

  test("full run: alerts pushed, grid mirrored with stamp, log appended") {
    val sink = new CollectingAlertSink
    val mirror = new CollectingMirror
    val log = newLog()
    val r = Engine.run(raw, bookies, "Bet365", teams, None, Map.empty,
      log, sink, Some(mirror), now = t0)
    assert(r.delivered == 2)
    assert(sink.sent.exists(_.contains("Chiefs")) &&
      sink.sent.exists(_.contains("Bills")))
    assert(mirror.last.get._1.contains("updated_at") && r.mirrored > 0)
    assert(log.read(spark).count() == 2)

    // second run same day: log counts 1 per team; cap 1 blocks both
    val sink2 = new CollectingAlertSink
    val r2 = Engine.run(raw, bookies, "Bet365", teams, None, Map.empty,
      log, sink2, None, maxAlertsPerTeamDay = 1, now = t0)
    assert(r2.delivered == 0 && sink2.sent.isEmpty)
    assert(log.read(spark).count() == 2) // nothing appended
  }

  test("finished game: removed leg orphans its partner, which never alerts") {
    val longFinal = "Final " + "x" * 44
    val scores = Seq(
      (longFinal, "a", "b", "c", "Chiefs21-10Final", "d", "e", "Panthers3-7Final")
    ).toDF("c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
    val sink = new CollectingAlertSink
    val r = Engine.run(raw, bookies, "Bet365", teams, None,
      Map("NFL" -> scores), newLog(), sink, None, now = t0)
    // Chiefs leg removed by the scores feed; the orphaned Bills leg
    // fails the sign audit (single-leg game) — no alert at all
    assert(r.delivered == 0)
    // and the mirror grid no longer contains the Chiefs rows
    assert(r.grid.filter(col("Team") === "Chiefs").isEmpty)
    assert(!r.grid.filter(col("Team") === "Bills").isEmpty)
  }

  test("bovada blobs merge as a bookie column and can win the argmax") {
    // grid/dim teams are NICKNAMES (the odds-site convention); the
    // bovada full names reduce to nicknames before the join
    val rawSf = Seq(
      (1, "NFL", "Seahawks", "+150", "-500", "+145"),
      (2, "NFL", "49ers", "-600", "-180", "-580")
    ).toDF("idx", "Sport", "Team", "DraftKings", "Caesars", "Bet365")
    val dims = Seq(("Seahawks", "NFL", "SEA"),
      ("49ers", "NFL", "SF")).toDF("Team", "Sport", "Abbreviation")
    // without bovada: best legs +150 / -180 -> calc < 0, no alert;
    // bovada's +225 on the Seahawks creates the arb
    val blob = "x 9/14/25 " +
      "10:10 PM Seattle SeahawksSan Francisco 49ers " +
      "+3.5(-110)-3.5(-108) O47.5(-110)U47.5(-105) +225-999"
    val sink = new CollectingAlertSink
    val r = Engine.run(rawSf, bookies, "Bet365", dims,
      Some(Seq((1, blob)).toDF("blob_id", "text")), Map.empty,
      newLog(), sink, None, now = t0)
    assert(r.delivered == 2)
    val best = r.alerts.select("Team", "best_bookie")
      .as[(String, String)].collect().toMap
    assert(best("Seahawks") == "Bovada")
    assert(sink.sent.exists(m => m.contains("+225") && m.contains("Bovada")))
  }

  test("empty raw odds flow through the whole engine without error") {
    val sink = new CollectingAlertSink
    val r = Engine.run(raw.filter(lit(false)), bookies, "Bet365", teams,
      None, Map.empty, newLog(), sink, Some(new CollectingMirror), now = t0)
    assert(r.delivered == 0 && r.mirrored == 0 && sink.sent.isEmpty)
    assert(r.alerts.isEmpty)
  }

  test("jurisdiction: banned bookie kills the game, star bookie marks it") {
    val sink = new CollectingAlertSink
    val r = Engine.run(raw, bookies, "Bet365", teams, None, Map.empty,
      newLog(), sink, None, bannedBookies = Seq("Caesars"), now = t0)
    assert(r.delivered == 0) // Bills leg won by Caesars -> whole game out

    val sink2 = new CollectingAlertSink
    val r2 = Engine.run(raw, bookies, "Bet365", teams, None, Map.empty,
      newLog(), sink2, None, starBookies = Seq("Caesars"), now = t0)
    assert(r2.delivered == 2)
    assert(r2.alerts.select("Sport").as[String].collect().forall(_ == "*NFL"))
    // the star reaches the DELIVERED message channel, not just the column
    assert(sink2.sent.nonEmpty && sink2.sent.forall(_.startsWith("*NFL ")))
  }

  test("a same-shape run builds no template; a new input shape builds one") {
    def once(bks: Seq[String], odds: org.apache.spark.sql.DataFrame) =
      Engine.run(odds, bks, "Bet365", teams, None, Map.empty, newLog(),
        new CollectingAlertSink, None, maxAlertsPerTeamDay = 2, now = t0).delivered
    assert(once(bookies, raw) == 2)
    val built = Engine.templateBuilds
    assert(once(bookies, raw) == 2 && Engine.templateBuilds == built)
    // an extra bookie column is a new shape: new templates, same alerts
    val wide = raw.withColumn("FanDuel", lit("-110"))
    assert(once(bookies :+ "FanDuel", wide) == 2 && Engine.templateBuilds == built + 1)
    assert(once(bookies :+ "FanDuel", wide) == 2 && Engine.templateBuilds == built + 1)
  }

  test("now is one instant per run: mirror stamp, alert ts and log stamp agree") {
    // evaluating the clock on the driver submits no job
    assert(org.apache.spark.JobsSubmitted.during(spark.sparkContext) {
      org.apache.spark.sql.graft.Rebind.literal(spark, current_timestamp())
    } == 0)
    val mirror = new CollectingMirror
    val log = newLog()
    val r = Engine.run(raw, bookies, "Bet365", teams, None, Map.empty,
      log, new CollectingAlertSink, Some(mirror), now = current_timestamp())
    assert(r.delivered == 2)
    val stamps = log.read(spark).select(
      date_format(col("sent_at"), "yyyy-MM-dd HH:mm"),
      graft.functions.Timestamps.phoenixDisplay(col("sent_at")), col("updated_at"))
      .as[(String, String, String)].collect().distinct
    assert(stamps.length == 1 && stamps.head._2 == stamps.head._3, stamps.toSeq)
    val (header, rows) = mirror.last.get
    val at = header.indexOf("updated_at")
    assert(rows.map(_(at)).distinct == Seq(stamps.head._1))
  }

  test("a slot left unbound fails at planning, naming itself") {
    import org.apache.spark.sql.graft.Rebind
    val slot = Rebind.slot(spark, "odds", raw.schema)
    val e = intercept[Throwable](slot.filter(col("Team") === "Jets").collect())
    assert(e.toString.contains("odds") || e.getCause.toString.contains("odds"), e)
    // binding checks the schema, nullability included
    val template = slot.select(col("Team"))
    assert(Rebind.bind(template, Map("odds" -> raw)).as[String].collect().length == 5)
    intercept[IllegalArgumentException](Rebind.bind(template, Map("odds" -> raw.drop("idx"))))
    intercept[IllegalArgumentException](Rebind.bind(template, Map.empty))
  }
}
