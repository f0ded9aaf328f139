package perfbench

import java.nio.file.Path
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Arbitrage, Bovada, Engine, Normalize, Scores}
import graft.sinks.{Alerting, CollectingAlertSink, CollectingMirror, NotificationLog}
import graft.sources.TeamDims

/** The scan loop: each cycle reads a fresh snapshot (odds pages through
  * the odds-html source, the Bovada text blob, the scores pages), runs
  * the whole engine against a notification log that grows for the
  * whole run, and pushes the surviving alerts. The simulated clock
  * advances two hours per cycle and is injected through `now`. */
final class ArbWorkload(spark: SparkSession, seed: Long, market: Market,
                        root: Path) extends Workload {
  private val gen = new OddsGen(seed, market)
  private val dims = gen.writeDims(root.resolve("dims"))
  private val t0 = Instant.parse("2026-10-17T00:00:00Z")
  private val CycleSeconds = 2 * 3600L
  private val MaxPerTeamDay = 3

  private val logDir = root.resolve("log")
  private val log = new NotificationLog(logDir.toString)
  private val sent = scala.collection.mutable.Map[(String, Long), Int]()
  private val totals = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  private var cycles = 0

  private def cycleDir(k: Int) = root.resolve(s"cycles/$k")
  private def time(k: Int) = t0.plusSeconds(k * CycleSeconds)

  def items(k: Int): Long = gen.gridRows(k)

  def generate(k: Int): Unit = {
    Io.deleteTree(cycleDir(k - 2))
    gen.write(k, cycleDir(k))
  }

  private def sources(k: Int) = {
    val d = cycleDir(k)
    val named = Normalize.promoteHeader(
        spark.read.format("odds-html").load(d.resolve("odds").toString))
      .withColumn("Sport", regexp_extract(col("file"), "([A-Za-z]+)\\.html$", 1))
    val blobs = spark.read.option("wholetext", "true")
      .text(d.resolve("bovada.txt").toString).select(col("value").as("text"))
    val scores = market.leagues.map { l =>
      l -> spark.read.format("odds-html").load(d.resolve(s"scores/$l.html").toString)
        .select((0 until 8).map(i => col("cells").getItem(i).as(s"c$i")): _*)
    }.toMap
    (named, blobs, scores, TeamDims.load(spark, dims))
  }

  def run(k: Int, tracer: Option[Tracer]): CycleOut = {
    val sink = new CollectingAlertSink
    val mirror = new CollectingMirror
    val now = lit(time(k))
    tracer match {
      case None =>
        val (named, blobs, scores, teams) = sources(k)
        val r = Engine.run(named, market.bookies, market.classifier, teams,
          Some(blobs), scores, log, sink, Some(mirror), market.banned, market.star,
          minMarginPct = 3, maxAlertsPerTeamDay = MaxPerTeamDay, now = now)
        CycleOut(sink.sent.toSeq, r.mirrored.toLong)
      case Some(t) =>
        // Engine.run's composition, step by step, each layer's output
        // materialized at its boundary so its span holds its own work.
        def pin(df: DataFrame) = df.localCheckpoint(true)
        val (named, blobs, scores, teams) = t.span("sources.read") {
          val (n, b, s, tm) = sources(k)
          (pin(n), pin(b), s.map { case (l, df) => l -> pin(df) }, pin(tm))
        }
        val enriched = t.span("pipeline.normalize") {
          pin(TeamDims.enrich(Normalize.grid(named, market.bookies, market.classifier), teams))
        }
        val withBov = t.span("pipeline.bovada") {
          pin(Normalize.withBovada(enriched, Bovada.quotes(blobs, "text")))
        }
        val current = t.span("pipeline.scores") {
          val finished = scores.toSeq.sortBy(_._1)
            .map { case (sport, raw) => Scores.finishedGames(raw, sport) }
            .reduce(_ unionByName _)
          pin(Scores.removeFinished(withBov, finished))
        }
        val mirrored = t.span("sinks.mirror") {
          Alerting.mirror(Alerting.withUpdatedAt(current, now), mirror).toLong
        }
        val alerts = t.span("pipeline.arbitrage") {
          pin(Arbitrage.jurisdiction(
            Arbitrage.detect(current, market.bookies :+ "Bovada", 3),
            market.banned, market.star))
        }
        val limited = t.span("sinks.log_append") {
          log.rateLimitAndAppend(
            alerts.select(col("Team").as("team"), now.as("ts"), col("message")),
            maxPerDay = MaxPerTeamDay, appendedAt = now)
        }
        val delivered = t.span("sinks.deliver") {
          Alerting.deliver(limited, "message", sink)
        }
        CycleOut(sink.sent.toSeq, mirrored, counts = () => Map(
          "sources.rows_out" ->
            (named.count() + blobs.count() + scores.values.map(_.count()).sum).toDouble,
          "pipeline.grid_rows" -> current.count().toDouble,
          "pipeline.alert_rows" -> alerts.count().toDouble,
          "delivered" -> delivered.toDouble))
    }
  }

  def check(k: Int, out: Option[CycleOut]): Boolean = {
    val day = time(k).getEpochSecond / 86400
    val alerts = gen.alerts(k)
    // the log's rate limit: per (team, UTC day), already-sent rows plus
    // this cycle's legs in message order stay within the cap
    val expected = alerts.groupBy(_._1).toSeq.flatMap { case (team, legs) =>
      val before = sent.getOrElse((team, day), 0)
      val kept = legs.map(_._2).sorted.take(math.max(0, MaxPerTeamDay - before))
      sent((team, day)) = before + kept.size
      kept
    }
    cycles += 1
    totals("expected_alerts") += alerts.size
    totals("expected_delivered") += expected.size
    out.map(_.counts()).filter(_.nonEmpty).foreach { c =>
      totals("pinned") += 1
      c.foreach { case (n, v) => totals(n) += v }
    }
    out.exists { o =>
      o.messages.sorted == expected.sorted &&
        o.mirrored == gen.gridRows(k)
    }
  }

  def layerCounts(): Map[String, Double] = {
    val n = math.max(totals("pinned"), 1.0)
    val (files, bytes) = Io.dataFiles(logDir)
    Map(
      "sources.rows_out" -> totals("sources.rows_out") / n,
      "pipeline.grid_rows" -> totals("pipeline.grid_rows") / n,
      "pipeline.alert_rows" -> totals("pipeline.alert_rows") / n,
      "sinks.suppressed_frac" ->
        (if (totals("pipeline.alert_rows") > 0)
          1 - totals("delivered") / totals("pipeline.alert_rows") else 0.0),
      "sinks.log_files" -> files.toDouble,
      "sinks.log_bytes" -> bytes.toDouble)
  }

  override def quality(): Map[String, Double] = Map(
    "alerts_expected_per_cycle" -> totals("expected_alerts") / math.max(cycles, 1),
    "alerts_delivered_per_cycle" -> totals("expected_delivered") / math.max(cycles, 1))
}
