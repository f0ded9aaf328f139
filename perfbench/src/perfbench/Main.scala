package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints one JSON result as the last line of stdout. See NOTES.md. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_p50_s" -> "s", "cycle_p90_s" -> "s",
    "items_per_s" -> "1/s", "live_heap_mb" -> "MB", "exact_frac" -> "frac")

  val LayerSpans: Seq[String] = Seq(
    "sources.read", "pipeline.normalize", "pipeline.bovada", "pipeline.scores",
    "pipeline.arbitrage", "sinks.mirror", "sinks.log_append", "sinks.deliver",
    "operators.exact", "operators.near", "operators.semantic", "streaming.sink")

  val PerLayer: Seq[(String, String)] = Seq(
    "session.jobs" -> "count", "session.tasks" -> "count",
    "session.no_task_frac" -> "frac", "session.core_busy_frac" -> "frac",
    "session.shuffle_bytes" -> "B", "session.gc_s" -> "s") ++
    LayerSpans.map(s => s"${s}_s" -> "s") ++ Seq(
    "sources.rows_out" -> "count", "pipeline.grid_rows" -> "count",
    "pipeline.alert_rows" -> "count", "sinks.log_files" -> "count",
    "sinks.log_bytes" -> "B", "sinks.suppressed_frac" -> "frac",
    "operators.registry_files" -> "count", "operators.registry_bytes" -> "B",
    "operators.exact_dropped" -> "count", "operators.near_dropped" -> "count",
    "operators.semantic_dropped" -> "count",
    "trace.untraced_p50_s" -> "s", "trace.traced_p50_s" -> "s",
    "trace.overhead_s" -> "s")

  val MinCycles = 3
  val WarmupCycles = 2

  final case class Cycle(k: Int, seconds: Double, ok: Boolean, failed: Boolean,
                         items: Long, pinned: Boolean, wallStartMs: Long,
                         wallEndMs: Long, gcSeconds: Double)

  val ScanMarket = Market(Seq("NFL", "NBA", "MLB"), 16,
    Seq("DraftKings", "BetMGM", "Caesars", "FanDuel", "RiversCasino", "Bet365",
      "PointsBet", "Unibet"),
    classifier = "Bet365", banned = Seq("PointsBet"), star = Seq("RiversCasino"),
    bovadaShare = 0.5, arbShare = 0.25)
  val IngestBatch = 1000

  def workload(name: String, spark: SparkSession, seed: Long, dir: Path): Workload =
    name match {
      case "arb_scan" => new ArbWorkload(spark, seed, ScanMarket, dir)
      case "curate_ingest" => new IngestWorkload(spark, seed, IngestBatch, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Closed loop: generate, run, check, for `seconds` of wall time. A
    * cycle that throws is failed, and its latency is the whole window,
    * so it misses every latency limit. With a tracer, every cycle runs
    * inside one `cycle` span, and every other cycle (the first one
    * included) is pinned: it runs layer by layer with a span per layer. */
  def loop(wl: Workload, seconds: Double, firstK: Int, minCycles: Int,
           tracer: Option[Tracer] = None): Seq[Cycle] = {
    val out = scala.collection.mutable.ArrayBuffer[Cycle]()
    val start = System.nanoTime
    var k = firstK
    while ((System.nanoTime - start) / 1e9 < seconds || out.size < minCycles) {
      wl.generate(k)
      val pinned = tracer.filter(_ => (k - firstK) % 2 == 0)
      tracer.foreach(_.cycle = k)
      val gc0 = gcSeconds()
      val w0 = System.currentTimeMillis
      val t0 = System.nanoTime
      val res = try Right(tracer.fold(wl.run(k, None))(tr => tr.span("cycle")(wl.run(k, pinned))))
      catch { case e: Exception => Left(e) }
      val dt = (System.nanoTime - t0) / 1e9
      val w1 = System.currentTimeMillis
      val gc = gcSeconds() - gc0
      res.left.foreach(e => System.err.println(s"[perfbench] cycle $k failed: $e"))
      val ok = wl.check(k, res.toOption)
      if (!ok) System.err.println(s"[perfbench] cycle $k output differs from the expected output")
      out += Cycle(k, dt, ok, res.isLeft, wl.items(k), pinned.isDefined, w0, w1, gc)
      k += 1
    }
    val window = (System.nanoTime - start) / 1e9
    out.map(c => if (c.failed) c.copy(seconds = window) else c).toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"

    val root = Paths.get("").toAbsolutePath
    val work = Paths.get(sys.props.getOrElse("perfbench.work",
      root.resolve(s"perfbench/.work/$name-$seed").toString))
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val cores = Runtime.getRuntime.availableProcessors
    var spark: SparkSession = null
    try {
      // set-up: the cold session start in this fresh JVM, workload
      // preparation (dims or centroids, fresh state) and the warm-up
      // cycles, each of which a JVM pays once. The first warm-up cycle
      // runs on empty state; the second is the first to read the state
      // (log, registries) a cycle before it wrote, so it pays the
      // first use of that read path. The measured cycles continue on
      // the state the warm-up built, so none of them is the cheap
      // empty-state case or a first use.
      val s0 = System.nanoTime
      spark = graft.GraftSession.build(cores.toString)
      spark.sparkContext.setLogLevel("ERROR")
      val wl = workload(name, spark, seed, work.resolve("state"))
      val start = (System.nanoTime - s0) / 1e9
      var warmOk = true
      val w0 = System.nanoTime
      for (k <- 0 until WarmupCycles) {
        wl.generate(k)
        warmOk &= wl.check(k, Some(wl.run(k, None)))
      }
      val warmup = (System.nanoTime - w0) / 1e9

      val (cycles, layer) =
        if (!trace) {
          (loop(wl, seconds, WarmupCycles, MinCycles), Map.empty[String, Double])
        } else {
          // one more untimed cycle, then pinned and plain cycles
          // alternate on the same state, so both halves see the same
          // JIT maturity and state size; at least two of each
          wl.generate(WarmupCycles)
          warmOk &= wl.check(WarmupCycles, Some(wl.run(WarmupCycles, None)))
          val tracer = new Tracer(spark.sparkContext)
          val all = loop(wl, seconds, WarmupCycles + 1, minCycles = 4, Some(tracer))
          val (pinned, plain) = all.partition(_.pinned)
          val (spans, tasks) = tracer.snapshot()
          tracer.detach()
          Trace.writeJsonLines(
            root.resolve(s"perfbench/traces/$name-seed$seed.jsonl"), spans)
          // session figures: the plain cycles, which run the program's
          // own composition under one span
          val plainKs = plain.map(_.k).toSet
          val plainTasks = tasks.filter(t => plainKs(t.cycle))
          val n = plain.size.toDouble
          val windows = plain.map(c => (c.wallStartMs, c.wallEndMs))
          val wallMs = windows.map(w => w._2 - w._1).sum.toDouble
          val busyMs = plainTasks.map { t =>
            windows.map { case (w0, w1) =>
              math.max(0L, math.min(t.finishMs, w1) - math.max(t.launchMs, w0))
            }.sum
          }.sum
          val plainSpans = spans.filter(s => plainKs(s.cycle))
          // layer self times: the pinned cycles
          val self = Trace.selfSeconds(spans)
          val p50 = (cs: Seq[Cycle]) => percentile(cs.map(_.seconds), 0.5)
          val m = Map(
            "session.jobs" -> plainSpans.map(_.jobs).sum / n,
            "session.tasks" -> plainSpans.map(_.tasks).sum / n,
            "session.no_task_frac" ->
              (1 - Trace.coveredMs(plainTasks.map(t => (t.launchMs, t.finishMs)), windows) / wallMs),
            "session.core_busy_frac" -> busyMs / (wallMs * cores),
            "session.shuffle_bytes" -> plainTasks.map(_.shuffleBytes).sum / n,
            "session.gc_s" -> plain.map(_.gcSeconds).sum / n,
            "trace.untraced_p50_s" -> p50(plain),
            "trace.traced_p50_s" -> p50(pinned),
            "trace.overhead_s" -> (p50(pinned) - p50(plain))) ++
            LayerSpans.map(l => s"${l}_s" ->
              spans.filter(_.name == l).map(s => self(s.id)).sum / pinned.size) ++
            wl.layerCounts()
          (all, m)
        }

      val done = cycles.filterNot(_.failed)
      val failed = cycles.count(_.failed)
      val exactFrac = cycles.count(_.ok).toDouble / cycles.size
      val quality = wl.quality()
      // live heap: the least used heap over a few full collections,
      // with pauses that let Spark's ContextCleaner drop the cached
      // blocks of frames the collections found unreachable
      val heapMb = (1 to 4).map { _ =>
        System.gc(); Thread.sleep(300)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }.min / 1048576.0
      val e2e = Map(
        "setup_s" -> (start + warmup),
        "cycle_p50_s" -> percentile(cycles.map(_.seconds), 0.5),
        "cycle_p90_s" -> percentile(cycles.map(_.seconds), 0.9),
        "items_per_s" -> (if (done.isEmpty) 0.0 else done.map(_.items).sum / done.map(_.seconds).sum),
        "live_heap_mb" -> heapMb,
        "exact_frac" -> exactFrac)
      val correct = warmOk && failed == 0 && exactFrac == 1.0 && quality.get("dup_recall").forall(_ == 1.0) &&
        quality.get("unique_kept_frac").forall(_ == 1.0)

      // the workload's own names for the same figures (NOTES.md)
      val aliases = name match {
        case "arb_scan" => Map("scan_p50_s" -> e2e("cycle_p50_s"), "scan_p90_s" -> e2e("cycle_p90_s"),
          "alerts_exact_frac" -> exactFrac)
        case _ => Map("ingest_batch_p50_s" -> e2e("cycle_p50_s"),
          "ingest_docs_per_s" -> e2e("items_per_s"))
      }
      val notes = aliases ++ quality ++ Map(
        "failed_frac" -> failed.toDouble / cycles.size, "cycles" -> cycles.size.toDouble,
        "cores" -> cores.toDouble, "setup_start_s" -> start, "setup_warmup_s" -> warmup) ++
        cycles.zipWithIndex.map { case (c, i) => s"cycle_${"%03d".format(i)}_s" -> c.seconds }
      println("notes " + Json.obj(notes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))

      val reported =
        if (trace) PerLayer.map { case (n, u) => n -> (layer.getOrElse(n, 0.0), u) }
        else EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> cycles.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(reported.map { case (n, (v, u)) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
    } finally {
      if (spark != null) spark.stop()
      Io.deleteTree(work)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
