package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer boundary crossed during one cycle. Times are
  * System.nanoTime; jobs and tasks are the Spark work submitted while
  * this span was the innermost open one. */
final case class Span(id: Int, parent: Int, name: String, cycle: Int,
                      startNs: Long, var endNs: Long = 0L,
                      var jobs: Int = 0, var tasks: Int = 0)

/** One task run under a span: wall-clock launch and finish (ms), the
  * shuffle bytes it wrote, and the cycle of its span. */
final case class TaskRun(launchMs: Long, finishMs: Long, shuffleBytes: Long, cycle: Int)

/** Spans kept in memory and written out when the run ends, plus a
  * SparkListener that attributes jobs, tasks and shuffle bytes to the
  * span that submitted them (through a job-group local property, so
  * the asynchronous listener bus cannot misattribute late events). */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val stageSpan = scala.collection.mutable.Map[Int, Int]()
  /** Every task run under a span. */
  private val taskLog = ArrayBuffer[TaskRun]()
  var cycle: Int = -1

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), name, cycle,
        System.nanoTime)
      spans += s
      s
    }
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(i => spans(i).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(i => stageSpan(e.stageInfo.stageId) = i)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { i =>
      spans(i).tasks += 1
      val shuffle = Option(e.taskMetrics).fold(0L)(_.shuffleWriteMetrics.bytesWritten)
      taskLog += TaskRun(e.taskInfo.launchTime, e.taskInfo.finishTime, shuffle, spans(i).cycle)
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)

  /** Waits for the listener bus, then returns a consistent snapshot. */
  def snapshot(): (Seq[Span], Seq[TaskRun]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized((spans.map(_.copy()).toSeq, taskLog.toSeq))
  }
}

object Trace {

  /** A span's duration minus the part of it its children cover
    * (children of one span run one after another, never overlapping). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childNs = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  /** Total length of the union of intervals, clipped to `windows`. */
  def coveredMs(intervals: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    val clipped = for {
      (a, b) <- intervals; (w0, w1) <- windows
      s = math.max(a, w0); t = math.min(b, w1) if t > s
    } yield (s, t)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.sortBy(_._1).foreach { case (s, t) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = t }
      else curE = math.max(curE, t)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeJsonLines(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","cycle":${s.cycle},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs},"tasks":${s.tasks}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
