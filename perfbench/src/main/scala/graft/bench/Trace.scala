package graft.bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer: name, start, end, parent span, and the id shared
  * by every span of one pipeline run or query. */
final case class Span(
    id: Long, runId: String, layer: String, name: String, parent: Long,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** What the listener attributes to one span: its jobs and stages, and the
  * summed metrics of its tasks. */
final class SpanWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (launch, finish) wall-clock ms of every task, for idle time. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Job metrics keyed by the span that was current on the submitting thread.
  * The span id travels as a Spark local property, which Spark copies into
  * every job the thread submits; a job without it ran on a thread that did
  * not inherit the caller's properties and is counted as unattributed. */
final class SpanListener extends SparkListener {
  private val work = mutable.Map.empty[Long, SpanWork]
  private val stageSpan = mutable.Map.empty[Int, Long]
  var unattributedJobs = 0L

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong)

  def workOf(span: Long): SpanWork = synchronized(work.getOrElseUpdate(span, new SpanWork))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties) match {
      case Some(s) =>
        workOf(s).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      case None => unattributedJobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).orElse(spanOf(e.properties))
      .foreach(workOf(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val w = workOf(s)
      val info = e.taskInfo
      w.tasks += 1
      w.taskIntervals += ((info.launchTime, info.finishTime))
      w.taskNs += (info.finishTime - info.launchTime) * 1000000L
      Option(e.taskMetrics).foreach { m =>
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.outputBytes += m.outputMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Records spans around calls into the program's layers. Disabled, it only
  * runs the body: the untimed and the timed code paths are the same. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private var stack = List.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** One listener for the whole run, attached only while tracing. */
  val listener = new SpanListener
  private var attached = false

  def enabled: Boolean = attached

  def enable(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  def disable(): Unit = if (attached) {
    org.apache.spark.BenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  /** Time `body` as a span of `layer`; while it runs, jobs submitted from
    * this thread carry the span's id. */
  def span[T](layer: String, name: String, runId: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(ids.incrementAndGet(), runId, layer, name, parent.map(_.id).getOrElse(0L),
        System.nanoTime(), System.currentTimeMillis())
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, parent.map(_.id.toString).orNull)
        spans += s
      }
    }

  /** Every event posted so far has reached the listener. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBridge.drainListenerBus(sc)
}

object Tracer {
  val SpanProperty = "graft.bench.span"

  /** Wall seconds of `[start, end]` (ms) covered by no task interval. */
  def idleSeconds(startMs: Long, endMs: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = startMs
    intervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, endMs - startMs - covered) / 1e3
  }
}
