package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** One finished task's counters, at its finish time (epoch millis). */
final case class Task(finish: Long, inBytes: Long, outBytes: Long,
    shuffleBytes: Long, gcMs: Long)

/** Spark's own view of the work: job intervals and per-task counters,
  * kept in memory. Installed only in the traced run. */
final class JobListener extends SparkListener {
  final class Job(val start: Long) { @volatile var end: Long = -1L }

  private val jobs = scala.collection.mutable.Map.empty[Int, Job]
  private val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs(e.jobId) = new Job(e.time) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.finishTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.jvmGCTime)
    }
  }

  /** Completed jobs as (start, end) epoch-millis intervals. */
  def jobIntervals: Seq[(Long, Long)] = synchronized {
    jobs.values.filter(_.end >= 0).map(j => (j.start, j.end)).toSeq
  }
  def taskList: Seq[Task] = synchronized(tasks.toList)
}

/** One call into a layer, as the benchmark saw it from outside. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startMs: Long, endMs: Long, wallNs: Long)

/** What the listener saw inside one span. `union` is the time at least
  * one job ran; the driver gap is the rest of the span's wall time. */
final case class SpanCost(wallS: Double, jobs: Int, jobS: Double,
    unionS: Double, tasks: Long, inBytes: Long, outBytes: Long,
    shuffleBytes: Long, gcS: Double) {
  def driverGapS: Double = math.max(0.0, wallS - unionS)
  def jobOverlap: Double = if (unionS > 0) jobS / unionS else 0.0
  def +(o: SpanCost): SpanCost = SpanCost(wallS + o.wallS, jobs + o.jobs,
    jobS + o.jobS, unionS + o.unionS, tasks + o.tasks, inBytes + o.inBytes,
    outBytes + o.outBytes, shuffleBytes + o.shuffleBytes, gcS + o.gcS)
}
object SpanCost {
  val zero: SpanCost = SpanCost(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Span recorder. Untraced, `span` only runs its body; traced, it keeps
  * every span in memory and costs them against the listener at the end. */
final class Tracer(val listener: Option[JobListener]) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](layer: String, name: String)(body: => A): A =
    if (listener.isEmpty) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      open = id :: open
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        spans(id) = Span(id, parent, layer, name, ms0,
          System.currentTimeMillis(), ns1 - ns0)
        open = open.tail
      }
    }

  def all: Seq[Span] = spans.toList

  def cost(s: Span): SpanCost = listener match {
    case None => SpanCost.zero
    case Some(l) => Tracer.cost(s, l.jobIntervals, l.taskList)
  }

  def costOf(layer: String, name: String): SpanCost =
    all.filter(s => s.layer == layer && s.name == name).map(cost)
      .foldLeft(SpanCost.zero)(_ + _)
}

object Tracer {
  /** Jobs clipped to the span; tasks by finish time. */
  def cost(s: Span, jobs: Seq[(Long, Long)], tasks: Seq[Task]): SpanCost = {
    val clipped = jobs
      .filter { case (a, b) => b >= s.startMs && a <= s.endMs }
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .sortBy(_._1)
    var union = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) union += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) union += curB - curA
    val ts = tasks.filter(t => t.finish >= s.startMs && t.finish <= s.endMs)
    SpanCost(s.wallNs / 1e9, clipped.size,
      clipped.map { case (a, b) => b - a }.sum / 1e3, union / 1e3,
      ts.size.toLong, ts.map(_.inBytes).sum, ts.map(_.outBytes).sum,
      ts.map(_.shuffleBytes).sum, ts.map(_.gcMs).sum / 1e3)
  }
}
