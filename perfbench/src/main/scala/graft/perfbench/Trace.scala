package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters of one span, or of a whole pass. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L
}

/** Listens to every job, stage and task of the session. Jobs are tied to
  * the span that was active on the submitting thread through the local
  * property [[Trace.SpanKey]] (Spark copies local properties to the
  * threads it spawns for broadcasts and subqueries). Job intervals are
  * kept too, so a caller that cannot set the property — the API server's
  * own handler threads — can attribute jobs by time window. */
final class JobListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val bySpan = mutable.HashMap.empty[Int, Counters]
  val total = new Counters
  /** (start ms, end ms, tasks) per finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Int)]
  /** task run times per stage, for the skew total */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  /** (start ms, end ms or open, span) of time-window spans */
  private val windows = mutable.ArrayBuffer.empty[(Long, Long, Int)]

  def openWindow(span: Int): Unit = synchronized {
    windows += ((System.currentTimeMillis(), Long.MaxValue, span))
  }
  def closeWindow(): Unit = synchronized {
    val (s, _, span) = windows.last
    windows(windows.size - 1) = (s, System.currentTimeMillis(), span)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt)
      .orElse(windows.reverseIterator.find { case (s, end, _) => s <= e.time && e.time <= end }.map(_._3))
      .getOrElse(-1)
    e.stageIds.foreach(s => stageSpan(s) = span)
    if (span != Trace.Ignored) {
      counters(span).jobs += 1
      total.jobs += 1
      jobStart(e.jobId) = (e.time, e.stageInfos.map(_.numTasks).sum)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, n) => jobIntervals += ((t0, e.time, n)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val span = stageSpan.getOrElse(e.stageId, -1)
    if (m != null && span != Trace.Ignored) {
      val cs = Seq(counters(span), total)
      cs.foreach { c =>
        c.tasks += 1
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  def reset(): Unit = synchronized {
    bySpan.clear(); jobIntervals.clear(); stageTaskMs.clear(); windows.clear()
    total.jobs = 0L; total.tasks = 0L; total.shuffleBytes = 0L
    total.spillBytes = 0L; total.cpuNs = 0L; total.gcMs = 0L
  }

  /** Largest stage (by summed task time): its slowest task over its
    * median task. */
  def taskSkew: Double = synchronized {
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = Stats.quantile(ts.map(_.toDouble).toIndexedSeq, 0.5)
      if (med <= 0) 1.0 else ts.last / med
    }
  }
}

/** Span recorder for the traced run: spans stay in memory and are
  * written out when the run ends. A span's self time is its duration
  * minus the part its child spans cover. */
final class Trace(spark: SparkSession, val runId: String) {
  case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var active = -1

  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s = Span(spans.size, name, active, System.nanoTime(), 0L)
    spans += s
    val outer = active
    active = s.id
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      active = outer
      sc.setLocalProperty(Trace.SpanKey, if (outer < 0) null else outer.toString)
    }
  }

  def selfNs(s: Span): Long =
    (s.end - s.start) - spans.filter(_.parent == s.id).map(c => c.end - c.start).sum

  /** self ms per span name, summed over every span of that name */
  def selfMsByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfNs).sum / 1e6 }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  /** span id of benchmark-side work, which no counter includes */
  val Ignored = -2
}
