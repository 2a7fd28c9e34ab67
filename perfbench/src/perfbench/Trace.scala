package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it. Times are epoch milliseconds. */
final class JobRec(val id: Int, val start: Long, val layer: String) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var inputRows = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  def dur: Double = if (end < 0) 0.0 else (end - start) / 1e3
}

/** Records every job with its interval, task totals and layer. The layer
  * is the package of the innermost engine frame (`graft.<pkg>`) in the
  * job's call site; a job started off the calling thread (a broadcast
  * build) takes the layer of the SQL execution it belongs to.
  */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]
  private val execLayer = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      JobLog.layerOf(s.details).foreach(execLayer(s.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val layer = JobLog.layerOf(site)
      .orElse(exec.flatMap(execLayer.get)).getOrElse("unattributed")
    val j = new JobRec(e.jobId, e.time, layer)
    jobs(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { byStage.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.inputRows += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
      }
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toList)
}

object JobLog {
  /** `graft.hic.Pipeline$.run(Pipeline.scala:12)` -> `hic`; a frame of a
    * class directly in `graft` -> `graft`.
    */
  def layerOf(site: String): Option[String] =
    Option(site).getOrElse("").linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") =>
        val parts = l.takeWhile(_ != '(').split('.')
        if (parts.length >= 4) parts(1) else "graft"
    }
}

/** A timed region of the benchmark: an operation and its phases. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = (end - start) / 1e3
}

/** In-memory span recorder (written out once, at the end), used from
  * the benchmark's one client thread. Disabled, it only runs the body.
  */
final class Spans(val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var ids = 0

  /** Epoch milliseconds on the monotonic clock. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def apply[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      ids += 1
      val id = ids
      val parent = stack.headOption.getOrElse(0)
      val t0 = now()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, kind, name, t0, now())
      }
    }

  def all: Seq[Span] = done.toList
}

/** Interval arithmetic over spans and jobs. */
object Intervals {
  /** Seconds of [lo, hi] covered by the union of the given intervals. */
  def covered(lo: Double, hi: Double, xs: Seq[(Double, Double)]): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total / 1e3
  }

  def jobIntervals(js: Seq[JobRec]): Seq[(Double, Double)] =
    js.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble))

  /** Jobs that started inside the span. */
  def jobsIn(s: Span, js: Seq[JobRec]): Seq[JobRec] =
    js.filter(j => j.start >= s.start - 1 && j.start <= s.end + 1)

  /** Self time per span kind: each span's duration minus the part its
    * child spans and its own jobs cover; jobs count as kind `job`.
    */
  def selfTimes(spans: Seq[Span], js: Seq[JobRec]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val perSpan = spans.map { s =>
      val children = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val leafJobs =
        if (kids.contains(s.id)) Nil else jobIntervals(jobsIn(s, js))
      s.kind -> (s.dur - covered(s.start, s.end, children ++ leafJobs))
    }
    val jobSelf = "job" -> js.map(_.dur).sum
    (perSpan :+ jobSelf).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** JSON lines: every span, then every job. */
  def spanFile(spans: Seq[Span], js: Seq[JobRec]): String = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= Out.obj(Seq("span" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Out.str(s.kind), "name" -> Out.str(s.name),
        "start_ms" -> Out.num(s.start), "end_ms" -> Out.num(s.end))) += '\n'
    }
    js.foreach { j =>
      sb ++= Out.obj(Seq("job" -> j.id.toString, "layer" -> Out.str(j.layer),
        "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
        "stages" -> j.stages.toString, "tasks" -> j.tasks.toString)) += '\n'
    }
    sb.toString
  }
}
