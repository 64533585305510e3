package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One interval of the trace: a pass, a query, a phase of a query
  * (build, plan, exec, release) or a Spark job. `parent` is the span that
  * caused it; -1 for a pass. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startNs: Long, var endNs: Long)

/** Counts and sizes of one Spark job, summed over its tasks. */
final class JobStats {
  var stages, tasks = 0L
  var taskMs, shuffleRead, shuffleWrite, spill, peakTaskMem = 0L
  var failed, cancelled = false
}

/** In-memory spans plus a listener that attributes every Spark job to the
  * phase span that was running when it was submitted. Benchmark code opens
  * and closes the pass/query/phase spans and sets [[SpanProperty]] as a
  * local property, which Spark copies into each job's properties; the
  * listener reads it back at job start. Nothing is written until the
  * caller asks for the spans at the end. */
final class Tracer extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobStats = mutable.Map.empty[Int, JobStats]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var unattributed = 0L
  // job event times are wall-clock millis; spans use the monotonic clock
  private val nanoAtMilli0 = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def open(kind: String, name: String, parent: Int): Span = synchronized {
    val s = Span(spans.size, parent, kind, name, System.nanoTime(), -1L)
    spans += s
    s
  }

  def close(s: Span): Unit = synchronized { s.endNs = System.nanoTime() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    if (parent < 0) unattributed += 1
    val s = Span(spans.size, parent, "job", s"job-${e.jobId}",
      nanoAtMilli0 + e.time * 1000000L, -1L)
    spans += s
    jobSpan(e.jobId) = s
    jobStats(e.jobId) = new JobStats
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.endNs = nanoAtMilli0 + e.time * 1000000L)
    (e.jobResult, jobStats.get(e.jobId)) match {
      case (JobFailed(ex), Some(st)) =>
        if (String.valueOf(ex.getMessage).toLowerCase.contains("cancel")) st.cancelled = true
        else st.failed = true
      case _ => ()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.failureReason.isEmpty)
      stageJob.get(e.stageInfo.stageId).flatMap(jobStats.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); st <- jobStats.get(job); m <- Option(e.taskMetrics)) {
      st.tasks += 1
      st.taskMs += m.executorRunTime
      st.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakTaskMem = math.max(st.peakTaskMem, m.peakExecutionMemory)
    }
  }

  /** The spans recorded so far, with each job's counts, and the number of
    * jobs that carried no span property. */
  def snapshot: (Seq[Span], Map[Int, JobStats], Long) = synchronized {
    val byJobSpan = jobSpan.iterator.flatMap { case (job, s) => jobStats.get(job).map(s.id -> _) }.toMap
    (spans.toList, byJobSpan, unattributed)
  }
}

object Tracer {
  /** Local property carrying the id of the phase span a job belongs to. */
  val SpanProperty = "perfbench.span"

  /** A span's duration minus the part of it covered by its children. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val ivs = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs) - covered
  }
}
