package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Engine counters for the traced run, from a listener the benchmark
  * registers itself. Every event is kept with its wall-clock time so a
  * workload can attribute counters to the window of one operation.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val jobs = ArrayBuffer[JobSpan]()
  private val stages = ArrayBuffer[StageSpan]()
  private val tasks = ArrayBuffer[TaskSample]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += JobSpan(s, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += StageSpan(s, c)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskSample(
      end = e.taskInfo.finishTime,
      cpuNs = m.executorCpuTime,
      runMs = m.executorRunTime,
      scanBytes = m.inputMetrics.bytesRead,
      shuffleRead = m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Totals over events that ended inside [from, to] (epoch ms). */
  def window(from: Long, to: Long): Totals = synchronized {
    def in(t: Long) = t >= from && t <= to
    val js = jobs.filter(j => in(j.end))
    val ss = stages.filter(s => in(s.end))
    val ts = tasks.filter(t => in(t.end))
    Totals(
      jobs = js.size,
      stages = ss.size,
      tasks = ts.size,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      runS = ts.map(_.runMs).sum / 1e3,
      scanBytes = ts.map(_.scanBytes).sum,
      shuffleRead = ts.map(_.shuffleRead).sum,
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      spill = ts.map(_.spill).sum,
      stageBusyMs = Stats.coveredWithin((from, to),
        ss.map(s => (s.start, s.end)).toSeq),
      jobBusyMs = Stats.coveredWithin((from, to),
        js.map(j => (j.start, j.end)).toSeq),
      wallMs = to - from)
  }
}

object SparkCounters {
  final case class JobSpan(start: Long, end: Long)
  final case class StageSpan(start: Long, end: Long)
  final case class TaskSample(end: Long, cpuNs: Long, runMs: Long,
      scanBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

  final case class Totals(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
      runS: Double, scanBytes: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, stageBusyMs: Long, jobBusyMs: Long, wallMs: Long) {
    /** Wall time no stage was running: driver-side work. */
    def driverGapS: Double = (wallMs - stageBusyMs) / 1e3

    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, cpuS + o.cpuS, runS + o.runS,
      scanBytes + o.scanBytes, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, spill + o.spill,
      stageBusyMs + o.stageBusyMs, jobBusyMs + o.jobBusyMs, wallMs + o.wallMs)
  }

  val Zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}
