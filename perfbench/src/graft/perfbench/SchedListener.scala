package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler totals of the jobs submitted inside one wall-clock window. */
final case class SchedWindow(
    jobs: Int,
    stages: Int,
    tasks: Int,
    taskRunMs: Long,
    schedWaitMs: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    worstStageSkew: Double)

/** Records every job, stage and task of the session. The client runs one
  * operation at a time, so a job belongs to the window its submission
  * time falls in; `window` drains the asynchronous listener bus first.
  */
final class SchedListener(sc: SparkContext) extends SparkListener {
  private final class JobRec(val submitMs: Long, val stageIds: Seq[Int]) {
    var firstTaskMs: Long = Long.MaxValue
  }
  private final case class TaskRec(stageId: Int, runMs: Long, durationMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val ranStages = mutable.HashSet.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, m.executorRunTime, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    ranStages += e.stageInfo.stageId
  }

  /** Totals for jobs submitted in [t0Ms, t1Ms]. */
  def window(t0Ms: Long, t1Ms: Long): SchedWindow = {
    org.apache.spark.perfbench.BusDrain(sc)
    synchronized {
      val js = jobs.valuesIterator.filter(j => j.submitMs >= t0Ms && j.submitMs <= t1Ms).toSeq
      val stageIds = js.flatMap(_.stageIds).toSet
      val ts = tasks.filter(t => stageIds.contains(t.stageId))
      val skew = ts.groupBy(_.stageId).valuesIterator.filter(_.size > 1).map { st =>
        val d = st.map(_.durationMs.toDouble).sorted
        d.last / math.max(1.0, d(d.size / 2))
      }.foldLeft(1.0)(math.max)
      SchedWindow(
        jobs = js.size,
        stages = stageIds.count(ranStages.contains),
        tasks = ts.size,
        taskRunMs = ts.map(_.runMs).sum,
        schedWaitMs = js.filter(_.firstTaskMs != Long.MaxValue).map(j => j.firstTaskMs - j.submitMs).sum,
        shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
        shuffleReadBytes = ts.map(_.shuffleRead).sum,
        spillBytes = ts.map(_.spill).sum,
        worstStageSkew = skew)
    }
  }
}
