package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Counts scheduler events and task-metric bytes between `reset()`s:
  * jobs, stages and tasks (Bench, SPARK_GRAFT_JOBS=1) and input, shuffle
  * and spill bytes ([[ShuffleCensus]]). SPARK_GRAFT_JOBS=2 also prints
  * each job's stages to stderr. Callers drain the listener bus with
  * [[org.apache.spark.graft.ListenerBridge]] before `reset()` and before
  * reading, so one measurement's tail events cannot reach the next.
  */
private[graft] final class CounterListener extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val input, shuffleWrite, shuffleRead, spill = new AtomicLong
  private val printJobSites = sys.env.get("SPARK_GRAFT_JOBS").contains("2")

  def reset(): Unit =
    Seq(jobs, stages, tasks, input, shuffleWrite, shuffleRead, spill).foreach(_.set(0L))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (printJobSites) {
      val names = e.stageInfos.map(si => s"${si.stageId}:${si.name.takeWhile(_ != '(').trim}:${si.numTasks}").mkString(" | ")
      System.err.println(s"[jobsite] job=${e.jobId} $names")
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      input.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }
}
