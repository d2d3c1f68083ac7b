package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** One timed interval. Times are milliseconds on the wall clock (the same
  * clock Spark stamps its listener events with), at nanosecond
  * resolution. `parent` is the index of the enclosing span, -1 for a root.
  */
final case class Span(name: String, start: Double, end: Double, parent: Int, run: Int)

/** Monotonic wall clock in epoch milliseconds: anchored once to
  * `currentTimeMillis`, advanced by `nanoTime`.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Span recorder and step runner. Off, a step is just its body: the
  * pipeline stays lazy and the workload's final action runs it. On, each
  * step gets a span and a job group, its physical plan is forced under a
  * `plan` child span, and its result is materialized so the step's own
  * Spark jobs run inside its span. Spans stay in memory until the end of
  * the run.
  */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var run = -1
  private val pinned = mutable.ArrayBuffer.empty[DataFrame]

  def beginRun(id: Int): Unit = { run = id; stack.clear() }

  /** The job group a span's Spark jobs carry: unique per span. */
  private def group(idx: Int): String = s"graftbench:$run:$idx"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(name, Clock.nowMs, Double.NaN, parent, run)
      stack.push(idx)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(group(idx), name)
      try body
      finally {
        stack.pop()
        spans(idx) = spans(idx).copy(end = Clock.nowMs)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup)
      }
    }

  /** A step whose result is a DataFrame: traced, it is planned and
    * materialized inside its own span and the materialized frame is
    * returned; untraced, the lazy frame is returned unchanged.
    */
  def step(name: String)(body: => DataFrame): DataFrame =
    if (!on) body
    else span(name) {
      val df = body
      span("plan")(df.queryExecution.executedPlan)
      val m = df.localCheckpoint(eager = true)
      pinned += m
      m
    }

  /** Drops the blocks of every frame materialized since the last call. */
  def releaseMaterialized(): Unit = {
    pinned.foreach(graft.core.Materialize.releaseCheckpoint)
    pinned.clear()
  }
}

/** One Spark job as the listener saw it: `group` is the job group the
  * submitting thread carried; times are listener event times (epoch ms).
  */
final case class JobRec(id: Int, group: String, start: Double, var end: Double,
    stages: Seq[Int])

/** Task totals of one completed stage attempt. */
final case class StageRec(id: Int, attempt: Int, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Benchmark-owned listener: records every job (with its job group) and
  * the task totals of every completed stage.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, g, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages += StageRec(i.stageId, i.attemptNumber(), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Delivers every event already posted (the listener bus is
    * asynchronous), so the records are complete up to this call.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.graft.ListenerBridge.drain(sc)
}
