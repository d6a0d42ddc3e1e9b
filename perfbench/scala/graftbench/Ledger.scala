package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The benchmark's own Spark ledger: every job and stage with its times,
  * and per stage the task counts, run and CPU time, time from stage
  * submission to task launch, shuffle and spill bytes. Attribution to
  * operations and phases is done afterwards from the timestamps, since
  * only one operation is in flight at a time and composed gates submit
  * jobs from pool threads that carry no per-operation property.
  *
  * All callbacks run on the single listener-bus thread; readers drain
  * the bus first (BusDrain). */
final class Ledger extends SparkListener {
  import Ledger.Job

  final class Stage(val id: Int, val job: Int) {
    var submitted = -1L
    var completed = -1L
    var tasks = 0L
    var failed = 0L
    var runMs = 0L
    var cpuNs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  // keyed by (stage id, attempt): a retried stage is a second stage
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, stageJob.getOrElse(id, -1)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = Job(e.jobId, e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.get(e.jobId).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).completed =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failed += 1
    if (s.submitted >= 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  def json: String = {
    val js = jobs.map(j => s"""{"id":${j.id},"start":${j.start},"end":${j.end}}""")
    val ss = stages.values.map { s =>
      s"""{"id":${s.id},"job":${s.job},"submitted":${s.submitted},""" +
        s""""completed":${s.completed},"tasks":${s.tasks},"failed":${s.failed},""" +
        s""""run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"wait_ms":${s.waitMs},""" +
        s""""shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},""" +
        s""""spill":${s.spill}}"""
    }
    s"""{"jobs":[${js.mkString(",")}],"stages":[${ss.mkString(",")}]}"""
  }
}

object Ledger {
  final case class Job(id: Int, start: Long, var end: Long = -1L)
}
