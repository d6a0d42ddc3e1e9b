package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Concurrent evaluation of INDEPENDENT work sharing one SparkSession
  * (spark_optimization_guide §2.6 "Overlap independent jobs"): Spark's
  * scheduler happily runs several jobs at once inside one application;
  * composed queries that union independent sub-serves (the nine
  * takedown axes, the exact-vs-approx envelope arms) are only
  * sequential because the driver evaluates them sequentially. Each
  * branch runs on a pool thread under its own JOB GROUP, so the next
  * branch's tasks back-fill executor cores freed by the current
  * branch's tail; checkpointed frames are then safe to union into one
  * cheap final plan (which also keeps the OPTIMIZER off the
  * concatenated mega-plan — the composed takedown's single-plan form
  * was 2155 operators).
  *
  * Contract notes:
  *  - Branches MAY construct queries and run `ensure*` builders
  *    (optimization r16): [[BuildTimer]] accrues the interval UNION of
  *    concurrent outermost builder frames, so overlapping builds do not
  *    double-accrue the meter, and cold artifact writes go through the
  *    per-path lock in `Artifacts.buildGate`, so they do not race.
  *  - `localCheckpoint` keeps every row on the executors (block
  *    manager), so this is NOT a driver collect; result rows and schema
  *    are unchanged, only the evaluation order is.
  *  - Failure containment (ADVICE r15): every branch of one [[run]]
  *    call shares a job group with interrupt-on-cancel; the first
  *    branch failure cancels the group's still-running sibling jobs
  *    before the exception propagates, so no detached branch keeps
  *    burning executors (or races a caller retry) after the call has
  *    already failed.
  */
object Par {

  private val groupSeq = new AtomicLong

  /** Run independent thunks concurrently (bounded pool) and return
    * their results in order. The first failure cancels the shared job
    * group (interrupting sibling branches' running jobs) and
    * propagates. */
  def run[T](sc: SparkContext, tasks: Seq[() => T],
      parallelism: Int = 8): Seq[T] = {
    if (tasks.isEmpty) return Seq.empty
    if (tasks.size == 1) return Seq(tasks.head())
    val pool = Executors.newFixedThreadPool(math.min(parallelism, tasks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val group = s"graft-par-${groupSeq.incrementAndGet()}"
    try {
      val fs = tasks.zipWithIndex.map { case (f, i) => Future {
        // job-group properties are thread-local: tag this branch's jobs
        sc.setJobGroup(group, s"$group branch $i", interruptOnCancel = true)
        try f() finally sc.clearJobGroup()
      } }
      try Await.result(Future.sequence(fs), Duration.Inf)
      catch {
        case e: Throwable =>
          // first failure: stop the siblings' running jobs before
          // propagating — a detached branch must not outlive the call
          try sc.cancelJobGroup(group) catch { case _: Throwable => () }
          throw e
      }
    } finally pool.shutdown()
  }

  /** Materialize each frame concurrently, returning the checkpointed
    * frames in order. Frames must be fully constructed by the caller;
    * only the finished plans execute on pool threads. */
  def materialize(frames: Seq[DataFrame], parallelism: Int = 8): Seq[DataFrame] = {
    if (frames.size <= 1) return frames.map(_.localCheckpoint())
    run(frames.head.sparkSession.sparkContext,
      frames.map(f => () => f.localCheckpoint()), parallelism)
  }
}
