package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Cumulative Spark counters, read as deltas around an operation. */
case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    failedTasks: Long = 0, taskRunMs: Long = 0, taskCpuNs: Long = 0,
    taskGcMs: Long = 0, shuffleWriteB: Long = 0, shuffleReadB: Long = 0,
    spillB: Long = 0, inputB: Long = 0, outputB: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, failedTasks - o.failedTasks, taskRunMs - o.taskRunMs,
    taskCpuNs - o.taskCpuNs, taskGcMs - o.taskGcMs,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB,
    spillB - o.spillB, inputB - o.inputB, outputB - o.outputB)

  def toMap: Map[String, Any] = {
    val mb = 1024.0 * 1024.0
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "task_run_s" -> taskRunMs / 1e3,
      "task_cpu_s" -> taskCpuNs / 1e9, "task_gc_s" -> taskGcMs / 1e3,
      "shuffle_write_mb" -> shuffleWriteB / mb,
      "shuffle_read_mb" -> shuffleReadB / mb, "spill_mb" -> spillB / mb,
      "input_mb" -> inputB / mb, "output_mb" -> outputB / mb)
  }
}

/** A listener the traced run registers: it sums job, stage and task
  * metrics. Events arrive on Spark's listener bus thread; `snapshot`
  * first waits for the bus to drain, so a snapshot taken after an
  * action returns covers every task of that action.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private var c = Counters()

  def snapshot(): Counters = {
    org.apache.spark.BusDrain(sc)
    synchronized(c)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.reason == Success) 0 else 1
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1,
      failedTasks = c.failedTasks + failed)
    else c.copy(
      tasks = c.tasks + 1,
      failedTasks = c.failedTasks + failed,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      taskGcMs = c.taskGcMs + m.jvmGCTime,
      shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadB = c.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputB = c.inputB + m.inputMetrics.bytesRead,
      outputB = c.outputB + m.outputMetrics.bytesWritten)
  }
}
