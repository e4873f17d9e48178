package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Work counts at one instant. Differences of two snapshots taken at
  * drained listener-bus boundaries give the work done in between. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, tasksFailed: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, taskGcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0) {

  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    tasksFailed - o.tasksFailed, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    taskGcMs - o.taskGcMs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes)

  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    tasksFailed + o.tasksFailed, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    taskGcMs + o.taskGcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes)

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"tasks_failed":$tasksFailed,""" +
      s""""task_run_ms":$taskRunMs,"task_cpu_ms":${taskCpuNs / 1000000},""" +
      s""""task_gc_ms":$taskGcMs,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""input_bytes":$inputBytes}"""
}

/** The benchmark's own listener: counts jobs, stages and tasks and sums
  * the task metrics an optimisation moves (run, CPU and GC time, shuffle,
  * spill and scan bytes). Registered only in traced runs. */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, tasksFailed, runMs, cpuNs, gcMs,
    shRead, shWrite, spill, input = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) tasksFailed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot: Work = Work(jobs.get, stages.get, tasks.get, tasksFailed.get,
    runMs.get, cpuNs.get, gcMs.get, shRead.get, shWrite.get, spill.get, input.get)
}
