package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The dev tools' one metrics listener: Spark job, stage and task
  * counts, task CPU, shuffle and spill volume, and one row per
  * completed stage, summed over every job of the context.
  *
  * Task CPU (`executorCpuTime` + the deserialize slice) is the bench's
  * contention-invariant signal: it counts nanoseconds a task thread
  * was on a core, so time spent descheduled by other processes on a
  * shared box does not accrue (SCALE.md "Round-13 bench protocol").
  * It does not see driver-side work (planning, codegen compile,
  * collects) or I/O wait; wall is recorded next to it.
  *
  * [[snapshot]] drains the asynchronous listener bus first, so every
  * event of a finished action is counted before the read and none
  * bleeds into the next window; the difference of two snapshots is the
  * window between them. */
final class RunMetrics(sc: SparkContext) {
  import RunMetrics._

  private var jobs, stages, tasks, cpuNs, deserCpuNs = 0L
  private var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes = 0L
  private var memorySpillBytes, diskSpillBytes = 0L
  private var stageRows = Vector.empty[StageRow]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      RunMetrics.this.synchronized { jobs += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      RunMetrics.this.synchronized {
        tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          cpuNs += m.executorCpuTime
          deserCpuNs += m.executorDeserializeCpuTime
          shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          memorySpillBytes += m.memoryBytesSpilled
          diskSpillBytes += m.diskBytesSpilled
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      RunMetrics.this.synchronized {
        val si = e.stageInfo
        val wallMs = (for (end <- si.completionTime; start <- si.submissionTime)
          yield end - start).getOrElse(0L)
        val tm = si.taskMetrics
        val stageCpuNs =
          if (tm == null) 0L else tm.executorCpuTime + tm.executorDeserializeCpuTime
        stages += 1
        stageRows :+= StageRow(si.stageId, si.name, si.numTasks, wallMs / 1e3, stageCpuNs / 1e9)
      }
  })

  /** Every counter so far, after draining the listener bus. */
  def snapshot(): Snapshot = {
    org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
    synchronized {
      Snapshot(jobs, stages, tasks, cpuNs, deserCpuNs, shuffleWriteBytes,
        shuffleWriteRecords, shuffleReadBytes, memorySpillBytes, diskSpillBytes, stageRows)
    }
  }
}

object RunMetrics {
  /** One completed stage attempt: wall from submission to completion
    * and task CPU as in [[Snapshot.taskCpuSec]]. */
  final case class StageRow(id: Int, name: String, tasks: Int, wallSec: Double, cpuSec: Double)

  /** Counter values at one instant; `later - earlier` is the window
    * between two snapshots, its `stageRows` the stages completed in it. */
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
                            deserCpuNs: Long, shuffleWriteBytes: Long,
                            shuffleWriteRecords: Long, shuffleReadBytes: Long,
                            memorySpillBytes: Long, diskSpillBytes: Long,
                            stageRows: Vector[StageRow]) {
    def taskCpuSec: Double = (cpuNs + deserCpuNs) / 1e9

    def -(earlier: Snapshot): Snapshot = Snapshot(
      jobs - earlier.jobs, stages - earlier.stages, tasks - earlier.tasks,
      cpuNs - earlier.cpuNs, deserCpuNs - earlier.deserCpuNs,
      shuffleWriteBytes - earlier.shuffleWriteBytes,
      shuffleWriteRecords - earlier.shuffleWriteRecords,
      shuffleReadBytes - earlier.shuffleReadBytes,
      memorySpillBytes - earlier.memorySpillBytes,
      diskSpillBytes - earlier.diskSpillBytes,
      stageRows.drop(earlier.stageRows.size))
  }
}
