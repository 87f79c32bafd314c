package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Listener side of the traced run. Everything posted while one window
  * (a query, its reset, or harness work) is open lands in that window's
  * [[Window]]; the main thread drains the bus before it calls [[take]], so
  * no event crosses a window boundary. Times stay in the listener's epoch
  * milliseconds; the main thread maps them onto its nanosecond clock. */
final class Probe extends SparkListener {
  final class Window {
    val jobs = mutable.LinkedHashMap.empty[Int, Array[Long]]   // id -> [startMs, endMs]
    val stages = mutable.ArrayBuffer.empty[Array[Long]]         // [jobId, submitMs, doneMs]
    val stageJob = mutable.Map.empty[Int, Int]
    val stageOut = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val c = mutable.LinkedHashMap[String, Long](
      "tasks" -> 0L, "task_run_ms" -> 0L, "task_cpu_ns" -> 0L, "sched_delay_ms" -> 0L,
      "gc_ms" -> 0L, "shuffle_write_b" -> 0L, "shuffle_read_b" -> 0L, "spill_b" -> 0L,
      "input_rows" -> 0L, "input_b" -> 0L, "write_b" -> 0L, "write_rows" -> 0L,
      "write_stage_ms" -> 0L, "spool_blocks" -> 0L, "spool_peak_b" -> 0L, "leftover_blocks" -> 0L)
    private[Probe] val stored = mutable.Set.empty[String]
  }

  @volatile private var cur = new Window
  // RDD blocks the open window stored and still holds: id -> bytes. Blocks
  // dropped by unpersist() post no update, so this can only overstate.
  private val held = mutable.Map.empty[String, Long]

  /** Close the open window and start a fresh one. Call only after draining
    * the listener bus. */
  def take(): Window = synchronized {
    val w = cur
    cur = new Window
    held.clear()
    w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs(e.jobId) = Array(e.time, e.time)
    e.stageIds.foreach(cur.stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobs.get(e.jobId).foreach(_(1) = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (sub <- s.submissionTime; done <- s.completionTime) {
      cur.stages += Array(cur.stageJob.getOrElse(s.stageId, -1).toLong, sub, done)
      if (cur.stageOut(s.stageId) > 0) cur.c("write_stage_ms") += done - sub
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val c = cur.c
    c("tasks") += 1
    if (m != null) {
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      c("task_run_ms") += m.executorRunTime
      c("task_cpu_ns") += m.executorCpuTime
      c("sched_delay_ms") += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
      c("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("input_rows") += m.inputMetrics.recordsRead
      c("input_b") += m.inputMetrics.bytesRead
      c("write_b") += m.outputMetrics.bytesWritten
      c("write_rows") += m.outputMetrics.recordsWritten
      cur.stageOut(e.stageId) += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      val size = b.memSize + b.diskSize
      if (b.storageLevel.isValid && size > 0) {
        held(id) = size
        cur.stored += id
        cur.c("spool_blocks") = cur.stored.size.toLong
        cur.c("spool_peak_b") = math.max(cur.c("spool_peak_b"), held.values.sum)
      } else held.remove(id)
    }
  }
}
