package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._

/** Spark execution counters, summed over every job the session runs
  * while the listener is registered. Job, stage and task counts do not
  * depend on the host; the byte and CPU-time counters do. */
final class SparkCounters extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val inputBytes = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val cpuNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  /** The counters as (name, value) pairs; times in seconds. */
  def snapshot: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.get.toDouble,
    "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "input_bytes" -> inputBytes.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble,
    "cpu_s" -> cpuNs.get / 1e9)
}
