package graft.io

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.{SparkContext, Success}

/** A13 perf-log sink: the reference's PerformanceTracker
  * (scraper/performance_tracker.py:95-158) re-expressed on Spark's
  * listener bus. The unit of work there is one HTTP request; here it is
  * one task — the engine's own retry/speculation machinery plays the
  * role of the reference's per-request retries.
  *
  * Counters accumulate lock-free on the listener thread; `logLine`
  * renders the reference's progress JSON (processed / successful /
  * failed / retried / speed + memory), `summaryLine` its end-of-run
  * pipe table. Attach with [[PerfTracker.install]]; dump JSON lines to
  * a file with [[writeLog]].
  */
class PerfTracker(sc: SparkContext) extends SparkListener {

  private val startedAtMs = System.currentTimeMillis()
  private val processed = new LongAdder
  private val successful = new LongAdder
  private val failed = new LongAdder
  private val retried = new LongAdder
  private val recordsRead = new LongAdder
  private val recordsWritten = new LongAdder
  private val bytesRead = new LongAdder
  private val bytesWritten = new LongAdder
  private val executorRunTimeMs = new LongAdder
  private val jvmGcTimeMs = new LongAdder
  private val shuffleBytesRead = new LongAdder
  private val shuffleBytesWritten = new LongAdder
  private val spilledBytes = new LongAdder
  private val peakTaskMemory = new AtomicLong(0L)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    processed.increment()
    if (taskEnd.reason == Success) successful.increment() else failed.increment()
    if (taskEnd.taskInfo != null && taskEnd.taskInfo.attemptNumber > 0)
      retried.increment()
    val m = taskEnd.taskMetrics
    if (m != null) {
      recordsRead.add(m.inputMetrics.recordsRead)
      recordsWritten.add(m.outputMetrics.recordsWritten)
      bytesRead.add(m.inputMetrics.bytesRead)
      bytesWritten.add(m.outputMetrics.bytesWritten)
      executorRunTimeMs.add(m.executorRunTime)
      jvmGcTimeMs.add(m.jvmGCTime)
      shuffleBytesRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleBytesWritten.add(m.shuffleWriteMetrics.bytesWritten)
      spilledBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakTaskMemory.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  case class Snapshot(
      elapsedSec: Double, processed: Long, successful: Long, failed: Long,
      retried: Long, speed: Double, recordsRead: Long, recordsWritten: Long,
      bytesRead: Long, bytesWritten: Long, executorRunTimeMs: Long,
      jvmGcTimeMs: Long, shuffleBytesRead: Long, shuffleBytesWritten: Long,
      spilledBytes: Long, peakTaskMemoryBytes: Long, jvmHeapUsedMb: Double)

  def snapshot(): Snapshot = {
    val elapsed = math.max(1e-9, (System.currentTimeMillis() - startedAtMs) / 1e3)
    val p = processed.sum()
    val rt = Runtime.getRuntime
    Snapshot(elapsed, p, successful.sum(), failed.sum(), retried.sum(),
      p / elapsed, recordsRead.sum(), recordsWritten.sum(), bytesRead.sum(),
      bytesWritten.sum(), executorRunTimeMs.sum(), jvmGcTimeMs.sum(),
      shuffleBytesRead.sum(), shuffleBytesWritten.sum(), spilledBytes.sum(),
      peakTaskMemory.get(),
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0)
  }

  // Locale.ROOT: the default locale may render decimals with a comma
  // (de_DE, ru_RU, …), which would corrupt the JSON
  private def fmt(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern,
      args.map(_.asInstanceOf[AnyRef]): _*)

  /** One JSON perf-log line (the reference's debug-channel record). */
  def logLine(): String = {
    val s = snapshot()
    fmt("""{"elapsed_sec":%.3f,"processed":%d,"successful":%d,""" +
      """"failed":%d,"retried":%d,"speed":%.2f,"records_read":%d,""" +
      """"records_written":%d,"bytes_read":%d,"bytes_written":%d,""" +
      """"executor_run_time_ms":%d,"jvm_gc_time_ms":%d,""" +
      """"shuffle_bytes_read":%d,"shuffle_bytes_written":%d,""" +
      """"spilled_bytes":%d,"peak_task_memory_bytes":%d,""" +
      """"jvm_heap_used_mb":%.1f}""",
      s.elapsedSec, s.processed, s.successful, s.failed, s.retried,
      s.speed, s.recordsRead, s.recordsWritten, s.bytesRead,
      s.bytesWritten, s.executorRunTimeMs, s.jvmGcTimeMs,
      s.shuffleBytesRead, s.shuffleBytesWritten, s.spilledBytes,
      s.peakTaskMemoryBytes, s.jvmHeapUsedMb)
  }

  /** The reference's progress pipe table, task-denominated. */
  def summaryLine(): String = {
    val s = snapshot()
    fmt("%7d|%7d|%7d|%7d|%10.2f|%9.1f", s.processed, s.successful,
      s.failed, s.retried, s.speed, s.jvmHeapUsedMb)
  }

  /** Listener delivery is asynchronous; block until the listener bus
    * has delivered every event posted so far, so an end-of-run snapshot
    * includes the finished jobs' task events. */
  def awaitQuiesce(): Unit = GraftBridge.drainListeners(sc)

  /** Append the current perf line to a local JSON-lines log. */
  def writeLog(path: String): Unit = {
    val w = new java.io.FileWriter(path, true)
    try w.write(logLine() + "\n") finally w.close()
  }
}

object PerfTracker {
  /** Attach a fresh tracker to the session's listener bus. */
  def install(spark: SparkSession): PerfTracker = {
    val t = new PerfTracker(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }
}
